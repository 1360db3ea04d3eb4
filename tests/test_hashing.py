"""Vectorized metro64 == scalar metro64 across lengths (SURVEY.md §5.2)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from cuckoo_filter_spark.hashing import metro64, metro64_batch, to_flat_bytes


def test_scalar_known_lengths():
    # deterministic smoke: same input twice → same hash; different → differ
    assert metro64(b"hello") == metro64(b"hello")
    assert metro64(b"hello") != metro64(b"hellp")
    assert metro64(b"", 0) == metro64(b"", 0)


@pytest.mark.parametrize("length", [0, 1, 2, 3, 4, 7, 8, 9, 15, 16, 17, 24, 31, 32, 33,
                                    48, 63, 64, 65, 100, 127, 128, 200])
def test_vectorized_matches_scalar_fixed_length(length, rng):
    keys = [rng.bytes(length) for _ in range(64)]
    expected = np.array([metro64(k) for k in keys], dtype=np.uint64)
    got = metro64_batch(keys)
    assert np.array_equal(got, expected), f"mismatch at length {length}"


def test_vectorized_matches_scalar_mixed_lengths(rng):
    keys = [rng.bytes(int(l)) for l in rng.integers(0, 150, size=500)]
    expected = np.array([metro64(k) for k in keys], dtype=np.uint64)
    got = metro64_batch(keys)
    assert np.array_equal(got, expected)


def test_vectorized_seed_variation(rng):
    keys = [rng.bytes(32) for _ in range(16)]
    a = metro64_batch(keys, seed=1337)
    b = metro64_batch(keys, seed=1338)
    assert not np.array_equal(a, b)
    expected = np.array([metro64(k, 1338) for k in keys], dtype=np.uint64)
    assert np.array_equal(b, expected)


def test_to_flat_bytes_pandas_strings():
    import pandas as pd

    s = pd.Series(["hello", "", "wörld", "x" * 100])
    flat, lens = to_flat_bytes(s)
    parts = [b.encode("utf-8") for b in s]
    assert list(lens) == [len(p) for p in parts]
    assert flat.tobytes() == b"".join(parts)


def test_to_flat_bytes_arrow_sliced():
    import pyarrow as pa

    arr = pa.array(["aaa", "bb", "c", "dddd"]).slice(1, 2)
    flat, lens = to_flat_bytes(arr)
    assert list(lens) == [2, 1]
    assert flat.tobytes() == b"bbc"


def test_batch_matches_scalar_on_pandas_strings():
    import pandas as pd

    s = pd.Series([f"https://host{i}.example.com/p/{i*7}" for i in range(100)])
    got = metro64_batch(s)
    expected = np.array([metro64(x.encode()) for x in s], dtype=np.uint64)
    assert np.array_equal(got, expected)


def test_metro64_flat_long_outlier_parity_and_memory():
    """One 1 MiB key among 10k short ones: every hash matches the scalar
    reference, and the kernel's peak allocation stays O(total key
    bytes) — no per-row padding to the longest key."""
    import tracemalloc

    from cuckoo_filter_spark.hashing import metro64_flat

    rng = np.random.default_rng(3)
    keys = [rng.bytes(int(n)) for n in rng.integers(0, 80, size=10_000)]
    keys.insert(4321, rng.bytes(1 << 20))
    flat, lens = to_flat_bytes(keys)
    tracemalloc.start()
    try:
        got = metro64_flat(flat, lens)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    want = np.array([metro64(k) for k in keys], dtype=np.uint64)
    assert np.array_equal(got, want)
    assert peak < 4 * flat.nbytes, (peak, flat.nbytes)


def _scalar_key_hashes(values):
    """Reference key identity: strings as UTF-8, bytes as-is, integers
    (and integral floats) as 8-byte little-endian int64."""
    def enc(v):
        if isinstance(v, str):
            return v.encode("utf-8")
        if isinstance(v, bytes):
            return v
        return int(v).to_bytes(8, "little", signed=True)

    return np.array([metro64(enc(v)) for v in values], dtype=np.uint64)


@pytest.mark.parametrize("arrow, pandas_, members", [
    (pa.array(["a", None, "", "wörld"]), pd.Series(["a", None, "", "wörld"]),
     ["a", "", "wörld"]),
    (pa.array([b"\x00x", None, b""], pa.binary()),
     pd.Series([b"\x00x", None, b""], dtype=object), [b"\x00x", b""]),
    (pa.array([7, None, -3], pa.int32()), pd.Series([7, None, -3], dtype="Int32"),
     [7, -3]),
    # a bigint column's NULL-bearing batch reaches pandas as float64
    (pa.array([2**52, None, -5], pa.int64()), pd.Series([2.0**52, np.nan, -5.0]),
     [2**52, -5]),
    (pa.array([1.0, 4.0, None]), pd.Series([1.0, 4.0, None]), [1, 4]),
], ids=["string", "binary", "int32", "int64_nulls", "integral_float"])
def test_metro64_keys_arrow_and_pandas_identity(arrow, pandas_, members):
    from cuckoo_filter_spark.hashing import metro64_keys

    ha, va = metro64_keys(arrow)
    hp, vp = metro64_keys(pandas_)
    assert va.tolist() == vp.tolist() == [x is not None for x in arrow.to_pylist()]
    assert np.array_equal(ha, _scalar_key_hashes(members))
    assert np.array_equal(hp, ha)


def test_metro64_keys_null_never_aliases_empty():
    from cuckoo_filter_spark.hashing import metro64_keys

    for keys in (pa.array([None, ""]), pd.Series([None, ""]),
                 pa.array(["x", None, ""]).slice(1)):
        h, valid = metro64_keys(keys)
        assert valid.tolist() == [False, True]
        assert h.tolist() == [metro64(b"")]


@pytest.mark.parametrize("keys", [
    pa.array([1.0, 2.5]), pd.Series([1.0, 2.5]),
    pa.array([2.5, None]), pd.Series([2.5, np.nan]),
])
def test_metro64_keys_non_integral_floats_raise(keys):
    from cuckoo_filter_spark.hashing import metro64_keys

    with pytest.raises(TypeError, match="non-integral float"):
        metro64_keys(keys)
