"""MetroHash64 — scalar and vectorized (numpy) implementations.

The reference filter hashes every key with 64-bit MetroHash, seed 1337
(reference: cuckoofilter.go:99 ``metro.Hash64(item, 1337)``; algorithm:
vendor/github.com/dgryski/go-metro/metro64.go:10-84, itself a port of
J. Andrew Rogers' public MetroHash64_2). Index/tag derivation:
cuckoofilter.go:89-108.

Two implementations:

* :func:`metro64` — pure-Python scalar, a faithful re-derivation of the
  published algorithm. Used as the parity oracle in tests and for
  driver-side one-off hashing.
* :func:`metro64_flat` — numpy-vectorized over a batch of
  variable-length byte strings laid end to end (Arrow's offsets + data
  layout). The 32-byte block recurrence runs batched across all rows
  that still have blocks left, and the tail branches (16/8/4/2/1 bytes)
  are applied to the rows whose length has that bit. No per-row Python
  in the hot loop and no padded per-row copy: memory is O(key bytes).

:func:`metro64_keys` is the membership-key entry point every build,
probe, router and delete shares: it cleans a key batch (NULLs out,
integral identity restored) straight from its Arrow buffers and hashes
it. :func:`metro64_batch` is the raw mapping (no NULL handling) the
sketches use.

Both hashes are implemented from the published algorithm description;
the test suite pins ``metro64_batch == metro64`` across lengths 0..200.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

_K0 = 0xD6D018F5
_K1 = 0xA2AA033B
_K2 = 0x62992FC1
_K3 = 0x30BC5B29
_MASK64 = (1 << 64) - 1

DEFAULT_SEED = 1337  # cuckoofilter.go:99


def _rotr(x: int, r: int) -> int:
    return ((x >> r) | (x << (64 - r))) & _MASK64


def metro64(data: bytes, seed: int = DEFAULT_SEED) -> int:
    """Scalar MetroHash64 (seed defaults to the filter's 1337)."""
    h = ((seed + _K2) * _K0) & _MASK64
    n = len(data)
    off = 0

    if n >= 32:
        v0 = v1 = v2 = v3 = h
        while n - off >= 32:
            v0 = (v0 + int.from_bytes(data[off : off + 8], "little") * _K0) & _MASK64
            v0 = (_rotr(v0, 29) + v2) & _MASK64
            v1 = (v1 + int.from_bytes(data[off + 8 : off + 16], "little") * _K1) & _MASK64
            v1 = (_rotr(v1, 29) + v3) & _MASK64
            v2 = (v2 + int.from_bytes(data[off + 16 : off + 24], "little") * _K2) & _MASK64
            v2 = (_rotr(v2, 29) + v0) & _MASK64
            v3 = (v3 + int.from_bytes(data[off + 24 : off + 32], "little") * _K3) & _MASK64
            v3 = (_rotr(v3, 29) + v1) & _MASK64
            off += 32
        v2 ^= (_rotr(((v0 + v3) * _K0 + v1) & _MASK64, 37) * _K1) & _MASK64
        v3 ^= (_rotr(((v1 + v2) * _K1 + v0) & _MASK64, 37) * _K0) & _MASK64
        v0 ^= (_rotr(((v0 + v2) * _K0 + v3) & _MASK64, 37) * _K1) & _MASK64
        v1 ^= (_rotr(((v1 + v3) * _K1 + v2) & _MASK64, 37) * _K0) & _MASK64
        h = (h + (v0 ^ v1)) & _MASK64

    if n - off >= 16:
        v0 = (h + int.from_bytes(data[off : off + 8], "little") * _K2) & _MASK64
        v0 = (_rotr(v0, 29) * _K3) & _MASK64
        v1 = (h + int.from_bytes(data[off + 8 : off + 16], "little") * _K2) & _MASK64
        v1 = (_rotr(v1, 29) * _K3) & _MASK64
        v0 ^= (_rotr((v0 * _K0) & _MASK64, 21) + v1) & _MASK64
        v1 ^= (_rotr((v1 * _K3) & _MASK64, 21) + v0) & _MASK64
        h = (h + v1) & _MASK64
        off += 16

    if n - off >= 8:
        h = (h + int.from_bytes(data[off : off + 8], "little") * _K3) & _MASK64
        off += 8
        h ^= (_rotr(h, 55) * _K1) & _MASK64

    if n - off >= 4:
        h = (h + int.from_bytes(data[off : off + 4], "little") * _K3) & _MASK64
        h ^= (_rotr(h, 26) * _K1) & _MASK64
        off += 4

    if n - off >= 2:
        h = (h + int.from_bytes(data[off : off + 2], "little") * _K3) & _MASK64
        off += 2
        h ^= (_rotr(h, 48) * _K1) & _MASK64

    if n - off >= 1:
        h = (h + data[off] * _K3) & _MASK64
        h ^= (_rotr(h, 37) * _K1) & _MASK64

    h ^= _rotr(h, 28)
    h = (h * _K0) & _MASK64
    h ^= _rotr(h, 29)
    return h


# ---------------------------------------------------------------------------
# Vectorized implementation
# ---------------------------------------------------------------------------

_U64 = np.uint64
_NK0 = _U64(_K0)
_NK1 = _U64(_K1)
_NK2 = _U64(_K2)
_NK3 = _U64(_K3)


def _rotr_np(x: np.ndarray, r: int) -> np.ndarray:
    r_ = _U64(r)
    l_ = _U64(64 - r)
    return (x >> r_) | (x << l_)


def _as_arrow(items) -> pa.Array:
    """A key batch as one ``pa.Array``: Arrow arrays pass through
    (chunked ones are combined), a pandas Series converts with pandas'
    NULL semantics (None and NaN become NULL), anything else goes
    through ``pa.array``."""
    if isinstance(items, pa.ChunkedArray):
        return items.combine_chunks()
    if isinstance(items, pa.Array):
        return items
    if isinstance(items, pd.Series):
        arr = pa.Array.from_pandas(items)
        return arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    return pa.array(list(items))


def _arrow_flat_bytes(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(flat uint8 bytes, per-row lengths) read from an Arrow array's
    own buffers. Integers are 8-byte little-endian ``<i8``, floats
    ``<f8``; strings and binaries are their data bytes, located through
    the offsets buffer, so rows stay end to end with no per-row Python.
    A NULL slot yields whatever its buffers hold; callers that must
    exclude NULLs drop those rows' hashes."""
    typ = arr.type
    if pa.types.is_integer(typ) or pa.types.is_floating(typ):
        vals = (arr.fill_null(0) if arr.null_count else arr).to_numpy(
            zero_copy_only=False)
        wide = vals.astype("<i8" if pa.types.is_integer(typ) else "<f8",
                           copy=False)
        return (np.ascontiguousarray(wide).view(np.uint8),
                np.full(len(arr), 8, dtype=np.int64))
    if pa.types.is_string(typ) or pa.types.is_binary(typ):
        odt = np.int32
    elif pa.types.is_large_string(typ) or pa.types.is_large_binary(typ):
        odt = np.int64
    else:
        arr = arr.cast(pa.large_binary())
        odt = np.int64
    bufs = arr.buffers()
    off0 = arr.offset
    offsets = np.frombuffer(bufs[1], dtype=odt, count=len(arr) + 1 + off0)[off0:]
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
    lens = (offsets[1:] - offsets[:-1]).astype(np.int64)
    return data[int(offsets[0]):int(offsets[-1])], lens


def to_flat_bytes(items) -> tuple[np.ndarray, np.ndarray]:
    """Normalize a batch of keys to (flat uint8 array, per-row lengths).

    Accepts: pandas Series of str/bytes, pyarrow String/Binary arrays,
    list/ndarray of bytes. Uses Arrow buffers so the hot path does not
    touch per-row Python objects."""
    try:
        arr = _as_arrow(items)
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        # fall back: list of bytes objects
        lens = np.fromiter((len(b) for b in items), dtype=np.int64)
        flat = np.frombuffer(b"".join(items), dtype=np.uint8)
        return flat, lens
    if arr.null_count and (pa.types.is_integer(arr.type)
                           or pa.types.is_floating(arr.type)):
        raise ValueError("null keys are not supported")
    return _arrow_flat_bytes(arr)


def metro64_batch(items, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Vectorized MetroHash64 over a batch of byte strings → uint64[n]."""
    flat, lens = to_flat_bytes(items)
    return metro64_flat(flat, lens, seed)


def fmix64(x: np.ndarray, seed=0) -> np.ndarray:
    """Murmur3 fmix64 finalizer over uint64 arrays — the ONE bit mixer
    shared by the count-min row hashing and the shingle rolling hash
    (two hand-copies drifted-by-spelling before; identical math)."""
    z = x ^ (np.uint64(seed) if isinstance(seed, int) else seed)
    z = (z ^ (z >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
    z = (z ^ (z >> np.uint64(29))) * np.uint64(0xC4CEB9FE1A85EC53)
    return z ^ (z >> np.uint64(32))


def _integral_int64(v: np.ndarray) -> np.ndarray:
    """float64 key values → int64, or raise — the float-key rules of
    :func:`canon_int_keys`, shared with :func:`metro64_keys`."""
    if not (np.isfinite(v).all() and (v == np.floor(v)).all()):
        raise TypeError(
            "canon_int_keys: non-integral float key batch — float "
            "keys are not supported as membership keys (their hash "
            "identity would depend on batch composition); cast to a "
            "stable string/integral form first")
    if (np.abs(v) > 2.0 ** 53).any():
        raise ValueError(
            "canon_int_keys: integral key batch beyond float64's "
            "exact-integer range (|key| > 2^53) arrived as float64 "
            "(Arrow renders null-bearing bigint batches as float64) "
            "— the original values are already lost, so restoring "
            "int64 would silently mis-hash; CAST the key to STRING "
            "or drop NULLs JVM-side so batches stay int64")
    return v.astype(np.int64)


def canon_int_keys(vals):
    """Canonical dtype for KEY hashing of a pandas batch.

    Arrow hands a bigint column's null-BEARING batches to pandas as
    float64 — so after the standard null exclusion the SAME key would
    hash as 8 ``<f8`` bytes in one batch and 8 ``<i8`` bytes in another,
    silently splitting fingerprint identity between build and probe
    (exact-anti-join FALSE NEGATIVES). A float batch whose values are
    all integral is therefore restored to int64 before hashing.

    Fail-loud hardening (ADVICE r6): float keys are NOT supported as
    membership keys, and the two silent failure modes now raise —

    * a non-integral float batch means the caller really passed float
      keys; the old behavior hashed them with batch-composition-
      DEPENDENT identity ([2.0] restored to int64, [2.0, 2.5] left
      float64) — a silent cross-batch identity split;
    * an integral batch with magnitudes beyond float64's exact-integer
      range (2^53) means Arrow's float64 rendering already LOST the
      original int64 values (e.g. a bigint column holding 64-bit
      fingerprints with interleaved NULL batches) — the restored int64
      would be silently wrong. Hash such columns as strings
      (``CAST(key AS STRING)`` — the streaming paths' convention) or
      exclude NULLs JVM-side so batches stay int64 end-to-end."""
    if getattr(vals, "dtype", None) is not None and vals.dtype.kind == "f" \
            and len(vals):
        _integral_int64(vals.to_numpy())
        return vals.astype("int64")
    return vals


def metro64_keys(items, seed: int = DEFAULT_SEED) -> tuple[np.ndarray, np.ndarray]:
    """(metro64 of the non-NULL keys in row order, validity bool[n]) —
    THE key cleaning every membership build, probe, shard router and
    delete shares, read straight from the batch's Arrow buffers:

    * NULL keys are dropped through the validity bitmap (a NULL string
      slot would otherwise alias ``''``); float NaN counts as NULL, as
      it does in pandas;
    * strings and binaries hash their bytes (offsets + data buffers);
    * integers of any width hash as 8-byte ``<i8``;
    * floats follow :func:`canon_int_keys`: integral values hash as the
      int64 they render (a bigint column's NULL-bearing batches reach
      pandas as float64), non-integral values or values beyond 2^53
      raise.

    Accepts ``pa.Array``/``pa.ChunkedArray`` (Arrow UDFs and
    ``mapInArrow``) and pandas Series (converted to Arrow, so both
    paths share this one definition)."""
    arr = _as_arrow(items)
    valid = (np.ones(len(arr), dtype=bool) if arr.null_count == 0
             else arr.is_valid().to_numpy(zero_copy_only=False))
    if pa.types.is_floating(arr.type):
        v = arr.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
        valid &= ~np.isnan(v)
        wide = _integral_int64(v[valid])
        return (metro64_flat(wide.view(np.uint8),
                             np.full(len(wide), 8, dtype=np.int64), seed),
                valid)
    h = metro64_flat(*_arrow_flat_bytes(arr), seed)
    return (h if len(h) == int(valid.sum()) else h[valid]), valid


# --- xxHash64 of a single 64-bit word ---------------------------------------
# Shard-id derivation needs a hash INDEPENDENT of the filter hash whose
# bits feed bucket index (hi32) and tag (lo32): taking shard bits from
# the same word confines each shard's index space to a slice once
# log2(S) + log2(num_buckets) > 32 (ADVICE r3). This is xxHash64 for an
# 8-byte input, from the published spec (Yann Collet, BSD) — the same
# specialization Spark's XXH64.hashLong implements — with Spark's
# default seed 42, so F.xxhash64(<long col>) is the JVM-side equivalent
# (parity pinned by test_sharded.test_shard_hash_jvm_parity).

_XP1 = np.uint64(0x9E3779B185EBCA87)
_XP2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XP3 = np.uint64(0x165667B19E3779F9)
_XP4 = np.uint64(0x85EBCA77C2B2AE63)
_XP5 = np.uint64(0x27D4EB2F165667C5)
SPARK_XXHASH64_SEED = 42


def _rotl_np(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxh64_long_batch(h: np.ndarray, seed: int = SPARK_XXHASH64_SEED) -> np.ndarray:
    """uint64[n] → uint64[n]: xxHash64 of each 64-bit word (8-byte-input
    specialization; matches Spark's ``xxhash64`` over a long column at
    the default seed)."""
    h = h.astype(np.uint64, copy=False)
    acc = np.uint64((seed + 0x27D4EB2F165667C5 + 8) & _MASK64)
    out = acc ^ (_rotl_np(h * _XP2, 31) * _XP1)
    out = _rotl_np(out, 27) * _XP1 + _XP4
    out ^= out >> np.uint64(33)
    out *= _XP2
    out ^= out >> np.uint64(29)
    out *= _XP3
    out ^= out >> np.uint64(32)
    return out


def metro64_flat(flat: np.ndarray, lens: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    """MetroHash64 of each row of a flat byte run (row i is the next
    ``lens[i]`` bytes) → uint64[n].

    Every word is read in place: ONE copy of ``flat`` with a zero tail
    is viewed as overlapping little-endian u64 words at a 1-byte stride,
    so the word at any byte offset is a single gather (no per-row pad
    buffer; memory is O(total key bytes) whatever the longest key).
    Words that run past a row's end are masked to the bytes the tail
    branch reads."""
    n = len(lens)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    lens = np.asarray(lens, dtype=np.int64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    total = int(starts[-1] + lens[-1])
    buf = np.zeros(total + 8, dtype=np.uint8)  # the zero tail keeps every
    buf[:total] = np.asarray(flat).reshape(-1)[:total]  # read in bounds
    words = np.ndarray((total + 1,), dtype="<u8", buffer=buf, strides=(1,))

    h = np.full(n, (((seed + _K2) * _K0) & _MASK64), dtype=np.uint64)

    # --- 32-byte block loop, batched across rows that still have blocks ---
    rows = np.flatnonzero(lens >= 32)
    if len(rows):
        nblocks = lens[rows] >> 5
        maxb = int(nblocks.max())
        hr = h[rows]
        if maxb == 1:
            # url-length fast path: every block row has exactly one block
            o = starts[rows]
            v0 = _rotr_np(hr + words[o] * _NK0, 29) + hr
            v1 = _rotr_np(hr + words[o + 8] * _NK1, 29) + hr
            v2 = _rotr_np(hr + words[o + 16] * _NK2, 29) + v0
            v3 = _rotr_np(hr + words[o + 24] * _NK3, 29) + v1
        else:
            # rows in descending block count: the rows still active in
            # round k are a prefix, updated in place through slices
            order = np.argsort(-nblocks, kind="stable")
            rows, nblocks, hr = rows[order], nblocks[order], hr[order]
            active = np.searchsorted(-nblocks, -np.arange(maxb), side="left")
            base = starts[rows]
            v0, v1, v2, v3 = hr.copy(), hr.copy(), hr.copy(), hr.copy()
            for k in range(maxb):
                a = int(active[k])
                o = base[:a] + 32 * k
                x0, x1, x2, x3 = v0[:a], v1[:a], v2[:a], v3[:a]
                x0[:] = _rotr_np(x0 + words[o] * _NK0, 29) + x2
                x1[:] = _rotr_np(x1 + words[o + 8] * _NK1, 29) + x3
                x2[:] = _rotr_np(x2 + words[o + 16] * _NK2, 29) + x0
                x3[:] = _rotr_np(x3 + words[o + 24] * _NK3, 29) + x1
        v2 = v2 ^ (_rotr_np((v0 + v3) * _NK0 + v1, 37) * _NK1)
        v3 = v3 ^ (_rotr_np((v1 + v2) * _NK1 + v0, 37) * _NK0)
        v0 = v0 ^ (_rotr_np((v0 + v2) * _NK0 + v3, 37) * _NK1)
        v1 = v1 ^ (_rotr_np((v1 + v3) * _NK1 + v2, 37) * _NK0)
        h[rows] = hr + (v0 ^ v1)

    # --- tails: rem = len % 32 bytes after the blocks; each branch
    # applies to the rows whose rem has that bit ---
    rem = lens & 31
    off = starts + (lens - rem)

    r = np.flatnonzero(rem & 16)
    if len(r):
        o = off[r]
        v0 = _rotr_np(h[r] + words[o] * _NK2, 29) * _NK3
        v1 = _rotr_np(h[r] + words[o + 8] * _NK2, 29) * _NK3
        v0 = v0 ^ (_rotr_np(v0 * _NK0, 21) + v1)
        v1 = v1 ^ (_rotr_np(v1 * _NK3, 21) + v0)
        h[r] = h[r] + v1
        off[r] += 16

    r = np.flatnonzero(rem & 8)
    if len(r):
        x = h[r] + words[off[r]] * _NK3
        h[r] = x ^ (_rotr_np(x, 55) * _NK1)
        off[r] += 8

    r = np.flatnonzero(rem & 4)
    if len(r):
        x = h[r] + (words[off[r]] & _U64(0xFFFFFFFF)) * _NK3
        h[r] = x ^ (_rotr_np(x, 26) * _NK1)
        off[r] += 4

    r = np.flatnonzero(rem & 2)
    if len(r):
        x = h[r] + (words[off[r]] & _U64(0xFFFF)) * _NK3
        h[r] = x ^ (_rotr_np(x, 48) * _NK1)
        off[r] += 2

    r = np.flatnonzero(rem & 1)
    if len(r):
        x = h[r] + (words[off[r]] & _U64(0xFF)) * _NK3
        h[r] = x ^ (_rotr_np(x, 37) * _NK1)

    h = h ^ _rotr_np(h, 28)
    h = h * _NK0
    h = h ^ _rotr_np(h, 29)
    return h
