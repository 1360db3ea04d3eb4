"""Sharded cuckoo filters — the beyond-memory / fully-distributed path
(SURVEY.md §4.3, build plan M5).

A single filter for 10^12 keys does not fit one process (f=16, b=4 →
~2 TB of table), and a single combiner is an Amdahl bottleneck. The
sharded build keeps everything distributed:

* shard id = top log2(S) bits of an independent re-hash (xxh64) of the
  shared metro64 hash — independent of the bits used for bucket index
  (hi32) and tag (lo32), so per-shard index/tag distributions stay
  uniform at ANY shard count × table size (top-of-the-same-word shard
  bits would collide with index bits once log2(S)+log2(nb) > 32 and
  strand most buckets — ADVICE r3).
* build: mapInArrow fingerprints each scan partition straight from its
  Arrow key buffers and emits one packed (bucket, tag) pair blob per
  (partition, shard); a single shuffle places pair blobs by shard id
  (``combine_shards``), and each combine task runs the kick loop for
  its shards one at a time → one filter blob row per shard. Shuffle
  volume is 8 bytes/key regardless of table size.
* query: with a modest shard count the blobs are collected + broadcast
  and probes route by shard inside the UDF; at full scale use
  ``sharded_might_contain_join`` which co-partitions the probe side with
  the blob rows instead of broadcasting (one shuffle of the probe keys,
  no driver materialization).

Each shard is an independent reference-layout filter (§1.5 bytes), so
all single-filter semantics (merge, delete, serialization, FP bounds)
apply per shard.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
# pyarrow at module scope: arrow_udf resolves the postponed pa.Array
# type hints against these globals
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from cuckoo_filter_spark.hashing import metro64_keys
from cuckoo_filter_spark.kernel.filter import CuckooKernel, CuckooProbe
from cuckoo_filter_spark.operators.build import (
    DEFAULT_HEADROOM,
    canon_dedupe_pairs,
    pack_pairs,
    unpack_pairs,
)
from cuckoo_filter_spark.params import TABLE_SINGLE, CuckooParams

# Pair rows (one per (partition, shard)) and filter rows (one per shard)
# as the Arrow schemas the emitter and combiner exchange; PAIRS_SCHEMA
# and SHARD_SCHEMA are the same schemas in Spark's terms.
_PAIRS_ARROW = pa.schema([
    ("shard", pa.int32()), ("src_partition", pa.int32()), ("n", pa.int64()),
    ("rows", pa.int64()), ("distinct_keys", pa.int64()), ("blob", pa.binary())])
PAIRS_SCHEMA = from_arrow_schema(_PAIRS_ARROW)

# Persisted-shard format version (ADVICE r4): bump whenever a code
# change alters probe semantics for ALREADY-PERSISTED shard artifacts.
# v2 = the r4 revisions — independent xxh64 shard routing (shard_of)
# and the vacuum adaptive alt-range clamp; shard parquet written
# before r5 carries NO format_version column and fails loud instead of
# returning silent false negatives when probed with current code.
SHARD_FORMAT_VERSION = 2

_SHARD_ARROW = pa.schema([
    ("shard", pa.int32()), ("rows", pa.int64()), ("stored", pa.int64()),
    ("distinct_keys", pa.int64()), ("kicks", pa.int64()),
    ("victim_used", pa.bool_()), ("load_factor", pa.float64()),
    ("wall_ms", pa.float64()), ("blob", pa.binary()),
    ("format_version", pa.int32())])
SHARD_SCHEMA = from_arrow_schema(_SHARD_ARROW)


def check_shard_format(shards_df, where: str) -> None:
    """Fail loud when a shard frame/artifact was produced by an
    incompatible revision. One tiny distinct over the int column (at
    most num_shards rows); blobs are never touched."""
    if "format_version" not in shards_df.columns:
        raise ValueError(
            f"{where}: unversioned shard artifact (written before the "
            f"format_version column, i.e. pre-r5). Shard routing "
            f"(independent xxh64 re-hash) and vacuum alt-range "
            f"semantics changed in r4 — probing this artifact would "
            f"return silent false negatives. Rebuild the shards.")
    vs = sorted(
        r[0] for r in shards_df.select("format_version").distinct().collect())
    if vs != [SHARD_FORMAT_VERSION]:
        raise ValueError(
            f"{where}: shard format_version {vs} != "
            f"[{SHARD_FORMAT_VERSION}] — artifact written by an "
            f"incompatible library revision; rebuild the shards.")


def iter_shard_groups(shards: np.ndarray):
    """Group row indices by shard id (stable within a shard): yields
    (shard, row_indices). One stable integer argsort + boundary scan —
    the shared grouping used by the pair emitter, the probe router and
    the deferred-route explode."""
    order = np.argsort(shards, kind="stable")
    ss = shards[order]
    bounds = np.flatnonzero(np.r_[True, ss[1:] != ss[:-1]])
    bounds = np.r_[bounds, len(ss)]
    for k in range(len(bounds) - 1):
        lo, hi = bounds[k], bounds[k + 1]
        yield int(ss[lo]), order[lo:hi]


def shard_of(h: np.ndarray, num_shards: int) -> np.ndarray:
    """Shard id = top log2(S) bits of an INDEPENDENT re-hash
    (xxh64-of-word) of the filter hash — not of the filter hash itself.

    Taking shard bits directly from h collides with the index bits once
    log2(S) + log2(per-shard num_buckets) > 32 (index = hi32 masked /
    modulo): each shard's hi32 would be confined to a 2^32/S slice,
    leaving most buckets unreachable as primary and overflowing the
    per-shard combine at ~10^10+ keys (certain at the advertised 10^12,
    where S=2^17 and nb≈2^22 — ADVICE r3). Conditioning on a value of
    the independent re-hash selects a pseudorandom subset of h, so each
    shard's index/tag distribution stays uniform at ANY (S, num_buckets)
    combination."""
    from cuckoo_filter_spark.hashing import xxh64_long_batch

    if num_shards == 1:  # h >> 64 is undefined behavior in numpy/C
        return np.zeros(len(h), dtype=np.int32)
    g = xxh64_long_batch(h)
    return (g >> np.uint64(64 - int(np.log2(num_shards)))).astype(np.int32)


def _shard_expr_jvm(hcol, num_shards: int):
    """JVM-side equivalent of shard_of over an xxhash64 column:
    F.xxhash64 of the LONG hash column is Spark's XXH64.hashLong — the
    same 8-byte-input specialization xxh64_long_batch computes (parity
    pinned by test_shard_hash_jvm_parity). The shift is masked to 0 on
    the JVM for num_shards=1, so special-case."""
    if num_shards == 1:
        return F.lit(0)
    return F.shiftrightunsigned(F.xxhash64(hcol),
                                64 - int(np.log2(num_shards))).cast("int")


@dataclass
class ShardedCuckooBuild:
    params: CuckooParams  # per-shard params
    num_shards: int
    blobs: dict[int, bytes]  # shard → filter blob (driver-collected)
    metrics: list[dict] = field(default_factory=list)
    path: str | None = None  # parquet dir of shard blob rows, if persisted
    hash_fn: str = "metro64"
    # exact global COUNT(DISTINCT key) — set only by mode='unique_global'
    # builds (raw-key dedupe under repartition(key) co-location; for
    # hash_fn='xxhash64' it counts distinct 64-bit hashes, an undercount
    # with probability ~n²/2^64)
    distinct_keys: int | None = None

    def load_blobs(self, spark) -> dict[int, bytes]:
        if not self.blobs and self.path:
            self.blobs = load_sharded_blobs(spark, self.path)
        return self.blobs

    def kernels(self) -> dict[int, CuckooKernel]:
        return {s: CuckooKernel.from_bytes(b) for s, b in self.blobs.items()}

    @property
    def size(self) -> int:
        return sum(k.size() for k in self.kernels().values())

    def contain(self, items) -> np.ndarray:
        """Driver-side probe (tests / small batches). For xxhash64
        builds, pass precomputed int64 hashes via contain_hashed64."""
        if self.hash_fn == "xxhash64":
            raise ValueError("xxhash64 build: probe via sharded_might_contain_udf "
                             "or contain_hashed64")
        h, valid = metro64_keys(items)
        out = np.zeros(len(valid), dtype=bool)
        out[valid] = _probe_sharded(h, self.blobs, self.params, self.num_shards)
        return out

    def contain_hashed64(self, h: np.ndarray) -> np.ndarray:
        return _probe_sharded(h.astype(np.uint64), self.blobs, self.params,
                              self.num_shards)


_SHARD_KERNEL_CACHE: dict[tuple, CuckooProbe] = {}


def _probe_sharded(
    h: np.ndarray, blobs: dict[int, bytes], params: CuckooParams, num_shards: int,
    cache_key=None,
) -> np.ndarray:
    out = np.zeros(len(h), dtype=bool)
    if len(h) == 0:
        return out
    shards = shard_of(h, num_shards)
    for s, rows in iter_shard_groups(shards):
        blob = blobs.get(s)
        if blob is None:
            continue
        if cache_key is not None:
            ck = (cache_key, s)
            kern = _SHARD_KERNEL_CACHE.get(ck)
            if kern is None:
                if len(_SHARD_KERNEL_CACHE) > 256:  # bound executor memory
                    _SHARD_KERNEL_CACHE.clear()
                kern = CuckooProbe(bytes(blob))
                _SHARD_KERNEL_CACHE[ck] = kern
        else:
            kern = CuckooProbe(bytes(blob))
        idx, tag = params.split(h[rows])
        out[rows] = kern.contain_hashed(idx, tag)
    return out


def _pair_emitter(params: CuckooParams, key_col: str, num_shards: int, unique: bool,
                  hash_fn: str = "metro64", count_keys: bool = False):
    """mapInArrow: hash each batch's key column from its Arrow buffers,
    route keys to shards, and emit one packed (bucket, tag) pair blob
    per (partition, shard)."""

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        from cuckoo_filter_spark.operators.build import DistinctAccum, key_hashes

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        per_shard_bi: dict[int, list] = {}
        per_shard_tg: dict[int, list] = {}
        # count_keys (unique_global): dedupe RAW (shard, key) pairs —
        # under repartition(key) co-location the per-shard sums across
        # partitions are the exact global per-shard distinct counts
        # (COUNT(DISTINCT) null semantics: null keys excluded)
        seen: DistinctAccum | None = (
            DistinctAccum(dropna=False) if count_keys else None)
        rows = 0
        for batch in batches:
            col = batch.column(key_col)
            # NULL keys EXCLUDED up front (library convention) through
            # the validity bitmap; rows counts non-null keys
            h, valid = key_hashes(col, hash_fn)
            if len(h) == 0:
                continue
            rows += len(h)
            shards = shard_of(h, num_shards)
            if seen is not None:
                keys = col if len(h) == len(col) else col.filter(pa.array(valid))
                seen.add(pd.DataFrame(
                    {"__shard": shards,
                     key_col: keys.to_numpy(zero_copy_only=False)}))
            idx, tag = params.split(h)
            for s, rs in iter_shard_groups(shards):
                per_shard_bi.setdefault(s, []).append(idx[rs])
                per_shard_tg.setdefault(s, []).append(tag[rs])
        dk_by_shard: dict[int, int] = {}
        if seen is not None and len(seen):
            sizes = seen.consolidated().groupby("__shard", sort=False).size()
            dk_by_shard = {int(s): int(c) for s, c in sizes.items()}
        out = {name: [] for name in _PAIRS_ARROW.names}
        for s in sorted(per_shard_bi):
            bi = np.concatenate(per_shard_bi[s])
            tg = np.concatenate(per_shard_tg[s])
            if unique:
                bi, tg = canon_dedupe_pairs(params, bi, tg)
            out["shard"].append(s)
            out["src_partition"].append(pid)
            out["n"].append(len(bi))
            out["rows"].append(rows)
            out["distinct_keys"].append(dk_by_shard.get(s) if count_keys else None)
            out["blob"].append(pack_pairs(bi, tg))
        yield pa.RecordBatch.from_pydict(out, schema=_PAIRS_ARROW)

    return emit


def _shard_combiner(params: CuckooParams, unique: bool):
    """Grouped applyInArrow: runs the kick-loop combine over ONE shard's
    pair rows (only that shard's pairs are held) and returns its filter
    blob row. Combining in src_partition order makes the blob bytes
    deterministic."""

    def combine(pairs: pa.Table) -> pa.Table:
        t0 = time.perf_counter()
        shard = pairs.column("shard")[0].as_py()
        kern = CuckooKernel(params, seed=0x1337C0FFEE ^ shard)
        blobs = pairs.column("blob").to_pylist()
        order = np.argsort(pairs.column("src_partition").to_numpy(), kind="stable")
        bis, tgs = zip(*(unpack_pairs(blobs[i]) for i in order))
        stored = kern.insert_pairs(np.concatenate(bis), np.concatenate(tgs),
                                   dedupe=unique)
        # None when the emitter did not count raw keys (non-unique_global)
        dks = [d for d in pairs.column("distinct_keys").to_pylist() if d is not None]
        return pa.Table.from_pydict(
            {"shard": [shard], "rows": [sum(pairs.column("n").to_pylist())],
             "stored": [stored], "distinct_keys": [sum(dks) if dks else None],
             "kicks": [kern.kicks], "victim_used": [kern.victim_used],
             "load_factor": [kern.load_factor()],
             "wall_ms": [(time.perf_counter() - t0) * 1000.0],
             "blob": [kern.to_bytes()],
             "format_version": [SHARD_FORMAT_VERSION]},
            schema=_SHARD_ARROW)

    return combine


def combine_shards(pairs: DataFrame, params: CuckooParams, unique: bool,
                   num_shards: int) -> DataFrame:
    """Pair rows (PAIRS_SCHEMA) → one filter row per shard (SHARD_SCHEMA).

    Shard s is combined by task ``s mod P`` with P = min(num_shards,
    defaultParallelism): placement by shard id gives every task the same
    number of shards (within one), where hash partitioning of the ids
    does not (32 shards on 4 tasks landed 10/10/7/5). The grouping
    reuses that placement (no second shuffle) and hands the combiner one
    shard at a time."""
    p = min(num_shards, pairs.sparkSession.sparkContext.defaultParallelism)
    return (pairs.repartitionById(p, "shard").groupBy("shard")
            .applyInArrow(_shard_combiner(params, unique), SHARD_SCHEMA))


def build_sharded_cuckoo_filter(
    df,
    key_col: str,
    capacity: int | None = None,
    num_shards: int = 32,
    tags_per_bucket: int = 4,
    bits_per_item: int = 16,
    table_type: int = TABLE_SINGLE,
    mode: str = "unique_local",
    headroom: float = DEFAULT_HEADROOM,
    output_path: str | None = None,
    hash_fn: str = "metro64",
) -> ShardedCuckooBuild:
    """Fully-distributed sharded build. One shuffle (pair blobs placed
    by shard id, ``combine_shards``); the kick-loop combine runs per
    shard on executors.

    output_path: if set, shard blob rows are written to parquet by the
    executors (the 10^12 workflow — blobs never pass through the
    driver); only the small metrics columns are collected. Otherwise
    blobs are collected into the returned object (test/interactive).

    mode='unique_global' adds ONE extra shuffle — repartition(key) — so
    duplicate keys co-locate and the emitter's partition-local raw-key
    dedupe yields exact per-shard distinct counts (metrics rows gain a
    ``distinct_keys`` column; the build's ``distinct_keys`` attribute is
    their sum). The filter bytes are identical to unique_local (both
    dedupe fingerprints); only the counting differs.

    table_type=TABLE_VACUUM composes with sharding (~25-45% smaller
    shards): the shard id comes from an independent re-hash of the key
    hash (shard_of), so conditioning on a shard leaves each shard's hi32
    — and therefore the vacuum index hi32 % num_buckets — uniformly
    distributed at any (S, num_buckets) combination; there is no
    slice-confinement bias to absorb (pre-r4 top-of-hash shard bits had
    a num_buckets·S/2^32 bias that degenerated past 2^32 — ADVICE r3).
    The alternate-index XOR stays chunk-confined exactly as in the
    single-filter layout (membership parity is pinned by
    test_sharded_vacuum_*)."""
    if num_shards & (num_shards - 1) or num_shards <= 0:
        raise ValueError("num_shards must be a power of two")
    inner_hash = hash_fn
    if hash_fn == "xxhash64":
        # JVM-side hashing (whole-stage codegen): only 8-byte hashes cross
        # the Arrow bridge instead of the key bytes. Nulls are dropped
        # BEFORE hashing — F.xxhash64(NULL) returns the seed (42), a
        # non-null bigint that would slip past the emitter's notna()
        # filter and both inflate distinct_keys and store a phantom
        # fingerprint (the metro64 route's COUNT(DISTINCT) null
        # exclusion must hold on both routes)
        df = df.where(F.col(key_col).isNotNull()).select(
            F.xxhash64(key_col).alias(key_col))
        inner_hash = "__prehashed__"
    elif hash_fn != "metro64":
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    sel = df.select(key_col)
    if capacity is None:
        capacity = sel.count()
    per_shard_cap = max(int(capacity * headroom / num_shards), 64)
    params = CuckooParams.for_capacity(
        per_shard_cap, tags_per_bucket, bits_per_item, table_type
    )

    unique = mode != "multiset"
    count_keys = mode == "unique_global"
    if count_keys:
        n = df.sparkSession.sparkContext.defaultParallelism
        sel = sel.repartition(n, F.col(key_col))
    pairs = sel.mapInArrow(
        _pair_emitter(params, key_col, num_shards, unique, inner_hash,
                      count_keys=count_keys), PAIRS_SCHEMA
    )
    shards = combine_shards(pairs, params, unique, num_shards)

    if output_path is not None:
        shards.write.mode("overwrite").parquet(output_path)
        mrows = df.sparkSession.read.parquet(output_path).drop("blob").collect()
        blobs = {}
    else:
        mrows = shards.collect()
        blobs = {int(r["shard"]): bytes(r["blob"]) for r in mrows}
    metrics = [
        {k: r[k] for k in ("shard", "rows", "stored", "distinct_keys",
                           "kicks", "victim_used", "load_factor", "wall_ms")}
        for r in mrows
    ]
    dk_total = (sum(m["distinct_keys"] or 0 for m in metrics)
                if count_keys else None)
    return ShardedCuckooBuild(
        params=params, num_shards=num_shards, blobs=blobs, metrics=metrics,
        path=output_path, hash_fn=hash_fn, distinct_keys=dk_total,
    )


def load_sharded_blobs(spark, path: str) -> dict[int, bytes]:
    sdf = spark.read.parquet(path)
    check_shard_format(sdf, "load_sharded_blobs")
    rows = sdf.select("shard", "blob").collect()
    return {int(r["shard"]): bytes(r["blob"]) for r in rows}


def sharded_might_contain_join(
    probe: DataFrame,
    key_col: str,
    build: ShardedCuckooBuild,
    shards_df: DataFrame | None = None,
    flag_col: str = "might_contain",
) -> DataFrame:
    """Beyond-broadcast probe: co-partition the probe side with the shard
    blob rows (cogroup by shard id) so each task loads exactly ONE shard
    blob — no driver materialization, no broadcast. This is the probe
    path when total blob volume exceeds broadcast limits (10^11+ keys).

    Returns probe columns + a boolean ``flag_col``. One shuffle of the
    probe keys; blob rows shuffle once (they are tiny relative to 10^12
    probe rows)."""
    spark = probe.sparkSession
    if shards_df is None:
        if build.path is None:
            raise ValueError("need shards_df or a persisted build path")
        sdf = spark.read.parquet(build.path)
        check_shard_format(sdf, "sharded_might_contain_join")
        shards_df = sdf.select("shard", "blob")
    else:
        # explicitly-passed frames get the SAME guard: every legit
        # producer stamps format_version, so a frame without it is a
        # stale pre-r5 artifact (silent false negatives if probed)
        check_shard_format(shards_df, "sharded_might_contain_join")
        shards_df = shards_df.select("shard", "blob")
    params = build.params
    num_shards = build.num_shards
    hash_fn = build.hash_fn

    from pyspark.sql.types import BooleanType, StructField, StructType

    cols = probe.columns
    # fresh StructType — StructType.add mutates in place, planting a
    # phantom flag column in the caller's cached probe.schema (latent
    # here because the withColumn below always rebuilt the schema, but
    # the caller's own DataFrame object was still corrupted)
    out_schema = StructType(list(probe.schema.fields)
                            + [StructField(flag_col, BooleanType())])

    if hash_fn == "xxhash64":
        withsh = probe.withColumn("__h", F.xxhash64(F.col(key_col)))
        probe_sh = withsh.withColumn(
            "__shard", _shard_expr_jvm(F.col("__h"), num_shards))
    else:
        probe_sh = probe.withColumn(
            "__shard", _metro64_shard_col(F.col(key_col), num_shards))

    def probe_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame(columns=cols + [flag_col])
        if len(right) == 0:
            out = left[cols].copy()
            out[flag_col] = False
            return out
        if len(right) > 1:
            # same guard as the grouped probes: probing only iloc[0]
            # would silently miss every key stored in the other blob
            # (false negatives)
            raise ValueError(
                f"shard {int(right['__shard'].iloc[0])} has {len(right)} "
                f"blob rows — duplicate rows per shard (were two builds' "
                f"frames unioned?)")
        kern = CuckooProbe(bytes(right["blob"].iloc[0]))
        out = left[cols].copy()
        if hash_fn == "xxhash64":
            h = left["__h"].to_numpy(dtype="int64").view(np.uint64)
            idx, tag = params.split(h)
            out[flag_col] = kern.contain_hashed(idx, tag)
        else:
            # NULL probe keys answer False; dtype-canonicalized
            h, valid = metro64_keys(left[key_col])
            flags = np.zeros(len(valid), dtype=bool)
            flags[valid] = kern.contain_hashed(*params.split(h))
            out[flag_col] = flags
        return out

    blobs_sh = shards_df.withColumnRenamed("shard", "__shard")
    return (
        probe_sh.groupBy("__shard")
        .cogroup(blobs_sh.groupBy("__shard"))
        .applyInPandas(probe_group, out_schema)
    )


DELETE_SCHEMA = (
    "shard int, requested bigint, deleted bigint, victim_used boolean, "
    "blob binary, format_version int"
)


def sharded_delete(
    keys_df: DataFrame,
    key_col: str,
    build: ShardedCuckooBuild,
    shards_df: DataFrame | None = None,
    output_path: str | None = None,
) -> ShardedCuckooBuild:
    """Fully-distributed delete (reference Delete + TryEliminateVictim,
    cuckoofilter.go:191-213, applied per shard).

    The delete keys are cogrouped with the shard blob rows by shard id,
    so each task rewrites exactly ONE shard kernel — delete keys never
    pass through the driver and no blob is broadcast. One shuffle of
    (hash/key, shard) rows; per-shard deletes run in parallel on
    executors. The build should be mode='multiset' (reference semantics:
    Delete removes one stored copy per call; a deduped membership build
    would make the second delete of a colliding key fail).

    Returns a NEW ShardedCuckooBuild with the updated blobs; per-shard
    metrics carry requested/deleted counts so callers can assert
    ``deleted == requested`` (no false negatives ⇒ every inserted key
    deletes successfully).
    """
    spark = keys_df.sparkSession
    if shards_df is None:
        if build.path is not None:
            sdf = spark.read.parquet(build.path)
            check_shard_format(sdf, "sharded_delete")
            shards_df = sdf.select("shard", "blob")
        else:
            # in-session blobs from the live build object: trusted
            # (current code produced them), no version column needed
            shards_df = spark.createDataFrame(
                [(int(s), bytearray(b)) for s, b in build.blobs.items()],
                "shard int, blob binary",
            )
    else:
        # explicitly-passed frames: same stale-artifact guard as the
        # probe join — legit producers always stamp format_version
        check_shard_format(shards_df, "sharded_delete")
        shards_df = shards_df.select("shard", "blob")
    params = build.params
    num_shards = build.num_shards
    hash_fn = build.hash_fn

    if hash_fn == "xxhash64":
        keyed = keys_df.select(F.xxhash64(F.col(key_col)).alias("__h"))
        keyed = keyed.withColumn("__shard", _shard_expr_jvm(F.col("__h"), num_shards))
    else:
        keyed = keys_df.select(F.col(key_col)).withColumn(
            "__shard", _metro64_shard_col(F.col(key_col), num_shards))

    def delete_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(right) == 0:
            # keys routed to a shard that was never built: nothing stored
            # there, so nothing deletes (reference Delete returns false)
            shard = int(left["__shard"].iloc[0])
            return pd.DataFrame(
                {"shard": [shard], "requested": [len(left)], "deleted": [0],
                 "victim_used": [False], "blob": [None],
                 "format_version": [SHARD_FORMAT_VERSION]})
        if len(right) > 1:
            # rewriting only iloc[0] would drop the other blob from the
            # output artifact — permanent data loss
            raise ValueError(
                f"shard {int(right['__shard'].iloc[0])} has {len(right)} "
                f"blob rows — duplicate rows per shard (were two builds' "
                f"frames unioned?)")
        shard = int(right["__shard"].iloc[0])
        blob = bytes(right["blob"].iloc[0])
        if len(left) == 0:  # untouched shard passes through unchanged
            return pd.DataFrame(
                {"shard": [shard], "requested": [0], "deleted": [0],
                 "victim_used": [False], "blob": [blob],
                 "format_version": [SHARD_FORMAT_VERSION]})
        kern = CuckooKernel.from_bytes(blob)
        if hash_fn == "xxhash64":
            h = left["__h"].to_numpy(dtype="int64").view(np.uint64)
        else:
            # NULL delete requests are no-ops (nothing is stored under
            # NULL) — and must not crash/alias the hash
            h, _ = metro64_keys(left[key_col])
        idx, tag = params.split(h)
        ok = kern.delete_hashed(idx, tag)
        return pd.DataFrame(
            {"shard": [shard], "requested": [len(left)],
             "deleted": [int(ok.sum())], "victim_used": [kern.victim_used],
             "blob": [kern.to_bytes()],
             "format_version": [SHARD_FORMAT_VERSION]})

    blobs_sh = shards_df.withColumnRenamed("shard", "__shard")
    updated = (
        keyed.groupBy("__shard")
        .cogroup(blobs_sh.groupBy("__shard"))
        .applyInPandas(delete_group, DELETE_SCHEMA)
    )

    if output_path is not None:
        # persist so the parquet write and the metrics collect see the
        # SAME computation; metrics must keep null-blob rows (delete
        # keys routed to never-built shards), or the deleted==requested
        # accounting would silently hide undeletable requests
        updated = updated.persist()
        updated.where(F.col("blob").isNotNull()).write.mode("overwrite").parquet(
            output_path)
        mrows = updated.drop("blob").collect()
        updated.unpersist()
        blobs = {}
    else:
        mrows = updated.collect()
        blobs = {int(r["shard"]): bytes(r["blob"]) for r in mrows
                 if r["blob"] is not None}
    metrics = [
        {k: r[k] for k in ("shard", "requested", "deleted", "victim_used")}
        for r in mrows
    ]
    return ShardedCuckooBuild(
        params=params, num_shards=num_shards, blobs=blobs, metrics=metrics,
        path=output_path, hash_fn=hash_fn,
    )


def sharded_might_contain_udf(spark, build: ShardedCuckooBuild):
    """Broadcast probe: hash once, route by shard, probe per shard.
    Uses the build's hash_fn (xxhash64 hashes JVM-side)."""
    blobs = build.load_blobs(spark) if build.path else build.blobs
    bcast = spark.sparkContext.broadcast(blobs)
    bid = bcast._jbroadcast.id()
    params = build.params
    num_shards = build.num_shards
    from pyspark.sql.functions import arrow_udf, pandas_udf

    if build.hash_fn == "xxhash64":

        @pandas_udf("boolean")
        def probe_hashed(h: pd.Series) -> pd.Series:
            hv = h.to_numpy(dtype="int64").view(np.uint64)
            return pd.Series(
                _probe_sharded(hv, bcast.value, params, num_shards, cache_key=bid)
            )

        def might_contain(col):
            c = F.col(col) if isinstance(col, str) else col
            return probe_hashed(F.xxhash64(c))

        return might_contain

    @arrow_udf("boolean")
    def might_contain(keys: pa.Array) -> pa.Array:
        # NULL probe keys answer False; dtype-canonicalized
        h, valid = metro64_keys(keys)
        out = np.zeros(len(valid), dtype=bool)
        out[valid] = _probe_sharded(h, bcast.value, params, num_shards,
                                    cache_key=bid)
        return pa.array(out)

    return might_contain


def _metro64_shard_col(col, num_shards: int):
    """Shard id of a metro64 key column, hashed from its Arrow buffers.
    NULL keys route to shard 0 — any shard works: probes answer False
    for them and deletes of them are no-ops."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("int")
    def shard_udf(keys: pa.Array) -> pa.Array:
        h, valid = metro64_keys(keys)
        out = np.zeros(len(valid), dtype=np.int32)
        out[valid] = shard_of(h, num_shards)
        return pa.array(out)

    return shard_udf(col)
