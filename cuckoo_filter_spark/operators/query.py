"""Membership queries over built filters (SURVEY.md §2.2, §3 query path).

``might_contain`` is the Contain predicate (cuckoofilter.go:178-188) as a
vectorized Arrow UDF over a broadcast blob: keys hash straight from the
batch's Arrow buffers and bucket probes are numpy batch ops; the decoded
(unpacked) table is cached per executor process so each task pays
decode cost at most once per blob.

Join patterns (no false negatives ⇒ safe pruning):

* semi join: ``probe.where(might_contain(key))`` keeps all true matches;
  with ``exact=True`` a verification ``left_semi`` join removes the
  ~2b/2^f false positives. At scale the filter prunes the probe side
  BEFORE the shuffle, which is the entire point: only candidate rows are
  hashed/exchanged, and Catalyst/AQE still picks broadcast-hash vs
  sort-merge for the residual join.
* anti join: the raw filter CANNOT prune an anti join directly (a false
  positive would drop a valid row) — but its complement can: rows NOT in
  the filter are definitely non-members and skip the shuffle entirely;
  only maybe-member rows go through the exact ``left_anti``.
"""

from __future__ import annotations

import pandas as pd
# pyarrow at module scope: arrow_udf resolves the postponed pa.Array
# type hints against these globals
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import arrow_udf, pandas_udf

from cuckoo_filter_spark.kernel.filter import CuckooProbe
from cuckoo_filter_spark.operators.build import CuckooBuild

# per-executor probe cache: broadcast id → CuckooProbe (zero-copy view of
# the broadcast blob for byte-aligned layouts — no unpacked second copy)
_KERNEL_CACHE: dict[int, CuckooProbe] = {}


def _cached_kernel(key: int, bcast) -> CuckooProbe:
    kern = _KERNEL_CACHE.get(key)
    if kern is None:
        if len(_KERNEL_CACHE) > 64:  # bound executor memory across builds
            _KERNEL_CACHE.clear()
        kern = CuckooProbe(bytes(bcast.value))
        _KERNEL_CACHE[key] = kern
    return kern


def might_contain_udf(spark, build: "CuckooBuild | bytes"):
    """Returns ``f(col) -> boolean Column`` probing the filter with the
    same hash_fn the build used. For xxhash64 builds the hash runs
    JVM-side (whole-stage codegen) and the UDF only splits/probes.

    Accepts a ShardedCuckooBuild too (what build_cuckoo_filter returns
    when the key count crosses its auto-shard threshold) — probes then
    route by shard inside the UDF, same call shape."""
    from cuckoo_filter_spark.operators.sharded import (
        ShardedCuckooBuild,
        sharded_might_contain_udf,
    )

    if isinstance(build, ShardedCuckooBuild):
        return sharded_might_contain_udf(spark, build)
    blob = build.blob if isinstance(build, CuckooBuild) else build
    hash_fn = build.hash_fn if isinstance(build, CuckooBuild) else "metro64"
    bcast = spark.sparkContext.broadcast(blob)
    bid = bcast._jbroadcast.id()  # capture on driver; keys the executor cache

    if hash_fn == "xxhash64":
        import numpy as np

        @pandas_udf("boolean")
        def probe_hashed(h: pd.Series) -> pd.Series:
            kern = _cached_kernel(bid, bcast)
            hv = h.to_numpy(dtype="int64").view(np.uint64)
            # layout-aware split: a vacuum build indexes by modulo, and
            # the pow2 mask would probe the wrong buckets (silent FNs)
            idx, tag = kern.params.split(hv)
            return pd.Series(kern.contain_hashed(idx, tag))

        def might_contain(col):
            c = F.col(col) if isinstance(col, str) else col
            return probe_hashed(F.xxhash64(c))

        return might_contain

    @arrow_udf("boolean")
    def might_contain(keys: pa.Array) -> pa.Array:
        return pa.array(_cached_kernel(bid, bcast).contain(keys))

    return might_contain


def register_might_contain(spark, name: str, build: "CuckooBuild | bytes") -> None:
    """Register the membership predicate as a SQL function, so pure-SQL
    pipelines can use it: ``SELECT * FROM t WHERE <name>(url)``.
    Accepts a ShardedCuckooBuild (what build_cuckoo_filter returns past
    its auto-shard threshold) — its metro64 probe is itself an Arrow
    UDF and registers the same way."""
    from cuckoo_filter_spark.operators.sharded import (
        ShardedCuckooBuild,
        sharded_might_contain_udf,
    )

    hash_fn = getattr(build, "hash_fn", "metro64")
    if hash_fn != "metro64":
        raise ValueError("SQL registration supports metro64 builds "
                         "(xxhash64 probes compose a JVM expression)")
    if isinstance(build, ShardedCuckooBuild):
        spark.udf.register(name, sharded_might_contain_udf(spark, build))
        return
    # the metro64 branch of might_contain_udf IS the registerable Arrow
    # UDF (one definition of the probe + executor cache logic)
    spark.udf.register(name, might_contain_udf(spark, build))


def cuckoo_semi_join(
    probe: DataFrame,
    probe_key: str,
    build_df: DataFrame,
    build_key: str,
    exact: bool = True,
    build: "CuckooBuild | ShardedCuckooBuild | None" = None,
    **build_kwargs,
) -> DataFrame:
    """probe ⋉ build_df with cuckoo pre-pruning.

    exact=True (default): verification left_semi join restores exactness
    (the filter has no false negatives, so pre-pruning never drops a true
    match). exact=False returns the approximate superset (FP ≈ 2b/2^f).
    """
    from cuckoo_filter_spark.operators.build import build_cuckoo_filter

    spark = probe.sparkSession
    if build is None:
        build = build_cuckoo_filter(build_df, build_key, **build_kwargs)
    mc = might_contain_udf(spark, build)
    pruned = probe.where(mc(F.col(probe_key)))
    if not exact:
        return pruned
    rhs = build_df.select(build_key).dropDuplicates([build_key])
    return pruned.join(rhs, on=pruned[probe_key] == rhs[build_key], how="left_semi")


def cuckoo_anti_join(
    probe: DataFrame,
    probe_key: str,
    build_df: DataFrame,
    build_key: str,
    build: "CuckooBuild | ShardedCuckooBuild | None" = None,
    materialize_probe: bool = False,
    **build_kwargs,
) -> DataFrame:
    """Exact probe ▷ build_df (anti join) with safe cuckoo acceleration:
    definite non-members bypass the join; only maybe-members (filter
    hits) are verified with an exact left_anti.

    Execution shape: the bypass and the verify branch are two consumers
    of the flagged probe frame, so the probe plan (scan + probe UDF)
    executes TWICE — the deliberate trade at scale, where re-reading
    pruned columnar parquet is far cheaper than materializing 10^12
    flagged rows just to split them. Two consequences: (1) the probe
    plan must be DETERMINISTIC under re-execution (true for any
    source/filter pipeline; not for unseeded sample()/rand() inputs —
    the standard Spark union-of-filters contract), or rows can land in
    both branches or neither; (2) when the probe side is itself an
    expensive non-reusable computation, pass ``materialize_probe=True``
    to localCheckpoint the flagged frame once instead (bounded inputs
    only — it writes the whole frame to executor disk)."""
    from cuckoo_filter_spark.operators.build import build_cuckoo_filter

    spark = probe.sparkSession
    if build is None:
        build = build_cuckoo_filter(build_df, build_key, **build_kwargs)
    mc = might_contain_udf(spark, build)
    flagged = probe.withColumn("__maybe_member", mc(F.col(probe_key)))
    if materialize_probe:
        flagged = flagged.localCheckpoint()
    definite_out = flagged.where(~F.col("__maybe_member")).drop("__maybe_member")
    maybe = flagged.where(F.col("__maybe_member")).drop("__maybe_member")
    rhs = build_df.select(build_key).dropDuplicates([build_key])
    verified_out = maybe.join(
        rhs, on=maybe[probe_key] == rhs[build_key], how="left_anti"
    )
    return definite_out.unionByName(verified_out)
