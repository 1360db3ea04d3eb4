"""Sketch cube — approximate COUNT(DISTINCT) at ARBITRARY grouping sets
from ONE scan, merging sketches instead of re-scanning.

``GROUP BY GROUPING SETS(...) COUNT(DISTINCT key)`` is the classic
web-analytics cube (distinct users per (event_type, day), per
event_type, grand total). Computed exactly it needs either one scan per
set or one scan carrying every raw key through every set (Spark's
Expand multiplies the input by the number of sets, then shuffles raw
keys per set — at 10^12 rows × a 2^k cube that is 2^k full-corpus
shuffles). Every requested grouping set is a subset of the finest
grouping, so its blobs merge from already-merged blobs (register max is
associative/commutative/idempotent). The input is scanned exactly once,
for any number of sets:

* phase 1 — one ``mapInPandas`` pass on the natural input partitions
  emits a 2^p-byte HLL blob per (partition, finest group); no raw key
  ever crosses a partition boundary.
* phase 2 — blobs merge per finest group; the result is eagerly
  localCheckpoint-ed ONCE — the single input-sized materialization.
* phase 3 — per requested set: a tiny shuffle of blobs keyed by that
  set's columns, cost blobs-only, independent of input size. A set
  merges from the set built just before it when that set contains it,
  otherwise from the checkpointed finest level. For ROLLUP's prefix
  order (``sketches.rollup``) this is a lazy level chain, each coarser
  level re-merging the finer level's already-tiny blobs; for CUBE's
  mask order no set contains its successor, so every set merges from
  the finest level.

Memory bound per scan task ≈ (groups in partition) × 2^p bytes — pick p
for the group-count regime (default p=12 → 4 KiB/blob, ±1.6%; p=14 →
16 KiB, ±0.8%).

Merge-up equals build-direct EXACTLY, so a merged set's registers are
byte-identical to an HLL built directly over that slice; tests pin
this, not just the estimate bound.

COUNT(DISTINCT) null semantics: null KEYS don't count, but their group
still emits (an all-null-key group surfaces with count 0, as SQL's
GROUP BY does); null GROUP values are legal and kept. Output marks
rolled-up columns with SQL ``GROUPING_ID`` semantics (bit i, counting
from the LEFT of ``group_cols``, set when that column is rolled up —
``GROUPING_ID(a,b) = grouping(a)*2 + grouping(b)``), which
disambiguates a real NULL group value from a rollup marker.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from cuckoo_filter_spark.sketches.hll import HLLSketch


def _validate_cols(group_cols: list[str], key_col: str, est_col: str,
                   marker_col: str) -> None:
    """Output-name collision guard: a group column named like an output
    column would be silently overwritten (withColumn) or break the
    partials DDL (duplicate 'blob')."""
    reserved = {"blob", marker_col, est_col}
    bad = reserved & set(group_cols)
    if bad:
        raise ValueError(
            f"group columns {sorted(bad)} collide with output columns "
            f"{sorted(reserved)}; rename them first")
    if key_col in set(group_cols) | reserved:
        raise ValueError(
            f"key column {key_col!r} collides with a group/output column")


def _partial_emitter(group_cols: list[str], key_col: str, p: int):
    """Per-(input-partition, finest-group) HLL partials. One dict of
    2^p-byte register arrays per task; no raw key crosses a partition
    boundary. Null KEYS don't count (SQL COUNT(DISTINCT)) but their
    group still emits — an all-null-key group must surface with an
    EMPTY sketch (count 0), exactly like SQL's GROUP BY emits it."""

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sks: dict[tuple, HLLSketch] = {}
        order: list[tuple] = []  # deterministic emit order
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for g, sub in pdf.groupby(group_cols, dropna=False,
                                      sort=False):
                g = g if isinstance(g, tuple) else (g,)
                sk = sks.get(g)
                if sk is None:
                    sk = sks[g] = HLLSketch(p=p)
                    order.append(g)
                keys = sub[key_col]
                keys = keys[keys.notna()]
                if len(keys):
                    sk.update(keys)
        out = {c: [g[i] for g in order]
               for i, c in enumerate(group_cols)}
        out["blob"] = [sks[g].to_bytes() for g in order]
        yield pd.DataFrame(out)

    return emit


def _build_partials(df: DataFrame, group_cols: list[str], key_col: str,
                    p: int) -> tuple[DataFrame, dict]:
    """Phase 1: one mapInPandas pass on the NATURAL input partitions
    (zero Exchange — pinned by plan_audit check 8) emitting one blob
    per (partition, finest group). Returns (partials, ddl_of)."""
    ddl_of = {c: f"{c} {df.schema[c].dataType.simpleString()}"
              for c in group_cols}
    gddl = ", ".join(ddl_of[c] for c in group_cols)
    partials = df.select(*group_cols, key_col).mapInPandas(
        _partial_emitter(group_cols, key_col, p),
        f"{gddl}, blob binary")
    return partials, ddl_of


def _merge_level(blobs: DataFrame, keep_cols: list[str], ddl_of: dict,
                 p: int) -> DataFrame:
    """Merge HLL blobs per ``keep_cols`` group (register max). Input is
    blob rows of a finer grouping; output one (groups..., blob) row per
    group — strictly shrinking data, never the raw input."""

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = HLLSketch(p=p)
        for b in pdf["blob"]:
            sk.merge(HLLSketch.from_bytes(bytes(b)))
        row = {c: [pdf[c].iloc[0]] for c in keep_cols}
        row["blob"] = [sk.to_bytes()]
        return pd.DataFrame(row)

    ddl = ", ".join(ddl_of[c] for c in keep_cols)
    ddl = f"{ddl}, blob binary" if keep_cols else "blob binary"
    sel = blobs.select(*keep_cols, "blob")
    if keep_cols:
        return sel.groupBy(*keep_cols).applyInPandas(combine, ddl)
    # grand total: one merge task over the source's blobs (bounded by
    # its group count × 2^p bytes). SQL's () grouping set emits one row
    # even over empty input (COUNT = 0) — groupBy on an empty frame
    # emits none, so seed the empty sketch (isEmpty touches only the
    # tiny blob frame merged from the checkpoint)
    if sel.isEmpty():
        return blobs.sparkSession.createDataFrame(
            [(bytearray(HLLSketch(p=p).to_bytes()),)], "blob binary")
    return sel.groupBy(F.lit(1).alias("__one")).applyInPandas(combine, ddl)


def _estimate_udf(p: int):
    @F.pandas_udf("double")
    def est(blob: pd.Series) -> pd.Series:
        return blob.map(
            lambda b: float(HLLSketch.from_bytes(bytes(b)).estimate()))

    return est


def _grouping_sets(
    df: DataFrame,
    group_cols: list[str],
    sets: list[list[str]],
    key_col: str,
    p: int,
    est_col: str,
    keep_blobs: bool,
    marker_col: str,
    marker_of: Callable[[tuple[str, ...]], int],
) -> DataFrame:
    """The grouping-sets core: one output piece per set, marked by
    ``marker_col`` = ``marker_of(kept columns)``."""
    _validate_cols(group_cols, key_col, est_col, marker_col)
    canon: list[tuple[str, ...]] = []
    seen: set[tuple[str, ...]] = set()
    for s in sets:
        extra = set(s) - set(group_cols)
        if extra:
            raise ValueError(
                f"grouping set {s!r} has columns {sorted(extra)} "
                f"outside group_cols {group_cols}")
        key = tuple(c for c in group_cols if c in set(s))
        if key in seen:
            raise ValueError(f"duplicate grouping set {s!r}")
        seen.add(key)
        canon.append(key)
    if not canon:
        raise ValueError("hll_grouping_sets needs at least one grouping set")

    partials, ddl_of = _build_partials(df, group_cols, key_col, p)
    # ONE checkpointed finest level; the union scans the input once
    finest = _merge_level(partials, group_cols, ddl_of, p).localCheckpoint()

    est = _estimate_udf(p)
    pieces = []
    prev_keep, prev = tuple(group_cols), finest
    for keep in canon:
        if keep == tuple(group_cols):
            lv = finest
        else:
            # merge from the set built just before when it contains this
            # one (ROLLUP's prefix chain: each level re-merges the finer
            # level's tiny blob frame lazily), else from the checkpoint
            src = prev if set(keep) <= set(prev_keep) else finest
            lv = _merge_level(src, list(keep), ddl_of, p)
        prev_keep, prev = keep, lv
        out = lv.withColumn(marker_col, F.lit(marker_of(keep)))
        for c in group_cols:
            if c not in keep:
                out = out.withColumn(
                    c, F.lit(None).cast(df.schema[c].dataType))
        out = out.withColumn(est_col, est(F.col("blob")))
        if not keep_blobs:
            out = out.drop("blob")
        pieces.append(out.select(*group_cols, marker_col, est_col,
                                 *(["blob"] if keep_blobs else [])))
    result = pieces[0]
    for piece in pieces[1:]:
        result = result.unionByName(piece)
    return result


def hll_grouping_sets(
    df: DataFrame,
    group_cols: list[str],
    sets: list[list[str]],
    key_col: str,
    p: int = 12,
    est_col: str = "est_distinct",
    keep_blobs: bool = False,
) -> DataFrame:
    """Approximate ``GROUP BY GROUPING SETS(sets) COUNT(DISTINCT
    key_col)`` from ONE scan — see module docstring for the plan shape.

    Each entry of ``sets`` must be a subset of ``group_cols`` (order
    within a set is irrelevant; output column order follows
    ``group_cols``). Returns one row per group across all sets with
    columns ``group_cols..., gid int, est_col double`` (+ ``blob`` when
    ``keep_blobs``); ``gid`` is the SQL GROUPING_ID bitmask and
    rolled-up columns are NULL. Estimates carry HLL's published
    ±1.04/√2^p relative error and are deterministic given (p, data).
    """
    if not group_cols:
        raise ValueError("hll_grouping_sets needs at least one group column")
    k = len(group_cols)

    def gid(keep: tuple[str, ...]) -> int:
        return sum((1 << (k - 1 - i))
                   for i, c in enumerate(group_cols) if c not in keep)

    return _grouping_sets(df, group_cols, sets, key_col, p, est_col,
                          keep_blobs, "gid", gid)


def hll_cube(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    p: int = 12,
    est_col: str = "est_distinct",
    keep_blobs: bool = False,
    max_cols: int = 6,
) -> DataFrame:
    """Approximate ``GROUP BY CUBE(group_cols) COUNT(DISTINCT key_col)``
    — all 2^k grouping sets from ONE scan via :func:`hll_grouping_sets`.

    ``max_cols`` guards the 2^k set blow-up (the scan cost is constant,
    but each set is a blob-merge job; 2^6 = 64 is already generous).
    """
    k = len(group_cols)
    if k > max_cols:
        raise ValueError(
            f"hll_cube over {k} columns = {2 ** k} grouping sets; "
            f"raise max_cols (= {max_cols}) explicitly if intended")
    sets = [[c for i, c in enumerate(group_cols) if mask & (1 << i)]
            for mask in range(2 ** k)]
    return hll_grouping_sets(df, group_cols, sets, key_col, p=p,
                             est_col=est_col, keep_blobs=keep_blobs)
