"""hll_rollup — one-scan approximate ROLLUP(COUNT DISTINCT).

Pins (a) the merge-up law EXACTLY (a rolled-up level's registers are
byte-identical to an HLL built directly over that slice — register max
is associative/commutative/idempotent, the same law test_sketches pins
for flat merges), (b) SQL ROLLUP shape parity (levels, NULL markers,
null keys don't count but their group still emits, null group values,
empty-input grand total), and
(c) the published error bound vs exact counts.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cuckoo_filter_spark.sketches.hll import HLLSketch
from cuckoo_filter_spark.sketches.rollup import hll_rollup


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # (event_type, day, user)
        ("click", "2024-01-0%d" % (1 + i % 3), "u%04d" % (i % 157))
        for i in range(2000)
    ] + [
        ("view", "2024-01-0%d" % (1 + i % 2), "u%04d" % (i % 311))
        for i in range(3000)
    ] + [
        (None, "2024-01-01", "u9999"),      # NULL group value (kept)
        ("click", "2024-01-01", None),      # NULL key (doesn't count)
        # group whose EVERY key is NULL: must emit with count 0, as
        # SQL GROUP BY does (COUNT(DISTINCT) skips nulls, group stays)
        ("purchase", "2024-01-05", None),
        ("purchase", "2024-01-05", None),
    ]
    return spark.createDataFrame(
        rows, "event_type string, day string, user_id string")


def _exact_rollup(events):
    # no null-key pre-filter: countDistinct skips nulls on its own, and
    # pre-filtering would DROP the all-null-key group SQL emits with 0
    return {
        (r["event_type"], r["day"], r["lvl"]): r["n"]
        for r in events
        .rollup("event_type", "day")
        .agg(F.countDistinct("user_id").alias("n"),
             # lvl = number of kept leading cols, matching hll_rollup
             (F.lit(2) - F.grouping("event_type") - F.grouping("day"))
             .alias("lvl"))
        .collect()
    }


def test_levels_bounds_and_sql_shape(spark, events):
    got = hll_rollup(events, ["event_type", "day"], "user_id", p=12)
    rows = {(r["event_type"], r["day"], r["lvl"]): r["est_distinct"]
            for r in got.collect()}
    exact = _exact_rollup(events)
    # identical rollup group set: levels, NULL markers, the real-NULL
    # group value at lvl=2, and the all-null-key group present with 0
    assert set(rows) == set(exact)
    assert rows[("purchase", "2024-01-05", 2)] == 0.0
    tol = 4 * HLLSketch(p=12).relative_error()
    for k, n in exact.items():
        assert abs(rows[k] - n) <= max(n, 1) * tol, (k, rows[k], n)


def test_merge_up_equals_direct_build_registers(spark, events):
    """Register BYTE equality: level-1 and level-0 blobs must equal an
    HLL built directly over the corresponding slice — merge-up loses
    nothing vs rescanning (the reason phase 3 never touches raw data)."""
    from cuckoo_filter_spark.sketches.base import build_sketch

    got = hll_rollup(events, ["event_type", "day"], "user_id", p=12,
                     keep_blobs=True)
    blobs = {(r["event_type"], r["day"], r["lvl"]): bytes(r["blob"])
             for r in got.collect()}

    for et in ("click", "view", None):
        sub = events.where(F.col("event_type").eqNullSafe(F.lit(et))
                           & F.col("user_id").isNotNull())
        direct, _ = build_sketch(sub, "user_id", lambda: HLLSketch(p=12))
        assert blobs[(et, None, 1)] == direct.to_bytes(), et
    direct_all, _ = build_sketch(
        events.where(F.col("user_id").isNotNull()), "user_id",
        lambda: HLLSketch(p=12))
    assert blobs[(None, None, 0)] == direct_all.to_bytes()


def test_empty_input_emits_grand_total_row(spark):
    df = spark.createDataFrame([], "g string, k string")
    got = hll_rollup(df, ["g"], "k", p=10).collect()
    assert [(r["g"], r["lvl"], r["est_distinct"]) for r in got] == [
        (None, 0, 0.0)]


def test_single_group_col_and_pandas_tuple_keys(spark):
    # len-1 group_cols exercises the scalar-vs-tuple pandas groupby key
    df = spark.createDataFrame(
        [("a", i % 7) for i in range(500)]
        + [("b", 100 + i % 13) for i in range(500)],  # disjoint key ranges
        "g string, k int")
    got = {(r["g"], r["lvl"]): r["est_distinct"]
           for r in hll_rollup(df, ["g"], "k", p=14).collect()}
    assert got[("a", 1)] == pytest.approx(7, abs=1)
    assert got[("b", 1)] == pytest.approx(13, abs=1)
    assert got[(None, 0)] == pytest.approx(20, abs=2)


def test_output_name_collision_raises(spark, events):
    # a group column named like an output column would be silently
    # overwritten (withColumn) or break the partials DDL
    for bad in ("lvl", "blob", "est_distinct"):
        with pytest.raises(ValueError, match="collide"):
            hll_rollup(events.withColumnRenamed("day", bad),
                       ["event_type", bad], "user_id")
    with pytest.raises(ValueError, match="collide"):
        hll_rollup(events, ["event_type", "user_id"], "user_id")
    # gid is hll_grouping_sets' marker, not rollup's: a group column of
    # that name is an ordinary column here
    as_gid = hll_rollup(events.withColumnRenamed("day", "gid"),
                        ["event_type", "gid"], "user_id")
    assert as_gid.columns == ["event_type", "gid", "lvl", "est_distinct"]
    plain = hll_rollup(events, ["event_type", "day"], "user_id")
    assert sorted(map(tuple, as_gid.collect()), key=repr) == sorted(
        map(tuple, plain.collect()), key=repr)


def test_rollup_is_grouping_sets_over_prefixes(spark, events):
    """hll_rollup is hll_grouping_sets over the prefix sets
    (g1..gk), …, (): same groups and blob bytes, with
    lvl = k − popcount(gid)."""
    from cuckoo_filter_spark.sketches.cube import hll_grouping_sets

    cols = ["event_type", "day"]
    got = hll_rollup(events, cols, "user_id", p=12, keep_blobs=True)
    assert got.columns == [*cols, "lvl", "est_distinct", "blob"]
    gs = hll_grouping_sets(events, cols, [cols[:j] for j in (2, 1, 0)],
                           "user_id", p=12, keep_blobs=True)
    rollup_rows = sorted(
        (r["event_type"] or "", r["day"] or "", r["lvl"], bytes(r["blob"]))
        for r in got.collect())
    gs_rows = sorted(
        (r["event_type"] or "", r["day"] or "",
         len(cols) - bin(r["gid"]).count("1"), bytes(r["blob"]))
        for r in gs.collect())
    assert rollup_rows == gs_rows
    assert {r[2] for r in rollup_rows} == {0, 1, 2}


def _plan_nodes(df, name: str) -> int:
    """Count ``name`` nodes in the final adaptive plan of a collected
    frame (the Initial Plan section is cut off)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    return sum(1 for line in final.splitlines()
               if line.lstrip(" :+-").startswith(name + " "))


def test_rollup_plan_is_a_lazy_level_chain(spark, events, monkeypatch):
    """Two group columns: one localCheckpoint (the finest level), then
    level 1 merges from it and the grand total merges from level 1's
    blobs — 2 Exchange nodes and 1 ReusedExchange in the final plan,
    the counts the hand-written rollup loop had before it became a case
    of the grouping-sets core. A grand total merged from the finest
    level instead would show no ReusedExchange."""
    df_cls = type(events)
    real = df_cls.localCheckpoint
    calls = []

    def counting(self, *a, **k):
        calls.append(1)
        return real(self, *a, **k)

    monkeypatch.setattr(df_cls, "localCheckpoint", counting)
    got = hll_rollup(events, ["event_type", "day"], "user_id", p=12)
    got.collect()
    assert len(calls) == 1
    assert _plan_nodes(got, "Exchange") == 2
    assert _plan_nodes(got, "ReusedExchange") == 1
