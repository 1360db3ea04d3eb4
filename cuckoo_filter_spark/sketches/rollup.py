"""Sketch rollup — approximate ``GROUP BY ROLLUP(g1..gk) COUNT(DISTINCT
key)`` from ONE scan, as the prefix case of
:func:`cuckoo_filter_spark.sketches.cube.hll_grouping_sets`.

ROLLUP is the grouping sets ``(g1..gk), (g1..gk-1), …, ()``. In that
order each set is contained in the one built before it, so the
grouping-sets core merges level j-1 from level j's already-merged blobs:
only the finest level is localCheckpoint-ed, and coarser levels chain
lazily from it (see the cube module docstring for the plan shape).

The ``lvl`` column (number of kept leading group columns, k..0 — that
is, k − popcount(GROUPING_ID)) disambiguates a real NULL group value
from a rolled-up marker NULL, the same job as SQL GROUPING_ID.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cuckoo_filter_spark.sketches.cube import _grouping_sets


def hll_rollup(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    p: int = 12,
    est_col: str = "est_distinct",
    keep_blobs: bool = False,
) -> DataFrame:
    """Approximate ``GROUP BY ROLLUP(group_cols) COUNT(DISTINCT
    key_col)`` from ONE scan — see module docstring for the plan shape.

    Returns one row per rollup group across ALL levels with columns
    ``group_cols... , lvl int, est_col double`` (+ ``blob`` when
    ``keep_blobs``): ``lvl`` = number of kept leading group columns
    (len(group_cols) = finest … 0 = grand total); rolled-up columns are
    NULL. Estimates carry HLL's published ±1.04/√2^p relative error and
    are deterministic given (p, data) — metro64 seed 1337 throughout.
    """
    if not group_cols:
        raise ValueError("hll_rollup needs at least one group column")
    prefixes = [group_cols[:j] for j in range(len(group_cols), -1, -1)]
    # a kept set is a prefix, so its length is the level
    return _grouping_sets(df, group_cols, prefixes, key_col, p, est_col,
                          keep_blobs, "lvl", len)
