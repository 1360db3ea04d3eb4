"""Seeded benchmark inputs, cached as parquet under the run directory.

Every input derives from the workload seed alone, so one seed always
yields the same rows. Generation runs once per (table, seed, size) and
is timed separately: it never counts towards ``setup_s`` or a timed call.

* ``urls``: the library's own synthetic crawl urls
  (``sources.pages.synth_urls``: Zipf hosts, 10% duplicate rows).
* the contract tables (supplier, orders, lineitem, events, documents)
  with the column types of the driver's TPC-H-ish testdata, at a
  configurable scale factor; they feed the contract queries and their
  DuckDB oracles.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

# Rows per scale factor 1.0 of the driver's testdata.
CONTRACT_ROWS = {"supplier": 10_000, "orders": 1_500_000,
                 "lineitem": 6_000_000, "events": 1_000_000}
CONTRACT_USERS = 15_000  # distinct event users at scale factor 1.0
CONTRACT_DOCS = 500
CONTRACT_TABLES = ("supplier", "orders", "lineitem", "events", "documents")

_WORDS = ("a the row scan sort hash key agg join filter batch query order "
          "group value vector window stream merge table part data column "
          "spark small big fast slow line customer").split()


def _publish(tmp: str, final: str) -> None:
    """Move a finished directory into place; a crash mid-generation
    leaves only ``tmp`` behind, never a half-written ``final``."""
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


def urls_table(spark, cache_dir: str, seed: int, rows: int,
               partitions: int) -> tuple[str, float]:
    """Path of the seeded urls parquet, and the seconds spent generating
    it (0.0 when it was cached)."""
    from cuckoo_filter_spark.sources.pages import synth_urls

    final = os.path.join(cache_dir, f"urls_s{seed}_n{rows}_p{partitions}.parquet")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final, 0.0
    t0 = time.perf_counter()
    tmp = final + f".tmp{os.getpid()}"
    synth_urls(spark, rows, seed=seed, num_partitions=partitions) \
        .write.mode("overwrite").parquet(tmp)
    _publish(tmp, final)
    return final, time.perf_counter() - t0


def _contract_frames(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng([seed, 0xC0DE])
    n_s = max(int(CONTRACT_ROWS["supplier"] * sf), 10)
    n_o = max(int(CONTRACT_ROWS["orders"] * sf), 100)
    n_l = max(int(CONTRACT_ROWS["lineitem"] * sf), 400)
    n_e = max(int(CONTRACT_ROWS["events"] * sf), 100)
    n_u = max(int(CONTRACT_USERS * sf), 10)

    def day(lo: str, hi: str, n: int) -> pd.Series:
        span = (pd.Timestamp(hi) - pd.Timestamp(lo)).days
        return pd.Timestamp(lo) + pd.to_timedelta(rng.integers(0, span + 1, n), unit="D")

    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, max(n_o // 10, 1), n_o).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"], dtype=object), n_o),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": day("1995-01-01", "2001-08-01", n_o),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            dtype=object), n_o),
    })
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": np.sort(rng.integers(0, n_o, n_l)).astype(np.int64),
        "l_partkey": rng.integers(0, max(n_o // 7, 1), n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"], dtype=object), n_l),
        "l_linestatus": rng.choice(np.array(["F", "O"], dtype=object), n_l),
        "l_shipdate": day("1995-01-02", "2001-11-04", n_l),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_e))
    events = pd.DataFrame({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(ev_us, unit="us"),
        "user_id": rng.integers(0, n_u, n_e).astype(np.int64),
        "event_type": rng.choice(np.array(
            ["click", "view", "purchase", "signup", "error"], dtype=object), n_e),
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    words = np.array(_WORDS, dtype=object)
    texts = [" ".join(rng.choice(words, int(k)))
             for k in rng.integers(8, 90, CONTRACT_DOCS)]
    documents = pd.DataFrame({
        "doc_id": np.arange(CONTRACT_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(["en", "de", "fr", "es", "zh"], dtype=object),
                           CONTRACT_DOCS),
        "source": [f"src{k}" for k in rng.integers(0, 20, CONTRACT_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {"supplier": supplier, "orders": orders, "lineitem": lineitem,
            "events": events, "documents": documents}


def contract_tables(cache_dir: str, seed: int, sf: float) -> tuple[str, float]:
    """Directory holding ``<table>.parquet`` for every contract table
    (one row group each, like the driver's testdata), and the seconds
    spent generating it (0.0 when it was cached)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    final = os.path.join(cache_dir, f"contract_s{seed}_sf{sf:g}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final, 0.0
    t0 = time.perf_counter()
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, pdf in _contract_frames(seed, sf).items():
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       coerce_timestamps="us")
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    _publish(tmp, final)
    return final, time.perf_counter() - t0
