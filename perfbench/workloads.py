"""The three workloads. Each is a closed loop with one client: the
benchmark makes one call into the library at a time.

A workload object is driven by ``perfbench/child.py`` in this order:
``generate`` (cached inputs, timed apart from set-up), ``prepare``
(the repeatable part of set-up, run several times), ``warm`` (one
untimed call), then passes of ``calls()`` until the run's time is up,
each result checked by ``check``, and finally ``final_checks``, a
self-test of ``check`` on ``corrupt``-ed output, and ``report``.
"""

from __future__ import annotations

import random
import statistics

import numpy as np
from pyspark.sql import functions as F

from perfbench import checks, inputs

B, FP_BITS = 4, 16  # tags per bucket, fingerprint bits (the paper's setting)

# url table: ~1.08M rows, ~0.985M distinct urls. 32 shards of 2^13
# buckets x 4 slots hold 1,048,576 fingerprints, so the build fills them
# to a mean load of ~0.94 (the highest shard ~0.95-0.96; at a mean of
# 0.95 some seeds filled a shard's victim slot).
URL_ROWS = 1_084_000
URL_SHARDS = 32
URL_CAPACITY = 850_000  # sizes each shard at exactly 2^13 buckets
URL_TARGET_LOAD = 0.93
URL_SLOTS = URL_SHARDS * (1 << 13) * B

PROBE_MEMBER_MOD = 5  # members: urls whose seeded xxhash64 is 0 mod 5 (~200k)
FN_SAMPLE = 20_000
FP_PROBES = 200_000

MIX_SF = 0.001
MIX_QUERIES = ("cuckoo_semi_join", "cogroup_semi_join", "delete_workload",
               "bloom_semi_join", "hll_rollup", "near_dup_pairs",
               "streaming_sessionize")


def absent_urls(seed: int, n: int) -> np.ndarray:
    """Urls outside every generated host name, so none is a member."""
    return np.array([f"https://absent{seed}-{i}.example.invalid/q/{i}"
                     for i in range(n)], dtype=object)


class UrlBuild:
    """Sharded metro64 build (b=4, f=16, 32 shards) over the seeded urls
    table. Hashing, the kernel's insert and kick loop, and the shard
    shuffle do nearly all the work; kernel lookup does none."""

    name = "url_build"
    # per-layer metrics this workload cannot report, and why
    absent = {"kernel.lookups": "the build makes no lookups"}

    def __init__(self, ctx):
        self.ctx = ctx
        self.first = None

    def generate(self, spark) -> float:
        self.path, gen_s = inputs.urls_table(
            spark, self.ctx.cache_dir, self.ctx.seed, URL_ROWS, self.ctx.cores)
        return gen_s

    def prepare(self, spark) -> None:
        self.df = spark.read.parquet(self.path).select("url")
        self.rows = self.df.count()

    def warm(self, spark) -> None:
        self.build(spark)

    def calls(self, pass_no: int):
        return [("build", self.build)]

    def build(self, spark):
        from cuckoo_filter_spark.operators.sharded import build_sharded_cuckoo_filter

        return build_sharded_cuckoo_filter(
            self.df, "url", capacity=URL_CAPACITY, num_shards=URL_SHARDS,
            tags_per_bucket=B, bits_per_item=FP_BITS)

    def check(self, name, build) -> list[str]:
        stored = sum(m["stored"] for m in build.metrics)
        errs = checks.same_as(len(build.metrics), URL_SHARDS, "shards built")
        errs += checks.at_least(stored / URL_SLOTS, URL_TARGET_LOAD, "mean load")
        if self.first is None:
            self.first = stored
        errs += checks.same_as(stored, self.first, "stored keys vs first build")
        return errs

    def corrupt(self, build):
        """A copy of ``build`` with one shard's fingerprints lost."""
        import copy

        bad = copy.copy(build)
        bad.metrics = [dict(m) for m in build.metrics]
        bad.metrics[0]["stored"] -= 1
        return bad

    def final_checks(self, spark, build) -> list[str]:
        import pyarrow.parquet as pq

        urls = pq.read_table(self.path, columns=["url"]).column("url")
        rng = np.random.default_rng([self.ctx.seed, 1])
        idx = rng.choice(len(urls), size=FN_SAMPLE, replace=False)
        sample = np.array(urls.take(idx).to_pylist(), dtype=object)
        errs = checks.no_false_negatives(int((~build.contain(sample)).sum()),
                                         len(sample), "sampled inserted urls")
        self.fp = int(build.contain(absent_urls(self.ctx.seed, FP_PROBES)).sum())
        errs += checks.fp_within_bound(self.fp, FP_PROBES, B, FP_BITS, "absent urls")
        return errs

    def report(self, pass_s: float, calls: list, build) -> dict:
        kerns = build.kernels().values()
        stored = sum(k.size() for k in kerns)
        return {
            "build_keys_per_s": (self.rows / pass_s, "keys/s"),
            "fp_rate": (self.fp / FP_PROBES, "fraction"),
            "bits_per_key": (8.0 * sum(k.size_in_bytes() for k in kerns) / stored,
                             "bits"),
        }

    def layer_counts(self, build) -> dict:
        ms = build.metrics
        stored = sum(m["stored"] for m in ms)
        return {
            "hashing.keys": self.rows,
            "kernel.kicks_per_insert": sum(m["kicks"] for m in ms) / stored,
            "kernel.stored_per_row": stored / self.rows,
            "kernel.victim_used": float(sum(bool(m["victim_used"]) for m in ms)),
            "kernel.load_factor": stored / URL_SLOTS,
            "kernel.lookups": 0.0,
        }


class UrlProbe:
    """~200k seeded member urls (a ~0.5 MiB filter, built during set-up)
    probed through ``might_contain_udf`` by the whole urls table. Reads on
    the same hashing and kernel layers as url_build's writes, with no
    shuffle and no insert."""

    name = "url_probe"
    absent = {m: "the member filter is built during set-up; timed calls only probe"
              for m in ("kernel.kicks_per_insert", "kernel.stored_per_row")}

    def __init__(self, ctx):
        self.ctx = ctx
        self.first = None

    def generate(self, spark) -> float:
        self.path, gen_s = inputs.urls_table(
            spark, self.ctx.cache_dir, self.ctx.seed, URL_ROWS, self.ctx.cores)
        return gen_s

    def prepare(self, spark) -> None:
        from cuckoo_filter_spark.operators.build import build_cuckoo_filter
        from cuckoo_filter_spark.operators.query import might_contain_udf

        self.df = spark.read.parquet(self.path).select("url")
        self.rows = self.df.count()
        is_member = F.pmod(F.xxhash64("url", F.lit(self.ctx.seed)),
                           F.lit(PROBE_MEMBER_MOD)) == 0
        member_rows = self.df.where(is_member)
        # exact semi-join answer: probe rows whose url is a member
        self.exact, self.n_members = member_rows.agg(
            F.count(F.lit(1)), F.countDistinct("url")).first()
        self.members = member_rows.distinct()
        self.build_ = build_cuckoo_filter(self.members, "url", capacity=self.n_members)
        self.mc = might_contain_udf(spark, self.build_)

    def warm(self, spark) -> None:
        self.probe(spark)  # each worker decodes the broadcast filter once

    def calls(self, pass_no: int):
        return [("probe", self.probe)]

    def probe(self, spark) -> int:
        return self.df.where(self.mc(F.col("url"))).count()

    def check(self, name, hits) -> list[str]:
        errs = checks.at_least(hits, self.exact, "probe hits vs exact semi-join")
        errs += checks.fp_within_bound(max(hits - self.exact, 0),
                                       self.rows - self.exact, B, FP_BITS,
                                       "non-member probe rows")
        if self.first is None:
            self.first = hits
        errs += checks.same_as(hits, self.first, "hits vs first probe")
        return errs

    def corrupt(self, hits):
        return self.exact - 1  # a probe that lost a true member

    def final_checks(self, spark, hits) -> list[str]:
        missing = self.members.where(~self.mc(F.col("url"))).count()
        return checks.no_false_negatives(missing, self.n_members, "member urls")

    def report(self, pass_s: float, calls: list, hits) -> dict:
        kern = self.build_.kernel()
        return {
            "probe_keys_per_s": (self.rows / pass_s, "keys/s"),
            "fp_rate": ((hits - self.exact) / (self.rows - self.exact), "fraction"),
            "bits_per_key": (8.0 * kern.size_in_bytes() / kern.size(), "bits"),
        }

    def layer_counts(self, hits) -> dict:
        kern = self.build_.kernel()
        return {
            "hashing.keys": self.rows,
            "kernel.kicks_per_insert": 0.0,
            "kernel.stored_per_row": 0.0,
            "kernel.victim_used": float(kern.victim_used),
            "kernel.load_factor": kern.load_factor(),
            "kernel.lookups": self.rows,
        }


class ContractMix:
    """Seven contract queries over seeded TPC-H-ish tables, each checked
    against its DuckDB oracle. Every query is many small Spark jobs, so
    fixed per-job costs dominate: Python worker start, planning, small
    shuffles, driver collects, lazy checkpoints and micro-batches."""

    name = "contract_mix"
    absent = {
        **{m: "keys hashed inside a contract query are not observable from "
              "outside the library" for m in ("hashing.keys", "hashing.ns_per_key")},
        **{m: "each contract query builds and drops its filters internally"
           for m in ("kernel.kicks_per_insert", "kernel.stored_per_row",
                     "kernel.victim_used", "kernel.load_factor", "kernel.lookups")},
    }

    def __init__(self, ctx):
        self.ctx = ctx
        self.order = random.Random(ctx.seed)

    def generate(self, spark) -> float:
        self.dir, gen_s = inputs.contract_tables(self.ctx.cache_dir, self.ctx.seed, MIX_SF)
        return gen_s

    def prepare(self, spark) -> None:
        import duckdb

        import __spark_entry__ as entry

        for t in inputs.CONTRACT_TABLES:
            spark.read.parquet(f"{self.dir}/{t}.parquet").count()
        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in inputs.CONTRACT_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.dir}/{t}.parquet')")
            self.oracle = {}
            for q in MIX_QUERIES:
                cur = con.execute(sql[q])
                cols = [d[0] for d in cur.description]
                self.oracle[q] = (checks.oracle_rows(cur.fetchall(), cols), cols)
        finally:
            con.close()

    def warm(self, spark) -> None:
        """Nothing: a pass is one cold run of each query, as a fresh session
        meets it, and a warm pass would double the run's length."""

    def calls(self, pass_no: int):
        order = list(MIX_QUERIES)
        self.order.shuffle(order)
        return [(q, self.query(q)) for q in order]

    def query(self, q: str):
        def run(spark):
            import __spark_entry__ as entry

            df = entry.queries()[q](spark, self.dir)
            return df.collect(), df.columns
        return run

    def check(self, name, result) -> list[str]:
        rows, cols = result
        want, want_cols = self.oracle[name]
        return checks.matches_oracle(rows, cols, want, want_cols, name)

    def corrupt(self, result):
        rows, cols = result
        return rows[:-1], cols  # a result that lost a row

    def final_checks(self, spark, result) -> list[str]:
        return []

    def report(self, pass_s: float, calls: list, result) -> dict:
        out = {"mix_pass_s": (pass_s, "s")}
        for q in MIX_QUERIES:
            ts = [c["wall_s"] for c in calls if c["name"] == q]
            out[f"{q}_s"] = (statistics.median(ts), "s")
        return out

    def layer_counts(self, result) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (UrlBuild, UrlProbe, ContractMix)}
