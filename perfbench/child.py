"""One benchmark session: one workload in one fresh Spark session.

Started by ``perfbench/run.py`` (never by hand) as
``python3 -m perfbench.child --workload W --seed N --seconds S --trace 0|1
--run-dir DIR`` from the checkout root; writes ``DIR/result_t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass

SETUP_REPS = 3  # the repeatable part of set-up runs this often; median kept
SKETCH_QUERIES = ("hll_rollup", "bloom_semi_join")
PYTHON_PLAN_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "AggregateInPandas")


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: int
    trace: bool
    root: str
    run_dir: str
    cache_dir: str
    cores: int


def host_config(ctx: Ctx) -> dict:
    """Spark settings fitted to this host: at most 4 local cores, a
    driver heap of a quarter of RAM (1-2 GiB), every scratch directory
    inside the run directory."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    mem_gb = max(1, min(2, total_kb // (4 << 20)))
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.master": f"local[{ctx.cores}]",
        "spark.driver.memory": f"{mem_gb}g",
        "spark.sql.shuffle.partitions": str(ctx.cores),
        "spark.default.parallelism": str(ctx.cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if ctx.trace:
        evdir = os.path.join(ctx.run_dir, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    return conf


def start_session(conf: dict):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("perfbench")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warmup(spark, cores: int) -> None:
    """Start every Python worker and run the first hash and kernel call
    in each, so no timed call pays for lazy start-up."""
    def work(batches):
        import pandas as pd

        from cuckoo_filter_spark.hashing import metro64_batch
        from cuckoo_filter_spark.kernel.filter import CuckooKernel

        for pdf in batches:
            keys = pdf["id"].astype(str).to_numpy(dtype=object)
            kern = CuckooKernel.for_capacity(len(keys) + 64)
            kern.add_unique(keys)
            yield pd.DataFrame({"n": [int(kern.contain(keys).sum()),
                                      len(metro64_batch(keys))]})

    spark.range(0, cores * 10_000, 1, cores * 2).mapInPandas(work, "n long").collect()


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------

def _ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def process_tree(root: int) -> list[int]:
    kids: dict[int, list] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        pp = _ppid(pid)
        if pp is not None:
            kids.setdefault(pp, []).append(int(pid))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb(root: int) -> dict[str, float]:
    """VmHWM in MB of this process (``driver``), the JVM (``jvm``) and its
    Python workers (``workers``, with their count), and their ``total``."""
    parts = {"driver": 0.0, "jvm": 0.0, "workers": 0.0, "n_workers": 0.0}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb = next((int(l.split()[1]) for l in fh if l.startswith("VmHWM:")), 0)
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                exe = os.path.basename(fh.read().split(b"\0")[0].decode())
        except OSError:
            continue
        if pid == root:
            parts["driver"] += kb / 1024.0
        elif exe == "java":
            parts["jvm"] += kb / 1024.0
        elif kb:
            parts["workers"] += kb / 1024.0
            parts["n_workers"] += 1
    parts["total"] = parts["driver"] + parts["jvm"] + parts["workers"]
    return parts


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------

def add_progress_listener(spark) -> list:
    """Record every micro-batch progress report in the returned list."""
    from pyspark.sql.streaming import StreamingQueryListener

    seen: list = []

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            seen.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Progress())
    return seen


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def per_layer(ctx: Ctx, wl, calls: list, passes: list, progress: list,
              last) -> tuple[dict, dict, dict]:
    """Per-layer metrics of the traced run (per timed pass), the call
    spans with their Spark jobs attached, and the full profile
    breakdown by label."""
    from perfbench import trace

    evdir = os.path.join(ctx.run_dir, "eventlog")
    logs = [os.path.join(evdir, f) for f in os.listdir(evdir)]
    log = trace.parse_event_log(logs[0])
    job_call = trace.assign_jobs(log, calls)
    units = len(passes)
    wall = sum(c["wall_s"] for c in calls)
    op = trace.operator_metrics(log, job_call, wall, ctx.cores)

    index = trace.ProfileIndex(ctx.root)
    prof: dict[str, float] = {}
    for c in calls:
        stats = trace.load_profiles(os.path.join(ctx.run_dir, "profile", c["id"]))
        for lab, s in trace.layer_times(stats, index).items():
            prof[lab] = prof.get(lab, 0.0) + s

    sketch_jobs = {j for j, cid in job_call.items()
                   if cid.split(".", 1)[1] in SKETCH_QUERIES}
    in_calls = [p for p in progress
                if any(c["start"] <= _epoch(p["timestamp"]) <= c["end"] for c in calls)]
    stream = trace.streaming_metrics(in_calls)

    call_nodes = {c["id"]: trace.span(c["id"], "call", c["start"], c["end"])
                  for c in calls}
    trace.attach_spark(call_nodes, log, job_call)

    counts = wl.layer_counts(last)
    keys = counts.get("hashing.keys", 0.0)
    per = 1.0 / units
    m = {
        "sources.scan_s": op["scan_s"] * per,
        "sources.bytes_read": op["bytes_read"] * per,
        "sources.rows_read": op["rows_read"] * per,
        "hashing.busy_s": prof.get("hashing", 0.0) * per,
        "hashing.keys": float(keys),
        "hashing.ns_per_key": prof.get("hashing", 0.0) * per / keys * 1e9 if keys else 0.0,
        "kernel.insert_busy_s": prof.get("kernel.insert", 0.0) * per,
        "kernel.kicks_per_insert": counts.get("kernel.kicks_per_insert", 0.0),
        "kernel.stored_per_row": counts.get("kernel.stored_per_row", 0.0),
        "kernel.victim_used": counts.get("kernel.victim_used", 0.0),
        "kernel.load_factor": counts.get("kernel.load_factor", 0.0),
        "kernel.lookup_busy_s": prof.get("kernel.lookup", 0.0) * per,
        "kernel.lookups": float(counts.get("kernel.lookups", 0.0)),
        "kernel.delete_busy_s": prof.get("kernel.delete", 0.0) * per,
        "kernel.codec_busy_s": prof.get("kernel.codec", 0.0) * per,
    }
    for k in ("python_start_s", "python_init_s", "python_run_s", "arrow_bytes_in",
              "arrow_bytes_out", "shuffle_bytes", "shuffle_write_s", "fetch_wait_s",
              "result_bytes", "jobs", "tasks", "gc_s"):
        m[f"operators.{k}"] = op[k] * per
    m["operators.task_skew"] = op["task_skew"]
    m["operators.core_util"] = op["core_util"]
    m["operators.udf_busy_s"] = prof.get("operators", 0.0) * per
    m["sketches.update_busy_s"] = prof.get("sketches.update", 0.0) * per
    m["sketches.merge_busy_s"] = prof.get("sketches.merge", 0.0) * per
    m["sketches.partial_bytes"] = trace.node_bytes_out(
        log, sketch_jobs, PYTHON_PLAN_NODES) * per
    for k, v in stream.items():
        m[f"streaming.{k}"] = v * per
    m["other.busy_s"] = prof.get("other", 0.0) * per
    return m, call_nodes, prof


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def run(ctx: Ctx) -> dict:
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    t_run = time.time()
    phases = []  # (name, start, end) spans of the set-up and check phases

    def phase(name, t0):
        t1 = time.time()
        phases.append(trace.span(name, "phase", t0, t1))
        return t1 - t0

    conf = host_config(ctx)
    t0 = time.time()
    spark = start_session(conf)
    session_s = phase("session", t0)
    import __spark_entry__ as entry

    t0 = time.time()
    entry._ensure_package(spark)
    warmup(spark, ctx.cores)
    warmup_s = phase("ship+warmup", t0)

    wl = WORKLOADS[ctx.workload](ctx)
    t0 = time.time()
    gen_s = wl.generate(spark)
    phase("generate", t0)
    prepare_s = []
    for k in range(SETUP_REPS):
        t0 = time.time()
        wl.prepare(spark)
        prepare_s.append(phase(f"prepare {k}", t0))
    t0 = time.time()
    wl.warm(spark)  # first call's lazy start-up (plan codegen, broadcast decode)
    warm_call_s = phase("warm call", t0)
    setup_s = session_s + warmup_s + warm_call_s + statistics.median(prepare_s)

    progress = add_progress_listener(spark) if ctx.trace else []
    if ctx.trace:
        spark.profile.clear()
    sc = spark.sparkContext
    calls, passes, last, last_name = [], [], None, None
    deadline = time.perf_counter() + ctx.seconds
    while True:
        p0 = time.time()
        pno = len(passes)
        for name, fn in wl.calls(pno):
            cid = f"p{pno}.{name}"
            sc.setJobDescription(f"perfbench {cid}")
            c0, t0 = time.time(), time.perf_counter()
            try:
                out = fn(spark)
                wall = time.perf_counter() - t0
                c1 = time.time()
                errs = wl.check(name, out)
                last, last_name = out, name
            except Exception as e:  # a failed call is counted, not fatal
                wall, c1 = time.perf_counter() - t0, time.time()
                errs = [f"{type(e).__name__}: {str(e)[:500]}"]
            sc.setJobDescription(None)
            if ctx.trace:
                spark.profile.dump(os.path.join(ctx.run_dir, "profile", cid), type="perf")
                spark.profile.clear()
            calls.append({"id": cid, "name": name, "pass": pno,
                          "desc": f"perfbench {cid}", "start": c0, "end": c1,
                          "wall_s": wall, "errors": errs})
        passes.append({"pass": pno, "start": p0, "end": time.time(),
                       "wall_s": sum(c["wall_s"] for c in calls if c["pass"] == pno)})
        if time.perf_counter() >= deadline:
            break

    rss = peak_rss_mb(os.getpid())
    t0 = time.time()
    if last is None:
        final_errs = ["no call succeeded"]
        selftest_ok, report = False, {}
    else:
        try:
            final_errs = wl.final_checks(spark, last)
        except Exception as e:  # a failed check is counted, not fatal
            final_errs = [f"{type(e).__name__}: {str(e)[:500]}"]
        calls[-1]["errors"] += final_errs
        # the checks must flag a deliberately corrupted copy of a result
        selftest_ok = bool(wl.check(last_name, wl.corrupt(last)))
        pass_s = statistics.median(p["wall_s"] for p in passes)
        report = wl.report(pass_s, calls, last)
    phase("checks", t0)

    result = {
        "workload": ctx.workload, "seed": ctx.seed, "trace": ctx.trace,
        "config": conf, "cores": ctx.cores,
        "setup": {"setup_s": setup_s, "session_s": session_s, "warmup_s": warmup_s,
                  "warm_call_s": warm_call_s, "prepare_s": prepare_s, "gen_s": gen_s},
        "pass_walls": [p["wall_s"] for p in passes],
        "calls": [{k: c[k] for k in ("id", "name", "wall_s", "errors")} for c in calls],
        "peak_rss_mb": rss,
        "selftest_ok": selftest_ok,
        "report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
    }
    spark.stop()  # flushes the event log
    if ctx.trace:
        layers, call_nodes, prof = per_layer(ctx, wl, calls, passes, progress, last)
        root = trace.span(f"run {ctx.workload} seed {ctx.seed}", "run", t_run, time.time())
        wl_node = trace.span(ctx.workload, "workload", t_run, root["end"])
        root["children"].append(wl_node)
        wl_node["children"].extend(phases)
        for p in passes:
            pnode = trace.span(f"pass {p['pass']}", "pass", p["start"], p["end"])
            pnode["children"] = [call_nodes[c["id"]] for c in calls
                                 if c["pass"] == p["pass"]]
            wl_node["children"].append(pnode)
        trace.finalize(root)
        layers["driver.self_s"] = sum(n["self"] for n in call_nodes.values()) \
            / len(passes)
        path = os.path.join(ctx.run_dir, "spans.json")
        with open(path, "w") as fh:
            json.dump(root, fh)
        result.update({"layers": layers, "profile_labels": prof,
                       "absent": {k: why for k, why in wl.absent.items()
                                  if k in layers},
                       "span_violations": trace.check_tree(root), "spans": path})
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    a = ap.parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    # any integer seed works: generators and Spark literals take 0 <= seed < 2^63
    ctx = Ctx(a.workload, a.seed % (1 << 63), a.seconds, bool(a.trace), root, a.run_dir,
              os.path.join(os.path.dirname(os.path.dirname(a.run_dir)), "cache"),
              min(len(os.sched_getaffinity(0)), 4))
    os.makedirs(ctx.cache_dir, exist_ok=True)
    result = run(ctx)
    with open(os.path.join(a.run_dir, f"result_t{a.trace}.json"), "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
