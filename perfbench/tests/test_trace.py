"""Fixture tests for the benchmark's parsers and checks. No Spark needed.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import cProfile
import importlib.util
import json
import os
import pstats
import sys

import pytest

from perfbench import checks, trace
from perfbench.run import tail_percentile

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

T0 = 1_700_000_000_000  # ms


def _task(stage, launch, finish, run_ms, accs, records=0, shuffle=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": T0 + launch, "Finish Time": T0 + finish,
                          "Accumulables": [{"ID": i, "Name": n, "Update": str(v)}
                                           for i, n, v in accs]},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 5,
                             "Result Size": 100,
                             "Input Metrics": {"Bytes Read": 1, "Records Read": records},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle,
                                                       "Shuffle Write Time": 2_000_000},
                             "Shuffle Read Metrics": {"Fetch Wait Time": 3}}}


def _event_log(tmp_path) -> str:
    plan = {"nodeName": "MapInPandas",
            "metrics": [{"name": "time to run Python workers", "accumulatorId": 11},
                        {"name": "data returned from Python workers", "accumulatorId": 12}],
            "children": [{"nodeName": "Scan parquet",
                          "metrics": [{"name": "size of files read", "accumulatorId": 13}],
                          "children": []}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 0, "accumUpdates": [[13, 4096]]},
        # job 0: tagged with the call's description
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": T0 + 100,
         "Stage IDs": [0], "Properties": {"spark.job.description": "perfbench p0.build",
                                          "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Stage Name": "s0", "Submission Time": T0 + 110,
                        "Completion Time": T0 + 900}},
        _task(0, 120, 500, 380, [(11, "time to run Python workers", 300),
                                 (12, "data returned from Python workers", 64)],
              records=10, shuffle=1000),
        _task(0, 120, 880, 760, [(11, "time to run Python workers", 700),
                                 (12, "data returned from Python workers", 36)],
              records=20, shuffle=500),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": T0 + 950},
        # job 1: untagged (e.g. a streaming micro-batch) inside the call
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": T0 + 960,
         "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Stage Name": "s1", "Submission Time": T0 + 961,
                        "Completion Time": T0 + 990}},
        _task(1, 962, 990, 20, []),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": T0 + 995},
        # job 2: after the call (a check), belongs to no call
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": T0 + 5000,
         "Stage IDs": [2], "Properties": {"spark.job.description": None}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Stage Name": "s2", "Submission Time": T0 + 5001,
                        "Completion Time": T0 + 5100}},
        _task(2, 5002, 5100, 98, []),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": T0 + 5100},
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(path)


CALL = {"id": "p0.build", "desc": "perfbench p0.build",
        "start": (T0 + 50) / 1e3, "end": (T0 + 1000) / 1e3}


def test_event_log_parse_and_attribution(tmp_path):
    log = trace.parse_event_log(_event_log(tmp_path))
    assert sorted(log.jobs) == [0, 1, 2]
    assert log.jobs[0].desc == "perfbench p0.build" and log.jobs[0].end_ms == T0 + 950
    assert log.tasks[0].sql == {"python_run_ms": 300.0, "arrow_bytes_out": 64.0}
    assert log.tasks[0].by_node[("MapInPandas", "python_run_ms")] == 300.0
    job_call = trace.assign_jobs(log, [CALL])
    assert job_call == {0: "p0.build", 1: "p0.build"}  # job 2 is outside

    m = trace.operator_metrics(log, job_call, wall_s=0.95, cores=2)
    assert m["python_run_s"] == pytest.approx(1.0)
    assert m["arrow_bytes_out"] == 100
    assert m["bytes_read"] == 4096  # driver-side "size of files read"
    assert m["rows_read"] == 30
    assert m["shuffle_bytes"] == 1500
    assert m["shuffle_write_s"] == pytest.approx(0.006)
    assert m["fetch_wait_s"] == pytest.approx(0.009)
    assert m["jobs"] == 2 and m["tasks"] == 3
    assert m["task_skew"] == pytest.approx(760 / 570)  # worst stage: max / median
    assert m["core_util"] == pytest.approx(1.16 / (0.95 * 2))
    assert trace.node_bytes_out(log, {0}, ("MapInPandas",)) == 100
    assert trace.node_bytes_out(log, {0}, ("FlatMapGroupsInPandas",)) == 0


def test_span_tree_self_times(tmp_path):
    log = trace.parse_event_log(_event_log(tmp_path))
    job_call = trace.assign_jobs(log, [CALL])
    calls = {CALL["id"]: trace.span(CALL["id"], "call", CALL["start"], CALL["end"])}
    trace.attach_spark(calls, log, job_call)
    root = trace.span("run", "run", CALL["start"] - 1, CALL["end"] + 1)
    root["children"].append(calls[CALL["id"]])
    trace.finalize(root)
    assert trace.check_tree(root) == []
    call = calls[CALL["id"]]
    # jobs cover 100..950 and 960..995 of the call's 50..1000 ms
    assert call["self"] == pytest.approx((50 + 10 + 5) / 1e3)
    stage0 = call["children"][0]["children"][0]
    # two parallel tasks (120..500, 120..880) count once inside 110..900
    assert stage0["self"] == pytest.approx((10 + 20) / 1e3)

    def walk(n):
        for c in n["children"]:
            assert 0 <= c["self"] <= n["dur"] + 1e-9
            walk(c)
    walk(root)


def test_span_tree_flags_a_child_longer_than_its_parent():
    parent = trace.span("call", "call", 0.0, 1.0)
    parent["children"].append(trace.span("job", "job", 0.5, 3.0))
    trace.finalize(parent)
    assert parent["self"] == pytest.approx(0.5)  # the child is clipped
    bad = trace.check_tree(parent)
    assert len(bad) == 1 and "exceeds parent" in bad[0]


def test_streaming_metrics():
    prog = [
        {"runId": "a", "durationMs": {"triggerExecution": 1500},
         "stateOperators": [{"numRowsTotal": 7, "allUpdatesTimeMs": 200,
                             "commitTimeMs": 50}]},
        {"runId": "a", "durationMs": {"triggerExecution": 500},
         "stateOperators": [{"numRowsTotal": 3, "allUpdatesTimeMs": 100,
                             "commitTimeMs": 25}]},
        {"runId": "b", "durationMs": {"triggerExecution": 1000}, "stateOperators": []},
    ]
    m = trace.streaming_metrics(prog)
    assert m == {"batches": 3, "trigger_s": 3.0, "state_rows": 3.0,
                 "state_update_s": pytest.approx(0.3),
                 "state_commit_s": pytest.approx(0.075)}


# --------------------------------------------------------------------------
# profiles
# --------------------------------------------------------------------------

FILES = {
    "cuckoo_filter_spark/__init__.py": "",
    "cuckoo_filter_spark/hashing.py": (
        "import numpy as np\n"
        "\n"
        "def metro(xs):\n"
        "    return np.sort(np.asarray(xs) * 3)\n"),
    "cuckoo_filter_spark/kernel/filter.py": (
        "from cuckoo_filter_spark.hashing import metro\n"
        "\n"
        "def split(h):\n"
        "    return [int(x) % 7 for x in h]\n"
        "\n"
        "class CuckooKernel:\n"
        "    @staticmethod\n"
        "    def insert_pairs(xs):\n"
        "        return split(metro(xs))\n"
        "\n"
        "    def contain(self, xs):\n"
        "        return split(xs)\n"),
    # the same basename in two layers, at different lines
    "cuckoo_filter_spark/operators/dedup.py": (
        "from cuckoo_filter_spark.kernel.filter import CuckooKernel\n"
        "\n"
        "def emit(xs):\n"
        "    return CuckooKernel.insert_pairs(xs)\n"),
    "cuckoo_filter_spark/streaming/dedup.py": (
        "\n"
        "\n"
        "\n"
        "\n"
        "def emit(xs):\n"
        "    return sorted(xs)\n"),
}


def _fake_package(tmp_path):
    for rel, src in FILES.items():
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(src)
    saved = {k: sys.modules.pop(k) for k in list(sys.modules)
             if k.split(".")[0] == "cuckoo_filter_spark"}
    sys.path.insert(0, str(tmp_path))
    try:
        mods = {}
        for name in ("cuckoo_filter_spark.operators.dedup",
                     "cuckoo_filter_spark.streaming.dedup"):
            spec = importlib.util.spec_from_file_location(
                name, tmp_path / (name.replace(".", "/") + ".py"))
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
            mods[name.split(".")[1]] = mod
        return mods
    finally:
        sys.path.remove(str(tmp_path))
        for k in [k for k in sys.modules if k.split(".")[0] == "cuckoo_filter_spark"]:
            del sys.modules[k]
        sys.modules.update(saved)


def test_profile_rows_resolve_by_basename_line_and_function(tmp_path):
    mods = _fake_package(tmp_path)
    index = trace.ProfileIndex(str(tmp_path), extra=())
    assert index.resolve(("dedup.py", 3, "emit")) == (
        "cuckoo_filter_spark/operators/dedup.py", "emit")
    assert index.resolve(("dedup.py", 5, "emit")) == (
        "cuckoo_filter_spark/streaming/dedup.py", "emit")
    # decorated methods are keyed by their first decorator line too
    assert index.resolve(("filter.py", 7, "insert_pairs")) == (
        "cuckoo_filter_spark/kernel/filter.py", "CuckooKernel.insert_pairs")
    assert index.resolve(("base.py", 3, "emit")) is None  # e.g. pandas' base.py
    assert index.resolve(("dedup.py", 4, "emit")) is None  # no such code object
    assert mods  # imported for the real-profile test below


def test_layer_times_partition_a_real_profile(tmp_path):
    mods = _fake_package(tmp_path)
    index = trace.ProfileIndex(str(tmp_path), extra=())
    xs = list(range(20_000))
    pr = cProfile.Profile()
    pr.enable()
    mods["operators"].emit(xs)
    mods["streaming"].emit(xs)
    pr.disable()
    stats = pstats.Stats(pr).strip_dirs().stats
    labels = trace.layer_times(stats, index)
    total = sum(row[2] for row in stats.values())
    assert sum(labels.values()) == pytest.approx(total)
    assert labels["hashing"] > 0          # np.sort / asarray count as hashing
    assert labels["kernel.insert"] > 0
    assert labels["kernel.insert"] >= labels.get("kernel.lookup", 0.0)
    assert labels["operators"] > 0
    assert labels["streaming"] > 0        # builtin sorted() from streaming/dedup.py
    assert set(labels) <= {"hashing", "kernel.insert", "operators", "streaming",
                           "other"}


def test_layer_times_inherit_and_other():
    index = type("I", (), {"resolve": staticmethod(lambda key: {
        ("hashing.py", 1, "h"): ("cuckoo_filter_spark/hashing.py", "h"),
        ("filter.py", 5, "split"): ("cuckoo_filter_spark/kernel/filter.py", "split"),
        ("filter.py", 9, "contain"): ("cuckoo_filter_spark/kernel/filter.py", "contain"),
        ("sharded.py", 2, "route"): ("cuckoo_filter_spark/operators/sharded.py", "route"),
    }.get(key))})()
    worker = ("worker.py", 10, "main")
    stats = {
        worker: (1, 1, 0.5, 4.0, {}),
        ("hashing.py", 1, "h"): (1, 1, 1.0, 1.5, {worker: (1, 1, 1.0, 1.5)}),
        ("~", 0, "<built-in method numpy.sort>"): (
            2, 2, 0.75, 0.75, {("hashing.py", 1, "h"): (1, 1, 0.5, 0.5),
                               worker: (1, 1, 0.25, 0.25)}),
        ("filter.py", 9, "contain"): (1, 1, 0.5, 1.0, {worker: (1, 1, 0.5, 1.0)}),
        ("filter.py", 5, "split"): (
            2, 2, 0.5, 0.5, {("filter.py", 9, "contain"): (1, 1, 0.25, 0.25),
                             ("sharded.py", 2, "route"): (1, 1, 0.25, 0.25)}),
        ("sharded.py", 2, "route"): (1, 1, 0.25, 0.5, {worker: (1, 1, 0.25, 0.5)}),
    }
    labels = trace.layer_times(stats, index)
    assert labels == pytest.approx({
        "other": 0.5 + 0.25,                # the worker and the sort it called
        "hashing": 1.0 + 0.5,               # its own time and its sort call
        "kernel.lookup": 0.5 + 0.25,        # contain and the split it called
        "kernel.other": 0.25,               # split called from outside the kernel
        "operators": 0.25,
    })


# --------------------------------------------------------------------------
# checks and report helpers
# --------------------------------------------------------------------------

def test_checks_flag_corrupted_results(monkeypatch):
    assert checks.no_false_negatives(0, 5, "m") == []
    assert checks.no_false_negatives(1, 5, "m")
    assert checks.fp_within_bound(20, 100_000, 4, 16, "fp") == []
    assert checks.fp_within_bound(60, 100_000, 4, 16, "fp")
    assert checks.at_least(5, 6, "hits")
    assert checks.same_as(3, 4, "stored")

    monkeypatch.chdir(REPO)  # the oracle comparison imports tests/test_entry_contract.py
    cols = ["grp", "n_rows", "sum_qty"]
    rows = [("AF", 3, 1.5), ("NO", 2, 0.25)]
    want = checks.oracle_rows(rows, cols)
    assert checks.matches_oracle(list(reversed(rows)), cols, want, cols, "q") == []
    assert checks.matches_oracle(rows[:1], cols, want, cols, "q")
    assert checks.matches_oracle([("AF", 3, 1.5), ("NO", 2, 0.26)], cols, want, cols, "q")
    assert checks.matches_oracle([("AF", 4, 1.5), ("NO", 2, 0.25)], cols, want, cols, "q")
    assert checks.matches_oracle(rows, ["grp", "n", "sum_qty"], want, cols, "q")


def test_tail_percentile_has_ten_samples_beyond_it():
    assert tail_percentile(list(range(10))) is None
    assert tail_percentile([float(x) for x in range(11)]) == ("p9", 0.0)
    label, value = tail_percentile([float(x) for x in range(100)])
    assert (label, value) == ("p90", 89.0)
    assert sum(x > value for x in range(100)) == 10
