"""Parsers for the traced run: Spark's event log, the UDF profiler's
pstats dumps and the benchmark's own span tree.

All inputs come from Spark's own instruments, read from outside the
library: ``spark.eventLog`` (per-task metrics and SQL accumulators),
``spark.sql.pyspark.udf.profiler=perf`` (cProfile inside every Python
UDF worker) and a ``StreamingQueryListener``. Nothing here imports the
library under test.
"""

from __future__ import annotations

import ast
import json
import os
import statistics
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

# SQL accumulator names (Spark 4) -> short keys used in the metrics.
SQL_METRICS = {
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "arrow_bytes_in",
    "data returned from Python workers": "arrow_bytes_out",
    "scan time": "scan_ms",
}


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: float
    gc_ms: float
    result_bytes: float
    records_read: float
    shuffle_bytes: float
    shuffle_write_ns: float
    fetch_wait_ms: float
    sql: dict = field(default_factory=dict)  # SQL_METRICS key -> value
    # (plan node name, SQL_METRICS key) -> value
    by_node: dict = field(default_factory=dict)


@dataclass
class Stage:
    id: int
    name: str
    submit_ms: int
    complete_ms: int


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int
    stage_ids: list
    desc: str | None
    execution: str | None = None  # SQL execution id


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)    # job id -> Job
    stages: dict = field(default_factory=dict)  # stage id -> Stage
    tasks: list = field(default_factory=list)
    # SQL execution id -> driver-side metric name -> total
    driver_metrics: dict = field(default_factory=dict)


def _walk_plan(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", "?"), m.get("name", "?"))
    for child in info.get("children", []):
        _walk_plan(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(path: str) -> EventLog:
    """Read an uncompressed, non-rolling Spark event log (JSON lines)."""
    log = EventLog()
    accums: dict[int, tuple] = {}  # accumulator id -> (plan node, metric)
    raw_tasks = []
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart") or \
                    kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk_plan(e.get("sparkPlanInfo", {}), accums)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                m = log.driver_metrics.setdefault(str(e["executionId"]), {})
                for acc_id, v in e["accumUpdates"]:
                    name = accums.get(acc_id, ("?", "?"))[1]
                    m[name] = m.get(name, 0.0) + _num(v)
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                log.jobs[e["Job ID"]] = Job(
                    e["Job ID"], e["Submission Time"], e["Submission Time"],
                    list(e["Stage IDs"]), props.get("spark.job.description"),
                    props.get("spark.sql.execution.id"))
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(e["Job ID"])
                if job is not None:
                    job.end_ms = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                sub = si.get("Submission Time") or si.get("Completion Time") or 0
                log.stages[si["Stage ID"]] = Stage(
                    si["Stage ID"], si.get("Stage Name", ""), sub,
                    si.get("Completion Time") or sub)
            elif kind == "SparkListenerTaskEnd":
                raw_tasks.append(e)
    for e in raw_tasks:
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        im = tm.get("Input Metrics") or {}
        task = Task(
            stage=e["Stage ID"], launch_ms=info["Launch Time"],
            finish_ms=info["Finish Time"],
            run_ms=_num(tm.get("Executor Run Time")),
            gc_ms=_num(tm.get("JVM GC Time")),
            result_bytes=_num(tm.get("Result Size")),
            records_read=_num(im.get("Records Read")),
            shuffle_bytes=_num(sw.get("Shuffle Bytes Written")),
            shuffle_write_ns=_num(sw.get("Shuffle Write Time")),
            fetch_wait_ms=_num(sr.get("Fetch Wait Time")))
        for acc in info.get("Accumulables", []):
            key = SQL_METRICS.get(acc.get("Name"))
            if key is None:
                continue
            v = _num(acc.get("Update"))
            task.sql[key] = task.sql.get(key, 0.0) + v
            nk = (accums.get(acc.get("ID"), ("?",))[0], key)
            task.by_node[nk] = task.by_node.get(nk, 0.0) + v
        log.tasks.append(task)
    return log


def assign_jobs(log: EventLog, calls: list[dict]) -> dict[int, str]:
    """Job id -> call id. A job belongs to the call whose description it
    carries; a job without one (streaming micro-batches run on their own
    thread) belongs to the call whose wall interval holds its submission.
    Jobs outside every call (set-up, checks) are left out."""
    by_desc = {c["desc"]: c["id"] for c in calls}
    out = {}
    for job in log.jobs.values():
        cid = by_desc.get(job.desc)
        if cid is None:
            for c in calls:
                if c["start"] * 1000 <= job.submit_ms <= c["end"] * 1000:
                    cid = c["id"]
                    break
        if cid is not None:
            out[job.id] = cid
    return out


def stage_to_job(log: EventLog) -> dict[int, int]:
    """Stage id -> the job that ran it: the first listing job whose
    interval holds the stage's submission (a skipped stage is listed by
    later jobs too)."""
    out: dict[int, int] = {}
    for job in sorted(log.jobs.values(), key=lambda j: j.id):
        for sid in job.stage_ids:
            st = log.stages.get(sid)
            if sid in out or st is None:
                continue
            if job.submit_ms <= st.submit_ms <= max(job.end_ms, job.submit_ms):
                out[sid] = job.id
    return out


def skew(run_ms: list[float]) -> float:
    """Max over median task run time (median floored at 1 ms)."""
    return max(run_ms) / max(statistics.median(run_ms), 1.0)


def operator_metrics(log: EventLog, job_call: dict[int, str], wall_s: float,
                     cores: int) -> dict[str, float]:
    """Totals of the Spark-side metrics over every task of the given jobs.
    ``wall_s`` is the summed wall time of the calls the jobs belong to."""
    s2j = stage_to_job(log)
    tasks = [t for t in log.tasks if s2j.get(t.stage) in job_call]
    per_stage: dict[int, list] = {}
    for t in tasks:
        per_stage.setdefault(t.stage, []).append(t.run_ms)
    m = {k: 0.0 for k in SQL_METRICS.values()}
    for t in tasks:
        for k, v in t.sql.items():
            m[k] += v
    run_ms = sum(t.run_ms for t in tasks)
    executions = {log.jobs[j].execution for j in job_call} - {None}
    files_read = sum(log.driver_metrics.get(x, {}).get("size of files read", 0.0)
                     for x in executions)
    return {
        "python_start_s": m["python_start_ms"] / 1e3,
        "python_init_s": m["python_init_ms"] / 1e3,
        "python_run_s": m["python_run_ms"] / 1e3,
        "arrow_bytes_in": m["arrow_bytes_in"],
        "arrow_bytes_out": m["arrow_bytes_out"],
        "scan_s": m["scan_ms"] / 1e3,
        "bytes_read": files_read,
        "rows_read": sum(t.records_read for t in tasks),
        "shuffle_bytes": sum(t.shuffle_bytes for t in tasks),
        "shuffle_write_s": sum(t.shuffle_write_ns for t in tasks) / 1e9,
        "fetch_wait_s": sum(t.fetch_wait_ms for t in tasks) / 1e3,
        "result_bytes": sum(t.result_bytes for t in tasks),
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "task_skew": max((skew(v) for v in per_stage.values() if len(v) > 1),
                         default=1.0),
        "jobs": float(len(job_call)),
        "tasks": float(len(tasks)),
        "core_util": run_ms / 1e3 / max(wall_s * cores, 1e-9),
    }


def node_bytes_out(log: EventLog, job_ids, node_prefixes: tuple) -> float:
    """Arrow bytes returned from Python by plan nodes whose name starts
    with one of ``node_prefixes``, over the tasks of ``job_ids``."""
    s2j = stage_to_job(log)
    total = 0.0
    for t in log.tasks:
        if s2j.get(t.stage) not in job_ids:
            continue
        for (node, key), v in t.by_node.items():
            if key == "arrow_bytes_out" and node.startswith(node_prefixes):
                total += v
    return total


# --------------------------------------------------------------------------
# span tree
# --------------------------------------------------------------------------

def span(name: str, kind: str, start: float, end: float, **attrs) -> dict:
    return {"name": name, "kind": kind, "start": start, "end": end,
            "attrs": attrs, "children": []}


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def finalize(node: dict) -> dict:
    """Set ``dur`` and ``self`` on every node: self time is the node's
    duration minus the part of its interval that its children cover
    (children are clipped to the parent, and parallel children count
    once)."""
    node["dur"] = max(node["end"] - node["start"], 0.0)
    clipped = []
    for c in node["children"]:
        finalize(c)
        s, e = max(c["start"], node["start"]), min(c["end"], node["end"])
        if e > s:
            clipped.append((s, e))
    node["self"] = node["dur"] - _covered(clipped)
    return node


def check_tree(node: dict, eps: float = 1e-9) -> list[str]:
    """Invariant violations of a finalized tree: a self time outside
    [0, dur], or a child whose self time exceeds its parent's span."""
    bad = []
    if not -eps <= node["self"] <= node["dur"] + eps:
        bad.append(f"{node['kind']}:{node['name']} self {node['self']:.6f} "
                   f"outside [0, {node['dur']:.6f}]")
    for c in node["children"]:
        if c["self"] > node["dur"] + eps:
            bad.append(f"{c['kind']}:{c['name']} self {c['self']:.6f} exceeds "
                       f"parent {node['kind']}:{node['name']} {node['dur']:.6f}")
        bad.extend(check_tree(c, eps))
    return bad


def attach_spark(calls: dict[str, dict], log: EventLog,
                 job_call: dict[int, str]) -> None:
    """Hang job -> stage -> task spans under each call span (times in
    seconds since the epoch, as the event log records them)."""
    s2j = stage_to_job(log)
    job_nodes = {}
    for jid, cid in sorted(job_call.items()):
        job = log.jobs[jid]
        node = span(f"job {jid}", "job", job.submit_ms / 1e3, job.end_ms / 1e3)
        calls[cid]["children"].append(node)
        job_nodes[jid] = node
    stage_nodes = {}
    for sid, jid in s2j.items():
        if jid in job_nodes:
            st = log.stages[sid]
            node = span(f"stage {sid}", "stage", st.submit_ms / 1e3,
                        st.complete_ms / 1e3, stage_name=st.name)
            job_nodes[jid]["children"].append(node)
            stage_nodes[sid] = node
    for t in log.tasks:
        if t.stage in stage_nodes:
            stage_nodes[t.stage]["children"].append(
                span("task", "task", t.launch_ms / 1e3, t.finish_ms / 1e3,
                     run_ms=t.run_ms))


# --------------------------------------------------------------------------
# UDF profiles
# --------------------------------------------------------------------------

def module_layer(relpath: str) -> str:
    """Layer of a module, named after the package's own sub-packages."""
    parts = relpath.split("/")
    if parts[0] != "cuckoo_filter_spark":
        return "entry"
    if len(parts) == 2:
        return {"hashing.py": "hashing", "params.py": "kernel"}.get(parts[1], "package")
    return parts[1]


KERNEL_GROUPS = {
    "insert": {"add", "add_hashed", "add_unique", "add_unique_hashed",
               "_insert_frontier", "_insert_frontier_chunk", "_rollback_one",
               "_evict_choice", "insert_pairs", "merge", "canonical_pair"},
    "lookup": {"contain", "contain_hashed"},
    "delete": {"delete", "delete_hashed", "_delete_vectorized",
               "_delete_sequential"},
    "codec": {"to_bytes", "from_bytes", "encode_chunks", "_encoded_header",
              "CuckooProbe.__init__"},
}
SKETCH_UPDATE = {"update", "update_hashed", "_bit_length", "_positions",
                 "partial", "emit", "hasher"}


def function_label(relpath: str, qualname: str) -> tuple[str, bool]:
    """(label, definite). A non-definite label names a layer whose
    helpers take the group of their callers within that layer."""
    layer = module_layer(relpath)
    name = qualname.rsplit(".", 1)[-1]
    if layer == "kernel":
        if relpath.endswith(("bitpack.py", "perm.py")):
            return "kernel.codec", True
        for group, names in KERNEL_GROUPS.items():
            if qualname in names or name in names:
                return f"kernel.{group}", True
        return "kernel", False
    if layer == "sketches":
        if "merge" in name or name == "combine":
            return "sketches.merge", True
        if name in SKETCH_UPDATE:
            return "sketches.update", True
        return "sketches", False
    return layer, True


class ProfileIndex:
    """Maps profiler rows ``(file, line, function)`` to package modules.

    The UDF profiler strips directories, so ``dedup.py`` may be
    ``operators/dedup.py`` or ``streaming/dedup.py``, and ``base.py``
    may be pandas'. A row is resolved only when its basename, first line
    and function name match a code object found by parsing the package
    source; anything else (pandas, pyarrow, pyspark, builtins) takes the
    label of its callers."""

    _COMP = {ast.ListComp: "<listcomp>", ast.SetComp: "<setcomp>",
             ast.DictComp: "<dictcomp>", ast.GeneratorExp: "<genexpr>",
             ast.Lambda: "<lambda>"}

    def __init__(self, root: str, package: str = "cuckoo_filter_spark",
                 extra: tuple = ("__spark_entry__.py",)):
        self.code: dict[tuple, set] = {}
        files = [os.path.join(dp, f)
                 for dp, _, fs in os.walk(os.path.join(root, package))
                 for f in fs if f.endswith(".py")]
        files += [os.path.join(root, f) for f in extra
                  if os.path.exists(os.path.join(root, f))]
        for path in sorted(files):
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            with open(path) as fh:
                tree = ast.parse(fh.read())
            self._index(rel, tree)

    def _add(self, rel: str, line: int, name: str, qual: str) -> None:
        key = (os.path.basename(rel), line, name)
        self.code.setdefault(key, set()).add((rel, qual))

    def _index(self, rel: str, tree: ast.Module) -> None:
        for line in (0, 1):
            self._add(rel, line, "<module>", "<module>")

        def visit(node, prefix):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                      ast.ClassDef)):
                    qual = prefix + child.name
                    lines = {child.lineno} | {d.lineno for d in child.decorator_list}
                    for ln in lines:
                        self._add(rel, ln, child.name, qual)
                    visit(child, qual + ".")
                else:
                    comp = self._COMP.get(type(child))
                    if comp is not None:
                        self._add(rel, child.lineno, comp, prefix + comp)
                    visit(child, prefix)

        visit(tree, "")

    def resolve(self, key: tuple) -> tuple[str, str] | None:
        """(module path, qualified name) of a profiler row, or None when
        the row is not package code or matches more than one module."""
        fname, line, func = key
        hits = self.code.get((os.path.basename(fname), line, func))
        if not hits or len({rel for rel, _ in hits}) > 1:
            return None
        return min(hits)


def layer_times(stats: dict, index: ProfileIndex) -> dict[str, float]:
    """Split every profiled second (each row's own time) over labels.

    A package row keeps its own label. Any other row (builtins, numpy,
    pandas, pyspark) takes the labels of its callers, weighted by the
    time each caller spent in it, so C work done for ``hashing`` counts
    as hashing. Time with no package caller is ``other``. The labels
    therefore partition the profile total."""
    memo: dict[tuple, dict] = {}
    busy = object()

    def own(key):
        hit = index.resolve(key)
        return None if hit is None else function_label(*hit)

    def remap(d: dict, layer: str) -> dict:
        out: dict = {}
        for lab, w in d.items():
            lab = lab if lab.startswith(layer + ".") else layer + ".other"
            out[lab] = out.get(lab, 0.0) + w
        return out

    def from_callers(key, col: int) -> dict:
        callers = {c: v for c, v in stats[key][4].items() if c != key}
        weights = {c: v[col] for c, v in callers.items()}
        total = sum(weights.values())
        if total <= 0:
            weights = {c: v[1] for c, v in callers.items()}
            total = sum(weights.values())
        if total <= 0:
            return {"other": 1.0}
        out: dict = {}
        for c, w in weights.items():
            for lab, cw in dist(c).items():
                out[lab] = out.get(lab, 0.0) + w / total * cw
        return out

    def labelled(key, d: dict) -> dict:
        lab = own(key)
        if lab is None:
            return d
        label, definite = lab
        return {label: 1.0} if definite else remap(d, label)

    def dist(key) -> dict:
        got = memo.get(key)
        if got is busy:
            return {"other": 1.0}
        if got is not None:
            return got
        if key not in stats:
            return {"other": 1.0}
        lab = own(key)
        if lab is not None and lab[1]:
            memo[key] = {lab[0]: 1.0}
            return memo[key]
        memo[key] = busy
        memo[key] = labelled(key, from_callers(key, 3))
        return memo[key]

    out: dict[str, float] = {}
    for key, row in stats.items():
        tt = row[2]
        if tt <= 0:
            continue
        lab = own(key)
        d = {lab[0]: 1.0} if lab and lab[1] else labelled(key, from_callers(key, 2))
        for label, w in d.items():
            out[label] = out.get(label, 0.0) + tt * w
    return out


def load_profiles(directory: str):
    """Merged ``pstats`` rows of every dump in ``directory`` ({} if none)."""
    import pstats

    files = sorted(os.path.join(directory, f) for f in os.listdir(directory)
                   if f.endswith(".pstats")) if os.path.isdir(directory) else []
    if not files:
        return {}
    st = pstats.Stats(files[0])
    for f in files[1:]:
        st.add(f)
    return st.stats


# --------------------------------------------------------------------------
# streaming progress
# --------------------------------------------------------------------------

def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    """Totals over micro-batch progress reports; ``state_rows`` is the
    state size each query reported last, summed over queries."""
    last_rows: dict[str, float] = {}
    m = {"batches": 0.0, "trigger_s": 0.0, "state_rows": 0.0,
         "state_update_s": 0.0, "state_commit_s": 0.0}
    for p in progress:
        m["batches"] += 1
        m["trigger_s"] += p.get("durationMs", {}).get("triggerExecution", 0) / 1e3
        ops = p.get("stateOperators") or []
        m["state_update_s"] += sum(o.get("allUpdatesTimeMs", 0) for o in ops) / 1e3
        m["state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1e3
        last_rows[p.get("runId", p.get("id", "?"))] = sum(
            o.get("numRowsTotal", 0) for o in ops)
    m["state_rows"] = float(sum(last_rows.values()))
    return m
