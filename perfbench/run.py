"""Benchmark entry point.

    python3 perfbench/run.py --workload url_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each workload runs in a fresh Python
process with its own Spark session (``perfbench/child.py``); sessions
never overlap. With ``--trace 1`` the same workload and seed run twice,
untraced and then traced, so the tracing overhead is the difference.

Prints a report, then as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (untraced) or the per-layer metrics (traced) of BENCHMARK.json.
Exits non-zero without that line when the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.child import process_tree  # noqa: E402
BUDGET_S = 160.0  # the whole command, clean-up included, must end within 180 s
NEEDED = ("cuckoo_filter_spark", "__spark_entry__.py",
          os.path.join("tests", "test_entry_contract.py"))


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def tail_percentile(values: list[float]) -> tuple[str, float] | None:
    """The highest percentile with at least ten samples above it, as
    (label, value); None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    k = n - 10  # the k-th smallest value has exactly ten samples above it
    return f"p{100.0 * k / n:.0f}", sorted(values)[k - 1]


def become_subreaper() -> None:
    """Have orphaned descendants reparented to this process, so that the
    JVM and the PySpark daemon (which starts its own process group) can
    still be found and waited for after the session process exits."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants(grace_s: float = 5.0) -> None:
    """Wait for every process this command started, directly or not, to
    end: first on their own, then after SIGTERM, then after SIGKILL."""
    me = os.getpid()
    start = time.monotonic()
    while True:
        while True:  # reap whatever has exited
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        left = [p for p in process_tree(me) if p != me]
        if not left:
            return
        waited = time.monotonic() - start
        if waited > grace_s:
            sig = signal.SIGTERM if waited < 3 * grace_s else signal.SIGKILL
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def run_child(root: str, run_dir: str, args, trace: int, timeout: float) -> dict | None:
    scratch = os.path.join(run_dir, f"scratch_t{trace}")
    tmp, local = os.path.join(scratch, "tmp"), os.path.join(scratch, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp, SPARK_GRAFT_TMP=tmp, SPARK_LOCAL_DIRS=local,
               PYSPARK_PYTHON=sys.executable)
    env.pop("SPARK_GRAFT_SHARD_DIR", None)  # keep shard blobs in the run's scratch
    # the launcher JVM that spark-submit starts would write /tmp/hsperfdata_*
    env["SPARK_LAUNCHER_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}")))
    cmd = [sys.executable, "-m", "perfbench.child", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace), "--run-dir", run_dir]
    log_path = os.path.join(run_dir, f"child_t{trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        finally:
            stop_descendants()
    shutil.rmtree(scratch, ignore_errors=True)
    out = os.path.join(run_dir, f"result_t{trace}.json")
    if code != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: {args.workload} session (trace={trace}) {why}",
              file=sys.stderr)
        return None
    with open(out) as fh:
        return json.load(fh)


def end_to_end(res: dict) -> dict[str, float]:
    rss = res["peak_rss_mb"]
    return {"setup_s": res["setup"]["setup_s"],
            "pass_s": statistics.median(res["pass_walls"]),
            "py_peak_rss_mb": rss["driver"] + rss["workers"]}


def print_report(res: dict, spec: dict) -> None:
    e2e = end_to_end(res)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    calls = res["calls"]
    failed = sum(bool(c["errors"]) for c in calls)
    conf = res["config"]
    print(f"== {res['workload']} seed={res['seed']} trace={int(res['trace'])} "
          f"master={conf['spark.master']} driver={conf['spark.driver.memory']}")
    s = res["setup"]
    print(f"  setup_s            {e2e['setup_s']:.4f} s  (session {s['session_s']:.3f} "
          f"+ ship/warmup {s['warmup_s']:.3f} + warm call {s['warm_call_s']:.3f} "
          f"+ median prepare of {[round(x, 3) for x in s['prepare_s']]}); "
          f"input generation {s['gen_s']:.3f} s, not counted")
    walls = res["pass_walls"]
    tail = tail_percentile(walls)
    tail_s = f"{tail[0]} {tail[1]:.4f} s" if tail else "no tail percentile (n<11)"
    print(f"  pass_s             p50 {e2e['pass_s']:.4f} s, {tail_s}, n={len(walls)}")
    for name, r in res["report"].items():
        print(f"  {name:<18} {r['value']:.6g} {r['unit']}")
    rss = res["peak_rss_mb"]
    print(f"  peak_rss_mb        {rss['total']:.1f} MB (driver {rss['driver']:.1f} "
          f"+ JVM {rss['jvm']:.1f} + {rss['n_workers']:.0f} Python workers "
          f"{rss['workers']:.1f})")
    print(f"  py_peak_rss_mb     {e2e['py_peak_rss_mb']:.1f} MB")
    print(f"  failed_frac        {failed / max(len(calls), 1):.4f} "
          f"({failed} of {len(calls)} calls)")
    for c in calls:
        for err in c["errors"]:
            print(f"  FAILED {c['id']}: {err}")
    print(f"  self-test (corrupted result is flagged): "
          f"{'ok' if res['selftest_ok'] else 'FAILED'}")
    if "layers" in res:
        print(f"  span tree: {res['spans']}")
        for v in res["span_violations"]:
            print(f"  SPAN VIOLATION {v}")
        for name, v in res["layers"].items():
            why = res["absent"].get(name)
            note = f"  (absent: {why})" if why else ""
            print(f"  {name:<28} {v:.6g} {units.get(name, '')}{note}")
        total = sum(res["profile_labels"].values())
        print(f"  profiled UDF time {total:.3f} s by label: " + ", ".join(
            f"{k} {v:.3f}" for k, v in sorted(res["profile_labels"].items(),
                                             key=lambda kv: -kv[1])))


def main(argv=None) -> int:
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.monotonic()
    become_subreaper()
    root = os.getcwd()
    missing = [p for p in NEEDED if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the root of a checkout of the library; "
              f"missing {missing}", file=sys.stderr)
        return 2
    run_dir = os.path.join(root, ".perfbench", "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)

    results = {}
    for trace in ([0, 1] if args.trace else [0]):
        left = BUDGET_S - (time.monotonic() - t_start)
        limit = min(left, BUDGET_S / 2) if args.trace and trace == 0 else left
        res = run_child(root, run_dir, args, trace, limit)
        if res is None:
            return 1
        print_report(res, spec)
        results[trace] = res

    calls = [c for r in results.values() for c in r["calls"]]
    failed = sum(bool(c["errors"]) for c in calls)
    correct = failed == 0 and all(r["selftest_ok"] for r in results.values())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        traced = results[1]
        values = dict(traced["layers"])
        base, over = end_to_end(results[0]), end_to_end(traced)
        for k in base:
            values[f"overhead.{k}"] = over[k] - base[k]
        wanted = [m["name"] for m in spec["per_layer"]]
    else:
        values = end_to_end(results[0])
        wanted = [m["name"] for m in spec["end_to_end"]]
    missing = [k for k in wanted if k not in values]
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": correct, "attempted": len(calls), "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
