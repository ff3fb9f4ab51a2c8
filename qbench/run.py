"""Closed-loop benchmark of the query engine, one workload per run.

    python3 qbench/run.py --workload olap_interactive --seed 1 --seconds 12 --trace 0

Run from the repository root. The run generates its inputs from the seed
(cached under ``.qbench_cache/``), then starts fresh worker processes:
set-up probes, which only build a session, and the measured worker, which
runs a cold pass, then a warm-up pass and timed warm passes for
``--seconds`` with one client, and checks every result against its
DuckDB oracle. Every process a worker leaves behind is stopped and
reaped before the run reports.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it carries sample counts and supported percentiles. The exit code is 0
only when every query ran and matched its oracle.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

#: Set-up samples per run (the measured worker's own set-up included).
SETUP_SAMPLES = 2
SPARK_JVM_MARK = "org.apache.spark.deploy.SparkSubmit"
CACHE_DIR = os.path.join(ROOT, ".qbench_cache")
RUN_DIR = os.path.join(ROOT, ".qbench_run")

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("spark.slot_use", "spark.input_rows_per_result_row", "trace.overhead_ratio"):
        return "ratio"
    return "count"


# --------------------------------------------------------------------------
# processes
# --------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, cmdline) for every visible process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except (OSError, ValueError, IndexError):
            continue
        table[int(entry)] = (ppid, cmd)
    return table


def descendants(root: int, table=None) -> list[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_rss_mb(root: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            pass
    return total / (1024.0 * 1024.0)


def become_subreaper() -> None:
    """Orphans of a worker (its JVM, Python worker daemons) are re-parented
    to this process, so they can be found and reaped."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_descendants(grace_s: float = 20.0) -> None:
    """Wait for every descendant to exit, then TERM and KILL stragglers."""
    deadline = time.time() + grace_s
    sent = None
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = [p for p in descendants(os.getpid()) if _alive(p)]
        if not left:
            return
        now = time.time()
        sig = None
        if now > deadline + 5 and sent != signal.SIGKILL:
            sig = signal.SIGKILL
        elif now > deadline and sent is None:
            sig = signal.SIGTERM
        if sig is not None:
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        if now > deadline + 30:
            raise RuntimeError(f"processes would not exit: {left}")
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def live_spark_jvms() -> list[int]:
    me = os.getpid()
    return [p for p, (_, cmd) in _proc_table().items() if p != me and SPARK_JVM_MARK in cmd]


def wait_for_idle(timeout_s: float = 30.0) -> None:
    deadline = time.time() + timeout_s
    while live_spark_jvms():
        if time.time() > deadline:
            raise SystemExit(
                f"qbench: a Spark JVM from an earlier run is alive (pids {live_spark_jvms()}); "
                "refusing to start"
            )
        time.sleep(0.5)


# --------------------------------------------------------------------------
# workers
# --------------------------------------------------------------------------


def worker_env(scratch: str) -> dict[str, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    env["TMPDIR"] = os.path.join(scratch, "tmp")
    env["PYTHONUNBUFFERED"] = "1"
    return env


def run_worker(mode: str, scratch: str, extra: list[str], log) -> tuple[dict, float]:
    """One fresh worker process; returns (record, peak process-tree RSS MB)."""
    out = os.path.join(scratch, f"out-{time.time_ns()}.json")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    t0 = time.time()
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--mode", mode, "--t0", repr(t0),
           "--scratch", scratch, "--out", out, *extra]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=worker_env(scratch), stdout=log, stderr=subprocess.STDOUT)
    peak = 0.0
    while proc.poll() is None:
        peak = max(peak, tree_rss_mb(proc.pid))
        time.sleep(0.1)
    reap_descendants()
    if proc.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"worker ({mode}) exited with code {proc.returncode}")
    with open(out) as fh:
        return json.load(fh), peak


def warm_pass_s(record: dict) -> float:
    ok = [p["pass_s"] for p in record["warm"] if p["ok"]]
    return statistics.median(ok) if ok else float("nan")


def end_to_end(setups: list[float], record: dict, peak_rss: float) -> tuple[dict, dict]:
    from stats import geomean_of_medians, highest_supported_percentile

    timed = {p["phase"] for p in record["warm"] if p["ok"]}
    per_query: dict[str, list[float]] = {}
    for r in record["runs"]:
        if r["ok"] and r["phase"] in timed:
            per_query.setdefault(r["query"], []).append(r["latency_s"])
    values = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": record["cold"]["pass_s"],
        "warm_pass_s": warm_pass_s(record),
        "query_p50_s": geomean_of_medians(per_query) if per_query else float("nan"),
    }
    counts = {
        "setup_s": len(setups),
        "cold_pass_s": 1,
        "warm_pass_s": len(timed),
        "query_p50_s": min((len(v) for v in per_query.values()), default=0),
    }
    detail = {
        k: {"samples": n, "highest_percentile": highest_supported_percentile(n)} for k, n in counts.items()
    }
    detail["per_query_samples"] = {q: len(v) for q, v in per_query.items()}
    detail["warmup_pass_s"] = record["warmup"]["pass_s"]
    # Reported, not gated: the JVM's heap grows by G1's own timing, so the
    # peak differs by up to 2x between identical runs.
    detail["peak_rss_mb"] = {"value": peak_rss, "unit": "MB"}
    return values, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sizes", choices=("workload", "smoke"), default="workload",
                    help="'smoke' runs on tiny inputs (self-tests)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pipeline_query_engine_demo_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_correctness.py")
    ):
        print("qbench: the engine sources are not next to the benchmark; nothing to measure", file=sys.stderr)
        return 2
    from datagen import ensure_inputs
    from workloads import SMOKE_SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"qbench: unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    become_subreaper()
    # A TERM from whoever runs the benchmark unwinds through the finally
    # below, which stops the workers.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    wait_for_idle()

    data = ensure_inputs(CACHE_DIR, args.seed, SMOKE_SIZES if args.sizes == "smoke" else wl.sizes)
    scratch = os.path.join(RUN_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    log_path = os.path.join(scratch, "worker.log")
    measure = ["--workload", wl.name, "--data", data, "--seed", str(args.seed), "--seconds", str(args.seconds)]
    ok = False
    try:
        with open(log_path, "w") as log:
            if args.trace:
                plain, _ = run_worker("measure", os.path.join(scratch, "plain"), measure, log)
                traced, _ = run_worker("measure", os.path.join(scratch, "traced"), measure + ["--trace", "1"], log)
                records = [plain, traced]
                metrics = dict(traced.get("layers", {}))
                metrics["trace.overhead_ratio"] = warm_pass_s(traced) / warm_pass_s(plain)
                detail = {"warm_passes": {"plain": len(plain["warm"]), "traced": len(traced["warm"])}}
                out = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(metrics.items())}
                trace_file = os.path.join(RUN_DIR, f"trace-{wl.name}-s{args.seed}.json")
                with open(trace_file, "w") as fh:
                    json.dump({"runs": traced["runs"], "spans": traced.get("spans", [])}, fh)
                detail["trace_file"] = os.path.relpath(trace_file, ROOT)
            else:
                setups = []
                for i in range(SETUP_SAMPLES - 1):
                    rec, _ = run_worker("setup", os.path.join(scratch, f"probe{i}"), [], log)
                    setups.append(rec["setup"]["setup_s"])
                rec, peak = run_worker("measure", os.path.join(scratch, "main"), measure, log)
                setups.append(rec["setup"]["setup_s"])
                records = [rec]
                values, detail = end_to_end(setups, rec, peak)
                out = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
        attempted = sum(r["attempted"] for r in records)
        failed = sum(r["failed"] for r in records)
        errors = [e for r in records for e in r["errors"]]
        for e in errors:
            print(f"qbench: FAILED {e}", file=sys.stderr)
        ok = failed == 0
        detail["errors"] = errors[:20]
        print(json.dumps({"workload": wl.name, "seed": args.seed, "detail": detail}))
        print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": out}))
    except Exception as ex:
        print(f"qbench: run failed: {ex}", file=sys.stderr)
        try:
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
        except OSError:
            pass
        return 1
    finally:
        reap_descendants(grace_s=2.0)
        if ok:
            shutil.rmtree(scratch, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
