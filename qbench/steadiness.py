"""Steadiness report: run each workload k times and show each metric's spread.

    python3 qbench/steadiness.py --k 10 --seed-base 100 [--workloads a,b] [--json out.json]

Runs alternate the workload order between rounds (a, b, then b, a, ...),
each in a fresh ``run.py`` process with its own seed. For every metric
the report gives the median, the quartiles, (max - min) / median and
IQR / median, the figure the bounds in BENCHMARK.json are set against.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import spread  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.time() - t0
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
    result = json.loads(last)
    if proc.returncode != 0 or not result.get("correct"):
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: run failed (exit {proc.returncode})")
    result["wall_s"] = wall
    return result


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--seconds", type=float, help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json", help="also write the raw values and spreads here")
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            args.seconds = json.load(fh)["run_seconds"]

    names = args.workloads.split(",")
    values: dict[str, dict[str, list[float]]] = {w: {} for w in names}
    for i in range(args.k):
        for w in names if i % 2 == 0 else names[::-1]:
            res = run_once(w, args.seed_base + i, args.seconds, args.trace)
            for m, v in res["metrics"].items():
                values[w].setdefault(m, []).append(v["value"])
            print(f"round {i} {w} (run wall {res['wall_s']:.0f} s): "
                  + " ".join(f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()), flush=True)
    report = {
        "date": datetime.date.today().isoformat(),
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gib": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "k": args.k,
        "seconds": args.seconds,
        "spreads": {w: {m: spread(v) for m, v in ms.items()} for w, ms in values.items()},
        "values": values,
    }
    print(f"\nnproc={report['nproc']} mem={report['mem_gib']}GiB date={report['date']} k={args.k}")
    print(f"{'workload':18} {'metric':34} {'median':>10} {'q1':>10} {'q3':>10} {'range/med':>9} {'iqr/med':>8}")
    for w, ms in report["spreads"].items():
        for m, s in ms.items():
            print(f"{w:18} {m:34} {s['median']:10.4g} {s['q1']:10.4g} {s['q3']:10.4g} "
                  f"{s['range_over_median']:9.3f} {s['iqr_over_median']:8.3f}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
