"""One measured process: set up a session, run the workload, check results.

Started by ``run.py`` in a fresh process; writes its record as JSON to
``--out``. ``--mode setup`` stops after the first trivial action (one
set-up sample); ``--mode measure`` runs the cold pass, a warm-up pass
and timed warm passes for ``--seconds``, then the oracle check;
``--trace`` adds spans, job tags and the event log, and reports the
per-layer metrics.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)


def write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh)


def session_overrides(scratch: str, event_log: str | None) -> dict[str, str]:
    """Only scratch locations and, when tracing, the event log."""
    tmp = os.path.join(scratch, "tmp")
    conf = {
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        # -XX:-UsePerfData keeps the JVM from writing /tmp/hsperfdata_*.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log
        conf["spark.eventLog.compress"] = "false"
    return conf


def set_up(t0: float, scratch: str, event_log: str | None):
    """Session, plans import and a first trivial action, timed in parts."""
    from pipeline_query_engine_demo_spark.session import get_spark

    a = time.time()
    spark = get_spark("qbench", **session_overrides(scratch, event_log))
    b = time.time()
    from pipeline_query_engine_demo_spark import plans

    c = time.time()
    spark.range(1).count()
    d = time.time()
    return spark, plans, {
        "setup_s": d - t0,
        "session.get_spark_s": b - a,
        "session.import_plans_s": c - b,
        "session.first_action_s": d - c,
    }


class Runner:
    """Runs one query at a time and keeps a record of every run."""

    def __init__(self, spark, builders, data_dir, spans=None):
        self.spark, self.builders, self.data_dir, self.spans = spark, builders, data_dir, spans
        self.runs = []  # one dict per query execution
        self.errors = []

    def run_query(self, name: str, phase: str, tag: str):
        sc = self.spark.sparkContext
        build = self.builders[name]
        if self.spans is not None:
            sc.addJobTag(tag)
            self.spans.request = tag
            build = self.spans.wrap("plans.build", build)
        rec = {"query": name, "phase": phase, "tag": tag, "ok": False}
        t0 = time.time()
        try:
            df = build(self.spark, self.data_dir)
            t1 = time.time()
            pdf = df.toPandas()
            t2 = time.time()
            rec.update(ok=True, start=t0, end=t2, build_s=t1 - t0, action_s=t2 - t1,
                       latency_s=t2 - t0, rows=len(pdf))
            return pdf, rec
        except Exception as ex:  # a raising query is a failure, never a sample
            rec.update(start=t0, end=time.time(), error=f"{type(ex).__name__}: {str(ex)[:300]}")
            self.errors.append(f"{phase} {name}: {rec['error']}")
            traceback.print_exc(limit=4)
            return None, rec
        finally:
            self.runs.append(rec)
            if self.spans is not None:
                sc.removeJobTag(tag)
                self.spans.request = None


def oracle_check(data_dir, names, oracles, results) -> list[str]:
    """Compare each kept result with its DuckDB oracle; mismatch strings."""
    import duckdb
    from tools.check_correctness import TABLES, compare

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')")
    bad = []
    for name in names:
        if name not in oracles:
            bad.append(f"{name}: no oracle registered")
            continue
        expected = con.sql(oracles[name]).df()
        for phase, pdf in results.get(name, {}).items():
            verdict = compare(name, pdf, expected)
            if verdict != "OK":
                bad.append(f"{phase} {name}: {verdict}")
    con.close()
    return bad


def layer_metrics(record, spans, jobs, slots):
    """Per-warm-pass sums of every per-layer metric; median over passes."""
    from layertrace import SPAN_MODULES, covered_seconds, query_jobs

    per_pass = []
    for p in record["warm"]:
        runs = [r for r in record["runs"] if r["phase"] == p["phase"]]
        tags = {r["tag"] for r in runs}
        in_pass = [s for s in spans.records if s.request in tags]
        m = {}
        m["plans.build_s"] = sum(r["build_s"] for r in runs)
        m["plans.action_s"] = sum(r["action_s"] for r in runs)
        m["checkpoint.calls"] = sum(s.category == "checkpoint" for s in in_pass)
        m["checkpoint.self_s"] = sum(s.self_s for s in in_pass if s.category == "checkpoint")
        for cat in SPAN_MODULES:
            if cat == "session":
                continue
            m[f"{cat}.calls"] = sum(s.category == cat for s in in_pass)
            m[f"{cat}.self_s"] = sum(s.self_s for s in in_pass if s.category == cat)
        pj, build_jobs, gap = [], 0, 0.0
        for r in runs:
            qj = query_jobs(jobs, r["tag"], r["start"] - 0.002, r["end"] + 0.002)
            pj.extend(qj)
            build_end = r["start"] + r["build_s"]
            build_jobs += sum(j.start <= build_end for j in qj)
            ivs = [(j.start, j.end if j.end is not None else r["end"]) for j in qj]
            gap += (r["end"] - r["start"]) - covered_seconds(ivs, r["start"], r["end"])
        m["plans.build_jobs"] = build_jobs
        m["spark.driver_gap_s"] = gap
        m["spark.jobs"] = len(pj)
        for k in ("stages", "tasks", "failed_tasks"):
            m[f"spark.{k}"] = sum(getattr(j, k) for j in pj)
        m["spark.executor_run_s"] = sum(j.run_s for j in pj)
        m["spark.executor_cpu_s"] = sum(j.cpu_s for j in pj)
        for k in ("gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb"):
            m[f"spark.{k}"] = sum(getattr(j, k) for j in pj)
        m["spark.slot_use"] = m["spark.executor_run_s"] / ((p["end"] - p["start"]) * slots)
        result_rows = sum(r["rows"] for r in runs)
        m["spark.input_rows_per_result_row"] = sum(j.input_rows for j in pj) / max(1, result_rows)
        m["streaming.batches"] = len({j.stream_batch for j in pj if j.stream_batch is not None})
        per_pass.append(m)
    return {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("setup", "measure"), required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload")
    ap.add_argument("--data")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    event_log = os.path.join(args.scratch, "eventlog") if args.trace else None
    if event_log:
        os.makedirs(event_log, exist_ok=True)
    spark, plans, setup = set_up(args.t0, args.scratch, event_log)
    record = {"setup": setup}
    if args.mode == "setup":
        spark.stop()
        write_json(args.out, record)
        return 0

    from workloads import WORKLOADS

    names = list(WORKLOADS[args.workload].queries)
    builders = plans.queries()
    spans = None
    if args.trace:
        from layertrace import Spans, install_spans

        spans = Spans()
        install_spans(spans)
    runner = Runner(spark, builders, args.data, spans)
    # Per query: the cold result and the latest warm one, for the oracle.
    results: dict[str, dict] = {}

    def run_pass(phase, order):
        start, ok = time.time(), True
        for i, name in enumerate(order):
            pdf, rec = runner.run_query(name, phase, f"qb-{phase}-{i}")
            ok &= rec["ok"]
            if pdf is not None:
                results.setdefault(name, {})["cold" if phase == "cold" else "last warm"] = pdf
        return {"phase": phase, "start": start, "end": time.time(), "ok": ok}

    cold = run_pass("cold", names)
    cold["pass_s"] = cold["end"] - cold["start"]
    # The window holds one untimed warm-up pass and at least one timed
    # pass: the first passes after the cold one still carry JIT warm-up.
    rng = random.Random(args.seed)
    passes, window_start = [], time.time()
    while len(passes) < 2 or time.time() - window_start < args.seconds:
        phase = f"warm{len(passes)}" if passes else "warmup"
        p = run_pass(phase, rng.sample(names, len(names)))
        p["pass_s"] = p["end"] - p["start"]
        passes.append(p)
    warmup, warm = passes[0], passes[1:]
    mismatches = oracle_check(args.data, names, plans.oracles(), results)
    record.update(
        queries=names,
        cold=cold,
        warmup=warmup,
        warm=warm,
        runs=runner.runs,
        attempted=len(runner.runs),
        failed=sum(not r["ok"] for r in runner.runs) + len(mismatches),
        errors=runner.errors + mismatches,
        slots=spark.sparkContext.defaultParallelism,
    )
    spark.stop()
    if args.trace:
        from layertrace import event_log_files, read_event_log

        jobs = read_event_log(event_log_files(event_log))
        good = dict(record, warm=[p for p in warm if p["ok"]])
        if good["warm"]:
            record["layers"] = layer_metrics(good, spans, jobs, record["slots"])
            record["layers"].update({k: v for k, v in setup.items() if k.startswith("session.")})
        record["spans"] = [dataclasses.asdict(s) for s in spans.records]
    write_json(args.out, record)
    return 0


if __name__ == "__main__":
    sys.exit(main())
