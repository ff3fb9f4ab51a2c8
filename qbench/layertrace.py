"""Layer trace: Python-side spans plus the Spark JSON event log.

Spans wrap the public functions of the engine's modules at run time
(nothing in the engine is edited) and are kept in memory. The Spark side
is read back from the event log after the session stops; each query run
is tagged with ``SparkContext.addJobTag`` so its jobs can be found.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import sys
import time
from dataclasses import dataclass, field

PKG = "pipeline_query_engine_demo_spark"

#: Span category -> module whose public functions it wraps.
SPAN_MODULES = {
    "session": f"{PKG}.session",
    "sources": f"{PKG}.sources.catalog",
    "operators.graph": f"{PKG}.operators.graph",
    "operators.dedup": f"{PKG}.operators.dedup",
    "operators.clustering": f"{PKG}.operators.clustering",
    "operators.similarity": f"{PKG}.operators.similarity",
    "operators.joins": f"{PKG}.operators.joins",
    "streaming": f"{PKG}.streaming.windows",
}


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    request: str | None
    category: str
    name: str
    start: float
    end: float
    self_s: float


@dataclass
class Spans:
    """In-memory span recorder for one (single-threaded) driver.

    ``request`` names the query run that spans belong to; the runner
    sets it around each query."""

    records: list[Span] = field(default_factory=list)
    request: str | None = None
    _stack: list[list] = field(default_factory=list)  # [span_id, child seconds]
    _next_id: int = 0

    def wrap(self, category: str, fn):
        name = getattr(fn, "__qualname__", repr(fn))

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span_id, self._next_id = self._next_id, self._next_id + 1
            parent_id = self._stack[-1][0] if self._stack else None
            self._stack.append([span_id, 0.0])
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                children = self._stack.pop()[1]
                if self._stack:
                    self._stack[-1][1] += t1 - t0
                self.records.append(
                    Span(span_id, parent_id, self.request, category, name, t0, t1, t1 - t0 - children)
                )

        return traced


def install_spans(spans: Spans) -> None:
    """Wrap every public function of ``SPAN_MODULES`` and
    ``DataFrame.localCheckpoint``/``checkpoint``.

    Plans modules bind operator functions by name at import time, so the
    wrapper replaces the function in every loaded engine module that
    holds it, not only in the module that defines it."""
    from pyspark.sql import DataFrame

    try:
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
    except ImportError:
        ClassicDataFrame = DataFrame
    wrapped: dict[int, tuple[object, object]] = {}
    for category, modname in SPAN_MODULES.items():
        mod = importlib.import_module(modname)
        for name, obj in vars(mod).items():
            if name.startswith("_") or not inspect.isfunction(obj):
                continue
            if obj.__module__ == mod.__name__:
                wrapped[id(obj)] = (obj, spans.wrap(category, obj))
    for modname, mod in list(sys.modules.items()):
        if mod is None or not modname.startswith(PKG):
            continue
        for name, obj in list(vars(mod).items()):
            hit = wrapped.get(id(obj))
            if hit is not None and hit[0] is obj:
                setattr(mod, name, hit[1])
    for cls in {DataFrame, ClassicDataFrame}:
        for meth in ("localCheckpoint", "checkpoint"):
            if meth in vars(cls):
                setattr(cls, meth, spans.wrap("checkpoint", vars(cls)[meth]))


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


@dataclass
class Job:
    start: float
    end: float | None = None
    tags: frozenset = frozenset()
    stream_batch: tuple | None = None
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0
    input_rows: int = 0


_MB = 1024.0 * 1024.0


def event_log_files(log_dir: str) -> list[str]:
    """The event log's files in write order: a rolling log is a directory
    of ``events_<n>_<app>`` parts, a plain log is one file."""
    parts = glob.glob(os.path.join(log_dir, "*", "events_*"))
    if parts:
        return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files


def _events(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def read_event_log(paths: list[str]) -> list[Job]:
    """Jobs with their stage, task and metric totals, in submission order."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            tags = props.get("spark.job.tags") or ""
            batch = props.get("streaming.sql.batchId")
            job = Job(
                start=ev["Submission Time"] / 1000.0,
                tags=frozenset(t for t in tags.split(",") if t),
                stream_batch=(props.get("sql.streaming.queryId"), batch) if batch is not None else None,
            )
            jobs[ev["Job ID"]] = job
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                jobs[jid].stages += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            job = jobs[jid]
            job.tasks += 1
            job.failed_tasks += bool(ev["Task Info"].get("Failed"))
            m = ev.get("Task Metrics") or {}
            job.run_s += m.get("Executor Run Time", 0) / 1000.0
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            job.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
            sw = m.get("Shuffle Write Metrics") or {}
            job.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / _MB
            job.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / _MB
            job.output_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / _MB
            job.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return [jobs[k] for k in sorted(jobs)]


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur_end), min(e, hi)
        if e > s:
            total += e - s
            cur_end = e
    return total


def query_jobs(jobs: list[Job], tag: str, start: float, end: float) -> list[Job]:
    """Jobs of one query run: those carrying its tag, plus untagged jobs
    submitted inside its wall-clock window (threads that do not inherit
    the tag, such as a streaming query's execution thread)."""
    return [
        j
        for j in jobs
        if tag in j.tags or (not j.tags and start <= j.start <= end)
    ]
