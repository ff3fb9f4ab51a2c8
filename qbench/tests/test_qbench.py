"""Self-tests of the benchmark: generator, metric math, trace reading and
a tiny-size smoke run of every workload.

    python3 -m pytest qbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
QBENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(QBENCH)
sys.path.insert(0, QBENCH)

import layertrace  # noqa: E402
from datagen import ensure_inputs, generate_tables  # noqa: E402
from stats import geomean_of_medians, highest_supported_percentile, spread  # noqa: E402
from workloads import SMOKE_SIZES, WORKLOADS  # noqa: E402

# --------------------------------------------------------------------------
# generator
# --------------------------------------------------------------------------


def test_same_seed_gives_identical_files(tmp_path):
    a = ensure_inputs(str(tmp_path / "a"), 7, SMOKE_SIZES)
    b = ensure_inputs(str(tmp_path / "b"), 7, SMOKE_SIZES)
    for name in sorted(os.listdir(a)):
        with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
            assert fa.read() == fb.read(), name


def test_other_seed_gives_other_values():
    a, b = generate_tables(7, SMOKE_SIZES), generate_tables(8, SMOKE_SIZES)
    for name in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert not a[name].equals(b[name]), name
    assert a["region"].equals(b["region"])


def test_generated_keys_and_decimals_keep_oracles_exact():
    t = generate_tables(3, SMOKE_SIZES)
    li = t["lineitem"].to_pandas()
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()
    for col in ("l_extendedprice", "l_discount", "l_tax"):
        cents = li[col] * 100
        assert (cents - cents.round()).abs().max() < 1e-6, col
    docs = t["documents"].to_pandas()
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    assert docs["text"].duplicated().any()


def test_cache_reuses_generated_inputs(tmp_path):
    a = ensure_inputs(str(tmp_path), 5, SMOKE_SIZES)
    stamp = os.stat(os.path.join(a, "lineitem.parquet")).st_mtime_ns
    assert ensure_inputs(str(tmp_path), 5, SMOKE_SIZES) == a
    assert os.stat(os.path.join(a, "lineitem.parquet")).st_mtime_ns == stamp


# --------------------------------------------------------------------------
# metric math
# --------------------------------------------------------------------------


def test_query_p50_is_geomean_of_per_query_medians():
    samples = {"a": [1.0, 100.0, 2.0], "b": [8.0], "c": [4.0, 4.0]}
    # medians 2, 8, 4 -> geomean 4; a pooled median would be 4.0 by luck,
    # so also check a case where the two differ.
    assert math.isclose(geomean_of_medians(samples), 4.0)
    skewed = {"a": [1.0] * 9, "b": [9.0]}
    assert math.isclose(geomean_of_medians(skewed), 3.0)


def test_percentile_needs_ten_samples_beyond_it():
    assert highest_supported_percentile(10) is None
    assert highest_supported_percentile(19) is None
    assert highest_supported_percentile(20) == 50.0
    assert highest_supported_percentile(40) == 75.0
    assert highest_supported_percentile(100) == 90.0
    assert highest_supported_percentile(1000) == 99.0


def test_spread_reports_quartiles_and_relative_ranges():
    s = spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert s["median"] == 3.0 and s["q1"] == 1.5 and s["q3"] == 4.5
    assert math.isclose(s["range_over_median"], 4.0 / 3.0)
    assert math.isclose(s["iqr_over_median"], 1.0)


def test_span_self_time_excludes_children(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 4.0, 10.0, 10.5])
    monkeypatch.setattr(layertrace.time, "time", lambda: next(clock))
    spans = layertrace.Spans()
    inner = spans.wrap("inner", lambda: None)

    def outer_body():
        inner()  # 1.0 -> 3.0
        inner()  # 4.0 -> 10.0

    spans.wrap("outer", outer_body)()  # 0.0 -> 10.5
    by_cat = {}
    for s in spans.records:
        by_cat.setdefault(s.category, []).append(s)
    assert [s.self_s for s in by_cat["inner"]] == [2.0, 6.0]
    assert by_cat["outer"][0].self_s == pytest.approx(10.5 - 8.0)


def test_covered_seconds_is_the_clipped_union():
    ivs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 20.0)]
    assert layertrace.covered_seconds(ivs, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)


def test_event_log_reader_attributes_tasks_to_tagged_jobs(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.job.tags": "qb-warm0-0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 2 * 10**8, "JVM GC Time": 10,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1048576},
                          "Input Metrics": {"Records Read": 40}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Failed": True}, "Task Metrics": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1700, "Stage IDs": [2],
         "Properties": {"streaming.sql.batchId": "0", "sql.streaming.queryId": "q"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1800},
    ]
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = layertrace.read_event_log(layertrace.event_log_files(str(tmp_path)))
    assert len(jobs) == 2
    j = jobs[0]
    assert (j.stages, j.tasks, j.failed_tasks, j.input_rows) == (2, 2, 1, 40)
    assert (j.run_s, j.cpu_s, j.gc_s, j.shuffle_write_mb) == pytest.approx((0.5, 0.2, 0.01, 1.0))
    assert (j.start, j.end) == (1.0, 1.6)
    assert jobs[1].stream_batch == ("q", "0")
    # tagged job by tag; the untagged streaming job by its time window
    assert layertrace.query_jobs(jobs, "qb-warm0-0", 5.0, 6.0) == [j]
    assert layertrace.query_jobs(jobs, "other", 1.65, 1.9) == [jobs[1]]


# --------------------------------------------------------------------------
# smoke runs
# --------------------------------------------------------------------------


def _bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _smoke(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(QBENCH, "run.py"), "--workload", workload, "--seed", "11",
           "--seconds", "1", "--trace", str(trace), "--sizes", "smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    detail, result = proc.stdout.strip().splitlines()[-2:]
    return json.loads(detail)["detail"], json.loads(result)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_declared_metric(workload, trace):
    spec = _bench_spec()
    assert workload in {w["name"] for w in spec["workloads"]}
    detail, out = _smoke(workload, trace)
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = spec["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), m["name"]
    if not trace:
        assert detail["peak_rss_mb"]["unit"] == "MB" and detail["peak_rss_mb"]["value"] > 0
