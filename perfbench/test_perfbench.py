"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark test runs two cheap headline queries on the benchmark's fixed
tables with the event log on, and reconciles the per-operation job
counts the event log gives against Spark's StatusTracker.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run as R  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert R.tail_percentile(n) == want
    if want is not None:
        assert n * (100 - want) / 100 >= R.TAIL_MIN_BEYOND - 1e-9


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert R.percentile(xs, 50) == 50.0
    assert R.percentile(xs, 90) == 90.0
    assert R.percentile(xs, 99.9) == 100.0
    assert R.percentile([3.0], 75) == 3.0


def test_end_to_end_cold_is_first_warm_is_fastest_after():
    samples = {"a": [9.0, 2.0, 3.0, 1.0, 4.0], "b": [7.0]}
    metrics, detail = R.end_to_end(samples)
    assert metrics == {"cold_total_s": 16.0, "warm_total_s": 1.0}
    assert detail["warm_median_total_s"] == 2.5
    assert detail["warm_samples"] == 4 and detail["warm_tail"]["percentile"] is None


def _burn(seconds: float) -> None:
    t = time.process_time()
    while time.process_time() - t < seconds:
        pass


def test_tree_cpu_counts_this_process_and_the_tree_below_the_root():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\ntime.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", burn])
    try:
        before = R.tree_cpu_s(child.pid)
        _burn(0.3)
        time.sleep(1.0)
        after = R.tree_cpu_s(child.pid)
        assert after - before >= 0.25 and after >= 0.5
    finally:
        child.kill()
        child.wait()


def test_benchmark_spec_names_and_units():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and UNIT.match(m["unit"])
        assert 0 < m["bound"] <= 0.25
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
    assert [m["name"] for m in spec["per_layer"]] == list(tracing.PER_LAYER)
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and m["unit"] == tracing.unit_of(m["name"])


def _event(kind, **fields):
    return json.dumps({"Event": kind, **fields})


def test_parse_event_log_and_job_layers(tmp_path):
    task = {
        "Launch Time": 1000, "Finish Time": 1100, "Getting Result Time": 1090,
        "Failed": False, "Killed": False,
    }
    metrics = {
        "Executor Deserialize Time": 10, "Executor Run Time": 60, "Result Serialization Time": 5,
        "Executor CPU Time": 40_000_000, "JVM GC Time": 3, "Result Size": 100,
        "Peak Execution Memory": 4096, "Disk Bytes Spilled": 7,
        "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2, "Fetch Wait Time": 4},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 50},
        "Input Metrics": {"Bytes Read": 900, "Records Read": 30},
        "Output Metrics": {"Bytes Written": 11},
    }
    lines = [
        _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 900, "Stage IDs": [0, 1],
               "Properties": {"spark.jobGroup.id": "g"}}),
        _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Info": task, "Task Metrics": metrics}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Info": dict(task, Failed=True),
               "Task Metrics": metrics}),
        _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1200}),
        _event("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1300, "Stage IDs": [2],
               "Properties": {"spark.jobGroup.id": "other"}}),
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(lines) + "\n")
    jobs = tracing.parse_event_log(tracing.find_event_log(str(tmp_path), "app-1"))["jobs"]
    assert jobs[0]["group"] == "g" and jobs[0]["end_ms"] == 1200 and jobs[1]["end_ms"] is None
    layer = tracing.job_layers([jobs[0]])
    assert layer["spark.jobs"] == 1 and layer["spark.stages"] == 2
    assert layer["spark.stages_skipped"] == 1 and layer["spark.tasks"] == 2
    # duration 100 - run 60 - deserialize 10 - serialize 5 - getting result 10
    assert layer["exec.scheduler_delay_s"] == pytest.approx(2 * 0.015)
    assert layer["exec.cpu_s"] == pytest.approx(0.08)
    assert layer["shuffle.read_bytes"] == 6 and layer["shuffle.write_bytes"] == 100
    assert layer["exec.peak_mem_bytes"] == 4096 and layer["sink.bytes_written"] == 22
    combined = tracing.combine([layer, layer])
    assert combined["exec.task_fail_frac"] == pytest.approx(0.5)
    assert combined["exec.peak_mem_bytes"] == 4096 and combined["spark.tasks"] == 4


def test_covered_seconds_unions_and_clips():
    assert tracing.covered_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.covered_seconds([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert tracing.covered_seconds([], 0, 1) == 0


def test_traced_job_counts_match_status_tracker(tmp_path):
    from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries

    R.isolate_io(str(tmp_path))
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = R.start_session(dict(tracing.EVENT_LOG_CONF, **{"spark.eventLog.dir": str(log_dir)}))
    try:
        qs = all_queries()
        names = ["q18_small_quantity_revenue", "q05_regional_revenue"]
        ops = [W._query_op(n, qs[n]) for n in names]
        ctx = W.Context(spark, W.DATA_DIR, {}, str(tmp_path), W.load_reference())
        ctx.tracer = tracing.Tracer()
        rec = R.TraceRecorder(ctx)
        result = R.run_passes(ctx, ops, seed=7, seconds=0, min_passes=2, on_op=rec.on_op)
        assert result["problems"] == [] and result["attempted"] == 4
        # the hash of rows converted after collect equals toPandas's
        df = qs[names[0]].fn(spark, W.DATA_DIR)
        from advanced_data_mining_and_big_data_analysis_spark.testing import canonical, value_hash

        assert W.result_hash(df.collect(), df.schema)[1] == value_hash(canonical(df.toPandas()))
        app_id = spark.sparkContext.applicationId
    finally:
        R.stop_session(spark)
    jobs = tracing.parse_event_log(tracing.find_event_log(str(log_dir), app_id))["jobs"]
    layers, rows, check = R.traced_layers(rec, jobs, 1)
    assert check == {"ops": 4, "mismatched": []}
    for row in rows:
        status = rec.rows[f"{row['op']}.p{row['pass']}"]["status_jobs"]
        assert row["spark.jobs"] == len(status) > 0
        assert row["collect.rows"] == W.load_reference()["queries"][row["op"]]["rows"]
        assert 0 <= row["driver.self_s"] <= row["wall_s"]
    assert layers["spark.jobs"] == sum(r["spark.jobs"] for r in rows if r["pass"] == 1)
