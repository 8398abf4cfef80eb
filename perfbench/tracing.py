"""Traced runs: spans recorded around the calls into each layer, and the
per-layer split read back from Spark's own instruments.

Evidence comes from four places, all outside the package:
- spans taken here around each operation (a query, a ``streaming``
  builder and its stream, or ``run_tps_pipeline``), around ``QueryDef.fn``
  and ``DataFrame.collect`` inside a query, and around the ``ml`` fits
  inside the pipeline; ``get_spark`` is timed as the session's setup;
- the run's uncompressed event log (jobs, stages, task metrics), joined
  to operations through a job group that is unique per operation;
- ``queryExecution().tracker()`` for the Catalyst phases of a query;
- ``StreamingQuery.recentProgress`` for micro-batch and state metrics.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

# Per-layer metrics of a traced run, totals over the operations of its
# last (warm) pass; the end-to-end metric each should move:
#   session.*                      setup_s, both workloads
#   plans.*, catalyst.*            cold_total_s and warm_total_s on engine
#   spark.*, exec.scheduler_delay  warm_total_s on engine and tps_forecast
#   exec.*, shuffle.*, spill.*,    warm_total_s; small at sf0.01, where
#   sources.*                      executors do little
#   collect.*, driver.self_s       warm_total_s on engine
#   ml.*                           warm_total_s on tps_forecast
#   streaming.*, sink.*            warm_total_s on engine (tumbling_agg,
#                                  parquet_sink)
PER_LAYER = (
    "session.start_s",
    "plans.build_s",
    "plans.eager_jobs",
    "catalyst.analysis_s",
    "catalyst.optimization_s",
    "catalyst.planning_s",
    "spark.jobs",
    "spark.stages",
    "spark.stages_skipped",
    "spark.tasks",
    "exec.scheduler_delay_s",
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.deserialize_s",
    "exec.peak_mem_bytes",
    "exec.task_fail_frac",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "spill.disk_bytes",
    "sources.bytes_read",
    "sources.records_read",
    "collect.rows",
    "collect.result_bytes",
    "driver.self_s",
    "ml.feature_fit_s",
    "ml.hybrid_fit_s",
    "ml.score_s",
    "ml.jobs",
    "streaming.batches",
    "streaming.input_rows",
    "streaming.add_batch_s",
    "streaming.planning_s",
    "streaming.wal_commit_s",
    "streaming.state_rows",
    "streaming.state_mem_bytes",
    "streaming.state_commit_s",
    "streaming.rows_dropped_late",
    "sink.bytes_written",
)

# Units of the per-layer metrics, from the suffix of their name.
def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_frac"):
        return "fraction"
    return "count"


# Metrics that combine across operations by maximum, not by sum.
_MAX = {"exec.peak_mem_bytes", "streaming.state_mem_bytes"}

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # zstd, the default codec, cannot be read back without the
    # zstandard module; the log is parsed offline as plain JSON lines.
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class Tracer:
    """Spans kept in memory and written out when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str):
        idx = len(self.spans)
        rec = {"name": name, "trace": trace_id, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, trace_id: str, start: float, end: float) -> None:
        """A span measured from two recorded instants rather than around
        a call, under the span open now."""
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "trace": trace_id, "parent": parent, "start": start, "end": end})

    def interval(self, name: str, trace_id: str) -> tuple[float, float]:
        """(start, end) of the last span of that name in the trace."""
        s = [s for s in self.spans if s["name"] == name and s["trace"] == trace_id][-1]
        return s["start"], s["end"]

    def total(self, name: str, trace_id: str) -> float:
        return sum(
            s["end"] - s["start"] for s in self.spans if s["name"] == name and s["trace"] == trace_id
        )


@contextlib.contextmanager
def ml_spans(tracer: Tracer, trace_id_of):
    """Wrap the ``ml`` entry points ``run_tps_pipeline`` calls, from the
    benchmark only: the feature pipelines' ``fit`` and the hybrid's
    ``fit``. Scoring is lazy until the pipeline collects its error
    metrics, so ``ml.score`` spans from the hybrid's fit returning to
    ``run_tps_pipeline`` returning: the transform, the metric aggregate
    and the unpersist. ``trace_id_of()`` names the operation in flight."""
    from advanced_data_mining_and_big_data_analysis_spark.ml import tps

    orig_pipeline, orig_hybrid, orig_run = tps.build_feature_pipeline, tps.BoostedHybrid, tps.run_tps_pipeline

    def timed(fn, name):
        def call(*a, **k):
            with tracer.span(name, trace_id_of()):
                return fn(*a, **k)

        return call

    def pipeline(*a, **k):
        p = orig_pipeline(*a, **k)
        p.fit = timed(p.fit, "ml.feature_fit")
        return p

    def hybrid(*a, **k):
        h = orig_hybrid(*a, **k)
        h.fit = timed(h.fit, "ml.hybrid_fit")
        return h

    def run_pipeline(*a, **k):
        out = orig_run(*a, **k)
        trace = trace_id_of()
        tracer.add("ml.score", trace, tracer.interval("ml.hybrid_fit", trace)[1], time.time())
        return out

    tps.build_feature_pipeline, tps.BoostedHybrid, tps.run_tps_pipeline = pipeline, hybrid, run_pipeline
    try:
        yield
    finally:
        tps.build_feature_pipeline, tps.BoostedHybrid, tps.run_tps_pipeline = orig_pipeline, orig_hybrid, orig_run


def catalyst_phases(df) -> dict[str, tuple[float, float]]:
    """(start, end) epoch seconds of the analysis, optimization and
    planning phases of an executed plan."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        if opt.isDefined():
            ph = opt.get()
            out[k] = (ph.startTimeMs() / 1000.0, ph.endTimeMs() / 1000.0)
    return out


def stream_metrics(query) -> dict[str, float]:
    progress = list(query.recentProgress)
    out = defaultdict(float)
    for p in progress:
        d = p.durationMs
        out["streaming.batches"] += 1
        out["streaming.input_rows"] += p.numInputRows
        out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
        out["streaming.planning_s"] += d.get("queryPlanning", 0) / 1000.0
        out["streaming.wal_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
        for s in p.stateOperators:
            out["streaming.state_commit_s"] += s.commitTimeMs / 1000.0
            out["streaming.rows_dropped_late"] += s.numRowsDroppedByWatermark
            out["streaming.state_mem_bytes"] = max(out["streaming.state_mem_bytes"], s.memoryUsedBytes)
    if progress:
        out["streaming.state_rows"] = sum(s.numRowsTotal for s in progress[-1].stateOperators)
    return dict(out)


# ---------------------------------------------------------------- event log


def find_event_log(log_dir: str, app_id: str) -> str:
    paths = [p for p in glob.glob(os.path.join(log_dir, app_id + "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise FileNotFoundError(f"expected one event log for {app_id} in {log_dir}, found {paths}")
    return paths[0]


def parse_event_log(path: str) -> dict:
    """Jobs, stages and per-job task totals from a Spark JSON event log.

    Returns ``{"jobs": {job_id: job}}`` where a job carries its group,
    submission and completion times (epoch ms), stage ids, the stages
    that ran, and summed task metrics.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        events = [json.loads(line) for line in f]
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = {
                "group": props.get("spark.jobGroup.id"),
                "submit_ms": ev["Submission Time"],
                "end_ms": None,
                "stages": list(ev["Stage IDs"]),
                "ran": set(),
                "m": defaultdict(float),
            }
            jobs[ev["Job ID"]] = job
            for s in job["stages"]:
                stage_job[s] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]]["ran"].add(sid)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is not None:
                _add_task(jobs[jid]["m"], ev)
    return {"jobs": jobs}


def _add_task(m: dict, ev: dict) -> None:
    info = ev["Task Info"]
    tm = ev.get("Task Metrics") or {}
    m["tasks"] += 1
    m["failed"] += 1 if info.get("Failed") or info.get("Killed") else 0
    run_ms = tm.get("Executor Run Time", 0)
    deser_ms = tm.get("Executor Deserialize Time", 0)
    ser_ms = tm.get("Result Serialization Time", 0)
    duration = info["Finish Time"] - info["Launch Time"]
    getting = info.get("Getting Result Time", 0)
    getting_ms = info["Finish Time"] - getting if getting else 0
    m["scheduler_delay_ms"] += max(0, duration - run_ms - deser_ms - ser_ms - getting_ms)
    m["run_ms"] += run_ms
    m["cpu_ns"] += tm.get("Executor CPU Time", 0)
    m["gc_ms"] += tm.get("JVM GC Time", 0)
    m["deser_ms"] += deser_ms
    m["peak_mem"] = max(m["peak_mem"], tm.get("Peak Execution Memory", 0))
    m["result_bytes"] += tm.get("Result Size", 0)
    m["spill_disk"] += tm.get("Disk Bytes Spilled", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    m["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    m["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    m["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    im = tm.get("Input Metrics") or {}
    m["bytes_read"] += im.get("Bytes Read", 0)
    m["records_read"] += im.get("Records Read", 0)
    m["bytes_written"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)


def job_layers(jobs: list[dict]) -> dict[str, float]:
    """Scheduler, executor, shuffle and source metrics of a set of jobs."""
    m = defaultdict(float)
    stages = skipped = 0
    for j in jobs:
        stages += len(j["stages"])
        skipped += len(set(j["stages"]) - j["ran"])
        for k, v in j["m"].items():
            m[k] = max(m[k], v) if k == "peak_mem" else m[k] + v
    tasks = m["tasks"]
    return {
        "spark.jobs": len(jobs),
        "spark.stages": stages,
        "spark.stages_skipped": skipped,
        "spark.tasks": tasks,
        "exec.scheduler_delay_s": m["scheduler_delay_ms"] / 1000.0,
        "exec.run_s": m["run_ms"] / 1000.0,
        "exec.cpu_s": m["cpu_ns"] / 1e9,
        "exec.gc_s": m["gc_ms"] / 1000.0,
        "exec.deserialize_s": m["deser_ms"] / 1000.0,
        "exec.peak_mem_bytes": m["peak_mem"],
        "exec.failed_tasks": m["failed"],
        "shuffle.write_bytes": m["shuffle_write"],
        "shuffle.read_bytes": m["shuffle_read"],
        "shuffle.fetch_wait_s": m["fetch_wait_ms"] / 1000.0,
        "spill.disk_bytes": m["spill_disk"],
        "sources.bytes_read": m["bytes_read"],
        "sources.records_read": m["records_read"],
        "collect.result_bytes": m["result_bytes"],
        "sink.bytes_written": m["bytes_written"],
    }


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    clipped = [(max(s, lo), min(e, hi)) for s, e in intervals]
    for s, e in sorted(c for c in clipped if c[1] > c[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def combine(rows: list[dict[str, float]]) -> dict[str, float]:
    """Per-layer totals over operations: sums, maxima for peak memory,
    and the task failure fraction over all tasks."""
    out = {k: 0.0 for k in PER_LAYER}
    failed = 0.0
    for r in rows:
        failed += r.get("exec.failed_tasks", 0.0)
        for k, v in r.items():
            if k in out:
                out[k] = max(out[k], v) if k in _MAX else out[k] + v
    out["exec.task_fail_frac"] = failed / out["spark.tasks"] if out["spark.tasks"] else 0.0
    return out
