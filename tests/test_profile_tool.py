"""Smoke test of tools/profile_queries.py: one query at the test SF, run the way
a user runs it, in its own process with a small driver."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_profile_one_query_records_layers(sf_dir, tmp_path):
    out = tmp_path / "profile.json"
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "profile_queries.py"), "--sf", sf_dir,
         "--out", str(out), "q05_regional_revenue"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    # the tool exits non-zero when the event log and StatusTracker
    # disagree on any run's jobs, so a clean exit means all four agreed
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["n_errors"] == 0 and summary["warm_total"] > 0

    doc = json.loads(out.read_text())
    (row,) = doc["queries"]["q05_regional_revenue"]["sf"].values()
    assert row["checked_runs"] == 4 and len(row["warm_reps_s"]) == 3
    assert row["layers"]["spark.jobs"] >= 1
    for key in ("spark.stages", "spark.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
                "shuffle.write_bytes", "shuffle.read_bytes", "spill.disk_bytes",
                "sources.bytes_read", "collect.result_bytes"):
        assert key in row["layers"], key
    assert set(row["catalyst"]) == {"analysis_s", "optimization_s", "planning_s"}
    assert row["build_s"] >= 0 and row["rows"] > 0
    assert row["rounds"] == []  # q05 runs no fixpoint loop
    assert isinstance(row["duckdb_s"], float)
    assert doc["peak_rss_mb"] > 0


def test_no_tool_shadows_a_standard_module():
    """A script's directory leads sys.path when it runs, so a tools/ file
    named like a standard module (tools/profile.py shadows the ``profile``
    that pyspark's cProfile import needs) breaks every tool there."""
    names = {f[:-3] for f in os.listdir(os.path.join(ROOT, "tools")) if f.endswith(".py")}
    assert not names & sys.stdlib_module_names
