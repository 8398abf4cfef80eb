"""The shared oracle harness: the schema drift probe next to the catalog's
declared schemas, and the capped DuckDB timer that bench.py and
tools/profile_queries.py run their oracles under."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from advanced_data_mining_and_big_data_analysis_spark.sources.catalog import schema_drift
from advanced_data_mining_and_big_data_analysis_spark.testing import DuckTimer


def test_schema_probe_reports_nothing_on_the_test_data(sf_dir):
    assert schema_drift(sf_dir) == []


def test_schema_probe_reports_each_drift(sf_dir, tmp_path):
    shutil.copytree(sf_dir, tmp_path, dirs_exist_ok=True)

    def rewrite(table, change):
        path = tmp_path / f"{table}.parquet"
        pq.write_table(change(pq.read_table(path)), path)

    ts = pa.field("ts", pa.timestamp("ns"))
    rewrite("events", lambda t: t.set_column(t.schema.get_field_index("ts"), ts, t["ts"].cast(ts.type)))
    rewrite("customer", lambda t: t.drop_columns(["c_name"]))
    rewrite("part", lambda t: t.append_column("p_comment", pa.array([""] * t.num_rows)))
    (tmp_path / "region.parquet").unlink()

    drift = schema_drift(str(tmp_path))
    assert len(drift) == 4, drift
    region, customer, part, events = drift
    assert region.startswith("region: MISSING")
    assert customer.startswith("customer.c_name: column missing")
    assert part == "part.p_comment: NEW column (string)"
    assert events == "events.ts: type drift timestamp[us] -> timestamp[ns]"


def test_duck_timer_times_fails_and_caps(sf_dir):
    with DuckTimer(3) as timer:
        assert isinstance(timer.time("SELECT count(*) FROM orders", sf_dir), float)
        assert timer.time("SELECT * FROM no_such_table", sf_dir).startswith("error:")
        # about 1e13 rows: runs for hours unless the worker is killed
        assert timer.time("SELECT sum(range) FROM range(10000000000000)", sf_dir) == timer.timed_out
        # the killed worker is replaced on the next call
        assert isinstance(timer.time("SELECT count(*) FROM orders", sf_dir, reps=2), float)
