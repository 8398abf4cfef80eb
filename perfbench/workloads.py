"""The benchmark's workloads: the operations each one issues, the cached
fixtures they read, and the output check each operation must pass.

An operation is timed from the call into the package to the moment its
result is on the driver. Its check runs afterwards, outside the timed
region, and returns a problem string or None.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass
from typing import Any, Callable

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
REFERENCE_PATH = os.path.join(HERE, "reference.json")

# Headline queries run on the fixed sf0.01 tables. At this size plan
# build, Catalyst and per-job scheduling dominate. The set spans a
# relational join, a scan aggregate, text dedup, an ANN join and a
# quantile sketch at a warm pass of about five seconds on four cores;
# a0089 and q118 are the two headline regressions ROADMAP lists as
# unexplained.
HEADLINE_QUERIES = (
    "q05_regional_revenue",
    "q18_small_quantity_revenue",
    "q40_exact_dedup_stats",
    "q118_batch_ann_join",
    "a0089_mrl_quantile_summary",
)

# The paper's forecasting pipeline on two replicas of the Kaggle
# training table (53k rows): two feature pipelines, the linear stage and
# a short GBT on its residuals, then scoring. More than one replica takes
# the pipeline's bench-scale path, which repartitions to the default
# parallelism instead of coalescing to eight partitions.
TPS_PARAMS = {"replicas": 2, "gbt_iters": 3}
SMAPE_REL_TOL = 1e-9

EVENT_FILES = 4
FIXTURE_VERSION = 2


@dataclass
class Op:
    name: str
    kind: str  # "query" | "stream" | "sink" | "tps"
    run: Callable[["Context", str], Any]
    check: Callable[["Context", Any], "str | None"]


@dataclass
class Context:
    spark: Any
    sf_dir: str
    fixtures: dict
    work_dir: str
    reference: dict
    tracer: Any = None  # tracing.Tracer in a traced run
    group: str | None = None  # job group of the operation in flight


# ---------------------------------------------------------------- fixtures


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256(str(FIXTURE_VERSION).encode())
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _split_parquet(src: str, out_dir: str, n_files: int) -> dict:
    import pyarrow.parquet as pq

    table = pq.read_table(src)
    os.makedirs(out_dir)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i:03d}.parquet"))
    size = sum(os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir))
    return {"rows": table.num_rows, "bytes": size, "files": n_files}


def build_fixtures(cache_root: str) -> dict:
    """Split the stream source into a multi-file directory once, under a
    cache directory keyed on the bytes of the source table, and reuse it
    across runs. Returns its path, size and build time."""
    sources = [os.path.join(DATA_DIR, "events.parquet")]
    key = _digest(sources)
    root = os.path.join(cache_root, f"fixtures-{key}")
    manifest = os.path.join(root, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            out = json.load(f)
        out["cached"] = True
        return out
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    events = _split_parquet(sources[0], os.path.join(tmp, "events"), EVENT_FILES)
    out = {
        "key": key,
        "events": dict(events, path=os.path.join(root, "events")),
        "build_s": time.perf_counter() - t0,
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(out, f, indent=1)
    os.replace(tmp, root)
    out["cached"] = False
    return out


def load_reference() -> dict:
    with open(REFERENCE_PATH) as f:
        return json.load(f)


# ------------------------------------------------------------ conversions


def rows_to_pandas(rows, schema):
    """The non-Arrow ``DataFrame.toPandas`` conversion applied to rows
    already collected, so the hash matches the oracle harness's without
    running the query a second time."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    cols = [f.name for f in schema.fields]
    if not rows:
        pdf = pd.DataFrame(columns=cols)
    else:
        pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=cols)
    if not cols:
        return pdf
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType,
                field.nullable,
                timezone="UTC",
                struct_in_pandas="row",
                error_on_duplicated_field_names=False,
                timestamp_utc_localized=False,
            )(pser)
            for (_, pser), field in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


def result_hash(rows, schema) -> tuple[int, str]:
    from advanced_data_mining_and_big_data_analysis_spark.testing import canonical, value_hash

    pdf = canonical(rows_to_pandas(rows, schema))
    return len(pdf), value_hash(pdf)


# -------------------------------------------------------------- operations


def _query_op(name: str, qd) -> Op:
    def run(ctx: Context, group: str):
        tr = ctx.tracer
        if tr is None:
            df = qd.fn(ctx.spark, ctx.sf_dir)
            return df, df.collect(), None
        with tr.span("plans.build", group):
            df = qd.fn(ctx.spark, ctx.sf_dir)
        # jobs already in the group ran inside the fn: the plan's eager jobs
        eager = list(ctx.spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        with tr.span("collect", group):
            rows = df.collect()
        return df, rows, eager

    def check(ctx: Context, result) -> str | None:
        df, rows, _ = result
        ref = ctx.reference["queries"][name]
        n, h = result_hash(rows, df.schema)
        if n != ref["rows"] or h != ref["hash"]:
            return f"{name}: {n} rows hash {h}, reference {ref['rows']} rows hash {ref['hash']} ({ref['source']})"
        return None

    return Op(name, "query", run, check)


def _progress_rows(query) -> int:
    return sum(p.numInputRows for p in query.recentProgress)


def _events_stream(ctx: Context, **kw):
    from advanced_data_mining_and_big_data_analysis_spark import streaming as ST
    from advanced_data_mining_and_big_data_analysis_spark.sources import SCHEMAS

    return ST.stream_from_directory(ctx.spark, ctx.fixtures["events"]["path"], SCHEMAS["events"], **kw)


def _tumbling_op() -> Op:
    """Event-time tumbling window with a watermark, complete mode, noop
    sink: the state store without a write. A failed stream raises from
    ``awaitTermination``."""
    from advanced_data_mining_and_big_data_analysis_spark import streaming as ST

    def run(ctx: Context, group: str):
        q = (
            ST.tumbling_agg(_events_stream(ctx))
            .writeStream.format("noop")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(ctx.work_dir, f"ckpt-{group}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    def check(ctx: Context, q) -> str | None:
        want, got = ctx.fixtures["events"]["rows"], _progress_rows(q)
        return None if got == want else f"tumbling_agg: stream read {got} rows, source has {want}"

    return Op("tumbling_agg", "stream", run, check)


def _parquet_sink_op() -> Op:
    """The foreachBatch parquet sink, one micro-batch per source file."""
    from advanced_data_mining_and_big_data_analysis_spark import streaming as ST

    def run(ctx: Context, group: str):
        out = os.path.join(ctx.work_dir, f"sink-{group}")
        q = ST.write_foreach_batch_parquet(
            _events_stream(ctx, max_files_per_trigger=1),
            out,
            os.path.join(ctx.work_dir, f"ckpt-{group}"),
        )
        q.awaitTermination()
        return q, out

    def check(ctx: Context, result) -> str | None:
        q, out = result
        want, got = ctx.fixtures["events"]["rows"], _progress_rows(q)
        if got != want:
            return f"parquet_sink: stream read {got} rows, source has {want}"
        kept = ctx.spark.read.parquet(out).count()
        return None if kept == want else f"parquet_sink: sink holds {kept} rows, source has {want}"

    return Op("parquet_sink", "sink", run, check)


def _tps_op() -> Op:
    from advanced_data_mining_and_big_data_analysis_spark.ml import tps

    def run(ctx: Context, group: str):
        return tps.run_tps_pipeline(ctx.spark, **TPS_PARAMS)

    def check(ctx: Context, metrics) -> str | None:
        ref = ctx.reference["tps"]["smape"]
        if abs(metrics["smape"] - ref) > SMAPE_REL_TOL * abs(ref):
            return f"tps_fit: SMAPE {metrics['smape']!r}, reference {ref!r}"
        return None

    return Op("tps_fit", "tps", run, check)


WORKLOADS = {
    "engine": "headline queries at sf0.01 plus availableNow streams: plan build, Catalyst, job launch and state commits dominate",
    "tps_forecast": "the paper's TPS forecast fit and scoring on its bench-scale path: about 34 small Spark ML jobs per fit",
}


def operations(workload: str) -> list[Op]:
    if workload == "engine":
        from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries

        qs = all_queries()
        return [_query_op(n, qs[n]) for n in HEADLINE_QUERIES] + [_tumbling_op(), _parquet_sink_op()]
    if workload == "tps_forecast":
        return [_tps_op()]
    raise ValueError(f"unknown workload {workload!r}; known: {sorted(WORKLOADS)}")
