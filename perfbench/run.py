"""The repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload engine --seed 1 --seconds 10 --trace 0

Run from the repository root. The load is a closed loop: one Spark
driver process issues one operation at a time on ``local[nproc]``. The seed
permutes the order of operations inside every pass; the data are the
fixed tables under ``perfbench/data``. A run

1. sets up its session: ``setup_s`` is the time from process start to a
   session that has run its warm-up action. It is one sample per run,
   because each sample is a JVM launch of about ten seconds and a run is
   kept to about a minute;
2. builds (or reuses) the cached stream fixtures, outside all timing;
3. runs passes over the workload's operations until ``--seconds`` have
   passed, and at least ``MIN_PASSES``: the first pass gives the cold
   times, the rest the warm ones;
4. checks every operation's output against ``perfbench/reference.json``
   outside the timed region.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` when ``--trace 0``, the per-layer ones when
``--trace 1``. The line before it holds the run's context and detail.

A traced run (``--trace 1``) is separate from the timed runs: it writes
an uncompressed event log, gives every operation its own job group and
records spans; see ``tracing.py``. Its spans and per-operation layer
rows go to ``.bench_cache/traces/``.
"""

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import tracing  # noqa: E402
import workloads as W  # noqa: E402

# Highest percentile reported for warm times: the highest of these with
# at least ten samples beyond it.
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10

# One cold pass and three warm ones: with set-up, output checks and
# shutdown a run takes about 45 s on four quiet cores.
MIN_PASSES = 4


def process_age() -> float:
    """Seconds since this process started, from the kernel's record."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tail_percentile(n: int) -> float | None:
    """The highest percentile in PERCENTILES with at least TAIL_MIN_BEYOND
    of n samples beyond it, or None when n is too small for any."""
    ok = [p for p in PERCENTILES if n * (100.0 - p) >= 100 * TAIL_MIN_BEYOND - 1e-6]
    return ok[-1] if ok else None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, int(-(-p * len(xs) // 100)) - 1))
    return xs[k]


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ session


def isolate_io(cache: str) -> None:
    """Keep Spark's scratch files, Python temp files and JVM temp files
    inside the checkout's cache directory."""
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(cache, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session(extra_conf: dict | None = None):
    """``get_spark`` plus its warm-up action, one small SQL job. The Python
    worker daemon forks later, in the cold time of the first operation
    that needs it."""
    from pyspark.sql import functions as F

    from advanced_data_mining_and_big_data_analysis_spark import get_spark

    spark = get_spark("perfbench", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(64, numPartitions=8).agg(F.sum("id")).collect()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def cpu_ticks() -> list[int]:
    """Machine-wide CPU time counters from /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": (d[0] + d[1] + d[2] + d[5] + d[6]) / total, "steal": d[7] / total}


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def tree_cpu_s(jvm: int) -> float:
    """CPU seconds, user and system, used so far by this process, the JVM
    and the JVM's descendants (the Python workers), counting children
    they have reaped. Time the machine's hypervisor gave to other guests
    (steal) is not in it."""
    stats, children = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listed
            continue
        pid = int(d)
        stats[pid] = sum(int(x) for x in fields[11:15])
        children.setdefault(int(fields[1]), []).append(pid)
    total, todo = stats.get(os.getpid(), 0), [jvm]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(spark) -> float:
    pid = jvm_pid(spark)
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def run_context(spark, seed: int) -> dict:
    import duckdb
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "mem_gib": round(mem_kb / 2**20, 1),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
    }


# -------------------------------------------------------------------- loop


def run_passes(ctx, ops, seed: int, seconds: float, min_passes: int = MIN_PASSES, on_op=None) -> dict:
    """Closed loop over the operations, one at a time, in an order the
    seed permutes anew each pass, for ``seconds`` and at least
    ``min_passes`` passes. Returns per-operation samples, one per pass."""
    rng = random.Random(seed)
    sc = ctx.spark.sparkContext
    samples = {op.name: [] for op in ops}
    cpu_samples = {op.name: [] for op in ops}
    jvm = jvm_pid(ctx.spark)
    problems: list[str] = []
    attempted = 0
    check_s = 0.0
    deadline = time.perf_counter() + seconds
    n_pass = 0
    while n_pass < min_passes or time.perf_counter() < deadline:
        order = list(ops)
        rng.shuffle(order)
        for op in order:
            group = ctx.group = f"{op.name}.p{n_pass}"
            sc.setJobGroup(group, group)
            attempted += 1
            try:
                c0 = tree_cpu_s(jvm)
                t0 = time.perf_counter()
                if ctx.tracer is None:
                    result = op.run(ctx, group)
                else:
                    with ctx.tracer.span("op", group):
                        result = op.run(ctx, group)
                dt = time.perf_counter() - t0
                dc = tree_cpu_s(jvm) - c0
            except Exception:  # noqa: BLE001 - one failing operation must not end the run
                problems.append(f"{op.name}: {traceback.format_exc(limit=3)}")
                continue
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            t0 = time.perf_counter()
            problem = op.check(ctx, result)
            check_s += time.perf_counter() - t0
            if problem:
                problems.append(problem)
            else:
                samples[op.name].append(dt)
                cpu_samples[op.name].append(dc)
            if on_op is not None:
                on_op(op, group, n_pass, dt, result)
        n_pass += 1
    return {"samples": samples, "cpu_samples": cpu_samples, "problems": problems, "attempted": attempted, "passes": n_pass,
            "check_s": check_s}


def end_to_end(samples: dict[str, list[float]]) -> tuple[dict, dict]:
    """Cold total: the sum of each operation's first sample. Warm total:
    the sum of each operation's fastest warm sample. Interference from
    other work on the machine only ever adds time, and JIT compilation
    keeps speeding operations up over the first warm passes, so the
    minimum is the steadiest warm figure; the sum of per-operation
    medians is kept in the detail."""
    cold = {k: v[0] for k, v in samples.items() if v}
    measured = {k: v[1:] for k, v in samples.items() if len(v) > 1}
    warm_min = {k: min(v) for k, v in measured.items()}
    warm_median = {k: statistics.median(v) for k, v in measured.items()}
    warm_all = [x for v in measured.values() for x in v]
    p = tail_percentile(len(warm_all))
    detail = {
        "samples_s": samples,
        "cold_s": cold,
        "warm_min_s": warm_min,
        "warm_median_s": warm_median,
        "warm_median_total_s": sum(warm_median.values()),
        "warm_samples": len(warm_all),
        "warm_p50_s": statistics.median(warm_all) if warm_all else None,
        "warm_tail": (
            {"percentile": p, "value_s": percentile(warm_all, p), "samples": len(warm_all)}
            if p is not None
            else {"percentile": None, "samples": len(warm_all),
                  "why": f"fewer than {TAIL_MIN_BEYOND} samples beyond p50"}
        ),
    }
    metrics = {"cold_total_s": sum(cold.values()),
               "warm_total_s": sum(warm_min.values())}
    return metrics, detail


KIND_TOTALS = {"query": "query_s", "stream": "stream_agg_s", "sink": "sink_s", "tps": "tps_fit_s"}


def by_kind(ops, warm: dict) -> dict:
    """Warm totals per kind of operation, as in ``warm_total_s``."""
    out: dict[str, float] = {}
    for op in ops:
        if op.name in warm:
            key = KIND_TOTALS[op.kind]
            out[key] = out.get(key, 0.0) + warm[op.name]
    return out


# ------------------------------------------------------------------ traced


class TraceRecorder:
    """Per-operation evidence gathered right after each operation: job
    ids from the StatusTracker, Catalyst phases, stream progress."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.rows: dict[str, dict] = {}

    def on_op(self, op, group, n_pass, dt, result) -> None:
        tr = self.ctx.tracer
        sc = self.ctx.spark.sparkContext
        row = {"op": op.name, "kind": op.kind, "pass": n_pass, "wall_s": dt,
               "status_jobs": sorted(sc.statusTracker().getJobIdsForGroup(group))}
        if op.kind == "query":
            df, rows, eager = result
            row["catalyst"] = tracing.catalyst_phases(df)
            row["collect_rows"] = len(rows)
            row["build_span"] = tr.interval("plans.build", group)
            row["op_span"] = tr.interval("op", group)
            row["eager_jobs"] = eager
        elif op.kind in ("stream", "sink"):
            q = result[0] if op.kind == "sink" else result
            row["stream"] = tracing.stream_metrics(q)
            row["run_id"] = str(q.runId)
        elif op.kind == "tps":
            row["feature_fit_s"] = tr.total("ml.feature_fit", group)
            row["hybrid_fit_s"] = tr.total("ml.hybrid_fit", group)
            row["score_s"] = tr.total("ml.score", group)
        self.rows[group] = row


def _length(interval) -> float:
    return interval[1] - interval[0] if interval else 0.0


def traced_layers(rec: TraceRecorder, jobs_by_id: dict, last_pass: int) -> tuple[dict, list, dict]:
    """Join the event log to each operation and combine the last pass's
    operations into the run's per-layer metrics."""
    rows, check = [], {"ops": 0, "mismatched": []}
    for group, row in rec.rows.items():
        # a stream's jobs run under its own run id as the job group
        groups = {group, row["run_id"]} if "run_id" in row else {group}
        jobs = {j: v for j, v in jobs_by_id.items() if v["group"] in groups}
        layer = tracing.job_layers(list(jobs.values()))
        span = row["wall_s"]
        if row["kind"] == "query":
            cat = row["catalyst"]
            # driver self time: the operation's span minus the part its
            # build span, Catalyst phases and jobs cover
            busy = [row["build_span"], *cat.values()] + [
                (v["submit_ms"] / 1000.0, v["end_ms"] / 1000.0)
                for v in jobs.values()
                if v["end_ms"] is not None
            ]
            lo, hi = row["op_span"]
            layer.update({
                "plans.build_s": row["build_span"][1] - row["build_span"][0],
                "plans.eager_jobs": len(row["eager_jobs"]),
                "catalyst.analysis_s": _length(cat.get("analysis")),
                "catalyst.optimization_s": _length(cat.get("optimization")),
                "catalyst.planning_s": _length(cat.get("planning")),
                "collect.rows": row["collect_rows"],
                "driver.self_s": (hi - lo) - tracing.covered_seconds(busy, lo, hi),
            })
        elif row["kind"] == "tps":
            layer.update({
                "ml.feature_fit_s": row["feature_fit_s"],
                "ml.hybrid_fit_s": row["hybrid_fit_s"],
                "ml.score_s": row["score_s"],
                "ml.jobs": len(jobs),
            })
        else:
            layer.update(row["stream"])
        # StatusTracker sees the jobs of the operation's own group; the
        # event log must agree on that set.
        own = sorted(j for j, v in jobs.items() if v["group"] == group)
        check["ops"] += 1
        if own != row["status_jobs"]:
            check["mismatched"].append({"op": group, "event_log": own, "status": row["status_jobs"]})
        rows.append({"op": row["op"], "pass": row["pass"], "wall_s": span, **layer})
    last = [r for r in rows if r["pass"] == last_pass]
    return tracing.combine(last), rows, check


# -------------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cache = os.path.join(os.getcwd(), ".bench_cache")
    isolate_io(cache)
    if args.workload not in W.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(W.WORKLOADS)}")

    # Fails here, before any timing, when the package is not beside the
    # benchmark.
    import advanced_data_mining_and_big_data_analysis_spark  # noqa: F401

    spec = load_spec()
    extra = None
    if args.trace:
        log_dir = os.path.join(cache, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra = dict(tracing.EVENT_LOG_CONF, **{"spark.eventLog.dir": log_dir})
    spark = start_session(extra)
    setup_s = process_age()

    fixtures = W.build_fixtures(cache)
    reference = W.load_reference()
    work = os.path.join(cache, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    ctx = W.Context(spark, W.DATA_DIR, fixtures, work, reference)
    ops = W.operations(args.workload)
    context = run_context(spark, args.seed)
    rec = None
    ticks = cpu_ticks()
    if args.trace:
        ctx.tracer = tracing.Tracer()
        rec = TraceRecorder(ctx)
        with tracing.ml_spans(ctx.tracer, lambda: ctx.group):
            result = run_passes(ctx, ops, args.seed, args.seconds, on_op=rec.on_op)
    else:
        result = run_passes(ctx, ops, args.seed, args.seconds)

    context["cpu_during_passes"] = cpu_shares(ticks, cpu_ticks())
    peak_rss = jvm_peak_rss_mb(spark)
    app_id = spark.sparkContext.applicationId
    t0 = time.perf_counter()
    stop_session(spark)
    stop_s = time.perf_counter() - t0
    shutil.rmtree(work, ignore_errors=True)

    e2e, detail = end_to_end(result["samples"])
    # the same totals in CPU seconds, which time stolen by the hypervisor
    # does not inflate; wall times on a shared host move with steal
    detail["cpu"] = end_to_end(result["cpu_samples"])[0]
    detail.update(by_kind(ops, detail["warm_min_s"]))
    detail.update(
        workload=args.workload,
        context=context,
        peak_rss_mb=peak_rss,
        passes=result["passes"],
        check_s=result["check_s"],
        stop_s=stop_s,
        fixtures={k: v for k, v in fixtures.items() if k in ("events", "build_s", "cached")},
        problems=result["problems"],
    )
    failed = len(result["problems"])
    attempted = result["attempted"]

    if args.trace:
        log = tracing.find_event_log(log_dir, app_id)
        jobs = tracing.parse_event_log(log)["jobs"]
        layers, rows, check = traced_layers(rec, jobs, result["passes"] - 1)
        layers["session.start_s"] = setup_s
        trace_dir = os.path.join(cache, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"context": context, "spans": ctx.tracer.spans, "ops": rows,
                       "event_log": log}, f, indent=1)
        detail.update(job_count_check=check, trace_file=trace_path,
                      traced_warm_total_s=e2e["warm_total_s"], traced_cold_total_s=e2e["cold_total_s"])
        failed += len(check["mismatched"])
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": layers[n], "unit": tracing.unit_of(n)} for n in names}
    else:
        e2e["setup_s"] = setup_s
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}

    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
