"""SparkSession factory.

The reference's runtime layer is a hand-configured 2-node Hadoop/YARN
cluster (reference hadoop.md:341-352, 744-780); Spark replaces that
wholesale. This factory encodes the local-mode test configuration; on a
real cluster the same code runs under ``spark-submit --master yarn`` with
``spark.executor.*`` sizing instead.

Scale notes (100 TB design intent):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic broadcast decisions replace hand-tuned MapReduce knobs.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound;
  AQE coalesces down. On a 1000-executor cluster you'd raise it
  (rule of thumb: 2-3x total cores) — here it tracks local cores.
- Arrow enabled so any pandas_udf path is vectorized batch transfer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "adm-bda-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for the test tiers."""
    # Executor Python workers unpickle our pandas/mapInPandas UDFs, so the
    # package root must be importable in THEM, not just the driver —
    # regardless of the caller's cwd. PYTHONPATH set before JVM start
    # propagates to local-mode workers; on a real cluster the equivalent
    # is --py-files / spark.submit.pyFiles with the packaged wheel.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pypath}" if pypath else pkg_root

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(8, min(2 * cpus, 64))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # custom Python data sources (sources/warclite.py) prune whole
        # files from header stats via pushFilters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Per-call Python call-site capture (DataFrame debugging) costs 3
        # py4j round trips + a stack walk on EVERY DataFrame/Column API
        # call — measured ~40% of plan-construction wall on expression-
        # heavy plans (r14 profile: 0.4 s of a083's 1.1 s build). Error
        # messages lose the Python-side line number; the JVM-side error
        # class/context is unaffected. On a production driver submitting
        # thousands of plans this is the same latency class as analyzer
        # cost — keep it off, flip on locally when debugging a plan.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Worker daemon preloads pandas/pyarrow/numpy before forking, so
        # each executor core's first Python worker starts via plain fork
        # instead of a ~2 s import storm (first-mapInPandas cold start).
        .config(
            "spark.python.daemon.module",
            "advanced_data_mining_and_big_data_analysis_spark.daemon_preload",
        )
        # Long-lived-session hygiene (r14, measured): a session that runs
        # many queries degrades progressively — after ~40 headline queries
        # the sort/join-heavy plans ran 3-6x their fresh-session wall
        # (a0089 2.1 -> 8.8 s, a0013 1.8 -> 7.2 s in a controlled A/B).
        # Two accumulation channels, two fixes:
        # (1) ContextCleaner frees shuffle files / broadcasts / cached
        #     localCheckpoint RDDs only when a DRIVER GC collects their
        #     references; the default periodicGC.interval of 30min lets a
        #     multi-query session pile them up. 45s bounds the backlog
        #     (A/B: contamination pass 87 -> 63 s, a0089 back to 4.0 s).
        # (2) Whole-stage codegen compiles hundreds of generated classes
        #     per session; the JVM's default 240 MB ReservedCodeCacheSize
        #     fills, the JIT stops compiling, and later queries run
        #     interpreted. 1g keeps the JIT on (A/B both fixes together:
        #     pass 53 s, a0089 2.9 s, a0013 2.8 s — fresh-session class).
        # Same knobs apply verbatim on a production driver that submits
        # thousands of queries per session; extra_conf overrides either.
        .config("spark.cleaner.periodicGC.interval", "45s")
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
