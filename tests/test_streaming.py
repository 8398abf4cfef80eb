"""Real Structured Streaming runs (availableNow trigger) asserting the
streaming result equals the equivalent batch computation on the same files."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from advanced_data_mining_and_big_data_analysis_spark import streaming as ST
from advanced_data_mining_and_big_data_analysis_spark.sources import SCHEMAS, load_table


@pytest.fixture(scope="module")
def event_files(spark, sf_dir):
    """events table split into several parquet files (a multi-file stream
    source), microsecond timestamps."""
    tmp = tempfile.mkdtemp(prefix="stream_src_")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(f"{tmp}/events")
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def _run_to_memory(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_tumbling_equals_batch(spark, event_files):
    schema = SCHEMAS["events"].add("ignored", "string") if False else SCHEMAS["events"]
    src = ST.stream_from_directory(spark, f"{event_files}/events", schema)
    # the stored ts is already microsecond timestamps in these files
    streamed = _run_to_memory(spark, ST.tumbling_agg(src, window="1 hour"), "t_tumble")
    batch = (
        spark.read.parquet(f"{event_files}/events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )
    cols = ["window_start", "event_type", "n_events"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_streaming_sessions_equal_batch_sessionization(spark, event_files):
    src = ST.stream_from_directory(spark, f"{event_files}/events", SCHEMAS["events"]).filter(
        F.col("user_id") <= 10
    )
    streamed = _run_to_memory(spark, ST.session_agg(src, gap="30 minutes"), "t_sessions")
    # batch twin: lag + running-sum sessionization (same 30-minute gap)
    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{event_files}/events").filter(F.col("user_id") <= 10)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # interval arithmetic: valid for TIMESTAMP and TIMESTAMP_NTZ alike
    is_new = F.when(
        prev.isNull() | ((F.col("ts") - prev) > F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    sess = (
        ev.withColumn("sid", F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))
    )
    cols = ["user_id", "session_start", "n_events"]
    assert _rows(streamed, cols) == _rows(sess, cols)


def test_streaming_dedup_and_foreach_batch_sink(spark, event_files):
    src = ST.stream_from_directory(spark, f"{event_files}/events", SCHEMAS["events"])
    deduped = ST.streaming_dedup(src, ["user_id", "event_type"])
    out = tempfile.mkdtemp(prefix="stream_sink_")
    try:
        q = ST.write_foreach_batch_parquet(deduped, f"{out}/data", f"{out}/ckpt")
        q.awaitTermination(120)
        written = spark.read.parquet(f"{out}/data")
        # each (user_id, event_type) appears exactly once
        dup_groups = (
            written.groupBy("user_id", "event_type").count().filter(F.col("count") > 1).count()
        )
        assert dup_groups == 0
        assert written.count() > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_stateful_running_totals_across_microbatches(spark, event_files):
    """applyInPandasWithState accumulates per-user state across
    micro-batches; the final emitted totals must equal the batch
    groupBy totals."""
    src = ST.stream_from_directory(
        spark, f"{event_files}/events", SCHEMAS["events"], max_files_per_trigger=1
    ).filter(F.col("user_id") <= 5)
    totals = ST.stateful_running_totals(src, key="user_id")
    q = (
        totals.writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode emits one row per key per micro-batch; totals grow
    # monotonically, so the max per key is the final state
    got = {
        r["user_id"]: (r["mx_n"], r["mx_total"])
        for r in spark.table("t_stateful")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("mx_n"),
            F.max("total_value").alias("mx_total"),
        )
        .collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["total"])
        for r in spark.read.parquet(f"{event_files}/events")
        .filter(F.col("user_id") <= 5)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(got) == set(batch)
    for k in batch:
        assert got[k][0] == batch[k][0]
        assert abs(got[k][1] - batch[k][1]) < 1e-6


def test_stream_stream_left_outer_join_equals_batch(spark, event_files):
    """Left-outer stream-stream join: matched rows equal the batch inner
    join; unmatched left rows whose join window has expired past the
    final watermark are emitted null-padded, equal to the batch left
    join restricted to that expired region."""
    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    sl, sr = split(
        ST.stream_from_directory(spark, f"{event_files}/events", SCHEMAS["events"]).filter(
            F.col("user_id") <= 20
        )
    )
    joined = ST.stream_stream_join(sl, sr, within="15 minutes", how="left_outer")
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssj_lo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("t_ssj_lo")

    bl, br = split(spark.read.parquet(f"{event_files}/events").filter(F.col("user_id") <= 20))
    batch = (
        bl.select(F.col("user_id").alias("l_key"), F.col("ts").alias("l_ts"), F.col("value").alias("l_value"))
        .join(
            br.select(F.col("user_id").alias("r_key"), F.col("ts").alias("r_ts"), F.col("value").alias("r_value")),
            F.expr("l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 15 MINUTES"),
            "left_outer",
        )
    )
    cols = ["l_key", "l_ts", "r_ts"]
    # matched region: identical to the batch inner part
    assert _rows(streamed.filter("r_ts IS NOT NULL"), cols) == _rows(
        batch.filter("r_ts IS NOT NULL"), cols
    )
    # expired region: nulls are only guaranteed for left rows whose join
    # window closed before the FINAL watermark = min(side maxes) - delay
    from datetime import timedelta

    side_max = min(bl.agg(F.max("ts")).first()[0], br.agg(F.max("ts")).first()[0])
    final_wm = side_max - timedelta(minutes=30)
    cutoff = F.lit(final_wm - timedelta(minutes=16))  # within bound + 1m margin
    got_nulls = _rows(streamed.filter(F.col("r_ts").isNull() & (F.col("l_ts") < cutoff)), cols)
    want_nulls = _rows(batch.filter(F.col("r_ts").isNull() & (F.col("l_ts") < cutoff)), cols)
    assert got_nulls == want_nulls
    assert len(got_nulls) > 0  # the fixture must actually exercise null padding


def test_stateful_session_expiry_event_time_timeout(spark):
    """EventTimeTimeout state machine: a key whose last event is gap+delay
    behind the advanced watermark must emit exactly one closed-session
    row and lose its state."""
    import time

    tmp = tempfile.mkdtemp(prefix="stream_timeout_")
    try:
        # file A: user 1, three events in a tight burst at T0
        # file B (later batch): user 2 far in the future — advances the
        # watermark past user 1's session timeout
        rows_a = [(1, 1, "click", f"2024-01-01 00:0{m}:00", 1.0) for m in range(3)]
        rows_b = [(100, 2, "click", "2024-01-02 12:00:00", 2.0)]

        def write(rows, name):
            spark.createDataFrame(
                [(e, u, t, ts, v) for (e, u, t, ts, v) in rows],
                "event_id long, user_id long, event_type string, ts string, value double",
            ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{tmp}/src/{name}")

        write(rows_a, "a")
        time.sleep(1.1)  # file-source batches follow modification time
        write(rows_b, "b")

        schema = "event_id long, user_id long, event_type string, ts timestamp, value double"
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/src/*")
        )
        sessions = ST.stateful_session_expiry(
            src, key="user_id", watermark="10 minutes", gap_ms=30 * 60 * 1000
        )
        q = (
            sessions.writeStream.format("memory")
            .queryName("t_expiry")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.table("t_expiry").collect()
        closed = [r for r in out if r["closed"] and r["user_id"] == 1]
        assert len(closed) == 1, f"expected one closed session for user 1, got {out}"
        assert closed[0]["n_events"] == 3
        assert abs(closed[0]["total_value"] - 3.0) < 1e-9
        # user 2's session is still live at stream end — never closed
        assert not [r for r in out if r["closed"] and r["user_id"] == 2]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_stream_join_equals_batch_interval_join(spark, event_files):
    """Two real streams (clicks x purchases per user, 15-minute bound)
    joined stream-to-stream must match the equivalent batch interval
    join on the same files."""
    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    sl, sr = split(
        ST.stream_from_directory(spark, f"{event_files}/events", SCHEMAS["events"]).filter(
            F.col("user_id") <= 20
        )
    )
    joined = ST.stream_stream_join(sl, sr, within="15 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("t_ssj")

    bl, br = split(spark.read.parquet(f"{event_files}/events").filter(F.col("user_id") <= 20))
    batch = (
        bl.select(F.col("user_id").alias("l_key"), F.col("ts").alias("l_ts"), F.col("value").alias("l_value"))
        .join(
            br.select(F.col("user_id").alias("r_key"), F.col("ts").alias("r_ts"), F.col("value").alias("r_value")),
            F.expr("l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 15 MINUTES"),
        )
    )
    cols = ["l_key", "l_ts", "r_ts"]
    assert _rows(streamed, cols) == _rows(batch, cols)
    assert streamed.count() > 0


def test_streaming_cdc_snapshot_maintenance(spark):
    """The streaming MERGE loop: two CDC micro-batches applied in order to
    a parquet snapshot must yield exactly the sequential batch apply —
    including a cross-batch update-then-delete and a delete-then-reinsert."""
    import pyspark.sql.types as T

    from advanced_data_mining_and_big_data_analysis_spark.operators.cdc import apply_cdc

    tmp = tempfile.mkdtemp(prefix="cdc_stream_")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("payload", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    batch1 = [(1, "a1", "I", 1), (2, "b1", "I", 2), (3, "c1", "I", 3)]
    batch2 = [(2, None, "D", 4), (3, "c2", "U", 5), (4, "d1", "I", 6), (1, None, "D", 7), (1, "a2", "I", 8)]
    # one file per micro-batch, lexicographic names fix arrival order
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(f"{tmp}/feed/b=0")
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(f"{tmp}/feed/b=1")

    feed = ST.stream_from_directory(
        spark, f"{tmp}/feed/b=*", schema, max_files_per_trigger=1
    )
    q = ST.write_cdc_snapshot(
        feed, f"{tmp}/snapshot", f"{tmp}/ckpt", key="k", op_col="op", seq_col="seq"
    )
    q.awaitTermination(120)

    got = {r["k"]: r["payload"] for r in spark.read.parquet(f"{tmp}/snapshot").collect()}
    # sequential truth: batch1 then batch2 through the same operator
    base0 = spark.createDataFrame([], "k long, payload string")
    b1 = spark.createDataFrame(batch1, schema)
    b2 = spark.createDataFrame(batch2, schema)
    want_df = apply_cdc(apply_cdc(base0, b1, key="k"), b2, key="k")
    want = {r["k"]: r["payload"] for r in want_df.collect()}
    assert got == want == {1: "a2", 3: "c2", 4: "d1"}
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_cdc_snapshot_crash_recovery(spark):
    """ADVICE r2: a crash between the swap's two renames leaves the only
    full snapshot in `.old-{batch}`. The next batch must restore it as
    its base — not rebuild from empty, which would drop every row absent
    from that batch's change feed."""
    import os

    import pyspark.sql.types as T

    from advanced_data_mining_and_big_data_analysis_spark.operators.cdc import apply_cdc

    tmp = tempfile.mkdtemp(prefix="cdc_crash_")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("payload", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    batch1 = [(1, "a1", "I", 1), (2, "b1", "I", 2), (3, "c1", "I", 3)]
    batch2 = [(4, "d1", "I", 4), (2, None, "D", 5)]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(f"{tmp}/feed/b=0")
    feed = ST.stream_from_directory(spark, f"{tmp}/feed/b=*", schema, max_files_per_trigger=1)
    ST.write_cdc_snapshot(
        feed, f"{tmp}/snapshot", f"{tmp}/ckpt", key="k", op_col="op", seq_col="seq"
    ).awaitTermination(120)

    # simulate the crash window: snapshot moved aside, nothing in place
    os.rename(f"{tmp}/snapshot", f"{tmp}/snapshot.old-0")

    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(f"{tmp}/feed/b=1")
    feed2 = ST.stream_from_directory(spark, f"{tmp}/feed/b=*", schema, max_files_per_trigger=1)
    ST.write_cdc_snapshot(
        feed2, f"{tmp}/snapshot", f"{tmp}/ckpt", key="k", op_col="op", seq_col="seq"
    ).awaitTermination(120)

    got = {r["k"]: r["payload"] for r in spark.read.parquet(f"{tmp}/snapshot").collect()}
    assert got == {1: "a1", 3: "c1", 4: "d1"}  # rows 1,3 survived the crash
    assert not os.path.exists(f"{tmp}/snapshot.old-0")  # aside copy cleaned up
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_dedup_ingest_grows_curated_corpus(spark):
    """Streaming corpus ingest: batch 1 contains an internal near-dup
    pair (min-id survivor wins); batch 2 re-submits a near-copy of an
    already-ingested doc (dropped against the corpus) plus a novel doc
    (kept). The accumulated corpus must equal the sequential batch
    application of the same operators."""
    import os

    import pyspark.sql.types as T

    base = "the quick brown fox jumps over the lazy dog near the river bank at dawn"
    novel1 = "spark shuffles partition data across executors during wide transformations"
    novel2 = "completely unrelated second text about window functions and watermarks"
    tmp = tempfile.mkdtemp(prefix="dedup_ingest_")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    batch1 = [(1, base), (2, base + " extra"), (3, novel1)]  # 1~2 near-dups
    batch2 = [(10, base), (11, novel2)]  # 10 dups corpus doc 1; 11 novel
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(f"{tmp}/feed/b=0")
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(f"{tmp}/feed/b=1")

    feed = ST.stream_from_directory(spark, f"{tmp}/feed/b=*", schema, max_files_per_trigger=1)
    q = ST.write_dedup_ingest(
        feed, f"{tmp}/corpus", f"{tmp}/ckpt", jaccard_threshold=0.5
    )
    q.awaitTermination(180)

    got = sorted(r["doc_id"] for r in spark.read.parquet(f"{tmp}/corpus").collect())
    assert got == [1, 3, 11]
    # the sink reads each micro-batch from its source once, whatever the
    # number of actions it runs over the batch
    assert sum(p["numInputRows"] for p in q.recentProgress) == 5
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_cms_equals_batch_sketch(spark, event_files, sf_dir):
    """The live-maintained CMS (stateful counters keyed by sketch cell)
    must converge to exactly the batch-built sketch over the same data —
    the stream==batch contract for the q119 sketch family. State is
    bounded by depth*width cells, never the token cardinality."""
    from advanced_data_mining_and_big_data_analysis_spark.plans.pipeline_ops import cms_table

    schema = SCHEMAS["events"]
    src = ST.stream_from_directory(spark, f"{event_files}/events", schema)
    stream = ST.streaming_cms(src, "event_type", depth=4, width=64)
    q = (
        stream.writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode emits one row per touched cell per batch; the final
    # count per cell is the max (counts are monotone)
    got = {
        (r["depth"], r["bucket"]): r["cnt"]
        for r in spark.table("cms_stream")
        .groupBy("depth", "bucket")
        .agg(F.max("cnt").alias("cnt"))
        .collect()
    }

    ev = load_table(spark, sf_dir, "events").select(F.col("event_type").alias("token"))
    import advanced_data_mining_and_big_data_analysis_spark.plans.pipeline_ops as P3

    orig_w = P3._CMS_WIDTH
    P3._CMS_WIDTH = 64
    try:
        expected = {
            (r["depth"], r["bucket"]): r["cnt"] for r in cms_table(ev, "token", []).collect()
        }
    finally:
        P3._CMS_WIDTH = orig_w
    assert got == expected
    # sketch state is bounded: never more cells than depth*width
    assert len(got) <= 4 * 64


def test_warclite_streaming_source_resumes_from_checkpoint(spark, tmp_path):
    """The warclite SimpleDataSourceStreamReader treats newly-landed
    .wlc files as micro-batches; a restart from the same checkpoint
    must ingest ONLY files that arrived since the last run (offset =
    ingested file-name set)."""
    from advanced_data_mining_and_big_data_analysis_spark.sources import warclite as W

    W.register(spark)
    src = str(tmp_path / "crawl")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    import os

    os.makedirs(src)
    W.write_wlc_file(
        f"{src}/crawl-000.wlc", [(i, "text/plain", b"p%d" % i) for i in range(10)]
    )

    def run_once():
        q = (
            spark.readStream.format("warclite")
            .load(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(sink)
    assert first.count() == 10

    W.write_wlc_file(
        f"{src}/crawl-001.wlc", [(100 + i, "text/plain", b"q%d" % i) for i in range(7)]
    )
    run_once()
    final = spark.read.parquet(sink)
    assert final.count() == 17  # 10 + only the 7 NEW records
    ids = sorted(r["doc_id"] for r in final.collect())
    assert ids == list(range(10)) + list(range(100, 107))


def test_streaming_ewma_equals_batch_q125(spark, event_files, sf_dir):
    """The live EWMA state machine must converge to exactly the batch
    q125 result over the same files (single availableNow batch: rows
    sorted within the batch, identical left-to-right double fold)."""
    from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries

    schema = SCHEMAS["events"]
    src = ST.stream_from_directory(spark, f"{event_files}/events", schema)
    stream = ST.stateful_ewma(src, key="user_id")
    q = (
        stream.writeStream.format("memory")
        .queryName("ewma_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    latest = (
        spark.table("ewma_stream")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max_by("ewma", "n_events").alias("ewma"))
    )
    got = {r["user_id"]: (r["n_events"], round(r["ewma"], 6)) for r in latest.collect()}

    batch = all_queries()["q125_ewma_smoothing"].fn(spark, sf_dir)
    exp = {r["user_id"]: (r["n_events"], r["ewma"]) for r in batch.collect()}
    assert got == exp


def test_streaming_ohlc_equals_batch_q146(spark, event_files, sf_dir):
    """The stateful OHLC bars must equal batch q146 over the same files.
    OHLC state is a commutative merge (order-free), so this holds under
    ANY row interleaving — no within-batch sort needed."""
    from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries

    schema = SCHEMAS["events"]
    src = ST.stream_from_directory(spark, f"{event_files}/events", schema)
    stream = ST.stateful_ohlc(src)
    q = (
        stream.writeStream.format("memory")
        .queryName("ohlc_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    latest = (
        spark.table("ohlc_stream")
        .groupBy("event_type", "day")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("open", "n_events").alias("open"),
            F.max_by("high", "n_events").alias("high"),
            F.max_by("low", "n_events").alias("low"),
            F.max_by("close", "n_events").alias("close"),
        )
        .filter(F.col("n_events") >= 5)
    )
    got = sorted(
        (
            r["event_type"],
            r["day"],
            round(r["open"], 6),
            round(r["high"], 6),
            round(r["low"], 6),
            round(r["close"], 6),
            r["n_events"],
        )
        for r in latest.collect()
    )
    batch = all_queries()["a0146_ohlc_bars"].fn(spark, sf_dir)
    exp = sorted(
        (r["event_type"], r["day"], r["open"], r["high"], r["low"], r["close"], r["n_events"])
        for r in batch.collect()
    )
    assert got == exp


def test_streaming_drift_histogram_equals_batch(spark, event_files, sf_dir):
    """The drift monitor's histogram state built over a real stream
    (availableNow) must equal the batch histogram on the same files,
    and the KS statistic computed from either is identical — the
    streaming twin of a0136's binned two-sample KS."""
    src = ST.stream_from_directory(spark, f"{event_files}/events", SCHEMAS["events"])
    streamed_hist = _run_to_memory(
        spark, ST.streaming_drift_histogram(src), "t_drift_hist"
    )
    batch_hist = ST.streaming_drift_histogram(load_table(spark, sf_dir, "events"))
    cols = ["bin", "n_a", "n_b"]
    assert _rows(streamed_hist, cols) == _rows(batch_hist, cols)

    ks_cols = ["n_a", "n_b", "ks_stat", "drift_at_5pct"]
    s_ks = _rows(ST.ks_from_histogram(streamed_hist), ks_cols)
    b_ks = _rows(ST.ks_from_histogram(batch_hist), ks_cols)
    assert s_ks == b_ks
    assert s_ks[0][0] > 0 and s_ks[0][1] > 0


def test_streaming_semdedup_ingest_matches_numpy_replica(spark):
    """Streaming SEMANTIC dedup ingest (the a0003 idiom as a corpus
    loop): four micro-batches of 8-dim vectors with planted near-dups
    within a batch, across batches, and a CHAINED pair (A duplicates
    the corpus; B duplicates only A). Expected corpus comes from an
    INDEPENDENT numpy replay of the declared rule (rank-stride codebook
    from the bootstrap batch, nearest-seed cells with round-9 ties to
    the lowest seed id, and the a0003 ALL-EARLIER accept: a new vector
    is removed if ANY earlier-priority (is_new, vec_id) member of its
    cell matches, whether or not that member was itself removed) — not
    from re-running the operator, so the pin is a real cross-check.
    The chained batch makes the rule choice observable: under the
    rival survivors-only rule B would be KEPT (asserted below), so the
    fixture genuinely distinguishes the declared semantics."""
    import os

    import numpy as np
    import pyspark.sql.types as T

    rng = np.random.RandomState(7)
    base = rng.randn(6, 8)
    rows = []
    # batch 0 (bootstrap): 6 distinct vectors, ids 0..5
    for i in range(6):
        rows.append((0, i, base[i]))
    # batch 1: near-copy of id 1 (scaled — cosine 1.0), one novel
    rows.append((1, 10, base[1] * 1.01))
    rows.append((1, 11, rng.randn(8)))
    # batch 2: near-copy of the batch-1 novel AND an internal dup pair
    rows.append((2, 20, rows[-1][2] * 0.99))
    v = rng.randn(8)
    rows.append((2, 21, v))
    rows.append((2, 22, v * 1.02))
    # batch 3 (the CHAIN): id 30 duplicates corpus member 3
    # (cos ~0.961 >= thr); id 31 duplicates ONLY 30 (cos(30,31) ~0.978,
    # cos(31, base[3]) ~0.882 < thr). All-earlier drops both; the
    # survivors rule would keep 31.
    u = base[3] / np.linalg.norm(base[3])
    w = base[4] - (base[4] @ u) * u
    w = w / np.linalg.norm(w)
    v30 = np.cos(0.28) * u + np.sin(0.28) * w
    v31 = np.cos(0.49) * u + np.sin(0.49) * w
    rows.append((3, 30, v30))
    rows.append((3, 31, v31))

    thr, target = 0.95, 4
    n_batches = 4

    # --- independent replica (all-earlier rule) -------------------------
    n0 = 6
    k = -(-n0 // target)
    step = -(-n0 // k)
    seed_ids = [i for i in range(n0) if i % step == 0]
    cmat = np.array([base[i] for i in seed_ids], dtype=np.float64)

    def cell_of(x):
        d2 = np.round(((x - cmat) ** 2).sum(axis=1), 9)
        return seed_ids[int(np.argmin(d2))]

    def replay(earlier_pool):
        """earlier_pool(accepted, processed) -> the within-batch frames a
        probe compares against, on top of the corpus; the declared rule
        uses ALL processed earlier members, the rival uses survivors."""
        corpus: list[tuple[int, int, np.ndarray]] = []  # (id, cell, v)
        for b in range(n_batches):
            batch = [
                (i, cell_of(np.asarray(x, dtype=np.float64)), np.asarray(x, dtype=np.float64))
                for (bb, i, x) in rows
                if bb == b
            ]
            accepted: list[tuple[int, int, np.ndarray]] = []
            processed: list[tuple[int, int, np.ndarray]] = []
            for i, c, x in sorted(batch):
                occupants = [
                    vv
                    for (j, cc, vv) in corpus + earlier_pool(accepted, processed)
                    if cc == c
                ]
                cos = [
                    float(np.round(x @ o / (np.linalg.norm(x) * np.linalg.norm(o)), 9))
                    for o in occupants
                ]
                if not any(cv >= thr for cv in cos):
                    accepted.append((i, c, x))
                processed.append((i, c, x))
            corpus.extend(accepted)
        return sorted(i for i, _, _ in corpus)

    expected = replay(lambda accepted, processed: processed)
    rival_survivors = replay(lambda accepted, processed: accepted)
    # the chain distinguishes the rules: 30 falls either way, 31 only
    # under the declared all-earlier rule
    assert 30 not in expected and 31 not in expected
    assert 31 in rival_survivors and expected != rival_survivors

    # --- the streaming operator ----------------------------------------
    tmp = tempfile.mkdtemp(prefix="semdedup_ingest_")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    for b in range(n_batches):
        batch = [(int(i), [float(e) for e in x]) for (bb, i, x) in rows if bb == b]
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(f"{tmp}/feed/b={b}")
    feed = ST.stream_from_directory(
        spark, f"{tmp}/feed/b=*", schema, max_files_per_trigger=1
    )
    q = ST.write_semdedup_ingest(
        feed, f"{tmp}/corpus", f"{tmp}/ckpt",
        cos_threshold=thr, target_cell=target, cap=1000,
    )
    q.awaitTermination(180)
    assert sum(p["numInputRows"] for p in q.recentProgress) == len(rows)

    got = sorted(r["vec_id"] for r in spark.read.parquet(f"{tmp}/corpus").collect())
    assert got == expected, (got, expected)
    # the planted dups must actually have been dropped — including BOTH
    # ends of the chained pair (the all-earlier rule cascades)
    assert 10 not in got and 20 not in got and 22 not in got
    assert 30 not in got and 31 not in got
    # codebook persisted once, from the bootstrap batch only
    cb = sorted(r["seed_id"] for r in spark.read.parquet(f"{tmp}/corpus_codebook").collect())
    assert cb == [i for i in range(6) if i % step == 0]

    # over-cap exactness: cap=2 splits every cell into multiple target
    # shards, and the result must be IDENTICAL — probes visit every shard
    # of their cell, so sharding never hides a corpus occupant
    feed2 = ST.stream_from_directory(
        spark, f"{tmp}/feed/b=*", schema, max_files_per_trigger=1
    )
    q2 = ST.write_semdedup_ingest(
        feed2, f"{tmp}/corpus2", f"{tmp}/ckpt2",
        cos_threshold=thr, target_cell=target, cap=2,
    )
    q2.awaitTermination(180)
    got2 = sorted(r["vec_id"] for r in spark.read.parquet(f"{tmp}/corpus2").collect())
    assert got2 == expected, (got2, expected)
    shutil.rmtree(tmp, ignore_errors=True)
