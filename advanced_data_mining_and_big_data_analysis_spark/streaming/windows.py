"""Structured Streaming wiring (SURVEY §2.11).

The reference has no streaming layer — its cluster runtime (hadoop.md) is
batch MapReduce. The driver's ``events`` table is the stream surface our
engine additionally serves: file-source streams, event-time tumbling /
sliding / session windows with watermarks, streaming dedup, and
foreachBatch sinks. Everything here is built-in Structured Streaming —
the engine's job is correct wiring, not custom state stores. For custom
state beyond these, ``applyInPandasWithState`` is the escape hatch.

Batch parity: plans/sessions.py declares batch-SQL equivalents of the same
window semantics (time_bucket truncation, gap-based sessions), so the
streaming operators have DuckDB-checkable twins; tests/test_streaming.py
additionally runs real streams (availableNow trigger) and asserts the
streaming result equals the batch result on the same files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stream_from_directory(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream with an explicit schema (streaming requires one —
    the same no-inference rule as the batch readers)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def tumbling_agg(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling window counts/sums with late-data watermark."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sliding_agg(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding event-time windows (each event lands in window/slide panes)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def session_agg(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Gap-based session windows per key (session closes after ``gap`` of
    inactivity). Streaming twin of the lag+cumsum batch sessionization in
    plans/sessions.py."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col(key),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    within_watermark: bool = True,
) -> DataFrame:
    """Streaming duplicate drop. ``within_watermark`` bounds the dedup state
    to the watermark horizon (the only sane setting for an unbounded
    stream — exact global dedup state grows without bound)."""
    with_wm = events.withWatermark(ts_col, watermark)
    if within_watermark:
        return with_wm.dropDuplicatesWithinWatermark(keys)
    return with_wm.dropDuplicates(keys)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    within: str = "15 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with event-time bounds (SURVEY §2.11).

    Both sides carry watermarks and the join condition bounds right.ts to
    [left.ts, left.ts + within] — the constraint Structured Streaming
    needs to age out buffered state on both sides, and (for outer joins)
    to know when an unmatched buffered row can be emitted null-padded.
    ``how`` supports inner and left_outer. Returns
    (key, left ts, right ts, left value, right value).
    """
    if how not in ("inner", "left_outer", "leftOuter"):
        raise ValueError(f"stream_stream_join supports inner/left_outer, got {how!r}")
    l = left.withWatermark(ts_col, watermark).select(
        F.col(key).alias("l_key"), F.col(ts_col).alias("l_ts"), F.col("value").alias("l_value")
    )
    r = right.withWatermark(ts_col, watermark).select(
        F.col(key).alias("r_key"), F.col(ts_col).alias("r_ts"), F.col("value").alias("r_value")
    )
    return l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        how,
    )


def stateful_running_totals(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (SURVEY §2.11):
    per-key running event count and value sum maintained across
    micro-batches in the state store. The built-in windows cover time
    semantics; this is the escape hatch for arbitrary state machines."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField(key, T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
    )

    def update(key_tuple, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({key: [key_tuple[0]], "n_events": [n], "total_value": [total]})

    return events.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stateful_session_expiry(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    gap_ms: int = 30 * 60 * 1000,
) -> DataFrame:
    """Event-time session state machine with explicit state expiry
    (SURVEY §2.11 stateful timeouts).

    applyInPandasWithState with EventTimeTimeout: each key accumulates
    (n_events, total_value, max event time); after every batch the
    timeout is re-armed to max_ts + gap. When the stream's watermark
    passes that timestamp the state times out — the handler emits ONE
    closed-session row and removes the state, so state volume stays
    bounded by the set of live sessions, never the key universe. This is
    the timeout-driven variant of the built-in session_window (which
    emits on window close but can't run arbitrary per-session logic)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField(key, T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("closed", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("max_ts_ms", T.LongType()),
        ]
    )

    def update(key_tuple, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            n, total, _ = state.get
            state.remove()
            yield pd.DataFrame(
                {key: [key_tuple[0]], "n_events": [n], "total_value": [total], "closed": [True]}
            )
            return
        n, total, max_ts_ms = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
            batch_max = pdf[ts_col].max()
            max_ts_ms = max(max_ts_ms, int(batch_max.value // 1_000_000))
        state.update((n, total, max_ts_ms))
        state.setTimeoutTimestamp(max_ts_ms + gap_ms)
        yield pd.DataFrame(
            {key: [key_tuple[0]], "n_events": [n], "total_value": [total], "closed": [False]}
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.EventTimeTimeout
        )
    )


def streaming_cms(
    events: DataFrame, tok_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Streaming count-min-sketch maintenance (the q119 sketch kept live
    over an unbounded stream): each token flat-maps to its `depth`
    (depth, bucket) cells; every cell is one stateful counter in the
    state store via applyInPandasWithState. State volume is bounded by
    depth*width CELLS regardless of stream volume or key cardinality —
    the property that makes sketch maintenance viable where exact
    per-token streaming counts are not. Output mode 'update': each
    micro-batch emits the cells it touched with their running counts;
    the latest row per cell IS the sketch, and merging two streams'
    sketches remains a bucket-wise sum (the q119 merge contract).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cells = events.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("depth"),
                        F.pmod(F.xxhash64(F.lit(j), F.col(tok_col)), F.lit(width)).alias(
                            "bucket"
                        ),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("_c")
    ).select("_c.depth", "_c.bucket")

    out_schema = T.StructType(
        [
            T.StructField("depth", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
            T.StructField("cnt", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def update(key_tuple, pdf_iter, state: GroupState):
        (n,) = state.get if state.exists else (0,)
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame(
            {"depth": [key_tuple[0]], "bucket": [key_tuple[1]], "cnt": [n]}
        )

    return cells.groupBy("depth", "bucket").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stateful_ewma(
    events: DataFrame, key: str = "user_id", ts_col: str = "ts", alpha: float = 0.5
) -> DataFrame:
    """Streaming twin of q125's per-key EWMA: the smoothing state
    (n_events, ewma) lives in the state store and each micro-batch
    folds its rows — sorted by (ts, event_id) within the batch — into
    the recursion e_t = alpha*x_t + (1-alpha)*e_{t-1}.

    Cross-batch correctness assumes event-time-ordered arrival between
    batches (same contract as any streaming recursion; guard with a
    watermark + sorted re-ingest if the transport reorders). Within a
    batch, arrival order does not matter — rows are sorted before the
    fold."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField(key, T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("ewma", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("e", T.DoubleType())]
    )

    def update(key_tuple, pdf_iter, state: GroupState):
        n, e = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            pdf = pdf.sort_values([ts_col, "event_id"])
            for x in pdf["value"]:
                x = float(x)
                e = x if n == 0 else alpha * x + (1 - alpha) * e
                n += 1
        state.update((n, e))
        yield pd.DataFrame({key: [key_tuple[0]], "n_events": [n], "ewma": [e]})

    return events.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stateful_ohlc(
    events: DataFrame, key_cols: tuple[str, str] = ("event_type",), ts_col: str = "ts"
) -> DataFrame:
    """Streaming twin of q146's OHLC bars: per (key, day) the bar state
    (open's (ts, event_id) + value, high, low, close's (ts, event_id) +
    value, count) lives in the state store and each micro-batch merges
    its rows in. Unlike a recursion, EVERY OHLC component is a
    commutative-merge statistic — open/close keep the value attached to
    the min/max (ts, event_id) seen so far, high/low/count are plain
    extremes — so arrival ORDER never matters, within or across
    batches: the stream result equals the batch aggregate under any
    interleaving (pytest-pinned)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key = key_cols[0]
    out_schema = T.StructType(
        [
            T.StructField(key, T.StringType()),
            T.StructField("day", T.StringType()),
            T.StructField("open", T.DoubleType()),
            T.StructField("high", T.DoubleType()),
            T.StructField("low", T.DoubleType()),
            T.StructField("close", T.DoubleType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    # state: min/max ordering keys kept as (epoch_us, event_id) so the
    # tie-break matches q146's struct(ts, event_id) exactly
    state_schema = T.StructType(
        [
            T.StructField("o_us", T.LongType()),
            T.StructField("o_id", T.LongType()),
            T.StructField("o_v", T.DoubleType()),
            T.StructField("c_us", T.LongType()),
            T.StructField("c_id", T.LongType()),
            T.StructField("c_v", T.DoubleType()),
            T.StructField("hi", T.DoubleType()),
            T.StructField("lo", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def update(key_tuple, pdf_iter, state: GroupState):
        if state.exists:
            o_us, o_id, o_v, c_us, c_id, c_v, hi, lo, n = state.get
        else:
            o_us = o_id = c_us = c_id = n = None
            o_v = c_v = hi = lo = None
        for pdf in pdf_iter:
            for ts, eid, v in zip(pdf[ts_col], pdf["event_id"], pdf["value"]):
                us, eid, v = int(pd.Timestamp(ts).value // 1000), int(eid), float(v)
                if n is None:
                    o_us, o_id, o_v = us, eid, v
                    c_us, c_id, c_v = us, eid, v
                    hi = lo = v
                    n = 1
                    continue
                if (us, eid) < (o_us, o_id):
                    o_us, o_id, o_v = us, eid, v
                if (us, eid) > (c_us, c_id):
                    c_us, c_id, c_v = us, eid, v
                hi, lo, n = max(hi, v), min(lo, v), n + 1
        state.update((o_us, o_id, o_v, c_us, c_id, c_v, hi, lo, n))
        yield pd.DataFrame(
            {
                key: [key_tuple[0]],
                "day": [key_tuple[1]],
                "open": [o_v],
                "high": [hi],
                "low": [lo],
                "close": [c_v],
                "n_events": [n],
            }
        )

    keyed = events.withColumn("day", F.to_date(ts_col).cast("string"))
    return keyed.groupBy(key, "day").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def _start_foreach_batch(stream: DataFrame, sink, checkpoint_dir: str):
    """Start ``sink`` as the foreachBatch sink of ``stream`` under the
    availableNow trigger: every input available at start is processed,
    then the query stops. Returns the StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_foreach_batch_parquet(stream: DataFrame, out_dir: str, checkpoint_dir: str):
    """foreachBatch parquet sink: each micro-batch lands as an idempotent
    overwrite of its own ``batch_id=N`` directory — foreachBatch is
    at-least-once, so a replayed batch must overwrite, not append, for
    the sink to be exactly-once end to end. Returns the StreamingQuery."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return _start_foreach_batch(stream, sink, checkpoint_dir)


def write_cdc_snapshot(
    changes: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    key: str,
    op_col: str = "op",
    seq_col: str = "seq",
):
    """Streaming incremental table maintenance: a CDC change stream is
    applied micro-batch by micro-batch to a parquet snapshot via
    ``operators.cdc.apply_cdc`` — the streaming MERGE loop (read
    snapshot, apply batch, atomically swap). Latest-wins inside each
    batch; across batches, arrival order IS the sequence order (the
    stream's contract). The swap (write tmp, rename) keeps readers from
    seeing a half-written snapshot; on a real cluster the same slot is a
    Delta/Iceberg MERGE with snapshot isolation. Returns the query.
    """
    import os
    import shutil

    from ..operators.cdc import apply_cdc

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base_cols = [c for c in batch_df.columns if c not in (op_col, seq_col)]
        # Crash recovery: if the snapshot is missing but an .old-* copy
        # exists, a previous swap died between its two renames — restore
        # the aside copy as the base instead of rebuilding from empty
        # (which would silently drop every row not in this batch).
        if not os.path.exists(snapshot_dir):
            import glob as _glob

            olds = sorted(
                _glob.glob(f"{snapshot_dir}.old-*"),
                key=lambda p: int(p.rsplit("-", 1)[-1]),
            )
            if olds:
                os.rename(olds[-1], snapshot_dir)
        if os.path.exists(snapshot_dir):
            base = spark.read.parquet(snapshot_dir).select(*base_cols)
        else:
            base = batch_df.select(*base_cols).limit(0)
        applied = apply_cdc(base, batch_df, key=key, op_col=op_col, seq_col=seq_col)
        tmp = f"{snapshot_dir}.tmp-{batch_id}"
        applied.write.mode("overwrite").parquet(tmp)
        # Swap order matters for crash safety: move the old snapshot
        # ASIDE (rename, atomic) before renaming tmp into place, and
        # delete the aside copy only last. A rmtree-then-rename swap has
        # a window where the only full copy is gone. Replaying a batch
        # whose swap completed is safe: apply_cdc is idempotent
        # (latest-wins upserts + deletes), so re-applying the same
        # changes to the already-applied snapshot is a no-op.
        old = f"{snapshot_dir}.old-{batch_id}"
        if os.path.exists(old):
            shutil.rmtree(old)  # leftover aside copy from a prior crash
        if os.path.exists(snapshot_dir):
            os.rename(snapshot_dir, old)
        os.rename(tmp, snapshot_dir)
        if os.path.exists(old):
            shutil.rmtree(old)

    return _start_foreach_batch(changes, sink, checkpoint_dir)


def _persisted(sink):
    """Wrap a foreachBatch sink that runs several actions over its
    micro-batch: persisting the batch first makes the source read once
    per micro-batch instead of once per action."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            sink(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return run


def write_dedup_ingest(
    new_docs: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
):
    """Streaming curated-corpus ingest: each micro-batch of candidate
    documents is deduped (a) against the corpus accumulated so far via
    ``operators.dedup.incremental_dup_ids`` (LSH bucket probe + exact
    Jaccard), then (b) within the batch itself (pairs -> connected
    components -> canonical min-id survivor); only verified-novel
    survivors are APPENDED to the corpus parquet. The corpus therefore
    grows monotonically and stays near-dup-free without ever re-running
    global dedup — the streaming form of the q108 increment shape, and
    the ingestion loop a continuously-crawled 100-TB corpus actually
    runs (per-batch cost is O(batch) signatures + bucket-local joins
    against the corpus index).

    Appends are idempotent per batch only if the stream replays whole
    batches (Structured Streaming's contract with file sinks is
    exactly-once via the checkpoint; a foreachBatch parquet append is
    at-least-once on crash mid-batch — a real deployment would MERGE on
    id into Delta/Iceberg instead, same slot).

    Returns the streaming query.
    """
    import os

    from ..operators.dedup import dedup_survivors, incremental_dup_ids, near_dup_pairs

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.select(id_col, text_col, *(
            c for c in batch_df.columns if c not in (id_col, text_col)
        ))
        # (b) batch-internal dedup first: canonical min-id survivor per
        # near-dup cluster inside the increment
        pairs = near_dup_pairs(
            batch_df, id_col, text_col, jaccard_threshold=jaccard_threshold
        )
        survivors = dedup_survivors(batch_df, pairs, id_col=id_col)
        # (a) then dedup the survivors against the accumulated corpus
        if os.path.exists(corpus_dir):
            corpus = spark.read.parquet(corpus_dir)
            flagged = incremental_dup_ids(
                survivors,
                corpus,
                id_col=id_col,
                text_col=text_col,
                jaccard_threshold=jaccard_threshold,
            )
            survivors = survivors.join(flagged, id_col, "left_anti")
        survivors.write.mode("append").parquet(corpus_dir)

    return _start_foreach_batch(new_docs, _persisted(sink), checkpoint_dir)


def streaming_drift_histogram(
    events: DataFrame,
    type_a: str = "view",
    type_b: str = "click",
    lo: float = 0.0,
    hi: float = 400.0,
    bins: int = 1024,
) -> DataFrame:
    """Streaming state for a two-sample drift monitor: fixed-domain
    equi-width histogram counts per cohort — the streamable form of the
    a0136 binned KS test. Streaming cannot take a data-dependent
    min/max first, so the bin domain is CONFIGURED (exactly how
    production drift monitors work: the reference window fixes the
    domain); out-of-range values clamp into the edge bins. The
    histogram is the only state (``bins`` rows, mergeable across
    shards and triggers); the KS statistic itself is a bounded
    computation over that state (``ks_from_histogram``), identical for
    the streaming and batch paths.
    """
    width = (hi - lo) / bins
    bin_col = F.greatest(
        F.lit(0), F.least(F.floor((F.col("value") - lo) / width), F.lit(bins - 1))
    ).alias("bin")
    return (
        events.filter(F.col("event_type").isin(type_a, type_b))
        .select("event_type", bin_col)
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("event_type") == type_a, 1)).alias("n_a"),
            F.count(F.when(F.col("event_type") == type_b, 1)).alias("n_b"),
        )
    )


def ks_from_histogram(hist: DataFrame, bins: int = 1024) -> DataFrame:
    """KS statistic + 5% drift call from a (bin, n_a, n_b) histogram —
    one bounded cumulative window over <= ``bins`` rows. Works on the
    batch histogram or on a streamed one (memory-sink table)."""
    from pyspark.sql import Window

    t = hist.agg(
        F.sum("n_a").cast("double").alias("tot_a"), F.sum("n_b").cast("double").alias("tot_b")
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cdf = hist.crossJoin(F.broadcast(t)).select(
        (F.sum("n_a").over(w) / F.col("tot_a")).alias("f_a"),
        (F.sum("n_b").over(w) / F.col("tot_b")).alias("f_b"),
        "tot_a",
        "tot_b",
    )
    d = cdf.groupBy("tot_a", "tot_b").agg(F.max(F.abs(F.col("f_a") - F.col("f_b"))).alias("ks"))
    return d.select(
        F.col("tot_a").cast("long").alias("n_a"),
        F.col("tot_b").cast("long").alias("n_b"),
        F.round("ks", 6).alias("ks_stat"),
        (
            F.col("ks")
            > 1.358 * F.sqrt((F.col("tot_a") + F.col("tot_b")) / (F.col("tot_a") * F.col("tot_b")))
        ).alias("drift_at_5pct"),
    )


def write_semdedup_ingest(
    new_vecs: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cos_threshold: float = 0.85,
    target_cell: int = 200,
    cap: int = 200,
):
    """Streaming SEMANTIC-dedup ingest — the a0003/a0001 SemDeDup idiom
    as a continuous corpus loop (VERDICT r12 item 8's streaming twin):
    each micro-batch of embedding vectors is (a) assigned to the
    EXISTING coarse cells (BLAS nearest-seed kernel against the stored
    codebook — built once from the bootstrap batch by rank-stride, with
    a0001's k = ceil(N/target)), (b) compared ONLY against the
    occupants of its own cells — the corpus is stored partitioned by
    cell, so the probe reads just the touched partitions (the q108
    bucket-probe shape in embedding space; partition pruning does the
    bucket lookup), and (c) appended if no earlier-priority member of
    its cell is cosine-similar at or above the threshold. The accept
    rule is the a0003 rule, stated exactly: a new vector is removed if
    ANY earlier-priority member — corpus member, or lower-id batch
    member *whether or not that member was itself removed* — matches.
    (Chained duplicates therefore cascade: if A duplicates the corpus
    and B duplicates only A, BOTH are dropped. This is deliberate —
    a removed vector's near-duplicates are near-duplicates-of-
    near-duplicates — and it is what makes the rule embarrassingly
    parallel: acceptance of X never depends on acceptance of Y.)

    Pair work per batch is n_new x cell, never cell^2, and it is EXACT
    at any cell size: comparison targets are sharded per cell into
    md5-ranked groups of <= ``cap`` and every new vector probes every
    shard of its cell (a cogrouped kernel per (cell, shard)), so an
    over-cap cell bounds each task at cap targets without ever hiding
    a corpus occupant from a probe.

    At 100 TB the codebook becomes the two-level structure a0023
    implements as code (plans/similarity.py — sqrt(N)-sized L1 driver
    collect, per-cell L2 refine that never leaves the executors; swap
    the bootstrap below for that build at scale), and the corpus store
    becomes a MERGE-capable
    table (Delta/Iceberg) — same slots, same plan shape. Appends are
    idempotent per batch only through the checkpoint contract (same
    caveat as write_dedup_ingest).

    Returns the streaming query.
    """
    import os

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from ..operators import dedup as D, similarity as SIM

    codebook_dir = corpus_dir.rstrip("/") + "_codebook"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        b = batch_df.select(
            F.col(id_col).alias("vec_id"), SIM.as_double(vec_col).alias("v")
        )
        if not os.path.exists(codebook_dir):
            # bootstrap: every step-th row of the first batch in vec_id
            # order, k = ceil(n/target) seeds (a0001's k rule; a0001
            # strides by vec_id value, this by rank); bounded collect
            n = b.count()
            if n == 0:
                return
            k = -(-n // target_cell)
            step = -(-n // k)
            w = Window.orderBy("vec_id")
            seeds = (
                b.withColumn("rn", F.row_number().over(w) - 1)
                .filter(F.col("rn") % step == 0)
                .select(F.col("vec_id").alias("seed_id"), F.col("v").alias("sv"))
            )
            seeds.coalesce(1).write.parquet(codebook_dir)
        cb = spark.read.parquet(codebook_dir).orderBy("seed_id").collect()
        assigned = SIM.assign_nearest_seed(
            b, [r["seed_id"] for r in cb], [r["sv"] for r in cb],
            "vec_id long, cell long, v array<double>", "cell",
        )
        touched = [r["cell"] for r in assigned.select("cell").distinct().collect()]
        if not touched:
            return
        new_side = assigned.select("vec_id", "cell", "v", F.lit(1).alias("is_new"))
        if os.path.exists(corpus_dir):
            members = (
                spark.read.parquet(corpus_dir)
                .filter(F.col("cell").isin(touched))  # partition-pruned bucket probe
                .select("vec_id", "cell", "v", F.lit(0).alias("is_new"))
            )
            pool = members.unionByName(new_side)
        else:
            pool = new_side
        # shard the comparison TARGETS per cell at <= cap (md5-ranked, so
        # the split is deterministic); every new vector probes EVERY shard
        # of its cell, so an over-cap cell bounds task size without ever
        # dropping a corpus occupant from the probe's view
        targets = D.salt_buckets(pool, "vec_id", cap, keys=("cell",))
        # bounded collect: one row per touched cell (the `touched` list is
        # already driver-side); avoids a self-join on the targets lineage
        mx_rows = targets.groupBy("cell").agg(F.max("salt").alias("mx")).collect()
        shards = spark.createDataFrame(
            [(int(r["cell"]), int(r["mx"])) for r in mx_rows], "cell long, mx long"
        )
        # target rows (role 0, one shard each) UNION probe rows (role 1,
        # replicated into every shard of their cell): a single role-tagged
        # frame keeps the lineage union-shaped (no ambiguous self-join)
        # and one grouped kernel per (cell, shard) does the compare
        probes = (
            new_side.select("vec_id", "cell", "v")
            .join(F.broadcast(shards), "cell")
            .withColumn("salt", F.explode(F.sequence(F.lit(0), F.col("mx"))))
            .select("cell", "salt", F.lit(1).alias("is_new"), "vec_id", "v", F.lit(1).alias("role"))
        )
        tagged = targets.select(
            "cell", "salt", "is_new", "vec_id", "v", F.lit(0).alias("role")
        ).unionByName(probes)
        thr = float(cos_threshold)

        def probe(pdf: pd.DataFrame) -> pd.DataFrame:
            # a probe (role 1) is hit if ANY earlier-priority target —
            # (is_new, vec_id) order; removed-or-not does not matter (the
            # a0003 all-earlier rule) — in this shard is >= thr; the
            # dot-first/divide-after float order matches the a0003 kernel
            tdf = pdf[pdf["role"] == 0]
            pdf = pdf[pdf["role"] == 1]
            if not len(tdf) or not len(pdf):
                return pd.DataFrame({"removed_id": []}).astype({"removed_id": "int64"})
            cos = SIM.cosine_block(
                np.vstack(pdf["v"].to_numpy()).astype(np.float64),
                np.vstack(tdf["v"].to_numpy()).astype(np.float64),
            )
            t_old = tdf["is_new"].to_numpy() == 0
            t_ids = tdf["vec_id"].to_numpy()
            p_ids = pdf["vec_id"].to_numpy()
            earlier = t_old[None, :] | (t_ids[None, :] < p_ids[:, None])
            hit = ((cos >= thr) & earlier).any(axis=1)
            return pd.DataFrame({"removed_id": p_ids[hit]}).astype({"removed_id": "int64"})

        removed = (
            tagged.groupBy("cell", "salt")
            .applyInPandas(probe, "removed_id long")
            .distinct()  # a probe may hit in several shards of its cell
        )
        survivors = assigned.join(
            removed.withColumnRenamed("removed_id", "vec_id"), "vec_id", "left_anti"
        )
        survivors.write.mode("append").partitionBy("cell").parquet(corpus_dir)

    return _start_foreach_batch(new_vecs, _persisted(sink), checkpoint_dir)
