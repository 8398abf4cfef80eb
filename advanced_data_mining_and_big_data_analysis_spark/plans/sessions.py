"""Event-stream declared queries: sessionization, sliding windows, dedup,
late data, funnels, retention, session Markov chains and journey
attribution over the ``events`` table.

The sessionization and window queries are the BATCH twins of
streaming/windows.py — identical window semantics expressed over the
static ``events`` table so the DuckDB oracle can check them (SURVEY §2.11:
the driver's events table is the stream surface; tests/test_streaming.py
runs the same ops as real streams and asserts stream == batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, Window as W, functions as F

from ..sources import load_table
from .mining import _round_half_up
from .registry import query


_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap (oracle-side epoch form)


def _gap_exceeded(cur, prev):
    """``cur - prev > 30 minutes`` via interval arithmetic.

    Interval subtraction works for both TIMESTAMP and TIMESTAMP_NTZ inputs
    (the driver's parquet writes plain ``timestamp[us]``, which Spark >= 3.4
    infers as NTZ — ``unix_micros`` rejects that type), and is
    timezone-free, matching DuckDB's naive-epoch oracle exactly.
    """
    return (cur - prev) > F.expr("INTERVAL 30 MINUTES")


def _sessionize(ev: DataFrame, name: str) -> DataFrame:
    """``ev`` plus column ``name``: each user's 30-minute gap-session
    number (1, 2, ...) — a session starts at the user's first event and
    after every gap over 30 minutes, in (ts, event_id) order."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(prev.isNull() | _gap_exceeded(F.col("ts"), prev), 1).otherwise(0)
    return ev.withColumn(name, F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))


def _transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cur, nxt, n): counts of adjacent event-type transitions inside
    gap-sessions — the session Markov chain of a0116 and a0064, which
    both read it twice (hence the checkpoint)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    tr = _sessionize(ev, "sess").select(
        F.col("event_type").alias("cur"),
        F.lead("event_type")
        .over(W.partitionBy("user_id", "sess").orderBy("ts", "event_id"))
        .alias("nxt"),
    )
    return (
        tr.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )


# The oracle twin of _sessionize (events -> o -> s with column sess)
# and of _transition_counts (s -> tr -> c), as WITH-clause members.
_SESSIONS_SQL = """o AS (SELECT user_id, ts, event_type,
                      CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                                > INTERVAL 30 MINUTES
                           OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                           THEN 1 ELSE 0 END AS new_s,
                      event_id
               FROM events),
    s AS (SELECT user_id, ts, event_id, event_type,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
          FROM o)"""
_TRANSITIONS_SQL = """tr AS (SELECT event_type AS cur,
                  LEAD(event_type) OVER (PARTITION BY user_id, sess ORDER BY ts, event_id) AS nxt
           FROM s),
    c AS (SELECT cur, nxt, COUNT(*) AS n FROM tr WHERE nxt IS NOT NULL GROUP BY cur, nxt)"""


@query(
    "a060_sessionization",
    oracle=f"""
    WITH l AS (
      SELECT user_id, event_id, ts, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events WHERE user_id <= 30),
    m AS (
      SELECT user_id, ts, value,
             CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > {_GAP_US}
                  THEN 1 ELSE 0 END AS is_new,
             event_id
      FROM l),
    s AS (
      SELECT user_id, ts, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM m)
    SELECT user_id, session_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
    FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id
    """,
    description="gap-based sessionization (lag + running sum) — batch twin of session_window (SURVEY §2.11)",
)
def a060_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 30)
    with_sid = _sessionize(ev, "session_id")
    return (
        with_sid.groupBy("user_id", "session_id")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "a061_sliding_windows",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTES, value FROM events)
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
    FROM b GROUP BY ws ORDER BY window_start
    """,
    description="sliding event-time windows (1h window / 30m slide) — F.window on batch, epoch-aligned pane expansion in SQL (SURVEY §2.11)",
)
def a061_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
        .orderBy("window_start")
    )


@query(
    "a062_first_event_dedup",
    oracle="""
    WITH r AS (
      SELECT event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events)
    SELECT event_type, COUNT(*) AS n_first_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS earliest
    FROM r WHERE rn = 1 GROUP BY event_type ORDER BY event_type
    """,
    description="keep-first dedup on (user, event_type) — batch twin of dropDuplicatesWithinWatermark (SURVEY §2.11)",
)
def a062_first_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_first_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("earliest"),
        )
        .orderBy("event_type")
    )


@query(
    "a063_late_events",
    oracle="""
    WITH r AS (
      SELECT event_type, ts,
             MAX(ts) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS high_water
      FROM events)
    SELECT event_type,
           CAST(SUM(CASE WHEN epoch_us(ts) < epoch_us(high_water) - 600000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           COUNT(*) AS n_events
    FROM r GROUP BY event_type ORDER BY event_type
    """,
    description="late-data accounting: events >10min behind the running event-time high-watermark (arrival order = event_id). Batch model of watermark drop semantics via a chunked two-pass prefix max — every window is partitioned, no single-task global scan (SURVEY §2.11)",
)
def a063_late_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global running max(ts) in event_id order WITHOUT a partition-less
    window: the classic distributed prefix-scan.

    1. chunk = event_id div CHUNK (arrival order is event_id, so chunks
       are contiguous arrival ranges);
    2. running max WITHIN each chunk (window partitioned by chunk —
       parallel, bounded state);
    3. per-chunk max -> tiny boundary frame (#chunks rows), prefix max
       over *previous* chunks there (unpartitioned window, but over the
       aggregated boundary rows only — #events/CHUNK, never the data);
    4. broadcast the carry-in back; high_water = greatest(local, carry).

    At 100 TB you size CHUNK so the boundary frame stays in the millions
    of rows (e.g. 1<<20); the data-side scan stays fully parallel either
    way. The oracle keeps the plain global-order SQL form.
    """
    chunk_rows = 8192  # arrival-range chunk; raise at scale (see docstring)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "_chunk", F.floor(F.col("event_id") / chunk_rows)
    )
    wc = W.partitionBy("_chunk").orderBy("event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    local_hw = F.max("ts").over(wc)
    boundary = ev.groupBy("_chunk").agg(F.max("ts").alias("_chunk_max"))
    w_prev = W.orderBy("_chunk").rowsBetween(W.unboundedPreceding, -1)
    carry = boundary.select(
        "_chunk", F.max("_chunk_max").over(w_prev).alias("_carry_hw")
    )
    high_water = F.greatest(F.col("_local_hw"), F.col("_carry_hw"))  # greatest skips nulls
    late = F.col("ts") < high_water - F.expr("INTERVAL 10 MINUTES")
    return (
        ev.withColumn("_local_hw", local_hw)
        .join(F.broadcast(carry), "_chunk")
        .withColumn("late", late)
        .groupBy("event_type")
        .agg(F.sum(F.col("late").cast("long")).alias("n_late"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )


@query(
    "q104_session_funnel",
    oracle=f"""
    WITH l AS (
      SELECT user_id, event_id, ts, event_type,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events),
    m AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > {_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM l),
    s AS (
      SELECT user_id, ts, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM m),
    g AS (
      SELECT user_id, sess,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             MAX(CASE WHEN event_type = 'click' THEN ts END) AS last_click
      FROM s GROUP BY user_id, sess)
    SELECT user_id % 10 AS cohort, COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_view,
           CAST(SUM(CASE WHEN last_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_click,
           CAST(SUM(CASE WHEN first_view IS NOT NULL AND last_click IS NOT NULL
                          AND first_view <= last_click THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel
    FROM g GROUP BY cohort ORDER BY cohort
    """,
    description="sessionized funnel analysis: gap-sessions (q60's rule) x ordered-event conversion — a session converts when a 'view' precedes (or ties) a 'click' inside it, tested as min(view ts) <= max(click ts); per-cohort session/conversion counts (composition of sessionization + conditional aggregation)",
)
def q104_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    with_sid = _sessionize(load_table(spark, sf_dir, "events"), "sess")
    g = with_sid.groupBy("user_id", "sess").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("last_click"),
    )
    return (
        g.groupBy((F.col("user_id") % 10).alias("cohort"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.col("first_view").isNotNull().cast("long")).alias("n_with_view"),
            F.sum(F.col("last_click").isNotNull().cast("long")).alias("n_with_click"),
            F.sum(
                (
                    F.col("first_view").isNotNull()
                    & F.col("last_click").isNotNull()
                    & (F.col("first_view") <= F.col("last_click"))
                ).cast("long")
            ).alias("n_funnel"),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# q157 — session path mining: the clickstream-path analysis q60/q127
# stop short of. Sessions (same 30-minute gap rule as q60) are reduced
# to their first-3-event-type PATH STRING (the canonical entry-path
# signature), then paths are ranked by frequency. Per-session state is
# an ordered fold of that session's own rows (array_sort + slice —
# bounded by the session, never the user history), the path table is
# path-cardinality-sized, and the top-k is a bounded TakeOrdered.
# ---------------------------------------------------------------------------


@query(
    "a0157_session_paths",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM e),
    p AS (
      SELECT user_id, sid,
             array_to_string(list_slice(list(event_type ORDER BY ts, event_id), 1, 3),
                             ' > ') AS path,
             COUNT(*) AS n_events
      FROM s GROUP BY user_id, sid)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(AVG(n_events), 6) AS avg_session_events
    FROM p GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 15
    """,
    description="session path mining (clickstream entry-path analysis): sessions via the q60 30-minute gap rule, each reduced to its first-3-event-type path string by an ordered fold over the session's OWN rows (array_sort(collect_list(struct)) + slice — state bounded by the session, never the user history), paths ranked by frequency with average session length — top-15 via bounded TakeOrdered; the path table is path-cardinality-sized after a map-side-combined aggregate",
)
def a0157_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _sessionize(load_table(spark, sf_dir, "events"), "sid")
    per = s.groupBy("user_id", "sid").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))).alias("a"),
        F.count("*").alias("n_events"),
    )
    path = F.array_join(
        F.slice(F.transform(F.col("a"), lambda x: x["event_type"]), 1, 3), " > "
    )
    return (
        per.select(path.alias("path"), "n_events")
        .groupBy("path")
        .agg(
            F.count("*").alias("n_sessions"),
            F.round(F.avg("n_events"), 6).alias("avg_session_events"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# q112 — weekly cohort retention over the events stream: users are
# cohorted by their first active ISO week; each (cohort, week-offset)
# cell counts distinct still-active users and its retention fraction.
# The classic product-analytics rollup, all shuffle-on-short-key: a
# (user, week) distinct, a per-user min, one hash join back, and a tiny
# cohort-size dim broadcast onto the cell frame.
# ---------------------------------------------------------------------------


@query(
    "q112_cohort_retention",
    oracle="""
    WITH w AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
    c AS (SELECT user_id, MIN(wk) AS cohort FROM w GROUP BY user_id),
    sz AS (SELECT cohort, COUNT(*) AS cohort_size FROM c GROUP BY cohort),
    a AS (SELECT c.cohort,
                 CAST(date_diff('day', c.cohort, w.wk) // 7 AS BIGINT) AS week_offset,
                 COUNT(DISTINCT w.user_id) AS active_users
          FROM w JOIN c ON w.user_id = c.user_id
          GROUP BY c.cohort, week_offset)
    SELECT strftime(a.cohort, '%Y-%m-%d') AS cohort_week, a.week_offset,
           a.active_users, sz.cohort_size,
           ROUND(a.active_users * 1.0 / sz.cohort_size, 6) AS retention
    FROM a JOIN sz ON a.cohort = sz.cohort
    ORDER BY cohort_week, week_offset
    """,
    description="weekly cohort retention: first-active-week cohorts x week-offset activity with retention fractions — distinct (user, week) rollup, per-user min, one hash join back, cohort-size dim broadcast; every shuffle keys on a short column, no global window",
)
def q112_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = events.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    c = w.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    sz = c.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    a = (
        w.join(c, "user_id")
        .select(
            "cohort",
            (F.datediff(F.col("wk"), F.col("cohort")) / 7).cast("long").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )
    return (
        a.join(F.broadcast(sz), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "active_users",
            "cohort_size",
            F.round(F.col("active_users") / F.col("cohort_size"), 6).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# q127 — ordered funnel analysis (view -> click -> purchase): the
# event-analytics shape ClickHouse's windowFunnel / sequenceMatch
# exist for. Each step's timestamp must STRICTLY follow the previous
# step's for the same user (min qualifying time per step). Expressed
# as three user-keyed aggregates chained by broadcast-joinable
# per-user step frames — every join is on user_id, AQE-coalesced;
# timestamps stay in interval/date arithmetic (NTZ-safe, the q21 rule).
# ---------------------------------------------------------------------------


@query(
    "q127_funnel",
    oracle="""
    WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS t1
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3, MIN(s2.t1) AS t1
           FROM events e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM s1) AS n_step1,
           (SELECT COUNT(*) FROM s2) AS n_step2,
           (SELECT COUNT(*) FROM s3) AS n_step3,
           ROUND((SELECT COUNT(*) FROM s3) * 1.0 / (SELECT COUNT(*) FROM s1), 6) AS conversion,
           ROUND((SELECT AVG(datediff('day', CAST(t1 AS DATE), CAST(t3 AS DATE))) FROM s3), 6)
             AS avg_days_to_convert
    """,
    description="ordered funnel (view -> click -> purchase, strict temporal order per user): the windowFunnel/sequenceMatch analytics shape as three chained user-keyed min aggregates — each step joins the previous step's per-user frame on user_id and keeps only strictly-later events; all joins are key-local (AQE-coalesced), time arithmetic stays in date/interval space (NTZ-safe q21 rule); reports per-step user counts, conversion rate, and mean days to convert",
)
def q127_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t1").alias("t1"))
    )
    c1 = s1.agg(F.count("*").alias("n_step1"))
    c2 = s2.agg(F.count("*").alias("n_step2"))
    c3 = s3.agg(
        F.count("*").alias("n_step3"),
        F.round(F.avg(F.datediff(F.to_date("t3"), F.to_date("t1"))), 6).alias(
            "avg_days_to_convert"
        ),
    )
    return (
        c1.crossJoin(c2)
        .crossJoin(c3)
        .select(
            "n_step1",
            "n_step2",
            "n_step3",
            F.round(F.col("n_step3") * 1.0 / F.col("n_step1"), 6).alias("conversion"),
            "avg_days_to_convert",
        )
    )


# ---------------------------------------------------------------------------
# a0116 (ex-a0189) — session Markov transition matrix: first-order event-type
# transition probabilities within gap-sessions, plus per-state outgoing
# entropy. The clickstream model behind next-action prediction and
# behavioral anomaly scoring. Transitions via one lag window
# PARTITIONED by (user, session); probabilities and entropy via
# grouped aggregates over the (cur, nxt) count frame (|types|^2 rows).
# ---------------------------------------------------------------------------


@query(
    "a0116_markov_transitions",
    oracle=f"""
    WITH {_SESSIONS_SQL},
    {_TRANSITIONS_SQL},
    tot AS (SELECT cur, SUM(n) AS n_out FROM c GROUP BY cur),
    e AS (SELECT c.cur, SUM(-(n * 1.0 / n_out) * ln(n * 1.0 / n_out)) AS h
          FROM c JOIN tot ON c.cur = tot.cur GROUP BY c.cur)
    SELECT c.cur, c.nxt, CAST(c.n AS BIGINT) AS n_transitions,
           ROUND(c.n * 1.0 / tot.n_out, 6) AS prob,
           ROUND(e.h, 6) AS cur_out_entropy
    FROM c JOIN tot ON c.cur = tot.cur JOIN e ON c.cur = e.cur
    ORDER BY c.cur, c.nxt
    """,
    description="session Markov chain: first-order event-type transition counts/probabilities within 30-minute gap-sessions (the q60 rule) plus per-state outgoing entropy — the clickstream model behind next-action prediction; transitions from ONE lead window PARTITIONED by (user, session), probabilities and entropy from grouped aggregates over the |types|^2 transition frame",
)
def a0116_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _transition_counts(spark, sf_dir)
    tot = c.groupBy("cur").agg(F.sum("n").alias("n_out"))
    p = F.col("n") / F.col("n_out")
    e = (
        c.join(tot, "cur")
        .select("cur", (-p * F.log(p)).alias("plp"))
        .groupBy("cur")
        .agg(F.sum("plp").alias("h"))
    )
    return (
        c.join(tot, "cur")
        .join(e, "cur")
        .select(
            "cur",
            "nxt",
            F.col("n").cast("long").alias("n_transitions"),
            F.round(F.col("n") / F.col("n_out"), 6).alias("prob"),
            F.round("h", 6).alias("cur_out_entropy"),
        )
        .orderBy("cur", "nxt")
    )


# ---------------------------------------------------------------------------
# a0125 (ex-a0198) — marketing attribution (first-touch vs last-touch): every
# purchase is credited to the user's first / most recent preceding
# non-purchase touchpoint, both via one IGNORE-NULLS window frame
# PARTITIONED by user (rows unbounded-preceding..1-preceding) — the
# conversion-credit models a growth team reads side by side. Purchases
# with no preceding touch fall into the '(none)' channel.
# ---------------------------------------------------------------------------


@query(
    "a0125_touch_attribution",
    oracle="""
    WITH s AS (SELECT user_id, ts, event_id, event_type,
                      CASE WHEN event_type <> 'purchase' THEN event_type END AS touch
               FROM events),
    p AS (SELECT user_id, ts, event_id, event_type,
                 LAST_VALUE(touch IGNORE NULLS) OVER wf AS last_touch,
                 FIRST_VALUE(touch IGNORE NULLS) OVER wf AS first_touch
          FROM s
          WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    conv AS (SELECT COALESCE(last_touch, '(none)') AS last_touch,
                    COALESCE(first_touch, '(none)') AS first_touch
             FROM p WHERE event_type = 'purchase'),
    lt AS (SELECT last_touch AS channel, COUNT(*) AS n_last FROM conv GROUP BY last_touch),
    ft AS (SELECT first_touch AS channel, COUNT(*) AS n_first FROM conv GROUP BY first_touch)
    SELECT COALESCE(lt.channel, ft.channel) AS channel,
           CAST(COALESCE(n_last, 0) AS BIGINT) AS n_last_touch,
           CAST(COALESCE(n_first, 0) AS BIGINT) AS n_first_touch
    FROM lt FULL OUTER JOIN ft ON lt.channel = ft.channel
    ORDER BY channel
    """,
    description="marketing attribution (first-touch vs last-touch conversion credit): every purchase credited to the user's first and most recent preceding non-purchase touchpoint via ONE ignore-nulls window frame PARTITIONED by user (unbounded..1-preceding); per-channel credit counts under both models side by side, '(none)' for touchless purchases — full outer join of the two credit rollups",
)
def a0125_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias("touch"),
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = s.select(
        "event_type",
        F.last("touch", ignorenulls=True).over(wf).alias("last_touch"),
        F.first("touch", ignorenulls=True).over(wf).alias("first_touch"),
    )
    conv = p.filter(F.col("event_type") == "purchase").select(
        F.coalesce("last_touch", F.lit("(none)")).alias("last_touch"),
        F.coalesce("first_touch", F.lit("(none)")).alias("first_touch"),
    )
    conv = conv.localCheckpoint(eager=False)
    lt = conv.groupBy(F.col("last_touch").alias("channel")).agg(F.count("*").alias("n_last"))
    ft = conv.groupBy(F.col("first_touch").alias("channel")).agg(F.count("*").alias("n_first"))
    return (
        lt.join(ft, "channel", "full")
        .select(
            "channel",
            F.coalesce("n_last", F.lit(0)).cast("long").alias("n_last_touch"),
            F.coalesce("n_first", F.lit(0)).cast("long").alias("n_first_touch"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# a0101 — heavy-change detection between adjacent time windows (the
# exact baseline of the sketch-based deltoid problem): per
# (user_id, event_type) key, event counts in the first vs second half
# of the month, traffic-share delta |n_a/T_a − n_b/T_b|, top-15 movers
# with tie-free ordering. One scan, one key-level aggregate, global
# top-k via TakeOrderedAndProject — the monitoring primitive that at
# 100 TB is fed by the same group-by with a CMS sketch in front.
# ---------------------------------------------------------------------------

_HC_TOP = 15
_HC_SPLIT = "2024-01-16"


# Scale rule (100 TB): top-N is the output contract; the change scores
# come from two bounded sketch frames — the knob at 100 TB is the sketch
# width (CMS lesson, q119), not N.
@query(
    "a0101_heavy_change",
    oracle=f"""
    WITH keyed AS (
      SELECT user_id, event_type,
             SUM(CASE WHEN ts < TIMESTAMP '{_HC_SPLIT} 00:00:00' THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN ts >= TIMESTAMP '{_HC_SPLIT} 00:00:00' THEN 1 ELSE 0 END) AS n_b
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM keyed)
    SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(abs(n_a * 1.0 / ta - n_b * 1.0 / tb) * 1e4, 6) AS delta_share_bp
    FROM keyed CROSS JOIN tot
    ORDER BY abs(n_a * 1.0 / ta - n_b * 1.0 / tb) DESC, user_id, event_type
    LIMIT {_HC_TOP}
    """,
    description=f"heavy-change detection between adjacent halves of the event month (exact deltoid baseline): per (user, event_type) counts in window A vs B, traffic-share delta in basis points, top-{_HC_TOP} movers with tie-free order; one scan + one key aggregate + TakeOrderedAndProject — the same group-by a CMS-fronted deltoid sketch feeds at 100 TB",
)
def a0101_heavy_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    split = F.lit(_HC_SPLIT).cast("timestamp_ntz")
    keyed = ev.groupBy("user_id", "event_type").agg(
        F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("ts") >= split, 1).otherwise(0)).alias("n_b"),
    )
    tot = keyed.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    delta = F.abs(F.col("n_a") * 1.0 / F.col("ta") - F.col("n_b") * 1.0 / F.col("tb"))
    return (
        keyed.crossJoin(F.broadcast(tot))
        .orderBy(delta.desc(), "user_id", "event_type")
        .limit(_HC_TOP)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            "event_type",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(delta * 1e4, 6).alias("delta_share_bp"),
        )
    )


# ---------------------------------------------------------------------------
# a0102 — ordered funnel conversion (signup → view → click → purchase):
# each stage's timestamp is the user's FIRST qualifying event strictly
# after their previous-stage timestamp, so out-of-order events never
# count. Four user-keyed conditional aggregates chained by broadcast
# joins of the shrinking per-user frame; timestamps are only compared,
# never subtracted (NTZ-safe, engine-identical). Output: per-stage user
# counts with step and cumulative conversion rates.
# ---------------------------------------------------------------------------

_FUNNEL = ("signup", "view", "click", "purchase")


@query(
    "a0102_funnel_conversion",
    oracle=f"""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = '{_FUNNEL[0]}' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = '{_FUNNEL[1]}' AND e.ts > s1.t1 GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = '{_FUNNEL[2]}' AND e.ts > s2.t2 GROUP BY 1
    ),
    s4 AS (
      SELECT e.user_id, MIN(e.ts) AS t4 FROM events e JOIN s3 ON e.user_id = s3.user_id
      WHERE e.event_type = '{_FUNNEL[3]}' AND e.ts > s3.t3 GROUP BY 1
    ),
    counts AS (
      SELECT 1 AS stage_idx, '{_FUNNEL[0]}' AS stage, (SELECT COUNT(*) FROM s1) AS n_users
      UNION ALL SELECT 2, '{_FUNNEL[1]}', (SELECT COUNT(*) FROM s2)
      UNION ALL SELECT 3, '{_FUNNEL[2]}', (SELECT COUNT(*) FROM s3)
      UNION ALL SELECT 4, '{_FUNNEL[3]}', (SELECT COUNT(*) FROM s4)
    )
    SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
           CAST(n_users AS BIGINT) AS n_users,
           ROUND(n_users * 1.0 / NULLIF(lag(n_users, 1, n_users)
                 OVER (ORDER BY stage_idx), 0), 6) AS conv_from_prev,
           ROUND(n_users * 1.0 / NULLIF(first_value(n_users)
                 OVER (ORDER BY stage_idx), 0), 6) AS conv_from_start
    FROM counts ORDER BY stage_idx
    """,
    description="ordered funnel conversion over the event stream (signup → view → click → purchase): each stage timestamp is the user's first qualifying event STRICTLY AFTER the previous stage's, so out-of-order events never convert; four chained user-keyed conditional MIN aggregates, NTZ-safe pure timestamp comparisons, per-stage users + step and cumulative conversion rates (the 4-row rate window runs on the stage frame, not data)",
)
def a0102_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    stage_frames = []
    prev = None
    for i, etype in enumerate(_FUNNEL, start=1):
        cur = ev.filter(F.col("event_type") == etype)
        if prev is not None:
            cur = cur.join(F.broadcast(prev), "user_id").filter(F.col("ts") > F.col("t_prev"))
        frame = cur.groupBy("user_id").agg(F.min("ts").alias("t_prev")).localCheckpoint(eager=False)
        stage_frames.append((i, etype, frame))
        prev = frame
    counts = None
    for i, etype, frame in stage_frames:
        row = frame.agg(F.count("*").alias("n_users")).select(
            F.lit(i).cast("long").alias("stage_idx"), F.lit(etype).alias("stage"), "n_users"
        )
        counts = row if counts is None else counts.unionByName(row)
    w = Window.orderBy("stage_idx")  # 4-row stage frame, never data rows
    return counts.select(
        "stage_idx",
        "stage",
        F.col("n_users").cast("long").alias("n_users"),
        F.round(
            F.col("n_users")
            / F.nullif(F.coalesce(F.lag("n_users", 1).over(w), F.col("n_users")), F.lit(0)),
            6,
        ).alias("conv_from_prev"),
        F.round(
            F.col("n_users") / F.nullif(F.first("n_users").over(w), F.lit(0)), 6
        ).alias("conv_from_start"),
    ).orderBy("stage_idx")


# ---------------------------------------------------------------------------
# a0064 — stationary distribution of the session Markov chain by matrix
# SQUARING: the row-stochastic event-type transition matrix (the exact
# a0116 construction — 30-minute gap sessions, one lead window
# partitioned by user×session) is raised to the 32nd power via five
# squarings T→T² on the ≤|types|² bounded transition frame, and π =
# uniform·T³² — the long-run next-action mix. Squaring doubles the
# horizon per join (like a0100's pointer doubling), so convergence
# costs log₂ rounds of bounded-frame joins, never passes over events.
# ---------------------------------------------------------------------------

_MK_SQUARINGS = 5


def _stationary_oracle() -> str:
    prev = "t1"
    sq = []
    for r in range(_MK_SQUARINGS):
        cur = f"t{2 ** (r + 1)}"
        sq.append(
            f"""
    {cur} AS (
      SELECT a.i, b.j, SUM(a.p * b.p) AS p
      FROM {prev} a JOIN {prev} b ON a.j = b.i
      GROUP BY a.i, b.j
    )"""
        )
        prev = cur
    return f"""
    WITH {_SESSIONS_SQL},
    {_TRANSITIONS_SQL},
    t1 AS (
      SELECT c.cur AS i, c.nxt AS j, c.n * 1.0 / t.n_out AS p
      FROM c JOIN (SELECT cur, SUM(n) AS n_out FROM c GROUP BY cur) t ON c.cur = t.cur
    ),{",".join(sq)},
    states AS (SELECT i FROM t1 GROUP BY i),
    pi AS (
      SELECT t.j AS state, SUM(t.p) / (SELECT COUNT(*) FROM states) AS prob
      FROM {prev} t GROUP BY t.j
    )
    SELECT state, ROUND(prob, 6) AS stationary_prob
    FROM pi ORDER BY state
    """


# Scale rule (100 TB): T^32 via 5 doublings is state-count-bounded
# (transition matrix is |states|^2, a catalog frame); the only data-sized
# stage is the transition-count aggregate.
@query(
    "a0064_markov_stationary",
    oracle=_stationary_oracle(),
    description=f"stationary distribution of the session Markov chain via matrix squaring: the a0116 row-stochastic transition matrix (30-min gap sessions, lead window partitioned by user×session) raised to 2^{_MK_SQUARINGS} with {_MK_SQUARINGS} T→T² joins on the bounded |types|² frame, π = uniform·T³² — the long-run next-action mix; horizon doubles per join, so convergence costs log₂ rounds over bounded state, never extra passes over events",
)
def a0064_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _transition_counts(spark, sf_dir)
    tot = c.groupBy("cur").agg(F.sum("n").alias("n_out"))
    t = (
        c.join(tot, "cur")
        .select(
            F.col("cur").alias("i"), F.col("nxt").alias("j"), (F.col("n") / F.col("n_out")).alias("p")
        )
        .localCheckpoint(eager=False)
    )
    n_states = t.select("i").distinct().count()  # bounded |event types|
    for _ in range(_MK_SQUARINGS):
        a, b = t.alias("a"), t.alias("b")
        t = (
            a.join(b, F.col("a.j") == F.col("b.i"))
            .groupBy(F.col("a.i").alias("i"), F.col("b.j").alias("j"))
            .agg(F.sum(F.col("a.p") * F.col("b.p")).alias("p"))
            .localCheckpoint(eager=False)
        )
    return (
        t.groupBy(F.col("j").alias("state"))
        .agg(F.round(F.sum("p") / n_states, 6).alias("stationary_prob"))
        .orderBy("state")
    )


# ---------------------------------------------------------------------------
# a0065 — frequent 2-sequences (GSP/PrefixSpan level 2): within each
# 30-minute gap-session, pattern "a … then later b" counts ONCE per
# session if ANY ordered occurrence exists (subsequence semantics — NOT
# a0116's adjacent transitions), support = containing sessions / total
# sessions. The ordered-pair generation is a session-keyed self-join
# (bounded by session length², the sequential-mining analog of the
# basket joins), deduplicated per session before counting.
# ---------------------------------------------------------------------------

_SP_TOP = 15


@query(
    "a0065_sequence_patterns",
    oracle=f"""
    WITH {_SESSIONS_SQL},
    tot AS (SELECT COUNT(*) AS n_sessions FROM (SELECT DISTINCT user_id, sess FROM s)),
    pat AS (
      SELECT DISTINCT a.user_id, a.sess, a.event_type AS t1, b.event_type AS t2
      FROM s a JOIN s b
        ON a.user_id = b.user_id AND a.sess = b.sess
       AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
    ),
    cnt AS (SELECT t1, t2, COUNT(*) AS n_sessions_with FROM pat GROUP BY t1, t2)
    SELECT t1, t2, CAST(n_sessions_with AS BIGINT) AS n_sessions_with,
           ROUND(n_sessions_with * 1.0 / t.n_sessions, 6) AS support
    FROM cnt CROSS JOIN tot t
    ORDER BY n_sessions_with DESC, t1, t2
    LIMIT 15
    """,
    description="frequent 2-sequences (GSP/PrefixSpan level 2) over 30-minute gap-sessions: pattern 'a … then later b' counts once per session when ANY ordered occurrence exists (subsequence semantics, not a0116's adjacent transitions), support = containing sessions / total sessions; ordered pairs from a session-keyed self-join bounded by session length², deduplicated per session — top-15 patterns with tie-free order",
)
def a0065_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    s = _sessionize(ev, "sess").localCheckpoint(eager=False)
    tot = s.select("user_id", "sess").distinct().agg(F.count("*").alias("n_sessions"))
    a, b = s.alias("a"), s.alias("b")
    pat = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.sess") == F.col("b.sess"))
            & (
                (F.col("a.ts") < F.col("b.ts"))
                | ((F.col("a.ts") == F.col("b.ts")) & (F.col("a.event_id") < F.col("b.event_id")))
            ),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.sess").alias("sess"),
            F.col("a.event_type").alias("t1"),
            F.col("b.event_type").alias("t2"),
        )
        .distinct()
    )
    return (
        pat.groupBy("t1", "t2")
        .agg(F.count("*").alias("n_sessions_with"))
        .crossJoin(F.broadcast(tot))
        .orderBy(F.desc("n_sessions_with"), "t1", "t2")
        .limit(_SP_TOP)
        .select(
            "t1",
            "t2",
            F.col("n_sessions_with").cast("long").alias("n_sessions_with"),
            F.round(F.col("n_sessions_with") * 1.0 / F.col("n_sessions"), 6).alias("support"),
        )
    )


# ---------------------------------------------------------------------------
# a0032 — Markov-chain removal-effect attribution (Anderl et al. 2016,
# Int. J. Research in Marketing 33(3)): the data-driven successor of
# a0125's first/last-touch heuristics. User journeys (events ordered
# by (ts, event_id), truncated at the first purchase) become a
# first-order chain over {START, click, error, signup, view} with
# absorbing CONV/NULL; a channel's credit is its removal effect
# 1 - P_removed(conv)/P(conv), where removing a channel redirects
# every transition INTO it to NULL (the paper's rule), and shares
# normalize the effects.
#
# Absorption probabilities are the K-step value iteration
# p(s) <- sum_t n_st * val(t) DIV tot_s run in int64 FIXED-POINT
# (SCALE=1e9; val(CONV)=SCALE, val(NULL)=val(removed)=0) — every
# intermediate is an exact integer, and the removal effects / shares
# are ratios of integer differences, so both engines agree bit-for-
# bit before the 6-dp round. The transition matrix is bounded by the
# event-type alphabet (<= 6x7 rows at ANY corpus scale), so the Spark
# side distributes the journey scan + transition aggregate and runs
# the iteration driver-side over the bounded matrix (the a0089
# bounded-summary idiom); the oracle unrolls the identical iteration
# as CTEs.
# Scale rule (100 TB): the only data-proportional stages are the
# per-user ordered window and one grouped count; K and the state
# alphabet are constants.
# ---------------------------------------------------------------------------

_MK_CHANNELS = ["click", "error", "signup", "view"]
_MK_ITERS = 16
_MK_SCALE = 1_000_000_000


def _mk_scenario_sql(suf: str, removed: str | None) -> str:
    """Unrolled K-step value iteration for one removal scenario."""
    rm = f"WHEN tr.t = '{removed}' THEN 0" if removed else ""
    wf = f"AND tr.f <> '{removed}'" if removed else ""
    parts = [
        f"""
    p{suf}0 AS (SELECT f AS st, CAST(0 AS BIGINT) AS p
                FROM tot WHERE 1 = 1 {wf.replace('tr.f', 'f')})"""
    ]
    for k in range(1, _MK_ITERS + 1):
        parts.append(
            f"""
    p{suf}{k} AS MATERIALIZED (
      SELECT tr.f AS st,
             CAST(CAST(SUM(tr.n * CASE WHEN tr.t = 'CONV' THEN {_MK_SCALE}
                                       WHEN tr.t = 'NULL' THEN 0
                                       {rm}
                                       ELSE COALESCE(pv.p, 0) END) AS BIGINT)
                  // tot.n AS BIGINT) AS p
      FROM tr JOIN tot ON tot.f = tr.f
      LEFT JOIN p{suf}{k - 1} pv ON pv.st = tr.t
      WHERE 1 = 1 {wf}
      GROUP BY tr.f, tot.n)"""
        )
    return ",".join(parts)


def _mk_oracle() -> str:
    scen = [("b", None)] + [(c, c) for c in _MK_CHANNELS]
    chains = ",".join(_mk_scenario_sql(s, r) for s, r in scen)
    fin_rows = " UNION ALL ".join(
        f"SELECT '{c}' AS channel, (SELECT p FROM pb{_MK_ITERS} WHERE st = 'START')"
        f" - (SELECT p FROM p{c}{_MK_ITERS} WHERE st = 'START') AS num"
        for c in _MK_CHANNELS
    )
    return f"""
    WITH rked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    pr AS (SELECT user_id, MIN(rn) AS prn FROM rked
           WHERE event_type = 'purchase' GROUP BY user_id),
    j AS (SELECT r.user_id, r.event_type, r.rn
          FROM rked r LEFT JOIN pr ON pr.user_id = r.user_id
          WHERE r.rn <= COALESCE(pr.prn, 9223372036854775807)),
    steps AS (
      SELECT CASE WHEN rn = 1 THEN 'START'
                  ELSE LAG(event_type) OVER (PARTITION BY user_id ORDER BY rn)
             END AS f,
             CASE WHEN event_type = 'purchase' THEN 'CONV'
                  ELSE event_type END AS t,
             user_id, rn
      FROM j),
    lastrow AS (SELECT user_id, MAX(rn) AS mx FROM j GROUP BY user_id),
    nulls AS (SELECT j.event_type AS f, 'NULL' AS t
              FROM j JOIN lastrow ON lastrow.user_id = j.user_id
                                 AND lastrow.mx = j.rn
              WHERE j.event_type <> 'purchase'),
    alltr AS (SELECT f, t FROM steps UNION ALL SELECT f, t FROM nulls),
    tr AS MATERIALIZED (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n
                        FROM alltr GROUP BY f, t),
    tot AS MATERIALIZED (SELECT f, CAST(SUM(n) AS BIGINT) AS n FROM tr GROUP BY f),
    {chains},
    fin AS ({fin_rows}),
    den AS (SELECT CAST(SUM(num) AS BIGINT) AS d FROM fin),
    basep AS (SELECT p FROM pb{_MK_ITERS} WHERE st = 'START')
    SELECT fin.channel,
           ROUND(fin.num * 1.0 / basep.p, 6) AS removal_effect,
           ROUND(fin.num * 1.0 / den.d, 6) AS attribution_share
    FROM fin, den, basep ORDER BY fin.channel
    """


@query(
    "a0032_markov_attribution",
    oracle=_mk_oracle(),
    description=f"Markov-chain removal-effect attribution (Anderl et al. 2016): user journeys (ordered by ts/event_id, truncated at first purchase) -> first-order transition chain over START/channels with absorbing CONV/NULL; channel credit = 1 - P_removed(conv)/P(conv) with into-channel edges redirected to NULL, shares normalized over integer differences; absorption via {_MK_ITERS}-step int64 fixed-point value iteration (SCALE={_MK_SCALE}, per-state SUM(n*val) DIV tot — exact integers end to end); transition matrix bounded by the event-type alphabet, so Spark distributes the journey scan + transition count and iterates driver-side over the bounded matrix (a0089 idiom) while the oracle unrolls the identical iteration as CTEs; the data-driven successor of a0125's first/last-touch",
)
def a0032_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rked = ev.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
    pr = (
        rked.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    j = (
        rked.join(pr, "user_id", "left")
        .filter(F.col("rn") <= F.coalesce("prn", F.lit(2**63 - 1)))
        .localCheckpoint(eager=False)  # journey frame reused 3x
    )
    wj = Window.partitionBy("user_id").orderBy("rn")
    steps = j.select(
        F.when(F.col("rn") == 1, "START")
        .otherwise(F.lag("event_type").over(wj))
        .alias("f"),
        F.when(F.col("event_type") == "purchase", "CONV")
        .otherwise(F.col("event_type"))
        .alias("t"),
    )
    lastrow = j.groupBy("user_id").agg(F.max("rn").alias("mx"))
    nulls = (
        j.join(lastrow, "user_id")
        .filter((F.col("rn") == F.col("mx")) & (F.col("event_type") != "purchase"))
        .select(F.col("event_type").alias("f"), F.lit("NULL").alias("t"))
    )
    tr = (
        steps.unionByName(nulls)
        .groupBy("f", "t")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    )  # bounded by the event-type alphabet: <= 6x7 rows at ANY scale

    edges: dict[str, list[tuple[str, int]]] = {}
    tot: dict[str, int] = {}
    for r in tr:
        edges.setdefault(r["f"], []).append((r["t"], int(r["n"])))
        tot[r["f"]] = tot.get(r["f"], 0) + int(r["n"])

    def absorb(removed: str | None) -> int:
        p = {f: 0 for f in tot if f != removed}
        for _ in range(_MK_ITERS):
            nxt = {}
            for f_state, es in edges.items():
                if f_state == removed:
                    continue
                acc = 0
                for t_state, n in es:
                    if t_state == "CONV":
                        acc += n * _MK_SCALE
                    elif t_state == "NULL" or t_state == removed:
                        pass
                    else:
                        acc += n * p.get(t_state, 0)
                nxt[f_state] = acc // tot[f_state]
            p = nxt
        return p.get("START", 0)

    base = absorb(None)
    nums = {c: base - absorb(c) for c in _MK_CHANNELS}
    den = sum(nums.values())
    rows = [
        (
            c,
            _round_half_up(nums[c] * 1.0 / base, 6),
            _round_half_up(nums[c] * 1.0 / den, 6),
        )
        for c in sorted(_MK_CHANNELS)
    ]
    return spark.createDataFrame(
        rows, "channel string, removal_effect double, attribution_share double"
    )


# ---------------------------------------------------------------------------
# a0040 — exact Shapley-value channel attribution (Shapley 1953; the
# coalition-game alternative to a0032's Markov removal effects — Zhao,
# Mahboobi & Bagheri 2018 survey both as the two principled
# multi-touch attribution schemes). Game: players = the 4 touch
# channels (click/error/signup/view), v(S) = share of touched users
# whose entire channel set lies inside S that converted (>=1
# purchase). With c=4 players the 2^4 coalition table is EXACT — no
# sampling — and the Shapley numerator is an INTEGER (sum of
# factorial-weighted converted-user-count differences), so the hash
# pins the attribution exactly; phi = num / (4! * touched_users).
# Scale shape: one (user)-keyed aggregate builds (mask, conv); the
# coalition algebra runs on the <=16-row mask frame x 16 subsets x 4
# channels — constant-bounded combines, never user rows.
# Scale rule (100 TB): the per-user mask aggregate is the only
# corpus-sized stage (map-side combined); channel count c is the
# resolution constant (exact enumeration to c~20, sampled permutations
# beyond).
# ---------------------------------------------------------------------------

_SHAP_CH = [("click", 1), ("error", 2), ("signup", 4), ("view", 8)]


@query(
    "a0040_shapley_attribution",
    oracle=f"""
    WITH ch AS (SELECT user_id,
             bit_or(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                                    WHEN 'signup' THEN 4 WHEN 'view' THEN 8
                                    ELSE 0 END) AS mask,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
           FROM events GROUP BY user_id),
    m AS (SELECT mask, COUNT(*) AS n_users, SUM(conv) AS n_conv
          FROM ch WHERE mask > 0 GROUP BY mask),
    tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS total FROM m),
    s AS (SELECT r.range AS sub FROM range(0, 16) r),
    cs AS (SELECT s.sub, CAST(COALESCE(SUM(m.n_conv), 0) AS BIGINT) AS cv
           FROM s LEFT JOIN m ON (m.mask & s.sub) = m.mask GROUP BY s.sub),
    chl AS (SELECT * FROM (VALUES {", ".join(f"('{n}', {b})" for n, b in _SHAP_CH)})
            t(channel, bit)),
    contrib AS (
      SELECT c.channel,
             CAST(SUM((CASE bit_count(cs0.sub) WHEN 0 THEN 6 WHEN 1 THEN 2
                       WHEN 2 THEN 2 ELSE 6 END) * (cs1.cv - cs0.cv)) AS BIGINT)
               AS phi_num
      FROM chl c JOIN cs cs0 ON (cs0.sub & c.bit) = 0
                 JOIN cs cs1 ON cs1.sub = (cs0.sub | c.bit)
      GROUP BY c.channel)
    SELECT channel, phi_num AS phi_scaled,
           ROUND(phi_num / (24.0 * tot.total), 6) AS shapley
    FROM contrib CROSS JOIN tot ORDER BY channel
    """,
    description="exact Shapley-value multi-touch attribution (Shapley 1953; the coalition twin of a0032's Markov removal effects): players = the 4 touch channels, v(S) = converted share of touched users whose whole channel set lies inside S; ONE user-keyed (bit_or mask, max conv) aggregate is the only corpus-sized stage, then the full 2^4 coalition table x 4 channels runs as constant-bounded combines — the factorial-weighted Shapley numerator stays an exact INTEGER (hash pins the attribution itself), phi = num/(4! * touched users)",
)
def a0040_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "view", 8)
        .otherwise(0)
    )
    ch = ev.groupBy("user_id").agg(
        F.bit_or(bit).alias("mask"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
    )
    m = (
        ch.filter(F.col("mask") > 0)
        .groupBy("mask")
        .agg(F.count("*").alias("n_users"), F.sum("conv").alias("n_conv"))
    )
    tot = m.agg(F.sum("n_users").cast("long").alias("total"))
    s = spark.range(16).select(F.col("id").cast("int").alias("sub"))
    cs = (
        s.join(F.broadcast(m), F.expr("(mask & sub) = mask"), "left")
        .groupBy("sub")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).cast("long").alias("cv"))
    )
    chl = spark.createDataFrame(_SHAP_CH, "channel string, bit int")
    w = (
        F.when(F.bit_count(F.col("sub0")) == 0, 6)
        .when(F.bit_count(F.col("sub0")) == 1, 2)
        .when(F.bit_count(F.col("sub0")) == 2, 2)
        .otherwise(6)
    )
    cs0 = cs.select(F.col("sub").alias("sub0"), F.col("cv").alias("cv0"))
    cs1 = cs.select(F.col("sub").alias("sub1"), F.col("cv").alias("cv1"))
    contrib = (
        chl.join(F.broadcast(cs0), F.expr("(sub0 & bit) = 0"))
        .join(F.broadcast(cs1), F.expr("sub1 = (sub0 | bit)"))
        .groupBy("channel")
        .agg(F.sum(w * (F.col("cv1") - F.col("cv0"))).cast("long").alias("phi_scaled"))
    )
    return (
        contrib.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "phi_scaled",
            F.round(F.col("phi_scaled") / (24.0 * F.col("total")), 6).alias("shapley"),
        )
        .orderBy("channel")
    )
