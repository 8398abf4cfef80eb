"""Iterative graph-numeric declared queries.

Connected components (q88) covers label-propagation fixpoints; this module
adds the POWER-ITERATION class: PageRank over the event-type transition
graph. The Spark side builds the edge/transition frames relationally and
unrolls a fixed 3 iterations into one declarative plan (each iteration is
an edge-join + per-node aggregate — the exact shape GraphX's Pregel runs,
but optimizer-visible); the oracle unrolls the same three iterations as
chained CTEs, so the hash pins the damping arithmetic itself.

It also owns the user co-occurrence graph every graph query runs on: the
hub cap, the edge builder, and the loops more than one query shares
(degrees, triangles, label propagation, frontier BFS).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import query

_DAMP = 0.85
_ITERS = 3


def _pr_iter_sql(prev: str, out: str) -> str:
    """One unrolled PageRank iteration: every node gets the teleport term;
    in-edge contributions via a left join (no-inbound nodes keep teleport)."""
    return f"""
    {out} AS (
      SELECT nodes.node,
             0.15 / (SELECT n FROM n) + {_DAMP} * COALESCE(SUM({prev}.r * p.p), 0) AS r
      FROM nodes
      LEFT JOIN p ON p.dst = nodes.node
      LEFT JOIN {prev} ON {prev}.node = p.src
      GROUP BY nodes.node)"""


@query(
    "q102_pagerank_transitions",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_et
      FROM events),
    e AS (SELECT event_type AS src, next_et AS dst, COUNT(*) AS w
          FROM seq WHERE next_et IS NOT NULL GROUP BY src, dst),
    p AS (SELECT src, dst, w * 1.0 / SUM(w) OVER (PARTITION BY src) AS p FROM e),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    n AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM n) AS r FROM nodes),
    {_pr_iter_sql("r0", "r1")},
    {_pr_iter_sql("r1", "r2")},
    {_pr_iter_sql("r2", "r3")}
    SELECT node, ROUND(r, 6) AS pagerank FROM r3 ORDER BY node
    """,
    description="PageRank power iteration (damping 0.85, 3 unrolled iterations) over the event-type transition graph built from per-user event sequences — the iterative-numeric fixpoint class in DataFrame form: each iteration is one edge join + per-node aggregate, the whole unrolled recursion is a single declarative plan Catalyst sees end-to-end",
)
def q102_pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    seq = events.select(
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_et"),
    )
    # The aggregated edge list is |event_type|^2 rows — dimension-sized
    # no matter how big the fact table is. localCheckpoint materializes
    # it once, so the expensive part (events scan + per-user window) runs
    # exactly one time and every unrolled iteration + the node-count
    # action reuse the tiny materialized frame. (ReusedExchange would
    # share subtrees within ONE action, but nodes.count() below is a
    # separate action — without the checkpoint the full scan runs twice.)
    e = (
        seq.filter(F.col("next_et").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("next_et").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=True)
    )
    p = e.select(
        "src", "dst", (F.col("w") / F.sum("w").over(Window.partitionBy("src"))).alias("p")
    )
    nodes = e.select(F.col("src").alias("node")).union(e.select("dst")).distinct()
    n_nodes = nodes.count()  # scalar: node-type cardinality, not data volume
    r = nodes.withColumn("r", F.lit(1.0 / n_nodes))
    # Broadcast every iteration join (guide §3.1): all frames here are
    # dimension-sized (|event_type|^2 edges, |event_type| nodes) at ANY
    # SF, but they sit above the checkpointed RDD whose Catalyst stats
    # are unknown, so the planner picked SortMergeJoin — two exchanges
    # per iteration over unrolled frames. Unlike the r14 scalar-census
    # fold (reverted: a BroadcastExchange of the COUNT rode inside all
    # 11 unrolled frames and piled up across reps), these broadcasts
    # replace existing shuffles rather than adding new subtrees: a
    # 10-rep same-session stress shows NO escalation (1.19-1.35 s flat
    # vs the SMJ shape's 1.23->2.50 tail), warm median 1.45 -> 1.32,
    # cold 7.5 -> 1.8 s, rows byte-identical.
    for _ in range(_ITERS):
        contrib = (
            p.join(F.broadcast(r.withColumnRenamed("node", "src")), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r") * F.col("p")).alias("_in"))
        )
        r = nodes.join(F.broadcast(contrib), "node", "left").select(
            "node",
            (F.lit(0.15 / n_nodes) + _DAMP * F.coalesce("_in", F.lit(0.0))).alias("r"),
        )
    return r.select("node", F.round("r", 6).alias("pagerank")).orderBy("node")


# ---------------------------------------------------------------------------
# The user co-occurrence graph — ONE definition for the graph family
# (q128, a0008, a0012, a0022, a0027, a0028, a0036, a0037, a0077; a0043
# builds a weighted variant by joins and shares only the cap). Two users
# are connected when they act on the same (event_type, hour) bucket. The
# hub cap bounds the per-bucket pair expansion to O(cap^2): a single
# viral bucket otherwise emits a quadratic edge blowup (the q83 LSH-cap
# lesson applied to graphs). Every oracle renders the same constant, so
# both engines apply the identical guard.
# ---------------------------------------------------------------------------

_HUB_CAP = 20


def _user_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, b=hour) -> sorted distinct-user array ``us``: ONE
    corpus exchange (collect_set dedupes within the bucket, so the
    separate ev.distinct() pass of the join formulation is subsumed).
    r9 A/B vs the kept-join + bucket self-join + distinct chain: 0.95 ->
    0.59 s warm at sf0.1 on q128, same row counts."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("b")
    )
    return ev.groupBy("event_type", "b").agg(
        F.array_sort(F.collect_set("user_id")).alias("us")
    )


def _cooc_edges(buckets: DataFrame) -> DataFrame:
    """Canonical (u < v) edge frame: the oriented pairs of every bucket
    at or under the hub cap, exploded row-locally (<= cap(cap-1)/2 per
    bucket, so the fan-out is as skew-safe as a join), then one distinct."""
    us = F.col("us")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(us) - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size(us)),
                lambda j: F.struct(
                    F.element_at(us, i).alias("u"), F.element_at(us, j).alias("v")
                ),
            ),
        )
    )
    # sequence(1, 0) DESCENDS in Spark — guard the under-2-user buckets
    guarded = F.when(F.size(us) >= 2, pairs).otherwise(
        F.array().cast("array<struct<u:bigint,v:bigint>>")
    )
    return (
        buckets.filter(F.size(us) <= _HUB_CAP)
        .select(F.explode(guarded).alias("p"))
        .select("p.u", "p.v")
        .distinct()
    )


def _sym_edges(edges: DataFrame) -> DataFrame:
    """Both directions of every edge, lazily checkpointed: the iterative
    callers re-join it every round, so the edge build runs once."""
    return edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)


def _degrees(edges: DataFrame) -> DataFrame:
    """(node, c) degree frame of a canonical (u < v) edge frame."""
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("c"))
    )


def _triangles(edges: DataFrame) -> DataFrame:
    """(u, v, w) triangles, u < v < w, of a canonical (u < v) edge frame:
    the oriented two-join counts each triangle exactly once, and every
    join is an equi-join on node ids (no cartesian)."""
    e2 = edges.select(F.col("u").alias("v"), F.col("v").alias("w"))
    e3 = edges.select(F.col("u").alias("u3"), F.col("v").alias("w3"))
    return (
        edges.join(e2, "v")
        .join(e3, (F.col("u") == F.col("u3")) & (F.col("w") == F.col("w3")))
        .select("u", "v", "w")
    )


def _lpa_labels(sym: DataFrame, rounds: int) -> DataFrame:
    """Synchronous label propagation over direction-doubled edges: every
    node starts as its own label, and each round adopts the most frequent
    neighbor label (count DESC, label ASC — the deterministic rule the
    oracle replays). Returns the node-sized (node, lbl) frame."""
    lbl = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(rounds):
        nb = sym.join(lbl.withColumnRenamed("node", "v"), "v").select(
            F.col("u").alias("node"), "lbl"
        )
        ct = nb.groupBy("node", "lbl").agg(F.count("*").alias("c"))
        w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lbl"))
        lbl = (
            ct.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", "lbl")
            .localCheckpoint(eager=False)  # node-sized; caps plan depth
        )
    return lbl


def _frontier_bfs(sym: DataFrame, seeds: DataFrame, rounds: int) -> DataFrame:
    """Multi-source BFS over direction-doubled edges from ``seeds``
    (seed, node): each round is one frontier-sized edge join + one
    left-anti against the per-seed visited set, so all seeds ride the
    same join iterations. Returns visited (seed, node, dist) after
    ``rounds`` rounds; a single-source BFS is the one-seed case."""
    frontier = seeds.localCheckpoint(eager=False)
    visited = frontier.select("seed", "node", F.lit(0).alias("dist")).localCheckpoint(
        eager=False
    )
    for r in range(1, rounds + 1):
        nxt = (
            sym.join(frontier.withColumnRenamed("node", "u"), "u")
            .select("seed", F.col("v").alias("node"))
            .distinct()
            .join(visited.select("seed", "node"), ["seed", "node"], "left_anti")
            .localCheckpoint(eager=False)  # (seeds x node)-bounded
        )
        visited = visited.unionAll(
            nxt.select("seed", "node", F.lit(r).alias("dist"))
        ).localCheckpoint(eager=False)
        frontier = nxt
    return visited


# ---------------------------------------------------------------------------
# q128 — distributed triangle counting over the user co-occurrence
# graph (the graph-analytics benchmark classic). Triangles are counted
# by the canonical oriented two-join; wedges = sum(deg choose 2) give
# global transitivity. The bucket census reports how many buckets the
# hub cap skipped, so truncation is never silent.
# ---------------------------------------------------------------------------


@query(
    "q128_triangle_count",
    oracle=f"""
    WITH e AS (SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS b
               FROM events),
    bs AS (SELECT event_type, b, COUNT(*) AS n FROM e GROUP BY 1, 2),
    kept AS (SELECT event_type, b FROM bs WHERE n <= {_HUB_CAP}),
    ek AS (SELECT e.user_id, e.event_type, e.b FROM e JOIN kept USING (event_type, b)),
    ed AS (SELECT DISTINCT a.user_id AS u, k.user_id AS v
           FROM ek a JOIN ek k ON a.event_type = k.event_type AND a.b = k.b
                             AND a.user_id < k.user_id),
    deg AS (SELECT node, COUNT(*) AS c
            FROM (SELECT u AS node FROM ed UNION ALL SELECT v FROM ed) t GROUP BY node),
    tri AS (SELECT COUNT(*) AS n
            FROM ed e1 JOIN ed e2 ON e1.v = e2.u
                       JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT CAST((SELECT COUNT(*) FROM bs) AS BIGINT) AS n_buckets,
           CAST((SELECT COUNT(*) FROM bs WHERE n > {_HUB_CAP}) AS BIGINT) AS n_buckets_capped,
           CAST((SELECT COUNT(*) FROM ed) AS BIGINT) AS n_edges,
           CAST((SELECT n FROM tri) AS BIGINT) AS n_triangles,
           ROUND(3.0 * (SELECT n FROM tri) / (SELECT SUM(c * (c - 1) / 2) FROM deg), 6)
             AS transitivity
    """,
    description="distributed triangle counting on the user co-occurrence graph: (event_type, hour) buckets with a <= 20-user hub cap bound the pair expansion to O(cap^2) per bucket (the q83 skew lesson applied to graphs), canonical oriented two-join (u<v<w) counts each triangle once, wedge sum gives global transitivity — every join an equi-join on node ids, no cartesian; the cap-skip count is reported so truncation is never silent",
)
def q128_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the bucket frame feeds both the census and the edge build
    ba = _user_buckets(spark, sf_dir).localCheckpoint(eager=False)
    ed = _cooc_edges(ba).localCheckpoint(eager=False)
    tri = _triangles(ed).agg(F.count("*").alias("n"))
    stats = ba.agg(
        F.count("*").alias("n_buckets"),
        F.sum((F.size("us") > _HUB_CAP).cast("long")).alias("n_buckets_capped"),
    )
    # n_edges = sum(deg)/2 folds the edge count into the wedge pass —
    # one branch over the edge frame instead of two; an edgeless graph
    # has no degree rows, so the sum is NULL where the oracle counts 0.
    wedge = _degrees(ed).agg(
        F.coalesce(F.sum("c") / 2, F.lit(0)).cast("long").alias("n_edges"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("wedges"),
    )
    return (
        stats.crossJoin(tri)
        .crossJoin(wedge)
        .select(
            "n_buckets",
            "n_buckets_capped",
            "n_edges",
            F.col("n").alias("n_triangles"),
            F.round(3.0 * F.col("n") / F.col("wedges"), 6).alias("transitivity"),
        )
    )
