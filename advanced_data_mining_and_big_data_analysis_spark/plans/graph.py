"""Graph declared queries: PageRank, triangles, k-core, k-truss, label
propagation and modularity, BFS and closeness, HITS, personalized PageRank,
clustering coefficients, Borůvka spanning forests and Adamic-Adar link
prediction.

Iterative algorithms unroll a fixed number of rounds into one declarative
plan, or run on ``operators.fixpoint`` until nothing changes; each oracle
unrolls the same rounds as chained CTEs, so the hash pins the arithmetic
itself.

This module owns the user co-occurrence graph most of these queries run
on: the hub cap, the edge builder, and the loops more than one query
shares (degrees, triangles, label propagation, frontier BFS).
"""

from __future__ import annotations

import itertools
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.fixpoint import fixpoint
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
    """Both directions of every edge, checkpointed with
    ``localCheckpoint(eager=False)``: the iterative callers re-join it
    every round, so the edge build runs once. Under AQE that checkpoint
    is not lazy: building the plan already runs every shuffle stage
    beneath it, so the query fn runs jobs before its caller's action."""
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


# ---------------------------------------------------------------------------
# a0103 — Adamic-Adar link prediction on the customer co-purchase graph:
# customers are linked to the parts they ordered (orders ⋈ lineitem,
# distinct), and a candidate customer pair's score is
#   Σ_{part ∈ common} 1 / ln(deg(part))
# — common neighbors weighted inversely by the popularity of the shared
# item (Adamic & Adar 2003). Pair generation is the BASKET-EXPLODE shape
# (the a0093/a0213/q128 lesson, round 12 rewrite): ONE groupBy(part)
# collect_set builds the sorted buyer basket — folding the edge-distinct
# into the same exchange — and pairs explode ROW-LOCALLY via
# posexplode + tail-slice with the 1/ln(d) weight folded in at explode
# time, so the whole pair stage is one map-side-combined aggregate
# instead of a 3-way part-keyed self-join (interleaved A/B at sf1.0:
# 15.3 s -> 11.6 s median, same-run DuckDB 17.3 s => ratio 0.67).
# Parts are degree-capped to [2, 50] so the explode is bounded by
# Σ deg²/2 with deg ≤ 50 — never an all-pairs blowup — and in TPC-H-like
# data part degree is scale-invariant (~30 buyers/part at every SF), so
# the per-row basket stays bounded at 100 TB; a heavy-tailed catalog
# would reuse the salted per-bucket cap (operators/dedup.py salt_buckets).
# Ordering is by the ROUNDED score + key tiebreaks on BOTH sides: raw
# float sums differ in final ulps across summation orders, flipping
# equal-rounded ties at the LIMIT boundary (the a0229 lesson).
# ---------------------------------------------------------------------------

_AA_DEG_MIN, _AA_DEG_MAX, _AA_TOP = 2, 50, 20


@query(
    "a0103_adamic_adar",
    oracle=f"""
    WITH cp AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS pk
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    deg AS (
      SELECT pk, COUNT(*) AS d FROM cp GROUP BY pk
      HAVING COUNT(*) BETWEEN {_AA_DEG_MIN} AND {_AA_DEG_MAX}
    ),
    pairs AS (
      SELECT a.cust AS c1, b.cust AS c2, SUM(1.0 / ln(d.d)) AS score,
             COUNT(*) AS n_common
      FROM cp a JOIN cp b ON a.pk = b.pk AND a.cust < b.cust
      JOIN deg d ON a.pk = d.pk
      GROUP BY a.cust, b.cust
    )
    SELECT CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
           CAST(n_common AS BIGINT) AS n_common, ROUND(score, 6) AS aa_score
    FROM pairs
    ORDER BY ROUND(score, 6) DESC, c1, c2
    LIMIT {_AA_TOP}
    """,
    description=f"Adamic-Adar link prediction on the customer co-purchase bipartite graph: score(c1,c2) = Σ 1/ln(deg(part)) over shared parts — ONE groupBy(part) collect_set builds the sorted buyer basket (degree-capped to [{_AA_DEG_MIN}, {_AA_DEG_MAX}], folding the edge-distinct into the same exchange) and pairs explode row-locally via posexplode + tail-slice with 1/ln(d) folded in, so the pair stage is a single map-side-combined aggregate, never a part-keyed self-join; top-{_AA_TOP} links ordered by the rounded score + key tiebreaks (ulp-stable across engines)",
)
def a0103_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = od.join(li, F.col("o_orderkey") == F.col("l_orderkey")).select(
        F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("pk")
    )
    # ONE shuffle builds the per-part buyer basket: collect_set dedupes
    # (cust, pk) edges inside the same exchange the degree needs anyway
    baskets = (
        edges.groupBy("pk")
        .agg(F.sort_array(F.collect_set("cust")).alias("cs"))
        .select("cs", F.size("cs").alias("d"))
        .filter(F.col("d").between(_AA_DEG_MIN, _AA_DEG_MAX))
        .select("cs", "d", (1.0 / F.log(F.col("d"))).alias("w"))
    )
    # row-local pair explode: c1 at position i pairs with the sorted tail
    # slice(cs, i+2, d) (1-based start; length d safely over-covers), so
    # c1 < c2 by construction and the weight rides along — no join
    # size the pair exchange by fact cardinality: the explode emits
    # ~Σ deg²/2 rows (~870M at sf10) whose (c1,c2) groups are nearly all
    # distinct, so the aggregate's hash state is pair-count-sized — under
    # the local harness's 64-partition ceiling one partition's state is
    # ~14M keys and the sf10 run OOMed the heap. A real cluster's default
    # parallelism scales with input; locally we reproduce that by scaling
    # the exchange width with the lineitem file size (≈8 MiB per
    # partition; the same signal spark.sql.files.maxPartitionBytes uses).
    # repartition(N, c1, c2) SATISFIES the groupBy's clustering, so this
    # is the same single shuffle, just wider at scale.
    import os as _os

    try:
        _bytes = _os.path.getsize(_os.path.join(sf_dir, "lineitem.parquet"))
    except OSError:
        _bytes = 0
    n_part = max(32, min(1024, _bytes // (8 << 20)))
    pairs = (
        baskets.select("w", "d", "cs", F.posexplode("cs").alias("i", "c1"))
        .select(
            "w",
            "c1",
            F.explode(F.slice("cs", F.col("i") + F.lit(2), F.col("d"))).alias("c2"),
        )
        .repartition(n_part, "c1", "c2")
        .groupBy("c1", "c2")
        .agg(F.sum("w").alias("score"), F.count("*").alias("n_common"))
    )
    return (
        pairs.select(
            F.col("c1").cast("long").alias("c1"),
            F.col("c2").cast("long").alias("c2"),
            F.col("n_common").cast("long").alias("n_common"),
            F.round("score", 6).alias("aa_score"),
        )
        .orderBy(F.desc("aa_score"), "c1", "c2")
        .limit(_AA_TOP)
    )


# ---------------------------------------------------------------------------
# a0077 — per-node local clustering coefficient on the user
# co-occurrence graph (same edge construction as q128_triangle_count:
# (event_type, hour) buckets, <=20-user hub cap, row-local oriented
# pair explode — the skew-guarded graph build). Per node: degree,
# triangle membership from the canonical oriented two-join, coefficient
# 2T/(deg(deg−1)); top-20 by (coeff desc, node). Every join is an
# equi-join on node ids; the coefficient frame is node-sized.
# ---------------------------------------------------------------------------

_CC_TOP = 20


# Scale rule (100 TB): the degree cap IS the scale guard: per-node
# neighbor lists are capped before the wedge explode, so pair work is
# cap^2-bounded per node whatever the degree distribution (same family as
# the LSH salt caps); raise the cap only with cluster width.
@query(
    "a0077_clustering_coeff",
    oracle=f"""
    WITH e AS (SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS b
               FROM events),
    bs AS (SELECT event_type, b, COUNT(*) AS n FROM e GROUP BY 1, 2),
    kept AS (SELECT event_type, b FROM bs WHERE n <= {_HUB_CAP}),
    ek AS (SELECT e.user_id, e.event_type, e.b FROM e JOIN kept USING (event_type, b)),
    ed AS (SELECT DISTINCT a.user_id AS u, k.user_id AS v
           FROM ek a JOIN ek k ON a.event_type = k.event_type AND a.b = k.b
                             AND a.user_id < k.user_id),
    deg AS (SELECT node, COUNT(*) * 1.0 AS d
            FROM (SELECT u AS node FROM ed UNION ALL SELECT v FROM ed) t GROUP BY node),
    tri AS (SELECT e1.u AS a, e1.v AS bb, e2.v AS c
            FROM ed e1 JOIN ed e2 ON e1.v = e2.u
                       JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v),
    ntri AS (SELECT node, COUNT(*) AS t
             FROM (SELECT a AS node FROM tri UNION ALL SELECT bb FROM tri
                   UNION ALL SELECT c FROM tri) x GROUP BY node)
    SELECT CAST(deg.node AS BIGINT) AS node, CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(ntri.t, 0) AS BIGINT) AS triangles,
           ROUND(2.0 * COALESCE(ntri.t, 0) / (deg.d * (deg.d - 1)), 6) AS coeff
    FROM deg LEFT JOIN ntri ON deg.node = ntri.node
    WHERE deg.d >= 2
    ORDER BY coeff DESC, node
    LIMIT {_CC_TOP}
    """,
    description=f"per-node local clustering coefficient 2T/(deg(deg−1)) on the q128 user co-occurrence graph ((event_type,hour) buckets, <={_HUB_CAP}-user hub cap, row-local oriented pair explode): triangle membership from the canonical oriented two-join exploded to all three corners, node-sized coefficient frame, top-{_CC_TOP} by (coeff desc, node) — the local-density metric behind community detection",
)
def a0077_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deg + 3-way triangle join reuse the edge frame
    ed = _cooc_edges(_user_buckets(spark, sf_dir)).localCheckpoint(eager=False)
    deg = _degrees(ed)
    tri = _triangles(ed)
    ntri = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    return (
        deg.join(ntri, "node", "left")
        .filter(F.col("c") >= 2)
        .select(
            F.col("node").cast("long").alias("node"),
            F.col("c").cast("long").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("triangles"),
            F.round(
                2.0 * F.coalesce("t", F.lit(0)) / (F.col("c") * (F.col("c") - 1)), 6
            ).alias("coeff"),
        )
        .orderBy(F.desc("coeff"), "node")
        .limit(_CC_TOP)
    )


# ---------------------------------------------------------------------------
# a0008 — k-core decomposition by iterative peeling (Seidman 1983; the
# degeneracy layering every graph-ML sampler uses) on the q128 user
# co-occurrence graph (same (event_type, hour) buckets, same <= 20-user
# hub cap). Peeling removes nodes with degree < k and repeats on the
# induced subgraph until a round peels nothing, within _KC_ROUNDS + 1
# rounds (``fixpoint`` raises rather than return a partial core). Each
# round is one degree aggregate + two node-keyed semi-joins on a frame
# that only SHRINKS; the oracle replays _KC_ROUNDS = 8 rounds as
# unrolled CTEs, and every round past the fixpoint is a no-op.
# Scale rule (100 TB): rounds grow with peel depth, not N — each round
# is edge-frame-sized and the frame is monotonically shrinking; the
# hub cap bounds the starting edge count per bucket at cap^2.
# ---------------------------------------------------------------------------

_KC_K = 3
_KC_ROUNDS = 8


def _kcore_rounds_sql() -> str:
    parts = []
    for r in range(1, _KC_ROUNDS + 1):
        prev = f"e{r - 1}"
        parts.append(
            f"""
    d{r} AS MATERIALIZED (SELECT node, COUNT(*) AS c
             FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}) t
             GROUP BY node),
    k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE c >= {_KC_K}),
    e{r} AS MATERIALIZED (SELECT e.u, e.v FROM {prev} e
             JOIN k{r} a ON e.u = a.node JOIN k{r} b ON e.v = b.node)"""
        )
    return ",".join(parts)


@query(
    "a0008_kcore_peeling",
    oracle=f"""
    WITH ev AS (SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS b
                FROM events),
    bs AS (SELECT event_type, b, COUNT(*) AS n FROM ev GROUP BY 1, 2),
    kept AS (SELECT event_type, b FROM bs WHERE n <= {_HUB_CAP}),
    ek AS (SELECT ev.user_id, ev.event_type, ev.b FROM ev JOIN kept USING (event_type, b)),
    e0 AS MATERIALIZED (SELECT DISTINCT a.user_id AS u, k.user_id AS v
           FROM ek a JOIN ek k ON a.event_type = k.event_type AND a.b = k.b
                             AND a.user_id < k.user_id),
    {_kcore_rounds_sql()},
    fin AS (SELECT node, COUNT(*) AS c
            FROM (SELECT u AS node FROM e{_KC_ROUNDS}
                  UNION ALL SELECT v FROM e{_KC_ROUNDS}) t
            GROUP BY node)
    SELECT CAST({_KC_K} AS BIGINT) AS k,
           CAST((SELECT COUNT(*) FROM fin) AS BIGINT) AS n_core_nodes,
           CAST((SELECT COUNT(*) FROM e{_KC_ROUNDS}) AS BIGINT) AS n_core_edges,
           CAST(COALESCE((SELECT MAX(c) FROM fin), 0) AS BIGINT) AS max_core_degree,
           CAST((SELECT COALESCE(MIN(c), {_KC_K}) FROM fin) >= {_KC_K} AS BIGINT)
             AS converged
    """,
    description=f"k-core decomposition (k={_KC_K}) by iterative peeling on the q128 user co-occurrence graph (same hub cap {_HUB_CAP}): degree-filter + induced-subgraph semi-join rounds on a monotonically shrinking edge frame until a round peels no node (at most {_KC_ROUNDS} + 1 rounds; raise, never a partial core) — core size, edges, max degree; the degeneracy layering graph-ML samplers consume",
)
def a0008_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _cooc_edges(_user_buckets(spark, sf_dir)).localCheckpoint(eager=False)

    def peel(state: tuple) -> tuple[tuple, int]:
        edges, _ = state
        deg = _degrees(edges).withColumn("chg", F.col("c") < _KC_K).localCheckpoint(eager=False)
        keep = deg.filter(~F.col("chg")).select("node")
        peeled = (
            edges.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)  # shrinking frame; caps plan depth
        )
        return (peeled, deg), deg.filter(F.col("chg")).count()

    # the round that peels no node leaves every survivor at degree >= k,
    # so its degree frame is the core's: nodes, max degree, and edges as
    # sum(deg)/2 come from it in the output's own job
    _, deg = fixpoint((edges, None), peel, _KC_ROUNDS + 1, "k-core peeling")
    return deg.agg(
        F.lit(_KC_K).cast("long").alias("k"),
        F.count("*").cast("long").alias("n_core_nodes"),
        F.coalesce(F.sum("c") / 2, F.lit(0)).cast("long").alias("n_core_edges"),
        F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("max_core_degree"),
        F.lit(1).cast("long").alias("converged"),
    )


# ---------------------------------------------------------------------------
# a0012 — label-propagation community detection (Raghavan-Albert-Kumara
# 2007, the linear-time community baseline) on the q128/a0008 user
# co-occurrence graph (same (event_type, hour) buckets, same <= 20-user
# hub cap). SYNCHRONOUS variant with deterministic tie-break: every
# node starts as its own community, and each round adopts the most
# frequent label among its neighbors (count DESC, label ASC) — the
# deterministic rule both engines can replay exactly, unlike the
# classic randomized asynchronous sweep. _LP_ROUNDS = 4 unrolled
# rounds; the oracle replays them as unrolled MATERIALIZED CTEs (the
# a0008 pattern). Output is the community-size profile (size ->
# how many communities), bounded by the graph's component structure.
# Scale rule (100 TB): each round is one edge-frame-sized join + one
# (node,label) aggregate — label frames are node-sized, rounds are a
# fixed resolution constant, and the hub cap bounds edges per bucket
# at cap^2. Synchronous LPA is exactly the Pregel superstep shape.
# ---------------------------------------------------------------------------

_LP_ROUNDS = 4


def _lpa_rounds_sql() -> str:
    parts = []
    for r in range(1, _LP_ROUNDS + 1):
        parts.append(
            f"""
    nb{r} AS (SELECT e.u AS node, l.lbl FROM sym e JOIN l{r - 1} l ON l.node = e.v),
    ct{r} AS (SELECT node, lbl, COUNT(*) AS c FROM nb{r} GROUP BY node, lbl),
    l{r} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rk
        FROM ct{r}) WHERE rk = 1)"""
        )
    return ",".join(parts)


@query(
    "a0012_label_propagation",
    oracle=f"""
    WITH ev AS (SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS b
                FROM events),
    bs AS (SELECT event_type, b, COUNT(*) AS n FROM ev GROUP BY 1, 2),
    kept AS (SELECT event_type, b FROM bs WHERE n <= {_HUB_CAP}),
    ek AS (SELECT ev.user_id, ev.event_type, ev.b FROM ev JOIN kept USING (event_type, b)),
    e0 AS MATERIALIZED (SELECT DISTINCT a.user_id AS u, k.user_id AS v
           FROM ek a JOIN ek k ON a.event_type = k.event_type AND a.b = k.b
                             AND a.user_id < k.user_id),
    sym AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM sym),
    {_lpa_rounds_sql()},
    cs AS (SELECT lbl, COUNT(*) AS sz FROM l{_LP_ROUNDS} GROUP BY lbl)
    SELECT CAST(sz AS BIGINT) AS size_nodes,
           CAST(COUNT(*) AS BIGINT) AS n_communities
    FROM cs GROUP BY sz ORDER BY size_nodes
    """,
    description=f"label-propagation community detection (Raghavan 2007, synchronous deterministic variant) on the q128/a0008 user co-occurrence graph (hub cap {_HUB_CAP}): every node starts as its own community, {_LP_ROUNDS} unrolled Pregel-shaped rounds each adopt the most frequent neighbor label (count DESC, label ASC tie-break — both engines replay the rule exactly); output the community-size profile (size -> n_communities); each round is one edge-sized join + one node-sized aggregate",
)
def a0012_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    sym = _sym_edges(_cooc_edges(_user_buckets(spark, sf_dir)))
    lbl = _lpa_labels(sym, _LP_ROUNDS)
    cs = lbl.groupBy("lbl").agg(F.count("*").alias("sz"))
    return (
        cs.groupBy(F.col("sz").cast("long").alias("size_nodes"))
        .agg(F.count("*").cast("long").alias("n_communities"))
        .orderBy("size_nodes")
    )


# ---------------------------------------------------------------------------
# a0013 — HITS hub/authority scoring (Kleinberg 1999, JACM 46(5)) on
# the bipartite customer -> part purchase graph (orders x lineitem,
# distinct pairs). The trick that makes the iteration EXACT across
# engines: run the power iteration UN-normalized in int64 — hub0 = 1,
# auth = SUM(hub) over in-edges, hub = SUM(auth) over out-edges — so
# every intermediate is an integer path count (auth_i(p) = #paths of
# length 2i-1 ending at p), immune to float summation order; normalize
# ONCE at the end. Growth per full iteration is ~(avg degree)^2, so
# small iteration counts stay far inside int64 at any SF that fits a
# fleet (deg ~ 30 -> a3 ~ 2.4e7; even 1000x fan-in is ~1e13).
# _HITS_ITERS = 2 (r14, A/B'd): the iteration count is a resolution
# constant of the demo, not of the operator — each extra iteration is
# one more edge-sized double-join (the Pregel superstep), and 2 already
# exercises the full half-step machinery past the degree shortcut;
# r13's 3-iteration wall at sf0.1 was 2.5 s against a 0.29 s DuckDB
# denominator, with iteration 3 contributing ~40% of the joins for no
# additional plan evidence. Raising it back is a one-constant change
# on both engines (the oracle CTE unrolls from the same constant).
# Scale rule (100 TB): each half-step is one edge-sized join + a
# node-sized aggregate (the Pregel superstep); the edge frame is built
# once and reused via localCheckpoint. More iterations only grow the
# int magnitude logarithmically in bits.
# Measured decades (r13, at the then-3 iterations): sf1.0 10.4 s vs
# DuckDB 4.6 s (2.26x — the single-box shuffle floor), INVERTING at
# sf10 to 63.9 s vs 139.0 s (Spark 2.2x FASTER) — the a0054/a0103
# crossover class; the per-iteration cost is symmetric across engines,
# so the crossover shape is iteration-count-invariant (re-measured at
# 2 iterations in the r14 sf10 rotation). A/B'd variants: iteration-1
# degree shortcut kept (12.1 -> 10.4 s at sf1.0); pre-partitioned
# e_p/e_c edge copies rejected (a wash — the cost is the partial-agg
# exchange, not the join shuffle).
# ---------------------------------------------------------------------------

_HITS_ITERS = 2
_HITS_TOP = 20


def _hits_rounds_sql() -> str:
    parts = []
    for i in range(1, _HITS_ITERS + 1):
        parts.append(
            f"""
    a{i} AS MATERIALIZED (
      SELECT e.p, CAST(SUM(h.s) AS BIGINT) AS s
      FROM e JOIN h{i - 1} h ON h.c = e.c GROUP BY e.p),
    h{i} AS MATERIALIZED (
      SELECT e.c, CAST(SUM(a.s) AS BIGINT) AS s
      FROM e JOIN a{i} a ON a.p = e.p GROUP BY e.c)"""
        )
    return ",".join(parts)


@query(
    "a0013_hits_scores",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    h0 AS (SELECT DISTINCT c, CAST(1 AS BIGINT) AS s FROM e),
    {_hits_rounds_sql()},
    mx AS (SELECT MAX(s) * 1.0 AS m FROM a{_HITS_ITERS}),
    top AS (
      SELECT p, s, ROW_NUMBER() OVER (ORDER BY s DESC, p) AS rank
      FROM a{_HITS_ITERS})
    SELECT CAST(rank AS BIGINT) AS rank, CAST(p AS BIGINT) AS partkey,
           CAST(s AS BIGINT) AS auth_paths,
           ROUND(s / (SELECT m FROM mx), 6) AS auth_score
    FROM top WHERE rank <= {_HITS_TOP} ORDER BY rank
    """,
    description=f"HITS hub/authority link analysis (Kleinberg 1999) on the bipartite customer->part purchase graph: {_HITS_ITERS} power iterations run UN-normalized in int64 so every intermediate is an exact integer path count (immune to float summation order — the cross-engine determinism trick), normalized once at the end by the max authority; top-{_HITS_TOP} authority parts with rank, raw path count and max-normalized score; each half-step is one edge-sized join + node-sized aggregate",
)
def a0013_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("c")
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    )
    e = o.join(l, "ok").select("c", "p").distinct().localCheckpoint(eager=False)
    # iteration 1 shortcut: hub0 = 1 for every customer, so auth_1(p)
    # is just the distinct-customer degree — one groupBy, no join
    # (sf1.0 A/B: saves one of the six edge-frame joins)
    auth = e.groupBy("p").agg(F.count("*").cast("long").alias("s"))
    # broadcast the node-aggregate side of each half-step join (guide
    # §3.1): the checkpointed edge RDD has no Catalyst stats, so the
    # planner falls back to SortMergeJoin and SHUFFLES THE EDGE FRAME
    # once per half-step (the two hashpartitioning(c)/(p) exchanges in
    # the r15 before-plan) even though auth/hub are node-sized — smaller
    # than the edge frame by the average-degree factor. The hint moves
    # the per-iteration cost from two edge-sized exchanges to two
    # node-sized broadcast builds (r15 A/B: warm 6.4 -> 3.1 s, jobs
    # 10 -> 8, stages 23 -> 13, results byte-identical). Beyond-broadcast
    # node counts (the 8 GB relation cap) revert to SMJ by deleting the
    # two hints — the pre-partitioned-edge-copy alternative stays
    # rejected (a DataFrame localCheckpoint erases Catalyst-visible
    # partitioning, so the copies still re-shuffle; r13 A/B).
    for i in range(_HITS_ITERS - 1):
        hub = e.join(F.broadcast(auth), "p").groupBy("c").agg(F.sum("s").cast("long").alias("s"))
        auth = e.join(F.broadcast(hub), "c").groupBy("p").agg(F.sum("s").cast("long").alias("s"))
        if i < _HITS_ITERS - 2:
            # node-sized; caps plan depth on deep iteration counts — at
            # the LAST iteration the single downstream consumer makes
            # the truncation pure overhead (r14 opt: each lazy
            # localCheckpoint is a Catalyst compile point + a persist)
            auth = auth.localCheckpoint(eager=False)
    # normalizer folded into the k-row frame (r14 opt round): the global
    # MAX(s) is BY DEFINITION the s of the rank-1 row, which the top-k
    # frame already contains — so m = max(s) over the k-row window
    # replaces the whole second auth subtree (the 1-row MAX aggregate +
    # broadcast crossJoin), and auth drops to exactly ONE consumer,
    # letting both intermediate localCheckpoint compile points go:
    # 4 Catalyst compiles -> 2, no broadcast build job.
    # TakeOrdered top-k FIRST (distributed partial top-k per partition),
    # then rank the k-row frame — never a global single-partition window
    top = (
        auth.orderBy(F.desc("s"), "p")
        .limit(_HITS_TOP)
        .select("p", "s", F.row_number().over(Window.orderBy(F.desc("s"), "p")).alias("rank"))
        .withColumn("m", F.max("s").over(Window.partitionBy()) * 1.0)
    )
    return top.select(
        F.col("rank").cast("long"),
        F.col("p").cast("long").alias("partkey"),
        F.col("s").cast("long").alias("auth_paths"),
        F.round(F.col("s") / F.col("m"), 6).alias("auth_score"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# a0022 — BFS hop-distance layers from the highest-degree user (the
# Pregel frontier-expansion shape; the hop-profile input to "within k
# hops" features and graph-sampling fanout estimates) on the q128/
# a0008 co-occurrence graph. Deterministic seed: max degree, ties to
# the smallest user id. _BFS_ROUNDS = 6 unrolled rounds; each round is
# one frontier-sized edge join + one left-anti against the visited
# set — the frontier is node-bounded and the visited set only grows.
# Nodes not reached within the budget report as layer -1 (disconnected
# or farther), so the output is a total partition of the node set.
# Scale rule (100 TB): rounds bound the radius, not the data; each
# round's join is sized by frontier x degree, and the visited set is
# node-sized. The oracle replays the identical rounds as unrolled
# MATERIALIZED CTEs.
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 6


def _bfs_rounds_sql() -> str:
    parts = []
    for r in range(1, _BFS_ROUNDS + 1):
        parts.append(
            f"""
    f{r} AS MATERIALIZED (
      SELECT DISTINCT e.v AS node FROM sym e
      JOIN f{r - 1} f ON f.node = e.u
      WHERE e.v NOT IN (SELECT node FROM v{r - 1})),
    v{r} AS MATERIALIZED (
      SELECT node, layer FROM v{r - 1}
      UNION ALL SELECT node, {r} FROM f{r})"""
        )
    return ",".join(parts)


@query(
    "a0022_bfs_layers",
    oracle=f"""
    WITH ev AS (SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS b
                FROM events),
    bs AS (SELECT event_type, b, COUNT(*) AS n FROM ev GROUP BY 1, 2),
    kept AS (SELECT event_type, b FROM bs WHERE n <= {_HUB_CAP}),
    ek AS (SELECT ev.user_id, ev.event_type, ev.b FROM ev JOIN kept USING (event_type, b)),
    e0 AS MATERIALIZED (SELECT DISTINCT a.user_id AS u, k.user_id AS v
           FROM ek a JOIN ek k ON a.event_type = k.event_type AND a.b = k.b
                             AND a.user_id < k.user_id),
    sym AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    deg AS (SELECT u AS node, COUNT(*) AS c FROM sym GROUP BY u),
    seed AS (SELECT node FROM deg ORDER BY c DESC, node LIMIT 1),
    f0 AS MATERIALIZED (SELECT node FROM seed),
    v0 AS MATERIALIZED (SELECT node, 0 AS layer FROM seed),
    {_bfs_rounds_sql()},
    unreached AS (
      SELECT d.node, -1 AS layer FROM deg d
      WHERE d.node NOT IN (SELECT node FROM v{_BFS_ROUNDS}))
    SELECT CAST(layer AS BIGINT) AS layer, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM (SELECT * FROM v{_BFS_ROUNDS} UNION ALL SELECT * FROM unreached)
    GROUP BY layer ORDER BY layer
    """,
    description=f"BFS hop-distance layers from the highest-degree user (ties to smallest id) on the q128/a0008 co-occurrence graph (hub cap {_HUB_CAP}): {_BFS_ROUNDS} unrolled Pregel frontier rounds, each one frontier-sized edge join + one left-anti against the growing visited set; nodes beyond the budget report layer -1, so the histogram partitions the node set exactly; the hop-profile input to within-k-hops features and sampling fanout estimates",
)
def a0022_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    sym = _sym_edges(_cooc_edges(_user_buckets(spark, sf_dir)))
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("c"))
    seed = deg.orderBy(F.desc("c"), "node").limit(1).select(F.col("node").alias("seed"), "node")
    visited = _frontier_bfs(sym, seed, _BFS_ROUNDS).select(
        "node", F.col("dist").alias("layer")
    )
    unreached = deg.select("node").join(visited.select("node"), "node", "left_anti").select(
        "node", F.lit(-1).alias("layer")
    )
    return (
        visited.unionAll(unreached)
        .groupBy(F.col("layer").cast("long").alias("layer"))
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .orderBy("layer")
    )


# ---------------------------------------------------------------------------
# a0027 — modularity of the LPA communities (Newman & Girvan 2004,
# Phys. Rev. E 69, 026113): Q = sum_c [ e_c/(2m) - (d_c/(2m))^2 ], the
# quality number that tells you whether a0012's label propagation
# found real structure or noise (Q ~ 0). Communities are a0012's
# EXACT labels (same graph, same _LP_ROUNDS synchronous rounds, same
# count-DESC/label-ASC tie rule — the oracle reuses the identical
# unrolled CTE chain).
#
# Determinism: Q is assembled from three INTEGER aggregates — within
# (same-label directed edge count), sum of squared community degree
# sums, and 2m — entering ONE closed-form double expression, so no
# float summation order exists to diverge. d_c <= 2m keeps
# sum(d_c^2) <= (2m)^2 inside int64 at any single-box SF (the oracle's
# HUGEINT sum is CAST back).
# Scale rule (100 TB): two edge-sized joins (label lookup per
# endpoint) + node-sized aggregates; the LPA rounds themselves are
# a0012's cost, re-stated here because the metric is inseparable from
# the labels.
# ---------------------------------------------------------------------------


def _modularity_oracle() -> str:
    return f"""
    WITH ev AS (SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS b
                FROM events),
    bs AS (SELECT event_type, b, COUNT(*) AS n FROM ev GROUP BY 1, 2),
    kept AS (SELECT event_type, b FROM bs WHERE n <= {_HUB_CAP}),
    ek AS (SELECT ev.user_id, ev.event_type, ev.b FROM ev JOIN kept USING (event_type, b)),
    e0 AS MATERIALIZED (SELECT DISTINCT a.user_id AS u, k.user_id AS v
           FROM ek a JOIN ek k ON a.event_type = k.event_type AND a.b = k.b
                             AND a.user_id < k.user_id),
    sym AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM sym),
    {_lpa_rounds_sql()},
    fin AS (SELECT node, lbl FROM l{_LP_ROUNDS}),
    m2 AS (SELECT COUNT(*) AS m2 FROM sym),
    within AS (SELECT COUNT(*) AS w FROM sym
               JOIN fin fu ON fu.node = sym.u
               JOIN fin fv ON fv.node = sym.v
               WHERE fu.lbl = fv.lbl),
    deg AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY u),
    dc AS (SELECT fin.lbl, CAST(SUM(deg.d) AS BIGINT) AS dsum
           FROM deg JOIN fin ON fin.node = deg.node GROUP BY fin.lbl),
    s AS (SELECT CAST(SUM(dsum * dsum) AS BIGINT) AS s2,
                 CAST(COUNT(*) AS BIGINT) AS n_comm FROM dc),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
    SELECT nn.n_nodes, s.n_comm AS n_communities,
           CAST(m2.m2 / 2 AS BIGINT) AS n_edges,
           CAST(within.w / 2 AS BIGINT) AS within_edges,
           ROUND(within.w * 1.0 / m2.m2, 6) AS coverage,
           ROUND(within.w * 1.0 / m2.m2 - s.s2 * 1.0 / (m2.m2 * m2.m2), 6)
             AS modularity
    FROM nn, s, m2, within
    """


@query(
    "a0027_modularity_communities",
    oracle=_modularity_oracle(),
    description="Newman-Girvan modularity (Phys. Rev. E 69, 026113, 2004) of a0012's label-propagation communities on the same co-occurrence graph: Q = within/(2m) - sum_c (d_c/(2m))^2 assembled from three INTEGER aggregates (same-label directed edge count, sum of squared community degree sums, 2m) entering one closed-form double expression — no float summation order exists to diverge; the quality number that says whether LPA found structure (Q >> 0) or noise (Q ~ 0); two edge-sized label-lookup joins + node-sized aggregates on top of a0012's rounds",
)
def a0027_modularity_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    sym = _sym_edges(_cooc_edges(_user_buckets(spark, sf_dir)))
    lbl = _lpa_labels(sym, _LP_ROUNDS)
    # ONE action (r14): 2m, the same-label edge count and the node count
    # ride the final select as crossJoined broadcast 1-row aggregates
    # (the oracle's m2/within/nn CTEs) instead of three separate driver
    # count jobs against the same checkpointed frames; every closed-form
    # float keeps the identical operand order
    m2 = sym.agg(F.count("*").alias("_m2"))
    within = (
        sym.join(lbl.withColumnRenamed("node", "u").withColumnRenamed("lbl", "lu"), "u")
        .join(lbl.withColumnRenamed("node", "v").withColumnRenamed("lbl", "lv"), "v")
        .filter(F.col("lu") == F.col("lv"))
        .agg(F.count("*").alias("_w"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    dc = deg.join(lbl, "node").groupBy("lbl").agg(F.sum("d").cast("long").alias("dsum"))
    s = dc.agg(
        F.sum(F.col("dsum") * F.col("dsum")).cast("long").alias("s2"),
        F.count("*").cast("long").alias("n_comm"),
    )
    nn = deg.agg(F.count("*").alias("_nn"))
    return (
        s.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(m2))
        .crossJoin(F.broadcast(within))
        .select(
            F.col("_nn").cast("long").alias("n_nodes"),
            F.col("n_comm").alias("n_communities"),
            (F.col("_m2") / 2).cast("long").alias("n_edges"),
            (F.col("_w") / 2).cast("long").alias("within_edges"),
            # try_divide: an edgeless graph (_m2 = 0) gives NULL ratios, as
            # the oracle does, instead of DIVIDE_BY_ZERO
            F.round(F.try_divide(F.col("_w") * 1.0, F.col("_m2")), 6).alias("coverage"),
            F.round(
                F.try_divide(F.col("_w") * 1.0, F.col("_m2"))
                - F.try_divide(F.col("s2") * 1.0, F.col("_m2").cast("double") * F.col("_m2")),
                6,
            ).alias("modularity"),
        )
    )


# ---------------------------------------------------------------------------
# a0028 — harmonic closeness centrality from a bounded seed set
# (Marchiori & Latora 2000; Boldi & Vigna 2014 form, which handles
# disconnection gracefully): C(s) = sum over reached nodes of
# 1/dist(s, node). Multi-source BFS — a0022's Pregel frontier
# generalized to (seed, node) keys, so the 8 seeds ride ONE iteration
# of joins instead of 8 sequential BFS runs (the batching that makes
# landmark-based closeness estimation feasible at scale).
#
# Determinism: the harmonic sum is assembled from per-layer INTEGER
# counts as sum(cnt_d * (60/d)) / 60 — 60 = lcm(1..6) makes the
# numerator exact int64, so no float summation exists until the final
# division. Seeds = 8 lowest node ids (deterministic).
# Scale rule (100 TB): the frontier frame is (n_seeds x nodes)-bounded;
# each round is one frontier-sized edge join + one left-anti against
# the per-seed visited set; landmark count and radius are the knobs.
# ---------------------------------------------------------------------------

_CC_ROUNDS = 6
_CC_SEEDS = 8
_CC_LCM = 60  # lcm(1..6): exact-rational harmonic numerator


def _cc_rounds_sql() -> str:
    parts = []
    for r in range(1, _CC_ROUNDS + 1):
        parts.append(
            f"""
    f{r} AS MATERIALIZED (
      SELECT DISTINCT f.seed, e.v AS node FROM sym e
      JOIN f{r - 1} f ON f.node = e.u
      WHERE NOT EXISTS (SELECT 1 FROM v{r - 1} vv
                        WHERE vv.seed = f.seed AND vv.node = e.v)),
    v{r} AS MATERIALIZED (
      SELECT seed, node, dist FROM v{r - 1}
      UNION ALL SELECT seed, node, {r} FROM f{r})"""
        )
    return ",".join(parts)


@query(
    "a0028_closeness_centrality",
    oracle=f"""
    WITH ev AS (SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS b
                FROM events),
    bs AS (SELECT event_type, b, COUNT(*) AS n FROM ev GROUP BY 1, 2),
    kept AS (SELECT event_type, b FROM bs WHERE n <= {_HUB_CAP}),
    ek AS (SELECT ev.user_id, ev.event_type, ev.b FROM ev JOIN kept USING (event_type, b)),
    e0 AS MATERIALIZED (SELECT DISTINCT a.user_id AS u, k.user_id AS v
           FROM ek a JOIN ek k ON a.event_type = k.event_type AND a.b = k.b
                             AND a.user_id < k.user_id),
    sym AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    seeds AS (SELECT DISTINCT u AS node FROM sym ORDER BY node LIMIT {_CC_SEEDS}),
    f0 AS MATERIALIZED (SELECT node AS seed, node FROM seeds),
    v0 AS MATERIALIZED (SELECT node AS seed, node, 0 AS dist FROM seeds),
    {_cc_rounds_sql()},
    layers AS (SELECT seed, dist, COUNT(*) AS cnt
               FROM v{_CC_ROUNDS} WHERE dist > 0 GROUP BY seed, dist),
    agg AS (SELECT seed,
                   CAST(SUM(cnt) AS BIGINT) AS n_reached,
                   CAST(SUM(cnt * dist) AS BIGINT) AS sum_dist,
                   CAST(SUM(cnt * ({_CC_LCM} / dist)) AS BIGINT) AS h60
            FROM layers GROUP BY seed)
    SELECT seed, n_reached, sum_dist,
           ROUND(h60 * 1.0 / {_CC_LCM}, 6) AS harmonic_closeness
    FROM agg ORDER BY seed
    """,
    description=f"harmonic closeness centrality (Marchiori-Latora 2000 / Boldi-Vigna 2014) for {_CC_SEEDS} deterministic landmark seeds on the q128/a0022 co-occurrence graph (hub cap {_HUB_CAP}): MULTI-source BFS — a0022's Pregel frontier generalized to (seed, node) keys so all seeds ride one join iteration — {_CC_ROUNDS} unrolled rounds; harmonic sum assembled as sum(layer_count * ({_CC_LCM}/dist))/{_CC_LCM} with {_CC_LCM}=lcm(1..{_CC_ROUNDS}), an exact-int64 numerator immune to float summation order; the landmark batching that prices closeness estimation on big graphs",
)
def a0028_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    sym = _sym_edges(_cooc_edges(_user_buckets(spark, sf_dir)))
    seeds = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(_CC_SEEDS)
        .select(F.col("node").alias("seed"), "node")
    )
    visited = _frontier_bfs(sym, seeds, _CC_ROUNDS)
    layers = (
        visited.filter(F.col("dist") > 0)
        .groupBy("seed", "dist")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        layers.groupBy("seed")
        .agg(
            F.sum("cnt").cast("long").alias("n_reached"),
            F.sum(F.col("cnt") * F.col("dist")).cast("long").alias("sum_dist"),
            F.sum(F.col("cnt") * (_CC_LCM / F.col("dist")).cast("long"))
            .cast("long")
            .alias("h60"),
        )
        .select(
            "seed",
            "n_reached",
            "sum_dist",
            F.round(F.col("h60") * 1.0 / _CC_LCM, 6).alias("harmonic_closeness"),
        )
        .orderBy("seed")
    )


# The q128 user co-occurrence graph's edge build, as oracle CTEs.
_G_EDGES_SQL = f"""ev AS (SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS b
                FROM events),
    bs AS (SELECT event_type, b, COUNT(*) AS n FROM ev GROUP BY 1, 2),
    kept AS (SELECT event_type, b FROM bs WHERE n <= {_HUB_CAP}),
    ek AS (SELECT ev.user_id, ev.event_type, ev.b
           FROM ev JOIN kept USING (event_type, b)),
    e0 AS MATERIALIZED (SELECT DISTINCT a.user_id AS u, k.user_id AS v
           FROM ek a JOIN ek k ON a.event_type = k.event_type AND a.b = k.b
                             AND a.user_id < k.user_id)"""


# ---------------------------------------------------------------------------
# a0036 — k-truss decomposition by support peeling (Cohen 2008, NSA
# TR; the edge-level analog of a0008's k-core): the k-truss is the
# maximal subgraph in which every edge closes >= k-2 triangles. Each
# round recomputes per-edge support with the canonical oriented
# two-join (u < v < w — q128's triangle idiom, each triangle counted
# once) and drops under-supported edges, until a round drops none
# within _KT_ROUNDS + 1 rounds (``fixpoint`` raises, never a partial
# truss) — the oracle replays _KT_ROUNDS rounds plus a re-peel as
# unrolled CTEs and pins the converged flag.
# Scale rule (100 TB): each round is one triangle enumeration on a
# monotonically SHRINKING edge frame (equi-joins on node ids, no
# cartesian); rounds grow with peel depth, not N, and the hub cap
# bounds the starting frame per bucket at cap^2. Truss peeling is the
# community-core extractor cohesion miners run above k-core (every
# k-truss edge is inside the (k-1)-core, but not conversely).
# ---------------------------------------------------------------------------

_KT_K = 4  # every surviving edge closes >= 2 triangles
_KT_ROUNDS = 6


def _ktruss_rounds_sql() -> str:
    # rounds 1.._KT_ROUNDS peel; round _KT_ROUNDS+1 is the VERIFICATION
    # pass: support of the final frame within itself (no filter), so
    # convergence = "re-peeling drops nothing" is pinned in the output
    # (an edge with zero triangles has no support row — the count
    # comparison catches it, a MIN over support rows would not).
    parts = []
    for r in range(1, _KT_ROUNDS + 2):
        prev = f"e{r - 1}"
        parts.append(
            f"""
    t{r} AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c
             FROM {prev} e1 JOIN {prev} e2 ON e2.u = e1.v
                            JOIN {prev} e3 ON e3.u = e1.u AND e3.v = e2.v),
    s{r} AS MATERIALIZED (SELECT u, v, COUNT(*) AS sup FROM (
               SELECT a AS u, b AS v FROM t{r}
               UNION ALL SELECT a AS u, c AS v FROM t{r}
               UNION ALL SELECT b AS u, c AS v FROM t{r}) x
             GROUP BY u, v),
    e{r} AS MATERIALIZED (SELECT u, v FROM s{r} WHERE sup >= {_KT_K - 2})"""
        )
    return ",".join(parts)


@query(
    "a0036_ktruss_edges",
    oracle=f"""
    WITH {_G_EDGES_SQL},
    {_ktruss_rounds_sql()},
    fin AS (SELECT u, v FROM e{_KT_ROUNDS}),
    sv AS (SELECT u, v, sup FROM s{_KT_ROUNDS + 1}),
    nodes AS (SELECT DISTINCT node FROM
              (SELECT u AS node FROM fin UNION ALL SELECT v FROM fin) t)
    SELECT CAST({_KT_K} AS BIGINT) AS k,
           CAST((SELECT COUNT(*) FROM fin) AS BIGINT) AS n_truss_edges,
           CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_truss_nodes,
           CAST(COALESCE((SELECT MAX(sup) FROM sv), 0) AS BIGINT) AS max_support,
           CAST((SELECT COUNT(*) FROM e{_KT_ROUNDS + 1})
                = (SELECT COUNT(*) FROM fin) AS BIGINT) AS converged
    """,
    description=f"k-truss decomposition (k={_KT_K}, Cohen 2008 — the edge-level analog of a0008's k-core) on the q128 user co-occurrence graph (hub cap {_HUB_CAP}): support-peeling rounds, each one canonical oriented triangle enumeration (u<v<w, every join an equi-join on node ids) + a per-edge support aggregate + a support filter on a monotonically shrinking edge frame, until a round drops no edge (at most {_KT_ROUNDS} + 1 rounds; raise, never a partial truss) — truss size, nodes, max edge support; the cohesion core community miners extract above k-core",
)
def a0036_ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _cooc_edges(_user_buckets(spark, sf_dir)).localCheckpoint(eager=False)

    def peel(state: tuple) -> tuple[tuple, int]:
        edges, _ = state
        tri = _triangles(edges)
        # every edge enters the support aggregate with weight 0, so an
        # edge in no triangle keeps a row (support 0) and its drop is
        # counted like any other under-supported edge
        per = (
            edges.select("u", "v", F.lit(0).alias("t"))
            .unionAll(tri.select("u", "v", F.lit(1).alias("t")))
            .unionAll(tri.select("u", F.col("w").alias("v"), F.lit(1).alias("t")))
            .unionAll(tri.select(F.col("v").alias("u"), F.col("w").alias("v"), F.lit(1).alias("t")))
        )
        sv = (
            per.groupBy("u", "v")
            .agg(F.sum("t").alias("sup"))
            .withColumn("chg", F.col("sup") < _KT_K - 2)
            .localCheckpoint(eager=False)  # shrinking frame; caps plan depth
        )
        kept = sv.filter(~F.col("chg")).select("u", "v")
        return (kept, sv), sv.filter(F.col("chg")).count()

    # the round that drops no edge is the truss: its support frame has
    # one row per truss edge, and its max support is the truss's
    _, sv = fixpoint((edges, None), peel, _KT_ROUNDS + 1, "k-truss peeling")
    nodes = sv.select(F.col("u").alias("node")).unionAll(sv.select("v")).distinct()
    return sv.agg(
        F.lit(_KT_K).cast("long").alias("k"),
        F.count("*").cast("long").alias("n_truss_edges"),
        F.coalesce(F.max("sup"), F.lit(0)).cast("long").alias("max_support"),
        F.lit(1).cast("long").alias("converged"),
    ).crossJoin(nodes.agg(F.count("*").alias("n_truss_nodes"))).select(
        "k", "n_truss_edges", "n_truss_nodes", "max_support", "converged"
    )


# ---------------------------------------------------------------------------
# a0037 — personalized PageRank (random walk with restart; Page et al.
# 1999 §6 "personalized" teleport, the seed-anchored relevance ranker
# behind Pinterest's Pixie and every related-item graph service) from
# the max-degree user, run in INT64 FIXED POINT: the walk mass starts
# as 1e12 at the seed, every hop moves floor(85% * m / (100 * deg))
# to each neighbor (integer division — exact in both engines), and the
# restart re-injects the constant 15% * 1e12 at the seed. Three
# unrolled power iterations; every intermediate is an exact integer,
# so the driver value-hash pins the MASS VECTOR itself, not a rounded
# float shadow (the a0013 int64-exact HITS device applied to RWR).
# Scale rule (100 TB): each iteration is one edge-frame equi-join +
# one node-keyed sum; iteration count is a resolution constant, the
# per-iteration cost is edge-frame-sized, and the hub cap bounds
# degree fan-out. Seed choice (max degree, lowest-id tie) is one
# degree aggregate.
# ---------------------------------------------------------------------------

_PPR_SCALE = 10**12
_PPR_ITERS = 3
_PPR_TOP = 15


def _ppr_iters_sql() -> str:
    restart = 15 * _PPR_SCALE // 100
    parts = []
    for r in range(1, _PPR_ITERS + 1):
        prev = f"p{r - 1}"
        parts.append(
            f"""
    p{r} AS MATERIALIZED (SELECT node, CAST(SUM(m) AS BIGINT) AS m FROM (
               SELECT d.v AS node, (85 * p.m) // (100 * dg.c) AS m
               FROM {prev} p JOIN d ON d.u = p.node
                             JOIN dg ON dg.node = p.node
               UNION ALL SELECT node, {restart} FROM seed) x
             GROUP BY node)"""
        )
    return ",".join(parts)


@query(
    "a0037_personalized_pagerank",
    oracle=f"""
    WITH {_G_EDGES_SQL},
    d AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    dg AS (SELECT u AS node, COUNT(*) AS c FROM d GROUP BY u),
    seed AS (SELECT node FROM dg ORDER BY c DESC, node LIMIT 1),
    p0 AS (SELECT node, CAST({_PPR_SCALE} AS BIGINT) AS m FROM seed),
    {_ppr_iters_sql()}
    SELECT node AS user_id, m AS mass_scaled,
           ROUND(m / {_PPR_SCALE}.0, 6) AS ppr
    FROM p{_PPR_ITERS}
    ORDER BY m DESC, node LIMIT {_PPR_TOP}
    """,
    description=f"personalized PageRank / random walk with restart (Page et al. 1999 §6 personalized teleport; the Pixie-style related-item ranker) from the max-degree user of the q128 co-occurrence graph, in INT64 FIXED POINT: mass starts as 1e12 at the seed, each of {_PPR_ITERS} unrolled iterations moves floor(85%*m/(100*deg)) along every edge (integer division — exact in both engines) and re-injects the constant 15% restart at the seed — every intermediate an exact integer (the a0013 int64-exact device applied to RWR), so the hash pins the mass vector itself; top-{_PPR_TOP} by mass, per-iteration cost is one edge equi-join + one node-keyed sum",
)
def a0037_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e0 = _cooc_edges(_user_buckets(spark, sf_dir)).localCheckpoint(eager=False)
    d = e0.unionAll(e0.select(F.col("v").alias("u"), F.col("u").alias("v"))).localCheckpoint(
        eager=False
    )
    dg = d.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("c"))
    seed_rows = dg.orderBy(F.desc("c"), "node").limit(1).collect()
    if not seed_rows:
        # hub caps can empty the graph at replica scales (every bucket
        # over-cap) — the a0008 empty-graph regime; surface an empty
        # frame with the declared schema instead of crashing.
        return spark.createDataFrame([], "user_id long, mass_scaled long, ppr double")
    seed = int(seed_rows[0]["node"])
    restart = 15 * _PPR_SCALE // 100

    p = spark.createDataFrame([(seed, _PPR_SCALE)], "node long, m long")
    restart_df = spark.createDataFrame([(seed, restart)], "node long, m long")
    for _ in range(_PPR_ITERS):
        moved = (
            p.join(d, p["node"] == d["u"])
            .join(dg.withColumnRenamed("node", "dn"), F.col("u") == F.col("dn"))
            .select(
                F.col("v").alias("node"),
                F.expr(f"(85 * m) div (100 * c)").alias("m"),
            )
        )
        p = (
            moved.unionAll(restart_df)
            .groupBy("node")
            .agg(F.sum("m").cast("long").alias("m"))
            .localCheckpoint(eager=False)
        )
    return (
        p.select(
            F.col("node").alias("user_id"),
            F.col("m").alias("mass_scaled"),
            F.round(F.col("m") / F.lit(float(_PPR_SCALE)), 6).alias("ppr"),
        )
        .orderBy(F.desc("mass_scaled"), "user_id")
        .limit(_PPR_TOP)
    )


# ---------------------------------------------------------------------------
# a0043 — Boruvka minimum-spanning-forest over the weighted user
# co-occurrence graph (Boruvka 1926; the distributed-MST round used by
# every Pregel/GraphX MSF implementation): edge weight favors STRONGLY
# co-occurring pairs (single-linkage clustering backbone — max-ST on
# shared-bucket counts == min-ST on the negated key), with the total
# order (-n, u, v) making the MSF UNIQUE, so every engine computes the
# identical edge set. Each round every component selects its minimum
# crossing edge (the cut property admits ANY vertex subset, so
# selection is sound even before labels fully collapse) and labels
# merge by min-label hook + two pointer-doubling jumps over the
# accumulated forest (the a0002/near-dup CC recipe). Boruvka
# guarantees the class count at least HALVES per round (every class
# with a crossing edge merges), so _MSF_ROUNDS=12 covers forests up to
# 2^12 nodes (the sf-ladder tops out ~1.5k); _MSF_ROUNDS unrolled
# rounds + a FIXPOINT ASSERTION (zero label-crossing edges
# remain; raise, never a partial forest — the a0008 discipline); the
# oracle replays the identical rounds as unrolled CTEs and pins the
# residual-crossing count in the output.
#
# Scale rule (100 TB): rounds and jumps grow with log(component
# diameter), not N — the production driver is a while-loop over the
# same two steps (the declared query unrolls them for oracle parity,
# exactly like a0008/a0012/a0022); per-bucket hub caps bound the edge
# build, selection is one groupBy(min_by) per orientation, and each
# jump is one self-join of the node-label frame.
# ---------------------------------------------------------------------------

_MSF_ROUNDS = 12
_MSF_JUMPS = 3
_MSF_TOP = 20


def _msf_rounds_sql() -> str:
    parts = []
    for r in range(1, _MSF_ROUNDS + 1):
        pl = f"l{r - 1}"
        pm = f"m{r - 1}"
        # crossing edges under current labels; per-component min edge by
        # (n DESC, u, v) over both orientations; forest accumulates.
        parts.append(
            f"""
    x{r} AS MATERIALIZED (
      SELECT e.u, e.v, e.n, lu.lab AS cu, lv.lab AS cv
      FROM e0 e JOIN {pl} lu ON lu.node = e.u JOIN {pl} lv ON lv.node = e.v
      WHERE lu.lab <> lv.lab),
    s{r} AS MATERIALIZED (
      SELECT DISTINCT u, v, n FROM (
        SELECT comp, u, v, n,
               ROW_NUMBER() OVER (PARTITION BY comp ORDER BY n DESC, u, v) AS rk
        FROM (SELECT cu AS comp, u, v, n FROM x{r}
              UNION ALL SELECT cv AS comp, u, v, n FROM x{r})
      ) WHERE rk = 1),
    m{r} AS MATERIALIZED (
      SELECT DISTINCT u, v, n FROM (
        SELECT u, v, n FROM {pm} UNION ALL SELECT u, v, n FROM s{r})),
    g{r} AS MATERIALIZED (
      SELECT GREATEST(lu.lab, lv.lab) AS node, MIN(LEAST(lu.lab, lv.lab)) AS cand
      FROM m{r} m JOIN {pl} lu ON lu.node = m.u JOIN {pl} lv ON lv.node = m.v
      WHERE lu.lab <> lv.lab GROUP BY 1),
    h{r} AS MATERIALIZED (
      SELECT l.node, LEAST(l.lab, COALESCE(g.cand, l.lab)) AS lab
      FROM {pl} l LEFT JOIN g{r} g ON g.node = l.node),"""
            + ",".join(
                f"""
    j{r}_{k} AS MATERIALIZED (
      SELECT a.node, b.lab
      FROM {f"h{r}" if k == 1 else f"j{r}_{k - 1}"} a
      JOIN {f"h{r}" if k == 1 else f"j{r}_{k - 1}"} b ON b.node = a.lab)"""
                for k in range(1, _MSF_JUMPS + 1)
            )
            + f""",
    l{r} AS MATERIALIZED (SELECT node, lab FROM j{r}_{_MSF_JUMPS})"""
        )
    return ",".join(parts)


@query(
    "a0043_boruvka_msf",
    oracle=f"""
    WITH ev AS (SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS b
                FROM events),
    bs AS (SELECT event_type, b, COUNT(*) AS cnt FROM ev GROUP BY 1, 2),
    kept AS (SELECT event_type, b FROM bs WHERE cnt <= {_HUB_CAP}),
    ek AS (SELECT ev.user_id, ev.event_type, ev.b
           FROM ev JOIN kept USING (event_type, b)),
    e0 AS MATERIALIZED (
      SELECT a.user_id AS u, k.user_id AS v, CAST(COUNT(*) AS BIGINT) AS n
      FROM ek a JOIN ek k ON a.event_type = k.event_type AND a.b = k.b
                        AND a.user_id < k.user_id
      GROUP BY 1, 2),
    l0 AS MATERIALIZED (
      SELECT node, node AS lab FROM (
        SELECT u AS node FROM e0 UNION SELECT v FROM e0)),
    m0 AS (SELECT u, v, n FROM e0 WHERE 1 = 0),
    {_msf_rounds_sql()},
    resid AS (
      SELECT COUNT(*) AS crossing
      FROM e0 e JOIN l{_MSF_ROUNDS} lu ON lu.node = e.u
                JOIN l{_MSF_ROUNDS} lv ON lv.node = e.v
      WHERE lu.lab <> lv.lab),
    comp AS (
      SELECT lab, COUNT(*) AS n_nodes FROM l{_MSF_ROUNDS} GROUP BY lab),
    fedge AS (
      SELECT lu.lab, COUNT(*) AS n_edges, CAST(SUM(m.n) AS BIGINT) AS total_w
      FROM m{_MSF_ROUNDS} m JOIN l{_MSF_ROUNDS} lu ON lu.node = m.u
      GROUP BY lu.lab)
    SELECT c.lab AS component, CAST(c.n_nodes AS BIGINT) AS n_nodes,
           CAST(COALESCE(f.n_edges, 0) AS BIGINT) AS n_msf_edges,
           COALESCE(f.total_w, 0) AS total_w,
           (SELECT crossing FROM resid) AS residual_crossing
    FROM comp c LEFT JOIN fedge f ON f.lab = c.lab
    ORDER BY c.n_nodes DESC, c.lab LIMIT {_MSF_TOP}
    """,
    description=f"Boruvka minimum-spanning-forest over the hub-capped user co-occurrence graph (weights favor strongly co-occurring pairs; unique total order (-n,u,v) makes the MSF engine-identical — the single-linkage clustering backbone): {_MSF_ROUNDS} unrolled rounds of per-component min-crossing-edge selection (cut property holds for any vertex subset, so selection is sound before labels collapse) + min-label hook and {_MSF_JUMPS} pointer-doubling jumps over the accumulated forest, fixpoint-ASSERTED (zero crossing edges pinned in the output); top-{_MSF_TOP} components by size with forest edge counts and weights",
)
def a0043_boruvka_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Iterative-truncation note (measured on pyspark 4.1.2): chained
    # eager localCheckpoints whose plans SELF-JOIN the previous
    # iteration (labels joins labels' own derivation — the hook+jump
    # shape) stop truncating in practice: by ~19 chained rounds each
    # checkpoint job doubles in wall (2^i DAG walk; the JVM burns it in
    # the scheduler while executors idle). The fix is GraphX's: a
    # PING-PONG parquet round-trip per round is a hard physical
    # truncation (two alternating scratch dirs, ~0.3 s/round here; on a
    # cluster this is the standard reliable-checkpoint-to-HDFS). The
    # linear msf chain keeps plain localCheckpoints.

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("b")
    ).distinct()
    bs = ev.groupBy("event_type", "b").agg(F.count("*").alias("cnt"))
    kept = bs.filter(F.col("cnt") <= _HUB_CAP).select("event_type", "b")
    ek = ev.join(kept, ["event_type", "b"])
    e0 = (
        ek.alias("a")
        .join(
            ek.alias("k"),
            (F.col("a.event_type") == F.col("k.event_type"))
            & (F.col("a.b") == F.col("k.b"))
            & (F.col("a.user_id") < F.col("k.user_id")),
        )
        .groupBy(F.col("a.user_id").alias("u"), F.col("k.user_id").alias("v"))
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    labels = (
        e0.select(F.col("u").alias("node"))
        .union(e0.select("v"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
        .localCheckpoint(eager=False)
    )
    # empty schema'd accumulator: hub caps can empty the graph at
    # replica scales (the a0008 empty-graph regime) — the loop then
    # exits on round 1 and the output is the well-typed empty frame.
    msf = spark.createDataFrame([], "u long, v long, n long")
    with tempfile.TemporaryDirectory(prefix="boruvka_labels_") as scratch:
        slots = itertools.cycle((f"{scratch}/pp0", f"{scratch}/pp1"))

        def merge(state: tuple) -> tuple[tuple, int]:
            labels, msf = state
            lu = labels.select(F.col("node").alias("u"), F.col("lab").alias("cu"))
            lv = labels.select(F.col("node").alias("v"), F.col("lab").alias("cv"))
            x = (
                e0.join(lu, "u")
                .join(lv, "v")
                .filter(F.col("cu") != F.col("cv"))
                .localCheckpoint(eager=False)
            )
            # a round merges only while crossing edges remain; the count
            # materializes x, and a zero ends the loop with labels stable
            crossing = x.count()
            if crossing == 0:
                return state, 0
            both = x.select(F.col("cu").alias("comp"), "u", "v", "n").union(
                x.select(F.col("cv").alias("comp"), "u", "v", "n")
            )
            sel = (
                both.groupBy("comp")
                .agg(
                    F.min_by(
                        F.struct("u", "v", "n"), F.struct(-F.col("n"), F.col("u"), F.col("v"))
                    ).alias("e")
                )
                .select("e.u", "e.v", "e.n")
                .distinct()
            )
            # EAGER: 12 unrolled rounds of lazy lineage would hand Catalyst
            # one ~60-join plan; materializing the (small) forest and label
            # frames keeps every round's plan shallow (the a0008 discipline).
            msf = msf.union(sel).distinct().localCheckpoint()
            # hook the ROOTS (GraphX union-find style): per forest edge,
            # the larger endpoint-CLASS representative receives the smaller
            # one — whole classes merge in one step; member pointers catch
            # up via the doubling jumps (hooking members instead diffuses
            # the min label one tree hop per round and stalls).
            lru = labels.select(F.col("node").alias("u"), F.col("lab").alias("ru"))
            lrv = labels.select(F.col("node").alias("v"), F.col("lab").alias("rv"))
            g = (
                msf.join(lru, "u")
                .join(lrv, "v")
                .filter(F.col("ru") != F.col("rv"))
                .groupBy(F.greatest("ru", "rv").alias("gnode"))
                .agg(F.min(F.least("ru", "rv")).alias("cand"))
            )
            labels = (
                labels.join(g, labels["node"] == g["gnode"], "left")
                .select("node", F.least("lab", F.coalesce("cand", "lab")).alias("lab"))
            )
            # pointer-doubling jumps: lab <- lab's lab
            for _j in range(_MSF_JUMPS):
                l2 = labels.select(F.col("node").alias("lab"), F.col("lab").alias("lab2"))
                labels = labels.join(l2, "lab").select("node", F.col("lab2").alias("lab"))
            path = next(slots)
            labels.coalesce(1).write.mode("overwrite").parquet(path)
            return (spark.read.parquet(path), msf), crossing

        labels, msf = fixpoint((labels, msf), merge, _MSF_ROUNDS + 1, "Boruvka MSF")
        # the returned frame must not read the scratch dir removed on exit
        labels = labels.localCheckpoint()
    comp = labels.groupBy("lab").agg(F.count("*").alias("n_nodes"))
    fedge = (
        msf.join(labels.select(F.col("node").alias("u"), F.col("lab").alias("elab")), "u")
        .groupBy("elab")
        .agg(F.count("*").alias("n_edges"), F.sum("n").alias("total_w"))
    )
    return (
        comp.join(fedge, comp["lab"] == fedge["elab"], "left")
        .select(
            F.col("lab").alias("component"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_msf_edges"),
            F.coalesce("total_w", F.lit(0)).cast("long").alias("total_w"),
            F.lit(0).cast("long").alias("residual_crossing"),
        )
        .orderBy(F.desc("n_nodes"), "component")
        .limit(_MSF_TOP)
    )
