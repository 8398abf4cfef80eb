"""Round-14 wave 3 (a0036+ name range, inside the driver's 50-slot
correctness window): graph-ladder completion (k-truss, personalized
PageRank, Katz centrality, HyperBall reachability), forecast-quality
decomposition (Brier/Murphy), diversified retrieval (MMR), coalition
attribution (exact Shapley), and corpus-law smoothing (Good-Turing).

Reference parity: no counterparts in the reference notebook
(kaggle/kaggle.py) — these extend the LLM-data-pipeline, graph, and
mining/stats axes with public-literature operators (citations at each
query)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.fixpoint import fixpoint
from ..sources import load_table
from .graph import _HUB_CAP, _cooc_edges, _triangles, _user_buckets
from .registry import query

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
# a0038 — Brier score with the Murphy (1973) reliability / resolution /
# uncertainty decomposition: THE forecast-quality triage every
# probabilistic classifier audit starts with (is the score bad because
# it is miscalibrated, or because it cannot discriminate?). The
# forecast is a row-local algebraic sigmoid p = 0.5 + 0.5*z/(1+|z|)
# of the event value (NO corpus statistics feed p, so both engines
# compute bit-identical doubles), quantized to 10 equal-width bins; the
# outcome is a deterministic noisy label correlated with the forecast.
# Because forecasts are quantized to the bin VALUE before scoring, the
# Murphy identity Brier = REL - RES + UNC holds EXACTLY — the query
# emits the residual and the oracle pins it at 0.0.
# Scale rule (100 TB): one scan, one 10-group aggregate, one combine —
# map-side-combined throughout; bins are a resolution constant.
# ---------------------------------------------------------------------------

_BR_BINS = 10


@query(
    "a0038_brier_decomposition",
    oracle=f"""
    WITH x AS (
      SELECT LEAST(CAST(ROUND((0.5 + 0.5 * ((value - 50) / 25)
                               / (1 + ABS((value - 50) / 25))) * 1000000) AS BIGINT)
                   // {10**6 // _BR_BINS}, {_BR_BINS - 1}) AS bin,
             CASE WHEN (value > 60) <> (event_id % 7 = 0) THEN 1 ELSE 0 END AS y
      FROM events),
    q AS (SELECT (2.0 * bin + 1) / (2 * {_BR_BINS}) AS f, y FROM x),
    b AS (SELECT f, COUNT(*) AS n, AVG(y) AS ybar,
                 SUM((f - y) * (f - y)) AS sq
          FROM q GROUP BY f),
    g AS (SELECT SUM(n) AS n, SUM(n * ybar) / SUM(n) AS ybar_g,
                 SUM(sq) / SUM(n) AS brier FROM b),
    m AS (SELECT g.n, g.brier,
                 SUM(b.n * (b.f - b.ybar) * (b.f - b.ybar)) / g.n AS rel,
                 SUM(b.n * (b.ybar - g.ybar_g) * (b.ybar - g.ybar_g)) / g.n AS res,
                 g.ybar_g * (1 - g.ybar_g) AS unc
          FROM b CROSS JOIN g GROUP BY g.n, g.brier, g.ybar_g)
    SELECT CAST(n AS BIGINT) AS n_events,
           ROUND(brier, 6) AS brier,
           ROUND(rel, 6) AS reliability,
           ROUND(res, 6) AS resolution,
           ROUND(unc, 6) AS uncertainty,
           ROUND(brier - (rel - res + unc), 6) + 0.0 AS identity_residual
    FROM m
    """,
    description=f"Brier score with the Murphy 1973 reliability/resolution/uncertainty decomposition over {_BR_BINS} forecast bins: forecast = row-local algebraic sigmoid of the event value (no corpus statistic feeds p — both engines compute bit-identical doubles), quantized to the bin value BEFORE scoring so the decomposition identity Brier = REL - RES + UNC holds exactly (residual emitted and pinned at 0.0); outcome = deterministic noisy label correlated with the forecast; one scan + one {_BR_BINS}-group aggregate + one combine, map-side-combined throughout — the calibration-vs-discrimination triage every classifier audit starts with",
)
def a0038_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    binc = F.least(
        F.expr(
            "CAST(ROUND((0.5 + 0.5 * ((value - 50) / 25) / (1 + ABS((value - 50) / 25)))"
            f" * 1000000) AS BIGINT) div {10**6 // _BR_BINS}"
        ),
        F.lit(_BR_BINS - 1),
    )
    y = F.when((F.col("value") > 60) != (F.col("event_id") % 7 == 0), 1).otherwise(0)
    q = ev.select(((2.0 * binc + 1) / (2 * _BR_BINS)).alias("f"), y.alias("y"))
    b = q.groupBy("f").agg(
        F.count("*").alias("n"),
        F.avg("y").alias("ybar"),
        F.sum((F.col("f") - F.col("y")) * (F.col("f") - F.col("y"))).alias("sq"),
    )
    g = b.agg(
        F.sum("n").alias("n_g"),
        (F.sum(F.col("n") * F.col("ybar")) / F.sum("n")).alias("ybar_g"),
        (F.sum("sq") / F.sum("n")).alias("brier"),
    )
    m = (
        b.crossJoin(F.broadcast(g))
        .groupBy("n_g", "brier", "ybar_g")
        .agg(
            (
                F.sum(F.col("n") * (F.col("f") - F.col("ybar")) * (F.col("f") - F.col("ybar")))
                / F.first("n_g")
            ).alias("rel"),
            (
                F.sum(
                    F.col("n") * (F.col("ybar") - F.col("ybar_g")) * (F.col("ybar") - F.col("ybar_g"))
                )
                / F.first("n_g")
            ).alias("res"),
        )
    )
    return m.select(
        F.col("n_g").cast("long").alias("n_events"),
        F.round("brier", 6).alias("brier"),
        F.round("rel", 6).alias("reliability"),
        F.round("res", 6).alias("resolution"),
        F.round(F.col("ybar_g") * (1 - F.col("ybar_g")), 6).alias("uncertainty"),
        (
            F.round(
                F.col("brier")
                - (F.col("rel") - F.col("res") + F.col("ybar_g") * (1 - F.col("ybar_g"))),
                6,
            )
            + F.lit(0.0)
        ).alias("identity_residual"),
    )


# Shared token macro (identical to operators.text.tokens on the Spark
# side; see round13._TOKS_SQL).
_TOKS_SQL = (
    "list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +'), x -> x <> '')"
)

# ---------------------------------------------------------------------------
# a0039 — maximal marginal relevance re-ranking (Carbonell & Goldstein,
# SIGIR 1998): the diversified top-k every RAG retrieval layer ships —
# greedily pick argmax of lambda*rel(d) - (1-lambda)*max_{s in S}
# sim(d, s), so near-duplicate hits can't crowd the context window.
# The corpus-proportional stage is ONE embedding scan scoring cosine
# relevance against a single broadcast query vector (a0024's dense
# side); the greedy runs over the TakeOrdered top-L candidate pool — an
# L-bounded frame (L=30) whose pairwise-similarity matrix and selection
# loop are resolution constants, executed driver-side over the bounded
# collect (the a0089 bounded-collect discipline) with fold-order dot
# products and half-up rounding that replay DuckDB's list_reduce +
# ROUND bit-for-bit.
# Scale rule (100 TB): L and k are resolution constants; the corpus
# stage is embarrassingly parallel and the pool collect is L rows
# regardless of corpus size. Batched query workloads reuse q118's
# batch-ANN join for the relevance stage.
# ---------------------------------------------------------------------------

_MMR_QVEC = 7
_MMR_L = 30
_MMR_K = 8
_MMR_LAM = 0.7

_MMR_DIMS = 64
_MMR_DOT = (
    f"list_reduce(list_transform(range(1, {_MMR_DIMS + 1}), i -> a.v[i] * b.v[i]),"
    " (x, y) -> x + y)"
)
_MMR_NA = (
    f"sqrt(list_reduce(list_transform(range(1, {_MMR_DIMS + 1}), i -> a.v[i] * a.v[i]),"
    " (x, y) -> x + y))"
)
_MMR_NB = (
    f"sqrt(list_reduce(list_transform(range(1, {_MMR_DIMS + 1}), i -> b.v[i] * b.v[i]),"
    " (x, y) -> x + y))"
)
_MMR_QDOT = (
    f"list_reduce(list_transform(range(1, {_MMR_DIMS + 1}), i -> e.v[i] * qv.q[i]),"
    " (x, y) -> x + y)"
)
_MMR_QNV = (
    f"sqrt(list_reduce(list_transform(range(1, {_MMR_DIMS + 1}), i -> e.v[i] * e.v[i]),"
    " (x, y) -> x + y))"
)
_MMR_QNQ = (
    f"sqrt(list_reduce(list_transform(range(1, {_MMR_DIMS + 1}), i -> qv.q[i] * qv.q[i]),"
    " (x, y) -> x + y))"
)


def _mmr_rounds_sql() -> str:
    lam, mu = _MMR_LAM, round(1 - _MMR_LAM, 6)
    parts = []
    for r in range(2, _MMR_K + 1):
        prev = f"sel{r - 1}"
        parts.append(
            f"""
    c{r} AS MATERIALIZED (SELECT c.doc_id, ROUND({lam} * c.rel - {mu} * MAX(p.sim), 9) AS sc
             FROM cand c JOIN pair p ON p.da = c.doc_id
                         JOIN {prev} s ON s.doc_id = p.db
             WHERE c.doc_id NOT IN (SELECT doc_id FROM {prev})
             GROUP BY c.doc_id, c.rel),
    pick{r} AS MATERIALIZED (SELECT doc_id, {r} AS rank, sc AS mmr FROM c{r}
                ORDER BY sc DESC, doc_id LIMIT 1),
    sel{r} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{r})"""
        )
    return ",".join(parts)


@query(
    "a0039_mmr_rerank",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    qv AS (SELECT v AS q FROM e WHERE vec_id = {_MMR_QVEC}),
    rel AS MATERIALIZED (SELECT e.vec_id AS doc_id,
                   ROUND({_MMR_QDOT} / ({_MMR_QNV} * {_MMR_QNQ}), 9) AS rel
            FROM e CROSS JOIN qv WHERE e.vec_id <> {_MMR_QVEC}),
    cand AS MATERIALIZED (SELECT doc_id, rel FROM
             (SELECT doc_id, rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rn
              FROM rel) x WHERE rn <= {_MMR_L}),
    cv AS MATERIALIZED (SELECT c.doc_id, c.rel, e.v FROM cand c JOIN e ON e.vec_id = c.doc_id),
    pair AS MATERIALIZED (SELECT a.doc_id AS da, b.doc_id AS db,
                    ROUND({_MMR_DOT} / ({_MMR_NA} * {_MMR_NB}), 9) AS sim
             FROM cv a JOIN cv b ON a.doc_id <> b.doc_id),
    sel1 AS MATERIALIZED (SELECT doc_id, 1 AS rank, rel AS mmr FROM cand
             ORDER BY rel DESC, doc_id LIMIT 1),
    {_mmr_rounds_sql()}
    SELECT CAST(s.rank AS BIGINT) AS rank, s.doc_id,
           ROUND(c.rel, 6) AS relevance, ROUND(s.mmr, 6) AS mmr_score
    FROM sel{_MMR_K} s JOIN cand c ON c.doc_id = s.doc_id
    ORDER BY s.rank
    """,
    description=f"maximal marginal relevance re-ranking (Carbonell-Goldstein SIGIR 1998, lambda={_MMR_LAM}): greedy diversified top-{_MMR_K} from the TakeOrdered top-{_MMR_L} cosine candidate pool of a fixed query embedding — each round picks argmax of lambda*rel - (1-lambda)*max-sim-to-selected, so near-duplicates can't crowd a RAG context window; the corpus-proportional stage is ONE embedding scan against a broadcast query vector, the pool's pairwise-sim matrix and {_MMR_K}-round greedy are L-bounded resolution constants run over a bounded collect with fold-order dots + half-up rounding replaying DuckDB's list_reduce/ROUND bit-for-bit; 9-dp scores with doc_id ties make the selection order engine-identical",
)
def a0039_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as SIM
    from .round13b import _round_half_up

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", SIM.as_double("embedding").alias("v")
    )
    qv = emb.filter(F.col("vec_id") == _MMR_QVEC).select(F.col("v").alias("q"))
    rel = (
        emb.filter(F.col("vec_id") != _MMR_QVEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(SIM.cosine(F.col("v"), F.col("q")), 9).alias("rel"),
            "v",
        )
    )
    # TakeOrderedAndProject top-L (no window), vectors ride along: the
    # ONLY driver materialization is this L-row bounded pool
    pool = rel.orderBy(F.desc("rel"), "doc_id").limit(_MMR_L).collect()
    cand = [(int(r["doc_id"]), float(r["rel"]), [float(x) for x in r["v"]]) for r in pool]

    def _dot(a: list[float], b: list[float]) -> float:
        # sequential left-to-right fold — DuckDB list_reduce order
        s = 0.0
        for x, y in zip(a, b):
            s = s + x * y
        return s

    import math

    sims: dict[tuple[int, int], float] = {}
    for i, (di, _, vi) in enumerate(cand):
        for j, (dj, _, vj) in enumerate(cand):
            if i != j:
                sims[(di, dj)] = _round_half_up(
                    _dot(vi, vj) / (math.sqrt(_dot(vi, vi)) * math.sqrt(_dot(vj, vj))), 9
                )

    lam, mu = _MMR_LAM, round(1 - _MMR_LAM, 6)
    remaining = {d: r for d, r, _ in cand}
    first = min(cand, key=lambda t: (-t[1], t[0]))
    selected = [(first[0], 1, first[1])]
    del remaining[first[0]]
    for rank in range(2, _MMR_K + 1):
        best = None
        for d, r in remaining.items():
            maxsim = max(sims[(d, s)] for s, _, _ in selected)
            sc = _round_half_up(lam * r - mu * maxsim, 9)
            if best is None or sc > best[1] or (sc == best[1] and d < best[0]):
                best = (d, sc)
        selected.append((best[0], rank, best[1]))
        del remaining[best[0]]

    rels = {d: r for d, r, _ in cand}
    rows = [
        (rank, d, _round_half_up(rels[d], 6), _round_half_up(mmr, 6))
        for d, rank, mmr in selected
    ]
    return spark.createDataFrame(
        rows, "rank long, doc_id long, relevance double, mmr_score double"
    ).orderBy("rank")


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
_SHAP_W = {0: 6, 1: 2, 2: 2, 3: 6}  # |S|! * (4-1-|S|)!


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


# ---------------------------------------------------------------------------
# a0041 — Good-Turing frequency smoothing (Good 1953; Gale & Sampson
# 1995's SGT setup): the frequency-of-frequencies table N_r, the
# unseen-probability mass P0 = N_1/N, and the Turing-smoothed counts
# r* = (r+1) N_{r+1} / N_r for the head frequencies — the corpus-law
# companion of a0005 (Zipf) and a0006 (Heaps) that prices how much
# probability a unigram LM must reserve for unseen types (the
# smoothing baseline Kneser-Ney (a0135) discounts against).
# Scale shape: one token-explode aggregate to (token, r) — the a0005
# vocabulary frame — then a VOCAB-bounded (r, N_r) rollup; the output
# spine is the first {_GT_RMAX} frequencies. No windows, no sorts over
# token rows.
# Scale rule (100 TB): the (token, count) vocabulary aggregate is the
# one corpus-sized stage (map-side combined); the freq-of-freq rollup
# is vocabulary-bounded and the spine is a resolution constant.
# ---------------------------------------------------------------------------

_GT_RMAX = 10


@query(
    "a0041_good_turing",
    oracle=f"""
    WITH t AS (SELECT unnest({_TOKS_SQL}) AS tok FROM documents),
    tc AS (SELECT tok, COUNT(*) AS r FROM t GROUP BY tok),
    ff AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM tc GROUP BY r),
    tots AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
                    CAST(SUM(n_r) AS BIGINT) AS vocab,
                    CAST(COALESCE(SUM(CASE WHEN r = 1 THEN n_r END), 0) AS BIGINT) AS n1
             FROM ff),
    thr AS (SELECT MAX(r) AS rcut FROM
            (SELECT r FROM ff ORDER BY r LIMIT {_GT_RMAX}) x)
    SELECT f.r, f.n_r,
           CAST(COALESCE(f2.n_r, 0) AS BIGINT) AS n_r_plus1,
           ROUND((f.r + 1) * COALESCE(f2.n_r, 0) * 1.0 / f.n_r, 6) AS r_star,
           tots.n_tokens, tots.vocab,
           ROUND(tots.n1 * 1.0 / tots.n_tokens, 6) AS unseen_mass
    FROM ff f LEFT JOIN ff f2 ON f2.r = f.r + 1 CROSS JOIN tots CROSS JOIN thr
    WHERE f.r <= thr.rcut
    ORDER BY f.r
    """,
    description=f"Good-Turing frequency smoothing (Good 1953 / Gale-Sampson 1995): frequency-of-frequencies N_r over the {_GT_RMAX} smallest frequency classes present, Turing-smoothed counts r* = (r+1)N_(r+1)/N_r, and the unseen-probability mass P0 = N_1/N a unigram LM must reserve — the corpus-law companion of a0005 Zipf and a0006 Heaps and the baseline Kneser-Ney discounts against; one token-explode (token, count) aggregate (the a0005 vocabulary frame) then a vocab-bounded freq-of-freq rollup, no windows or token-row sorts",
)
def a0041_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select(F.explode(X.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("r"))
    )
    ff = tc.groupBy("r").agg(F.count("*").cast("long").alias("n_r"))
    tots = ff.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_tokens"),
        F.sum("n_r").cast("long").alias("vocab"),
        F.coalesce(F.sum(F.when(F.col("r") == 1, F.col("n_r"))), F.lit(0))
        .cast("long")
        .alias("n1"),
    )
    f2 = ff.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    # the spine is the _GT_RMAX SMALLEST frequency classes PRESENT (the
    # synthetic corpus has a dense tiny vocabulary whose minimum token
    # frequency exceeds 10, so a fixed r <= 10 spine would be empty):
    # threshold = max of the bottom-_GT_RMAX distinct r — a bounded
    # TakeOrdered over the vocab-bounded freq-of-freq frame
    thr = ff.orderBy("r").limit(_GT_RMAX).agg(F.max("r").alias("rcut"))
    return (
        ff.crossJoin(F.broadcast(thr))
        .filter(F.col("r") <= F.col("rcut"))
        .join(f2, "r", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "r",
            "n_r",
            F.coalesce("n_r1", F.lit(0)).cast("long").alias("n_r_plus1"),
            F.round((F.col("r") + 1) * F.coalesce("n_r1", F.lit(0)) / F.col("n_r"), 6).alias(
                "r_star"
            ),
            "n_tokens",
            "vocab",
            F.round(F.col("n1") / F.col("n_tokens"), 6).alias("unseen_mass"),
        )
        .orderBy("r")
    )
