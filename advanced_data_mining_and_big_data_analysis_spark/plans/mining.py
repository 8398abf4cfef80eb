"""Classical data-mining declared queries: frequent itemsets and
association rules, collaborative filtering, decision-tree and boosting
splits, naive Bayes, logistic regression, EM, PCA, skylines, functional
dependencies, and the spatial-grid family (density hierarchy, kNN, LOF,
distance outliers, grid density clusters) that shares ``_dlh_feats`` and
``operators.grid``.
"""

from __future__ import annotations

import math
from decimal import Decimal, ROUND_HALF_UP

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import text as X
from ..operators.fixpoint import fixpoint
from ..operators.grid import cap_per_cell, equal_width_cells, neighbor_cells
from ..sources import load_table
from .registry import query


@query(
    "a0176_ridgecv_loo",
    oracle="""
    WITH base AS (
      SELECT l_quantity AS x1, l_discount AS x2, l_extendedprice AS y FROM lineitem
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(x1) AS m1, AVG(x2) AS m2, AVG(y) AS my,
             COVAR_POP(x1, x1) * COUNT(*) AS s11,
             COVAR_POP(x1, x2) * COUNT(*) AS s12,
             COVAR_POP(x2, x2) * COUNT(*) AS s22,
             COVAR_POP(x1, y) * COUNT(*) AS c1,
             COVAR_POP(x2, y) * COUNT(*) AS c2
      FROM base
    ), alphas(alpha) AS (VALUES (0.1), (1.0), (10.0)),
    sol AS (
      SELECT a.alpha, s.*,
             (s.s11 + a.alpha) * (s.s22 + a.alpha) - s.s12 * s.s12 AS det
      FROM alphas a CROSS JOIN stats s
    ), coef AS (
      SELECT alpha, n, m1, m2, my,
             (s22 + alpha) / det AS i11, -s12 / det AS i12, (s11 + alpha) / det AS i22,
             ((s22 + alpha) * c1 - s12 * c2) / det AS b1,
             ((s11 + alpha) * c2 - s12 * c1) / det AS b2
      FROM sol
    ), loo AS (
      SELECT c.alpha, CAST(c.n AS BIGINT) AS n,
             AVG(POWER(
               (b.y - (c.my - c.b1 * c.m1 - c.b2 * c.m2 + c.b1 * b.x1 + c.b2 * b.x2)) /
               (1 - (1 / c.n
                     + c.i11 * (b.x1 - c.m1) * (b.x1 - c.m1)
                     + 2 * c.i12 * (b.x1 - c.m1) * (b.x2 - c.m2)
                     + c.i22 * (b.x2 - c.m2) * (b.x2 - c.m2))), 2)) AS loo_mse
      FROM coef c CROSS JOIN base b
      GROUP BY c.alpha, c.n
    )
    SELECT alpha, n, ROUND(SQRT(loo_mse), 4) AS loo_rmse,
           loo_mse = MIN(loo_mse) OVER () AS is_best
    FROM loo ORDER BY alpha
    """,
    description="sklearn RidgeCV's exact leave-one-out selection criterion (reference kaggle.py:791 meta-regressor), distributed: closed-form LOO via the hat-matrix identity e_i/(1-h_i) with h_i = 1/n + x~'(G+aI)^-1 x~ — two JVM-side passes (covar_pop stat row, then native-arithmetic leverage columns), a k x k numpy solve per alpha on the driver; NEVER n refits. Oracle spells the 2x2 inverse in closed form",
)
def a0176_ridgecv_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.stacking import loo_ridge_scores

    base = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x1"),
        F.col("l_discount").alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )
    scores = loo_ridge_scores(base, ["x1", "x2"], "y")
    best = scores.agg(F.min("loo_mse").alias("_best"))  # 1 row; broadcast
    return (
        scores.crossJoin(F.broadcast(best))
        .select(
            "alpha",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.sqrt("loo_mse"), 4).alias("loo_rmse"),
            (F.col("loo_mse") == F.col("_best")).alias("is_best"),
        )
        .orderBy("alpha")
    )


# ---------------------------------------------------------------------------
# q131 — frequent itemset mining (market-basket association): Spark
# ML's distributed FP-Growth over per-order part baskets, reported as
# frequent PAIRS with support and lift. FP-Growth is the right
# 100 TB algorithm (one count pass + partitioned conditional FP-trees —
# never the candidate-explosion of Apriori); the oracle recomputes the
# pair supports relationally (basket self-join, p1 < p2), so the hash
# pins FP-Growth's output against first-principles counting. The
# support threshold mirrors MLlib's internal rule exactly:
# count >= ceil(minSupport * n_baskets).
# ---------------------------------------------------------------------------

_FPM_MINSUP = 0.0002


@query(
    "q131_frequent_itemsets",
    oracle=f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM b),
    thr AS (SELECT CAST(ceil({_FPM_MINSUP} * n) AS BIGINT) AS t, n FROM nb),
    si AS (SELECT l_partkey, COUNT(*) AS c FROM b GROUP BY 1),
    p AS (SELECT a.l_partkey AS p1, b2.l_partkey AS p2, COUNT(*) AS support
          FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
          GROUP BY 1, 2)
    SELECT p.p1, p.p2, CAST(p.support AS BIGINT) AS support,
           ROUND(p.support * 1.0 * thr.n / (s1.c * s2.c), 6) AS lift
    FROM p, thr
    JOIN si s1 ON p.p1 = s1.l_partkey
    JOIN si s2 ON p.p2 = s2.l_partkey
    WHERE p.support >= thr.t
    ORDER BY support DESC, p1, p2
    """,
    description="frequent itemset mining via distributed FP-Growth (pyspark.ml.fpm) over per-order part baskets, reported as frequent pairs with support and lift — FP-Growth's one-count-pass + partitioned conditional trees is the scale-correct association miner (no Apriori candidate explosion); the oracle recounts pair supports from a relational basket self-join and mirrors MLlib's count >= ceil(minSupport*n) threshold, so the hash pins the algorithm against first-principles counting",
)
def q131_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.fpm import FPGrowth

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.distinct().groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("items"))
    model = FPGrowth(itemsCol="items", minSupport=_FPM_MINSUP, minConfidence=0.5).fit(baskets)
    fi = model.freqItemsets
    n = baskets.agg(F.count("*").alias("n"))
    pairs = fi.filter(F.size("items") == 2).select(
        F.array_min("items").alias("p1"), F.array_max("items").alias("p2"),
        F.col("freq").alias("support"),
    )
    singles = fi.filter(F.size("items") == 1).select(
        F.element_at("items", 1).alias("item"), F.col("freq").alias("c")
    )
    s1 = singles.select(F.col("item").alias("p1"), F.col("c").alias("c1"))
    s2 = singles.select(F.col("item").alias("p2"), F.col("c").alias("c2"))
    return (
        pairs.join(s1, "p1")
        .join(s2, "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "support",
            F.round(F.col("support") * 1.0 * F.col("n") / (F.col("c1") * F.col("c2")), 6).alias(
                "lift"
            ),
        )
        .orderBy(F.desc("support"), "p1", "p2")
    )


# ---------------------------------------------------------------------------
# q134 — Pareto skyline over supplier aggregates: the multi-objective
# dominance query (maximize revenue, minimize average discount given).
# The skyline runs over a GROUPED frame (one row per supplier — bounded
# by the dimension's cardinality, never the fact table), so the
# quadratic dominance anti-join is dimension-sized; the fact scan
# collapses through one map-side-combined aggregate first. All compared
# quantities are rounded identically in both engines before the strict/
# non-strict dominance tests (float-tie rule).
# ---------------------------------------------------------------------------


@query(
    "q134_pareto_skyline",
    oracle="""
    WITH a AS (SELECT l_suppkey,
                      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                               * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS rev,
                      ROUND(AVG(l_discount), 6) AS avg_disc
               FROM lineitem GROUP BY l_suppkey)
    SELECT s.l_suppkey, s.rev, s.avg_disc
    FROM a s
    WHERE NOT EXISTS (
      SELECT 1 FROM a t
      WHERE t.rev >= s.rev AND t.avg_disc <= s.avg_disc
        AND (t.rev > s.rev OR t.avg_disc < s.avg_disc))
    ORDER BY s.l_suppkey
    """,
    description="Pareto skyline (maximize revenue, minimize avg discount) over per-supplier aggregates: the multi-objective dominance query, run as an anti-join on the GROUPED dimension-sized frame (suppliers), never the fact table — the fact scan collapses through one map-side-combined aggregate first; dominance quantities rounded identically in both engines before the strict/non-strict comparisons",
)
def q134_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # exact-decimal revenue (the q135 lesson): dominance comparisons on
    # a last-ulp-different double could flip a skyline membership
    a = li.groupBy("l_suppkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
        )
        .cast("double")
        .alias("rev"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )
    t = a.select(
        F.col("rev").alias("t_rev"), F.col("avg_disc").alias("t_disc")
    )
    dominated = (
        (F.col("t_rev") >= F.col("rev"))
        & (F.col("t_disc") <= F.col("avg_disc"))
        & ((F.col("t_rev") > F.col("rev")) | (F.col("t_disc") < F.col("avg_disc")))
    )
    return a.join(t, dominated, "left_anti").orderBy("l_suppkey")


# ---------------------------------------------------------------------------
# a0106 (ex-a0179) — Pareto skyline via the per-block sort-scan rule. The skyline
# (maximal vectors) operator of multi-criteria optimization: parts not
# dominated on (price low, size high) within their brand. Formulated
# as the deterministic sort-scan: order by (price asc, size desc,
# partkey) per brand, keep a row iff its size strictly exceeds every
# earlier row's size (running max over the preceding frame). One
# partitioned window, no self-join — the O(n log n) skyline algorithm
# relationally, sharded by brand.
# ---------------------------------------------------------------------------


@query(
    "a0106_pareto_skyline",
    oracle="""
    WITH r AS (SELECT p_brand, p_partkey, p_retailprice, p_size,
                      MAX(p_size) OVER (PARTITION BY p_brand
                                        ORDER BY p_retailprice, p_size DESC, p_partkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
               FROM part),
    sky AS (SELECT * FROM r WHERE mx IS NULL OR p_size > mx)
    SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_skyline,
           ROUND(MIN(p_retailprice), 2) AS cheapest,
           ROUND(MAX(p_retailprice), 2) AS priciest,
           CAST(MAX(p_size) AS BIGINT) AS max_size,
           CAST(MIN(p_partkey) AS BIGINT) AS first_part
    FROM sky GROUP BY p_brand ORDER BY p_brand
    """,
    description="Pareto skyline (maximal-vector) operator: parts not dominated on (retailprice low, size high) within their brand, via the O(n log n) sort-scan rule — one window PARTITIONED by brand ordered (price asc, size desc, partkey), keep rows whose size strictly exceeds the running max of all preceding rows; no self-join, no quadratic candidate generation, shards by block at any scale; per-brand skyline size and price/size envelope pinned",
)
def a0106_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    w = (
        Window.partitionBy("p_brand")
        .orderBy(F.col("p_retailprice"), F.col("p_size").desc(), F.col("p_partkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = p.select(
        "p_brand", "p_partkey", "p_retailprice", "p_size", F.max("p_size").over(w).alias("mx")
    )
    sky = r.filter(F.col("mx").isNull() | (F.col("p_size") > F.col("mx")))
    return (
        sky.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_skyline"),
            F.round(F.min("p_retailprice"), 2).alias("cheapest"),
            F.round(F.max("p_retailprice"), 2).alias("priciest"),
            F.max("p_size").cast("long").alias("max_size"),
            F.min("p_partkey").alias("first_part"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# a0093 — market-basket association rules over orders: baskets are the
# distinct part BRANDS in one order (lineitem ⋈ broadcast part),
# candidate pairs come from a basket self-join keyed on the order (pair
# count bounded by basket size, never all-pairs over items), and the
# classic support / confidence / lift table is produced for both rule
# directions. Scale shape: one shuffle on l_orderkey for the pair
# explode, one 625-row-max aggregate, broadcast item counts — at 100 TB
# the pair stage stays proportional to Σ basket² with basket ≤ ~13.
# ---------------------------------------------------------------------------

_AR_MIN_SUPPORT = 0.01
_AR_TOP = 15


# Scale rule (100 TB): min-support is the pruning knob: the candidate
# frame after the support filter is what pair-explodes, so at 100 TB
# support rises (or the per-basket tail-slice cap tightens) to hold
# candidate volume; the basket collect_set is degree-capped by
# construction.
@query(
    "a0093_association_rules",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    tot AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM baskets),
    items AS (SELECT brand, COUNT(*) AS n_item FROM baskets GROUP BY brand),
    pairs AS (
      SELECT a.brand AS b1, b.brand AS b2, COUNT(*) AS n_pair
      FROM baskets a JOIN baskets b ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY a.brand, b.brand
    ),
    rules AS (
      SELECT b1 AS antecedent, b2 AS consequent, n_pair FROM pairs
      UNION ALL
      SELECT b2, b1, n_pair FROM pairs
    )
    SELECT r.antecedent, r.consequent,
           CAST(r.n_pair AS BIGINT) AS n_both,
           ROUND(r.n_pair * 1.0 / t.n_orders, 6) AS support,
           ROUND(r.n_pair * 1.0 / ia.n_item, 6) AS confidence,
           ROUND(r.n_pair * 1.0 * t.n_orders / (ia.n_item * ic.n_item), 6) AS lift
    FROM rules r
    JOIN items ia ON r.antecedent = ia.brand
    JOIN items ic ON r.consequent = ic.brand
    CROSS JOIN tot t
    WHERE r.n_pair * 1.0 / t.n_orders >= {_AR_MIN_SUPPORT}
    ORDER BY lift DESC, antecedent, consequent
    LIMIT {_AR_TOP}
    """,
    description=f"market-basket association rules (the data-mining classic): baskets = distinct part brands per order, candidate pairs from an order-keyed basket self-join (bounded by basket size, never item all-pairs), support/confidence/lift for both rule directions, min-support {_AR_MIN_SUPPORT}, top-{_AR_TOP} by lift with full tiebreak; item counts broadcast, single orderkey shuffle — Σ basket² work at any scale",
)
def a0093_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ONE shuffle: group each order's distinct brands into a sorted array;
    # pair generation is then ROW-LOCAL (posexplode + tail slice), never a
    # basket self-join — the q128 co-occurrence lesson; interleaved A/B at
    # sf1.0: 4.3s -> 2.7s median, identical results
    baskets = (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .groupBy("okey")
        .agg(F.array_sort(F.collect_set("brand")).alias("bs"))
        .localCheckpoint(eager=False)
    )
    tot = baskets.select(F.count("*").alias("n_orders"))
    items = baskets.select(F.explode("bs").alias("brand")).groupBy("brand").agg(
        F.count("*").alias("n_item")
    )
    pairs = (
        baskets.select(F.posexplode("bs").alias("i", "b1"), "bs")
        .select("b1", F.explode(F.slice("bs", F.col("i") + 2, F.size("bs"))).alias("b2"))
        .groupBy("b1", "b2")
        .agg(F.count("*").alias("n_pair"))
    )
    rules = pairs.select(
        F.col("b1").alias("antecedent"), F.col("b2").alias("consequent"), "n_pair"
    ).unionAll(
        pairs.select(F.col("b2").alias("antecedent"), F.col("b1").alias("consequent"), "n_pair")
    )
    ia = items.select(F.col("brand").alias("antecedent"), F.col("n_item").alias("n_a"))
    ic = items.select(F.col("brand").alias("consequent"), F.col("n_item").alias("n_c"))
    return (
        rules.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_pair") * 1.0 / F.col("n_orders") >= _AR_MIN_SUPPORT)
        .select(
            "antecedent",
            "consequent",
            F.col("n_pair").cast("long").alias("n_both"),
            F.round(F.col("n_pair") * 1.0 / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("n_pair") * 1.0 / F.col("n_a"), 6).alias("confidence"),
            F.round(F.col("n_pair") * 1.0 * F.col("n_orders") / (F.col("n_a") * F.col("n_c")), 6).alias(
                "lift"
            ),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(_AR_TOP)
    )


# ---------------------------------------------------------------------------
# a0100 — grid-density clustering (DENCLUE-style mode seeking on a CLIQUE
# grid): project embeddings onto their first two coordinates, lay a 16×16
# equal-width grid over the data range (broadcast 1-row min/max), call a
# cell dense at count ≥ 3, point each dense cell at the densest cell in
# its 3×3 neighborhood (ties → lowest cell id), and resolve each cell's
# attractor by pointer DOUBLING — 8 rounds of self-joins compose next^256,
# enough for any monotone climb on ≤256 cells (each non-fixpoint hop
# strictly increases (density, −id), so paths can't cycle). Clusters are
# the attractor fixpoints; sparse cells are noise. Every join after the
# one groupBy runs on the ≤256-row CELL frame, never on points.
# ---------------------------------------------------------------------------

_GRID = 16
_GRID_MINPTS = 3


# Scale rule (100 TB): the cell width h is the knob and it is RESOLUTION,
# not cost: the cell frame is bounded by grid extent (~(range/h)^2), so
# CC and mode-seeking never touch data-sized frames (a0002 generalizes
# this to the level-set hierarchy).
@query(
    "a0100_grid_density_clusters",
    oracle=f"""
    WITH pts AS (
      SELECT embedding[1] AS e0, embedding[2] AS e1 FROM embeddings
    ),
    rng AS (SELECT MIN(e0) AS mn0, MAX(e0) AS mx0, MIN(e1) AS mn1, MAX(e1) AS mx1 FROM pts),
    cells AS (
      SELECT LEAST({_GRID - 1}, CAST(FLOOR((e0 - mn0) / ((mx0 - mn0) / {_GRID})) AS BIGINT)) AS gx,
             LEAST({_GRID - 1}, CAST(FLOOR((e1 - mn1) / ((mx1 - mn1) / {_GRID})) AS BIGINT)) AS gy,
             COUNT(*) AS cnt
      FROM pts CROSS JOIN rng GROUP BY 1, 2
    ),
    dense AS (SELECT gx * {_GRID} + gy AS cell_id, gx, gy, cnt FROM cells WHERE cnt >= {_GRID_MINPTS}),
    nxt AS (
      SELECT c, n FROM (
        SELECT a.cell_id AS c, b.cell_id AS n,
               ROW_NUMBER() OVER (PARTITION BY a.cell_id ORDER BY b.cnt DESC, b.cell_id ASC) AS rk
        FROM dense a JOIN dense b
          ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1
      ) WHERE rk = 1
    ),
    j1 AS (SELECT l.c, r.n FROM nxt l JOIN nxt r ON l.n = r.c),
    j2 AS (SELECT l.c, r.n FROM j1 l JOIN j1 r ON l.n = r.c),
    j3 AS (SELECT l.c, r.n FROM j2 l JOIN j2 r ON l.n = r.c),
    j4 AS (SELECT l.c, r.n FROM j3 l JOIN j3 r ON l.n = r.c),
    j5 AS (SELECT l.c, r.n FROM j4 l JOIN j4 r ON l.n = r.c),
    j6 AS (SELECT l.c, r.n FROM j5 l JOIN j5 r ON l.n = r.c),
    j7 AS (SELECT l.c, r.n FROM j6 l JOIN j6 r ON l.n = r.c),
    j8 AS (SELECT l.c, r.n FROM j7 l JOIN j7 r ON l.n = r.c),
    labeled AS (
      SELECT d.cell_id, j.n AS cluster, d.cnt FROM dense d JOIN j8 j ON d.cell_id = j.c
    ),
    clusters AS (
      SELECT l.cluster AS cluster_cell, COUNT(*) AS n_cells, SUM(l.cnt) AS n_points,
             MAX(p.cnt) AS peak_density
      FROM labeled l JOIN dense p ON l.cluster = p.cell_id
      GROUP BY l.cluster
    ),
    noise AS (
      SELECT CAST(-1 AS BIGINT), COUNT(*), COALESCE(SUM(cnt), 0), COALESCE(MAX(cnt), 0)
      FROM cells WHERE cnt < {_GRID_MINPTS}
    )
    SELECT CAST(cluster_cell AS BIGINT) AS cluster_cell, CAST(n_cells AS BIGINT) AS n_cells,
           CAST(n_points AS BIGINT) AS n_points, CAST(peak_density AS BIGINT) AS peak_density
    FROM (SELECT * FROM clusters UNION ALL SELECT * FROM noise)
    ORDER BY cluster_cell
    """,
    description=f"grid-density clustering (DENCLUE mode seeking on a CLIQUE {_GRID}×{_GRID} grid) over the first two embedding coordinates: equal-width cells from a broadcast min/max frame, dense = count ≥ {_GRID_MINPTS}, each dense cell points at its densest 3×3 neighbor (tie → lowest id), attractors resolved by pointer-DOUBLING self-joins until no pointer moves (at most 8 doublings = next^256, provably past any monotone climb on ≤256 cells, plus the round that confirms it); per-cluster cell/point/peak counts plus a noise row — after the single point-level groupBy every operation runs on the bounded cell frame",
)
def a0100_grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding")[0].alias("e0"), F.col("embedding")[1].alias("e1")
    )
    cells = (
        equal_width_cells(emb, _GRID)
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    dense = cells.filter(F.col("cnt") >= _GRID_MINPTS).select(
        (F.col("cx") * _GRID + F.col("cy")).alias("cell_id"), "cx", "cy", "cnt"
    ).localCheckpoint(eager=False)
    # a bounded build: <= 9 rows per cell of the 16x16 grid
    nb = neighbor_cells(dense).select(
        "cx", "cy", F.col("cell_id").alias("b_id"), F.col("cnt").alias("b_cnt")
    )
    nxt = (
        dense.join(F.broadcast(nb), ["cx", "cy"])
        .groupBy(F.col("cell_id").alias("c"))
        # lexicographic max of (cnt, -cell_id) = densest neighbor, tie -> lowest id
        .agg(F.max(F.struct("b_cnt", (-F.col("b_id")).alias("neg")))["neg"].alias("n"))
        .select("c", (-F.col("n")).alias("n"))
        .localCheckpoint(eager=False)
    )

    def double(f: DataFrame) -> tuple[DataFrame, int]:
        l, r = f.alias("l"), f.alias("r")
        f2 = (
            l.join(r, F.col("l.n") == F.col("r.c"))
            .select(
                F.col("l.c").alias("c"),
                F.col("r.n").alias("n"),
                (F.col("r.n") != F.col("l.n")).alias("moved"),
            )
            .localCheckpoint(eager=False)
        )
        return f2.select("c", "n"), f2.filter(F.col("moved")).count()

    # next^(2^8) is past any monotone climb on <=256 cells, so the 9th
    # doubling at the latest moves no pointer
    f = fixpoint(nxt, double, 9, "grid attractor doubling")
    labeled = dense.join(f, dense["cell_id"] == f["c"]).select(
        F.col("n").alias("cluster"), "cnt"
    )
    peaks = dense.select(F.col("cell_id").alias("cluster"), F.col("cnt").alias("pcnt"))
    clusters = (
        labeled.groupBy("cluster")
        .agg(F.count("*").alias("n_cells"), F.sum("cnt").alias("n_points"))
        .join(F.broadcast(peaks), "cluster")
        .select(
            F.col("cluster").cast("long").alias("cluster_cell"),
            F.col("n_cells").cast("long").alias("n_cells"),
            F.col("n_points").cast("long").alias("n_points"),
            F.col("pcnt").cast("long").alias("peak_density"),
        )
    )
    noise = cells.filter(F.col("cnt") < _GRID_MINPTS).agg(
        F.lit(-1).cast("long").alias("cluster_cell"),
        F.count("*").cast("long").alias("n_cells"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_points"),
        F.coalesce(F.max("cnt"), F.lit(0)).cast("long").alias("peak_density"),
    )
    return clusters.unionByName(noise).orderBy("cluster_cell")


# ---------------------------------------------------------------------------
# a0053 — Apriori frequent TRIPLE itemsets with level-2 candidate
# pruning (the step a0093 stops short of, and the part of Apriori that
# actually embodies its insight): L2 = brand pairs with support ≥ s,
# triple candidates are generated within baskets ONLY where all three
# constituent pairs are in L2 (downward-closure prune via three
# broadcast semi-joins), then counted and thresholded at the same s.
# Pair/triple generation stays order-keyed (Σ basket³ with basket ≤
# ~13, never item all-pairs), and the L2 prune is what keeps the
# candidate space collapsed at 100 TB.
# ---------------------------------------------------------------------------

_AP3_SUPPORT = 0.003
_AP3_TOP = 15


@query(
    "a0053_apriori_triples",
    # Oracle note: the L2 prune is RESULT-INVARIANT (downward closure —
    # support(triple) <= support(any sub-pair), and both levels use the
    # same threshold), so the oracle counts triples directly and
    # thresholds; the Spark side keeps the explicit L2 candidate prune,
    # which is the operator being demonstrated (it changes the work, not
    # the answer). DuckDB's planner also chokes on the 3-way l2 join
    # form, so the equivalent direct form doubles as the stable oracle.
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    tot AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM baskets),
    triples AS (
      SELECT a.brand AS b1, b.brand AS b2, c.brand AS b3, COUNT(*) AS n_triple
      FROM baskets a
      JOIN baskets b ON a.okey = b.okey AND a.brand < b.brand
      JOIN baskets c ON a.okey = c.okey AND b.brand < c.brand
      GROUP BY 1, 2, 3
      HAVING COUNT(*) >= (SELECT n_orders FROM tot) * {_AP3_SUPPORT}
    )
    SELECT b1, b2, b3, CAST(n_triple AS BIGINT) AS n_triple,
           ROUND(n_triple * 1.0 / t.n_orders, 6) AS support
    FROM triples CROSS JOIN tot t
    ORDER BY n_triple DESC, b1, b2, b3
    LIMIT {_AP3_TOP}
    """,
    description=f"Apriori frequent triple itemsets with downward-closure pruning: L2 = brand pairs at support ≥ {_AP3_SUPPORT}, triples generated order-keyed within baskets and kept ONLY when all three constituent pairs are in L2 (three broadcast semi-join prunes — the candidate-space collapse that IS Apriori), same-threshold triple support, top-{_AP3_TOP} with tie-free order; Σ basket³ work bounded by basket size, never item all-pairs",
)
def a0053_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ONE shuffle: sorted distinct-brand array per order; pair AND triple
    # generation are ROW-LOCAL tail-slice explodes over the array (the
    # q128/a0093 co-occurrence layout) — no basket self-joins at all
    baskets = (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .groupBy("okey")
        .agg(F.array_sort(F.collect_set("brand")).alias("bs"))
        .localCheckpoint(eager=False)
    )
    tot = baskets.select(F.count("*").alias("n_orders"))
    l2 = (
        baskets.select(F.posexplode("bs").alias("i", "b1"), "bs")
        .select("b1", F.explode(F.slice("bs", F.col("i") + 2, F.size("bs"))).alias("b2"))
        .groupBy("b1", "b2")
        .agg(F.count("*").alias("n_pair"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_pair") >= F.col("n_orders") * _AP3_SUPPORT)
        .select("b1", "b2")
        .localCheckpoint(eager=False)
    )
    cand = (
        baskets.select(F.posexplode("bs").alias("i", "t1"), "bs")
        .select("t1", F.posexplode(F.slice("bs", F.col("i") + 2, F.size("bs"))).alias("j", "t2"), F.col("i"), "bs")
        .select(
            "t1",
            "t2",
            F.explode(F.slice("bs", F.col("i") + F.col("j") + 3, F.size("bs"))).alias("t3"),
        )
    )
    for x, y in (("t1", "t2"), ("t1", "t3"), ("t2", "t3")):
        l2r = l2.select(F.col("b1").alias(f"_{x}"), F.col("b2").alias(f"_{y}"))
        cand = cand.join(
            F.broadcast(l2r), (F.col(x) == F.col(f"_{x}")) & (F.col(y) == F.col(f"_{y}")), "left_semi"
        )
    return (
        cand.groupBy(
            F.col("t1").alias("b1"), F.col("t2").alias("b2"), F.col("t3").alias("b3")
        )
        .agg(F.count("*").alias("n_triple"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_triple") >= F.col("n_orders") * _AP3_SUPPORT)
        .select(
            "b1",
            "b2",
            "b3",
            F.col("n_triple").cast("long").alias("n_triple"),
            F.round(F.col("n_triple") * 1.0 / F.col("n_orders"), 6).alias("support"),
        )
        .orderBy(F.desc("n_triple"), "b1", "b2", "b3")
        .limit(_AP3_TOP)
    )


# ---------------------------------------------------------------------------
# a0054 — item-item collaborative filtering (the classic neighborhood
# recommender): each brand's profile is its per-customer purchase-count
# vector; brand-brand cosine = Σ_c cnt(c,b1)·cnt(c,b2) / (‖b1‖‖b2‖).
# The dot products come from the shard-by-user basket layout, round-12
# packed-long edition: brands are int-encoded through the broadcast part
# join BEFORE the orderkey shuffle (payload shrinks from strings to
# ints), ONE groupBy(cust) collects the raw sorted index list, and the
# (brand, cnt) run-length encoding happens ROW-LOCALLY as packed longs
# (idx << 40 | cnt — primitive long arrays through sort/slice/explode,
# no struct boxing). Co-rated pairs then explode via the q128/a0093
# tail-slice idiom (bounded by Σ_c brands_c², brands_c ≤ 25,
# map-side-combined into ~300 brand-pair groups, no self-join shuffle);
# norms re-derive from the same checkpointed baskets; index→brand
# mapping returns at the 300-row tail as a literal-array element_at.
# Integer dot products and IEEE sqrt keep the cosine engine-exact at 6
# decimals. Interleaved A/B at sf1.0 (warm median): packed 2.6 s vs
# struct-RLE 3.1 s vs r11 two-shuffle struct layout 3.2 s vs pivoted
# 625-expression Gram aggregate 12.8 s (falls out of codegen). Floor:
# the 3-way join ALONE (od⋈li⋈pt, count) is 1.0 s at sf1.0 — equal to
# DuckDB's entire query wall — so the residual ratio is exchange cost on
# the data-grown fact join, not plan shape; see BENCH_FLOOR.
# ---------------------------------------------------------------------------

_CF_TOP = 15


@query(
    "a0054_itemitem_cf",
    oracle=f"""
    WITH cb AS (
      SELECT o.o_custkey AS cust, p.p_brand AS brand, COUNT(*) AS cnt
      FROM orders o
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    norms AS (SELECT brand, sqrt(SUM(cnt * cnt)) AS nrm FROM cb GROUP BY brand),
    pairs AS (
      SELECT a.brand AS b1, b.brand AS b2,
             SUM(a.cnt * b.cnt) AS dot, COUNT(*) AS n_users
      FROM cb a JOIN cb b ON a.cust = b.cust AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT p.b1, p.b2, CAST(p.n_users AS BIGINT) AS n_users,
           CAST(p.dot AS BIGINT) AS dot,
           ROUND(p.dot / (n1.nrm * n2.nrm), 6) AS cosine
    FROM pairs p JOIN norms n1 ON p.b1 = n1.brand JOIN norms n2 ON p.b2 = n2.brand
    ORDER BY p.dot / (n1.nrm * n2.nrm) DESC, p.b1, p.b2
    LIMIT {_CF_TOP}
    """,
    description=f"item-item collaborative filtering: brand-brand cosine over per-customer purchase-count vectors — brands int-encoded below the fact join (shuffle payload ints, not strings), ONE groupBy(cust) collects the sorted index list, (brand,cnt) run-length encodes row-locally as packed longs (idx<<40|cnt, primitive arrays through the tail-slice pair explode — bounded by Σ per-customer brand-set², never item all-pairs, no self-join shuffle), norms re-derived from the same checkpointed baskets, top-{_CF_TOP} most similar brand pairs with tie-free order; integer dots + IEEE sqrt keep the cosine engine-exact",
)
def a0054_itemitem_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # bounded catalog collect (~25 brands by spec): the index map keeps
    # every shuffle payload primitive; strings return only at the tail
    brands = sorted(r[0] for r in pt.select("p_brand").distinct().collect())
    bmap = F.create_map(*[x for i, b in enumerate(brands) for x in (F.lit(b), F.lit(i))])
    barr = F.array(*[F.lit(b) for b in brands])
    libi = li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey")).select(
        "l_orderkey", bmap[F.col("p_brand")].cast("long").alias("bi")
    )
    rows = od.join(libi, F.col("o_orderkey") == F.col("l_orderkey")).select(
        F.col("o_custkey").alias("cust"), "bi"
    )
    raw = rows.groupBy("cust").agg(F.sort_array(F.collect_list("bi")).alias("raw"))
    # row-local RLE into packed longs: cnt < 2^40 by construction (a
    # customer's purchase count), idx < 25 — sort order == brand order
    _PK = F.lit(1 << 40)
    baskets = raw.select(
        F.transform(
            F.array_distinct("raw"),
            lambda b: b * _PK + F.size(F.filter(F.col("raw"), lambda y: y == b)).cast("long"),
        ).alias("bs")
    ).localCheckpoint(eager=False)
    _CM = F.lit((1 << 40) - 1)
    norms = (
        baskets.select(F.explode("bs").alias("s"))
        .groupBy(F.shiftright("s", 40).alias("bi"))
        # integer square + BIGINT sum (exact, order-free), sqrt once
        .agg(
            F.sqrt(
                F.sum(F.col("s").bitwiseAND(_CM) * F.col("s").bitwiseAND(_CM))
            ).alias("nrm")
        )
        .select(F.element_at(barr, (F.col("bi") + 1).cast("int")).alias("brand"), "nrm")
    )
    pairs = (
        baskets.select(F.posexplode("bs").alias("i", "s1"), "bs")
        .select("s1", F.explode(F.slice("bs", F.col("i") + 2, F.size("bs"))).alias("s2"))
        .groupBy(F.shiftright("s1", 40).alias("i1"), F.shiftright("s2", 40).alias("i2"))
        .agg(
            F.sum(F.col("s1").bitwiseAND(_CM) * F.col("s2").bitwiseAND(_CM)).alias("dot"),
            F.count("*").alias("n_users"),
        )
        .select(
            F.element_at(barr, (F.col("i1") + 1).cast("int")).alias("b1"),
            F.element_at(barr, (F.col("i2") + 1).cast("int")).alias("b2"),
            "dot",
            "n_users",
        )
    )
    n1 = norms.select(F.col("brand").alias("b1"), F.col("nrm").alias("nrm1"))
    n2 = norms.select(F.col("brand").alias("b2"), F.col("nrm").alias("nrm2"))
    cos = F.col("dot") / (F.col("nrm1") * F.col("nrm2"))
    return (
        pairs.join(F.broadcast(n1), "b1")
        .join(F.broadcast(n2), "b2")
        .orderBy(cos.desc(), "b1", "b2")
        .limit(_CF_TOP)
        .select(
            "b1",
            "b2",
            F.col("n_users").cast("long").alias("n_users"),
            F.col("dot").cast("long").alias("dot"),
            F.round(cos, 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# a0056 — MDLP supervised split selection (Fayyad & Irani 1993, the
# criterion behind entropy-based discretization in every classic DM
# toolkit): candidate cuts are the 63 boundaries of a 64-bucket
# equi-width histogram of document length, the class is the document
# language, and for each cut the information gain and the MDL
# acceptance threshold (log2(n−1) + log2(3^k−2) − kH + k_l H_l + k_r
# H_r)/n are computed from per-(bucket,lang) cumulative counts — a
# 64×|langs| bounded frame, so the whole search is one contingency
# aggregate plus window algebra over it. Top-5 cuts by gain.
# ---------------------------------------------------------------------------

_MDLP_BUCKETS = 64
_MDLP_TOP = 5


@query(
    "a0056_mdlp_split",
    oracle=f"""
    WITH rng AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM documents),
    cont AS (
      SELECT LEAST({_MDLP_BUCKETS - 1},
                   CAST(FLOOR((n_chars - mn) * {_MDLP_BUCKETS}.0 / (mx - mn + 1)) AS BIGINT))
               AS bucket,
             lang, COUNT(*) AS cnt
      FROM documents CROSS JOIN rng GROUP BY 1, 2
    ),
    langs AS (SELECT lang, SUM(cnt) AS n_lang FROM cont GROUP BY lang),
    shell AS (
      SELECT CAST(b AS BIGINT) AS bucket, lang, n_lang
      FROM (SELECT unnest(generate_series(0, {_MDLP_BUCKETS - 1})) AS b) CROSS JOIN langs
    ),
    cum AS (
      SELECT s.bucket, s.lang, s.n_lang,
             SUM(COALESCE(c.cnt, 0)) OVER (PARTITION BY s.lang ORDER BY s.bucket) AS cl
      FROM shell s LEFT JOIN cont c ON s.bucket = c.bucket AND s.lang = c.lang
    ),
    tot AS (
      SELECT SUM(n_lang) AS n,
             -SUM((n_lang * 1.0 / (SELECT SUM(n_lang) FROM langs))
                  * log2(n_lang * 1.0 / (SELECT SUM(n_lang) FROM langs))) AS h_all,
             COUNT(*) AS k
      FROM langs
    ),
    pre AS (
      SELECT bucket, cl, n_lang - cl AS crr,
             SUM(cl) OVER (PARTITION BY bucket) AS snl,
             SUM(n_lang - cl) OVER (PARTITION BY bucket) AS snr
      FROM cum WHERE bucket < {_MDLP_BUCKETS - 1}
    ),
    per_t AS (
      SELECT bucket AS t, MAX(snl) AS nl, MAX(snr) AS nr,
             SUM(CASE WHEN cl > 0 THEN 1 ELSE 0 END) AS kl,
             SUM(CASE WHEN crr > 0 THEN 1 ELSE 0 END) AS kr,
             -SUM(CASE WHEN cl > 0 THEN (cl * 1.0 / snl) * log2(cl * 1.0 / snl)
                       ELSE 0 END) AS hl,
             -SUM(CASE WHEN crr > 0 THEN (crr * 1.0 / snr) * log2(crr * 1.0 / snr)
                       ELSE 0 END) AS hr
      FROM pre GROUP BY bucket
    ),
    scored AS (
      SELECT p.t, p.nl, p.nr,
             t2.h_all - (p.nl * 1.0 / t2.n) * p.hl - (p.nr * 1.0 / t2.n) * p.hr AS gain,
             (log2(t2.n - 1.0)
              + log2(power(3.0, t2.k) - 2.0)
              - (t2.k * t2.h_all - p.kl * p.hl - p.kr * p.hr)) / t2.n AS mdl_thr
      FROM per_t p CROSS JOIN tot t2
      WHERE p.nl > 0 AND p.nr > 0
    )
    SELECT CAST(t AS BIGINT) AS t, CAST(nl AS BIGINT) AS n_left,
           CAST(nr AS BIGINT) AS n_right, ROUND(gain, 6) AS gain,
           ROUND(mdl_thr, 6) AS mdl_threshold,
           CAST(CASE WHEN gain > mdl_thr THEN 1 ELSE 0 END AS BIGINT) AS accepted
    FROM scored
    ORDER BY gain DESC, t
    LIMIT {_MDLP_TOP}
    """,
    description=f"MDLP supervised split selection (Fayyad-Irani): {_MDLP_BUCKETS}-bucket equi-width histogram of document length vs language class, per-cut information gain and the MDL acceptance threshold (log2(n−1)+log2(3^k−2)−kH+k_lH_l+k_rH_r)/n from per-(bucket,lang) cumulative counts — the entire split search is one contingency aggregate plus window algebra over the bounded {_MDLP_BUCKETS}×|langs| frame; top-{_MDLP_TOP} cuts by gain with the accept/reject verdict",
)
def a0056_mdlp_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("n_chars", "lang")
    rng = docs.agg(F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx"))
    cont = (
        docs.crossJoin(F.broadcast(rng))
        .groupBy(
            F.least(
                F.lit(_MDLP_BUCKETS - 1),
                F.floor(
                    (F.col("n_chars") - F.col("mn"))
                    * float(_MDLP_BUCKETS)
                    / (F.col("mx") - F.col("mn") + 1)
                ),
            )
            .cast("long")
            .alias("bucket"),
            "lang",
        )
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    langs = cont.groupBy("lang").agg(F.sum("cnt").alias("n_lang"))
    shell = (
        spark.range(_MDLP_BUCKETS)
        .select(F.col("id").cast("long").alias("bucket"))
        .crossJoin(F.broadcast(langs))
    )
    wcum = Window.partitionBy("lang").orderBy("bucket")
    cum = (
        shell.join(cont, ["bucket", "lang"], "left")
        .select("bucket", "lang", "n_lang", F.coalesce("cnt", F.lit(0)).alias("cnt"))
        .withColumn("cl", F.sum("cnt").over(wcum))
        .localCheckpoint(eager=False)
    )
    n_total = F.sum("n_lang")
    tot = langs.agg(
        n_total.alias("n"), F.count("*").alias("k"), F.collect_list("n_lang").alias("_nl")
    ).select(
        "n",
        "k",
        (
            -F.aggregate(
                F.col("_nl"),
                F.lit(0.0),
                lambda acc, c: acc + (c / F.col("n")) * F.log2(c / F.col("n")),
            )
        ).alias("h_all"),
    )
    # per-candidate-cut entropies over the bounded (bucket x lang) frame
    wt = Window.partitionBy("bucket")
    cr = F.col("n_lang") - F.col("cl")
    per_t = (
        cum.filter(F.col("bucket") < _MDLP_BUCKETS - 1)
        .withColumn("snl", F.sum("cl").over(wt))
        .withColumn("snr", F.sum(cr).over(wt))
        .groupBy(F.col("bucket").alias("t"))
        .agg(
            F.first("snl").alias("nl"),
            F.first("snr").alias("nr"),
            F.sum(F.when(F.col("cl") > 0, 1).otherwise(0)).alias("kl"),
            F.sum(F.when(cr > 0, 1).otherwise(0)).alias("kr"),
            (
                -F.sum(
                    F.when(
                        F.col("cl") > 0,
                        (F.col("cl") / F.col("snl")) * F.log2(F.col("cl") / F.col("snl")),
                    ).otherwise(0.0)
                )
            ).alias("hl"),
            (
                -F.sum(
                    F.when(cr > 0, (cr / F.col("snr")) * F.log2(cr / F.col("snr"))).otherwise(0.0)
                )
            ).alias("hr"),
        )
    )
    gain = F.col("h_all") - (F.col("nl") / F.col("n")) * F.col("hl") - (
        F.col("nr") / F.col("n")
    ) * F.col("hr")
    mdl_thr = (
        F.log2(F.col("n") - 1.0)
        + F.log2(F.pow(F.lit(3.0), F.col("k")) - 2.0)
        - (F.col("k") * F.col("h_all") - F.col("kl") * F.col("hl") - F.col("kr") * F.col("hr"))
    ) / F.col("n")
    return (
        per_t.crossJoin(F.broadcast(tot))
        .filter((F.col("nl") > 0) & (F.col("nr") > 0))
        .select(
            F.col("t").cast("long").alias("t"),
            F.col("nl").cast("long").alias("n_left"),
            F.col("nr").cast("long").alias("n_right"),
            F.round(gain, 6).alias("gain"),
            F.round(mdl_thr, 6).alias("mdl_threshold"),
            F.when(gain > mdl_thr, 1).otherwise(0).cast("long").alias("accepted"),
        )
        .orderBy(F.desc("gain"), "t")
        .limit(_MDLP_TOP)
    )


# ---------------------------------------------------------------------------
# a0057 — RFM customer segmentation (the marketing-analytics classic):
# per-customer Recency (days since last order), Frequency (#orders),
# Monetary (cents-rounded spend), each scored 1–5 against exact
# interpolated quintile edges computed in ONE percentile aggregate
# (recency reversed — recent = 5), segment = the 3-digit RFM code.
# Edge membership is "count of edges ≤ x" (the a0158 rule — never an
# ntile over the customer table). Top-20 segments by size with the
# dust-free average spend (ROUND(SUM,2)/n, rounded at 6).
# ---------------------------------------------------------------------------

_RFM_TOP = 20
_RFM_QS = [0.2, 0.4, 0.6, 0.8]


@query(
    "a0057_rfm_segments",
    oracle=f"""
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
    cust AS (
      SELECT o_custkey,
             date_diff('day', MAX(CAST(o_orderdate AS DATE)), (SELECT mxd FROM mx)) AS r,
             COUNT(*) AS f,
             ROUND(SUM(o_totalprice), 2) AS m
      FROM orders GROUP BY o_custkey
    ),
    edges AS (
      SELECT quantile_cont(r, {_RFM_QS}) AS re,
             quantile_cont(f, {_RFM_QS}) AS fe,
             quantile_cont(m, {_RFM_QS}) AS me
      FROM cust
    ),
    scored AS (
      SELECT 5 - len(list_filter(re, e -> e <= r)) AS rs,
             1 + len(list_filter(fe, e -> e <= f)) AS fs,
             1 + len(list_filter(me, e -> e <= m)) AS ms,
             m
      FROM cust CROSS JOIN edges
    )
    SELECT CAST(rs AS VARCHAR) || CAST(fs AS VARCHAR) || CAST(ms AS VARCHAR) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(ROUND(SUM(m), 2) / COUNT(*), 6) AS avg_monetary
    FROM scored
    GROUP BY 1
    ORDER BY n_customers DESC, segment
    LIMIT {_RFM_TOP}
    """,
    description=f"RFM customer segmentation: per-customer recency/frequency/monetary scored 1-5 against exact interpolated quintile edges from ONE percentile aggregate (recency reversed), segment = 3-digit RFM code, membership = count-of-edges≤x (the a0158 scale rule — never ntile over the customer table), top-{_RFM_TOP} segments by size with dust-free average spend",
)
def a0057_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    mx = od.agg(F.max(F.col("o_orderdate").cast("date")).alias("mxd"))
    cust = (
        od.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("mxd"), F.max(F.col("o_orderdate").cast("date"))).alias("r"),
            F.count("*").alias("f"),
            F.round(F.sum("o_totalprice"), 2).alias("m"),
        )
        .localCheckpoint(eager=False)
    )
    qs = ", ".join(str(q) for q in _RFM_QS)
    edges = cust.agg(
        F.expr(f"percentile(r, array({qs}))").alias("re"),
        F.expr(f"percentile(f, array({qs}))").alias("fe"),
        F.expr(f"percentile(m, array({qs}))").alias("me"),
    )
    scored = cust.crossJoin(F.broadcast(edges)).select(
        (5 - F.size(F.filter(F.col("re"), lambda e: e <= F.col("r")))).alias("rs"),
        (1 + F.size(F.filter(F.col("fe"), lambda e: e <= F.col("f")))).alias("fs"),
        (1 + F.size(F.filter(F.col("me"), lambda e: e <= F.col("m")))).alias("ms"),
        "m",
    )
    return (
        scored.groupBy(
            F.concat(
                F.col("rs").cast("string"), F.col("fs").cast("string"), F.col("ms").cast("string")
            ).alias("segment")
        )
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.round(F.sum("m"), 2) / F.count("*"), 6).alias("avg_monetary"),
        )
        .orderBy(F.desc("n_customers"), "segment")
        .limit(_RFM_TOP)
    )


# ---------------------------------------------------------------------------
# a0058 — CART variance-reduction split finding (the regression twin of
# a0056's MDLP, and the inner loop of every gradient-boosted tree): for
# a 64-bucket equi-width histogram of l_quantity, accumulate the
# sufficient statistics (n, Σy, Σy²) of l_extendedprice per bucket,
# cumulative-sum them over the BUCKET frame, and score every candidate
# cut by SSE reduction gain(t) = SSE_tot − SSE_left(t) − SSE_right(t),
# each SSE from the closed form Σy² − (Σy)²/n. One data-level
# aggregate; the split search is window algebra over ≤64 rows — exactly
# how distributed GBT implementations (including Spark ML's) find
# splits from histogram bins rather than sorted data.
# ---------------------------------------------------------------------------

_CART_BUCKETS = 64
_CART_TOP = 5


@query(
    "a0058_cart_split",
    oracle=f"""
    WITH rng AS (SELECT MIN(l_quantity) AS mn, MAX(l_quantity) AS mx FROM lineitem),
    hist AS (
      SELECT LEAST({_CART_BUCKETS - 1},
                   CAST(FLOOR((l_quantity - mn) * {_CART_BUCKETS}.0 / (mx - mn + 1)) AS BIGINT))
               AS bucket,
             COUNT(*) AS n, SUM(l_extendedprice) AS sy,
             SUM(l_extendedprice * l_extendedprice) AS sy2
      FROM lineitem CROSS JOIN rng GROUP BY 1
    ),
    tot AS (
      SELECT SUM(n) AS nt, SUM(sy) AS syt, SUM(sy2) AS sy2t,
             SUM(sy2) - SUM(sy) * SUM(sy) / SUM(n) AS sse_tot
      FROM hist
    ),
    cum AS (
      SELECT bucket,
             SUM(n) OVER w AS nl, SUM(sy) OVER w AS syl, SUM(sy2) OVER w AS sy2l
      FROM hist
      WINDOW w AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
    ),
    scored AS (
      SELECT c.bucket AS t, c.nl, t2.nt - c.nl AS nr,
             t2.sse_tot
               - (c.sy2l - c.syl * c.syl / c.nl)
               - ((t2.sy2t - c.sy2l) - (t2.syt - c.syl) * (t2.syt - c.syl) / (t2.nt - c.nl))
               AS gain
      FROM cum c CROSS JOIN tot t2
      WHERE c.nl > 0 AND t2.nt - c.nl > 0
    )
    SELECT CAST(t AS BIGINT) AS t, CAST(nl AS BIGINT) AS n_left,
           CAST(nr AS BIGINT) AS n_right,
           ROUND(gain / (SELECT sse_tot FROM tot), 6) AS gain_share
    FROM scored
    ORDER BY gain DESC, t
    LIMIT {_CART_TOP}
    """,
    description=f"CART variance-reduction split finding (the inner loop of distributed GBTs): {_CART_BUCKETS}-bucket histogram of l_quantity carrying (n, Σy, Σy²) of l_extendedprice, cumulative sufficient statistics over the bounded bucket frame, every cut scored by SSE reduction via the closed form Σy²−(Σy)²/n, top-{_CART_TOP} splits by gain share — split search as window algebra over histogram bins, never over sorted data",
)
def a0058_cart_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    rng = li.agg(F.min("l_quantity").alias("mn"), F.max("l_quantity").alias("mx"))
    hist = (
        li.crossJoin(F.broadcast(rng))
        .groupBy(
            F.least(
                F.lit(_CART_BUCKETS - 1),
                F.floor(
                    (F.col("l_quantity") - F.col("mn"))
                    * float(_CART_BUCKETS)
                    / (F.col("mx") - F.col("mn") + 1)
                ),
            )
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("l_extendedprice").alias("sy"),
            F.sum(F.col("l_extendedprice") * F.col("l_extendedprice")).alias("sy2"),
        )
        .localCheckpoint(eager=False)
    )
    tot = hist.agg(
        F.sum("n").alias("nt"),
        F.sum("sy").alias("syt"),
        F.sum("sy2").alias("sy2t"),
        (F.sum("sy2") - F.sum("sy") * F.sum("sy") / F.sum("n")).alias("sse_tot"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bucket",
        F.sum("n").over(w).alias("nl"),
        F.sum("sy").over(w).alias("syl"),
        F.sum("sy2").over(w).alias("sy2l"),
    )
    nr = F.col("nt") - F.col("nl")
    gain = (
        F.col("sse_tot")
        - (F.col("sy2l") - F.col("syl") * F.col("syl") / F.col("nl"))
        - (
            (F.col("sy2t") - F.col("sy2l"))
            - (F.col("syt") - F.col("syl")) * (F.col("syt") - F.col("syl")) / nr
        )
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter((F.col("nl") > 0) & (nr > 0))
        .select(
            F.col("bucket").cast("long").alias("t"),
            F.col("nl").cast("long").alias("n_left"),
            nr.cast("long").alias("n_right"),
            F.round(gain / F.col("sse_tot"), 6).alias("gain_share"),
        )
        .orderBy(F.desc(gain), "t")
        .limit(_CART_TOP)
    )


# ---------------------------------------------------------------------------
# a0060 — three unrolled EM iterations for a 1-D two-component Gaussian
# mixture over document lengths: deterministic init (μ = exact 25th/75th
# percentiles, σ² = var_pop, π = ½), then per round one E-step
# projection (responsibilities from the component densities) and one
# M-step aggregate (closed-form π, μ, σ² from Σr, Σrx, Σrx²) — the
# canonical "EM at scale" shape: model state is a broadcast 1-row frame,
# each iteration is ONE pass, nothing is collected. Log-likelihood
# reported per component row to expose the fit.
# ---------------------------------------------------------------------------

_EM_ROUNDS = 3


def _em_oracle() -> str:
    prev = "init"
    rounds = []
    for r in range(1, _EM_ROUNDS + 1):
        rounds.append(f"""
    e{r} AS (
      SELECT x,
             (pi2 * exp(-(x - mu2) * (x - mu2) / (2 * s2b)) / sqrt(2 * pi() * s2b))
             / ((1 - pi2) * exp(-(x - mu1) * (x - mu1) / (2 * s2a)) / sqrt(2 * pi() * s2a)
                + pi2 * exp(-(x - mu2) * (x - mu2) / (2 * s2b)) / sqrt(2 * pi() * s2b)) AS r2,
             (1 - pi2) * exp(-(x - mu1) * (x - mu1) / (2 * s2a)) / sqrt(2 * pi() * s2a)
                + pi2 * exp(-(x - mu2) * (x - mu2) / (2 * s2b)) / sqrt(2 * pi() * s2b) AS lik
      FROM d CROSS JOIN {prev}
    ),
    m{r} AS (
      SELECT SUM(r2) / COUNT(*) AS pi2,
             SUM((1 - r2) * x) / SUM(1 - r2) AS mu1,
             SUM(r2 * x) / SUM(r2) AS mu2,
             SUM((1 - r2) * x * x) / SUM(1 - r2)
               - (SUM((1 - r2) * x) / SUM(1 - r2)) * (SUM((1 - r2) * x) / SUM(1 - r2)) AS s2a,
             SUM(r2 * x * x) / SUM(r2)
               - (SUM(r2 * x) / SUM(r2)) * (SUM(r2 * x) / SUM(r2)) AS s2b,
             SUM(ln(lik)) AS loglik
      FROM e{r}
    )""")
        prev = f"m{r}"
    return f"""
    WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents),
    init AS (
      SELECT 0.5 AS pi2, quantile_cont(x, 0.25) AS mu1, quantile_cont(x, 0.75) AS mu2,
             var_pop(x) AS s2a, var_pop(x) AS s2b, 0.0 AS loglik
      FROM d
    ),{",".join(rounds)}
    SELECT CAST(1 AS BIGINT) AS component, ROUND(1 - pi2, 6) AS pi,
           ROUND(mu1, 4) AS mu, ROUND(s2a, 2) AS sigma2, ROUND(loglik, 4) AS loglik
    FROM m{_EM_ROUNDS}
    UNION ALL
    SELECT CAST(2 AS BIGINT), ROUND(pi2, 6), ROUND(mu2, 4), ROUND(s2b, 2), ROUND(loglik, 4)
    FROM m{_EM_ROUNDS}
    ORDER BY component
    """


# Scale rule (100 TB): component count is a domain constant (model
# order): responsibilities are one broadcast-parameter pass (N x k work),
# the M-step a k-bounded aggregate — same shape rule as a0070.
@query(
    "a0060_em_gmm_step",
    oracle=_em_oracle(),
    description=f"{_EM_ROUNDS} unrolled EM iterations for a 1-D two-component Gaussian mixture over document lengths (deterministic init: μ from exact quartiles, σ²=var_pop, π=½): each round is one E-step projection against the broadcast 1-row parameter frame plus one closed-form M-step aggregate (π, μ, σ² from Σr, Σrx, Σrx²) — the canonical distributed-EM shape (state broadcast, one pass per iteration, no collect); final parameters + log-likelihood per component",
)
def a0060_em_gmm_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("n_chars").cast("double").alias("x"))
        .localCheckpoint(eager=False)
    )
    params = d.agg(
        F.lit(0.5).alias("pi2"),
        F.expr("percentile(x, 0.25)").alias("mu1"),
        F.expr("percentile(x, 0.75)").alias("mu2"),
        F.var_pop("x").alias("s2a"),
        F.var_pop("x").alias("s2b"),
        F.lit(0.0).alias("loglik"),
    ).localCheckpoint(eager=False)
    two_pi = 2.0 * 3.141592653589793
    for _ in range(_EM_ROUNDS):
        n1 = (
            (1 - F.col("pi2"))
            * F.exp(-(F.col("x") - F.col("mu1")) * (F.col("x") - F.col("mu1")) / (2 * F.col("s2a")))
            / F.sqrt(two_pi * F.col("s2a"))
        )
        n2 = (
            F.col("pi2")
            * F.exp(-(F.col("x") - F.col("mu2")) * (F.col("x") - F.col("mu2")) / (2 * F.col("s2b")))
            / F.sqrt(two_pi * F.col("s2b"))
        )
        e = d.crossJoin(F.broadcast(params)).select(
            "x", (n2 / (n1 + n2)).alias("r2"), (n1 + n2).alias("lik")
        )
        r1 = 1 - F.col("r2")
        params = e.agg(
            (F.sum("r2") / F.count("*")).alias("pi2"),
            (F.sum(r1 * F.col("x")) / F.sum(r1)).alias("mu1"),
            (F.sum(F.col("r2") * F.col("x")) / F.sum("r2")).alias("mu2"),
            (
                F.sum(r1 * F.col("x") * F.col("x")) / F.sum(r1)
                - (F.sum(r1 * F.col("x")) / F.sum(r1)) * (F.sum(r1 * F.col("x")) / F.sum(r1))
            ).alias("s2a"),
            (
                F.sum(F.col("r2") * F.col("x") * F.col("x")) / F.sum("r2")
                - (F.sum(F.col("r2") * F.col("x")) / F.sum("r2"))
                * (F.sum(F.col("r2") * F.col("x")) / F.sum("r2"))
            ).alias("s2b"),
            F.sum(F.log("lik")).alias("loglik"),
        ).localCheckpoint(eager=False)
    one = params.select(
        F.lit(1).cast("long").alias("component"),
        F.round(1 - F.col("pi2"), 6).alias("pi"),
        F.round("mu1", 4).alias("mu"),
        F.round("s2a", 2).alias("sigma2"),
        F.round("loglik", 4).alias("loglik"),
    )
    two = params.select(
        F.lit(2).cast("long").alias("component"),
        F.round("pi2", 6).alias("pi"),
        F.round("mu2", 4).alias("mu"),
        F.round("s2b", 2).alias("sigma2"),
        F.round("loglik", 4).alias("loglik"),
    )
    return one.unionByName(two).orderBy("component")


# ---------------------------------------------------------------------------
# a0061 — PCA via one covariance pass + MATRIX SQUARING: the 4×4
# covariance matrix of the first four embedding coordinates comes from
# ONE covar_pop aggregate (the only data pass); the dominant eigenvector
# is then extracted by squaring the (trace-normalized) matrix 8 times —
# C^256 — and applying it to a generic start vector. Squaring doubles
# the power per round (vs +1 for vanilla power iteration), so even the
# near-isotropic spectrum of random embeddings converges to machine
# precision in 8 rounds of bounded 1-row matrix algebra; the per-round
# trace normalization stops λ^2^k underflow. Output: first PC loadings
# (sign-fixed), eigenvalue v'Cv, and explained-variance share.
# ---------------------------------------------------------------------------

_PCA_DIMS = 4
_PCA_SQUARINGS = 8  # C^(2^8): (lambda2/lambda1)^256 kills even tiny eigengaps


def _pca_oracle() -> str:
    D = _PCA_DIMS
    covs = ",\n             ".join(
        f"covar_pop(e{i}, e{j}) AS c{i}{j}" for i in range(D) for j in range(D) if i <= j
    )

    def m(pfx, i, j):
        return f"{pfx}{min(i, j)}{max(i, j)}"

    trace0 = " + ".join(f"c{i}{i}" for i in range(D))
    init = ", ".join(
        f"c{i}{j} / ({trace0}) AS m{i}{j}" for i in range(D) for j in range(D) if i <= j
    )
    rounds = []
    for r in range(1, _PCA_SQUARINGS + 1):
        prods = ", ".join(
            " + ".join(f"{m('m', i, k)} * {m('m', k, j)}" for k in range(D)) + f" AS q{i}{j}"
            for i in range(D)
            for j in range(D)
            if i <= j
        )
        tq = " + ".join(f"q{i}{i}" for i in range(D))
        norm = ", ".join(
            f"q{i}{j} / ({tq}) AS m{i}{j}" for i in range(D) for j in range(D) if i <= j
        )
        rounds.append(
            f"""
    q{r} AS (SELECT *, {prods} FROM sq{r - 1}),
    sq{r} AS (SELECT {", ".join(f"c{i}{j}" for i in range(D) for j in range(D) if i <= j)}, {norm} FROM q{r})"""
        )
    uraw = ", ".join(
        " + ".join(f"{m('m', i, j)} * 0.5" for j in range(D)) + f" AS u{i}" for i in range(D)
    )
    unrm = " + ".join(f"u{i} * u{i}" for i in range(D))
    vs = ", ".join(f"u{i} / sqrt({unrm}) AS v{i}" for i in range(D))
    lam = " + ".join(
        f"v{i} * ({' + '.join(f'{m(chr(99), i, j)} * v{j}' for j in range(D))})" for i in range(D)
    )
    dims_rows = "\n    UNION ALL ".join(
        f"SELECT {i} AS dim, sgn * v{i} AS loading, lam, shr FROM fin" for i in range(D)
    )
    return f"""
    WITH mom AS (
      SELECT {covs}
      FROM (SELECT embedding[1] AS e0, embedding[2] AS e1,
                   embedding[3] AS e2, embedding[4] AS e3 FROM embeddings)
    ),
    sq0 AS (SELECT *, {init} FROM mom),{",".join(rounds)},
    uv AS (SELECT *, {uraw} FROM sq{_PCA_SQUARINGS}),
    vv AS (SELECT *, {vs} FROM uv),
    fin AS (
      SELECT v0, v1, v2, v3,
             CASE WHEN v0 < 0 THEN -1.0 ELSE 1.0 END AS sgn,
             {lam} AS lam,
             ({lam}) / ({trace0}) AS shr
      FROM vv
    )
    SELECT CAST(dim AS BIGINT) AS dim, ROUND(loading, 6) AS loading,
           ROUND(lam, 6) AS eigenvalue, ROUND(shr, 6) AS explained_share
    FROM ({dims_rows})
    ORDER BY dim
    """


# Scale rule (100 TB): rounds are log-bounded by construction (trace-
# normalized matrix SQUARING: 8 squarings = C^256) and the only data-
# sized stage is the one covariance aggregate; d x d frames are
# dimension-bounded.
@query(
    "a0061_pca_power",
    oracle=_pca_oracle(),
    description=f"PCA via one covariance pass + matrix squaring: {_PCA_DIMS}×{_PCA_DIMS} covar_pop matrix from ONE aggregate (the only data pass), dominant eigenvector from C^(2^{_PCA_SQUARINGS}) built by {_PCA_SQUARINGS} trace-normalized squarings over the 1-row moment frame (squaring doubles the power per round, so near-isotropic spectra still converge to machine precision; normalization stops underflow); first PC loadings sign-fixed at v0 ≥ 0, eigenvalue v'Cv, explained share of trace — iteration touches bounded state, never data",
)
def a0061_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    D = _PCA_DIMS
    emb = load_table(spark, sf_dir, "embeddings").select(
        *[F.col("embedding")[i].alias(f"e{i}") for i in range(D)]
    )
    # ONE data pass: the d x d covariance aggregate. Everything after it
    # is arithmetic over 10 scalars, so it runs DRIVER-SIDE (r14): the
    # former in-plan squaring chain re-selected the 1-row frame 16 times,
    # needed two eager localCheckpoint jobs just to cap Catalyst analysis
    # cost, and fanned the output through a 4-branch union — 3+ jobs and
    # ~3 s of floor for what is 4x4 matrix math on bounded state (the
    # guide's "driver does no DATA work" rule cuts the other way here:
    # this is not data work). Python floats are IEEE doubles and every
    # sum below keeps the exact left-to-right operand order of the old
    # column expressions AND the DuckDB oracle, so the values are
    # bit-identical; the 6-dp rounding still happens in Spark (HALF_UP,
    # matching DuckDB ROUND — Python round() is banker's and never used).
    row = emb.agg(
        *[
            F.covar_pop(f"e{i}", f"e{j}").alias(f"c{i}{j}")
            for i in range(D)
            for j in range(D)
            if i <= j
        ]
    ).collect()[0]
    c = {}
    for i in range(D):
        for j in range(D):
            if i <= j:
                c[(i, j)] = float(row[f"c{i}{j}"])

    def cc(i, j):
        return c[(min(i, j), max(i, j))]

    trace0 = sum((cc(i, i) for i in range(1, D)), cc(0, 0))
    m = {
        (i, j): cc(i, j) / trace0 for i in range(D) for j in range(D) if i <= j
    }

    def mm(i, j):
        return m[(min(i, j), max(i, j))]

    for _ in range(_PCA_SQUARINGS):
        q = {
            (i, j): sum((mm(i, k) * mm(k, j) for k in range(1, D)), mm(i, 0) * mm(0, j))
            for i in range(D)
            for j in range(D)
            if i <= j
        }
        tq = sum((q[(i, i)] for i in range(1, D)), q[(0, 0)])
        m = {k: v / tq for k, v in q.items()}
    u = [
        sum((mm(i, j) * 0.5 for j in range(1, D)), mm(i, 0) * 0.5) for i in range(D)
    ]

    unrm = math.sqrt(sum((u[i] * u[i] for i in range(1, D)), u[0] * u[0]))
    v = [u[i] / unrm for i in range(D)]
    lam = sum(
        (
            v[i] * sum((cc(i, j) * v[j] for j in range(1, D)), cc(i, 0) * v[0])
            for i in range(1, D)
        ),
        v[0] * sum((cc(0, j) * v[j] for j in range(1, D)), cc(0, 0) * v[0]),
    )
    sgn = -1.0 if v[0] < 0 else 1.0
    shr = lam / trace0
    out = spark.createDataFrame(
        [(i, sgn * v[i], lam, shr) for i in range(D)],
        "dim long, loading double, eigenvalue double, explained_share double",
    )
    return out.select(
        "dim",
        F.round("loading", 6).alias("loading"),
        F.round("eigenvalue", 6).alias("eigenvalue"),
        F.round("explained_share", 6).alias("explained_share"),
    ).orderBy("dim")


# ---------------------------------------------------------------------------
# a0062 — distance-based outlier detection (Knorr-Ng DB(ε, minpts)
# outliers), grid-blocked and EXACT: points on the first two embedding
# coordinates, a 16×16 equal-width grid, ε = min(cell width, cell
# height) — so every ε-neighbor provably lies in the 3×3 cell
# neighborhood and the blocked pair join loses nothing. A point is an
# outlier when fewer than 3 other points sit within ε. The pair stage
# is the same bounded block join the dedup/ANN family uses — never
# all-pairs — and the weakest-neighborhood points are reported.
# ---------------------------------------------------------------------------

_DO_GRID = 16
_DO_MINPTS = 3
_DO_TOP = 20


# Scale rule (100 TB): each point's candidates are the 9 cells around
# it, never all pairs, but the join is exact and so quadratic within a
# cell: the 16×16 grid has a fixed ~188 occupied cells at any scale, so
# 10x the points gives ~100x the join rows (0.39M at sf0.1, 38.5M on the
# sf1 replica). No per-cell cap bounds it; a cap would break exactness.
@query(
    "a0062_distance_outliers",
    oracle=f"""
    WITH pts AS (
      SELECT vec_id, embedding[1] AS e0, embedding[2] AS e1 FROM embeddings
    ),
    rng AS (
      SELECT MIN(e0) AS mn0, MAX(e0) AS mx0, MIN(e1) AS mn1, MAX(e1) AS mx1,
             LEAST((MAX(e0) - MIN(e0)) / {_DO_GRID},
                   (MAX(e1) - MIN(e1)) / {_DO_GRID}) AS eps
      FROM pts
    ),
    cells AS (
      SELECT vec_id, e0, e1, eps,
             LEAST({_DO_GRID - 1},
                   CAST(FLOOR((e0 - mn0) / ((mx0 - mn0) / {_DO_GRID})) AS BIGINT)) AS gx,
             LEAST({_DO_GRID - 1},
                   CAST(FLOOR((e1 - mn1) / ((mx1 - mn1) / {_DO_GRID})) AS BIGINT)) AS gy
      FROM pts CROSS JOIN rng
    ),
    nbr AS (
      SELECT a.vec_id, COUNT(b.vec_id) AS n_neighbors
      FROM cells a LEFT JOIN cells b
        ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1
       AND a.vec_id <> b.vec_id
       AND (a.e0 - b.e0) * (a.e0 - b.e0) + (a.e1 - b.e1) * (a.e1 - b.e1)
           <= a.eps * a.eps
      GROUP BY a.vec_id
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(n_neighbors AS BIGINT) AS n_neighbors,
           CAST(CASE WHEN n_neighbors < {_DO_MINPTS} THEN 1 ELSE 0 END AS BIGINT)
             AS is_outlier
    FROM nbr
    ORDER BY n_neighbors, vec_id
    LIMIT {_DO_TOP}
    """,
    description=f"distance-based outlier detection (Knorr-Ng DB(ε,{_DO_MINPTS})), grid-blocked and EXACT: {_DO_GRID}×{_DO_GRID} grid over the first two embedding coordinates with ε = min cell dimension, so every ε-neighbor provably lies in the 3×3 neighborhood and the blocked pair join is lossless; outlier = fewer than {_DO_MINPTS} points within ε, top-{_DO_TOP} weakest neighborhoods — the same bounded block-join shape as the dedup/ANN family, never all-pairs",
)
def a0062_distance_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding")[0].alias("e0"), F.col("embedding")[1].alias("e1")
    )
    cells = equal_width_cells(pts, _DO_GRID).localCheckpoint(eager=False)
    # the neighbour side is data-sized (9 rows per point): no broadcast
    b = neighbor_cells(cells).select(
        "cx", "cy", F.col("vec_id").alias("b_id"), F.col("e0").alias("b0"), F.col("e1").alias("b1")
    )
    d2 = (F.col("e0") - F.col("b0")) * (F.col("e0") - F.col("b0")) + (
        F.col("e1") - F.col("b1")
    ) * (F.col("e1") - F.col("b1"))
    # every point meets itself in its own cell, so the LEFT join keeps
    # each point and the count alone decides who is a neighbour
    nbr = (
        cells.join(b, ["cx", "cy"], "left")
        .groupBy("vec_id")
        .agg(
            F.count(
                F.when((F.col("b_id") != F.col("vec_id")) & (d2 <= F.col("eps") * F.col("eps")), 1)
            ).alias("n_neighbors")
        )
    )
    return (
        nbr.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("n_neighbors").cast("long").alias("n_neighbors"),
            F.when(F.col("n_neighbors") < _DO_MINPTS, 1).otherwise(0).cast("long").alias("is_outlier"),
        )
        .orderBy("n_neighbors", "vec_id")
        .limit(_DO_TOP)
    )


# ---------------------------------------------------------------------------
# a0063 — multinomial naive Bayes language classifier, trained AND
# scored distributed: deterministic md5 train/test split, training =
# ONE (lang, token) count aggregate + Laplace smoothing over the train
# vocabulary, scoring = explode test tokens (with multiplicity) against
# the broadcast class frame, left-join the count table for
# ln((c+1)/(tot+V)), sum per (doc, class), argmax with tie-break. The
# confusion matrix is the output — and on THIS corpus it honestly shows
# the lang labels are not text-derivable (shared vocabulary), which is
# exactly what a label-leakage audit should surface. Same tokenizer as
# the rest of the text stack (operators/text.py tokens()).
# ---------------------------------------------------------------------------


@query(
    "a0063_naive_bayes_langid",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' AS is_train,
             unnest(list_filter(string_split_regex(regexp_replace(lower(text),
                    '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '')) AS tok
      FROM documents
    ),
    counts AS (
      SELECT lang, tok, COUNT(*) AS c FROM toks WHERE is_train GROUP BY lang, tok
    ),
    cls AS (
      SELECT lang, SUM(c) AS tot FROM counts GROUP BY lang
    ),
    vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM counts),
    priors AS (
      SELECT lang, COUNT(DISTINCT doc_id) AS n_docs,
             ln(COUNT(DISTINCT doc_id) * 1.0
                / (SELECT COUNT(DISTINCT doc_id) FROM toks WHERE is_train)) AS lp
      FROM toks WHERE is_train GROUP BY lang
    ),
    test_docs AS (SELECT DISTINCT doc_id, lang AS true_lang FROM toks WHERE NOT is_train),
    tok_scores AS (
      SELECT t.doc_id, cl.lang,
             SUM(ln((COALESCE(c.c, 0) + 1.0) / (cl.tot + v.v))) AS ts
      FROM toks t
      CROSS JOIN cls cl
      CROSS JOIN vocab v
      LEFT JOIN counts c ON c.lang = cl.lang AND c.tok = t.tok
      WHERE NOT t.is_train
      GROUP BY t.doc_id, cl.lang
    ),
    scored AS (
      SELECT d.doc_id, d.true_lang, p.lang AS pred,
             p.lp + COALESCE(s.ts, 0.0) AS score
      FROM test_docs d
      CROSS JOIN priors p
      LEFT JOIN tok_scores s ON s.doc_id = d.doc_id AND s.lang = p.lang
    ),
    best AS (
      SELECT doc_id, true_lang, pred FROM (
        SELECT doc_id, true_lang, pred,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, pred DESC) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT true_lang, pred AS pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM best GROUP BY true_lang, pred
    ORDER BY true_lang, pred_lang
    """,
    description="multinomial naive Bayes language classifier trained and scored distributed: deterministic md5 train/test split, training = one (lang, token) count aggregate with Laplace smoothing over the train vocabulary, scoring = test-token explode against the broadcast class frame + left-join log-likelihoods + per-(doc,class) sum + tie-broken argmax; output = test confusion matrix — which on this shared-vocabulary corpus honestly exposes that lang labels are NOT text-derivable (a label-leakage audit); same tokenizer as the whole text stack",
)
def a0063_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8").alias("is_train"),
        F.explode(X.tokens("text")).alias("tok"),
    ).localCheckpoint(eager=False)
    train = docs.filter(F.col("is_train"))
    counts = train.groupBy("lang", "tok").agg(F.count("*").alias("c")).localCheckpoint(eager=False)
    cls = counts.groupBy("lang").agg(F.sum("c").alias("tot"))
    vocab = counts.agg(F.countDistinct("tok").alias("v"))
    n_train_docs = train.select("doc_id").distinct().count()  # 1 scalar, driver-safe
    priors = (
        train.groupBy("lang")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .select("lang", F.log(F.col("n_docs") * 1.0 / n_train_docs).alias("lp"))
    )
    test = docs.filter(~F.col("is_train"))
    test_docs = test.select("doc_id", F.col("lang").alias("true_lang")).distinct()
    clsx = cls.crossJoin(F.broadcast(vocab)).select(
        F.col("lang").alias("c_lang"), "tot", "v"
    )
    cnt = counts.select(F.col("lang").alias("k_lang"), F.col("tok").alias("k_tok"), "c")
    tok_scores = (
        test.crossJoin(F.broadcast(clsx))
        .join(
            F.broadcast(cnt),
            (F.col("c_lang") == F.col("k_lang")) & (F.col("tok") == F.col("k_tok")),
            "left",
        )
        .groupBy("doc_id", "c_lang")
        .agg(
            F.sum(F.log((F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (F.col("tot") + F.col("v"))))
            .alias("ts")
        )
        # rename: tok_scores derives from the same docs scan as test_docs,
        # so keep no shared attribute names across the upcoming join
        .select(F.col("doc_id").alias("s_did"), F.col("c_lang").alias("s_lang"), "ts")
    )
    pr = priors.select(F.col("lang").alias("pred"), "lp")
    scored = (
        test_docs.crossJoin(F.broadcast(pr))
        .join(
            tok_scores,
            (F.col("doc_id") == F.col("s_did")) & (F.col("pred") == F.col("s_lang")),
            "left",
        )
        .select(
            F.col("doc_id").alias("did"),
            "true_lang",
            "pred",
            (F.col("lp") + F.coalesce(F.col("ts"), F.lit(0.0))).alias("score"),
        )
    )
    best = (
        scored.groupBy("did", "true_lang")
        .agg(F.max(F.struct(F.col("score"), F.col("pred")))["pred"].alias("pred_lang"))
    )
    return (
        best.groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# a0066 — logistic regression by unrolled Newton-Raphson (IRLS), the
# GLM counterpart of a0060's EM: y = (lang = 'en') on the z-scored
# document length, 6 Newton steps, each ONE pass computing the exact
# gradient (Σ(y−p), Σ(y−p)x) and Hessian (Σw, Σwx, Σwx², w = p(1−p))
# against the broadcast 2-parameter frame, with the closed-form 2×2
# solve inline. Output: MLE coefficients, log-likelihood, and
# McFadden's pseudo-R² against the base-rate null — distributed IRLS
# with bounded state and zero collects.
# ---------------------------------------------------------------------------

_LOGIT_STEPS = 6


def _logit_oracle() -> str:
    prev = "p0"
    rounds = []
    for r in range(1, _LOGIT_STEPS + 1):
        rounds.append(f"""
    e{r} AS (
      SELECT y, x, 1.0 / (1.0 + exp(-(b0 + b1 * x))) AS p
      FROM d CROSS JOIN {prev}
    ),
    s{r} AS (
      SELECT SUM(y - p) AS g0, SUM((y - p) * x) AS g1,
             SUM(p * (1 - p)) AS h00, SUM(p * (1 - p) * x) AS h01,
             SUM(p * (1 - p) * x * x) AS h11,
             SUM(CASE WHEN y = 1 THEN ln(p) ELSE ln(1 - p) END) AS ll
      FROM e{r}
    ),
    p{r} AS (
      SELECT pp.b0 + (s.h11 * s.g0 - s.h01 * s.g1) / (s.h00 * s.h11 - s.h01 * s.h01) AS b0,
             pp.b1 + (s.h00 * s.g1 - s.h01 * s.g0) / (s.h00 * s.h11 - s.h01 * s.h01) AS b1,
             s.ll AS ll
      FROM s{r} s CROSS JOIN {prev} pp
    )""")
        prev = f"p{r}"
    return f"""
    WITH raw AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, CAST(n_chars AS DOUBLE) AS v
      FROM documents
    ),
    st AS (SELECT AVG(v) AS mu, stddev_pop(v) AS sd FROM raw),
    d AS (SELECT y, (v - mu) / sd AS x FROM raw CROSS JOIN st),
    p0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS ll),{",".join(rounds)},
    base AS (
      SELECT SUM(y) * ln(SUM(y) * 1.0 / COUNT(*))
             + (COUNT(*) - SUM(y)) * ln(1 - SUM(y) * 1.0 / COUNT(*)) AS ll0,
             CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS n_pos
      FROM d
    )
    SELECT b.n, b.n_pos, ROUND(p.b0, 6) AS b0, ROUND(p.b1, 6) AS b1,
           ROUND(p.ll, 4) AS loglik, ROUND(1 - p.ll / b.ll0, 6) AS mcfadden_r2
    FROM p{_LOGIT_STEPS} p CROSS JOIN base b
    """


# Scale rule (100 TB): Newton steps are fixed by quadratic convergence (3
# suffice at any N since the Hessian is 3x3 — feature-bounded); each step
# is ONE pass computing gradient+Hessian moments.
@query(
    "a0066_logistic_newton",
    oracle=_logit_oracle(),
    description=f"logistic regression by {_LOGIT_STEPS} unrolled Newton-Raphson (IRLS) steps — y=(lang='en') on z-scored document length: each step is ONE pass computing the exact gradient and Hessian sums against the broadcast 2-parameter frame with the closed-form 2×2 solve inline; MLE coefficients, log-likelihood, and McFadden pseudo-R² vs the base-rate null — the distributed-GLM shape (bounded state, zero collects), and a0060's EM sibling",
)
def a0066_logistic_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load_table(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.col("n_chars").cast("double").alias("v"),
    )
    st = raw.agg(F.avg("v").alias("mu"), F.stddev_pop("v").alias("sd"))
    d = (
        raw.crossJoin(F.broadcast(st))
        .select("y", ((F.col("v") - F.col("mu")) / F.col("sd")).alias("x"))
        .localCheckpoint(eager=False)
    )
    params = d.sparkSession.range(1).select(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1"), F.lit(0.0).alias("ll")
    )
    for _ in range(_LOGIT_STEPS):
        p = 1.0 / (1.0 + F.exp(-(F.col("b0") + F.col("b1") * F.col("x"))))
        e = d.crossJoin(F.broadcast(params)).select(
            "y", "x", p.alias("p"), "b0", "b1"
        )
        w = F.col("p") * (1 - F.col("p"))
        s = e.agg(
            F.first("b0").alias("b0"),
            F.first("b1").alias("b1"),
            F.sum(F.col("y") - F.col("p")).alias("g0"),
            F.sum((F.col("y") - F.col("p")) * F.col("x")).alias("g1"),
            F.sum(w).alias("h00"),
            F.sum(w * F.col("x")).alias("h01"),
            F.sum(w * F.col("x") * F.col("x")).alias("h11"),
            F.sum(
                F.when(F.col("y") == 1, F.log("p")).otherwise(F.log(1 - F.col("p")))
            ).alias("ll"),
        )
        det = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
        params = s.select(
            (F.col("b0") + (F.col("h11") * F.col("g0") - F.col("h01") * F.col("g1")) / det).alias("b0"),
            (F.col("b1") + (F.col("h00") * F.col("g1") - F.col("h01") * F.col("g0")) / det).alias("b1"),
            F.col("ll").alias("ll"),
        ).localCheckpoint(eager=False)
    base = d.agg(
        (
            F.sum("y") * F.log(F.sum("y") * 1.0 / F.count("*"))
            + (F.count("*") - F.sum("y")) * F.log(1 - F.sum("y") * 1.0 / F.count("*"))
        ).alias("ll0"),
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    return params.crossJoin(F.broadcast(base)).select(
        "n",
        "n_pos",
        F.round("b0", 6).alias("b0"),
        F.round("b1", 6).alias("b1"),
        F.round("ll", 4).alias("loglik"),
        F.round(1 - F.col("ll") / F.col("ll0"), 6).alias("mcfadden_r2"),
    )


# ---------------------------------------------------------------------------
# a0076 — approximate functional-dependency discovery (the profiling
# pass schema-inference and normalization tooling runs): for each
# candidate FD lhs→rhs, the g3 error = minimum fraction of rows to
# delete for the FD to hold exactly = 1 − Σ_groups max_rhs_count / n.
# Per candidate: one (lhs, rhs) count, one lhs-keyed max — both
# map-side combined; the union of candidates is dimension-sized.
# ---------------------------------------------------------------------------

_FD_CANDIDATES = [
    ("part", "p_brand", "p_type"),
    ("part", "p_name", "p_brand"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("customer", "c_name", "c_mktsegment"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("lineitem", "l_orderkey", "l_returnflag"),
]


def _fd_duck(table: str, lhs: str, rhs: str) -> str:
    return f"""
      SELECT '{lhs}->{rhs}' AS fd,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(mx) AS BIGINT) AS n_keep,
             ROUND(1.0 - SUM(mx) * 1.0 / SUM(cnt), 6) AS g3_error,
             CAST(CASE WHEN SUM(mx) = SUM(cnt) THEN 1 ELSE 0 END AS BIGINT) AS holds
      FROM (
        SELECT lhs, SUM(c) AS cnt, MAX(c) AS mx
        FROM (SELECT {lhs} AS lhs, {rhs} AS rhs, COUNT(*) AS c
              FROM {table} GROUP BY 1, 2)
        GROUP BY lhs
      )
    """


# Scale rule (100 TB): the candidate LIST is the knob (pairs to audit),
# not the data: each FD check is two count-distinct aggregates over the
# fact; at 100 TB prune candidates by column-profile heuristics before
# auditing.
@query(
    "a0076_fd_discovery",
    oracle="\nUNION ALL\n".join(_fd_duck(t, l, r) for t, l, r in _FD_CANDIDATES)
    + "\nORDER BY fd",
    description="approximate functional-dependency discovery over 6 candidate FDs (part/orders/customer/lineitem): g3 error = minimum row fraction to delete for lhs→rhs to hold = 1 − Σ max_rhs_count/n, via one (lhs,rhs) count + one lhs-keyed max per candidate (both map-side combined, union dimension-sized) — the schema-profiling pass normalization and key-inference tooling runs",
)
def a0076_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for table, lhs, rhs in _FD_CANDIDATES:
        t = load_table(spark, sf_dir, table).select(lhs, rhs)
        pair = t.groupBy(F.col(lhs).alias("lhs"), F.col(rhs).alias("rhs")).agg(
            F.count("*").alias("c")
        )
        grp = pair.groupBy("lhs").agg(F.sum("c").alias("cnt"), F.max("c").alias("mx"))
        row = grp.agg(
            F.lit(f"{lhs}->{rhs}").alias("fd"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_groups"),
            F.sum("mx").cast("long").alias("n_keep"),
            F.round(1.0 - F.sum("mx") * 1.0 / F.sum("cnt"), 6).alias("g3_error"),
            F.when(F.sum("mx") == F.sum("cnt"), 1).otherwise(0).cast("long").alias("holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fd")


# ---------------------------------------------------------------------------
# a0083 — one batch-gradient step of rank-1 matrix factorization
# (Funk-SVD) on the (customer, brand) implicit-rating matrix r =
# ln(1 + dollars): from uniform init p=q=0.1, the summed-gradient
# updates p' = p + lr(Σ_i e·q − reg·p), q' = q + lr(Σ_u e·p − reg·q)
# (parallel update, both against OLD factors — order-independent, so
# the step is pure relational algebra: two keyed aggregates + two
# joins). Factors are rounded to 6 dp BEFORE the post-step RMSE so the
# audit is engine-stable; the RMSE itself rounds at 4 dp (see the
# oracle note — the sf1.0 value sits on a 6-dp knife edge). Spark-side
# the brand factor is a literal 25-slot array and the user factor
# folds into one u-keyed aggregate via the rank-1 expansion.
# ---------------------------------------------------------------------------

_MF_LR = 0.05
_MF_REG = 0.02
_MF_INIT = 0.1
_MF_TOP = 10


@query(
    "a0083_mf_gradient_step",
    oracle=f"""
    WITH ratings AS (
      SELECT o_custkey AS u, p_brand AS b,
             round(ln(1.0 + CAST(ROUND(SUM(l_extendedprice) * 100, 0) AS BIGINT) / 100.0), 6) AS r
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                  JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ),
    e0 AS (SELECT u, b, r, r - {_MF_INIT} * {_MF_INIT} AS e FROM ratings),
    p1 AS (SELECT u, round({_MF_INIT} + {_MF_LR} * (SUM(e * {_MF_INIT}) - {_MF_REG} * {_MF_INIT}), 6) AS p
           FROM e0 GROUP BY u),
    q1 AS (SELECT b, round({_MF_INIT} + {_MF_LR} * (SUM(e * {_MF_INIT}) - {_MF_REG} * {_MF_INIT}), 6) AS q,
                  CAST(COUNT(*) AS BIGINT) AS n_ratings
           FROM e0 GROUP BY b),
    m AS (
      -- rmse rounded 4 dp, not 6: the exact sf1.0 value lands ~1e-10
      -- from a 6-dp .5 boundary, so ANY summation-order change (either
      -- engine's parallel agg) flips the last digit; reassociation
      -- drift is ~6e-11 here, invisible at 4 dp
      SELECT round(sqrt(AVG(e0.e * e0.e)), 4) AS rmse_before,
             round(sqrt(AVG((e0.r - p1.p * q1.q) * (e0.r - p1.p * q1.q))), 4) AS rmse_after
      FROM e0 JOIN p1 USING (u) JOIN q1 USING (b)
    )
    SELECT b AS brand, n_ratings, ROUND(q, 6) AS q_new, m.rmse_before, m.rmse_after
    FROM q1 CROSS JOIN m
    ORDER BY q_new DESC, brand
    LIMIT {_MF_TOP}
    """,
    description=f"one batch-gradient Funk-SVD step (rank-1) on the (customer, brand) implicit-rating matrix r = ln(1+dollars): summed gradients p' = p + lr(Σe·q − reg·p), q' likewise against OLD factors — order-independent, so the step is pure keyed algebra: ONE raw-row repartition(u) feeds the rating agg, the 25-slot literal brand-factor array, and a single u-keyed aggregate that folds p and the rank-1-expanded post-step RMSE together (no window, no join-back); factors rounded 6 dp, RMSE 4 dp (6-dp knife edge at sf1.0); top-{_MF_TOP} brands by updated factor",
)
def a0083_mf_gradient_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-13 reshape (interleaved A/B at sf1.0, one session: r12 plan
    # 3.35 s -> 2.53 s warm; same-run floor decomposition: the 3-way
    # fact join alone 0.88 s, + ratings agg 1.83 s, DuckDB total
    # 0.62 s): (1) brands int-encode and prices become EXACT cent longs
    # BELOW the orderkey shuffle (r12, kept); (2) the post-join rows
    # repartition(u) ONCE and the rating agg runs complete-mode on that
    # partitioning — groupBy(u, bi) and the factor/RMSE agg over u are
    # BOTH satisfied by hash(u), so one raw-row exchange replaces the
    # r12 chain of agg-exchange(u, bi) + window-exchange(u) (measured
    # 0.65 s faster than the combine-then-re-exchange shape, and it
    # removes the 2.5M-key partial hash maps — the a0103 sf10 OOM
    # class); (3) q is a 25-row collect, so it attaches as a LITERAL
    # array lookup (no broadcast join), and p_u + the after-step error
    # fold into the SAME groupBy(u) via the rank-1 expansion
    # sum((r - p*q)^2) = sum(r^2) - 2*p*sum(r*q) + p^2*sum(q^2) —
    # no window, no checkpoint, no join-back. The expansion reorders
    # float sums (~6e-11 drift), which is why rmse rounds at 4 dp on
    # both sides: the sf1.0 exact value sits ~1e-10 from a 6-dp .5
    # boundary and ANY parallel-agg order flips it (see oracle note).
    # At 100 TB the knob is none — every stage is keyed by u or bi and
    # the one exchange is input-sized; the 25-row q collect is
    # catalog-bounded by spec.
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # bounded catalog collect (~25 brands by spec), same as a0054
    brands = sorted(r[0] for r in part.select("p_brand").distinct().collect())
    bmap = F.create_map(*[x for i, b in enumerate(brands) for x in (F.lit(b), F.lit(i))])
    barr = F.array(*[F.lit(b) for b in brands])
    libi = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_orderkey",
        bmap[F.col("p_brand")].cast("int").alias("bi"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    # size the u-exchange by input bytes (~8 MiB/partition — the
    # maxPartitionBytes signal, a0103's sf10 lesson): the complete-mode
    # agg's hash state is (u, bi)-count-sized, and a fixed 32-way width
    # would put ~19M keys in one task's map at sf10 (the local-mode OOM
    # class). repartition(N, u) still satisfies every downstream
    # clustering — same single shuffle, wider at scale.
    import os as _os

    try:
        _bytes = _os.path.getsize(_os.path.join(sf_dir, "lineitem.parquet"))
    except OSError:
        _bytes = 0
    n_part = max(32, min(1024, _bytes // (8 << 20)))
    ratings = (
        libi.join(orders, libi.l_orderkey == orders.o_orderkey)
        .repartition(n_part, F.col("o_custkey"))
        .groupBy(F.col("o_custkey").alias("u"), "bi")
        .agg(F.round(F.log(1.0 + F.sum("cents") / 100.0), 6).alias("r"))
        .localCheckpoint(eager=False)  # q pass + u pass reuse it
    )
    e = F.col("r") - _MF_INIT * _MF_INIT
    q1_rows = (
        ratings.groupBy("bi")
        .agg(
            F.round(
                _MF_INIT + _MF_LR * (F.sum(e * _MF_INIT) - _MF_REG * _MF_INIT), 6
            ).alias("q"),
            F.count("*").cast("long").alias("n_ratings"),
        )
        .collect()
    )
    qv = [0.0] * len(brands)
    for row in q1_rows:
        qv[row["bi"]] = row["q"]
    qarr = F.array(*[F.lit(x) for x in qv])
    rq = ratings.select("u", "r", F.element_at(qarr, F.col("bi") + 1).alias("q"))
    ua = rq.groupBy("u").agg(
        F.count("*").alias("n"),
        F.sum(e * e).alias("se2"),
        F.sum(e * _MF_INIT).alias("seq"),
        F.sum(F.col("r") * F.col("r")).alias("sr2"),
        F.sum(F.col("r") * F.col("q")).alias("srq"),
        F.sum(F.col("q") * F.col("q")).alias("sq2"),
    )
    p = F.round(_MF_INIT + _MF_LR * (F.col("seq") - _MF_REG * _MF_INIT), 6)
    ua = ua.withColumn(
        "after", F.col("sr2") - 2 * p * F.col("srq") + p * p * F.col("sq2")
    )
    m = ua.agg(
        F.round(F.sqrt(F.sum("se2") / F.sum("n")), 4).alias("rmse_before"),
        F.round(F.sqrt(F.sum("after") / F.sum("n")), 4).alias("rmse_after"),
    ).collect()[0]
    out = spark.createDataFrame(
        [(row["bi"], row["n_ratings"], row["q"]) for row in q1_rows],
        "bi int, n_ratings long, q_new double",
    )
    return (
        out.select(
            F.element_at(barr, F.col("bi") + 1).alias("brand"),
            "n_ratings",
            F.round("q_new", 6).alias("q_new"),
            F.lit(float(m["rmse_before"])).alias("rmse_before"),
            F.lit(float(m["rmse_after"])).alias("rmse_after"),
        )
        .orderBy(F.desc("q_new"), "brand")
        .limit(_MF_TOP)
    )


# ---------------------------------------------------------------------------
# a0002 — HDBSCAN-style density-level hierarchy over the customer
# feature grid (the VERDICT r11 item-8 stretch, next to a0070 k-means
# and a0100 grid mode-seeking). Points are customers embedded at
# (x, y) = (ln(1+total spend), ln(1+order count)), snapped to an
# h-sized grid; for each density level tau in _DLH_TAUS the level set
# is DBSCAN*-flat: dense cells (count >= tau) merge through 8-way
# adjacency into clusters (Campello/Moulavi/Sander's hierarchy read at
# fixed lambdas — the condensed-tree profile n_clusters(tau) is what
# HDBSCAN builds its stability measure on).
#
# Scale shape: the ONLY data-sized work is one groupBy(cell) count —
# the cell graph is bounded by GRID EXTENT (~(range/h)^2 cells, and the
# feature range grows logarithmically with data), NOT by N, so the
# level sets, adjacency and connected components all run on a frame
# that stays ~10^4 rows at any corpus size. Compare a0001/q114: density
# clustering that materializes point-pair neighborhoods inherits a
# quadratic cell-occupancy term; aggregating to cell counts FIRST is
# what survives 100 TB.
#
# CC on the cell graph is hook+jump min-label propagation: each round
# takes the neighbor minimum, then COMPOSES the label map with itself
# (label := label-of-label), so convergence needs O(log diameter)
# rounds instead of O(diameter); _DLH_ROUNDS = 8 covers diameter 2^8 on
# a graph whose true diameter is bounded by the grid extent. ``fixpoint``
# stops at the first round that lowers no label (that round is the
# verification) and raises rather than return partial labels.
# ---------------------------------------------------------------------------

_DLH_H = 0.05  # grid cell side in feature units
_DLH_TAUS = (4, 16, 64, 256)
_DLH_ROUNDS = 8


def _dlh_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_dlh_feats_sql``: the customer feature plane
    ``(id, x, y)`` = (custkey, ln(1 + spend), ln(1 + orders))."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    return orders.groupBy(F.col("o_custkey").alias("id")).agg(
        F.round(
            F.log(1.0 + F.round(F.sum("o_totalprice") * 100, 0).cast("long") / 100.0),
            6,
        ).alias("x"),
        F.round(F.log(1.0 + F.count("*")), 6).alias("y"),
    )


def _dlh_feats_sql() -> str:
    return f"""
      SELECT o_custkey AS id,
             ROUND(LN(1 + CAST(ROUND(SUM(o_totalprice) * 100, 0) AS BIGINT) / 100.0), 6) AS x,
             ROUND(LN(1 + COUNT(*)), 6) AS y
      FROM orders GROUP BY 1
    """


@query(
    "a0002_density_level_hierarchy",
    oracle=f"""
    WITH RECURSIVE f AS ({_dlh_feats_sql()}),
    g AS (
      SELECT CAST(FLOOR(x / {_DLH_H}) AS BIGINT) AS cx,
             CAST(FLOOR(y / {_DLH_H}) AS BIGINT) AS cy,
             COUNT(*) AS n
      FROM f GROUP BY 1, 2),
    tot AS (SELECT COUNT(*) AS n_pts FROM f),
    lv(tau) AS (VALUES (4), (16), (64), (256)),
    dc AS (SELECT lv.tau, cx, cy, n, cx * 100000 + cy AS cid
           FROM g CROSS JOIN lv WHERE n >= lv.tau),
    ed AS (
      SELECT a.tau, a.cid AS ca, b.cid AS cb
      FROM dc a JOIN dc b
        ON a.tau = b.tau AND abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
       AND a.cid <> b.cid),
    reach(tau, id, lab) AS (
      SELECT tau, cid, cid FROM dc
      UNION
      SELECT ed.tau, ed.ca, reach.lab
      FROM ed JOIN reach ON ed.tau = reach.tau AND ed.cb = reach.id),
    labels AS (SELECT tau, id, MIN(lab) AS lab FROM reach GROUP BY 1, 2),
    sizes AS (
      SELECT l.tau, l.lab, SUM(dc.n) AS pts
      FROM labels l JOIN dc ON dc.tau = l.tau AND dc.cid = l.id
      GROUP BY 1, 2),
    lvl AS (
      SELECT s.tau,
             COUNT(*) AS n_clusters,
             MAX(s.pts) AS largest_cluster_pts,
             SUM(s.pts) AS dense_pts,
             (SELECT COUNT(*) FROM dc WHERE dc.tau = s.tau) AS n_dense_cells
      FROM sizes s GROUP BY s.tau)
    SELECT lv.tau,
           CAST(COALESCE(l.n_dense_cells, 0) AS BIGINT) AS n_dense_cells,
           CAST(COALESCE(l.n_clusters, 0) AS BIGINT) AS n_clusters,
           CAST(COALESCE(l.largest_cluster_pts, 0) AS BIGINT) AS largest_cluster_pts,
           CAST(t.n_pts - COALESCE(l.dense_pts, 0) AS BIGINT) AS noise_pts
    FROM lv LEFT JOIN lvl l ON l.tau = lv.tau CROSS JOIN tot t
    ORDER BY lv.tau
    """,
    description=f"HDBSCAN-style density-level hierarchy (condensed-tree profile): customers embed at (ln spend, ln orders) on an h={_DLH_H} grid, and each density level tau in {_DLH_TAUS} reads the DBSCAN* flat clustering — dense cells (>= tau points) merged through 8-way adjacency — reporting n_dense_cells / n_clusters / largest cluster / noise per level; the only data-sized work is ONE groupBy(cell) count (the cell graph is bounded by grid extent, not N), and the CC is hook+jump min-label propagation that stops at the first round lowering no label (O(log diameter) rounds, at most {_DLH_ROUNDS} + 1; raises past that)",
)
def a0002_density_level_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _dlh_feats(spark, sf_dir)
    cells = (
        feats.groupBy(
            F.floor(F.col("x") / _DLH_H).cast("long").alias("cx"),
            F.floor(F.col("y") / _DLH_H).cast("long").alias("cy"),
        )
        .agg(F.count("*").alias("n"))
        .withColumn("cid", F.col("cx") * 100000 + F.col("cy"))
        .localCheckpoint(eager=False)  # every level set reuses the counts
    )
    tot = feats.agg(F.count("*").alias("n_pts"))
    taus = F.array(*[F.lit(t) for t in _DLH_TAUS])
    dc = (
        cells.select("cx", "cy", "n", "cid", F.explode(taus).alias("tau"))
        .filter(F.col("n") >= F.col("tau"))
        .localCheckpoint(eager=False)  # edges + sizes + CC reuse it
    )
    # 8-way adjacency; symmetric, so each pair is already in both directions
    cell = dc.select("tau", "cx", "cy", "cid")
    edges = (
        cell.withColumnRenamed("cid", "ca")
        .join(neighbor_cells(cell.withColumnRenamed("cid", "cb")), ["tau", "cx", "cy"])
        .filter(F.col("ca") != F.col("cb"))
        .select("tau", "ca", "cb")
        .localCheckpoint(eager=False)
    )
    labels = dc.select("tau", F.col("cid").alias("id"), F.col("cid").alias("lab"))

    def hook_jump(labels: DataFrame) -> tuple[DataFrame, int]:
        nmin = (
            edges.withColumnRenamed("cb", "id")
            .join(labels, ["tau", "id"])
            .groupBy("tau", F.col("ca").alias("id"))
            .agg(F.min("lab").alias("nlab"))
        )
        hooked = labels.join(nmin, ["tau", "id"], "left").select(
            "tau", "id", F.col("lab").alias("old"), F.least("lab", "nlab").alias("lab")
        )
        # jump: label := label-of-label (labels are themselves cell ids)
        jm = hooked.select(
            F.col("tau").alias("jtau"), F.col("id").alias("jid"), F.col("lab").alias("jlab")
        )
        new = (
            hooked.join(jm, (hooked.tau == jm.jtau) & (hooked.lab == jm.jid), "left")
            .select("tau", "id", F.least("lab", "jlab").alias("lab"), "old")
            .localCheckpoint(eager=False)
        )
        return new.select("tau", "id", "lab"), new.filter(F.col("lab") < F.col("old")).count()

    labels = fixpoint(labels, hook_jump, _DLH_ROUNDS + 1, "density-level CC")
    sizes = (
        labels.join(
            dc.select("tau", F.col("cid").alias("id"), "n"), ["tau", "id"]
        )
        .groupBy("tau", "lab")
        .agg(F.sum("n").alias("pts"))
    )
    lvl = sizes.groupBy("tau").agg(
        F.count("*").alias("n_clusters"),
        F.max("pts").alias("largest_cluster_pts"),
        F.sum("pts").alias("dense_pts"),
    )
    ncells = dc.groupBy("tau").agg(F.count("*").alias("n_dense_cells"))
    lv = dc.sparkSession.createDataFrame([(t,) for t in _DLH_TAUS], "tau int")
    return (
        lv.join(F.broadcast(ncells), "tau", "left")
        .join(F.broadcast(lvl), "tau", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "tau",
            F.coalesce("n_dense_cells", F.lit(0)).cast("long").alias("n_dense_cells"),
            F.coalesce("n_clusters", F.lit(0)).cast("long").alias("n_clusters"),
            F.coalesce("largest_cluster_pts", F.lit(0))
            .cast("long")
            .alias("largest_cluster_pts"),
            (F.col("n_pts") - F.coalesce("dense_pts", F.lit(0)))
            .cast("long")
            .alias("noise_pts"),
        )
        .orderBy("tau")
    )


# ---------------------------------------------------------------------------
# a0004 — grid-blocked kNN classification (the lazy-learning classic,
# distributed the only way that scales: spatial blocking): customers
# embed at the a0002 feature plane (x, y) = (ln(1+spend),
# ln(1+orders)), labels are their market segment, test split is
# custkey % 4 == 0. Train points EXPLODE into their 3x3 neighbor cells
# (9 bounded copies), test points equi-join their own cell, so every
# candidate pair shares a grid cell — no cross join, no global kd-tree.
# k nearest by (d2 rounded 9, custkey) — both engines replay the exact
# rank — majority vote with label tie-break, '(none)' when a test
# point's neighborhood is empty. Output is the segment confusion
# matrix (bounded at |segments|^2 rows).
# Scale rule (100 TB): h trades candidate volume vs recall radius, and
# the production guard for a viral cell is the same salted cap the
# LSH/SemDeDup family uses; the 9x train explode is the constant that
# buys equi-join blocking.
# ---------------------------------------------------------------------------

_KNN_K = 5
_KNN_H4 = 4.0  # cells per feature unit (h = 0.25)
_KNN_CAP = 32  # per-cell train cap (md5-ranked deterministic subsample)


@query(
    "a0004_knn_classify",
    oracle=f"""
    WITH f AS ({_dlh_feats_sql()}),
    pts AS (
      SELECT f.id, f.x, f.y,
             CAST(FLOOR(f.x * {_KNN_H4}) AS BIGINT) AS cx,
             CAST(FLOOR(f.y * {_KNN_H4}) AS BIGINT) AS cy,
             c.c_mktsegment AS seg,
             CASE WHEN f.id % 4 = 0 THEN 1 ELSE 0 END AS is_test
      FROM f JOIN customer c ON c.c_custkey = f.id),
    te AS (SELECT * FROM pts WHERE is_test = 1),
    tr AS (
      -- salted per-cell train cap (the LSH/SemDeDup guard): the feature
      -- plane is DENSE (2187 points in one cell at sf0.1), so uncapped
      -- 3x3 blocking degenerates toward cartesian; an md5-ranked
      -- deterministic subsample bounds candidates at 9*cap per test
      -- point (cap=32 measured: 2.7 -> 2.1 s at sf0.1 with the same
      -- confusion structure) and both engines replay the identical rank
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cx, cy
          ORDER BY md5(CAST(cx AS VARCHAR) || '_' || CAST(cy AS VARCHAR)
                       || '_' || CAST(id AS VARCHAR)), id) AS crk
        FROM pts WHERE is_test = 0)
      WHERE crk <= {_KNN_CAP}),
    cand AS (
      SELECT te.id AS tid, te.seg AS tseg, tr.id AS rid, tr.seg AS rseg,
             ROUND((te.x - tr.x) * (te.x - tr.x) + (te.y - tr.y) * (te.y - tr.y), 9) AS d2
      FROM te JOIN tr
        ON tr.cx BETWEEN te.cx - 1 AND te.cx + 1
       AND tr.cy BETWEEN te.cy - 1 AND te.cy + 1),
    knn AS (
      SELECT tid, tseg, rseg
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY tid ORDER BY d2, rid) AS rk
            FROM cand)
      WHERE rk <= {_KNN_K}),
    vote AS (SELECT tid, tseg, rseg, COUNT(*) AS c FROM knn GROUP BY 1, 2, 3),
    pred AS (
      SELECT tid, tseg, rseg AS pseg
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY tid ORDER BY c DESC, rseg) AS rk
            FROM vote)
      WHERE rk = 1)
    SELECT te.seg AS true_seg, COALESCE(pred.pseg, '(none)') AS pred_seg,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM te LEFT JOIN pred ON pred.tid = te.id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    description=f"grid-blocked kNN classification of customer market segment on the (ln spend, ln orders) plane: md5-ranked per-cell train cap ({_KNN_CAP} — the LSH/SemDeDup salted-cap guard, both engines replay it) then train points explode into their 3x3 neighbor cells so candidates equi-join on the shared cell (<= 9*cap per test point, no cross join); k={_KNN_K} nearest by (d2 rounded 9, custkey), majority vote with label tie-break, '(none)' for empty neighborhoods; output the |segments|^2-bounded confusion matrix",
)
def a0004_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    f = _dlh_feats(spark, sf_dir)
    pts = f.join(cust, f.id == cust.c_custkey).select(
        "id",
        "x",
        "y",
        F.floor(F.col("x") * _KNN_H4).cast("long").alias("cx"),
        F.floor(F.col("y") * _KNN_H4).cast("long").alias("cy"),
        F.col("c_mktsegment").alias("seg"),
        (F.col("id") % 4 == 0).alias("is_test"),
    ).localCheckpoint(eager=False)  # one feature build feeds both splits;
    # A/B'd r14: dropping it is SLOWER (2.49 vs 2.24 warm) — the tr9
    # side is a broadcast whose subtree executes as an independent job,
    # so ReusedExchange cannot dedup the feature shuffle across splits
    te = pts.filter(F.col("is_test")).select(
        F.col("id").alias("tid"), F.col("x").alias("tx"), F.col("y").alias("ty"),
        "cx", "cy", F.col("seg").alias("tseg"),
    )
    # salted per-cell train cap BEFORE the 9-cell explode (see oracle
    # note): candidates per test point are bounded at 9 * cap whatever
    # the cell density — without it the sf0.1 run measured 24.6 s of
    # near-cartesian candidate explosion (max cell 2187 points)
    tr9 = neighbor_cells(cap_per_cell(pts.filter(~F.col("is_test")), _KNN_CAP)).select(
        F.col("id").alias("rid"), F.col("x").alias("rx"), F.col("y").alias("ry"),
        "cx", "cy", F.col("seg").alias("rseg"),
    )
    d2 = F.round(
        (F.col("tx") - F.col("rx")) * (F.col("tx") - F.col("rx"))
        + (F.col("ty") - F.col("ry")) * (F.col("ty") - F.col("ry")),
        9,
    )
    # tr9 is GRID-EXTENT-bounded (<= cells * cap * 9 rows at any SF —
    # cells grow with the log-scaled feature range, not N), so the
    # broadcast is scale-correct, unlike broadcasting a data-grown frame.
    # LEFT join keeps empty-neighborhood test points in-frame ('(none)'
    # below) so no join-back against te is needed.
    cand = te.join(F.broadcast(tr9), ["cx", "cy"], "left").select(
        "tid",
        "tseg",
        F.when(
            F.col("rid").isNotNull(),
            F.struct(
                d2.alias("d2"), F.col("rid").alias("rid"), F.col("rseg").alias("rseg")
            ),
        ).alias("s"),
    )
    # ONE (tid)-keyed aggregate replaces the r13 shape's two per-tid
    # row_number windows + vote aggregate + join-back (VERDICT r13 item
    # 3): the k nearest are the first K of the sorted struct array
    # (struct order = (d2, rid) — the oracle's ORDER BY d2, rid), and
    # the majority vote with label tie-break is row-local array math
    # over those <= K elements (argmin of (-count, label)).
    knn = cand.groupBy("tid", "tseg").agg(
        F.slice(F.array_sort(F.collect_list("s")), 1, _KNN_K).alias("nn")
    )
    pseg = F.expr(
        "array_min(transform(array_distinct(transform(nn, s -> s.rseg)), "
        "l -> struct(-size(filter(nn, s -> s.rseg = l)) AS negc, l AS lbl))).lbl"
    )
    return (
        knn.groupBy(
            F.col("tseg").alias("true_seg"),
            F.coalesce(pseg, F.lit("(none)")).alias("pred_seg"),
        )
        .agg(F.count("*").cast("long").alias("n_customers"))
        .orderBy("true_seg", "pred_seg")
    )


# ---------------------------------------------------------------------------
# a0014 — grid-blocked Local Outlier Factor (Breunig et al., SIGMOD
# 2000) on the a0002/a0004 customer feature plane (x, y) =
# (ln(1+spend), ln(1+orders)): the density-RELATIVE outlier score that
# catches points anomalous for their local neighborhood where a global
# distance cutoff (a0062) cannot. Same scale discipline as a0004:
# md5-ranked per-cell cap (the LSH/SemDeDup salted-cap guard — LOF on
# the capped subsample is "sampled LOF", both engines replay the
# identical subsample), points explode into their 3x3 neighbor cells
# so candidate pairs equi-join on the shared cell. k-distance,
# reachability distance, local reachability density and the LOF ratio
# all follow from the kNN frame by three node-sized aggregates; every
# neighbor of a scored point is itself scored (the candidate relation
# is symmetric), so lrd(b) always exists. d2 rounded at 9 before any
# ranking; lrd guarded by GREATEST(sum_reach, 1e-12) against
# zero-distance duplicate pileups.
# Scale rule (100 TB): cap and k are resolution constants; the 9x
# explode buys equi-join blocking; candidates <= 9 * cap per point.
# ---------------------------------------------------------------------------

_LOF_K = 5
_LOF_H4 = 4.0  # cells per feature unit (a0004's grid)
_LOF_CAP = 64  # per-cell cap (denser than a0004's 32 — density estimates)
_LOF_TOP = 20


@query(
    "a0014_lof_outliers",
    oracle=f"""
    WITH f AS ({_dlh_feats_sql()}),
    pts0 AS (
      SELECT id, x, y,
             CAST(FLOOR(x * {_LOF_H4}) AS BIGINT) AS cx,
             CAST(FLOOR(y * {_LOF_H4}) AS BIGINT) AS cy
      FROM f),
    pts AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cx, cy
          ORDER BY md5(CAST(cx AS VARCHAR) || '_' || CAST(cy AS VARCHAR)
                       || '_' || CAST(id AS VARCHAR)), id) AS crk
        FROM pts0)
      WHERE crk <= {_LOF_CAP}),
    cand AS (
      SELECT a.id AS aid, b.id AS bid,
             ROUND((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y), 9) AS d2
      FROM pts a JOIN pts b
        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       AND a.id <> b.id),
    knn AS (
      SELECT aid, bid, d2
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY aid ORDER BY d2, bid) AS rk
            FROM cand)
      WHERE rk <= {_LOF_K}),
    kd AS (SELECT aid AS id, MAX(d2) AS kdist, COUNT(*) AS n_nb FROM knn GROUP BY aid),
    rch AS (
      SELECT k.aid, k.bid, GREATEST(k.d2, kb.kdist) AS reach
      FROM knn k JOIN kd kb ON kb.id = k.bid),
    lrd AS (
      SELECT r.aid AS id,
             ROUND(kd.n_nb / GREATEST(SUM(r.reach), 1e-12), 9) AS lrd
      FROM rch r JOIN kd ON kd.id = r.aid
      GROUP BY r.aid, kd.n_nb),
    lof AS (
      SELECT k.aid AS id, kd.n_nb,
             ROUND(SUM(lb.lrd) / kd.n_nb / la.lrd, 6) AS lof
      FROM knn k
      JOIN lrd lb ON lb.id = k.bid
      JOIN lrd la ON la.id = k.aid
      JOIN kd ON kd.id = k.aid
      GROUP BY k.aid, kd.n_nb, la.lrd),
    top AS (
      SELECT id, n_nb, lof, ROW_NUMBER() OVER (ORDER BY lof DESC, id) AS rank
      FROM lof)
    SELECT CAST(rank AS BIGINT) AS rank, CAST(id AS BIGINT) AS custkey,
           lof, CAST(n_nb AS BIGINT) AS n_neighbors
    FROM top WHERE rank <= {_LOF_TOP} ORDER BY rank
    """,
    description=f"grid-blocked Local Outlier Factor (Breunig 2000, k={_LOF_K}) on the customer (ln spend, ln orders) plane: md5-ranked per-cell cap {_LOF_CAP} (sampled LOF — both engines replay the subsample), 3x3-cell equi-join candidates (<= 9*cap per point), then k-distance -> reachability -> local reachability density -> LOF as three node-sized aggregates over the kNN frame; density-RELATIVE outliers a global cutoff misses; top-{_LOF_TOP} by (LOF desc, id)",
)
def a0014_lof_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts0 = _dlh_feats(spark, sf_dir).select(
        "id", "x", "y",
        F.floor(F.col("x") * _LOF_H4).cast("long").alias("cx"),
        F.floor(F.col("y") * _LOF_H4).cast("long").alias("cy"),
    )
    # one capped subsample feeds both join sides
    pts = cap_per_cell(pts0, _LOF_CAP).localCheckpoint(eager=False)
    nbr = neighbor_cells(pts).select(
        F.col("id").alias("bid"), F.col("x").alias("bx"), F.col("y").alias("by"), "cx", "cy"
    )
    d2 = F.round(
        (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
        + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by")),
        9,
    )
    # both sides are the capped, grid-extent-bounded subsample (cells *
    # cap rows at any SF) — the 9x-exploded side broadcasts like a0004's
    cand = (
        pts.join(F.broadcast(nbr), ["cx", "cy"])
        .filter(F.col("id") != F.col("bid"))
        .select(F.col("id").alias("aid"), "bid", d2.alias("d2"))
    )
    wk = Window.partitionBy("aid").orderBy("d2", "bid")
    knn = (
        cand.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _LOF_K)
        .select("aid", "bid", "d2")
    )
    # kd/lrd are scored-point-sized — bounded by (grid cells x cap), the
    # same boundedness that justifies broadcast(nbr) above — but they sit
    # above window/aggregate nodes whose Catalyst size estimates are
    # unknown, so the planner picked SortMergeJoin and re-shuffled the
    # knn frame by bid/aid once per consumer (the r15 before-plan is a
    # 196-node tree with the knn subtree duplicated per join). Broadcast
    # hints (guide §3.1) keep every post-window frame in the window's
    # aid-partitioning: the groupBy("aid") aggregates reuse it (§2.4)
    # and the bid-keyed joins become broadcast builds. r15 A/B: warm
    # 9.3 -> 4.0 s (best-rep 5.3 -> 3.5), jobs 10 -> 9, stages 20 -> 17,
    # results byte-identical; a knn localCheckpoint variant measured
    # MORE jobs (13) for no wall gain — ReusedExchange already covers
    # the duplicated subtree at runtime.
    kd = knn.groupBy(F.col("aid").alias("id")).agg(
        F.max("d2").alias("kdist"), F.count("*").alias("n_nb")
    )
    rch = knn.join(
        F.broadcast(kd.select(F.col("id").alias("bid"), F.col("kdist").alias("bkd"))), "bid"
    ).select("aid", "bid", F.greatest("d2", "bkd").alias("reach"))
    lrd = (
        rch.groupBy("aid")
        .agg(F.sum("reach").alias("sr"))
        .join(F.broadcast(kd.select(F.col("id").alias("aid"), "n_nb")), "aid")
        .select(
            F.col("aid").alias("id"),
            F.round(F.col("n_nb") / F.greatest(F.col("sr"), F.lit(1e-12)), 9).alias("lrd"),
        )
    )
    lof = (
        knn.join(
            F.broadcast(lrd.select(F.col("id").alias("bid"), F.col("lrd").alias("lrdb"))), "bid"
        )
        .groupBy("aid")
        .agg(F.sum("lrdb").alias("slb"))
        .join(F.broadcast(lrd.select(F.col("id").alias("aid"), F.col("lrd").alias("lrda"))), "aid")
        .join(F.broadcast(kd.select(F.col("id").alias("aid"), "n_nb")), "aid")
        .select(
            "aid",
            "n_nb",
            F.round(F.col("slb") / F.col("n_nb") / F.col("lrda"), 6).alias("lof"),
        )
    )
    top = (
        lof.orderBy(F.desc("lof"), "aid")
        .limit(_LOF_TOP)
        .select(
            F.row_number().over(Window.orderBy(F.desc("lof"), "aid")).cast("long").alias("rank"),
            F.col("aid").cast("long").alias("custkey"),
            "lof",
            F.col("n_nb").cast("long").alias("n_neighbors"),
        )
    )
    return top.orderBy("rank")


# ---------------------------------------------------------------------------
# a0017 — two rounds of AdaBoost.M1 (Freund-Schapire 1997) with
# decision stumps over lineitem (label: returned R vs not; features:
# quantity and discount against fixed literal threshold grids x both
# polarities = 36 candidate stumps). The distributed trick: per-row
# weights NEVER materialize. Round-1 error is a pure count; after
# round 1 the weight of a row depends ONLY on whether stump-1
# classified it correctly (two distinct values wc/ww, exp(-+alpha1)
# rounded at 12), so round-2 weighted error is a closed form over the
# joint counts (h1-correct x h2-wrong) — each round is ONE corpus scan
# producing 36 conditional-count aggregates (no explode, no weight
# column, map-side combine to a 36-cell frame), and every float the
# selection touches is derived from exact integer counts through the
# same rounded expressions on both engines.
# Scale rule (100 TB): rounds and grid are resolution constants; R
# rounds = R linear scans; deeper ensembles keep the closed form by
# keying counts on the 2^r correctness profile (bounded by 2^rounds).
# ---------------------------------------------------------------------------

_ADA_QTY = [5.0, 10.0, 15.0, 20.0, 25.0, 30.0, 35.0, 40.0, 45.0]
_ADA_DISC = [0.01, 0.02, 0.03, 0.04, 0.05, 0.06, 0.07, 0.08, 0.09]
_ADA_CANDS = [("disc", t, p) for t in _ADA_DISC for p in (1, -1)] + [
    ("qty", t, p) for t in _ADA_QTY for p in (1, -1)
]


def _round_half_up(x: float, nd: int) -> float:
    """Round half-AWAY-from-zero, the rule DuckDB's ROUND applies.

    Python's builtin round() is banker's (half-even); a0017's stump
    SELECTION argmin runs over rounded intermediates (a1/wc/ww/e2), so an
    exact tie at the last kept digit would pick a different stump than the
    oracle under mixed rules. Decimal(x) converts the binary double
    exactly, then ROUND_HALF_UP quantizes away from zero on ties.
    """

    # decimal.ROUND_HALF_UP is defined as "ties away from zero"
    return float(Decimal(x).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


def _ada_cand_sql() -> str:
    rows = ", ".join(f"('{f}', {t}, {p})" for f, t, p in _ADA_CANDS)
    return f"(VALUES {rows}) cand(f, thr, pol)"


def _ada_h_sql(f: str = "cand.f", thr: str = "cand.thr", pol: str = "cand.pol") -> str:
    return (
        f"{pol} * (CASE WHEN (CASE WHEN {f} = 'qty' THEN base.q ELSE base.d END)"
        f" <= {thr} THEN 1 ELSE -1 END)"
    )


@query(
    "a0017_adaboost_stumps",
    oracle=f"""
    WITH base AS (
      SELECT l_quantity AS q, l_discount AS d,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END AS y
      FROM lineitem),
    cand AS (SELECT * FROM {_ada_cand_sql()}),
    n AS (SELECT COUNT(*) AS n FROM base),
    r1 AS (
      SELECT cand.f, cand.thr, cand.pol,
             CAST(SUM(CASE WHEN {_ada_h_sql()} <> base.y THEN 1 ELSE 0 END) AS BIGINT) AS nw
      FROM base CROSS JOIN cand GROUP BY 1, 2, 3),
    b1 AS (
      SELECT f, thr, pol, nw, nw * 1.0 / (SELECT n FROM n) AS e1,
             ROUND(0.5 * ln(((SELECT n FROM n) - nw) * 1.0 / nw), 12) AS a1
      FROM r1 ORDER BY nw, f, thr, pol LIMIT 1),
    w AS (SELECT ROUND(exp(-(SELECT a1 FROM b1)), 12) AS wc,
                 ROUND(exp((SELECT a1 FROM b1)), 12) AS ww),
    r2 AS (
      SELECT cand.f, cand.thr, cand.pol,
             CAST(SUM(CASE WHEN {_ada_h_sql()} <> base.y
                  AND {_ada_h_sql("b1.f", "b1.thr", "b1.pol")} = base.y
                  THEN 1 ELSE 0 END) AS BIGINT) AS ncw,
             CAST(SUM(CASE WHEN {_ada_h_sql()} <> base.y
                  AND {_ada_h_sql("b1.f", "b1.thr", "b1.pol")} <> base.y
                  THEN 1 ELSE 0 END) AS BIGINT) AS nww
      FROM base CROSS JOIN cand CROSS JOIN b1 GROUP BY 1, 2, 3),
    s2 AS (
      SELECT f, thr, pol,
             ROUND((ncw * (SELECT wc FROM w) + nww * (SELECT ww FROM w))
                   / (((SELECT n FROM n) - (SELECT nw FROM b1)) * (SELECT wc FROM w)
                      + (SELECT nw FROM b1) * (SELECT ww FROM w)), 9) AS e2
      FROM r2),
    b2 AS (
      SELECT f, thr, pol, e2, ROUND(0.5 * ln((1 - e2) / e2), 12) AS a2
      FROM s2 ORDER BY e2, f, thr, pol LIMIT 1),
    acc AS (
      SELECT AVG(CASE WHEN (CASE WHEN
               (SELECT a1 FROM b1) * ({_ada_h_sql("b1.f", "b1.thr", "b1.pol")})
             + (SELECT a2 FROM b2) * ({_ada_h_sql("b2.f", "b2.thr", "b2.pol")}) >= 0
             THEN 1 ELSE -1 END) = base.y THEN 1.0 ELSE 0 END) AS acc
      FROM base CROSS JOIN b1 CROSS JOIN b2)
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS round, f AS feature, ROUND(thr, 6) AS threshold,
             CAST(pol AS BIGINT) AS polarity, ROUND(e1, 6) AS weighted_err,
             ROUND(a1, 6) AS alpha,
             (SELECT ROUND(acc, 6) FROM acc) AS ensemble_train_acc
      FROM b1
      UNION ALL
      SELECT CAST(2 AS BIGINT), f, ROUND(thr, 6), CAST(pol AS BIGINT),
             ROUND(e2, 6), ROUND(a2, 6), (SELECT ROUND(acc, 6) FROM acc)
      FROM b2)
    ORDER BY round
    """,
    description="two rounds of AdaBoost.M1 (Freund-Schapire 1997) with decision stumps over lineitem (label returned-R, 36 literal (feature, threshold, polarity) candidates): per-row weights never materialize — round-2 weighted error is a closed form over (h1-correct x h2-wrong) joint counts because post-round-1 weights take only two values, so each round is ONE corpus scan into a 36-cell conditional-count aggregate; selection tie-break (err, feature, threshold, polarity); outputs per-round stump, weighted error, alpha, and the 2-stump ensemble train accuracy",
)
def a0017_adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("q"),
        F.col("l_discount").alias("d"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(-1).alias("y"),
    )

    def h(f: str, thr: float, pol: int):
        feat = F.col("q") if f == "qty" else F.col("d")
        return F.lit(pol) * F.when(feat <= F.lit(thr), 1).otherwise(-1)

    # round 1: ONE scan, 36 conditional-count aggregates (no explode)
    aggs1 = [
        F.sum(F.when(h(f, t, p) != F.col("y"), 1).otherwise(0)).alias(f"nw_{i}")
        for i, (f, t, p) in enumerate(_ADA_CANDS)
    ] + [F.count("*").alias("n")]
    row1 = base.agg(*aggs1).collect()[0]
    n = int(row1["n"])
    # argmin over exact integer counts, tie-break (nw, f, thr, pol) —
    # the identical total order the oracle's ORDER BY applies
    best1 = min(
        ((int(row1[f"nw_{i}"]), f, t, p) for i, (f, t, p) in enumerate(_ADA_CANDS)),
    )
    nw1, f1, t1, p1 = best1
    a1 = _round_half_up(0.5 * math.log((n - nw1) / nw1), 12)
    wc, ww = _round_half_up(math.exp(-a1), 12), _round_half_up(math.exp(a1), 12)

    # round 2: one scan keyed by the (h1-correct x h2-wrong) profile
    h1c = h(f1, t1, p1) == F.col("y")
    aggs2 = []
    for i, (f, t, p) in enumerate(_ADA_CANDS):
        wrong2 = h(f, t, p) != F.col("y")
        aggs2.append(F.sum(F.when(wrong2 & h1c, 1).otherwise(0)).alias(f"ncw_{i}"))
        aggs2.append(F.sum(F.when(wrong2 & ~h1c, 1).otherwise(0)).alias(f"nww_{i}"))
    row2 = base.agg(*aggs2).collect()[0]
    denom = (n - nw1) * wc + nw1 * ww
    best2 = min(
        (
            (_round_half_up((int(row2[f"ncw_{i}"]) * wc + int(row2[f"nww_{i}"]) * ww) / denom, 9), f, t, p)
            for i, (f, t, p) in enumerate(_ADA_CANDS)
        ),
    )
    e2, f2, t2, p2 = best2
    a2 = _round_half_up(0.5 * math.log((1 - e2) / e2), 12)

    ens = F.when(F.lit(a1) * h(f1, t1, p1) + F.lit(a2) * h(f2, t2, p2) >= 0, 1).otherwise(-1)
    acc = float(
        base.agg(F.avg(F.when(ens == F.col("y"), 1.0).otherwise(0.0))).collect()[0][0]
    )
    out = spark.createDataFrame(
        [
            (1, f1, float(t1), p1, nw1 / n, a1, acc),
            (2, f2, float(t2), p2, e2, a2, acc),
        ],
        "round long, feature string, threshold double, polarity long, "
        "weighted_err double, alpha double, ensemble_train_acc double",
    )
    # final rounding through Spark's ROUND (HALF_UP — matches DuckDB)
    return out.select(
        "round", "feature",
        F.round("threshold", 6).alias("threshold"),
        "polarity",
        F.round("weighted_err", 6).alias("weighted_err"),
        F.round("alpha", 6).alias("alpha"),
        F.round("ensemble_train_acc", 6).alias("ensemble_train_acc"),
    ).orderBy("round")
