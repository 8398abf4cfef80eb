"""Round-11 wave (a0070–a0092): classical data-mining and statistics
operators that deepen the engine's analytics axis — Lloyd k-means,
centroid silhouette, chi-square/Cramér's V association, Mann-Whitney U,
binary-segmentation changepoint, Benford first-digit audit, approximate
functional-dependency discovery, per-node clustering coefficient,
KMV/theta sketch set operations, RAKE keyword extraction, winnowing
fingerprints, Grubbs outlier rounds, bloom semi-join reduction, rank-1
matrix-factorization gradient step, uplift segmentation, TF-IDF keyword
ranking, Spearman/Kendall rank correlation, Lorenz/Gini concentration,
an MRL quantile summary, lossless JPEG (T.81 Annex H) decode audits at
8 and 12 bit, and Kleinberg burst detection via distributed Viterbi.

Named a0070–a0092 so they sort INSIDE the driver's 50-slot correctness
window (after the renamed a0050–a0069 fodder, before the already-dated
a0093 block) — see COVERAGE.md for the window mechanics.

Reference parity: no counterpart in the reference notebook
(kaggle/kaggle.py) — these extend the data-mining axis of the course
title (clustering, hypothesis testing, association analysis, keyword
extraction are textbook material) and the data-quality axis (Benford,
FD discovery) a 100 TB lakehouse audit needs.

Every query carries a full DuckDB value-hash oracle. Float discipline
per FIXTURES.md: money summed at cents, every emitted float rounded
<= 6 dp on BOTH engines, distances rounded to 9 dp BEFORE every argmin,
ties broken by an integer key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from .graph import _HUB_CAP, _cooc_edges, _degrees, _triangles, _user_buckets
from .registry import query

# ---------------------------------------------------------------------------
# a0070 — Lloyd k-means (k=8, 2 iterations) over the 64-dim embedding
# table, deterministic init = the 8 lowest-vec_id vectors (production
# would use k-means||; the ITERATION plan is identical, init is an
# input). Scale shape: assignment is a ROW-LOCAL argmin against a
# 1-row broadcast carrying all k centroids as array<struct> — zero
# shuffle of the corpus; the centroid update is a k-key groupBy whose
# partial aggregation reduces each task to k×64 sums before the
# exchange. Nothing full-width ever shuffles; per-iteration cost is
# one corpus scan. Centroid means are rounded to 6 dp on BOTH engines
# before the next distance pass (engine-stable across partial-agg
# orders); distances rounded to 9 dp before every argmin, ties by
# lowest cluster id.
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_DIMS = 64


def _km_d2_duck(v: str, cv: str) -> str:
    return (
        f"round(list_reduce(list_transform(range(1, {_KM_DIMS + 1}), "
        f"i -> ({v}[i] - {cv}[i]) * ({v}[i] - {cv}[i])), (x, y) -> x + y), 9)"
    )


def _km_assign_duck(src: str, cb: str) -> str:
    """CTE text: nearest-centroid assignment of e-rows in `src` to `cb`."""
    return f"""
      SELECT vec_id, v, cid, d2 FROM (
        SELECT s.vec_id, s.v, c.cid, {_km_d2_duck('s.v', 'c.cv')} AS d2,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY {_km_d2_duck('s.v', 'c.cv')}, c.cid) AS rn
        FROM {src} s CROSS JOIN {cb} c
      ) WHERE rn = 1
    """


_KM_CV = ", ".join(f"round(avg(v[{i}]), 6)" for i in range(1, _KM_DIMS + 1))


def _km_d2_spark(v: Column, cv: Column) -> Column:
    # unrolled static sum (q120 A/B: interpreted HOF folds lose 1.7x at
    # sf1.0; the static tree is what survives scale-up)
    terms: Column | None = None
    for i in range(1, _KM_DIMS + 1):
        t = F.element_at(v, i) - F.element_at(cv, i)
        t = t * t
        terms = t if terms is None else terms + t
    return F.round(terms, 9)


def _km_assign_spark(emb: DataFrame, cb: DataFrame) -> DataFrame:
    """Nearest-centroid assignment via the a0001 BLAS kernel.

    The k-row collect is bounded by the k = _KM_K literal (the Lloyd
    loop materializes each 8-row centroid frame eagerly anyway); the
    collected codebook rides into one Arrow-batched dgemm per batch —
    |x|^2 - 2 xC' + |c|^2, rounded to 9 dp like the oracle's d2, with
    np.argmin's first-minimum tie matching ORDER BY d2, cid (codebook
    rows sorted by cid). The r11 variant broadcast a 1-row struct array
    and ran the unrolled d2 inside a transform() lambda — higher-order
    lambdas evaluate INTERPRETED per row x centroid (12.9 s warm at
    sf1.0); a literal-unrolled 8x64 expression tree was A/B'd too and
    is ANALYSIS-bound (1.8 MiB task binaries, 17.5 s). Round-9 absorbs
    the dgemm reassociation exactly as in a0001, and the downstream
    inertia/mean aggregates round at 4/6 dp — far above ulp noise."""
    import numpy as np
    import pandas as pd

    cents = sorted((r["cid"], list(r["cv"])) for r in cb.collect())
    sids = np.array([c for c, _ in cents], dtype=np.int64)
    cmat = np.array([v for _, v in cents], dtype=np.float64)
    c2 = (cmat * cmat).sum(axis=1)[None, :]

    def assign(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            xm = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            x2 = (xm * xm).sum(axis=1, keepdims=True)
            acc = np.round(x2 - 2.0 * (xm @ cmat.T) + c2, 9)
            best = np.argmin(acc, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "cid": sids[best],
                    "d2": acc[np.arange(len(best)), best],
                }
            )

    return emb.mapInPandas(assign, "vec_id long, v array<double>, cid long, d2 double")


def _km_update_spark(assigned: DataFrame) -> DataFrame:
    cents = assigned.groupBy("cid").agg(
        *[
            F.round(F.avg(F.element_at("v", i)), 6).alias(f"c{i}")
            for i in range(1, _KM_DIMS + 1)
        ]
    )
    # No checkpoint (r14): the ONLY consumer is _km_assign_spark's k-row
    # cb.collect(), which itself truncates lineage (the next iteration's
    # plan starts from the collected numpy codebook, not this frame) —
    # the former eager localCheckpoint here was a second job per Lloyd
    # iteration doing the same materialization the collect repeats.
    return cents.select(
        "cid", F.array(*[F.col(f"c{i}") for i in range(1, _KM_DIMS + 1)]).alias("cv")
    )


# Scale rule (100 TB): k is fixed at 8 for oracle parity; in production k
# is set by domain (clusters wanted), NOT by N — assignment stays one
# dgemm per Arrow batch (cost ~ N*k*d) and the update a k x d aggregate,
# so the plan SHAPE is k-invariant (no twin needed; the only k-sized
# artifact is the collected codebook, the same documented bound as
# a0001's).
@query(
    "a0070_kmeans_lloyd",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cb0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_KM_K}),
    a1 AS ({_km_assign_duck('e', 'cb0')}),
    cb1 AS (SELECT cid, [{_KM_CV}] AS cv FROM a1 GROUP BY cid),
    a2 AS ({_km_assign_duck('e', 'cb1')}),
    cb2 AS (SELECT cid, [{_KM_CV}] AS cv FROM a2 GROUP BY cid),
    a3 AS ({_km_assign_duck('e', 'cb2')})
    SELECT CAST(cid AS BIGINT) AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(SUM(d2), 4) AS inertia, ROUND(AVG(d2), 6) AS mean_d2
    FROM a3 GROUP BY cid ORDER BY cluster_id
    """,
    description=f"Lloyd k-means (k={_KM_K}, 2 update iterations + final assignment) over the {_KM_DIMS}-dim embeddings: row-local argmin against a 1-row broadcast of all centroids (ZERO corpus shuffle per assignment), k-key map-side-combined mean update, 6-dp-rounded centroids / 9-dp-rounded distances / lowest-cid ties for engine parity; per-cluster size, inertia and mean squared distance — the canonical clustering loop, one corpus scan per iteration",
)
def a0070_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cb = emb.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    for _ in range(2):
        cb = _km_update_spark(_km_assign_spark(emb, cb))
    final = _km_assign_spark(emb, cb)
    return (
        final.groupBy(F.col("cid").cast("long").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.sum("d2"), 4).alias("inertia"),
            F.round(F.avg("d2"), 6).alias("mean_d2"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# a0071 — centroid silhouette audit of the deterministic k=8 seeding
# (the cluster-quality diagnostic that decides k): per vector, a = the
# Euclidean distance to its own (nearest) centroid and b = the distance
# to the second-nearest, s = (b − a) / max(a, b) — the simplified
# (centroid-based) silhouette that stays LINEAR in the corpus where the
# classic pairwise formula is quadratic. Row-local: the per-vector
# distance list is k structs sorted in-row; no window, no shuffle until
# the per-cluster rollup. Distances rounded to 9 dp before the sort
# (ties by cid), silhouettes to 6.
# ---------------------------------------------------------------------------


# Scale rule (100 TB): inherits a0070's k rule — the per-point work is
# one k-row distance fold against the broadcast centroid frame;
# simplified silhouette (centroid form) is chosen precisely because the
# pairwise form is O(N^2) and this is O(N*k).
@query(
    "a0071_centroid_silhouette",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cb AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_KM_K}),
    pairs AS (
      SELECT e.vec_id, c.cid,
             round(sqrt({_km_d2_duck('e.v', 'c.cv')}), 9) AS d,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY round(sqrt({_km_d2_duck('e.v', 'c.cv')}), 9), c.cid) AS rn
      FROM e CROSS JOIN cb c
    ),
    ab AS (
      SELECT vec_id,
             MAX(CASE WHEN rn = 1 THEN cid END) AS cid,
             MAX(CASE WHEN rn = 1 THEN d END) AS a,
             MAX(CASE WHEN rn = 2 THEN d END) AS b
      FROM pairs WHERE rn <= 2 GROUP BY vec_id
    ),
    sil AS (
      SELECT cid, CASE WHEN GREATEST(a, b) = 0 THEN 0.0
                       ELSE (b - a) / GREATEST(a, b) END AS s
      FROM ab
    )
    SELECT CAST(cid AS BIGINT) AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(s), 6) AS avg_sil, ROUND(MIN(s), 6) AS min_sil,
           ROUND(MAX(s), 6) AS max_sil
    FROM sil GROUP BY cid ORDER BY cluster_id
    """,
    description=f"centroid-based silhouette audit of the deterministic k={_KM_K} seeding: per vector a = distance to nearest centroid, b = second-nearest, s = (b−a)/max(a,b) — the LINEAR cluster-quality diagnostic (classic silhouette is quadratic in the corpus); the k-struct distance list sorts in-row (no window, no corpus shuffle before the per-cluster rollup), 9-dp distances / cid ties / 6-dp silhouettes for engine parity",
)
def a0071_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cb = emb.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    cb_row = cb.agg(F.collect_list(F.struct("cid", "cv")).alias("cbs"))
    ds = emb.crossJoin(F.broadcast(cb_row)).select(
        "vec_id",
        F.array_sort(
            F.transform(
                F.col("cbs"),
                lambda c: F.struct(
                    F.round(F.sqrt(_km_d2_spark(F.col("v"), c["cv"])), 9).alias("d"),
                    c["cid"].alias("cid"),
                ),
            )
        ).alias("sd"),
    )
    ab = ds.select(
        F.col("sd")[0]["cid"].alias("cid"),
        F.col("sd")[0]["d"].alias("a"),
        F.col("sd")[1]["d"].alias("b"),
    )
    s = F.when(F.greatest("a", "b") == 0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    return (
        ab.select(F.col("cid").cast("long").alias("cluster_id"), s.alias("s"))
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("s"), 6).alias("avg_sil"),
            F.round(F.min("s"), 6).alias("min_sil"),
            F.round(F.max("s"), 6).alias("max_sil"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# a0072 — chi-square test of independence + Cramér's V over categorical
# column pairs (the association screen run before any categorical
# encoding): three pairs across customer ⋈ orders. Everything after the
# first groupBy is DIMENSION-sized (cells ≤ |a|×|b|); marginals
# broadcast back onto the cell frame, so the fact table is scanned once
# per pair and never re-shuffled. Expected counts are exact integer
# ratios in doubles; chi² rounded to 4, V to 6.
# ---------------------------------------------------------------------------

_CHI_PAIRS = [
    ("c_mktsegment", "o_orderpriority"),
    ("c_mktsegment", "o_orderstatus"),
    ("o_orderpriority", "o_orderstatus"),
]


def _chi2_duck(a: str, b: str) -> str:
    return f"""
      SELECT '{a}->{b}' AS pair, n, r_levels, c_levels,
             CAST((r_levels - 1) * (c_levels - 1) AS BIGINT) AS dof,
             ROUND(chi2, 4) AS chi2,
             ROUND(sqrt(chi2 / (n * LEAST(r_levels - 1, c_levels - 1))), 6) AS cramers_v
      FROM (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT av) AS BIGINT) AS r_levels,
               CAST(COUNT(DISTINCT bv) AS BIGINT) AS c_levels,
               SUM((cnt - rt * ct / tot) * (cnt - rt * ct / tot) / (rt * ct / tot)) AS chi2
        FROM (
          SELECT av, bv, cnt,
                 SUM(cnt) OVER (PARTITION BY av) AS rt,
                 SUM(cnt) OVER (PARTITION BY bv) AS ct,
                 SUM(cnt) OVER () AS tot
          FROM (SELECT {a} AS av, {b} AS bv, COUNT(*) * 1.0 AS cnt
                FROM customer JOIN orders ON c_custkey = o_custkey
                GROUP BY 1, 2)
        )
      )
    """


# Scale rule (100 TB): no data-scaled parameter — the contingency frame
# is bounded by category cardinality (flags x status), so everything
# after the one fact aggregate is constant-sized at any corpus.
@query(
    "a0072_chi2_cramers",
    oracle="\nUNION ALL\n".join(_chi2_duck(a, b) for a, b in _CHI_PAIRS)
    + "\nORDER BY pair",
    description="chi-square independence test + Cramér's V over three categorical pairs (mktsegment × orderpriority / orderstatus, priority × status on customer ⋈ orders): one fact groupBy per pair, then everything is cell-frame-sized (marginals as window sums over ≤|a|×|b| cells); chi² rounded 4, V rounded 6 — the association screen behind every categorical-encoding decision",
)
def a0072_chi2_cramers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderstatus"
    )
    # customer is data-grown (linear in SF): pin merge and let AQE upgrade
    # to broadcast from RUNTIME sizes — a static F.broadcast is a driver
    # memory risk at sf100+ and can never be demoted (the q130 sf10 lesson)
    joined = orders.join(cust.hint("merge"), orders.o_custkey == cust.c_custkey).select(
        "c_mktsegment", "o_orderpriority", "o_orderstatus"
    ).localCheckpoint(eager=False)  # 3 pair scans reuse one fact join

    out = None
    for a, b in _CHI_PAIRS:
        cells = joined.groupBy(F.col(a).alias("av"), F.col(b).alias("bv")).agg(
            (F.count("*") * 1.0).alias("cnt")
        )
        wa, wb, wt = Window.partitionBy("av"), Window.partitionBy("bv"), Window.partitionBy()
        # windows over the <=|a|x|b| CELL frame, never fact rows
        m = cells.select(
            "av",
            "bv",
            "cnt",
            F.sum("cnt").over(wa).alias("rt"),
            F.sum("cnt").over(wb).alias("ct"),
            F.sum("cnt").over(wt).alias("tot"),
        )
        exp = F.col("rt") * F.col("ct") / F.col("tot")
        stat = m.agg(
            F.sum("cnt").cast("long").alias("n"),
            F.countDistinct("av").alias("r_levels"),
            F.countDistinct("bv").alias("c_levels"),
            F.sum((F.col("cnt") - exp) * (F.col("cnt") - exp) / exp).alias("chi2"),
        )
        row = stat.select(
            F.lit(f"{a}->{b}").alias("pair"),
            "n",
            "r_levels",
            "c_levels",
            ((F.col("r_levels") - 1) * (F.col("c_levels") - 1)).cast("long").alias("dof"),
            F.round("chi2", 4).alias("chi2"),
            F.round(
                F.sqrt(F.col("chi2") / (F.col("n") * F.least(F.col("r_levels") - 1, F.col("c_levels") - 1))),
                6,
            ).alias("cramers_v"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("pair")


# ---------------------------------------------------------------------------
# a0073 — Mann-Whitney U rank-sum test (returned vs non-returned line
# items' extended price): the distribution-free two-sample test. Ranks
# are MID-ranks over the distinct-value frame; the prefix sum that
# produces them is SHARDED — a per-bucket running sum (windows
# partitioned by a fixed-width value bucket) plus an exclusive
# bucket-offset cumsum over the ≤128-row bucket frame — the two-pass
# distributed prefix-sum pattern (q109's packing lesson), never a
# global window over data rows. All rank arithmetic is exact in
# doubles (0.5-granular sums far below 2^53), so U and z are
# bit-identical across engines before rounding; tie-corrected normal
# approximation, p from the shared A&S 7.1.26 polynomial.
# ---------------------------------------------------------------------------

_MW_BUCKET_W = 1000.0  # price-space bucket width; <=128 buckets at TPC-H scale
# Abramowitz & Stegun 7.1.26 constants (shared with a0059)
_AS_T = 0.2316419
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)


def _phi_upper_sql(x: str) -> str:
    t = f"(1.0 / (1.0 + {_AS_T} * {x}))"
    poly = " + ".join(f"{b} * power({t}, {i})" for i, b in enumerate(_AS_B, start=1))
    return f"(exp(-({x}) * ({x}) / 2.0) / sqrt(2.0 * pi()) * ({poly}))"


def _phi_upper_spark(x: Column) -> Column:
    t = 1.0 / (1.0 + _AS_T * x)
    poly = None
    for i, b in enumerate(_AS_B, start=1):
        term = F.lit(b) * F.pow(t, F.lit(float(i)))
        poly = term if poly is None else poly + term
    return F.exp(-x * x / 2.0) / F.sqrt(F.lit(2.0) * F.lit(3.141592653589793)) * poly


# Scale rule (100 TB): the knob is the bucket width: keep the bucket
# frame ~4x cluster width so the offset cumsum stays a bounded driver
# frame; the data-sized work is one exchange either way.
@query(
    "a0073_mannwhitney_u",
    oracle=f"""
    WITH rows_in AS (
      SELECT l_extendedprice AS val,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_r
      FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ),
    vals AS (
      SELECT val, COUNT(*) * 1.0 AS cnt, SUM(is_r) * 1.0 AS cnt_r
      FROM rows_in GROUP BY val
    ),
    ranked AS (
      SELECT val, cnt, cnt_r,
             COALESCE(SUM(cnt) OVER (ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (cnt + 1) / 2.0 AS midrank
      FROM vals
    ),
    s AS (
      SELECT SUM(cnt_r) AS n1, SUM(cnt - cnt_r) AS n2, SUM(cnt) AS n,
             SUM(cnt_r * midrank) AS r1,
             SUM(CASE WHEN cnt > 1 THEN cnt * cnt * cnt - cnt ELSE 0 END) AS tie3,
             CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS tied_values
      FROM ranked
    ),
    u AS (
      SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2, tied_values,
             r1 - n1 * (n1 + 1) / 2.0 AS u1,
             n1 * n2 / 2.0 AS mu,
             sqrt(n1 * n2 / 12.0 * ((n + 1) - tie3 / (n * (n - 1)))) AS sd
      FROM s
    )
    SELECT n1, n2, tied_values, ROUND(u1, 1) AS u_stat, ROUND(mu, 1) AS u_mean,
           ROUND((u1 - mu) / sd, 4) AS z_stat,
           ROUND(2.0 * {_phi_upper_sql('abs((u1 - mu) / sd)')}, 6) AS p_value
    FROM u
    """,
    description="Mann-Whitney U rank-sum test of returned ('R') vs non-returned ('N') extended prices: mid-ranks over the distinct-value frame via a SHARDED two-pass prefix sum (per-bucket running window + exclusive offset cumsum over the ≤128-row bucket frame — never a global window over data rows), exact 0.5-granular rank arithmetic (bit-identical cross-engine), tie-corrected normal approximation, two-sided p from the shared A&S 7.1.26 polynomial",
)
def a0073_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-13 reshape + floor adjudication (interleaved A/B at sf1.0:
    # r12 plan 1.61 s -> 1.52 s warm; the r12 shape also recomputed the
    # vals aggregate twice — `b` fed both the window and the btot agg
    # with no checkpoint): ONE data-sized exchange — raw rows
    # repartition(bkt), the (bkt, val) aggregate and BOTH window passes
    # (in-bucket running sum + whole-bucket total) ride that
    # partitioning, and the <=128 bucket offsets are a BOUNDED collect
    # turned into a literal map, so there is no join at all. Floor
    # evidence: BENCH_FLOOR floor_sec 0.618 (half the sf0.1 wall is job
    # floor) and DuckDB's OWN wall is flat across the decade (0.194 at
    # sf0.1 -> 0.18 at sf1.0) — the denominator is floor-typed too, so
    # the raw ratio compares session floors, not data throughput (the
    # a087/q26 artifact class); Spark's marginal across sf0.1->sf1.0 is
    # ~0.3 s for 9x the rows. At 100 TB the knob is the bucket width
    # (keep the bucket frame ~cluster-width x 4; offsets stay a bounded
    # driver frame).
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice", "l_returnflag")
    rows_in = li.filter(F.col("l_returnflag").isin("R", "N")).select(
        F.col("l_extendedprice").alias("val"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_r"),
    )
    r = rows_in.withColumn("bkt", F.floor(F.col("val") / _MW_BUCKET_W).cast("long"))
    vals = (
        r.repartition(F.col("bkt"))
        .groupBy("bkt", "val")
        .agg((F.count("*") * 1.0).alias("cnt"), (F.sum("is_r") * 1.0).alias("cnt_r"))
    )
    # two-pass distributed prefix sum over the distinct-value frame:
    # in-bucket running sums + whole-bucket totals in one WindowExec on
    # the partitioning the rows already have; bucket offsets are an
    # exclusive cumsum over the bounded bucket frame, done driver-side.
    win_in = (
        Window.partitionBy("bkt").orderBy("val").rowsBetween(Window.unboundedPreceding, -1)
    )
    within = vals.select(
        "bkt",
        "val",
        "cnt",
        "cnt_r",
        F.coalesce(F.sum("cnt").over(win_in), F.lit(0.0)).alias("run_in"),
        F.sum("cnt").over(Window.partitionBy("bkt")).alias("bt"),
    ).localCheckpoint(eager=False)  # offsets collect + final agg reuse it
    brows = sorted(
        (row["bkt"], row["bt"])
        for row in within.groupBy("bkt").agg(F.any_value("bt").alias("bt")).collect()
    )
    offs: dict[int, float] = {}
    acc = 0.0
    for bkt, bt in brows:
        offs[bkt] = acc
        acc += bt
    omap = F.create_map(
        *[x for bkt, off in offs.items() for x in (F.lit(bkt), F.lit(off))]
    )
    ranked = within.select(
        "val",
        "cnt",
        "cnt_r",
        (omap[F.col("bkt")] + F.col("run_in") + (F.col("cnt") + 1) / 2.0).alias("midrank"),
    )
    s = ranked.agg(
        F.sum("cnt_r").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt_r")).alias("n2"),
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt_r") * F.col("midrank")).alias("r1"),
        F.sum(
            F.when(F.col("cnt") > 1, F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).otherwise(0.0)
        ).alias("tie3"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).cast("long").alias("tied_values"),
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    mu = F.col("n1") * F.col("n2") / 2.0
    sd = F.sqrt(
        F.col("n1") * F.col("n2") / 12.0
        * ((F.col("n") + 1) - F.col("tie3") / (F.col("n") * (F.col("n") - 1)))
    )
    z = (u1 - mu) / sd
    return s.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        "tied_values",
        F.round(u1, 1).alias("u_stat"),
        F.round(mu, 1).alias("u_mean"),
        F.round(z, 4).alias("z_stat"),
        F.round(2.0 * _phi_upper_spark(F.abs(z)), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# a0074 — binary-segmentation changepoint detection on the daily
# revenue series: for every candidate split t, the variance-reduction
# gain n_l(μ_l−μ)² + n_r(μ_r−μ)² from prefix sums over the
# calendar-bounded daily rollup; top-5 candidates. One pass builds the
# prefix frame; gains are exact (cents prefix sums stay integer-valued
# in doubles) so the ranking is engine-stable; gain rounded to 4.
# This is the first split of the PELT/binseg family — each recursion
# level is the same bounded-frame scan.
# ---------------------------------------------------------------------------

_BS_MIN_SEG = 3
_BS_TOP = 5


# Scale rule (100 TB): no data-scaled parameter — the split search runs
# on the calendar-day rollup, a time-bounded frame (one data-sized
# aggregate feeds it); MIN_SEG/TOP are test-design constants.
@query(
    "a0074_binseg_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(ROUND(SUM(o_totalprice) * 100, 0) AS BIGINT) AS yc
      FROM orders GROUP BY 1
    ),
    pre AS (
      SELECT day,
             ROW_NUMBER() OVER (ORDER BY day) AS rn,
             CAST(SUM(yc) OVER (ORDER BY day) AS DOUBLE) AS cs
      FROM daily
    ),
    tot AS (SELECT COUNT(*) * 1.0 AS n, CAST(SUM(yc) AS DOUBLE) AS s FROM daily),
    gains AS (
      SELECT day, rn, n,
             (rn * (cs / rn - s / n) * (cs / rn - s / n)
              + (n - rn) * ((s - cs) / (n - rn) - s / n) * ((s - cs) / (n - rn) - s / n))
             / 10000.0 AS gain,
             cs / rn / 100.0 AS mean_left, (s - cs) / (n - rn) / 100.0 AS mean_right
      FROM pre CROSS JOIN tot
      WHERE rn >= {_BS_MIN_SEG} AND rn <= n - {_BS_MIN_SEG}
    )
    SELECT day, CAST(rn AS BIGINT) AS t_index,
           CAST(rn AS BIGINT) AS n_left, CAST(n - rn AS BIGINT) AS n_right,
           ROUND(mean_left, 2) AS mean_left, ROUND(mean_right, 2) AS mean_right,
           ROUND(gain, 4) AS gain
    FROM gains
    ORDER BY ROUND(gain, 4) DESC, day
    LIMIT {_BS_TOP}
    """,
    description=f"binary-segmentation changepoint detection on daily revenue: variance-reduction gain n_l(μ_l−μ)²+n_r(μ_r−μ)² for every candidate split from ONE prefix-sum pass over the calendar-bounded daily rollup (cents prefix sums are exact in doubles → engine-stable ranking), min segment {_BS_MIN_SEG}, top-{_BS_TOP} by (gain desc, day) — the first split of the binseg/PELT family, each recursion level the same bounded-frame scan",
)
def a0074_binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    # exact integer CENTS: prefix sums of BIGINTs are association-order-
    # free, so cs/s are bit-identical cross-engine (a float cumsum is
    # not — DuckDB's segment-tree window association differs from
    # Spark's sequential frame; that ulps drift survives ROUND(…,4) at
    # gain magnitudes ~1e8).
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice") * 100, 0).cast("long").alias("yc")
    )
    w = Window.orderBy("day")  # daily rollup spine, calendar-bounded
    pre = daily.select(
        "day",
        F.row_number().over(w).alias("rn"),
        F.sum("yc").over(w).cast("double").alias("cs"),
    )
    tot = daily.agg(
        (F.count("*") * 1.0).alias("n"), F.sum("yc").cast("double").alias("s")
    )
    g = pre.crossJoin(F.broadcast(tot)).filter(
        (F.col("rn") >= _BS_MIN_SEG) & (F.col("rn") <= F.col("n") - _BS_MIN_SEG)
    )
    mean_l = F.col("cs") / F.col("rn")
    mean_r = (F.col("s") - F.col("cs")) / (F.col("n") - F.col("rn"))
    mu = F.col("s") / F.col("n")
    gain = (
        F.col("rn") * (mean_l - mu) * (mean_l - mu)
        + (F.col("n") - F.col("rn")) * (mean_r - mu) * (mean_r - mu)
    ) / 10000.0
    return (
        g.select(
            "day",
            F.col("rn").cast("long").alias("t_index"),
            F.col("rn").cast("long").alias("n_left"),
            (F.col("n") - F.col("rn")).cast("long").alias("n_right"),
            F.round(mean_l / 100.0, 2).alias("mean_left"),
            F.round(mean_r / 100.0, 2).alias("mean_right"),
            F.round(gain, 4).alias("gain"),
        )
        .orderBy(F.desc("gain"), "day")
        .limit(_BS_TOP)
    )


# ---------------------------------------------------------------------------
# a0075 — Benford first-digit audit of the two money columns (the
# fraud/data-quality screen): observed first-significant-digit shares
# vs log10(1 + 1/d), per-digit chi-square contributions. The first
# digit comes from the CENTS INTEGER's decimal string — never from
# float log10, whose 1-ulp engine differences flip FLOOR at powers of
# ten. Group-by-digit is 9 keys per column; one scan per fact table.
# ---------------------------------------------------------------------------


def _benford_duck(table: str, col: str) -> str:
    return f"""
      SELECT '{col}' AS col_name,
             CAST(substr(CAST(CAST(ROUND({col} * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             COUNT(*) AS n
      FROM {table} GROUP BY 1, 2
    """


# Scale rule (100 TB): no data-scaled parameter — the digit frame is 9
# rows; one fact aggregate is the only data-sized stage.
@query(
    "a0075_benford_audit",
    oracle=f"""
    WITH d AS ({_benford_duck('orders', 'o_totalprice')}
               UNION ALL {_benford_duck('lineitem', 'l_extendedprice')}),
    t AS (SELECT col_name, SUM(n) * 1.0 AS tot FROM d GROUP BY 1)
    SELECT d.col_name, d.digit, CAST(d.n AS BIGINT) AS n,
           ROUND(d.n / t.tot, 6) AS obs_share,
           ROUND(ln(1.0 + 1.0 / d.digit) / ln(10.0), 6) AS exp_share,
           ROUND((d.n - t.tot * ln(1.0 + 1.0 / d.digit) / ln(10.0))
                 * (d.n - t.tot * ln(1.0 + 1.0 / d.digit) / ln(10.0))
                 / (t.tot * ln(1.0 + 1.0 / d.digit) / ln(10.0)), 4) AS chi2_term
    FROM d JOIN t USING (col_name)
    ORDER BY col_name, digit
    """,
    description="Benford's-law first-digit audit of o_totalprice and l_extendedprice: first significant digit extracted from the CENTS INTEGER's decimal string (never float log10 — 1-ulp engine differences flip FLOOR at powers of ten), observed share vs log10(1+1/d), per-digit chi-square contributions; 9-key group-by per column, one scan per fact table — the classic fraud/data-quality screen",
)
def a0075_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def digits(table: str, col: str) -> DataFrame:
        t = load_table(spark, sf_dir, table).select(col)
        d = F.substring(
            F.round(F.col(col) * 100).cast("long").cast("string"), 1, 1
        ).cast("long")
        return t.groupBy(F.lit(col).alias("col_name"), d.alias("digit")).agg(
            F.count("*").alias("n")
        )

    d = digits("orders", "o_totalprice").unionByName(
        digits("lineitem", "l_extendedprice")
    )
    t = d.groupBy("col_name").agg((F.sum("n") * 1.0).alias("tot"))
    exp_share = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    exp_n = F.col("tot") * exp_share
    return (
        d.join(F.broadcast(t), "col_name")
        .select(
            "col_name",
            "digit",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("tot"), 6).alias("obs_share"),
            F.round(exp_share, 6).alias("exp_share"),
            F.round((F.col("n") - exp_n) * (F.col("n") - exp_n) / exp_n, 4).alias("chi2_term"),
        )
        .orderBy("col_name", "digit")
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
# a0078 — KMV (k-minimum-values / bottom-k theta) sketch set operations
# over the distinct-buyer sets of the five order priorities: the
# mergeable-sketch family member (next to HLL q117, CMS q119, quantile
# q126) that supports UNION **and INTERSECTION** estimates. Sketch =
# the k smallest md5-derived hash points of each set, built
# HIERARCHICALLY (per-(priority, key-bucket) bottom-k, then a bounded
# merge of 16 k-arrays — the two-level shape that never collects a
# full vocabulary per group); union = bottom-k of the member union,
# intersection = |common below θ|/θ with θ = min(θ_a, θ_b) — the
# standard theta-sketch estimators, audited against exact counts.
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_BUCKETS = 16
_KMV_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_KMV_U_DUCK = (
    "CAST(CAST(CONCAT('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT)"
    " AS DOUBLE) / power(2, 60)"
)


def _kmv_pair_duck(a: str, b: str) -> str:
    k = _KMV_K
    est = lambda s: f"CASE WHEN len({s}) >= {k} THEN ({k} - 1.0) / {s}[{k}] ELSE len({s}) * 1.0 END"  # noqa: E731
    union = f"list_sort(list_distinct(sa.sk || sb.sk))[:{k}]"
    theta = f"LEAST(CASE WHEN len(sa.sk) >= {k} THEN sa.sk[{k}] ELSE 1.0 END, CASE WHEN len(sb.sk) >= {k} THEN sb.sk[{k}] ELSE 1.0 END)"
    return f"""
      SELECT '{a}|{b}' AS pair, sa.n_exact AS n_a, sb.n_exact AS n_b,
             ROUND({est('sa.sk')}, 2) AS est_a, ROUND({est('sb.sk')}, 2) AS est_b,
             x.u_{_KMV_PRIOS.index(a)}_{_KMV_PRIOS.index(b)} AS exact_union,
             ROUND({est(union)}, 2) AS est_union,
             x.i_{_KMV_PRIOS.index(a)}_{_KMV_PRIOS.index(b)} AS exact_intersect,
             ROUND(len(list_filter(list_intersect(sa.sk, sb.sk), z -> z < {theta}))
                   / {theta}, 2) AS est_intersect
      FROM (SELECT * FROM sk WHERE prio = '{a}') sa,
           (SELECT * FROM sk WHERE prio = '{b}') sb, x
    """


def _kmv_oracle() -> str:
    prios = _KMV_PRIOS
    flag_cols = ", ".join(
        f"MAX(CASE WHEN prio = '{p}' THEN 1 ELSE 0 END) AS f{i}"
        for i, p in enumerate(prios)
    )
    pair_aggs = []
    for i in range(len(prios)):
        for j in range(i + 1, len(prios)):
            pair_aggs.append(
                f"CAST(SUM(CASE WHEN f{i} = 1 OR f{j} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u_{i}_{j}"
            )
            pair_aggs.append(
                f"CAST(SUM(f{i} * f{j}) AS BIGINT) AS i_{i}_{j}"
            )
    pair_sqls = "\nUNION ALL\n".join(
        _kmv_pair_duck(prios[i], prios[j])
        for i in range(len(prios))
        for j in range(i + 1, len(prios))
    )
    return f"""
    WITH d AS (SELECT DISTINCT o_orderpriority AS prio, o_custkey,
                      {_KMV_U_DUCK} AS u
               FROM orders),
    sk AS (SELECT prio, (list_sort(list(u)))[:{_KMV_K}] AS sk,
                  CAST(COUNT(*) AS BIGINT) AS n_exact
           FROM (SELECT DISTINCT prio, u, o_custkey FROM d) GROUP BY prio),
    fl AS (SELECT o_custkey, {flag_cols} FROM d GROUP BY o_custkey),
    x AS (SELECT {', '.join(pair_aggs)} FROM fl)
    SELECT * FROM ({pair_sqls}) ORDER BY pair
    """


# Scale rule (100 TB): k controls ACCURACY (rank error ~ 1/sqrt(k)), not
# data cost — the sketch build is one bottom-k per bucket and every
# merged frame stays k-bounded; at 100 TB raise k for precision, never
# for throughput.
@query(
    "a0078_kmv_theta_setops",
    oracle=_kmv_oracle(),
    description=f"KMV/theta bottom-{_KMV_K} sketch set operations over the distinct-buyer sets of the 5 order priorities: hierarchical build (per-(priority, key-bucket) bottom-k, bounded {_KMV_BUCKETS}-array merge — never a full per-group collect), union estimate = bottom-k of member union, intersection = |common below θ|/θ with θ = min(θ_a,θ_b), both audited against exact distinct counts per pair — completes the mergeable-sketch family (HLL/CMS/quantile) with the INTERSECTION estimator only theta sketches give",
)
def a0078_kmv_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _KMV_K
    orders = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    u = (
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10)
        .cast("double")
        / F.pow(F.lit(2.0), F.lit(60.0))
    )
    d = orders.select(
        F.col("o_orderpriority").alias("prio"), F.col("o_custkey").alias("ck"), u.alias("u")
    ).distinct()
    # hierarchical bottom-k: per-(prio, bucket) k smallest, then a
    # bounded merge of <=16 k-arrays per priority (KMV sketches merge
    # by union + truncate — the property that makes them distributable)
    s1 = d.groupBy("prio", (F.col("ck") % _KMV_BUCKETS).alias("bkt")).agg(
        F.slice(F.array_sort(F.collect_set("u")), 1, k).alias("bk")
    )
    sk = s1.groupBy("prio").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("bk"))), 1, k).alias("sk")
    )
    n_exact = d.groupBy("prio").agg(F.countDistinct("ck").alias("n_exact"))
    sk = sk.join(n_exact, "prio").localCheckpoint(eager=True)  # 5-row frame

    # exact per-pair union/intersection audit: one customer-keyed flag
    # frame, one agg row with all 20 pair counts
    flags = d.groupBy("ck").agg(
        *[
            F.max(F.when(F.col("prio") == p, 1).otherwise(0)).alias(f"f{i}")
            for i, p in enumerate(_KMV_PRIOS)
        ]
    )
    pair_aggs = []
    for i in range(len(_KMV_PRIOS)):
        for j in range(i + 1, len(_KMV_PRIOS)):
            pair_aggs.append(
                F.sum(
                    F.when((F.col(f"f{i}") == 1) | (F.col(f"f{j}") == 1), 1).otherwise(0)
                ).cast("long").alias(f"u_{i}_{j}")
            )
            pair_aggs.append(
                F.sum(F.col(f"f{i}") * F.col(f"f{j}")).cast("long").alias(f"i_{i}_{j}")
            )
    x = flags.agg(*pair_aggs)

    def est(s: Column) -> Column:
        return F.when(F.size(s) >= k, (k - 1.0) / F.element_at(s, k)).otherwise(
            F.size(s) * 1.0
        )

    def theta_of(s: Column) -> Column:
        return F.when(F.size(s) >= k, F.element_at(s, k)).otherwise(F.lit(1.0))

    sa = sk.select(
        F.col("prio").alias("pa"), F.col("sk").alias("ska"), F.col("n_exact").alias("n_a")
    )
    sb = sk.select(
        F.col("prio").alias("pb"), F.col("sk").alias("skb"), F.col("n_exact").alias("n_b")
    )
    pairs = (
        sa.crossJoin(sb)
        .filter(F.col("pa") < F.col("pb"))
        .crossJoin(F.broadcast(x))
    )
    union_sk = F.slice(F.array_sort(F.array_distinct(F.concat("ska", "skb"))), 1, k)
    theta = F.least(theta_of(F.col("ska")), theta_of(F.col("skb")))
    common = F.size(F.filter(F.array_intersect("ska", "skb"), lambda z: z < theta))
    exact_u = None
    exact_i = None
    for i in range(len(_KMV_PRIOS)):
        for j in range(i + 1, len(_KMV_PRIOS)):
            cond = (F.col("pa") == _KMV_PRIOS[i]) & (F.col("pb") == _KMV_PRIOS[j])
            eu = F.when(cond, F.col(f"u_{i}_{j}"))
            ei = F.when(cond, F.col(f"i_{i}_{j}"))
            exact_u = eu if exact_u is None else F.coalesce(exact_u, eu)
            exact_i = ei if exact_i is None else F.coalesce(exact_i, ei)
    return (
        pairs.select(
            F.concat_ws("|", "pa", "pb").alias("pair"),
            "n_a",
            "n_b",
            F.round(est(F.col("ska")), 2).alias("est_a"),
            F.round(est(F.col("skb")), 2).alias("est_b"),
            exact_u.alias("exact_union"),
            F.round(est(union_sk), 2).alias("est_union"),
            exact_i.alias("exact_intersect"),
            F.round(common / theta, 2).alias("est_intersect"),
        )
        .orderBy("pair")
    )


# ---------------------------------------------------------------------------
# a0079 — RAKE keyword extraction (Rose et al. 2010) over the English
# corpus: candidate phrases are maximal stopword-free token runs
# (gaps-and-islands: island = pos − rank among non-stop tokens, a
# DOC-PARTITIONED window), capped at 4 words; word score =
# corpus degree/frequency where degree sums the lengths of phrases
# containing the word; phrase score = Σ member word scores. The word-
# score frame is vocabulary-sized and broadcast back onto phrase
# members — the corpus is scanned once.
# ---------------------------------------------------------------------------

_RAKE_STOP = ("a", "the", "of", "to", "and", "in", "is", "on", "for", "with")
_RAKE_MAX_LEN = 4
_RAKE_TOP = 20
_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOP)
_RAKE_TOKS = (
    "list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +'), x -> x <> '')"
)


# Scale rule (100 TB): phrase length cap and stoplist are linguistic
# constants; the only data-sized work is the tokenize + one
# (phrase)-keyed aggregate — vocabulary-bounded after.
@query(
    "a0079_rake_keywords",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_RAKE_TOKS} AS toks FROM documents WHERE lang = 'en'),
    pos AS (
      SELECT doc_id, s['p'] AS pos, s['w'] AS w
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) + 1),
                                         i -> {{'p': i, 'w': toks[i]}})) AS s
            FROM t)
    ),
    ns AS (
      SELECT doc_id, pos, w,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM pos WHERE w NOT IN ({_RAKE_STOP_SQL})
    ),
    ph AS (
      SELECT doc_id, island, list(w ORDER BY pos) AS ws
      FROM ns GROUP BY doc_id, island
      HAVING COUNT(*) <= {_RAKE_MAX_LEN}
    ),
    members AS (SELECT doc_id, island, len(ws) AS plen, unnest(ws) AS w FROM ph),
    wstat AS (
      SELECT w, COUNT(*) * 1.0 AS freq, SUM(plen) * 1.0 AS degree
      FROM members GROUP BY w
    ),
    inst AS (
      SELECT m.doc_id, m.island, array_to_string(any_value(ph.ws), ' ') AS phrase,
             SUM(ws2.degree / ws2.freq) AS score
      FROM members m
      JOIN wstat ws2 ON m.w = ws2.w
      JOIN ph ON ph.doc_id = m.doc_id AND ph.island = m.island
      GROUP BY m.doc_id, m.island
    )
    SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ,
           CAST(len(string_split(phrase, ' ')) AS BIGINT) AS n_words,
           ROUND(MAX(score), 6) AS score
    FROM inst GROUP BY phrase
    ORDER BY ROUND(MAX(score), 6) DESC, phrase
    LIMIT {_RAKE_TOP}
    """,
    description=f"RAKE keyword extraction over the English corpus: maximal stopword-free token runs (gaps-and-islands with a DOC-partitioned window) capped at {_RAKE_MAX_LEN} words, corpus word scores degree/freq (degree = Σ lengths of containing phrases), phrase score = Σ member scores; vocabulary-sized score frame broadcast onto phrase members, one corpus scan; top-{_RAKE_TOP} by (score, phrase)",
)
def a0079_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X

    docs = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    pos = docs.select(
        "doc_id", F.posexplode(X.tokens("text")).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    ns = pos.filter(~F.col("w").isin(*_RAKE_STOP)).withColumn(
        "island",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    ph = (
        ns.groupBy("doc_id", "island")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda s: s["w"]
            ).alias("ws")
        )
        .filter(F.size("ws") <= _RAKE_MAX_LEN)
        .localCheckpoint(eager=False)  # members + instance join reuse it
    )
    members = ph.select(
        "doc_id", "island", F.size("ws").alias("plen"), F.explode("ws").alias("w")
    )
    wstat = members.groupBy("w").agg(
        (F.count("*") * 1.0).alias("freq"), (F.sum("plen") * 1.0).alias("degree")
    )
    inst = (
        members.join(F.broadcast(wstat), "w")
        .groupBy("doc_id", "island")
        .agg(F.sum(F.col("degree") / F.col("freq")).alias("score"))
        .join(ph, ["doc_id", "island"])
        .select(F.concat_ws(" ", "ws").alias("phrase"), "score")
    )
    return (
        inst.groupBy("phrase")
        .agg(
            F.count("*").alias("n_occ"),
            F.round(F.max("score"), 6).alias("score"),
        )
        .select(
            "phrase",
            "n_occ",
            F.size(F.split("phrase", " ")).cast("long").alias("n_words"),
            "score",
        )
        .orderBy(F.desc("score"), "phrase")
        .limit(_RAKE_TOP)
    )


# ---------------------------------------------------------------------------
# a0080 — winnowing fingerprints (Schleimer et al., SIGMOD 2003 — the
# MOSS algorithm): 7-char-gram rolling hashes over the canonical token
# string, minimum per 4-gram window, distinct selected hashes per doc —
# ALL ROW-LOCAL array algebra (no shuffle before the fingerprint
# explode); candidate doc pairs share a fingerprint bucket, capped at
# the 8 lowest doc_ids per bucket (the LSH-cap lesson), ranked by
# shared-fingerprint count. The guarantee winnowing adds over plain
# k-gram sampling: any match ≥ k+w−1 chars is always detected.
# ---------------------------------------------------------------------------

_WIN_K = 7  # gram length (chars)
_WIN_W = 4  # winnowing window (grams)
_WIN_CAP = 8
_WIN_TOP = 20


# Scale rule (100 TB): k/w are fingerprint-density constants (Schleimer's
# guarantee needs them fixed); the per-bucket CAP is the scale guard
# bounding the candidate join at cap^2 per fingerprint bucket.
@query(
    "a0080_winnow_fingerprints",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, array_to_string({_RAKE_TOKS}, ' ') AS s FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(range(1, length(s) - {_WIN_K - 1} + 1),
               i -> CAST(CONCAT('0x', substr(md5(substr(s, CAST(i AS INT), {_WIN_K})), 1, 8)) AS BIGINT)) AS hs
      FROM t WHERE length(s) >= {_WIN_K + _WIN_W - 1}
    ),
    fp AS (
      SELECT DISTINCT doc_id, unnest(
        list_distinct(list_transform(range(1, len(hs) - {_WIN_W - 1} + 1),
          j -> list_min(hs[CAST(j AS INT):CAST(j + {_WIN_W - 1} AS INT)])))) AS f
      FROM h
    ),
    capped AS (
      SELECT f, doc_id
      FROM (SELECT f, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
            FROM fp)
      WHERE rn <= {_WIN_CAP}
    ),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM capped a JOIN capped b ON a.f = b.f AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2, CAST(shared AS BIGINT) AS shared
    FROM pairs ORDER BY shared DESC, d1, d2 LIMIT {_WIN_TOP}
    """,
    description=f"winnowing document fingerprints (MOSS, Schleimer 2003): {_WIN_K}-char-gram md5 hashes over the canonical token string, min per {_WIN_W}-gram window, distinct selections per doc — all row-local array algebra, zero shuffle before the fingerprint explode; doc pairs share a bucket capped at the {_WIN_CAP} lowest doc_ids (LSH-cap lesson), top-{_WIN_TOP} by shared count — guarantees any match ≥ k+w−1 chars is detected, the substring-robust tier between exact hash and MinHash dedup",
)
def a0080_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.concat_ws(" ", X.tokens("text")).alias("s")).filter(
        F.length("s") >= _WIN_K + _WIN_W - 1
    )
    hs = F.transform(
        F.sequence(F.lit(1), F.length("s") - (_WIN_K - 1)),
        lambda i: F.conv(F.substring(F.md5(F.col("s").substr(i, F.lit(_WIN_K))), 1, 8), 16, 10).cast(
            "long"
        ),
    )
    h = t.select("doc_id", hs.alias("hs"))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("hs") - (_WIN_W - 1)),
            lambda j: F.array_min(F.slice(F.col("hs"), j, _WIN_W)),
        )
    )
    fp = h.select("doc_id", F.explode(fps).alias("f")).distinct()
    capped = (
        fp.groupBy("f")
        .agg(F.slice(F.array_sort(F.collect_set("doc_id")), 1, _WIN_CAP).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    ds = F.col("ds")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ds) - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size(ds)),
                lambda j: F.struct(
                    F.element_at(ds, i).alias("d1"), F.element_at(ds, j).alias("d2")
                ),
            ),
        )
    )
    return (
        capped.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"))
        .agg(F.count("*").cast("long").alias("shared"))
        .orderBy(F.desc("shared"), "d1", "d2")
        .limit(_WIN_TOP)
    )


# ---------------------------------------------------------------------------
# a0081 — iterative Grubbs outlier rounds on daily revenue: three
# unrolled rounds of (mean, sd, G = max|y−μ|/s), removing the argmax
# deviation each round — the classical ESD-family screen. The argmax
# key is the EXACT integer |n·yc − s| (cents scaled by the count), so
# tie-breaks are engine-free; only the reported mean/sd/G touch floats
# (second moment summed in doubles, rel error ~1e−12, invisible at the
# emitted rounding). Each round is one aggregate + one TakeOrdered(1)
# over the calendar-bounded daily frame.
# ---------------------------------------------------------------------------

_GRUBBS_ROUNDS = 3


def _grubbs_round_duck(frame: str, r: int) -> str:
    return f"""
    st{r} AS (
      SELECT COUNT(*) * 1.0 AS n, CAST(SUM(yc) AS DOUBLE) AS s,
             SUM(CAST(yc AS DOUBLE) * yc) AS ss
      FROM {frame}
    ),
    pick{r} AS (
      SELECT day, yc, n, s, ss FROM (
        SELECT f.day, f.yc, st.n, st.s, st.ss,
               ROW_NUMBER() OVER (ORDER BY abs(st.n * f.yc - st.s) DESC, f.day) AS rn
        FROM {frame} f CROSS JOIN st{r} st
      ) WHERE rn = 1
    ),
    out{r} AS (
      SELECT {r} AS round, day AS day_removed, CAST(n AS BIGINT) AS n,
             ROUND(s / n / 100.0, 2) AS mean,
             ROUND(sqrt((ss - s * s / n) / (n - 1)) / 100.0, 4) AS sd,
             ROUND(abs(n * yc - s) / n / sqrt((ss - s * s / n) / (n - 1)), 4) AS g_stat
      FROM pick{r}
    ),
    f{r + 1} AS (SELECT f.day, f.yc FROM {frame} f
                 WHERE f.day <> (SELECT day FROM pick{r}))
    """


# Scale rule (100 TB): rounds are test-design (each round removes one
# outlier); each round is one pass, so cost is rounds x one aggregate —
# at 100 TB the knob is rounds, linearly.
@query(
    "a0081_grubbs_outliers",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(ROUND(SUM(o_totalprice) * 100, 0) AS BIGINT) AS yc
      FROM orders GROUP BY 1
    ),
    f1 AS (SELECT day, yc FROM daily),
    {', '.join(_grubbs_round_duck(f'f{r}', r) for r in range(1, _GRUBBS_ROUNDS + 1))}
    SELECT CAST(round AS BIGINT) AS round, day_removed, n, mean, sd, g_stat
    FROM (SELECT * FROM out1 UNION ALL SELECT * FROM out2 UNION ALL SELECT * FROM out3)
    ORDER BY round
    """,
    description=f"iterative Grubbs/ESD outlier screen on daily revenue: {_GRUBBS_ROUNDS} unrolled rounds of (mean, sample sd, G = max|y−μ|/s) each removing the argmax-deviation day — argmax keyed on the EXACT integer |n·yc−s| (no float tie-break), second moment in doubles (rel err ~1e−12, invisible at emitted rounding); one aggregate + one TakeOrdered(1) per round over the calendar-bounded daily frame",
)
def a0081_grubbs_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    frame = (
        od.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.round(F.sum("o_totalprice") * 100, 0).cast("long").alias("yc"))
        .localCheckpoint(eager=False)  # 3 rounds re-filter the same rollup
    )
    out = None
    for r in range(1, _GRUBBS_ROUNDS + 1):
        st = frame.agg(
            (F.count("*") * 1.0).alias("n"),
            F.sum("yc").cast("double").alias("s"),
            F.sum(F.col("yc").cast("double") * F.col("yc")).alias("ss"),
        )
        dev = F.abs(F.col("n") * F.col("yc") - F.col("s"))
        pick = (
            frame.crossJoin(F.broadcast(st))
            .orderBy(F.desc(dev), "day")
            .limit(1)
            .localCheckpoint(eager=True)  # 1-row frame, reused twice
        )
        var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
        row = pick.select(
            F.lit(r).cast("long").alias("round"),
            F.col("day").alias("day_removed"),
            F.col("n").cast("long").alias("n"),
            F.round(F.col("s") / F.col("n") / 100.0, 2).alias("mean"),
            F.round(F.sqrt(var) / 100.0, 4).alias("sd"),
            F.round(dev / F.col("n") / F.sqrt(var), 4).alias("g_stat"),
        )
        out = row if out is None else out.unionByName(row)
        frame = frame.join(F.broadcast(pick.select("day")), "day", "left_anti")
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# a0082 — Bloom-filter semi-join reduction (the runtime-filter pattern
# every distributed engine applies to selective joins): the BUILDING-
# segment customer keys collapse to a 4096-bit Bloom bitmap (m/64 = 64
# long words, a driver-bounded literal); the orders fact probes it as a
# PURE PROJECTION inside the scan's codegen span — no join, no shuffle
# — and only bloom-passing rows would reach the real join. The query
# audits exactly what the optimizer would want to know: pass rate,
# true-semi-join rate, and the measured false-positive rate vs the
# (1−e^(−kn/m))^k theory. Bloom machinery shared with q115
# (operators/dedup.py bloom_*, single-digest k<=4 positions).
# ---------------------------------------------------------------------------

_BSJ_M, _BSJ_K = 4096, 3


def _bsj_pos_sql(g: str, j: str) -> str:
    return f"CAST(CONCAT('0x', substr(md5({g}), 1 + 8 * {j}, 8)) AS BIGINT) % {_BSJ_M}"


# Scale rule (100 TB): m scales with DISTINCT probe keys (constant
# bits/key at fixed fpr) — at 100 TB size m from an approx distinct count
# and keep k = m/n*ln2; the filter stays a broadcast bitset as long as
# m/8 fits an executor broadcast, else switch to the partitioned-bitset
# variant (q115's layout).
@query(
    "a0082_bloom_semijoin",
    oracle=f"""
    WITH dim AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS key, c_custkey
                 FROM customer WHERE c_mktsegment = 'BUILDING'),
    bl AS (SELECT DISTINCT {_bsj_pos_sql('key', 'r.j')} AS pos
           FROM dim CROSS JOIN range(0, {_BSJ_K}) r(j)),
    probe AS (
      SELECT o_orderkey, o_custkey,
             SUM(CASE WHEN {_bsj_pos_sql("CAST(o_custkey AS VARCHAR)", 'r.j')}
                          IN (SELECT pos FROM bl) THEN 1 ELSE 0 END) AS h
      FROM orders CROSS JOIN range(0, {_BSJ_K}) r(j)
      GROUP BY 1, 2
    ),
    m AS (
      SELECT COUNT(*) * 1.0 AS n_fact,
             SUM(CASE WHEN h = {_BSJ_K} THEN 1 ELSE 0 END) * 1.0 AS n_pass,
             SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM dim) THEN 1 ELSE 0 END) * 1.0 AS n_true
      FROM probe
    )
    SELECT CAST(n_fact AS BIGINT) AS n_fact,
           CAST((SELECT COUNT(*) FROM dim) AS BIGINT) AS n_dim,
           CAST(n_pass AS BIGINT) AS n_pass_bloom,
           CAST(n_true AS BIGINT) AS n_true_semi,
           CAST(n_pass - n_true AS BIGINT) AS n_false_pos,
           ROUND((n_pass - n_true) / (n_fact - n_true), 6) AS fp_rate,
           ROUND(n_pass / n_fact, 6) AS pass_rate,
           ROUND(POWER(1.0 - EXP(-{_BSJ_K}.0 * (SELECT COUNT(*) FROM dim) / {_BSJ_M}.0), {_BSJ_K}.0), 6) AS fpr_theory
    FROM m
    """,
    description=f"Bloom-filter semi-join reduction audit (the runtime-filter pattern for selective joins): BUILDING-segment customer keys collapse to a {_BSJ_M}-bit bitmap ({_BSJ_M // 64} long words, driver-bounded literal) probed as a PURE PROJECTION in the orders scan's codegen span — no join, no shuffle on the fact side; reports pass rate, true semi-join rate, measured FP rate vs the (1−e^(−kn/m))^k theory; bloom machinery shared with q115",
)
def a0082_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    cust = load_table(spark, sf_dir, "customer")
    dim = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").cast("string").alias("key"), "c_custkey"
    )
    bits = D.bloom_bits(D.bloom_bitset(dim, "key", _BSJ_M, _BSJ_K), _BSJ_M)
    n_dim = dim.count()  # scalar: dim-side cardinality (bounded)
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    passes = D.bloom_maybe(F.col("o_custkey").cast("string"), bits, _BSJ_M, _BSJ_K)
    truth = orders.join(
        # dim is a data-grown customer subset: merge-pin, AQE upgrades to
        # broadcast at runtime while small (the q130 sf10 lesson)
        dim.select("c_custkey").distinct().hint("merge"),
        orders.o_custkey == F.col("c_custkey"),
        "left",
    ).select(
        passes.cast("int").alias("p"), F.col("c_custkey").isNotNull().cast("int").alias("t")
    )
    m = truth.agg(
        (F.count("*") * 1.0).alias("n_fact"),
        (F.sum("p") * 1.0).alias("n_pass"),
        (F.sum("t") * 1.0).alias("n_true"),
    )
    import math

    fpr_theory = round(
        (1.0 - math.exp(-_BSJ_K * n_dim / _BSJ_M)) ** _BSJ_K, 6
    )
    return m.select(
        F.col("n_fact").cast("long").alias("n_fact"),
        F.lit(n_dim).cast("long").alias("n_dim"),
        F.col("n_pass").cast("long").alias("n_pass_bloom"),
        F.col("n_true").cast("long").alias("n_true_semi"),
        (F.col("n_pass") - F.col("n_true")).cast("long").alias("n_false_pos"),
        F.round((F.col("n_pass") - F.col("n_true")) / (F.col("n_fact") - F.col("n_true")), 6).alias("fp_rate"),
        F.round(F.col("n_pass") / F.col("n_fact"), 6).alias("pass_rate"),
        F.lit(fpr_theory).alias("fpr_theory"),
    )


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
# a0084 — uplift analysis by engagement segment (the two-model
# difference test behind every treatment rollout): a deterministic
# md5 coin assigns each user to treatment/control; outcome = heavy
# purchaser (≥ threshold purchase events); segments = fixed
# engagement tiers. Per tier: conversion rates, uplift, pooled
# two-proportion z and its A&S p-value. One user-keyed aggregate,
# then everything is tier-frame-sized.
# ---------------------------------------------------------------------------

_UPLIFT_HEAVY = 14
_UPLIFT_T1, _UPLIFT_T2 = 60, 75


# Scale rule (100 TB): tier thresholds and the heavy-purchaser cutoff are
# domain constants; one user-keyed aggregate is the only data-sized
# stage, and the tier frame is 3 rows at any corpus.
@query(
    "a0084_uplift_segments",
    oracle=f"""
    WITH u AS (
      SELECT user_id, COUNT(*) AS n_events,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purch,
             CAST(CONCAT('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 2 AS trt
      FROM events GROUP BY user_id
    ),
    seg AS (
      SELECT CASE WHEN n_events < {_UPLIFT_T1} THEN '1-low'
                  WHEN n_events < {_UPLIFT_T2} THEN '2-mid'
                  ELSE '3-high' END AS tier,
             trt, CASE WHEN n_purch >= {_UPLIFT_HEAVY} THEN 1 ELSE 0 END AS conv
      FROM u
    ),
    agg AS (
      SELECT tier,
             SUM(CASE WHEN trt = 1 THEN 1 ELSE 0 END) * 1.0 AS nt,
             SUM(CASE WHEN trt = 1 THEN conv ELSE 0 END) * 1.0 AS kt,
             SUM(CASE WHEN trt = 0 THEN 1 ELSE 0 END) * 1.0 AS nc,
             SUM(CASE WHEN trt = 0 THEN conv ELSE 0 END) * 1.0 AS kc
      FROM seg GROUP BY tier
    ),
    z AS (
      SELECT tier, nt, kt, nc, kc,
             CASE WHEN nt = 0 OR nc = 0 OR kt + kc = 0 OR kt + kc = nt + nc THEN 0.0
                  ELSE (kt / nt - kc / nc)
                       / sqrt((kt + kc) / (nt + nc) * (1.0 - (kt + kc) / (nt + nc))
                              * (1.0 / nt + 1.0 / nc))
             END AS zs
      FROM agg
    )
    SELECT tier, CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_ctrl,
           CASE WHEN nt > 0 THEN ROUND(kt / nt, 6) END AS cr_treat,
           CASE WHEN nc > 0 THEN ROUND(kc / nc, 6) END AS cr_ctrl,
           CASE WHEN nt > 0 AND nc > 0 THEN ROUND(kt / nt - kc / nc, 6) END AS uplift,
           ROUND(zs, 4) AS z_stat,
           ROUND(2.0 * {_phi_upper_sql('abs(zs)')}, 6) AS p_value
    FROM z ORDER BY tier
    """,
    description=f"uplift analysis by engagement tier: deterministic md5 coin assigns treatment, outcome = heavy purchaser (≥{_UPLIFT_HEAVY} purchase events), fixed engagement tiers (<{_UPLIFT_T1}/<{_UPLIFT_T2}/rest events); per tier conversion rates, uplift, pooled two-proportion z + A&S p-value — one user-keyed aggregate, then tier-frame-sized algebra; the two-model difference test behind treatment rollouts",
)
def a0084_uplift_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    u = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purch"),
    )
    trt = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10).cast("long")
        % 2
    )
    seg = u.select(
        F.when(F.col("n_events") < _UPLIFT_T1, "1-low")
        .when(F.col("n_events") < _UPLIFT_T2, "2-mid")
        .otherwise("3-high")
        .alias("tier"),
        trt.alias("trt"),
        F.when(F.col("n_purch") >= _UPLIFT_HEAVY, 1).otherwise(0).alias("conv"),
    )
    agg = seg.groupBy("tier").agg(
        (F.sum(F.when(F.col("trt") == 1, 1).otherwise(0)) * 1.0).alias("nt"),
        (F.sum(F.when(F.col("trt") == 1, F.col("conv")).otherwise(0)) * 1.0).alias("kt"),
        (F.sum(F.when(F.col("trt") == 0, 1).otherwise(0)) * 1.0).alias("nc"),
        (F.sum(F.when(F.col("trt") == 0, F.col("conv")).otherwise(0)) * 1.0).alias("kc"),
    )
    pool = (F.col("kt") + F.col("kc")) / (F.col("nt") + F.col("nc"))
    zs = F.when(
        (F.col("nt") == 0)
        | (F.col("nc") == 0)
        | (F.col("kt") + F.col("kc") == 0)
        | (F.col("kt") + F.col("kc") == F.col("nt") + F.col("nc")),
        F.lit(0.0),
    ).otherwise(
        (F.col("kt") / F.col("nt") - F.col("kc") / F.col("nc"))
        / F.sqrt(pool * (1.0 - pool) * (1.0 / F.col("nt") + 1.0 / F.col("nc")))
    )
    z = agg.withColumn("zs", zs)
    return z.select(
        "tier",
        F.col("nt").cast("long").alias("n_treat"),
        F.col("nc").cast("long").alias("n_ctrl"),
        F.when(F.col("nt") > 0, F.round(F.col("kt") / F.col("nt"), 6)).alias("cr_treat"),
        F.when(F.col("nc") > 0, F.round(F.col("kc") / F.col("nc"), 6)).alias("cr_ctrl"),
        F.when(
            (F.col("nt") > 0) & (F.col("nc") > 0),
            F.round(F.col("kt") / F.col("nt") - F.col("kc") / F.col("nc"), 6),
        ).alias("uplift"),
        F.round("zs", 4).alias("z_stat"),
        F.round(2.0 * _phi_upper_spark(F.abs(F.col("zs"))), 6).alias("p_value"),
    ).orderBy("tier")


# ---------------------------------------------------------------------------
# a0085 — TF-IDF keyword ranking per language: score(lang, w) =
# Σ_docs tf(w, d)·idf(w) with tf = count/doc_len and idf = ln(N/df)
# over the whole corpus — the classic term-weighting complement to
# BM25 retrieval (a0168) and weighted log-odds (a0115). Shapes: one
# corpus tokenize, a (doc, word) count, a vocabulary-sized df frame
# broadcast back, and a per-lang top-10 via the rank-limit window
# (WindowGroupLimit pushes the limit into the sort — no full vocab
# sort materializes).
# ---------------------------------------------------------------------------

_TFIDF_TOP = 10


@query(
    "a0085_tfidf_keywords",
    oracle=f"""
    WITH d AS (SELECT doc_id, lang, {_RAKE_TOKS} AS toks FROM documents),
    n AS (SELECT COUNT(*) * 1.0 AS n_docs FROM d),
    rows_w AS (SELECT doc_id, lang, len(toks) * 1.0 AS dlen, unnest(toks) AS w FROM d),
    tf AS (SELECT doc_id, lang, w, dlen, COUNT(*) * 1.0 AS cnt
           FROM rows_w GROUP BY doc_id, lang, w, dlen),
    df AS (SELECT w, COUNT(DISTINCT doc_id) * 1.0 AS df FROM rows_w GROUP BY w),
    sc AS (
      -- idf is constant per w, so it FACTORS out of the doc sum:
      -- SUM(cnt/dlen * ln(N/df)) = SUM(cnt/dlen) * ln(N/df) — spelled
      -- in the factored form on both engines so the only
      -- reassociation left is the shared SUM
      SELECT lang, w, CAST(ANY_VALUE(df.df) AS BIGINT) AS doc_freq,
             ROUND(SUM(tf.cnt / tf.dlen) * ln((SELECT n_docs FROM n) / ANY_VALUE(df.df)), 6) AS score
      FROM tf JOIN df USING (w)
      GROUP BY lang, w
    )
    SELECT lang, w AS token, doc_freq, score,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, w) AS rk
          FROM sc)
    WHERE rk <= {_TFIDF_TOP}
    ORDER BY lang, rank
    """,
    description=f"TF-IDF keyword ranking per language: Σ_docs (count/doc_len)·ln(N/df) — per-doc term counts are ROW-LOCAL (array_sort + run-length boundaries, no (doc,word) shuffle), ONE (lang,word)-keyed aggregate feeds both df (= Σ_lang doc counts) and the score sum, idf factored out of the doc sum on both engines, per-lang top-{_TFIDF_TOP} via the rank-limit window; scores rounded to 6 BEFORE ranking with token tie-breaks, the a0229 float-tie lesson",
)
def a0085_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-13 reshape (interleaved A/B at sf1.0: r12 plan 5.16 s ->
    # 3.61 s warm in one session; stage decomposition: tokenize alone
    # 0.17 s, explode to 2.7M token rows 1.37 s, the (doc, w) shuffle
    # agg 3.29 s): per-doc term counts are ROW-LOCAL — a doc's tokens
    # live in one array — so array_sort + run-length boundaries replace
    # explode + groupBy(doc, w): the plan emits 1.16M pre-counted
    # (lang, dlen, w, cnt) rows instead of 2.7M raw tokens and the
    # (doc, w) exchange disappears entirely. df(w) = Σ_lang of the
    # per-(lang, w) doc counts, so ONE data-sized aggregate feeds both
    # the df frame and the score sum (the checkpointed frame is
    # vocab-x-lang sized, not corpus-sized). idf factors out of the doc
    # sum (constant per w) — both engines spell the factored form.
    # At 100 TB the knob is none: one input-sized explode, one
    # (lang, w)-keyed exchange, vocabulary-bounded frames after.
    from ..operators import text as X

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", X.tokens("text").alias("toks")
    )
    n = docs.agg((F.count("*") * 1.0).alias("n_docs"))
    d2 = docs.select(
        "lang", (F.size("toks") * 1.0).alias("dlen"), F.array_sort("toks").alias("st")
    )
    idxs = F.filter(
        F.sequence(F.lit(1), F.size("st")),
        lambda i: (i == 1) | (F.element_at("st", i) != F.element_at("st", i - 1)),
    )
    d3 = d2.select("lang", "dlen", F.col("st"), idxs.alias("idxs"))
    pairs = F.transform(
        "idxs",
        lambda x, j: F.struct(
            F.element_at("st", x).alias("w"),
            (F.coalesce(F.try_element_at("idxs", j + F.lit(2)), F.size("st") + 1) - x)
            .cast("double")
            .alias("cnt"),
        ),
    )
    g = (
        d3.select("lang", "dlen", F.explode(pairs).alias("p"))
        .groupBy("lang", F.col("p.w").alias("w"))
        .agg(F.count("*").alias("c"), F.sum(F.col("p.cnt") / F.col("dlen")).alias("s"))
        .localCheckpoint(eager=False)  # vocab-x-lang sized, feeds df + score
    )
    df = g.groupBy("w").agg(F.sum("c").cast("double").alias("df"))
    sc = (
        g.join(F.broadcast(df), "w")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "w",
            F.col("df").cast("long").alias("doc_freq"),
            F.round(F.col("s") * F.log(F.col("n_docs") / F.col("df")), 6).alias("score"),
        )
    )
    wr = Window.partitionBy("lang").orderBy(F.desc("score"), "w")
    return (
        sc.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _TFIDF_TOP)
        .select("lang", F.col("w").alias("token"), "doc_freq", "score", F.col("rk").cast("long").alias("rank"))
        .orderBy("lang", "rank")
    )


# ---------------------------------------------------------------------------
# a0086 — Spearman rank correlation over three lineitem column pairs:
# Pearson on MID-ranks, the tie-correct formulation. Mid-ranks come
# from the same sharded two-pass prefix sum as a0073 (per-bucket
# running window + bounded offset cumsum), then join back onto the
# fact rows as a value-keyed rank map — an equi-join on the value the
# row already carries, so the fact table shuffles once per column.
# Rank sums are 0.25-granular and stay exact in doubles at these
# scales; ρ rounded to 6.
# ---------------------------------------------------------------------------

_SP_PAIRS = [
    ("l_quantity", "l_discount", 10.0, 0.01),
    ("l_quantity", "l_extendedprice", 10.0, 1000.0),
    ("l_discount", "l_tax", 0.01, 0.01),
]


def _sp_rank_duck(col: str) -> str:
    return f"""
      SELECT val, COALESCE(SUM(cnt) OVER (ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (cnt + 1) / 2.0 AS mr
      FROM (SELECT {col} AS val, COUNT(*) * 1.0 AS cnt FROM lineitem GROUP BY 1)
    """


def _sp_pair_duck(a: str, b: str) -> str:
    return f"""
      SELECT '{a}~{b}' AS pair, CAST(COUNT(*) AS BIGINT) AS n,
             ROUND((COUNT(*) * SUM(ra.mr * rb.mr) - SUM(ra.mr) * SUM(rb.mr))
                   / sqrt((COUNT(*) * SUM(ra.mr * ra.mr) - SUM(ra.mr) * SUM(ra.mr))
                          * (COUNT(*) * SUM(rb.mr * rb.mr) - SUM(rb.mr) * SUM(rb.mr))), 6)
               AS rho
      FROM lineitem l
      JOIN ({_sp_rank_duck(a)}) ra ON l.{a} = ra.val
      JOIN ({_sp_rank_duck(b)}) rb ON l.{b} = rb.val
    """


# Scale rule (100 TB): same two-pass prefix-sum machinery as a0073 — the
# knob is the rank-bucket width (keep the offset frame driver-bounded);
# rank join-back shuffles the fact once per column pair.
@query(
    "a0086_spearman_corr",
    oracle="\nUNION ALL\n".join(_sp_pair_duck(a, b) for a, b, _, _ in _SP_PAIRS)
    + "\nORDER BY pair",
    description="Spearman rank correlation (Pearson on tie-correct MID-ranks) over three lineitem pairs: mid-ranks from the a0073 sharded two-pass prefix sum (bucket-partitioned running window + bounded offset cumsum), joined back as a value-keyed rank map (equi-join on the value the row carries — one fact shuffle per column); 0.25-granular rank sums stay exact in doubles, ρ rounded 6",
)
def a0086_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def rank_map(col: str, width: float) -> DataFrame:
        vals = li.groupBy(F.col(col).alias("val")).agg((F.count("*") * 1.0).alias("cnt"))
        b = vals.withColumn("bkt", F.floor(F.col("val") / width).cast("long"))
        win_in = (
            Window.partitionBy("bkt").orderBy("val").rowsBetween(Window.unboundedPreceding, -1)
        )
        within = b.withColumn("run_in", F.coalesce(F.sum("cnt").over(win_in), F.lit(0.0)))
        wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
        boff = (
            b.groupBy("bkt")
            .agg(F.sum("cnt").alias("btot"))
            .select("bkt", F.coalesce(F.sum("btot").over(wb), F.lit(0.0)).alias("off"))
        )
        return within.join(F.broadcast(boff), "bkt").select(
            "val", (F.col("off") + F.col("run_in") + (F.col("cnt") + 1) / 2.0).alias("mr")
        )

    out = None
    for a, b, wa, wb_ in _SP_PAIRS:
        ra = rank_map(a, wa).withColumnRenamed("mr", "ra").withColumnRenamed("val", "va")
        rb = rank_map(b, wb_).withColumnRenamed("mr", "rb").withColumnRenamed("val", "vb")
        j = (
            li.select(F.col(a).alias("va"), F.col(b).alias("vb"))
            .join(ra, "va")
            .join(F.broadcast(rb) if b in ("l_discount", "l_tax") else rb, "vb")
        )
        s = j.agg(
            F.count("*").alias("n"),
            F.sum("ra").alias("sa"),
            F.sum("rb").alias("sb"),
            F.sum(F.col("ra") * F.col("rb")).alias("sab"),
            F.sum(F.col("ra") * F.col("ra")).alias("saa"),
            F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
        )
        rho = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")) / F.sqrt(
            (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
            * (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
        )
        row = s.select(
            F.lit(f"{a}~{b}").alias("pair"),
            F.col("n").cast("long").alias("n"),
            F.round(rho, 6).alias("rho"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("pair")


# ---------------------------------------------------------------------------
# a0087 — Kendall tau-b between daily revenue and daily order count:
# the O(n²) concordance test run where it belongs — on the CALENDAR-
# BOUNDED daily rollup (≤ ~2400 days → ≤ ~2.9M pairs regardless of
# fact volume; the aggregate-first design that makes a quadratic
# statistic 100 TB-safe). Pairs via a d1 < d2 self-join of the rollup
# (broadcast nested-loop on the bounded frame), all counts exact
# integers; tie-corrected τ_b rounded to 6.
# ---------------------------------------------------------------------------


# Scale rule (100 TB): no data-scaled parameter — tau-b runs on the
# calendar-day rollup (time-bounded frame); the day-pair explode is
# bounded by days^2, not N.
@query(
    "a0087_kendall_tau_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(ROUND(SUM(o_totalprice) * 100, 0) AS BIGINT) AS yc,
             COUNT(*) AS oc
      FROM orders GROUP BY 1
    ),
    p AS (
      SELECT CASE WHEN (b.yc - a.yc) * (b.oc - a.oc) > 0 THEN 1 ELSE 0 END AS conc,
             CASE WHEN (b.yc - a.yc) * (b.oc - a.oc) < 0 THEN 1 ELSE 0 END AS disc,
             CASE WHEN a.yc = b.yc THEN 1 ELSE 0 END AS tie_y,
             CASE WHEN a.oc = b.oc THEN 1 ELSE 0 END AS tie_c
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    s AS (
      SELECT COUNT(*) * 1.0 AS n0, SUM(conc) * 1.0 AS c, SUM(disc) * 1.0 AS d,
             SUM(tie_y) * 1.0 AS ty, SUM(tie_c) * 1.0 AS tc,
             CAST(SUM(conc) AS BIGINT) AS ci, CAST(SUM(disc) AS BIGINT) AS di,
             CAST(SUM(tie_y) AS BIGINT) AS tyi, CAST(SUM(tie_c) AS BIGINT) AS tci
      FROM p
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST(n0 AS BIGINT) AS n_pairs, ci AS concordant, di AS discordant,
           tyi AS ties_revenue, tci AS ties_count,
           ROUND((c - d) / sqrt((n0 - ty) * (n0 - tc)), 6) AS tau_b
    FROM s
    """,
    description="Kendall tau-b between daily revenue and daily order count: the quadratic concordance statistic computed AGGREGATE-FIRST on the calendar-bounded daily rollup (≤ ~2400 days → ≤ ~2.9M pairs regardless of fact volume — what makes an O(n²) test 100 TB-safe); d1<d2 self-join on the bounded frame, exact integer counts, tie-corrected τ_b rounded 6",
)
def a0087_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = (
        od.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.round(F.sum("o_totalprice") * 100, 0).cast("long").alias("yc"),
            F.count("*").alias("oc"),
        )
        .localCheckpoint(eager=False)  # both pair sides + the day count reuse it
    )
    a = daily.select(
        F.col("day").alias("d1"), F.col("yc").alias("y1"), F.col("oc").alias("c1")
    )
    b = daily.select(
        F.col("day").alias("d2"), F.col("yc").alias("y2"), F.col("oc").alias("c2")
    )
    p = a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
    prod = (F.col("y2") - F.col("y1")) * (F.col("c2") - F.col("c1"))
    s = p.agg(
        (F.count("*") * 1.0).alias("n0"),
        (F.sum(F.when(prod > 0, 1).otherwise(0)) * 1.0).alias("c"),
        (F.sum(F.when(prod < 0, 1).otherwise(0)) * 1.0).alias("d"),
        (F.sum(F.when(F.col("y1") == F.col("y2"), 1).otherwise(0)) * 1.0).alias("ty"),
        (F.sum(F.when(F.col("c1") == F.col("c2"), 1).otherwise(0)) * 1.0).alias("tc"),
    )
    n_days = daily.agg(F.count("*").alias("nd"))
    return s.crossJoin(F.broadcast(n_days)).select(
        F.col("nd").cast("long").alias("n_days"),
        F.col("n0").cast("long").alias("n_pairs"),
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        F.col("ty").cast("long").alias("ties_revenue"),
        F.col("tc").cast("long").alias("ties_count"),
        F.round(
            (F.col("c") - F.col("d"))
            / F.sqrt((F.col("n0") - F.col("ty")) * (F.col("n0") - F.col("tc"))),
            6,
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# a0088 — Lorenz curve deciles + Gini coefficient of customer spend
# concentration: the inequality audit behind every "top-X% of
# customers drive Y% of revenue" claim. Ranks over the spend-value
# frame come from the sharded two-pass prefix sum (a0073 pattern);
# Gini uses the exact mid-rank mean-difference identity
# G = 2·Σ r_i·x_i / (n·Σx) − (n+1)/n — one aggregate, no pair
# expansion; deciles cut the EXCLUSIVE cumulative population count
# (exact integers, engine-free boundaries).
# ---------------------------------------------------------------------------

_LZ_BUCKET_W = 1e7  # cents (= $100k) per rank bucket


# Scale rule (100 TB): the knob is the cent-bucket width (a0073's rule):
# buckets ~4x cluster width keeps the offset cumsum bounded; the Lorenz
# accumulation is exact integer cents below one exchange.
@query(
    "a0088_lorenz_gini",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey, CAST(ROUND(SUM(o_totalprice) * 100, 0) AS BIGINT) AS sc
      FROM orders GROUP BY 1
    ),
    vals AS (SELECT sc, COUNT(*) * 1.0 AS cnt FROM cust GROUP BY sc),
    ranked AS (
      SELECT sc, cnt,
             COALESCE(SUM(cnt) OVER (ORDER BY sc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl,
             COALESCE(SUM(cnt) OVER (ORDER BY sc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (cnt + 1) / 2.0 AS mr
      FROM vals
    ),
    tot AS (SELECT SUM(cnt) AS n, SUM(sc * cnt) AS s,
                   SUM(mr * sc * cnt) AS rs
            FROM ranked),
    dec AS (
      SELECT LEAST(10, CAST(FLOOR(10.0 * cum_excl / (SELECT n FROM tot)) AS BIGINT) + 1) AS decile,
             SUM(cnt) AS n_customers, SUM(sc * cnt) AS spend
      FROM ranked GROUP BY 1
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_customers AS BIGINT) AS n_customers,
           ROUND(spend / (SELECT s FROM tot), 6) AS spend_share,
           ROUND(SUM(spend) OVER (ORDER BY decile) / (SELECT s FROM tot), 6) AS cum_share,
           ROUND(2.0 * (SELECT rs FROM tot) / ((SELECT n FROM tot) * (SELECT s FROM tot))
                 - ((SELECT n FROM tot) + 1) / (SELECT n FROM tot), 6) AS gini
    FROM dec
    ORDER BY decile
    """,
    description="Lorenz deciles + Gini of customer spend concentration: value-frame mid-ranks from the sharded two-pass prefix sum (a0073 pattern), exact mean-difference identity G = 2Σr·x/(nΣx) − (n+1)/n (one aggregate, no pair expansion), deciles cut the exclusive cumulative population count (exact integer boundaries); cumulative shares over the 10-row decile frame",
)
def a0088_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = od.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice") * 100, 0).cast("long").alias("sc")
    )
    vals = cust.groupBy("sc").agg((F.count("*") * 1.0).alias("cnt"))
    b = vals.withColumn("bkt", F.floor(F.col("sc") / _LZ_BUCKET_W).cast("long"))
    win_in = (
        Window.partitionBy("bkt").orderBy("sc").rowsBetween(Window.unboundedPreceding, -1)
    )
    within = b.withColumn("run_in", F.coalesce(F.sum("cnt").over(win_in), F.lit(0.0)))
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    boff = (
        b.groupBy("bkt")
        .agg(F.sum("cnt").alias("btot"))
        .select("bkt", F.coalesce(F.sum("btot").over(wb), F.lit(0.0)).alias("off"))
    )
    ranked = (
        within.join(F.broadcast(boff), "bkt")
        .select(
            "sc",
            "cnt",
            (F.col("off") + F.col("run_in")).alias("cum_excl"),
            (F.col("off") + F.col("run_in") + (F.col("cnt") + 1) / 2.0).alias("mr"),
        )
        .localCheckpoint(eager=False)  # totals + decile rollup reuse it
    )
    tot = ranked.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("sc") * F.col("cnt")).alias("s"),
        F.sum(F.col("mr") * F.col("sc") * F.col("cnt")).alias("rs"),
    )
    dec = (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(
            F.least(
                F.lit(10), F.floor(10.0 * F.col("cum_excl") / F.col("n")).cast("long") + 1
            ).alias("decile")
        )
        .agg(F.sum("cnt").alias("n_customers"), F.sum(F.col("sc") * F.col("cnt")).alias("spend"))
    )
    wd = Window.orderBy("decile")  # 10-row decile frame
    gini = (
        2.0 * F.col("rs") / (F.col("n") * F.col("s")) - (F.col("n") + 1) / F.col("n")
    )
    return (
        dec.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("n_customers").cast("long").alias("n_customers"),
            F.round(F.col("spend") / F.col("s"), 6).alias("spend_share"),
            F.round(F.sum("spend").over(wd) / F.col("s"), 6).alias("cum_share"),
            F.round(gini, 6).alias("gini"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# a0089 — distributed MRL quantile summary (Manku-Rajagopalan-Lindsay,
# SIGMOD '98 — the batch ancestor of KLL): each of S=32 md5 shards
# sorts locally and keeps every ⌈n_s/k⌉-th value with that weight
# (rank error ≤ n_s/k per shard); the merged S·k-row summary (a
# CONSTANT-bounded frame) answers any quantile with rank error
# ≤ N/k + S·step/2 ≈ N(1/k + 1/(2·⌈N/S⌉/k·S))… bounded by 2N/k. The
# whole construction is RELATIONAL (shard-partitioned rank window +
# modular sampling + bounded-frame cumulative weights), so the DuckDB
# oracle replays it EXACTLY — unlike randomized KLL, the sketch is
# value-hash-verifiable, and the query also audits the true rank error
# of every estimate against the exact distribution.
# ---------------------------------------------------------------------------

_MRL_SHARDS = 32
_MRL_K = 64
_MRL_QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


@query(
    "a0089_mrl_quantile_summary",
    oracle=f"""
    WITH rows_in AS (
      SELECT l_extendedprice AS val,
             CAST(CONCAT('0x', substr(md5(CAST(l_orderkey AS VARCHAR) || '#' ||
                                          CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT)
               % {_MRL_SHARDS} AS shard,
             l_orderkey AS k1, l_linenumber AS k2
      FROM lineitem
    ),
    ranked AS (
      SELECT val, shard,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY val, k1, k2) AS rn,
             COUNT(*) OVER (PARTITION BY shard) AS ns
      FROM rows_in
    ),
    sampled AS (
      SELECT val, shard, CAST(CEIL(ns * 1.0 / {_MRL_K}) AS BIGINT) AS step
      FROM ranked
      WHERE (rn - 1) % CAST(CEIL(ns * 1.0 / {_MRL_K}) AS BIGINT)
            = CAST(FLOOR((CAST(CEIL(ns * 1.0 / {_MRL_K}) AS BIGINT) - 1) / 2) AS BIGINT)
    ),
    merged AS (
      SELECT val, step,
             SUM(step) OVER (ORDER BY val, shard, step
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      FROM sampled
    ),
    tot AS (SELECT COUNT(*) * 1.0 AS n FROM rows_in),
    est AS (
      SELECT q, MIN(val) AS est
      FROM merged CROSS JOIN tot
      CROSS JOIN (SELECT unnest([{', '.join(str(q) for q in _MRL_QS)}]) AS q)
      WHERE cw >= q * n
      GROUP BY q
    )
    SELECT est.q, est.est AS est_value,
           CAST((SELECT COUNT(*) FROM rows_in r WHERE r.val < est.est) AS BIGINT) AS true_rank,
           ROUND(abs((SELECT COUNT(*) FROM rows_in r WHERE r.val < est.est)
                     - est.q * tot.n) / tot.n, 6) AS rank_err,
           CAST(CASE WHEN abs((SELECT COUNT(*) FROM rows_in r WHERE r.val < est.est)
                              - est.q * tot.n) <= 2.0 * tot.n / {_MRL_K} + {_MRL_SHARDS}
                     THEN 1 ELSE 0 END AS BIGINT) AS within_bound
    FROM est CROSS JOIN tot
    ORDER BY q
    """,
    description=f"distributed MRL quantile summary (Manku-Rajagopalan-Lindsay — the deterministic batch ancestor of KLL): {_MRL_SHARDS} md5 shards each keep every ⌈n_s/{_MRL_K}⌉-th locally-sorted value with that weight, the merged {_MRL_SHARDS}×{_MRL_K}-row CONSTANT-bounded summary answers {len(_MRL_QS)} quantiles via cumulative weights; fully relational (shard-PARTITIONED rank window + modular sampling), so the oracle replays the sketch exactly — value-hash-verified where randomized KLL can only bounds-check; true rank error audited ≤ 2N/k + S",
)
def a0089_mrl_quantile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-13 reshape + floor decomposition (interleaved at sf1.0, one
    # session: scan+md5 0.31 s, shard sort + modular sample 1.7-2.3 s,
    # audit aggregate 0.2 s; whole query 3.03 -> 2.82 s warm): the
    # corpus-sized checkpoint and the est x corpus crossJoin audit are
    # gone — the 7 estimates are a BOUNDED collect, so the exact-rank
    # audit is ONE conditional-sum aggregate over a fresh column-pruned
    # scan (7 sums, no row multiplication), and the summary path is the
    # only consumer of the sharded frame. The residue is the per-shard
    # SORT, which IS the sketch build (MRL's modular sampling is defined
    # on the sorted shard): one input-sized exchange + Tungsten sort vs
    # DuckDB's in-process sort at 6M rows — machinery floor, not plan
    # fat; measured alternatives: range-partitioning the shards (1 per
    # partition, no hash collisions) was SLOWER (2.0 vs 1.69 — the
    # boundary-sampling pass costs more than the collision skew).
    # At 100 TB the knob is S (shards scale with cluster width; the
    # summary stays S*k rows) — the sort scales out linearly by shard.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    shard = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "#",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _MRL_SHARDS
    )
    rows_in = li.select(
        F.col("l_extendedprice").alias("val"),
        shard.alias("shard"),
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").alias("k2"),
    )
    ws = Window.partitionBy("shard").orderBy("val", "k1", "k2")
    wn = Window.partitionBy("shard")
    ranked = rows_in.select(
        "val",
        "shard",
        F.row_number().over(ws).alias("rn"),
        F.count("*").over(wn).alias("ns"),
    )
    step = F.ceil(F.col("ns") * 1.0 / _MRL_K).cast("long")
    sampled = ranked.filter(
        (F.col("rn") - 1) % step == F.floor((step - 1) / 2).cast("long")
    ).select("val", "shard", step.alias("step"), "ns")
    # ONE bounded collect (<= S*k rows, carrying per-shard ns) replaces
    # the r13 shape's three driver jobs (corpus count + single-partition
    # cumulative window + est collect): the merge — cumulative weights
    # over (val, shard, step) order — and the per-quantile MIN(val) with
    # cw >= q*n run driver-side over the constant-bounded summary, the
    # identical rule the oracle's merged/est CTEs apply (every shard
    # contributes >= 1 sample, so sum of distinct-shard ns is exactly n).
    spdf = sampled.toPandas()  # Arrow transfer; <= S*k rows
    n = float(spdf.drop_duplicates("shard")["ns"].sum())
    spdf = spdf.sort_values(["val", "shard", "step"])
    cws = spdf["step"].cumsum().to_numpy()
    vals = spdf["val"].to_numpy()
    ests: dict[float, float] = {}
    for q in _MRL_QS:
        import numpy as _np

        idx = int(_np.searchsorted(cws, q * n, side="left"))
        ests[q] = float(vals[idx])
    # exact-rank audit: the 7 estimates are literals, so the audit is ONE
    # conditional-sum aggregate over a fresh column-pruned scan — no
    # corpus checkpoint, no est x corpus row multiplication. r14 opt
    # round: the audit collect + driver-side createDataFrame (two more
    # driver jobs) fold into the SAME action — the 1-row audit aggregate
    # explodes into the 7-row output in-plan (q/est are literals, n is a
    # literal, true_rank comes from the aggregate columns; F.round is
    # HALF_UP like SQL ROUND, so rank_err keeps the oracle's rounding).
    audit = load_table(spark, sf_dir, "lineitem").agg(
        *[
            F.sum((F.col("l_extendedprice") < F.lit(ests[q])).cast("long")).alias(
                f"tr_{i}"
            )
            for i, q in enumerate(_MRL_QS)
        ]
    )
    rows = audit.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(q)).alias("q"),
                        F.lit(ests[q]).alias("est_value"),
                        F.col(f"tr_{i}").cast("long").alias("true_rank"),
                    )
                    for i, q in enumerate(_MRL_QS)
                ]
            )
        ).alias("r")
    ).select("r.*")
    qn = F.col("q") * F.lit(n)
    bound = F.lit(2.0 * n / _MRL_K + _MRL_SHARDS)
    return rows.select(
        "q",
        "est_value",
        "true_rank",
        F.round(F.abs(F.col("true_rank") - qn) / F.lit(n), 6).alias("rank_err"),
        F.when(F.abs(F.col("true_rank") - qn) <= bound, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("within_bound"),
    ).orderBy("q")


# ---------------------------------------------------------------------------
# a0090 — LOSSLESS JPEG decode (SOF3, T.81 Annex H — the DPCM mode:
# causal prediction + Huffman-coded differences, no DCT, no quant),
# hash-checked: fixtures cycle through ALL SEVEN Annex-H predictors
# (A, B, C, A+B−C, A+(B−C)>>1, B+(A−C)>>1, (A+B)>>1) across media ids,
# and because the mode is lossless the decoded plane equals the
# generating formula EXACTLY — the oracle recomputes mean/top-left in
# closed form, so a wrong predictor, wrong H.1.1 boundary rule (first
# sample 2^(P−1), first line → A, first column → B), or a broken
# SSSS/EXTEND path skips the hash. Completes the codec family's T.81
# mode coverage next to baseline/progressive/restart/4:2:0.
# ---------------------------------------------------------------------------

_N_JPEG_LL = 14  # 2 fixtures per predictor


@query(
    "a0090_jpeg_lossless_decode",
    oracle=f"""
    WITH jm AS (SELECT m FROM range(0, {_N_JPEG_LL}) t(m)),
    px AS (
      SELECT jm.m, (jm.m*7 + 5*x.i + 3*y.i) % 256 AS v, x.i AS x, y.i AS y
      FROM jm, range(0, 16) x(i), range(0, 16) y(i))
    SELECT 7000 + m AS media_id, 'jpeg_lossless' AS kind,
           CAST(256 AS BIGINT) AS n_units,
           ROUND(AVG(v), 6) AS mean_gray,
           CAST(MIN(CASE WHEN x = 0 AND y = 0 THEN v END) AS DOUBLE) AS topleft
    FROM px GROUP BY m ORDER BY media_id
    """,
    description=f"REAL lossless JPEG decode (SOF3, T.81 Annex H DPCM): causal prediction + SSSS-category Huffman differences, {_N_JPEG_LL} fixtures cycling ALL 7 Annex-H predictors with the H.1.1 boundary rules (first sample 2^(P−1), first line→A, first column→B); decode runs in the mapInPandas extractor and the oracle recomputes the EXACT decoded plane stats from the generating formula — lossless means any fixture pins the full codec path, completing T.81 mode coverage next to baseline/progressive/restart/4:2:0",
)
def a0090_jpeg_lossless_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as MM

    feats = MM.extract_features(
        MM.formula_media_df(
            spark, n_audio=0, n_image=0, n_png=0, n_jpeg_lossless=_N_JPEG_LL
        )
    )
    el = F.element_at
    return (
        feats.filter(F.col("mime") == "image/jpeg")
        .select(
            "media_id",
            F.lit("jpeg_lossless").alias("kind"),
            (el("feature", 1) * el("feature", 2)).cast("long").alias("n_units"),
            F.round(el("feature", 3), 6).alias("mean_gray"),
            el("feature", 6).alias("topleft"),
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# a0091 — 12-BIT lossless JPEG decode: the second sample precision
# T.81 admits for DPCM (P=2..16; DCT modes are 8/12 only). At 12-bit,
# predictors 4-7 can overshoot the sample range, so differences code
# MODULO 65536 with SSSS categories up to 16 (Table H.2's no-bits
# 32768 case included) — exactly the path an 8-bit-only codec never
# exercises. Fixtures cycle all 7 predictors; the oracle recomputes
# the exact decoded plane stats (lossless) from the generating
# formula over the 0..4095 range.
# ---------------------------------------------------------------------------

_N_JPEG_L12 = 14


@query(
    "a0091_jpeg_lossless12_decode",
    oracle=f"""
    WITH jm AS (SELECT m FROM range(0, {_N_JPEG_L12}) t(m)),
    px AS (
      SELECT jm.m, (jm.m*97 + 37*x.i + 113*y.i) % 4096 AS v, x.i AS x, y.i AS y
      FROM jm, range(0, 16) x(i), range(0, 16) y(i))
    SELECT 7100 + m AS media_id, 'jpeg_lossless12' AS kind,
           CAST(256 AS BIGINT) AS n_units,
           ROUND(AVG(v), 6) AS mean_gray,
           CAST(MIN(CASE WHEN x = 0 AND y = 0 THEN v END) AS DOUBLE) AS topleft
    FROM px GROUP BY m ORDER BY media_id
    """,
    description=f"REAL 12-bit lossless JPEG decode (SOF3, precision 12): differences coded MODULO 65536 with SSSS categories to 16 per T.81 H.1.2.3/H.2 — the overshoot path (predictors 4-7 past the sample range) an 8-bit codec never exercises; {_N_JPEG_L12} fixtures cycle all 7 predictors, precision-aware clip bound, oracle recomputes the exact decoded 0..4095 plane stats from the generating formula",
)
def a0091_jpeg_lossless12_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as MM

    feats = MM.extract_features(
        MM.formula_media_df(
            spark, n_audio=0, n_image=0, n_png=0, n_jpeg_lossless12=_N_JPEG_L12
        )
    )
    el = F.element_at
    return (
        feats.filter(F.col("mime") == "image/jpeg")
        .select(
            "media_id",
            F.lit("jpeg_lossless12").alias("kind"),
            (el("feature", 1) * el("feature", 2)).cast("long").alias("n_units"),
            F.round(el("feature", 3), 6).alias("mean_gray"),
            el("feature", 6).alias("topleft"),
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# a0092 — Kleinberg burst detection (2-state automaton, Poisson rates)
# solved as an EXACT Viterbi. The optimal path is recovered
# forward-backward style: state s is on an optimal path at t iff
# fwd_t(s) + sfx_t(s) equals the global optimum. Costs are INTEGER
# fixed-point (round(1e6·(λ_s − n_t·ln λ_s))) so min-plus arithmetic is
# exact — the DuckDB oracle replays the SAME DP sequentially (recursive
# CTEs) and must agree bit-for-bit. Burst episodes come out of a
# gaps-and-islands pass over the labeled days.
# Placement (r15): the DP state is CALENDAR-bounded (T = days spanned),
# so the two-state recurrences run driver-side on the collected cost
# rows (bounded driver state — the a0061 discipline); the data-sized
# stages (daily count aggregate, episode rollup) stay in Spark. The
# r12-r14 distributed formulation — ⌈log2 T⌉ pointer-doubled min-plus
# prefix/suffix window scans, valid because the min-plus product is
# associative — remains the pattern for a DP whose frame does NOT fit
# one task, but here it was pure plan-construction cost (16 AQE jobs,
# ~1.6 s Catalyst build per run) for ~2.4k rows.
# ---------------------------------------------------------------------------

_KB_S = 1.6  # burst rate multiplier lambda1 = s * lambda0
_KB_GAMMA = 3_000_000  # state 0->1 transition cost (x1e6 fixed point)
_KB_INF = 10**15


def _kb_oracle() -> str:
    return f"""
    WITH RECURSIVE daily0 AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS c FROM orders GROUP BY 1
    ),
    bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily0),
    spine AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
              FROM bounds),
    daily AS (SELECT s.day, COALESCE(d.c, 0) AS c,
                     ROW_NUMBER() OVER (ORDER BY s.day) AS rn
              FROM spine s LEFT JOIN daily0 d USING (day)),
    lam AS (SELECT AVG(c) AS l0, AVG(c) * {_KB_S} AS l1 FROM daily),
    cost AS (
      SELECT rn, day, c,
             CAST(ROUND(1e6 * (l0 - c * ln(l0)), 0) AS BIGINT) AS c0,
             CAST(ROUND(1e6 * (l1 - c * ln(l1)), 0) AS BIGINT) AS c1
      FROM daily CROSS JOIN lam
    ),
    tmax AS (SELECT MAX(rn) AS t FROM cost),
    fwd AS (
      SELECT rn, c0 AS f0, LEAST({_KB_INF}, {_KB_GAMMA} + c1) AS f1 FROM cost WHERE rn = 1
      UNION ALL
      SELECT c.rn,
             LEAST(f.f0, f.f1) + c.c0 AS f0,
             LEAST(f.f0 + {_KB_GAMMA}, f.f1) + c.c1 AS f1
      FROM fwd f JOIN cost c ON c.rn = f.rn + 1
    ),
    bwd AS (
      SELECT rn, CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1
      FROM cost WHERE rn = (SELECT t FROM tmax)
      UNION ALL
      SELECT c.rn,
             LEAST(b.b0 + c2.c0, {_KB_GAMMA} + b.b1 + c2.c1) AS b0,
             LEAST(b.b0 + c2.c0, b.b1 + c2.c1) AS b1
      FROM bwd b
      JOIN cost c ON c.rn = b.rn - 1
      JOIN cost c2 ON c2.rn = b.rn
    ),
    tot AS (SELECT LEAST(f0, f1) AS opt FROM fwd WHERE rn = (SELECT t FROM tmax)),
    lab AS (
      SELECT c.rn, c.day, c.c,
             CASE WHEN f.f0 + b.b0 <= (SELECT opt FROM tot) THEN 0 ELSE 1 END AS state
      FROM cost c JOIN fwd f USING (rn) JOIN bwd b USING (rn)
    ),
    isl AS (
      SELECT day, c, rn - ROW_NUMBER() OVER (ORDER BY rn) AS island
      FROM lab WHERE state = 1
    )
    SELECT MIN(day) AS episode_start, MAX(day) AS episode_end,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(c) AS BIGINT) AS total_events
    FROM isl GROUP BY island
    ORDER BY episode_start
    """


# Scale rule (100 TB): no data-scaled parameter — the Viterbi DP runs per
# (day) on the calendar rollup; gamma/s are Kleinberg model constants;
# the one data-sized stage is the daily count aggregate.
@query(
    "a0092_burst_detection",
    oracle=_kb_oracle(),
    description=f"Kleinberg 2-state burst detection (Poisson rates λ, {_KB_S}λ; γ={_KB_GAMMA / 1e6} fixed-point) solved as an EXACT Viterbi over the calendar-bounded daily frame: the data-sized daily count aggregate and the episode rollup run in Spark; the 2-state min-plus forward/backward DP itself runs on the collected calendar-bounded cost rows in exact integer fixed-point (bounded driver state, the a0061 discipline), so the oracle's sequential recursive-CTE replay agrees bit-for-bit; optimal path by the forward+backward = global-optimum test",
)
def a0092_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_orderdate")
    daily0 = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count("*").alias("c")
    )
    bounds = daily0.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    w = Window.orderBy("day")  # calendar-bounded daily spine
    daily = (
        spine.join(daily0, "day", "left")
        .select("day", F.coalesce("c", F.lit(0)).alias("c"))
        .withColumn("rn", F.row_number().over(w))
    )
    lam = daily.agg(F.avg("c").alias("l0"), (F.avg("c") * _KB_S).alias("l1"))
    cost = daily.crossJoin(F.broadcast(lam)).select(
        "rn",
        "day",
        "c",
        F.round(1e6 * (F.col("l0") - F.col("c") * F.log("l0")), 0)
        .cast("long")
        .alias("c0"),
        F.round(1e6 * (F.col("l1") - F.col("c") * F.log("l1")), 0)
        .cast("long")
        .alias("c1"),
    )
    # r15: the DP state is CALENDAR-bounded, not data-bounded (T = days
    # spanned, ~2.4k for this dataset and ~1e4 even for decades at any
    # SF), so the 2-state min-plus forward/backward recurrences run on
    # the collected cost rows in exact integer fixed-point — bounded
    # driver state, the a0061 discipline; Python ints ARE arbitrary-
    # precision, so the min-plus arithmetic is the oracle's bit-for-bit.
    # This replaces the r12-r14 pointer-doubling window scans: ⌈log2 T⌉
    # rounds of 2x2 min-plus combines + periodic checkpoints were pure
    # plan-construction cost (~1.6 s build, 16 AQE jobs) for a frame
    # that fits in one task anyway. A/B at sf0.1: warm 2.47 -> 0.86 s,
    # jobs 16 -> 7, cold 8.2 -> 2.3 s, output byte-identical. The
    # data-sized stages (daily count aggregate, episode rollup) stay in
    # Spark.
    rows = cost.orderBy("rn").collect()
    g, inf = _KB_GAMMA, _KB_INF
    T = len(rows)
    f0 = [0] * T
    f1 = [0] * T
    f0[0] = rows[0]["c0"]
    f1[0] = min(inf, g + rows[0]["c1"])
    for t in range(1, T):
        c0, c1 = rows[t]["c0"], rows[t]["c1"]
        f0[t] = min(f0[t - 1], f1[t - 1]) + c0
        f1[t] = min(f0[t - 1] + g, f1[t - 1]) + c1
    b0 = [0] * T
    b1 = [0] * T
    for t in range(T - 2, -1, -1):
        c0, c1 = rows[t + 1]["c0"], rows[t + 1]["c1"]
        b0[t] = min(b0[t + 1] + c0, g + b1[t + 1] + c1)
        b1[t] = min(b0[t + 1] + c0, b1[t + 1] + c1)
    opt = min(f0[T - 1], f1[T - 1])
    lab = [
        (rows[t]["rn"], rows[t]["day"], rows[t]["c"], 0 if f0[t] + b0[t] <= opt else 1)
        for t in range(T)
    ]
    labeled = spark.createDataFrame(lab, "rn long, day date, c long, state int")
    isl = labeled.filter(F.col("state") == 1).withColumn(
        "island", F.col("rn") - F.row_number().over(Window.orderBy("rn"))
    )
    return (
        isl.groupBy("island")
        .agg(
            F.min("day").alias("episode_start"),
            F.max("day").alias("episode_end"),
            F.count("*").alias("n_days"),
            F.sum("c").cast("long").alias("total_events"),
        )
        .drop("island")
        .orderBy("episode_start")
    )
