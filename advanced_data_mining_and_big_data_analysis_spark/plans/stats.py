"""Statistical declared queries: hypothesis tests, correlation and
regression aggregates, drift and distribution distances, calibration and
ranking-evaluation metrics, concentration measures, and the
cardinality/quantile sketches.

Scale notes (100 TB): every query aggregates the fact table to a bounded
frame (a calendar, a histogram, a sketch) FIRST, with one
map-side-combined shuffle; the statistic runs over that frame. Numeric
determinism: sums accumulate in DECIMAL or integers where they can, and
every float output is rounded in both engines, so the driver hash is
stable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window, Window as W, functions as F

from ..operators import text as X
from ..sources import load_table
from .dedup_text import _TOKS
from .registry import query


_ACF_MAX_LAG = 7


@query(
    "q136_acf_daily_revenue",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
      FROM orders GROUP BY day),
    lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS lag),
    pairs AS (
      SELECT l.lag, a.rev AS x, b.rev AS y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.day = a.day - CAST(l.lag AS INT)),
    m AS (SELECT lag, COUNT(*) AS n,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
          FROM pairs GROUP BY lag)
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS acf
    FROM m ORDER BY lag
    """,
    description="autocorrelation function of the daily order-revenue series at lags 1..7: fact table rolls up to a calendar-sized daily frame (exact DECIMAL sums, order-independent), a 7-row lag dim joins the series to its own date-shifted copy (gap-aware: pairs exist only where both days do), Pearson r from exact decimal moments with doubles entering only in the final closed form — the time-domain seasonality evidence twin of q86's periodogram",
)
def q136_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("rev")
        )
        # calendar-sized (one row per day) no matter the fact-table size;
        # materialized once for the 7-way lag self-join instead of
        # re-running the orders scan per branch of the join
        .localCheckpoint(eager=False)
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    b = daily.select(F.col("day").alias("bday"), F.col("rev").alias("y"))
    pairs = (
        daily.crossJoin(F.broadcast(lags))
        .join(b, F.date_sub(F.col("day"), F.col("lag")) == F.col("bday"))
        .select("lag", F.col("rev").alias("x"), "y")
    )
    m = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (F.col(c).cast("double") for c in ("sxy", "sxx", "syy"))
    return (
        m.select(
            F.col("lag").cast("long").alias("lag"),
            F.col("n").alias("n_pairs"),
            F.round(
                (nd * sxy - sx * sy)
                / F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)),
                6,
            ).alias("acf"),
        )
        .orderBy("lag")
    )


# CUSUM parameters: slack k = 0.5 sigma, decision threshold h = 4 sigma
# (the textbook defaults for detecting ~1-sigma mean shifts).
_CUSUM_K_SIGMA = 0.5
_CUSUM_H_SIGMA = 4.0


@query(
    "q137_cusum_changepoints",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
      FROM events GROUP BY event_type, day),
    st AS (
      SELECT event_type, AVG(CAST(x AS DOUBLE)) AS mu,
             stddev_samp(CAST(x AS DOUBLE)) AS sigma
      FROM daily GROUP BY event_type),
    c AS (
      SELECT d.event_type, d.day,
             CAST(d.x AS DOUBLE) - st.mu - {_CUSUM_K_SIGMA} * st.sigma AS ci,
             {_CUSUM_H_SIGMA} * st.sigma AS h
      FROM daily d JOIN st USING (event_type)),
    p0 AS (
      SELECT event_type, day, h,
             SUM(ci) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt
      FROM c),
    p AS (
      SELECT event_type, day, h, pt,
             MIN(pt) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
      FROM p0),
    s AS (SELECT event_type, day, h, pt - LEAST(mn, 0) AS s FROM p)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN s > h THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           ROUND(MAX(s), 6) AS max_cusum,
           CAST(MIN(CASE WHEN s > h THEN day END) AS VARCHAR) AS first_flag_day
    FROM s GROUP BY event_type ORDER BY event_type
    """,
    description="CUSUM changepoint detection per event_type over daily event counts: the stateful recursion S_t = max(0, S_(t-1) + x_t - mu - k*sigma) rewritten via the prefix-sum identity S_t = P_t - min(0, running-min of P) — TWO window functions over the calendar-sized daily rollup, no fold/UDF, fully optimizer-visible; flags days where S exceeds h = 4*sigma (k = 0.5*sigma, the textbook 1-sigma-shift defaults); counts are integers so mu/sigma and the sequential window sums are bit-identical across engines",
)
def q137_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("x")
    )
    st = daily.groupBy("event_type").agg(
        F.avg(F.col("x").cast("double")).alias("mu"),
        F.stddev_samp(F.col("x").cast("double")).alias("sigma"),
    )
    c = daily.join(F.broadcast(st), "event_type").select(
        "event_type",
        "day",
        (F.col("x").cast("double") - F.col("mu") - _CUSUM_K_SIGMA * F.col("sigma")).alias("ci"),
        (_CUSUM_H_SIGMA * F.col("sigma")).alias("h"),
    )
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    p = c.select(
        "event_type",
        "day",
        "h",
        F.sum("ci").over(w).alias("pt"),
    ).withColumn("mn", F.min("pt").over(w))
    s = p.select(
        "event_type", "day", "h", (F.col("pt") - F.least(F.col("mn"), F.lit(0.0))).alias("s")
    )
    return (
        s.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum((F.col("s") > F.col("h")).cast("long")).alias("n_flagged"),
            F.round(F.max("s"), 6).alias("max_cusum"),
            F.min(F.when(F.col("s") > F.col("h"), F.col("day")))
            .cast("string")
            .alias("first_flag_day"),
        )
        .orderBy("event_type")
    )


_TT_BRAND_A = "Brand#1"
_TT_BRAND_B = "Brand#2"


@query(
    "a138_welch_ttest",
    oracle=f"""
    WITH g AS (
      SELECT p_brand, COUNT(*) AS n,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS s,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS ss
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand IN ('{_TT_BRAND_A}', '{_TT_BRAND_B}')
      GROUP BY p_brand),
    m AS (
      SELECT p_brand, n, CAST(s AS DOUBLE) / n AS mean,
             (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) AS var
      FROM g),
    ab AS (
      SELECT a.n AS na, a.mean AS ma, a.var AS va, b.n AS nb, b.mean AS mb, b.var AS vb
      FROM m a, m b WHERE a.p_brand = '{_TT_BRAND_A}' AND b.p_brand = '{_TT_BRAND_B}')
    SELECT '{_TT_BRAND_A}' AS brand_a, '{_TT_BRAND_B}' AS brand_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
           ROUND((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
           ROUND((va / na + vb / nb) * (va / na + vb / nb)
                 / ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)),
                 6) AS welch_df
    FROM ab
    """,
    description="Welch's unequal-variance t-test between two part brands on line-item price: one broadcast-dim join + per-group (n, sum, sum-of-squares) in exact DECIMAL (order-independent across engines), closed-form t statistic and Welch-Satterthwaite degrees of freedom derived from those sums with doubles only in the final expressions — the distributed two-sample significance test a data-quality stack runs on segment metrics",
)
def a138_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin(_TT_BRAND_A, _TT_BRAND_B)
    )
    x = F.col("l_extendedprice").cast("decimal(18,2)")
    g = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"), F.sum(x).alias("s"), F.sum(x * x).alias("ss"))
    )
    n, s, ss = F.col("n"), F.col("s").cast("double"), F.col("ss").cast("double")
    m = g.select(
        "p_brand",
        "n",
        (s / n).alias("mean"),
        ((ss - s * s / n) / (n - 1)).alias("var"),
    )
    a = m.filter(F.col("p_brand") == _TT_BRAND_A).select(
        F.col("n").alias("na"), F.col("mean").alias("ma"), F.col("var").alias("va")
    )
    b = m.filter(F.col("p_brand") == _TT_BRAND_B).select(
        F.col("n").alias("nb"), F.col("mean").alias("mb"), F.col("var").alias("vb")
    )
    se2a, se2b = F.col("va") / F.col("na"), F.col("vb") / F.col("nb")
    return a.crossJoin(b).select(
        F.lit(_TT_BRAND_A).alias("brand_a"),
        F.lit(_TT_BRAND_B).alias("brand_b"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round("ma", 6).alias("mean_a"),
        F.round("mb", 6).alias("mean_b"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(se2a + se2b), 6).alias("t_stat"),
        F.round(
            (se2a + se2b) * (se2a + se2b)
            / (se2a * se2a / (F.col("na") - 1) + se2b * se2b / (F.col("nb") - 1)),
            6,
        ).alias("welch_df"),
    )


@query(
    "a139_ols_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      FROM events GROUP BY event_type, day),
    idx AS (
      SELECT event_type, y,
             date_diff('day', MIN(day) OVER (PARTITION BY event_type), day) AS x
      FROM daily),
    m AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
      FROM idx GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           ROUND((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept,
           ROUND(((n * sxy - sx * sy) * 1.0 * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)), 6) AS r2
    FROM m ORDER BY event_type
    """,
    description="per-event-type OLS trend fit of daily activity vs day index: slope / intercept / R^2 in closed form from integer moment sums (n, sum x, sum y, sum xy, sum x2, sum y2) — every moment is an exact integer on both engines, division to double happens once per statistic; the fact table collapses to a calendar-sized frame in one map-side-combined shuffle, so the regression costs one scan at any corpus size (the distributed monitoring-trend primitive, and the closed-form sibling of the ml/ linear stages)",
)
def a139_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("y")
    )
    idx = daily.select(
        "event_type",
        "y",
        F.datediff(
            F.col("day"), F.min("day").over(W.partitionBy("event_type"))
        ).alias("x"),
    )
    m = idx.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    slope = num * F.lit(1.0) / den
    return (
        m.select(
            "event_type",
            F.col("n").alias("n_days"),
            F.round(slope, 6).alias("slope"),
            F.round((sy - slope * sx) / n, 6).alias("intercept"),
            F.round((num * F.lit(1.0) * num) / (den * F.lit(1.0) * (n * syy - sy * sy)), 6).alias(
                "r2"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q140 — chi-square test of independence between two categorical
# columns (lang x source over documents): the contingency table is a
# dimension-sized groupBy; margins come from two further tiny
# aggregates broadcast back (never an unpartitioned window); the
# statistic, degrees of freedom, and Cramer's V derive from integer
# counts with doubles entering only in the final closed form.
# ---------------------------------------------------------------------------


@query(
    "a140_chi_square",
    oracle="""
    WITH ct AS (SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source),
    rl AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rtot FROM ct GROUP BY lang),
    rs AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ctot FROM ct GROUP BY source),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM ct),
    cells AS (
      SELECT ct.lang, ct.source, ct.o,
             rl.rtot * 1.0 * rs.ctot / n.n AS e
      FROM ct JOIN rl USING (lang) JOIN rs USING (source) CROSS JOIN n),
    stat AS (SELECT SUM((o - e) * (o - e) / e) AS chi2 FROM cells),
    dims AS (SELECT (SELECT COUNT(*) FROM rl) AS r, (SELECT COUNT(*) FROM rs) AS c)
    SELECT ROUND((SELECT chi2 FROM stat), 6) AS chi2,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           ROUND(sqrt((SELECT chi2 FROM stat)
                      / ((SELECT n FROM n) * (LEAST(r, c) - 1))), 6) AS cramers_v
    FROM dims
    """,
    description="chi-square test of independence between lang and source: fact table collapses to a dimension-sized contingency table in one map-side-combined shuffle; margins are two further tiny aggregates broadcast back (no unpartitioned window anywhere); chi2, dof, and Cramer's V in closed form from exact integer counts — the categorical-association audit a corpus-composition dashboard runs",
)
def a140_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ct = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rl = ct.groupBy("lang").agg(F.sum("o").cast("long").alias("rtot"))
    rs = ct.groupBy("source").agg(F.sum("o").cast("long").alias("ctot"))
    n = ct.agg(F.sum("o").cast("long").alias("n"))
    cells = (
        ct.join(F.broadcast(rl), "lang")
        .join(F.broadcast(rs), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "o",
            (F.col("rtot") * F.lit(1.0) * F.col("ctot") / F.col("n")).alias("e"),
            "n",
        )
    )
    stat = cells.agg(
        F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")).alias("chi2"),
        F.any_value("n").alias("n"),
    )
    dims = (
        rl.agg(F.count("*").alias("r"))
        .crossJoin(rs.agg(F.count("*").alias("c")))
    )
    return stat.crossJoin(F.broadcast(dims)).select(
        F.round("chi2", 6).alias("chi2"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * (F.least("r", "c") - 1))), 6
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# q141 — pairwise Pearson correlation matrix over three lineitem
# measures in ONE scan: a single aggregate produces every first/second
# moment (sum, sum-of-squares, all cross products) in exact DECIMAL,
# then the three correlations are pure arithmetic over that one row.
# The one-scan-all-moments shape is how a 100 TB profiler computes a
# correlation matrix — never one pass per pair.
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def _corr_pairs_sql() -> str:
    outs = []
    for i in range(len(_CORR_COLS)):
        for j in range(i + 1, len(_CORR_COLS)):
            a, b = _CORR_COLS[i], _CORR_COLS[j]
            outs.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"ROUND((n * CAST(s_{a}_{b} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE)) "
                f"/ sqrt((n * CAST(s_{a}_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE)) "
                f"* (n * CAST(s_{b}_{b} AS DOUBLE) - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))), 6) AS pearson_r "
                f"FROM m"
            )
    return " UNION ALL ".join(outs)


@query(
    "a141_corr_matrix",
    oracle=f"""
    WITH m AS (
      SELECT COUNT(*) AS n,
             {", ".join(f"SUM(CAST({c} AS DECIMAL(18,2))) AS s_{c}" for c in _CORR_COLS)},
             {", ".join(f"SUM(CAST({a} AS DECIMAL(18,2)) * CAST({b} AS DECIMAL(18,2))) AS s_{a}_{b}" for ai, a in enumerate(_CORR_COLS) for b in _CORR_COLS[ai:])}
      FROM lineitem)
    SELECT col_a, col_b, pearson_r FROM ({_corr_pairs_sql()}) ORDER BY col_a, col_b
    """,
    description="pairwise Pearson correlation matrix over three lineitem measures in ONE scan: a single aggregate emits every first and second moment (sums, squares, cross products) in exact DECIMAL — order-independent across engines — and the correlations are closed-form arithmetic over that one row; the one-scan-all-moments profiler shape (never one pass per pair)",
)
def a141_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = {c: F.col(c).cast("decimal(18,2)") for c in _CORR_COLS}
    aggs = [F.count("*").alias("n")]
    aggs += [F.sum(dec[c]).alias(f"s_{c}") for c in _CORR_COLS]
    aggs += [
        F.sum(dec[a] * dec[b]).alias(f"s_{a}_{b}")
        for ai, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[ai:]
    ]
    m = li.agg(*aggs)

    def pair_row(a: str, b: str) -> DataFrame:
        n = F.col("n").cast("double")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        sab = F.col(f"s_{a}_{b}").cast("double")
        saa, sbb = F.col(f"s_{a}_{a}").cast("double"), F.col(f"s_{b}_{b}").cast("double")
        return m.select(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.round(
                (n * sab - sa * sb)
                / F.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)),
                6,
            ).alias("pearson_r"),
        )

    out = None
    for i in range(len(_CORR_COLS)):
        for j in range(i + 1, len(_CORR_COLS)):
            row = pair_row(_CORR_COLS[i], _CORR_COLS[j])
            out = row if out is None else out.unionAll(row)
    return out.orderBy("col_a", "col_b")


# ---------------------------------------------------------------------------
# q142 — deterministic multiplier bootstrap for the mean: 16 bootstrap
# replicates of mean(o_totalprice), each row's per-replicate weight in
# {0,1,1,2} (mean 1) derived from ONE md5 of the stable order key — two
# hex chars per replicate — so resampling is reproducible across
# engines, partitionings, and re-runs, and all 16 replicates ride a
# single scan as conditional aggregates (no 16x row explosion).
# ---------------------------------------------------------------------------

_BOOT_B = 16
_BOOT_W = [0, 1, 1, 2]  # weight by (hex-slice % 4): mean 1, variance 1/2


def _boot_w_sql(b: int) -> str:
    sl = f"CAST(CONCAT('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), {2 * b + 1}, 2)) AS BIGINT) % 4"
    return f"list_extract([{', '.join(str(w) for w in _BOOT_W)}], ({sl}) + 1)"


@query(
    "a142_bootstrap_ci",
    oracle=f"""
    WITH w AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x,
             {", ".join(f"{_boot_w_sql(b)} AS w{b}" for b in range(_BOOT_B))}
      FROM orders),
    agg AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx,
             {", ".join(f"CAST(SUM(w{b} * x) AS DOUBLE) / SUM(w{b}) AS m{b}" for b in range(_BOOT_B))}
      FROM w),
    boots AS (SELECT unnest([{", ".join(f"m{b}" for b in range(_BOOT_B))}]) AS m FROM agg),
    sd AS (SELECT AVG(m) AS mb, stddev_samp(m) AS se FROM boots)
    SELECT CAST((SELECT n FROM agg) AS BIGINT) AS n_rows,
           ROUND(CAST((SELECT sx FROM agg) AS DOUBLE) / (SELECT n FROM agg), 6) AS mean,
           ROUND((SELECT se FROM sd), 6) AS boot_se,
           ROUND(CAST((SELECT sx FROM agg) AS DOUBLE) / (SELECT n FROM agg)
                 - 1.96 * (SELECT se FROM sd), 6) AS ci_lo,
           ROUND(CAST((SELECT sx FROM agg) AS DOUBLE) / (SELECT n FROM agg)
                 + 1.96 * (SELECT se FROM sd), 6) AS ci_hi
    """,
    description="deterministic multiplier bootstrap for mean order value: 16 replicate means in ONE scan as conditional aggregates (weights in {0,1,1,2}, mean 1, two md5 hex chars of the stable order key per replicate — reproducible across engines, partitionings, and re-runs; no 16x row explosion), normal-approximation 95% CI from the replicate standard error; weighted sums accumulate in exact DECIMAL so replicate means are bit-identical across engines",
)
def a142_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    md5k = F.md5(F.col("o_orderkey").cast("string"))

    def w(b: int):
        sl = F.conv(F.substring(md5k, 2 * b + 1, 2), 16, 10).cast("long") % 4
        arr = F.array(*[F.lit(v) for v in _BOOT_W])
        return F.element_at(arr, (sl + 1).cast("int"))

    agg = orders.agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        *[
            (F.sum(w(b) * x).cast("double") / F.sum(w(b))).alias(f"m{b}")
            for b in range(_BOOT_B)
        ],
    )
    boots = agg.select(
        "n", "sx", F.explode(F.array(*[F.col(f"m{b}") for b in range(_BOOT_B)])).alias("m")
    )
    sd = boots.groupBy("n", "sx").agg(F.stddev_samp("m").alias("se"))
    mean = F.col("sx").cast("double") / F.col("n")
    return sd.select(
        F.col("n").cast("long").alias("n_rows"),
        F.round(mean, 6).alias("mean"),
        F.round("se", 6).alias("boot_se"),
        F.round(mean - 1.96 * F.col("se"), 6).alias("ci_lo"),
        F.round(mean + 1.96 * F.col("se"), 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# q143 — Benford first-digit audit over order totals: the fraud/quality
# screen for any monetary column. First significant digit via
# floor(x / 10^floor(log10(x))); expected Benford mass log10(1 + 1/d);
# per-digit observed vs expected plus each digit's chi-square
# contribution. Counts are integers; log10/pow run on identical doubles.
# ---------------------------------------------------------------------------


@query(
    "a143_benford_digits",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(o_totalprice / pow(10, floor(log10(o_totalprice)))) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT digit, CAST(n AS BIGINT) AS n,
           ROUND(n * 1.0 / total, 6) AS obs_frac,
           ROUND(log10(1 + 1.0 / digit), 6) AS benford_frac,
           ROUND((n * 1.0 / total - log10(1 + 1.0 / digit)) * (n * 1.0 / total - log10(1 + 1.0 / digit))
                 / log10(1 + 1.0 / digit) * total, 6) AS chi2_part
    FROM c CROSS JOIN t ORDER BY digit
    """,
    description="Benford's-law first-digit audit of order totals (the monetary-column fraud/quality screen): first significant digit via floor(x / 10^floor(log10 x)), digit histogram in one map-side-combined aggregate, observed fraction vs the Benford expectation log10(1+1/d), per-digit chi-square contribution — integer counts exact on both engines, log/pow on identical doubles",
)
def a143_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice") / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("long")
    c = orders.select(digit.alias("digit")).groupBy("digit").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").cast("long").alias("total"))
    obs = F.col("n") * F.lit(1.0) / F.col("total")
    exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.round(obs, 6).alias("obs_frac"),
            F.round(exp, 6).alias("benford_frac"),
            F.round((obs - exp) * (obs - exp) / exp * F.col("total"), 6).alias("chi2_part"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# q146 — OHLC bars (open/high/low/close + volume-weighted mean) per
# (event_type, day): the ordered-extremes aggregate every market-data /
# metrics store runs. open/close use min_by/max_by on the full event
# timestamp with event_id as the deterministic tie-break (two events in
# the same microsecond cannot flip the bar between engines) — the
# argmin/argmax-by-ordering aggregate surface, one map-side-combined
# shuffle, no window function at all.
# ---------------------------------------------------------------------------


@query(
    "a0146_ohlc_bars",
    oracle="""
    WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id, value
               FROM events),
    r AS (SELECT event_type, day, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type, day
                                    ORDER BY ts, event_id) AS rn_a,
                 ROW_NUMBER() OVER (PARTITION BY event_type, day
                                    ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM e)
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           ROUND(MIN(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           ROUND(MIN(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM r
    GROUP BY event_type, day
    HAVING COUNT(*) >= 5
    ORDER BY event_type, day
    """,
    description="OHLC bars per (event_type, day): open/close via min_by/max_by on struct(ts, event_id) — the argmin/argmax-by-ordering aggregate with a deterministic tie-break so same-timestamp events cannot flip the bar between engines — plus high/low/count, in ONE map-side-combined shuffle with no window function; bars with < 5 events dropped (HAVING). The market-data / metrics-rollup primitive at fact-table scale",
)
def a0146_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.struct("ts", "event_id").alias("ord"),
        "value",
    )
    return (
        ev.groupBy("event_type", "day")
        .agg(
            F.round(F.min_by("value", "ord"), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", "ord"), 6).alias("close"),
            F.count("*").alias("n_events"),
        )
        .filter(F.col("n_events") >= 5)
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# q147 — sliding-window distinct users (trailing 7 days) per event_type.
# Distinct-over-sliding-window is the op a naive plan gets wrong at
# scale (collect_set over a range window buffers every member per row).
# The scale-correct rewrite: dedupe to (event_type, user, day) ONCE,
# explode each active day into the <=7 window-end days it contributes
# to, dedupe (event_type, user, window_end) — a user active twice in a
# window counts once — then a plain count per window. Work is bounded
# by active-pairs x window_len, every step a map-side-combined shuffle,
# no per-row state accumulation anywhere.
# ---------------------------------------------------------------------------

_SD_WIN = 7


@query(
    "a0147_sliding_distinct_users",
    oracle=f"""
    WITH ad AS (SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS day FROM events),
    days AS (SELECT DISTINCT event_type, day FROM ad),
    contrib AS (
      SELECT DISTINCT ad.event_type, ad.user_id, ad.day + CAST(o.i AS INTEGER) AS wend
      FROM ad, range(0, {_SD_WIN}) o(i)),
    wins AS (
      SELECT c.event_type, c.wend, COUNT(DISTINCT c.user_id) AS u7
      FROM contrib c JOIN days d ON d.event_type = c.event_type AND d.day = c.wend
      GROUP BY c.event_type, c.wend),
    daily AS (SELECT event_type, day, COUNT(*) AS u1 FROM ad GROUP BY event_type, day)
    SELECT d.event_type, CAST(d.day AS VARCHAR) AS day,
           CAST(d.u1 AS BIGINT) AS dau,
           CAST(w.u7 AS BIGINT) AS wau7
    FROM daily d JOIN wins w ON w.event_type = d.event_type AND w.wend = d.day
    ORDER BY d.event_type, d.day
    """,
    description="trailing-7-day distinct users per event_type (DAU/WAU): the scale-correct rewrite of distinct-over-sliding-window — dedupe to (type, user, day) once, explode each active day into the <= 7 window-ends it contributes to, dedupe (type, user, window_end), then a plain count per window; work bounded by active-pairs x window_len with map-side combine everywhere, versus collect_set-over-range-window which buffers every member per output row; windows reported only on days with activity",
)
def a0147_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ad = ev.select("event_type", "user_id", F.to_date("ts").alias("day")).distinct()
    days = ad.select("event_type", "day").distinct()
    offsets = spark.range(_SD_WIN).select(F.col("id").cast("int").alias("i"))
    contrib = (
        ad.crossJoin(F.broadcast(offsets))
        .select("event_type", "user_id", F.date_add("day", F.col("i")).alias("wend"))
        .distinct()
    )
    wins = (
        contrib.join(
            days.select("event_type", F.col("day").alias("wend")), ["event_type", "wend"]
        )
        .groupBy("event_type", "wend")
        .agg(F.count("*").alias("u7"))
    )
    daily = ad.groupBy("event_type", "day").agg(F.count("*").alias("u1"))
    return (
        daily.join(
            wins.withColumnRenamed("wend", "day"), ["event_type", "day"]
        )
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            F.col("u1").alias("dau"),
            F.col("u7").alias("wau7"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# q149 — key-skew diagnostic report: the observability query a shuffle
# planner (or an engineer sizing one) runs before joining/aggregating on
# a key. All metrics are WINDOW-FREE so the diagnosis never itself
# suffers the skew it measures: coefficient of variation and normalized
# entropy come from moment sums over the per-key count frame
# (H = ln T - sum(x ln x)/T, normalized by ln n_keys), max share from a
# plain max, top-10 share from a bounded TakeOrdered. Entropy ~ 1 and
# cv ~ 0 mean uniform keys (safe to shuffle); a viral key drives
# max_share up and entropy down — the signal to salt or broadcast.
# ---------------------------------------------------------------------------


@query(
    "a0149_key_skew_report",
    oracle="""
    WITH c AS (SELECT o_custkey AS k, COUNT(*) AS x FROM orders GROUP BY k),
    m AS (SELECT COUNT(*) AS nk, CAST(SUM(x) AS BIGINT) AS t,
                 CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(MAX(x) AS BIGINT) AS mx,
                 SUM(x * ln(x)) AS sxlx
          FROM c),
    top AS (SELECT CAST(SUM(x) AS BIGINT) AS t10
            FROM (SELECT x FROM c ORDER BY x DESC, k LIMIT 10))
    SELECT CAST(nk AS BIGINT) AS n_keys, t AS total_rows,
           ROUND(mx * 1.0 / t, 6) AS max_share,
           ROUND((SELECT t10 FROM top) * 1.0 / t, 6) AS top10_share,
           ROUND(sqrt(sxx * 1.0 / nk - (t * 1.0 / nk) * (t * 1.0 / nk))
                 / (t * 1.0 / nk), 6) AS cv,
           ROUND((ln(t) - sxlx / t) / ln(nk), 6) AS norm_entropy
    FROM m
    """,
    description="key-skew diagnostic for the orders-by-customer key: n_keys, max key share, top-10 share, coefficient of variation, and normalized key entropy (H = ln T - sum(x ln x)/T over ln n_keys) — every metric WINDOW-FREE from moment sums over the per-key count frame plus one bounded TakeOrdered, so the diagnosis never itself suffers the skew it measures; the pre-shuffle observability probe that decides salt vs broadcast vs plain hash join",
)
def a0149_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy(F.col("o_custkey").alias("k")).agg(F.count("*").alias("x"))
    c = c.localCheckpoint(eager=False)  # customer-dimension-sized; two consumers
    m = c.agg(
        F.count("*").alias("nk"),
        F.sum("x").cast("long").alias("t"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.max("x").cast("long").alias("mx"),
        F.sum(F.col("x") * F.log("x")).alias("sxlx"),
    )
    top = (
        c.orderBy(F.desc("x"), "k")
        .limit(10)
        .agg(F.sum("x").cast("long").alias("t10"))
    )
    mean = F.col("t") * F.lit(1.0) / F.col("nk")
    return m.crossJoin(F.broadcast(top)).select(
        F.col("nk").cast("long").alias("n_keys"),
        F.col("t").alias("total_rows"),
        F.round(F.col("mx") * F.lit(1.0) / F.col("t"), 6).alias("max_share"),
        F.round(F.col("t10") * F.lit(1.0) / F.col("t"), 6).alias("top10_share"),
        F.round(
            F.sqrt(F.col("sxx") * F.lit(1.0) / F.col("nk") - mean * mean) / mean, 6
        ).alias("cv"),
        F.round(
            (F.log(F.col("t").cast("double")) - F.col("sxlx") / F.col("t"))
            / F.log(F.col("nk").cast("double")),
            6,
        ).alias("norm_entropy"),
    )


# ---------------------------------------------------------------------------
# q150 — sliding-window distinct via HLL sketch MERGE: the sketch-based
# scale path for q147's exact WAU. Per-(event_type, day) HLL sketches
# of the user set are built in ONE scan of the fact table; every
# trailing-7-day estimate is then a UNION of 7 tiny per-day sketches —
# per-day state is O(2^lgK) bytes regardless of corpus size, and no
# window ever re-scans the data (the q117 merge principle applied to
# sliding windows). Exact WAU rides along (q147's rewrite) to pin the
# documented HLL error bound as an oracle-expected TRUE boolean.
# ---------------------------------------------------------------------------


@query(
    "a0150_sliding_hll_wau",
    oracle=f"""
    WITH ad AS (SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS day FROM events),
    days AS (SELECT DISTINCT event_type, day FROM ad),
    contrib AS (
      SELECT DISTINCT ad.event_type, ad.user_id, ad.day + CAST(o.i AS INTEGER) AS wend
      FROM ad, range(0, {_SD_WIN}) o(i)),
    wins AS (
      SELECT c.event_type, c.wend, COUNT(DISTINCT c.user_id) AS wau_exact
      FROM contrib c JOIN days d ON d.event_type = c.event_type AND d.day = c.wend
      GROUP BY c.event_type, c.wend)
    SELECT event_type, CAST(wend AS VARCHAR) AS day,
           CAST(wau_exact AS BIGINT) AS wau_exact,
           TRUE AS within_rel_err
    FROM wins ORDER BY event_type, day
    """,
    description="sliding-window distinct users via HLL sketch MERGE — the sketch-based scale path for q147: per-(event_type, day) DataSketches HLL sketches of the user set built in ONE fact scan, each trailing-7-day WAU = hll_union_agg of 7 per-day sketches (per-day state is KB-sized regardless of corpus size; no window re-scans the data — the q117 merge principle applied to sliding windows); exact WAU rides along via the q147 rewrite and the 5% (~3 sigma at lgK=12) HLL error bound is pinned as an oracle-expected TRUE boolean",
)
def a0150_sliding_hll_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ad = ev.select("event_type", "user_id", F.to_date("ts").alias("day")).distinct()
    ad = ad.localCheckpoint(eager=False)  # feeds sketches, exact path, and days
    days = ad.select("event_type", "day").distinct()
    offsets = spark.range(_SD_WIN).select(F.col("id").cast("int").alias("i"))

    # per-day sketches: ONE scan; the frame below is calendar-sized
    daily_sk = ad.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    # trailing window = union of <= 7 per-day sketches (explode the tiny
    # sketch frame into the window-ends each day contributes to)
    est = (
        daily_sk.crossJoin(F.broadcast(offsets))
        .select("event_type", F.date_add("day", F.col("i")).alias("wend"), "sk")
        .join(days.select("event_type", F.col("day").alias("wend")), ["event_type", "wend"])
        .groupBy("event_type", "wend")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("wau_est"))
    )
    # exact side (q147's explode-dedupe-count rewrite) for the bound check
    exact = (
        ad.crossJoin(F.broadcast(offsets))
        .select("event_type", "user_id", F.date_add("day", F.col("i")).alias("wend"))
        .distinct()
        .join(days.select("event_type", F.col("day").alias("wend")), ["event_type", "wend"])
        .groupBy("event_type", "wend")
        .agg(F.count("*").alias("wau_exact"))
    )
    return (
        exact.join(est, ["event_type", "wend"])
        .select(
            "event_type",
            F.col("wend").cast("string").alias("day"),
            "wau_exact",
            (
                F.abs(F.col("wau_est") - F.col("wau_exact")) / F.col("wau_exact")
                <= F.lit(0.05)
            ).alias("within_rel_err"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# q151 — declarative data-validation pass (expectations report): the
# Great-Expectations-shaped audit every ingest runs, as ONE aggregate
# scan. Row-level rules (not-null, range, set-membership, regex shape)
# become conditional counts in a single groupBy-free aggregate;
# the table-level uniqueness rule is COUNT - COUNT(DISTINCT) on its
# key. Output is the (rule, n_violations, pass) contract table a data
# firewall gates on — violations are COUNTED, never silently dropped.
# ---------------------------------------------------------------------------

_VAL_STATUSES = ["F", "O", "P"]


@query(
    "a0151_validation_report",
    oracle=f"""
    WITH m AS (
      SELECT COUNT(*) AS n_rows,
             SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v_key_null,
             COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS v_key_dup,
             SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0 THEN 1 ELSE 0 END) AS v_price,
             SUM(CASE WHEN o_orderstatus NOT IN ({", ".join(f"'{s}'" for s in _VAL_STATUSES)})
                      THEN 1 ELSE 0 END) AS v_status,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
                       OR o_orderdate >= TIMESTAMP '2002-01-01' THEN 1 ELSE 0 END) AS v_date,
             SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                      THEN 1 ELSE 0 END) AS v_prio
      FROM orders)
    SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
           n_violations = 0 AS pass
    FROM (
      SELECT 'orderdate_in_range' AS rule, v_date AS n_violations FROM m
      UNION ALL SELECT 'orderkey_not_null', v_key_null FROM m
      UNION ALL SELECT 'orderkey_unique', v_key_dup FROM m
      UNION ALL SELECT 'priority_shape', v_prio FROM m
      UNION ALL SELECT 'status_in_set', v_status FROM m
      UNION ALL SELECT 'totalprice_positive', v_price FROM m)
    ORDER BY rule
    """,
    description="declarative data-validation pass (expectations report): six ingest-gate rules — not-null key, key uniqueness (COUNT - COUNT DISTINCT), positive price, status set-membership, date range, priority regex shape — evaluated as conditional counts in ONE aggregate scan plus the key-distinct aggregate, unpivoted to the (rule, n_violations, pass) contract table a data firewall gates on; violations are counted, never silently dropped",
)
def a0151_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = orders.agg(
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias("v_key_null"),
        (F.count("o_orderkey") - F.countDistinct("o_orderkey")).alias("v_key_dup"),
        F.sum(
            (F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)).cast("long")
        ).alias("v_price"),
        F.sum((~F.col("o_orderstatus").isin(*_VAL_STATUSES)).cast("long")).alias("v_status"),
        F.sum(
            (
                (F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("2002-01-01").cast("timestamp"))
            ).cast("long")
        ).alias("v_date"),
        F.sum(
            (~F.col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$")).cast("long")
        ).alias("v_prio"),
    )
    rules = [
        ("orderdate_in_range", "v_date"),
        ("orderkey_not_null", "v_key_null"),
        ("orderkey_unique", "v_key_dup"),
        ("priority_shape", "v_prio"),
        ("status_in_set", "v_status"),
        ("totalprice_positive", "v_price"),
    ]
    unpivoted = m.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("rule"), F.col(c).cast("long").alias("n_violations")
                    )
                    for r, c in rules
                ]
            )
        ).alias("kv")
    ).select("kv.rule", "kv.n_violations", (F.col("kv.n_violations") == 0).alias("pass"))
    return unpivoted.orderBy("rule")


# ---------------------------------------------------------------------------
# q154 — interval overlap via sweep line: each event opens a 30-minute
# activity interval [ts, ts+30min); per event_type, the maximum number
# of concurrently-open intervals and the time it first occurs. The
# sweep is the classic +1/-1 rewrite: explode each interval into a
# (+1 at start, -1 at end) delta stream, running-sum it ordered by
# (time, delta, event_id) — ends sort BEFORE starts at the same instant
# (delta -1 < +1), the half-open convention, and event_id makes the
# order total so both engines walk an identical sequence. One window
# per event_type over 2N rows; no interval self-join (which would be
# quadratic in the overlap degree).
# ---------------------------------------------------------------------------


@query(
    "a0154_max_concurrency",
    oracle="""
    WITH iv AS (SELECT event_type, event_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
                FROM events),
    deltas AS (
      SELECT event_type, s AS t, 1 AS delta, event_id FROM iv
      UNION ALL
      SELECT event_type, e AS t, -1 AS delta, event_id FROM iv),
    sweep AS (
      SELECT event_type, t, delta,
             SUM(delta) OVER (PARTITION BY event_type
                              ORDER BY t, delta, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
      FROM deltas),
    mx AS (SELECT event_type, MAX(open) AS max_open FROM sweep GROUP BY event_type),
    at AS (SELECT s.event_type, MIN(s.t) AS first_peak
           FROM sweep s JOIN mx ON mx.event_type = s.event_type AND s.open = mx.max_open
           GROUP BY s.event_type)
    SELECT mx.event_type, CAST(mx.max_open AS BIGINT) AS max_concurrent,
           CAST(at.first_peak AS VARCHAR) AS first_peak_ts
    FROM mx JOIN at ON at.event_type = mx.event_type
    ORDER BY mx.event_type
    """,
    description="maximum interval overlap via the sweep line: each event's 30-minute activity interval becomes (+1 at start, -1 at end) deltas, a running sum ordered by (time, delta, event_id) walks both engines through an identical total order (ends before starts at the same instant = half-open semantics), max concurrent + first time it occurs per event_type — one partitioned window over 2N delta rows, never an interval self-join (quadratic in overlap degree)",
)
def a0154_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "event_type", "event_id", F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    deltas = iv.select(
        "event_type", F.col("s").alias("t"), F.lit(1).alias("delta"), "event_id"
    ).unionByName(
        iv.select("event_type", F.col("e").alias("t"), F.lit(-1).alias("delta"), "event_id")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    sweep = deltas.withColumn("open", F.sum("delta").over(w))
    sweep = sweep.localCheckpoint(eager=False)  # consumed by max + argmin branches
    mx = sweep.groupBy("event_type").agg(F.max("open").alias("max_open"))
    at = (
        sweep.join(F.broadcast(mx), "event_type")
        .filter(F.col("open") == F.col("max_open"))
        .groupBy("event_type")
        .agg(F.min("t").alias("first_peak"))
    )
    return (
        mx.join(at, "event_type")
        .select(
            "event_type",
            F.col("max_open").cast("long").alias("max_concurrent"),
            F.col("first_peak").cast("string").alias("first_peak_ts"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q158 — equal-frequency (quantile) binning: the complement of q24's
# equal-width histogram and the binning rule feature pipelines actually
# prefer (each bin carries equal mass, so downstream models see a
# uniform code distribution). Scale-correct form: decile EDGES from one
# exact-percentile aggregate (interpolation parity with DuckDB's
# quantile_cont is pinned by q65), broadcast back, membership = count
# of edges <= x — NEVER ntile over the whole fact table, which would
# funnel every row through one unpartitioned window.
# ---------------------------------------------------------------------------

_QB_QS = [i / 10 for i in range(1, 10)]


@query(
    "a0158_equal_freq_bins",
    oracle=f"""
    WITH q AS (SELECT quantile_cont(o_totalprice, [{", ".join(str(q) for q in _QB_QS)}]) AS qs
               FROM orders),
    b AS (SELECT o_totalprice AS x,
                 len(list_filter((SELECT qs FROM q), e -> e <= o_totalprice)) AS bin
          FROM orders)
    SELECT CAST(bin AS INTEGER) AS bin, CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(x), 2) AS bin_min, ROUND(MAX(x), 2) AS bin_max
    FROM b GROUP BY bin ORDER BY bin
    """,
    description="equal-frequency (decile) binning of order totals: exact interpolated decile edges from ONE percentile aggregate (cross-engine interpolation parity pinned since q65), broadcast back to the fact, bin = count of edges <= x — the scale-correct rule (never ntile over the whole fact table, which funnels every row through one unpartitioned window); per-bin count and value range exposed for the feature-pipeline code map",
)
def a0158_equal_freq_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    edges = orders.agg(
        F.expr(
            f"percentile(o_totalprice, array({', '.join(str(q) for q in _QB_QS)}))"
        ).alias("qs")
    )
    binned = orders.crossJoin(F.broadcast(edges)).select(
        F.col("o_totalprice").alias("x"),
        F.size(F.filter(F.col("qs"), lambda e: e <= F.col("o_totalprice"))).alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.min("x"), 2).alias("bin_min"),
            F.round(F.max("x"), 2).alias("bin_max"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q159 — grouped seasonal-naive backtest: the distributed forecasting
# evaluation loop (the reference notebook's SMAPE validation, kaggle.py
# 497-523, as a pure query over every series at once). Forecast for
# (event_type, day) = actual at day-7 (the seasonal-naive baseline
# every forecasting benchmark starts from); SMAPE per series over the
# evaluation tail. One calendar-sized rollup, one self-join on the
# date shift, one aggregate — backtesting N series costs the same
# single pass whether N is five or five million.
# ---------------------------------------------------------------------------

_SN_LAG_DAYS = 7


@query(
    "a0159_seasonal_naive_backtest",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS v
      FROM events GROUP BY event_type, day),
    j AS (
      SELECT a.event_type, a.day, a.v AS actual, b.v AS forecast
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day = a.day - {_SN_LAG_DAYS}),
    s AS (
      SELECT event_type,
             CASE WHEN ABS(CAST(actual AS DOUBLE)) + ABS(CAST(forecast AS DOUBLE)) = 0 THEN 0.0
                  ELSE ABS(CAST(actual AS DOUBLE) - CAST(forecast AS DOUBLE))
                       / ((ABS(CAST(actual AS DOUBLE)) + ABS(CAST(forecast AS DOUBLE))) / 200.0)
             END AS sm
      FROM j)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(sm), 6) AS smape
    FROM s GROUP BY event_type ORDER BY event_type
    """,
    description="grouped seasonal-naive backtest — the reference's SMAPE validation loop (kaggle.py:497-523) as one distributed query over every series at once: forecast(day) = actual(day-7), 0-safe SMAPE per event_type; one calendar-sized DECIMAL rollup + one date-shift self-join + one aggregate, so backtesting five or five million series is the same single pass; the baseline every forecasting benchmark measures models against",
)
def a0159_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("v")
        )
        .localCheckpoint(eager=False)  # both sides of the date-shift join
    )
    b = daily.select(
        F.col("event_type").alias("bt"), F.col("day").alias("bday"), F.col("v").alias("f")
    )
    j = daily.join(
        b,
        (F.col("event_type") == F.col("bt"))
        & (F.col("bday") == F.date_sub(F.col("day"), _SN_LAG_DAYS)),
    ).select("event_type", F.col("v").cast("double").alias("a"), F.col("f").cast("double").alias("f"))
    denom = (F.abs(F.col("a")) + F.abs(F.col("f"))) / 200.0
    sm = F.when(F.abs(F.col("a")) + F.abs(F.col("f")) == 0, F.lit(0.0)).otherwise(
        F.abs(F.col("a") - F.col("f")) / denom
    )
    return (
        j.select("event_type", sm.alias("sm"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_days"), F.round(F.avg("sm"), 6).alias("smape"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q160 — grouped robust outliers via MAD (median absolute deviation):
# the robust twin of q135's mean/stddev anomaly rule — median and MAD
# shrug off the very outliers they hunt. Two exact grouped percentile
# passes over the calendar-sized daily frame (median of x, then median
# of |x - median|), flag |x - med| > 3 * 1.4826 * MAD (the normal-
# consistent scale). Exact percentile interpolation parity with
# quantile_cont is pinned since q65.
# ---------------------------------------------------------------------------

_MAD_K = 3 * 1.4826


@query(
    "a0160_mad_outliers",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
      FROM events GROUP BY event_type, day),
    med AS (SELECT event_type, quantile_cont(CAST(x AS DOUBLE), 0.5) AS med
            FROM daily GROUP BY event_type),
    dev AS (SELECT d.event_type, d.day, CAST(d.x AS DOUBLE) AS x, m.med,
                   ABS(CAST(d.x AS DOUBLE) - m.med) AS ad
            FROM daily d JOIN med m USING (event_type)),
    mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY event_type)
    SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(ANY_VALUE(d.med), 6) AS median_count,
           ROUND(ANY_VALUE(m.mad), 6) AS mad,
           CAST(SUM(CASE WHEN d.ad > {_MAD_K} * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """,
    description="grouped robust outlier detection via MAD: per-event-type exact median of daily counts, then exact median of absolute deviations (two grouped percentile passes over the calendar-sized frame; interpolation parity pinned since q65), flag days beyond 3 x 1.4826 x MAD — the robust twin of q135's mean/sigma rule, immune to the outliers it hunts because median and MAD have 50% breakdown points",
)
def a0160_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("x"))
        .localCheckpoint(eager=False)  # median pass + deviation pass
    )
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(CAST(x AS DOUBLE), 0.5)").alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day",
        F.col("x").cast("double").alias("x"),
        "med",
        F.abs(F.col("x").cast("double") - F.col("med")).alias("ad"),
    )
    dev = dev.localCheckpoint(eager=False)  # mad pass + flag pass
    mad = dev.groupBy("event_type").agg(F.expr("percentile(ad, 0.5)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.round(F.any_value("med"), 6).alias("median_count"),
            F.round(F.any_value("mad"), 6).alias("mad"),
            F.sum((F.col("ad") > _MAD_K * F.col("mad")).cast("long")).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q126 — mergeable equi-width histogram quantile sketch. Rounds out the
# sketch family (q117 HLL cardinality, q119 CMS frequency) with the
# quantile member: per-shard (l_returnflag) histograms over 512
# fixed-width bins are built in one scan and MERGED by bucket addition;
# quantile estimate = upper edge of the first bin whose merged
# cumulative count reaches ceil(q*N). The DuckDB oracle builds the
# histogram DIRECTLY (no shards), so the hash match itself proves
# shard-merge exactness; the deterministic sketch guarantee — the
# estimate is within 2 bin widths of the exact interpolated quantile —
# rides along as an expected-TRUE boolean. Bin ids are exact (one
# IEEE multiply/divide on identical doubles), so the sketch is
# reproducible bit-for-bit across engines.
# ---------------------------------------------------------------------------

_QS_BINS = 512
_QS_QUANTILES = [0.25, 0.5, 0.75, 0.9, 0.99]


@query(
    "q126_quantile_sketch",
    oracle=f"""
    WITH b AS (SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx,
                      COUNT(*) AS n,
                      {', '.join(f'quantile_cont(l_extendedprice, {q}) AS ex{i}' for i, q in enumerate(_QS_QUANTILES))}
               FROM lineitem),
    h AS (SELECT CASE WHEN b.mx = b.mn THEN 0
                       ELSE LEAST(CAST(floor((l_extendedprice - b.mn) * {_QS_BINS} / (b.mx - b.mn)) AS BIGINT),
                                  {_QS_BINS - 1}) END AS bin, COUNT(*) AS cnt
          FROM lineitem, b GROUP BY 1),
    c AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM h),
    qs AS (SELECT i, q, ex FROM (VALUES
             {', '.join(f'({i}, {q}::DOUBLE, (SELECT ex{i} FROM b))' for i, q in enumerate(_QS_QUANTILES))}
           ) t(i, q, ex)),
    est AS (SELECT qs.i, qs.q, qs.ex, MIN(c.bin) AS ebin
            FROM qs JOIN c ON c.cum >= CAST(ceil(qs.q * (SELECT n FROM b)) AS BIGINT)
            GROUP BY qs.i, qs.q, qs.ex)
    SELECT q, ROUND((SELECT mn FROM b) + (ebin + 1) * ((SELECT mx FROM b) - (SELECT mn FROM b)) / {_QS_BINS}, 6) AS est,
           ROUND(ex, 6) AS exact,
           ABS((SELECT mn FROM b) + (ebin + 1) * ((SELECT mx FROM b) - (SELECT mn FROM b)) / {_QS_BINS} - ex)
             <= 2 * ((SELECT mx FROM b) - (SELECT mn FROM b)) / {_QS_BINS} AS within_bound
    FROM est ORDER BY q
    """,
    description="mergeable equi-width histogram quantile sketch (512 bins over l_extendedprice): per-shard histograms built in ONE scan, merged by bucket addition, quantile estimate = upper edge of the first bin whose merged cumulative count reaches ceil(q*N) — the quantile member of the mergeable-sketch family (q117 HLL, q119 CMS); the oracle builds the histogram DIRECTLY so the hash match itself proves shard-merge exactness, and the deterministic 2-bin-width error bound vs the exact interpolated quantile rides along as an expected-TRUE boolean",
)
def q126_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("shard"), F.col("l_extendedprice").alias("x")
    )
    bounds = li.agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count("*").alias("n"),
        F.expr(
            f"percentile(x, array({', '.join(str(q) for q in _QS_QUANTILES)}))"
        ).alias("exacts"),
    )
    binned = li.crossJoin(F.broadcast(bounds.select("mn", "mx"))).select(
        "shard",
        F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("x") - F.col("mn")) * _QS_BINS / (F.col("mx") - F.col("mn"))
                ).cast("long"),
                F.lit(_QS_BINS - 1),
            )
        )
        .alias("bin"),
    )
    per_shard = binned.groupBy("shard", "bin").agg(F.count("*").alias("cnt"))
    merged = per_shard.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    # bounded frames from here down: <=512 bins x 5 quantiles

    cum = merged.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0))
    )
    qs = bounds.select(
        "mn",
        "mx",
        "n",
        F.posexplode(F.array(*[F.lit(q) for q in _QS_QUANTILES])).alias("i", "q"),
        F.col("exacts"),
    ).select("mn", "mx", "n", "q", F.element_at("exacts", F.col("i") + 1).alias("ex"))
    est = (
        qs.join(F.broadcast(cum), F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("q", "mn", "mx", "ex")
        .agg(F.min("bin").alias("ebin"))
    )
    width = (F.col("mx") - F.col("mn")) / _QS_BINS
    est_val = F.col("mn") + (F.col("ebin") + 1) * width
    return est.select(
        "q",
        F.round(est_val, 6).alias("est"),
        F.round(F.col("ex"), 6).alias("exact"),
        (F.abs(est_val - F.col("ex")) <= 2 * width).alias("within_bound"),
    ).orderBy("q")


# ---------------------------------------------------------------------------
# q135 — trailing-window anomaly detection over the daily revenue
# series: flag days whose revenue deviates more than 2 sample standard
# deviations from the PRECEDING 7 days (the current day is excluded
# from its own baseline — the classic leakage mistake). The window runs
# over the calendar-bounded daily rollup (q74/q86/q89 precedent), never
# raw facts; deviation quantities are rounded to 9 dp on both engines
# before the threshold comparison.
# ---------------------------------------------------------------------------


@query(
    "q135_anomaly_flags",
    oracle="""
    WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
                      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                               * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS rev
               FROM lineitem GROUP BY 1),
    w AS (SELECT day, rev,
                 AVG(rev) OVER win AS avg7,
                 STDDEV_SAMP(rev) OVER win AS std7,
                 COUNT(*) OVER win AS n7
          FROM d
          WINDOW win AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
    SELECT CAST(day AS VARCHAR) AS day, ROUND(rev, 2) AS rev,
           ROUND((rev - avg7) / std7, 6) AS sigma
    FROM w
    WHERE n7 = 7 AND std7 > 0
      AND ROUND(ABS(rev - avg7), 9) > ROUND(2 * std7, 9)
    ORDER BY day
    """,
    description="trailing-window anomaly detection on the daily revenue series: flag days > 2 sample stddevs from the PRECEDING 7 days (current day excluded from its own baseline — the leakage rule), window over the calendar-bounded daily rollup only (q74/q86/q89 precedent); deviation and threshold rounded to 9 dp on both engines before comparison",
)
def q135_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # exact-decimal accumulation: double sums differ in the last ulp by
    # partition order, and a 2-dp round at a .005 boundary then diverges
    # across engines (bit us on first run); decimal sums are exact, so
    # both engines round the SAME number
    d = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
        )
        .cast("double")
        .alias("rev")
    )
    win = Window.orderBy("day").rowsBetween(-7, -1)
    w = d.select(
        "day",
        "rev",
        F.avg("rev").over(win).alias("avg7"),
        F.stddev_samp("rev").over(win).alias("std7"),
        F.count("*").over(win).alias("n7"),
    )
    return (
        w.filter(
            (F.col("n7") == 7)
            & (F.col("std7") > 0)
            & (F.round(F.abs(F.col("rev") - F.col("avg7")), 9) > F.round(2 * F.col("std7"), 9))
        )
        .select(
            F.col("day").cast("string").alias("day"),
            F.round("rev", 2).alias("rev"),
            F.round((F.col("rev") - F.col("avg7")) / F.col("std7"), 6).alias("sigma"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# a0136 — two-sample Kolmogorov-Smirnov drift test, binned formulation.
#
# The drift monitor a feature store runs between a reference and a
# live window. The statistic is computed over a FIXED equi-width
# binning (1024 bins spanning the pooled min/max) rather than raw
# float order statistics: the binned CDF needs one bounded-width
# cumulative window (1024 rows) instead of a global sort of every
# observation — the scale-correct shape (a raw-value KS at 100 TB
# funnels the whole table through one unpartitioned sort; the binned
# statistic converges to it from below as the grid refines and is the
# standard streaming/histogram implementation). Bin edges are integer
# arithmetic on the pooled range, so both engines bin identically.
# ---------------------------------------------------------------------------

_KS_BINS = 1024


@query(
    "a0136_ks_drift_test",
    oracle=f"""
    WITH pool AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
                  WHERE event_type IN ('view', 'click')),
    b AS (SELECT event_type,
                 LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / {_KS_BINS}.0)) AS BIGINT),
                       {_KS_BINS - 1}) AS bin
          FROM events CROSS JOIN pool WHERE event_type IN ('view', 'click')),
    c AS (SELECT bin,
                 COUNT(*) FILTER (WHERE event_type = 'view') AS n_v,
                 COUNT(*) FILTER (WHERE event_type = 'click') AS n_c
          FROM b GROUP BY bin),
    t AS (SELECT CAST(SUM(n_v) AS DOUBLE) AS tot_v, CAST(SUM(n_c) AS DOUBLE) AS tot_c FROM c),
    cdf AS (SELECT bin,
                   SUM(n_v) OVER (ORDER BY bin) / tot_v AS f_v,
                   SUM(n_c) OVER (ORDER BY bin) / tot_c AS f_c
            FROM c CROSS JOIN t),
    d AS (SELECT MAX(ABS(f_v - f_c)) AS ks FROM cdf)
    SELECT 'view_vs_click' AS pair,
           CAST(tot_v AS BIGINT) AS n_a, CAST(tot_c AS BIGINT) AS n_b,
           ROUND(ks, 6) AS ks_stat,
           ks > 1.358 * sqrt((tot_v + tot_c) / (tot_v * tot_c)) AS drift_at_5pct
    FROM d CROSS JOIN t
    """,
    description="two-sample Kolmogorov-Smirnov drift test between the 'view' and 'click' value distributions, binned formulation (1024 equi-width bins over the pooled range): per-bin counts via one map-side-combined aggregate, CDFs via a BOUNDED cumulative window (1024 rows, never a global sort of observations — the scale-correct histogram-KS every feature-store drift monitor ships), D = max|F_a - F_b| with the alpha=0.05 two-sample threshold 1.358*sqrt((n_a+n_b)/(n_a*n_b)) as a pinned boolean",
)
def a0136_ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type").isin("view", "click"))
    pool = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    b = ev.crossJoin(F.broadcast(pool)).select(
        "event_type",
        F.least(
            F.floor((F.col("value") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / _KS_BINS)),
            F.lit(_KS_BINS - 1),
        ).alias("bin"),
    )
    c = b.groupBy("bin").agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_v"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_c"),
    )
    t = c.agg(
        F.sum("n_v").cast("double").alias("tot_v"), F.sum("n_c").cast("double").alias("tot_c")
    )

    # bounded window: <= 1024 bin rows, not observations
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cdf = c.crossJoin(F.broadcast(t)).select(
        (F.sum("n_v").over(w) / F.col("tot_v")).alias("f_v"),
        (F.sum("n_c").over(w) / F.col("tot_c")).alias("f_c"),
        "tot_v",
        "tot_c",
    )
    d = cdf.groupBy("tot_v", "tot_c").agg(F.max(F.abs(F.col("f_v") - F.col("f_c"))).alias("ks"))
    return d.select(
        F.lit("view_vs_click").alias("pair"),
        F.col("tot_v").cast("long").alias("n_a"),
        F.col("tot_c").cast("long").alias("n_b"),
        F.round("ks", 6).alias("ks_stat"),
        (
            F.col("ks")
            > 1.358 * F.sqrt((F.col("tot_v") + F.col("tot_c")) / (F.col("tot_v") * F.col("tot_c")))
        ).alias("drift_at_5pct"),
    )


# ---------------------------------------------------------------------------
# a0137 — ANSI SQL:2016 regression aggregate family. One map-side-
# combined aggregate per group; every statistic is a moment expression
# (JVM-side, no UDF), identical formulas in both engines.
# ---------------------------------------------------------------------------


@query(
    "a0137_regression_aggs",
    oracle="""
    SELECT event_type,
           CAST(regr_count(value, EXTRACT(hour FROM ts)) AS BIGINT) AS n,
           ROUND(regr_slope(value, EXTRACT(hour FROM ts)), 6) AS slope,
           ROUND(regr_intercept(value, EXTRACT(hour FROM ts)), 6) AS intercept,
           ROUND(regr_r2(value, EXTRACT(hour FROM ts)), 6) AS r2,
           ROUND(corr(value, EXTRACT(hour FROM ts)), 6) AS corr_xy,
           ROUND(covar_samp(value, EXTRACT(hour FROM ts)), 6) AS covar
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="ANSI SQL:2016 regression aggregate family (regr_count/slope/intercept/r2, corr, covar_samp) of event value vs hour-of-day per event type — the linear-trend screen run before fitting anything; one map-side-combined moment aggregate per group, pure JVM expressions, identical closed forms in both engines",
)
def a0137_regression_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value"), F.hour("ts").cast("double").alias("x")
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.regr_count("value", "x").cast("long").alias("n"),
            F.round(F.regr_slope("value", "x"), 6).alias("slope"),
            F.round(F.regr_intercept("value", "x"), 6).alias("intercept"),
            F.round(F.regr_r2("value", "x"), 6).alias("r2"),
            F.round(F.corr("value", "x"), 6).alias("corr_xy"),
            F.round(F.covar_samp("value", "x"), 6).alias("covar"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# a0138 — HLL set-operation estimates: union natively (sketches are
# closed under union), intersection by inclusion-exclusion — the
# audience-overlap query every analytics stack answers with sketches
# because exact distinct-intersection needs a full shuffle of both
# sides. Per-type DataSketches HLL sketches (lgK=12) built in one
# scan; every pair's union sketch merged from the per-type sketches
# (the mergeability that makes this a 1000-shard rollup); exact
# counts computed alongside as the verification denominator, with the
# estimate-within-bounds checks pinned as oracle-expected booleans.
# ---------------------------------------------------------------------------


@query(
    "a0138_hll_set_ops",
    oracle="""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    n AS (SELECT event_type, COUNT(*) AS n_users FROM du GROUP BY event_type),
    px AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                  COUNT(*) AS exact_inter
           FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
           GROUP BY a.event_type, b.event_type)
    SELECT type_a, type_b,
           CAST(na.n_users AS BIGINT) AS exact_a,
           CAST(nb.n_users AS BIGINT) AS exact_b,
           CAST(na.n_users + nb.n_users - exact_inter AS BIGINT) AS exact_union,
           CAST(exact_inter AS BIGINT) AS exact_intersection,
           TRUE AS union_est_ok, TRUE AS inter_est_ok
    FROM px JOIN n na ON px.type_a = na.event_type
            JOIN n nb ON px.type_b = nb.event_type
    ORDER BY type_a, type_b
    """,
    description="HLL sketch set operations (audience overlap): per-event-type DataSketches HLL user sketches (lgK=12) built in ONE scan, every type pair's union estimated from hll_union of the two sketches (the mergeable 1000-shard form) and intersection by inclusion-exclusion; exact distinct counts computed alongside as the denominator, and the estimates-within-5%-of-union error checks pinned as oracle-expected TRUE booleans",
)
def a0138_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
        F.countDistinct("user_id").alias("exact_n"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"), F.col("exact_n").alias("exact_a")
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"), F.col("exact_n").alias("exact_b")
    )
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("type_a") < F.col("type_b"))
    du = ev.select("event_type", "user_id").distinct()
    px = (
        du.alias("x")
        .join(du.alias("y"), (F.col("x.user_id") == F.col("y.user_id")) & (F.col("x.event_type") < F.col("y.event_type")))
        .groupBy(F.col("x.event_type").alias("type_a"), F.col("y.event_type").alias("type_b"))
        .agg(F.count("*").alias("exact_inter"))
    )
    est_u = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    est_a = F.hll_sketch_estimate("sk_a")
    est_b = F.hll_sketch_estimate("sk_b")
    j = pairs.join(px, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        F.col("exact_a").cast("long").alias("exact_a"),
        F.col("exact_b").cast("long").alias("exact_b"),
        (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter")).cast("long").alias("exact_union"),
        F.col("exact_inter").cast("long").alias("exact_intersection"),
        est_u.alias("_eu"),
        (est_a + est_b - est_u).alias("_ei"),
    )
    return j.select(
        "type_a",
        "type_b",
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_intersection",
        (F.abs(F.col("_eu") - F.col("exact_union")) <= 0.05 * F.col("exact_union")).alias(
            "union_est_ok"
        ),
        (
            F.abs(F.col("_ei") - F.col("exact_intersection")) <= 0.05 * F.col("exact_union")
        ).alias("inter_est_ok"),
    ).orderBy("type_a", "type_b")


# ---------------------------------------------------------------------------
# a0111 (ex-a0184) — rank-biased overlap (RBO) between two rankings. The standard
# top-weighted ranking-similarity metric (Webber et al. 2010): how much
# do "parts by price" and "parts by size" agree per brand? RBO@k with
# persistence p: sum_d p^(d-1) (1-p) |A_d ∩ B_d| / d. The prefix
# intersection |A_d ∩ B_d| = #items whose max(rank_a, rank_b) <= d, so
# the whole metric is one join on the item key + a bounded depth-spine
# explode (k rows per item at most) — no per-depth set materialization.
# ---------------------------------------------------------------------------

_RBO_K = 20
_RBO_P = 0.9


@query(
    "a0111_rank_biased_overlap",
    oracle=f"""
    WITH ra AS (SELECT p_brand, p_partkey,
                       ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey) AS r_a
                FROM part),
    rb AS (SELECT p_brand, p_partkey,
                  ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_size DESC, p_partkey) AS r_b
           FROM part),
    j AS (SELECT ra.p_brand, GREATEST(ra.r_a, rb.r_b) AS mx
          FROM ra JOIN rb ON ra.p_brand = rb.p_brand AND ra.p_partkey = rb.p_partkey
          WHERE ra.r_a <= {_RBO_K} AND rb.r_b <= {_RBO_K}),
    c AS (SELECT p_brand, CAST(d AS BIGINT) AS d, COUNT(*) AS inter
          FROM j CROSS JOIN (SELECT unnest(range(1, {_RBO_K + 1})) AS d)
          WHERE mx <= d GROUP BY p_brand, d),
    r AS (SELECT p_brand,
                 SUM(POW({_RBO_P}, d - 1) * (1 - {_RBO_P}) * inter * 1.0 / d) AS rbo
          FROM c GROUP BY p_brand)
    SELECT p_brand, ROUND(rbo, 6) AS rbo_at_20
    FROM r ORDER BY p_brand
    """,
    description="rank-biased overlap (Webber et al. 2010), the top-weighted ranking-agreement metric, between the by-price and by-size part rankings per brand: RBO@20 with p=0.9 via the prefix-intersection identity |A_d ∩ B_d| = #{items: max(rank_a, rank_b) <= d} — one equality join on the item key plus a bounded 20-row depth spine, never a per-depth set materialization; both rankings fully tie-broken for cross-engine determinism",
)
def a0111_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    ra = p.select(
        "p_brand",
        "p_partkey",
        F.row_number()
        .over(Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey"))
        .alias("r_a"),
    )
    rb = p.select(
        "p_brand",
        "p_partkey",
        F.row_number()
        .over(Window.partitionBy("p_brand").orderBy(F.col("p_size").desc(), "p_partkey"))
        .alias("r_b"),
    )
    j = (
        ra.join(rb, ["p_brand", "p_partkey"])
        .filter((F.col("r_a") <= _RBO_K) & (F.col("r_b") <= _RBO_K))
        .select("p_brand", F.greatest("r_a", "r_b").alias("mx"))
    )
    depths = spark.range(1, _RBO_K + 1).select(F.col("id").alias("d"))
    c = (
        j.crossJoin(F.broadcast(depths))
        .filter(F.col("mx") <= F.col("d"))
        .groupBy("p_brand", "d")
        .agg(F.count("*").alias("inter"))
    )
    r = c.groupBy("p_brand").agg(
        F.sum(
            F.pow(F.lit(_RBO_P), F.col("d") - 1) * (1 - _RBO_P) * F.col("inter") / F.col("d")
        ).alias("rbo")
    )
    return r.select("p_brand", F.round("rbo", 6).alias("rbo_at_20")).orderBy("p_brand")


# ---------------------------------------------------------------------------
# a0112 (ex-a0185) — nDCG@10 ranking evaluation. The retrieval-eval metric: scores
# rank documents per source; graded relevance is planted
# deterministically (md5(doc_id) prefix mod 4 — hash-based so it is NOT
# correlated with the source assignment, which is itself doc_id-modular), so the ideal ordering
# genuinely differs from the score ordering. DCG via the windowed rank,
# IDCG via the same machinery on the relevance ordering, both
# PARTITIONED by source.
# ---------------------------------------------------------------------------

_NDCG_K = 10


@query(
    "a0112_ndcg_eval",
    oracle=f"""
    WITH d AS (SELECT source, doc_id, n_chars % 1000 AS score,
                      CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 4 AS rel
               FROM documents),
    rk AS (SELECT source, rel,
                  ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS r
           FROM d),
    ik AS (SELECT source, rel,
                  ROW_NUMBER() OVER (PARTITION BY source ORDER BY rel DESC, doc_id) AS r
           FROM d),
    dcg AS (SELECT source, SUM((POW(2, rel) - 1) / (ln(r + 1) / ln(2))) AS dcg
            FROM rk WHERE r <= {_NDCG_K} GROUP BY source),
    idcg AS (SELECT source, SUM((POW(2, rel) - 1) / (ln(r + 1) / ln(2))) AS idcg
             FROM ik WHERE r <= {_NDCG_K} GROUP BY source)
    SELECT dcg.source, ROUND(dcg.dcg, 6) AS dcg_at_10,
           ROUND(idcg.idcg, 6) AS idcg_at_10,
           ROUND(dcg.dcg / idcg.idcg, 6) AS ndcg_at_10
    FROM dcg JOIN idcg ON dcg.source = idcg.source ORDER BY dcg.source
    """,
    description="nDCG@10 ranking evaluation (the retrieval-eval metric): per-source document ranking by a score column vs deterministically planted graded relevance (md5(doc_id) prefix mod 4 - hash-based so it decorrelates from the modular source assignment and the ideal order genuinely differs), DCG = sum (2^rel - 1)/log2(rank+1) over the top 10 via source-partitioned row_number windows, IDCG from the relevance-sorted twin, ratio pinned to 6dp",
)
def a0112_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "doc_id",
        (F.col("n_chars") % 1000).alias("score"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
            % 4
        ).alias("rel"),
    )
    rk = d.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("source").orderBy(F.col("score").desc(), "doc_id")
        ),
    )
    ik = d.withColumn(
        "r",
        F.row_number().over(Window.partitionBy("source").orderBy(F.col("rel").desc(), "doc_id")),
    )
    gain = (F.pow(F.lit(2), F.col("rel")) - 1) / (F.log(F.col("r") + 1) / F.log(F.lit(2.0)))
    dcg = rk.filter(F.col("r") <= _NDCG_K).groupBy("source").agg(F.sum(gain).alias("dcg"))
    idcg = ik.filter(F.col("r") <= _NDCG_K).groupBy("source").agg(F.sum(gain).alias("idcg"))
    return (
        dcg.join(idcg, "source")
        .select(
            "source",
            F.round("dcg", 6).alias("dcg_at_10"),
            F.round("idcg", 6).alias("idcg_at_10"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_at_10"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# a0117 (ex-a0190) — two-proportion z-test (A/B experiment readout): purchase-
# conversion difference between the user_id-parity cohorts, with the
# pooled-variance z statistic and the |z| > 1.96 significance call
# pinned. One conditional aggregate per cohort; the statistic is a
# closed-form scalar — the entire experiment readout is a 1-row frame.
# ---------------------------------------------------------------------------


@query(
    "a0117_ab_proportion_ztest",
    oracle="""
    WITH u AS (SELECT user_id, user_id % 2 = 0 AS grp_a,
                      MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END)
                          AS converted
               FROM events GROUP BY user_id),
    s AS (SELECT CAST(SUM(CASE WHEN grp_a THEN 1 ELSE 0 END) AS DOUBLE) AS n_a,
                 CAST(SUM(CASE WHEN grp_a THEN converted ELSE 0 END) AS DOUBLE) AS x_a,
                 CAST(SUM(CASE WHEN grp_a THEN 0 ELSE 1 END) AS DOUBLE) AS n_b,
                 CAST(SUM(CASE WHEN grp_a THEN 0 ELSE converted END) AS DOUBLE) AS x_b
          FROM u),
    z AS (SELECT n_a, x_a, n_b, x_b,
                 CASE WHEN x_a + x_b > 0 AND x_a + x_b < n_a + n_b THEN
                   (x_a / n_a - x_b / n_b) /
                   sqrt(((x_a + x_b) / (n_a + n_b)) * (1 - (x_a + x_b) / (n_a + n_b))
                        * (1 / n_a + 1 / n_b))
                 ELSE 0.0 END AS z_stat
          FROM s)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS conversions_a,
           ROUND(x_a / n_a, 6) AS rate_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS conversions_b,
           ROUND(x_b / n_b, 6) AS rate_b,
           ROUND(z_stat, 6) AS z_stat,
           ABS(z_stat) > 1.96 AS significant_at_5pct
    FROM z
    """,
    description="two-proportion z-test A/B readout: per-user purchase conversion for the user_id-parity cohorts (conversion = any purchase with value > 150, via one grouped conditional aggregate; degenerate all-or-none pools pin z to 0), pooled-variance z statistic and the |z|>1.96 two-sided significance call pinned as closed-form scalars on a 1-row frame",
)
def a0117_ab_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("value") > 150), 1).otherwise(0)
        ).alias("converted")
    ).select((F.col("user_id") % 2 == 0).alias("grp_a"), "converted")
    s = u.agg(
        F.sum(F.when(F.col("grp_a"), 1).otherwise(0)).cast("double").alias("n_a"),
        F.sum(F.when(F.col("grp_a"), F.col("converted")).otherwise(0)).cast("double").alias("x_a"),
        F.sum(F.when(F.col("grp_a"), 0).otherwise(1)).cast("double").alias("n_b"),
        F.sum(F.when(F.col("grp_a"), 0).otherwise(F.col("converted"))).cast("double").alias("x_b"),
    )
    pool = (F.col("x_a") + F.col("x_b")) / (F.col("n_a") + F.col("n_b"))
    # degenerate-pool guard (everyone or no one converts): the pooled
    # variance is 0 and the statistic undefined -- pin z to 0.0 so both
    # engines agree at every scale factor
    zs = F.when(
        (F.col("x_a") + F.col("x_b") > 0)
        & (F.col("x_a") + F.col("x_b") < F.col("n_a") + F.col("n_b")),
        (F.col("x_a") / F.col("n_a") - F.col("x_b") / F.col("n_b"))
        / F.sqrt(pool * (1 - pool) * (1 / F.col("n_a") + 1 / F.col("n_b"))),
    ).otherwise(F.lit(0.0))
    return s.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("x_a").cast("long").alias("conversions_a"),
        F.round(F.col("x_a") / F.col("n_a"), 6).alias("rate_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("x_b").cast("long").alias("conversions_b"),
        F.round(F.col("x_b") / F.col("n_b"), 6).alias("rate_b"),
        F.round(zs, 6).alias("z_stat"),
        (F.abs(zs) > 1.96).alias("significant_at_5pct"),
    )


# ---------------------------------------------------------------------------
# a0124 (ex-a0197) — Kaplan-Meier survival estimator: the right-censored
# time-to-event curve (user "lifetime" = first->last event span;
# censored if the user was still active in the observation window's
# final day). S(t) = prod over death times t_i <= t of (1 - d_i/n_i),
# computed relationally as exp(cumsum(ln(1 - d/n))) over the per-cohort
# death-time frame — windows PARTITIONED by cohort and bounded by the
# number of distinct durations. Durations are hour-boundary counts
# spelled out as (days*24 + hour-part delta) so both engines do the
# identical integer arithmetic (date_diff('hour') and timestampdiff
# disagree on sub-hour offsets).
# ---------------------------------------------------------------------------


@query(
    "a0124_kaplan_meier",
    oracle="""
    WITH w AS (SELECT MAX(ts) AS obs_end FROM events),
    u AS (SELECT user_id % 2 = 0 AS cohort_a, MIN(ts) AS t0, MAX(ts) AS t1
          FROM events GROUP BY user_id),
    d AS (SELECT cohort_a,
                 (CAST(t1 AS DATE) - CAST(t0 AS DATE)) * 24
                 + (EXTRACT(hour FROM t1) - EXTRACT(hour FROM t0)) AS dur_h,
                 CASE WHEN t1 >= obs_end - INTERVAL 24 HOURS THEN 0 ELSE 1 END AS observed
          FROM u CROSS JOIN w),
    ev AS (SELECT cohort_a, dur_h, COUNT(*) AS d_i
           FROM d WHERE observed = 1 GROUP BY cohort_a, dur_h),
    risk AS (SELECT ev.cohort_a, ev.dur_h, ev.d_i,
                    (SELECT COUNT(*) FROM d WHERE d.cohort_a = ev.cohort_a
                     AND d.dur_h >= ev.dur_h) AS n_i
             FROM ev),
    km AS (SELECT cohort_a, dur_h, d_i, n_i,
                  exp(SUM(ln(1 - d_i * 1.0 / n_i))
                      OVER (PARTITION BY cohort_a ORDER BY dur_h
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
           FROM risk),
    top AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cohort_a ORDER BY dur_h) AS rk FROM km)
    SELECT cohort_a, CAST(dur_h AS BIGINT) AS dur_h, CAST(n_i AS BIGINT) AS n_risk,
           CAST(d_i AS BIGINT) AS n_events, ROUND(s, 6) AS survival
    FROM top WHERE rk <= 12 ORDER BY cohort_a, dur_h
    """,
    description="Kaplan-Meier survival estimator with right censoring (user lifetime = first-to-last event span in hour-boundary counts; censored if still active in the window's last day): S(t) = prod (1 - d_i/n_i) computed as exp(cumsum(ln)) over the per-cohort death-time frame, at-risk counts via a duration-keyed correlated count — windows PARTITIONED by cohort, bounded by distinct durations; first 12 curve points per user_id-parity cohort pinned",
)
def a0124_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = ev.agg(F.max("ts").alias("obs_end"))
    u = ev.groupBy("user_id").agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    d = u.crossJoin(F.broadcast(w)).select(
        (F.col("user_id") % 2 == 0).alias("cohort_a"),
        (
            F.datediff(F.to_date("t1"), F.to_date("t0")) * 24
            + (F.hour("t1") - F.hour("t0"))
        ).alias("dur_h"),
        F.when(F.col("t1") >= F.col("obs_end") - F.expr("INTERVAL 24 HOURS"), 0)
        .otherwise(1)
        .alias("observed"),
    )
    d = d.localCheckpoint(eager=False)  # death-time agg + at-risk probe
    evt = d.filter(F.col("observed") == 1).groupBy("cohort_a", "dur_h").agg(
        F.count("*").alias("d_i")
    )
    # at-risk via a cohort-local suffix count: total minus count(dur < t)
    # — computed with one cumulative window over the DISTINCT duration
    # frame instead of a correlated per-row subquery
    all_durs = d.groupBy("cohort_a", "dur_h").agg(F.count("*").alias("c"))
    tot = d.groupBy("cohort_a").agg(F.count("*").alias("n_tot"))
    wcum = (
        Window.partitionBy("cohort_a")
        .orderBy("dur_h")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk_frame = all_durs.select(
        "cohort_a",
        "dur_h",
        F.coalesce(F.sum("c").over(wcum), F.lit(0)).alias("n_before"),
    ).join(tot, "cohort_a")
    risk = evt.join(risk_frame, ["cohort_a", "dur_h"]).select(
        "cohort_a", "dur_h", "d_i", (F.col("n_tot") - F.col("n_before")).alias("n_i")
    )
    wkm = (
        Window.partitionBy("cohort_a").orderBy("dur_h").rowsBetween(Window.unboundedPreceding, 0)
    )
    km = risk.withColumn(
        "s", F.exp(F.sum(F.log(1 - F.col("d_i") / F.col("n_i"))).over(wkm))
    )
    top = km.withColumn(
        "rk", F.row_number().over(Window.partitionBy("cohort_a").orderBy("dur_h"))
    ).filter(F.col("rk") <= 12)
    return top.select(
        "cohort_a",
        F.col("dur_h").cast("long").alias("dur_h"),
        F.col("n_i").cast("long").alias("n_risk"),
        F.col("d_i").cast("long").alias("n_events"),
        F.round("s", 6).alias("survival"),
    ).orderBy("cohort_a", "dur_h")


# ---------------------------------------------------------------------------
# a0126 (ex-a0199) — isotonic calibration (pool-adjacent-violators): Spark ML's
# distributed IsotonicRegression (parallel PAV on sorted partitions +
# driver merge of boundary violations) fit on a deterministic score →
# outcome fixture with real violations to pool. Output is the fitted
# step function (boundary, prediction) — the calibration map a scoring
# service ships. The pooling RECURSION has no bounded SQL unrolling,
# but the isotonic FIT has a closed-form minimax characterization
#   fit[i] = max_{s<=i} min_{t>=i} mean(y[s..t])
# (Robertson/Wright/Dykstra, "Order Restricted Statistical Inference"),
# which IS SQL-expressible via prefix sums + an O(n^3) segment CTE —
# trivial for DuckDB at the fixture's n=200 — so this carries a full
# value-hash oracle; the step function is recovered by grouping runs
# of equal fitted values and emitting each block's min/max score.
# Exact values are additionally pinned by tests/test_round10_ops.py
# against a from-scratch reference PAV (1e-9 agreement).
# ---------------------------------------------------------------------------

_ISO_N = 200

_ISO_ORACLE = f"""
WITH pts AS (
  SELECT i, i / {_ISO_N - 1}.0 AS x,
         0.6 * (i / {_ISO_N - 1}.0) + 0.4 * (((i * 2654435761) % 97) / 96.0) AS y
  FROM range({_ISO_N}) t(i)
),
pref AS (SELECT i, x, y, SUM(y) OVER (ORDER BY i) AS p FROM pts),
seg AS (
  SELECT a.i AS s, b.i AS t, (b.p - a.p + a.y) / (b.i - a.i + 1) AS avg_y
  FROM pref a JOIN pref b ON a.i <= b.i
),
inner_min AS (
  SELECT seg.s, pts.i, MIN(seg.avg_y) AS mn
  FROM seg JOIN pts ON seg.s <= pts.i AND pts.i <= seg.t
  GROUP BY seg.s, pts.i
),
fit AS (SELECT i, MAX(mn) AS fit_y FROM inner_min GROUP BY i),
pf AS (SELECT f.i, p.x, f.fit_y FROM fit f JOIN pts p USING(i)),
lagged AS (
  SELECT i, x, fit_y,
         CASE WHEN ABS(fit_y - LAG(fit_y) OVER (ORDER BY i)) < 1e-12
              THEN 0 ELSE 1 END AS is_new
  FROM pf
),
blk AS (SELECT i, x, fit_y, SUM(is_new) OVER (ORDER BY i) AS block_id FROM lagged),
bounds AS (
  SELECT block_id, MIN(x) AS xa, MAX(x) AS xb, MIN(fit_y) AS fy
  FROM blk GROUP BY block_id
),
steps AS (
  SELECT xa AS boundary, fy AS prediction FROM bounds
  UNION ALL
  SELECT xb, fy FROM bounds WHERE xb <> xa
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY boundary) - 1 AS BIGINT) AS step_idx,
       ROUND(boundary, 6) AS boundary, ROUND(prediction, 6) AS prediction
FROM steps ORDER BY step_idx
"""


def _iso_fixture_rows():
    """Deterministic (score, outcome) points with genuine violations:
    a monotone trend plus a hash-derived non-monotone residue."""
    rows = []
    for i in range(_ISO_N):
        x = i / (_ISO_N - 1)
        noise = ((i * 2654435761) % 97) / 96.0
        y = 0.6 * x + 0.4 * noise
        rows.append((float(x), float(y)))
    return rows


@query(
    "a0126_isotonic_calibration",
    oracle=_ISO_ORACLE,
    description="isotonic calibration via distributed pool-adjacent-violators (pyspark.ml IsotonicRegression: parallel PAV over sorted partitions, driver merge of boundary violations) on a deterministic score->outcome fixture with genuine violations; returns the fitted monotone step function (boundary, prediction) — the calibration map a scoring service ships; full value-hash oracle via the minimax identity fit[i]=max_{s<=i} min_{t>=i} mean(y[s..t]) (prefix sums + O(n^3) segment CTE at n=200), plus a from-scratch reference PAV pin in pytest (1e-9 agreement)",
)
def a0126_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression

    df = spark.createDataFrame(_iso_fixture_rows(), ["score", "label"])
    va = VectorAssembler(inputCols=["score"], outputCol="features")
    model = IsotonicRegression(featuresCol="features", labelCol="label").fit(va.transform(df))
    # boundaries/predictions are the model's bounded step-function
    # parameters (<= n distinct pooled levels), not data
    bounds = [float(b) for b in model.boundaries]
    preds = [float(p) for p in model.predictions]
    out = spark.createDataFrame(
        list(zip(range(len(bounds)), bounds, preds)), ["step_idx", "boundary", "prediction"]
    )
    return out.select(
        F.col("step_idx").cast("long").alias("step_idx"),
        F.round("boundary", 6).alias("boundary"),
        F.round("prediction", 6).alias("prediction"),
    ).orderBy("step_idx")


# ---------------------------------------------------------------------------
# a0095 — Population Stability Index drift report between two source
# cohorts (the standard model-monitoring metric): document lengths are
# binned into 10 equal-width bins over the global range, per-cohort
# bin shares are Laplace-smoothed (+0.5), and PSI = Σ (pa−pb)·ln(pa/pb)
# is emitted per bin plus as a TOTAL row. Everything is two scans and
# one 10-row aggregate; the global min/max is a broadcast 1-row frame.
# ---------------------------------------------------------------------------

_PSI_BINS = 10


# Scale rule (100 TB): bin count is a convention constant (10 deciles);
# boundaries come from the reference window's quantiles and the scoring
# pass is one aggregate per window.
@query(
    "a0095_psi_drift",
    oracle=f"""
    WITH d AS (
      SELECT n_chars,
             CASE WHEN CAST(substr(source, 4) AS BIGINT) < 10 THEN 'a' ELSE 'b' END AS cohort
      FROM documents
    ),
    rng AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM d),
    binned AS (
      SELECT LEAST({_PSI_BINS - 1},
                   CAST(FLOOR((d.n_chars - r.mn) * {_PSI_BINS}.0 / (r.mx - r.mn + 1)) AS BIGINT))
               AS bin,
             cohort
      FROM d CROSS JOIN rng r
    ),
    shell AS (SELECT CAST(i AS BIGINT) AS bin FROM range({_PSI_BINS}) t(i)),
    counts AS (
      SELECT s.bin,
             COALESCE(SUM(CASE WHEN b.cohort = 'a' THEN 1 ELSE 0 END), 0) AS n_a,
             COALESCE(SUM(CASE WHEN b.cohort = 'b' THEN 1 ELSE 0 END), 0) AS n_b
      FROM shell s LEFT JOIN binned b ON s.bin = b.bin
      GROUP BY s.bin
    ),
    tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM counts),
    contrib AS (
      SELECT c.bin, c.n_a, c.n_b,
             ((c.n_a + 0.5) / (t.ta + {_PSI_BINS} * 0.5)
              - (c.n_b + 0.5) / (t.tb + {_PSI_BINS} * 0.5))
             * ln(((c.n_a + 0.5) / (t.ta + {_PSI_BINS} * 0.5))
                  / ((c.n_b + 0.5) / (t.tb + {_PSI_BINS} * 0.5))) AS psi
      FROM counts c CROSS JOIN tot t
    )
    SELECT CAST(bin AS BIGINT) AS bin, CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b, ROUND(psi, 6) AS psi_contrib
    FROM contrib
    UNION ALL
    SELECT -1, CAST(SUM(n_a) AS BIGINT), CAST(SUM(n_b) AS BIGINT), ROUND(SUM(psi), 6)
    FROM contrib
    ORDER BY bin
    """,
    description="Population Stability Index drift report (standard model-monitoring metric) between two source cohorts: equal-width 10-bin layout over the global length range (broadcast 1-row min/max), Laplace-smoothed (+0.5) bin shares, per-bin PSI contribution plus a TOTAL(-1) row; a bin shell LEFT JOIN keeps empty bins so the smoothing semantics are exact — two scans, one 10-row aggregate",
)
def a0095_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "n_chars",
        F.when(F.substring("source", 4, 10).cast("long") < 10, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("cohort"),
    )
    rng = d.select(F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx"))
    binned = d.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.lit(_PSI_BINS - 1),
            F.floor((F.col("n_chars") - F.col("mn")) * float(_PSI_BINS) / (F.col("mx") - F.col("mn") + 1)),
        )
        .cast("long")
        .alias("bin"),
        "cohort",
    )
    shell = spark.range(_PSI_BINS).select(F.col("id").cast("long").alias("bin"))
    counts = (
        shell.join(binned, "bin", "left")
        .groupBy("bin")
        .agg(
            F.coalesce(F.sum(F.when(F.col("cohort") == "a", 1).otherwise(0)), F.lit(0)).alias("n_a"),
            F.coalesce(F.sum(F.when(F.col("cohort") == "b", 1).otherwise(0)), F.lit(0)).alias("n_b"),
        )
        .localCheckpoint(eager=False)
    )
    tot = counts.select(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    sm = float(_PSI_BINS) * 0.5
    pa = (F.col("n_a") + 0.5) / (F.col("ta") + sm)
    pb = (F.col("n_b") + 0.5) / (F.col("tb") + sm)
    contrib = counts.crossJoin(F.broadcast(tot)).select(
        "bin", "n_a", "n_b", ((pa - pb) * F.log(pa / pb)).alias("psi")
    ).localCheckpoint(eager=False)
    bins = contrib.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("psi", 6).alias("psi_contrib"),
    )
    total = contrib.agg(
        F.sum("n_a").cast("long").alias("n_a"),
        F.sum("n_b").cast("long").alias("n_b"),
        F.round(F.sum("psi"), 6).alias("psi_contrib"),
    ).select(F.lit(-1).cast("long").alias("bin"), "n_a", "n_b", "psi_contrib")
    return bins.unionByName(total).orderBy("bin")


# ---------------------------------------------------------------------------
# a0059 — Benjamini-Hochberg FDR control over a family of two-proportion
# tests: 64 deterministic user cohorts (md5 buckets), each testing
# whether its purchase share changed between the two half-months;
# two-sided p-values from the Abramowitz-Stegun 7.1.26 polynomial
# normal CDF (identical literal constants on both engines — no erf
# needed), then the BH step-up: reject the k smallest p-values where
# k = max{{i : p_(i) ≤ i·α/m}}. The step-up scan is window algebra over
# the bounded 64-row hypothesis frame — the multiple-testing guard any
# platform running thousands of concurrent experiments needs.
# ---------------------------------------------------------------------------

_BH_BUCKETS = 64
_BH_ALPHA = 0.10
_BH_SPLIT = "2024-01-16"
_BH_TOP = 15
# Abramowitz & Stegun 7.1.26 constants for Phi(x), x >= 0, shared by
# every normal-approximation p-value in this module
_AS_T = 0.2316419
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)


def _phi_upper_sql(x: str) -> str:
    """1 - Phi(x) for x >= 0 via A&S 7.1.26 (SQL text, engine-shared)."""
    t = f"(1.0 / (1.0 + {_AS_T} * {x}))"
    poly = " + ".join(f"{b} * power({t}, {i})" for i, b in enumerate(_AS_B, start=1))
    return f"(exp(-({x}) * ({x}) / 2.0) / sqrt(2.0 * pi()) * ({poly}))"


def _phi_upper_spark(x: Column) -> Column:
    """The Spark twin of ``_phi_upper_sql``."""
    t = 1.0 / (1.0 + _AS_T * x)
    poly = None
    for i, b in enumerate(_AS_B, start=1):
        term = F.lit(b) * F.pow(t, F.lit(float(i)))
        poly = term if poly is None else poly + term
    return F.exp(-x * x / 2.0) / F.sqrt(F.lit(2.0) * F.lit(3.141592653589793)) * poly


@query(
    "a0059_bh_fdr",
    oracle=f"""
    WITH ev AS (
      SELECT CAST(CONCAT('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT)
               % {_BH_BUCKETS} AS bucket,
             CASE WHEN ts < TIMESTAMP '{_BH_SPLIT} 00:00:00' THEN 'a' ELSE 'b' END AS half,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
      FROM events
    ),
    agg AS (
      SELECT bucket,
             SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN half = 'a' THEN hit ELSE 0 END) AS ka,
             SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS nb,
             SUM(CASE WHEN half = 'b' THEN hit ELSE 0 END) AS kb
      FROM ev GROUP BY bucket
    ),
    z AS (
      SELECT bucket, na, ka, nb, kb,
             CASE WHEN na = 0 OR nb = 0 OR ka + kb = 0 OR ka + kb = na + nb THEN 0.0
                  ELSE (ka * 1.0 / na - kb * 1.0 / nb)
                       / sqrt(((ka + kb) * 1.0 / (na + nb))
                              * (1.0 - (ka + kb) * 1.0 / (na + nb))
                              * (1.0 / na + 1.0 / nb))
             END AS zs
      FROM agg
    ),
    pv AS (SELECT bucket, zs, 2.0 * {_phi_upper_sql("abs(zs)")} AS p FROM z),
    ranked AS (
      SELECT bucket, zs, p,
             ROW_NUMBER() OVER (ORDER BY p, bucket) AS rk
      FROM pv
    ),
    kstar AS (
      SELECT COALESCE(MAX(CASE WHEN p <= rk * {_BH_ALPHA} / {_BH_BUCKETS}
                               THEN rk END), 0) AS k
      FROM ranked
    )
    SELECT CAST(r.bucket AS BIGINT) AS bucket, ROUND(r.zs, 4) AS z_stat,
           ROUND(r.p, 6) AS p_value, CAST(r.rk AS BIGINT) AS p_rank,
           ROUND(r.rk * {_BH_ALPHA} / {_BH_BUCKETS}, 6) AS bh_crit,
           CAST(CASE WHEN r.rk <= (SELECT k FROM kstar) THEN 1 ELSE 0 END AS BIGINT)
             AS rejected
    FROM ranked r
    ORDER BY r.rk
    LIMIT {_BH_TOP}
    """,
    description=f"Benjamini-Hochberg FDR control over {_BH_BUCKETS} two-proportion tests (purchase-share change between half-months per md5 user cohort): two-sided p-values from the Abramowitz-Stegun 7.1.26 polynomial normal CDF (identical literals both engines, degenerate pools guarded), BH step-up reject k = max{{i : p_(i) ≤ iα/m}} at α={_BH_ALPHA} as window algebra over the bounded {_BH_BUCKETS}-row hypothesis frame; top-{_BH_TOP} by p — the multiple-testing guard for platforms running many concurrent experiments",
)
def a0059_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    split = F.lit(_BH_SPLIT).cast("timestamp_ntz")
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10).cast("long")
        % _BH_BUCKETS
    )
    hit = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    in_a = F.col("ts") < split
    agg = ev.groupBy(bucket.alias("bucket")).agg(
        F.sum(F.when(in_a, 1).otherwise(0)).alias("na"),
        F.sum(F.when(in_a, hit).otherwise(0)).alias("ka"),
        F.sum(F.when(~in_a, 1).otherwise(0)).alias("nb"),
        F.sum(F.when(~in_a, hit).otherwise(0)).alias("kb"),
    )
    pool = (F.col("ka") + F.col("kb")) * 1.0 / (F.col("na") + F.col("nb"))
    zs = F.when(
        (F.col("na") == 0)
        | (F.col("nb") == 0)
        | (F.col("ka") + F.col("kb") == 0)
        | (F.col("ka") + F.col("kb") == F.col("na") + F.col("nb")),
        F.lit(0.0),
    ).otherwise(
        (F.col("ka") * 1.0 / F.col("na") - F.col("kb") * 1.0 / F.col("nb"))
        / F.sqrt(pool * (1.0 - pool) * (1.0 / F.col("na") + 1.0 / F.col("nb")))
    )
    z = agg.select("bucket", "na", "ka", "nb", "kb", zs.alias("zs"))
    pv = z.select("bucket", "zs", (2.0 * _phi_upper_spark(F.abs(F.col("zs")))).alias("p"))
    wr = Window.orderBy("p", "bucket")  # 64-row hypothesis frame
    ranked = pv.withColumn("rk", F.row_number().over(wr)).localCheckpoint(eager=False)
    kstar = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("p") <= F.col("rk") * _BH_ALPHA / _BH_BUCKETS, F.col("rk"))),
            F.lit(0),
        ).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(kstar))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.round("zs", 4).alias("z_stat"),
            F.round("p", 6).alias("p_value"),
            F.col("rk").cast("long").alias("p_rank"),
            F.round(F.col("rk") * _BH_ALPHA / _BH_BUCKETS, 6).alias("bh_crit"),
            F.when(F.col("rk") <= F.col("k"), 1).otherwise(0).cast("long").alias("rejected"),
        )
        .orderBy("p_rank")
        .limit(_BH_TOP)
    )


# ---------------------------------------------------------------------------
# a0067 — exact tie-corrected ROC-AUC via the Mann-Whitney U statistic:
# AUC = (Σ_pos avg-rank − n⁺(n⁺+1)/2) / (n⁺n⁻), with average ranks over
# ties taken from the cumulative counts of the DISTINCT-SCORE frame —
# the scale-correct form (one groupBy on the score, window algebra over
# the bounded distinct-value frame; for continuous scores you bucket
# first, for integer scores like document length it is EXACT). Scorer:
# document length predicting lang='en'; Gini = 2·AUC−1 alongside.
# ---------------------------------------------------------------------------


@query(
    "a0067_roc_auc",
    oracle="""
    WITH d AS (
      SELECT n_chars AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents
    ),
    g AS (SELECT s, COUNT(*) AS cnt, SUM(y) AS pos FROM d GROUP BY s),
    c AS (
      SELECT s, cnt, pos,
             COALESCE(SUM(cnt) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM g
    ),
    u AS (
      SELECT SUM(pos * (cum_before + (cnt + 1) / 2.0)) AS rank_pos_sum,
             SUM(pos) AS np, SUM(cnt - pos) AS nn
      FROM c
    )
    SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           ROUND((rank_pos_sum - np * (np + 1) / 2.0) / (np * nn), 6) AS auc,
           ROUND(2 * (rank_pos_sum - np * (np + 1) / 2.0) / (np * nn) - 1, 6) AS gini
    FROM u
    """,
    description="exact tie-corrected ROC-AUC via the Mann-Whitney U statistic (document length scoring lang='en'): average ranks over ties from cumulative counts of the DISTINCT-SCORE frame — one score-keyed groupBy plus window algebra over the bounded distinct-value frame (the scale-correct AUC: bucket first for continuous scores, exact for integer scores); Gini coefficient alongside",
)
def a0067_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    g = d.groupBy("s").agg(F.count("*").alias("cnt"), F.sum("y").alias("pos"))
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "s", "cnt", "pos", F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum_before")
    )
    u = c.agg(
        F.sum(F.col("pos") * (F.col("cum_before") + (F.col("cnt") + 1) / 2.0)).alias(
            "rank_pos_sum"
        ),
        F.sum("pos").alias("np"),
        F.sum(F.col("cnt") - F.col("pos")).alias("nn"),
    )
    auc = (F.col("rank_pos_sum") - F.col("np") * (F.col("np") + 1) / 2.0) / (
        F.col("np") * F.col("nn")
    )
    return u.select(
        F.col("np").cast("long").alias("n_pos"),
        F.col("nn").cast("long").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        F.round(2 * auc - 1, 6).alias("gini"),
    )


# ---------------------------------------------------------------------------
# a0068 — cumulative gains and lift chart by score decile (the campaign-
# targeting readout): documents ranked by length-score into exact
# interpolated deciles (the a0158 count-of-edges rule — never ntile over
# the table), positives = lang='en'; per decile from best down:
# response rate, lift vs base rate, cumulative gains. The decile frame
# is 10 rows, so the cumulative window never touches data.
# ---------------------------------------------------------------------------

_LIFT_QS = [i / 10 for i in range(1, 10)]


@query(
    "a0068_lift_gains",
    oracle=f"""
    WITH d AS (
      SELECT CAST(n_chars AS DOUBLE) AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    q AS (SELECT quantile_cont(s, [{", ".join(str(q) for q in _LIFT_QS)}]) AS qs FROM d),
    b AS (
      SELECT y, len(list_filter((SELECT qs FROM q), e -> e <= s)) AS bin FROM d
    ),
    agg AS (
      SELECT bin, COUNT(*) AS n, SUM(y) AS pos FROM b GROUP BY bin
    ),
    tot AS (SELECT SUM(n) AS nt, SUM(pos) AS pt FROM agg),
    cum AS (
      SELECT bin, n, pos,
             SUM(n) OVER w AS cum_n, SUM(pos) OVER w AS cum_pos
      FROM agg
      WINDOW w AS (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
    )
    SELECT CAST(9 - bin AS BIGINT) AS decile_rank, CAST(n AS BIGINT) AS n_docs,
           CAST(pos AS BIGINT) AS n_pos,
           ROUND(pos * 1.0 / n / (t.pt * 1.0 / t.nt), 6) AS lift,
           ROUND(cum_pos * 1.0 / t.pt, 6) AS cum_gains,
           ROUND(cum_n * 1.0 / t.nt, 6) AS cum_share
    FROM cum CROSS JOIN tot t
    ORDER BY decile_rank
    """,
    description="cumulative gains and lift chart by score decile (campaign-targeting readout): document-length score cut at exact interpolated deciles via the count-of-edges rule (never ntile over the table), positives = lang='en'; per decile from best down the response lift vs base rate plus cumulative gains/share — the cumulative window runs over the 10-row decile frame only",
)
def a0068_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("double").alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    edges = d.agg(
        F.expr(f"percentile(s, array({', '.join(str(q) for q in _LIFT_QS)}))").alias("qs")
    )
    b = d.crossJoin(F.broadcast(edges)).select(
        "y", F.size(F.filter(F.col("qs"), lambda e: e <= F.col("s"))).alias("bin")
    )
    agg = b.groupBy("bin").agg(F.count("*").alias("n"), F.sum("y").alias("pos")).localCheckpoint(
        eager=False
    )
    tot = agg.agg(F.sum("n").alias("nt"), F.sum("pos").alias("pt"))
    w = Window.orderBy(F.desc("bin")).rowsBetween(Window.unboundedPreceding, 0)
    cum = agg.select(
        "bin", "n", "pos", F.sum("n").over(w).alias("cum_n"), F.sum("pos").over(w).alias("cum_pos")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            (9 - F.col("bin")).cast("long").alias("decile_rank"),
            F.col("n").cast("long").alias("n_docs"),
            F.col("pos").cast("long").alias("n_pos"),
            F.round(
                F.col("pos") * 1.0 / F.col("n") / (F.col("pt") * 1.0 / F.col("nt")), 6
            ).alias("lift"),
            F.round(F.col("cum_pos") * 1.0 / F.col("pt"), 6).alias("cum_gains"),
            F.round(F.col("cum_n") * 1.0 / F.col("nt"), 6).alias("cum_share"),
        )
        .orderBy("decile_rank")
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
# a0010 — Hill tail-index estimate of the user-activity distribution
# (Hill 1975; the heavy-tail exponent behind skew planning): per-user
# event counts, the top-(H+1) order statistics by (count DESC,
# user_id), and alpha_hat = H / sum(ln(x_i / x_min)) over the H largest
# with x_min = the (H+1)-th. The tail index is what says whether a
# key's load distribution has finite variance — i.e. whether salting is
# OPTIONAL or MANDATORY at 100 TB. One user-keyed aggregate is the only
# data-sized stage; the order statistics come from a bounded
# TakeOrdered (never a global rank window over users).
# Scale rule (100 TB): H is an estimator constant (bias/variance
# trade); the tail frame is H+1 rows whatever the corpus.
# ---------------------------------------------------------------------------

_HILL_H = 100


@query(
    "a0010_hill_tail_index",
    oracle=f"""
    WITH u AS (SELECT user_id, COUNT(*) * 1.0 AS c FROM events GROUP BY user_id),
    top_h AS (SELECT c, user_id FROM u ORDER BY c DESC, user_id LIMIT {_HILL_H + 1}),
    xmin AS (SELECT MIN(c) AS xm FROM top_h),
    tail AS (
      SELECT c FROM (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS rk
                     FROM top_h)
      WHERE rk <= {_HILL_H}),
    m AS (SELECT COUNT(*) * 1.0 AS h, SUM(ln(tail.c / xmin.xm)) AS s
          FROM tail, xmin)
    SELECT CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_users,
           CAST(m.h AS BIGINT) AS tail_points,
           (SELECT xm FROM xmin) AS x_min,
           ROUND(m.h / m.s, 6) AS hill_alpha,
           ROUND(1.0 + m.h / m.s, 6) AS pareto_exponent
    FROM m
    """,
    description=f"Hill tail-index of the user-activity distribution: per-user event counts (one data-sized aggregate), top-{_HILL_H + 1} order statistics via bounded TakeOrdered (never a global rank over users), alpha = H / sum ln(x_i/x_min) — the heavy-tail exponent that decides whether key salting is optional or mandatory at scale",
)
def a0010_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg((F.count("*") * 1.0).alias("c"))
        .localCheckpoint(eager=False)  # census count + tail reuse it
    )
    # ONE collect (r14): the user census rides the TakeOrdered collect as
    # a broadcast 1-row COUNT(*) crossJoined onto the (H+1)-row tail —
    # the former separate u.count() job paid one more job floor against
    # the same checkpointed frame
    top = (
        u.orderBy(F.desc("c"), "user_id")
        .limit(_HILL_H + 1)
        .crossJoin(F.broadcast(u.agg(F.count("*").alias("_nu"))))
        .collect()
    )
    n_users = int(top[0]["_nu"]) if top else 0
    xs = sorted(((r["c"], r["user_id"]) for r in top), key=lambda t: (-t[0], t[1]))
    xm = xs[-1][0]

    tail = xs[:_HILL_H]  # rk <= H of however many rows exist (SQL parity)
    h = float(len(tail))
    s = sum(math.log(c / xm) for c, _ in tail)
    return spark.createDataFrame(
        [
            (
                n_users,
                len(tail),
                xm,
                math.floor(h / s * 1e6 + 0.5) / 1e6,
                math.floor((1.0 + h / s) * 1e6 + 0.5) / 1e6,
            )
        ],
        "n_users long, tail_points long, x_min double, hill_alpha double, pareto_exponent double",
    )


# ---------------------------------------------------------------------------
# a0020 — AMS / CountSketch second-moment (F2) estimate of the token
# frequency vector (Alon-Matias-Szegedy 1996; Charikar-Chen-Farach-
# Colton 2002) vs the exact F2 — completing the mergeable-sketch family
# (HLL cardinality / CMS point queries / KMV set ops / MRL quantiles /
# now moments). F2 drives join-size and self-join-size estimation and
# skew detection. The whole pipeline is INTEGER-exact across engines:
# md5-derived bucket and +-1 sign hashes, sketch cells SUM(sign*count),
# estimator SUM(cell^2), median-of-5 by exact discrete quantile — no
# float until the final relative-error percent.
# Scale rule (100 TB): 5 x 64 cells regardless of N; sketches merge by
# cell-wise addition (the map-side combine IS the merge); int64 heads
# room to ~1e9 occurrences of a single token per estimator.
# ---------------------------------------------------------------------------

_AMS_EST = 5
_AMS_B = 64


@query(
    "a0020_ams_f2_sketch",
    oracle=f"""
    WITH toks AS (SELECT unnest({_TOKS}) AS w FROM documents),
    cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
    f2x AS (SELECT CAST(SUM(c * c) AS BIGINT) AS f2 FROM cnt),
    est AS (
      SELECT r.e,
             CAST(CONCAT('0x', substr(md5('b' || r.e || '_' || cnt.w), 1, 6))
                  AS BIGINT) % {_AMS_B} AS b,
             CASE WHEN CAST(CONCAT('0x', substr(md5('s' || r.e || '_' || cnt.w), 1, 6))
                       AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s,
             cnt.c
      FROM cnt CROSS JOIN range(0, {_AMS_EST}) r(e)),
    sk AS (SELECT e, b, CAST(SUM(s * c) AS BIGINT) AS v FROM est GROUP BY e, b),
    f2e AS (SELECT e, CAST(SUM(v * v) AS BIGINT) AS f2 FROM sk GROUP BY e),
    med AS (SELECT CAST(QUANTILE_DISC(f2, 0.5) AS BIGINT) AS f2_est FROM f2e)
    SELECT f2x.f2 AS f2_exact, med.f2_est,
           ROUND(ABS(med.f2_est - f2x.f2) / (f2x.f2 * 1.0) * 100, 6) AS rel_err_pct,
           CAST({_AMS_EST} AS BIGINT) AS n_estimators,
           CAST({_AMS_B} AS BIGINT) AS n_buckets
    FROM f2x CROSS JOIN med
    """,
    description=f"AMS/CountSketch F2 (second moment) estimate of the token frequency vector vs exact (Alon-Matias-Szegedy 1996): {_AMS_EST} estimators x {_AMS_B} cells, md5-derived bucket and sign hashes, cells SUM(sign*count), estimator SUM(cell^2), median-of-{_AMS_EST} by exact discrete quantile — INTEGER-exact across engines until the final error percent; completes the mergeable-sketch family (moments join cardinality/point/set/quantile) — the self-join-size and skew estimator; sketches merge by cell-wise addition",
)
def a0020_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(X.tokens("text")).alias("w")
    )
    cnt = toks.groupBy("w").agg(F.count("*").alias("c")).localCheckpoint(
        eager=False
    )  # vocab-bounded; feeds exact F2 + all estimators
    est = cnt.select(
        "w", "c", F.explode(F.array(*[F.lit(e) for e in range(_AMS_EST)])).alias("e")
    )
    b = F.conv(
        F.substring(F.md5(F.concat(F.lit("b"), F.col("e").cast("string"), F.lit("_"), F.col("w"))), 1, 6),
        16,
        10,
    ).cast("long") % _AMS_B
    s = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("s"), F.col("e").cast("string"), F.lit("_"), F.col("w"))), 1, 6
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        1,
    ).otherwise(-1)
    sk = est.select("e", b.alias("b"), (s * F.col("c")).alias("sc")).groupBy("e", "b").agg(
        F.sum("sc").alias("v")
    )
    f2e = sk.groupBy("e").agg(F.sum(F.col("v") * F.col("v")).cast("long").alias("f2"))
    # ONE collect (r14): the exact-F2 scalar rides the 5-row estimator
    # collect as a broadcast 1-row aggregate crossJoin — the former
    # separate f2_exact job paid one more floor against the same
    # checkpointed count frame
    rows = f2e.crossJoin(
        F.broadcast(cnt.agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("_f2x")))
    ).collect()
    f2_exact = int(rows[0]["_f2x"])
    vals = sorted(int(r["f2"]) for r in rows)  # 5-row frame
    f2_est = vals[(_AMS_EST - 1) // 2]
    out = spark.createDataFrame(
        [(f2_exact, f2_est, _AMS_EST, _AMS_B)],
        "f2_exact long, f2_est long, n_estimators long, n_buckets long",
    )
    return out.select(
        "f2_exact",
        "f2_est",
        F.round(F.abs(F.col("f2_est") - F.col("f2_exact")) / (F.col("f2_exact") * 1.0) * 100, 6).alias(
            "rel_err_pct"
        ),
        "n_estimators",
        "n_buckets",
    )


# ---------------------------------------------------------------------------
# a0031 — split-conformal prediction intervals (Vovk et al. 2005; Lei
# et al. JASA 2018): the distribution-free calibration wrapper every
# scoring service can bolt onto ANY point predictor. Deterministic
# md5 split fit/cal/test (8/4/4 of 16 hex buckets); predictor = the
# per-priority fit-split mean (deliberately simple — conformal
# guarantees coverage regardless of predictor quality); q_hat = the
# ceil((n_cal+1)*(1-alpha))-th smallest absolute calibration residual
# (the finite-sample-valid order statistic, NOT a plug-in quantile);
# the test-split empirical coverage audits the ~90% guarantee.
#
# Determinism: the split is hash-exact; group means divide an exact
# DECIMAL sum by an integer count; q_hat is an ORDER STATISTIC
# (row_number over (residual, orderkey)), so no interpolation
# semantics can diverge between engines.
# Scale shape: group frame is bounded (5 priorities) and broadcast;
# the quantile is a per-group TopK-ish window over the calibration
# split only; everything else is one scan + group aggregates.
# ---------------------------------------------------------------------------

_CONF_ALPHA = 0.1


@query(
    "a0031_conformal_intervals",
    oracle=f"""
    WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS g, o_totalprice AS y,
                      substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS h
               FROM orders),
    s AS (SELECT *, CASE WHEN h < '8' THEN 'fit'
                         WHEN h < 'c' THEN 'cal' ELSE 'test' END AS sp FROM o),
    pred AS (SELECT g,
                    CAST(COUNT(*) AS BIGINT) AS n_fit,
                    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS yhat
             FROM s WHERE sp = 'fit' GROUP BY g),
    cal AS (SELECT s.g, s.k, ABS(s.y - pred.yhat) AS r
            FROM s JOIN pred USING (g) WHERE sp = 'cal'),
    rk AS (SELECT g, r, ROW_NUMBER() OVER (PARTITION BY g ORDER BY r, k) AS rn,
                  COUNT(*) OVER (PARTITION BY g) AS nc
           FROM cal),
    qh AS (SELECT g, CAST(nc AS BIGINT) AS n_cal, r AS qhat FROM rk
           WHERE rn = CAST(CEIL((nc + 1) * {1 - _CONF_ALPHA}) AS BIGINT)),
    test AS (SELECT s.g,
                    CAST(COUNT(*) AS BIGINT) AS n_test,
                    CAST(SUM(CASE WHEN ABS(s.y - pred.yhat) <= qh.qhat
                                  THEN 1 ELSE 0 END) AS BIGINT) AS covered
             FROM s JOIN pred USING (g) JOIN qh USING (g)
             WHERE sp = 'test' GROUP BY s.g)
    SELECT pred.g AS priority, pred.n_fit, qh.n_cal, test.n_test,
           ROUND(pred.yhat, 6) AS yhat,
           ROUND(qh.qhat, 6) AS q_hat,
           ROUND(test.covered * 1.0 / test.n_test, 6) AS coverage
    FROM pred JOIN qh USING (g) JOIN test ON test.g = pred.g
    ORDER BY priority
    """,
    description=f"split-conformal prediction intervals (Vovk et al. 2005, Lei et al. JASA 2018, alpha={_CONF_ALPHA}): deterministic md5 fit/cal/test split (8/4/4 hex buckets), per-priority fit-mean predictor (exact DECIMAL sum / integer count), q_hat = the ceil((n+1)(1-alpha))-th smallest absolute calibration residual as a pure ORDER STATISTIC (row_number with orderkey ties — no interpolation semantics to diverge), test-split empirical coverage auditing the distribution-free ~90% guarantee; bounded group frame broadcast, one scan + group aggregates otherwise",
)
def a0031_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").alias("y"),
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).alias("h"),
    )
    s = o.select(
        "k",
        "g",
        "y",
        F.when(F.col("h") < "8", "fit").when(F.col("h") < "c", "cal").otherwise(
            "test"
        ).alias("sp"),
    )
    pred = (
        s.filter(F.col("sp") == "fit")
        .groupBy("g")
        .agg(
            F.count("*").cast("long").alias("n_fit"),
            (
                F.sum(F.col("y").cast("decimal(18,2)")).cast("double") / F.count("*")
            ).alias("yhat"),
        )
    )
    cal = (
        s.filter(F.col("sp") == "cal")
        .join(F.broadcast(pred), "g")
        .select("g", "k", F.abs(F.col("y") - F.col("yhat")).alias("r"))
    )
    wrk = Window.partitionBy("g").orderBy("r", "k")
    wn = Window.partitionBy("g")
    rk = cal.select(
        "g",
        "r",
        F.row_number().over(wrk).alias("rn"),
        F.count("*").over(wn).alias("nc"),
    )
    kth = F.ceil((F.col("nc") + 1) * (1 - _CONF_ALPHA)).cast("long")
    qh = rk.filter(F.col("rn") == kth).select(
        "g", F.col("nc").cast("long").alias("n_cal"), F.col("r").alias("qhat")
    )
    test = (
        s.filter(F.col("sp") == "test")
        .join(F.broadcast(pred), "g")
        .join(F.broadcast(qh), "g")
        .groupBy("g")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(
                F.when(F.abs(F.col("y") - F.col("yhat")) <= F.col("qhat"), 1).otherwise(0)
            )
            .cast("long")
            .alias("covered"),
        )
    )
    return (
        pred.join(qh, "g")
        .join(test, "g")
        .select(
            F.col("g").alias("priority"),
            "n_fit",
            "n_cal",
            "n_test",
            F.round("yhat", 6).alias("yhat"),
            F.round("qhat", 6).alias("q_hat"),
            F.round(F.col("covered") * 1.0 / F.col("n_test"), 6).alias("coverage"),
        )
        .orderBy("priority")
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


# ---------------------------------------------------------------------------
# a0042 — Kolmogorov-Smirnov two-sample test (returned 'R' vs
# non-returned 'N' extended prices — the SAME samples a0073 runs the
# Mann-Whitney U on, so the two distribution-free tests read side by
# side): D = max over the merged distinct-value frame of
# |F_R(v) − F_N(v)| with INCLUSIVE ECDFs, and the asymptotic p-value
# Q_KS(λ) with λ = (√n_e + 0.12 + 0.11/√n_e)·D, n_e = n₁n₂/(n₁+n₂)
# (Numerical Recipes §14.3.3; series truncated at a FIXED 4 terms in
# both engines, far below 6-dp resolution for any λ of interest).
#
# Distributed shape (the a0073 two-pass sharded prefix sum): one
# data-sized exchange to (bkt = floor(val/1000)) partitions, the
# (bkt,val) aggregate and the INCLUSIVE in-bucket running sums ride
# that partitioning, and the ≤~130-row bucket totals collect to the
# driver to become exclusive-offset literal maps — never a global
# window over data rows. Determinism: cumulative counts are exact
# integers, so F_R − F_N = (c_r·n₂ − c_n·n₁)/(n₁n₂) is a single exact
# integer difference divided once; the argmax location is resolved by
# (gap desc, val asc) on exact values.
# Scale rule (100 TB): the knob is the bucket width (keep the bucket
# frame ~4x cluster width so the offset frame stays a bounded driver
# collect); the data-sized work is one exchange + one aggregate.
# ---------------------------------------------------------------------------

_KS_BUCKET_W = 1000.0  # price-space bucket width, a0073's constant


def _ks_q_sql(lam: str) -> str:
    # Q_KS(λ) = 2 Σ_{j>=1} (−1)^{j−1} e^{−2 j² λ²}, truncated at j=4.
    terms = " + ".join(
        f"({'-' if j % 2 == 0 else ''}2.0 * exp(-2.0 * {j * j} * ({lam}) * ({lam})))"
        for j in range(1, 5)
    )
    return f"({terms})"


def _ks_q_spark(lam):
    out = None
    for j in range(1, 5):
        sign = -2.0 if j % 2 == 0 else 2.0
        term = F.lit(sign) * F.exp(F.lit(-2.0 * j * j) * lam * lam)
        out = term if out is None else out + term
    return out


@query(
    "a0042_ks_two_sample",
    oracle=f"""
    WITH rows_in AS (
      SELECT l_extendedprice AS val,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_r
      FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ),
    vals AS (
      SELECT val, SUM(is_r) AS c_r, SUM(1 - is_r) AS c_n
      FROM rows_in GROUP BY val
    ),
    cum AS (
      SELECT val,
             SUM(c_r) OVER (ORDER BY val) AS cum_r,
             SUM(c_n) OVER (ORDER BY val) AS cum_n
      FROM vals
    ),
    n AS (SELECT SUM(c_r) AS n1, SUM(c_n) AS n2 FROM vals),
    gaps AS (
      SELECT val, ABS(cum_r * n2 - cum_n * n1) AS gap_num, n1, n2
      FROM cum CROSS JOIN n
    ),
    best AS (
      SELECT val, gap_num, n1, n2
      FROM gaps ORDER BY gap_num DESC, val ASC LIMIT 1
    ),
    stat AS (
      SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             val AS d_at_value,
             CAST(gap_num AS DOUBLE) / (n1 * n2) AS d,
             sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)) AS sq_ne
      FROM best
    )
    SELECT n1, n2, d_at_value, ROUND(d, 6) AS ks_d,
           ROUND(LEAST(1.0, GREATEST(0.0,
             {_ks_q_sql('(sq_ne + 0.12 + 0.11 / sq_ne) * d')})), 6) AS p_value
    FROM stat
    """,
    description="Kolmogorov-Smirnov two-sample test of returned ('R') vs non-returned ('N') extended prices: D = max |ECDF_R − ECDF_N| over the merged distinct-value frame via the a0073 sharded two-pass prefix sum (bucket-partitioned inclusive running sums + bounded driver-side offsets — never a global window over data rows), exact integer gap numerators so the argmax is engine-stable, asymptotic p from the 4-term Kolmogorov series (NR §14.3.3)",
)
def a0042_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice", "l_returnflag")
    rows_in = li.filter(F.col("l_returnflag").isin("R", "N")).select(
        F.col("l_extendedprice").alias("val"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_r"),
    )
    r = rows_in.withColumn("bkt", F.floor(F.col("val") / _KS_BUCKET_W).cast("long"))
    vals = (
        r.repartition(F.col("bkt"))
        .groupBy("bkt", "val")
        .agg(F.sum("is_r").alias("c_r"), F.sum(1 - F.col("is_r")).alias("c_n"))
    )
    # inclusive in-bucket running sums on the partitioning the rows
    # already have; bucket totals collect to exclusive-offset literals
    # (the a0073 two-pass distributed prefix sum).
    win_in = (
        Window.partitionBy("bkt").orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    )
    within = vals.select(
        "bkt",
        "val",
        F.sum("c_r").over(win_in).alias("run_r"),
        F.sum("c_n").over(win_in).alias("run_n"),
        F.sum("c_r").over(Window.partitionBy("bkt")).alias("bt_r"),
        F.sum("c_n").over(Window.partitionBy("bkt")).alias("bt_n"),
    ).localCheckpoint(eager=False)  # offsets collect + gap scan reuse it
    brows = sorted(
        (row["bkt"], row["bt_r"], row["bt_n"])
        for row in within.groupBy("bkt")
        .agg(F.any_value("bt_r").alias("bt_r"), F.any_value("bt_n").alias("bt_n"))
        .collect()
    )
    offs_r: dict[int, int] = {}
    offs_n: dict[int, int] = {}
    acc_r = acc_n = 0
    for bkt, btr, btn in brows:
        offs_r[bkt], offs_n[bkt] = acc_r, acc_n
        acc_r += btr
        acc_n += btn
    n1, n2 = acc_r, acc_n
    omap_r = F.create_map(*[x for b, o in offs_r.items() for x in (F.lit(b), F.lit(o))])
    omap_n = F.create_map(*[x for b, o in offs_n.items() for x in (F.lit(b), F.lit(o))])
    gaps = within.select(
        "val",
        F.abs(
            (omap_r[F.col("bkt")] + F.col("run_r")) * F.lit(n2)
            - (omap_n[F.col("bkt")] + F.col("run_n")) * F.lit(n1)
        ).alias("gap_num"),
    )
    best = gaps.orderBy(F.desc("gap_num"), F.asc("val")).limit(1)
    d = F.col("gap_num").cast("double") / F.lit(float(n1) * float(n2))
    sq_ne = F.sqrt(F.lit(float(n1) * float(n2) / (n1 + n2)))
    lam = (sq_ne + F.lit(0.12) + F.lit(0.11) / sq_ne) * d
    return best.select(
        F.lit(n1).cast("long").alias("n1"),
        F.lit(n2).cast("long").alias("n2"),
        F.col("val").alias("d_at_value"),
        F.round(d, 6).alias("ks_d"),
        F.round(F.least(F.lit(1.0), F.greatest(F.lit(0.0), _ks_q_spark(lam))), 6).alias(
            "p_value"
        ),
    )


# ---------------------------------------------------------------------------
# a0049 — 1-D Wasserstein (earth-mover) drift between CONSECUTIVE
# MONTHS' order-value distributions (Ramdas, García Trillos & Cuturi
# 2017 survey form): W₁(F,G) = ∫|F(x) − G(x)| dx, which for empirical
# CDFs is Σ over the merged sorted distinct values of
# |F₁(v) − F₂(v)|·(next(v) − v). The drift-monitoring metric that, a
# unlike PSI (a0095) or KS (a0042), is in PRICE UNITS and sensitive
# to how far mass moved, not just whether it did.
#
# Exactness device: values are exact integer cents; the summand is
# assembled as gap_cents · |c₁n₂ − c₂n₁| in DECIMAL(38,0) (Spark) /
# HUGEINT (DuckDB) — the sum is exact integer arithmetic in both
# engines, divided ONCE by 100·n₁n₂ at the end, so no float summation
# order exists at all.
# Distributed shape: each order lands in ≤2 month pairs (explode by a
# literal 2-array); per-(pair,bkt,val) counts ride one (pair,bkt)
# exchange; in-data prefix windows are (pair,bkt)-PARTITIONED; the
# exclusive offsets and cross-bucket next-value stitches come from
# windows over the BOUNDED (pair,bkt) totals frame (≤ #months ×
# #buckets rows), broadcast-joined back.
# Scale rule (100 TB): bucket width is the knob (a0073's rule); the
# data-sized work is one exchange + one aggregate regardless of the
# number of month pairs.
# ---------------------------------------------------------------------------

_W1_BUCKET_W = 50000  # cents bucket width (500 dollars)


@query(
    "a0049_wasserstein_drift",
    oracle=f"""
    WITH o AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS vc
      FROM orders
    ),
    months AS (SELECT DISTINCT m FROM o),
    pairs AS (
      SELECT m AS m1, m + INTERVAL 1 MONTH AS m2 FROM months
      WHERE m + INTERVAL 1 MONTH IN (SELECT m FROM months)
    ),
    tagged AS (
      SELECT p.m1, CASE WHEN o.m = p.m1 THEN 1 ELSE 0 END AS is_a, o.vc
      FROM o JOIN pairs p ON o.m = p.m1 OR o.m = p.m2
    ),
    vals AS (
      SELECT m1, vc, SUM(is_a) AS c_a, SUM(1 - is_a) AS c_b
      FROM tagged GROUP BY m1, vc
    ),
    cum AS (
      SELECT m1, vc,
             SUM(c_a) OVER (PARTITION BY m1 ORDER BY vc) AS cum_a,
             SUM(c_b) OVER (PARTITION BY m1 ORDER BY vc) AS cum_b,
             LEAD(vc) OVER (PARTITION BY m1 ORDER BY vc) AS nxt
      FROM vals
    ),
    n AS (SELECT m1, SUM(c_a) AS n1, SUM(c_b) AS n2 FROM vals GROUP BY m1),
    terms AS (
      SELECT cum.m1,
             CAST(COALESCE(nxt - vc, 0) AS HUGEINT)
               * CAST(ABS(cum_a * n.n2 - cum_b * n.n1) AS HUGEINT) AS t,
             n.n1, n.n2
      FROM cum JOIN n ON cum.m1 = n.m1
    )
    SELECT CAST(m1 AS DATE) AS month_from,
           CAST(m1 + INTERVAL 1 MONTH AS DATE) AS month_to,
           CAST(MAX(n1) AS BIGINT) AS n_from, CAST(MAX(n2) AS BIGINT) AS n_to,
           ROUND(CAST(SUM(t) AS DOUBLE)
                 / (100.0 * MAX(n1) * MAX(n2)), 4) AS w1_dollars
    FROM terms GROUP BY m1
    ORDER BY month_from
    """,
    description=f"1-D Wasserstein (earth-mover) drift between consecutive months' order-value distributions: W₁ = Σ |F₁−F₂|·gap over the merged distinct-cents frame, assembled as exact DECIMAL(38,0)/HUGEINT integer sums (gap_cents·|c₁n₂−c₂n₁|, divided once at the end — no float summation order exists); each order explodes into ≤2 month pairs, prefix windows are (pair,bucket)-partitioned with offsets/next-value stitches from the bounded bucket-totals frame (bucket width {_W1_BUCKET_W} cents)",
)
def a0049_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").alias("m"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("vc"),
    )
    months = o.select("m").distinct()
    pairs = (
        months.alias("a")
        .join(
            months.select(F.col("m").alias("m2")).alias("b"),
            F.col("b.m2") == F.add_months(F.col("a.m"), 1).cast("timestamp"),
        )
        .select(F.col("a.m").alias("m1"))
    )
    # each order participates in <= 2 pairs: (its month as side B) and
    # (its month as side A); inner-join against the pair dim keeps only
    # pairs that exist.
    cand = o.select(
        "vc",
        F.explode(
            F.array(
                F.struct(F.col("m").alias("m1"), F.lit(1).alias("is_a")),
                F.struct(
                    F.add_months(F.col("m"), -1).cast("timestamp").alias("m1"),
                    F.lit(0).alias("is_a"),
                ),
            )
        ).alias("t"),
    ).select("vc", "t.m1", "t.is_a")
    tagged = cand.join(F.broadcast(pairs), "m1")
    tagged = tagged.withColumn("bkt", (F.col("vc") / _W1_BUCKET_W).cast("long"))
    vals = (
        tagged.repartition(F.col("m1"), F.col("bkt"))
        .groupBy("m1", "bkt", "vc")
        .agg(F.sum("is_a").alias("c_a"), F.sum(1 - F.col("is_a")).alias("c_b"))
    )
    win_in = (
        Window.partitionBy("m1", "bkt")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = vals.select(
        "m1",
        "bkt",
        "vc",
        F.sum("c_a").over(win_in).alias("run_a"),
        F.sum("c_b").over(win_in).alias("run_b"),
        F.lead("vc").over(Window.partitionBy("m1", "bkt").orderBy("vc")).alias("nxt_in"),
        F.sum("c_a").over(Window.partitionBy("m1", "bkt")).alias("bt_a"),
        F.sum("c_b").over(Window.partitionBy("m1", "bkt")).alias("bt_b"),
        F.min("vc").over(Window.partitionBy("m1", "bkt")).alias("bmin"),
    ).localCheckpoint(eager=False)
    # BOUNDED (pair, bkt) totals frame: exclusive offsets + the next
    # NON-EMPTY bucket's min value (stitches cross-bucket LEAD).
    btot = within.groupBy("m1", "bkt").agg(
        F.any_value("bt_a").alias("bt_a"),
        F.any_value("bt_b").alias("bt_b"),
        F.any_value("bmin").alias("bmin"),
    )
    wb = Window.partitionBy("m1").orderBy("bkt")
    boff = btot.select(
        "m1",
        "bkt",
        F.coalesce(
            F.sum("bt_a").over(wb.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ).alias("off_a"),
        F.coalesce(
            F.sum("bt_b").over(wb.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ).alias("off_b"),
        F.lead("bmin").over(wb).alias("next_bmin"),
    )
    ntot = btot.groupBy("m1").agg(
        F.sum("bt_a").alias("n1"), F.sum("bt_b").alias("n2")
    )
    j = (
        within.join(F.broadcast(boff), ["m1", "bkt"])
        .join(F.broadcast(ntot), "m1")
        .select(
            "m1",
            "n1",
            "n2",
            F.coalesce(F.coalesce("nxt_in", "next_bmin") - F.col("vc"), F.lit(0)).alias(
                "gap"
            ),
            F.abs(
                (F.col("off_a") + F.col("run_a")) * F.col("n2")
                - (F.col("off_b") + F.col("run_b")) * F.col("n1")
            ).alias("gap_num"),
        )
    )
    terms = j.select(
        "m1",
        "n1",
        "n2",
        (
            F.col("gap").cast("decimal(38,0)") * F.col("gap_num").cast("decimal(38,0)")
        ).alias("t"),
    )
    return (
        terms.groupBy("m1")
        .agg(
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
            F.sum("t").alias("st"),
        )
        .select(
            F.col("m1").cast("date").alias("month_from"),
            F.add_months(F.col("m1"), 1).cast("date").alias("month_to"),
            F.col("n1").cast("long").alias("n_from"),
            F.col("n2").cast("long").alias("n_to"),
            F.round(
                F.col("st").cast("double")
                / (F.lit(100.0) * F.col("n1") * F.col("n2")),
                4,
            ).alias("w1_dollars"),
        )
        .orderBy("month_from")
    )


# ---------------------------------------------------------------------------
# a0044 — isotonic calibration of a score against outcome rates via the
# MINIMAX identity (Ayer et al. 1955; Robertson-Wright-Dykstra 1988
# §1.2): the PAVA solution at bin i equals
# max_{j<=i} min_{k>=i} mean(y_j..y_k) — a closed form over prefix
# sums, so the inherently SEQUENTIAL pool-adjacent-violators loop never
# runs; the whole fit is relational algebra over the bounded bin frame.
# Scorer: document length (n_chars) calibrated to P(lang='en') — the
# same scorer a0067 (ROC-AUC) and a0068 (lift/gains) audit, completing
# the score-quality triptych with the calibrated probabilities
# themselves.
#
# Distributed shape: ONE data-sized aggregate (groupBy bin) feeds a
# <=B-row frame; prefix sums, the j<=i<=k triangle (<=B^3 rows), and
# both optimizations run on bounded broadcast frames. Means are exact
# integer ratios (single division), so the minimax comparisons are
# engine-stable without rounding tricks.
# Scale rule (100 TB): B is a calibration-resolution constant; the
# data-sized work is one scan + one B-key aggregate regardless of
# corpus size.
# ---------------------------------------------------------------------------

_ISO_B = 20


@query(
    "a0044_isotonic_calibration",
    oracle=f"""
    WITH d AS (
      SELECT n_chars AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    ext AS (SELECT MIN(s) AS mn, MAX(s) AS mx FROM d),
    binned AS (
      SELECT CAST(FLOOR((s - mn) * {_ISO_B} * 1.0 / (mx - mn + 1)) AS BIGINT) AS bin, y
      FROM d CROSS JOIN ext
    ),
    bins AS (
      SELECT bin, COUNT(*) AS w, CAST(SUM(y) AS BIGINT) AS pos
      FROM binned GROUP BY bin
    ),
    pre AS (
      SELECT bin, w, pos,
             CAST(SUM(w) OVER (ORDER BY bin) AS BIGINT) AS cw,
             CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
      FROM bins
    ),
    tri AS (
      SELECT i.bin AS bin, j.cw - j.w AS wb, j.cp - j.pos AS pb,
             k.cw AS wk, k.cp AS pk
      FROM pre i JOIN pre j ON j.bin <= i.bin
                 JOIN pre k ON k.bin >= i.bin
    ),
    inner_min AS (
      SELECT bin, wb, pb,
             MIN(CAST(pk - pb AS DOUBLE) / (wk - wb)) AS m
      FROM tri GROUP BY bin, wb, pb
    ),
    fit AS (SELECT bin, MAX(m) AS iso FROM inner_min GROUP BY bin)
    SELECT b.bin, CAST(e.mn + FLOOR(b.bin * (e.mx - e.mn + 1) * 1.0 / {_ISO_B}) AS BIGINT) AS lo_chars,
           CAST(b.w AS BIGINT) AS n,
           ROUND(CAST(b.pos AS DOUBLE) / b.w, 6) AS raw_rate,
           ROUND(f.iso, 6) AS iso_rate
    FROM bins b JOIN fit f ON f.bin = b.bin CROSS JOIN ext e
    ORDER BY b.bin
    """,
    description=f"isotonic calibration (PAVA) of the document-length score against P(lang='en') via the minimax identity max_j<=i min_k>=i mean(y_j..y_k) — the sequential pool-adjacent-violators loop becomes closed-form relational algebra over the {_ISO_B}-bin frame (one data-sized groupBy feeds it; prefix sums + the j<=i<=k triangle are bounded broadcast frames; exact integer ratios make the minimax engine-stable); completes the a0067/a0068 score-quality triptych",
)
def a0044_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    ext = d.agg(F.min("s").alias("mn"), F.max("s").alias("mx"))
    binned = d.crossJoin(F.broadcast(ext)).select(
        F.floor(
            (F.col("s") - F.col("mn")) * _ISO_B * 1.0 / (F.col("mx") - F.col("mn") + 1)
        )
        .cast("long")
        .alias("bin"),
        "y",
    )
    bins = binned.groupBy("bin").agg(
        F.count("*").alias("w"), F.sum("y").cast("long").alias("pos")
    )
    wpre = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = bins.select(
        "bin",
        "w",
        "pos",
        F.sum("w").over(wpre).cast("long").alias("cw"),
        F.sum("pos").over(wpre).cast("long").alias("cp"),
    ).localCheckpoint(eager=False)  # the bounded bin frame feeds 3 joins
    i = pre.select(F.col("bin").alias("bin"))
    j = pre.select(
        F.col("bin").alias("jbin"),
        (F.col("cw") - F.col("w")).alias("wb"),
        (F.col("cp") - F.col("pos")).alias("pb"),
    )
    k = pre.select(F.col("bin").alias("kbin"), F.col("cw").alias("wk"), F.col("cp").alias("pk"))
    tri = (
        i.join(F.broadcast(j), F.col("jbin") <= F.col("bin"))
        .join(F.broadcast(k), F.col("kbin") >= F.col("bin"))
    )
    inner_min = tri.groupBy("bin", "wb", "pb").agg(
        F.min((F.col("pk") - F.col("pb")).cast("double") / (F.col("wk") - F.col("wb"))).alias("m")
    )
    fit = inner_min.groupBy("bin").agg(F.max("m").alias("iso"))
    out = (
        bins.join(fit, "bin")
        .crossJoin(F.broadcast(ext))
        .select(
            "bin",
            (
                F.col("mn")
                + F.floor(F.col("bin") * (F.col("mx") - F.col("mn") + 1) * 1.0 / _ISO_B)
            )
            .cast("long")
            .alias("lo_chars"),
            F.col("w").cast("long").alias("n"),
            F.round(F.col("pos").cast("double") / F.col("w"), 6).alias("raw_rate"),
            F.round("iso", 6).alias("iso_rate"),
        )
    )
    return out.orderBy("bin")
