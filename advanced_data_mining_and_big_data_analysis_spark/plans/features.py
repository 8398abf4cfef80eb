"""Feature-engineering and time-series declared queries: the reference
notebook's calendar/Fourier/holiday features and metrics (SURVEY §2.5,
§2.4, §2.8, §2.9), and the daily-revenue series diagnostics (gap fill,
autocorrelation, decomposition, trend tests, smoothing, changepoints,
bursts, motifs).

Every feature is a pure Column expression from ``functions/``; the DuckDB
oracle recomputes the same arithmetic so the driver's hash check pins the
semantics (not just the row counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, Window as W, functions as F

from ..functions import calendar as C, metrics as M, scalar as S
from ..sources import load_table
from .registry import query


# Seasons as the reference maps them (kaggle.py:203)
_SEASON_SQL = """
    CASE CAST(FLOOR((CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) % 12 + 3) / 3) AS INTEGER)
         WHEN 1 THEN 'DJF' WHEN 2 THEN 'MAM' WHEN 3 THEN 'JJA' ELSE 'SON' END
"""


@query(
    "q25_calendar_features",
    oracle=f"""
    SELECT {_SEASON_SQL} AS season,
           (EXTRACT(isodow FROM o_orderdate) - 1 = 4) AS wd4,
           (EXTRACT(isodow FROM o_orderdate) - 1 >= 5) AS wd56,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY season, wd4, wd56
    ORDER BY season, wd4, wd56
    """,
    description="season bucket + weekday flags (kaggle.py:203-209; SURVEY §2.5)",
)
def q25_calendar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    flags = C.weekday_flags("o_orderdate")
    return (
        orders.withColumn("season", C.season("o_orderdate"))
        .withColumn("wd4", flags["wd4"])
        .withColumn("wd56", flags["wd56"])
        .groupBy("season", "wd4", "wd56")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy("season", "wd4", "wd56")
    )


@query(
    "q26_fourier_harmonics",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
           ROUND(AVG(sin(dayofyear(o_orderdate) / 365.0 * 2 * pi() * 1)), 6) + 0 AS avg_sin1,
           ROUND(AVG(cos(dayofyear(o_orderdate) / 365.0 * 2 * pi() * 1)), 6) + 0 AS avg_cos1,
           ROUND(AVG(sin(dayofyear(o_orderdate) / 365.0 * 2 * pi() * 2)), 6) + 0 AS avg_sin2,
           ROUND(AVG(cos(dayofyear(o_orderdate) / 365.0 * 2 * pi() * 2)), 6) + 0 AS avg_cos2
    FROM orders GROUP BY order_year ORDER BY order_year
    """,
    description="day-of-year Fourier harmonics, order 2 (kaggle.py:214-234; SURVEY §2.5)",
)
def q26_fourier_harmonics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    h = C.fourier_doy("o_orderdate", order=2)
    return (
        orders.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            (F.round(F.avg(h["sin1"]), 6) + 0.0).alias("avg_sin1"),
            (F.round(F.avg(h["cos1"]), 6) + 0.0).alias("avg_cos1"),
            (F.round(F.avg(h["sin2"]), 6) + 0.0).alias("avg_sin2"),
            (F.round(F.avg(h["cos2"]), 6) + 0.0).alias("avg_cos2"),
        )
        .orderBy("order_year")
    )


@query(
    "q27_holiday_windows",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
           CAST(SUM(CASE WHEN EXTRACT(month FROM o_orderdate) = 12
                          AND EXTRACT(day FROM o_orderdate) BETWEEN 24 AND 31
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dec_window,
           CAST(SUM(CASE WHEN EXTRACT(month FROM o_orderdate) = 1
                          AND EXTRACT(day FROM o_orderdate) BETWEEN 1 AND 13
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_jan_window,
           CAST(SUM(CASE WHEN EXTRACT(month FROM o_orderdate) = 5
                          AND EXTRACT(day FROM o_orderdate) BETWEEN 1 AND 9
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_may_window
    FROM orders GROUP BY order_year ORDER BY order_year
    """,
    description="fixed-calendar holiday indicator families (kaggle.py:248-283; SURVEY §2.5)",
)
def q27_holiday_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(C.month_day_flag("o_orderdate", 12, (24, 31)).cast("long")).alias("n_dec_window"),
            F.sum(C.month_day_flag("o_orderdate", 1, (1, 13)).cast("long")).alias("n_jan_window"),
            F.sum(C.month_day_flag("o_orderdate", 5, (1, 9)).cast("long")).alias("n_may_window"),
        )
        .orderBy("order_year")
    )


_EASTER_YEARS = list(range(1995, 2002))
_EASTER_VALUES = ", ".join(
    f"({y}, DATE '{C.easter_date(y).isoformat()}')" for y in _EASTER_YEARS
)


@query(
    "q28_easter_windows",
    oracle=f"""
    WITH easter(year, easter) AS (VALUES {_EASTER_VALUES})
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
           CAST(SUM(CASE WHEN DATEDIFF('day', easter, CAST(o_orderdate AS DATE)) BETWEEN -2 AND 10
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_easter_win,
           CAST(SUM(CASE WHEN DATEDIFF('day', easter, CAST(o_orderdate AS DATE)) BETWEEN 40 AND 47
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ascension_win,
           CAST(SUM(CASE WHEN DATEDIFF('day', easter, CAST(o_orderdate AS DATE)) BETWEEN 50 AND 58
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pentecost_win
    FROM orders JOIN easter ON easter.year = CAST(EXTRACT(year FROM o_orderdate) AS INTEGER)
    GROUP BY order_year ORDER BY order_year
    """,
    description="anchor-relative Easter windows via per-year dim broadcast join (kaggle.py:326-329; SURVEY §2.3/§2.5)",
)
def q28_easter_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    joined = C.with_easter_anchor(orders, "o_orderdate", spark, _EASTER_YEARS)
    return (
        joined.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(C.anchor_window_flag("o_orderdate", F.col("easter"), (-2, 10)).cast("long")).alias("n_easter_win"),
            F.sum(C.anchor_window_flag("o_orderdate", F.col("easter"), (40, 47)).cast("long")).alias("n_ascension_win"),
            F.sum(C.anchor_window_flag("o_orderdate", F.col("easter"), (50, 58)).cast("long")).alias("n_pentecost_win"),
        )
        .orderBy("order_year")
    )


@query(
    "q29_unpivot_status",
    oracle="""
    WITH p AS (
      SELECT o_orderpriority,
             ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2) AS f,
             ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END), 2) AS o,
             ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END), 2) AS p
      FROM orders GROUP BY o_orderpriority)
    SELECT o_orderpriority, status, total FROM (
      SELECT o_orderpriority, 'F' AS status, f AS total FROM p
      UNION ALL SELECT o_orderpriority, 'O', o FROM p
      UNION ALL SELECT o_orderpriority, 'P', p FROM p
    ) ORDER BY o_orderpriority, status
    """,
    description="wide→long unpivot via stack() — the GDP-table reshape (kaggle.py:195-202; SURVEY §2.3)",
)
def q29_unpivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum("o_totalprice"))
        .select(
            "o_orderpriority",
            F.round(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("f"),
            F.round(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("o"),
            F.round(F.coalesce(F.col("P"), F.lit(0.0)), 2).alias("p"),
        )
    )
    return wide.selectExpr(
        "o_orderpriority",
        "stack(3, 'F', f, 'O', o, 'P', p) AS (status, total)",
    ).orderBy("o_orderpriority", "status")


@query(
    "q30_scoring_grid",
    oracle="""
    SELECT strftime(CAST(d AS DATE), '%Y-%m-%d') AS date, r_name,
           CAST(dayofyear(d) AS INTEGER) AS doy
    FROM generate_series(DATE '2019-01-01', DATE '2019-01-31', INTERVAL 1 DAY) t(d)
    CROSS JOIN region
    ORDER BY date, r_name
    """,
    description="synthetic scoring frame: date spine (sequence+explode) × dim cross join (kaggle.py:468-479; SURVEY §3 E3)",
)
def q30_scoring_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").select("r_name")
    spine = C.date_range_df(spark, "2019-01-01", "2019-01-31")
    return (
        spine.crossJoin(F.broadcast(region))
        .select(
            F.date_format("date", "yyyy-MM-dd").alias("date"),
            "r_name",
            F.dayofyear("date").alias("doy"),
        )
        .orderBy("date", "r_name")
    )


@query(
    "q31_smape_metric",
    oracle="""
    SELECT l_returnflag,
           ROUND(AVG(CASE WHEN (ABS(l_extendedprice) + ABS(l_extendedprice * (1 - l_discount))) / 200 = 0
                          THEN 0
                          ELSE ABS(l_extendedprice - l_extendedprice * (1 - l_discount))
                               / ((ABS(l_extendedprice) + ABS(l_extendedprice * (1 - l_discount))) / 200)
                     END), 6) AS smape_pct,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="SMAPE as a native aggregate expression, 0-safe (kaggle.py:109-131; SURVEY §2.4)",
)
def q31_smape_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pred = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(M.smape(F.col("l_extendedprice"), pred), 6).alias("smape_pct"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q32_best_weight",
    oracle="""
    WITH grid AS (SELECT CAST(w AS BIGINT) AS weight_milli FROM generate_series(970, 1020, 1) t(w)),
    scored AS (
      SELECT weight_milli,
             AVG(CASE WHEN (ABS(l_extendedprice) + ABS(l_extendedprice * (1 - l_discount) * weight_milli / 1000.0)) / 200 = 0
                      THEN 0
                      ELSE ABS(l_extendedprice - l_extendedprice * (1 - l_discount) * weight_milli / 1000.0)
                           / ((ABS(l_extendedprice) + ABS(l_extendedprice * (1 - l_discount) * weight_milli / 1000.0)) / 200)
                 END) AS s
      FROM lineitem CROSS JOIN grid GROUP BY weight_milli)
    SELECT weight_milli, ROUND(s, 6) AS smape
    FROM scored ORDER BY s, weight_milli LIMIT 1
    """,
    description="grid-searched scale factor minimizing SMAPE — one distributed pass over a broadcast weight grid (kaggle.py:497-523; SURVEY §2.4)",
)
def q32_best_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("yt"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("yp"),
    )
    best = M.find_min_smape(li, "yt", "yp", (970, 1020, 1))
    return best.select("weight_milli", F.round("smape", 6).alias("smape"))


@query(
    "q33_geometric_round",
    oracle="""
    SELECT CASE WHEN o_totalprice / 1000.0 < sqrt(FLOOR(o_totalprice / 1000.0) * CEIL(o_totalprice / 1000.0))
                THEN CAST(FLOOR(o_totalprice / 1000.0) AS BIGINT)
                ELSE CAST(CEIL(o_totalprice / 1000.0) AS BIGINT) END AS price_k,
           COUNT(*) AS n_orders
    FROM orders GROUP BY price_k ORDER BY price_k
    """,
    description="geometric rounding (kaggle.py:837-842,858; SURVEY §2.8)",
)
def q33_geometric_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(S.geometric_round(F.col("o_totalprice") / 1000.0).alias("price_k"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("price_k")
    )


@query(
    "q34_fold_ensemble",
    oracle="""
    WITH t AS (
      SELECT l_returnflag,
             l_extendedprice * (1 - l_discount) AS p1,
             l_extendedprice AS p2,
             l_extendedprice * (1 + l_tax) AS p3
      FROM lineitem),
    u AS (
      SELECT l_returnflag,
             CASE WHEN GREATEST(p1, p2, p3) - LEAST(p1, p2, p3) < 5000.0
                  THEN ((0.0 + p1) + p2 + p3) / 3
                  ELSE GREATEST(LEAST(p1, p2), LEAST(GREATEST(p1, p2), p3))
             END AS combined
      FROM t)
    SELECT l_returnflag, ROUND(AVG(combined), 4) AS avg_combined, COUNT(*) AS n
    FROM u GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="row-wise mean-or-median fold ensemble over an array column (kaggle.py:132-144; SURVEY §2.4)",
)
def q34_fold_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    preds = F.array(
        F.col("l_extendedprice") * (1 - F.col("l_discount")),
        F.col("l_extendedprice"),
        F.col("l_extendedprice") * (1 + F.col("l_tax")),
    )
    combined = S.better_than_median(preds, threshold=5000.0)
    return (
        li.withColumn("combined", combined)
        .groupBy("l_returnflag")
        .agg(F.round(F.avg("combined"), 4).alias("avg_combined"), F.count(F.lit(1)).alias("n"))
        .orderBy("l_returnflag")
    )


@query(
    "q35_group_sample",
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(rn AS INTEGER) AS rn, l_orderkey, l_linenumber
    FROM (SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
                 ROW_NUMBER() OVER (PARTITION BY l_returnflag, l_linestatus
                                    ORDER BY md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)),
                                             l_orderkey, l_linenumber) AS rn
          FROM lineitem)
    WHERE rn <= 5
    ORDER BY l_returnflag, l_linestatus, rn
    """,
    description="deterministic per-group sampling via hash-order top-k — the distributed form of groupby.apply(sample) (kaggle.py:424; SURVEY §2.4)",
)
def q35_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    order_hash = F.md5(F.concat(F.col("l_orderkey").cast("string"), F.lit("-"), F.col("l_linenumber").cast("string")))
    w = W.partitionBy("l_returnflag", "l_linestatus").orderBy(order_hash, "l_orderkey", "l_linenumber")
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("l_returnflag", "l_linestatus", "rn", "l_orderkey", "l_linenumber")
        .orderBy("l_returnflag", "l_linestatus", "rn")
    )


@query(
    "q36_impute_nulls",
    oracle="""
    WITH d AS (
      SELECT CASE WHEN c_nationkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS seg,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
      FROM customer),
    f AS (SELECT COALESCE(seg, 'None') AS seg, COALESCE(bal, 0.0) AS bal,
                 (seg IS NULL) AS seg_was_null, (bal IS NULL) AS bal_was_null
          FROM d)
    SELECT seg, COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN bal_was_null THEN 1 ELSE 0 END) AS BIGINT) AS n_bal_imputed,
           ROUND(AVG(bal), 6) AS avg_bal
    FROM f GROUP BY seg ORDER BY seg
    """,
    description="null counting + imputation fill 0/'None' (kaggle.py:177-182,422-423; SURVEY §2.8/§2.9)",
)
def q36_impute_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    dirty = cust.select(
        F.when(F.col("c_nationkey") % 5 == 0, F.lit(None)).otherwise(F.col("c_mktsegment")).alias("seg"),
        F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal")).alias("bal"),
    ).withColumn("bal_was_null", F.col("bal").isNull())
    filled = S.impute_defaults(dirty)
    return (
        filled.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("bal_was_null").cast("long")).alias("n_bal_imputed"),
            F.round(F.avg("bal"), 6).alias("avg_bal"),
        )
        .orderBy("seg")
    )


@query(
    "q37_label_encode",
    oracle="""
    SELECT c.c_mktsegment, d.c_mktsegment_code, COUNT(*) AS n
    FROM customer c
    JOIN (SELECT c_mktsegment,
                 CAST(ROW_NUMBER() OVER (ORDER BY c_mktsegment) - 1 AS INTEGER) AS c_mktsegment_code
          FROM (SELECT DISTINCT c_mktsegment FROM customer)) d USING (c_mktsegment)
    GROUP BY c.c_mktsegment, d.c_mktsegment_code
    ORDER BY d.c_mktsegment_code
    """,
    description="alphabetical label encoding, sklearn LabelEncoder semantics (kaggle.py:372-395; SURVEY §2.9)",
)
def q37_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    encoded = S.label_encode(cust, "c_mktsegment")
    return (
        encoded.groupBy("c_mktsegment", "c_mktsegment_code")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("c_mktsegment_code")
    )


@query(
    "q38_positional_fourier",
    oracle="""
    SELECT o_custkey,
           ROUND(AVG(sin(2 * pi() * (rn - 1) * 1 / 14.0)), 6) + 0 AS avg_psin1,
           ROUND(AVG(cos(2 * pi() * (rn - 1) * 1 / 14.0)), 6) + 0 AS avg_pcos1
    FROM (SELECT o_custkey,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders WHERE o_custkey <= 20)
    GROUP BY o_custkey ORDER BY o_custkey
    """,
    description="positional-index Fourier features over an ordered series (kaggle.py:183-192; SURVEY §2.5)",
)
def q38_positional_fourier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 20)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t = (F.row_number().over(w) - 1).cast("double")
    h = C.fourier_positional(t, freq=14.0, order=1)
    return (
        orders.withColumn("psin1", h["psin1"])
        .withColumn("pcos1", h["pcos1"])
        .groupBy("o_custkey")
        .agg(
            (F.round(F.avg("psin1"), 6) + 0.0).alias("avg_psin1"),
            (F.round(F.avg("pcos1"), 6) + 0.0).alias("avg_pcos1"),
        )
        .orderBy("o_custkey")
    )


_HOLIDAY_VALUES = ", ".join(
    f"('{c}', DATE '{d.isoformat()}', '{h}')" for c, d, h in C.holiday_rows(_EASTER_YEARS)
)


@query(
    "q39_holiday_dim_join",
    oracle=f"""
    WITH hd(country, hdate, holiday) AS (VALUES {_HOLIDAY_VALUES})
    SELECT country, holiday, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders JOIN hd ON CAST(o_orderdate AS DATE) = hdate
    GROUP BY country, holiday ORDER BY country, holiday
    """,
    description="holiday calendar dim (fixed + Easter-relative rules) broadcast-joined to the fact — the holidays-package materialization (kaggle.py:332-333,800-803; SURVEY §2.5)",
)
def q39_holiday_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    dim = C.holiday_dim(spark, _EASTER_YEARS)
    return (
        orders.join(F.broadcast(dim), F.to_date("o_orderdate") == dim.date)
        .groupBy("country", "holiday")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy("country", "holiday")
    )


_FIXED_VALUES = ", ".join(
    f"('{c}', DATE '{d.isoformat()}', '{h}')" for c, d, h in C.fixed_holiday_rows(_EASTER_YEARS)
)
_MOVEABLE_VALUES = ", ".join(
    f"('{c}', DATE '{d.isoformat()}', '{h}')" for c, d, h in C.moveable_holiday_rows(_EASTER_YEARS)
)


@query(
    "a085_holiday_observed_shift",
    oracle=f"""
    WITH fixed(country, hdate, holiday) AS (VALUES {_FIXED_VALUES}),
    moveable(country, hdate, holiday) AS (VALUES {_MOVEABLE_VALUES}),
    observed AS (
      SELECT country,
             CASE WHEN dayofweek(hdate) = 6 THEN hdate + 2 ELSE hdate + 1 END AS hdate,
             holiday || ' (observed)' AS holiday
      FROM fixed WHERE dayofweek(hdate) IN (0, 6)),
    hd AS (SELECT * FROM fixed UNION ALL SELECT * FROM moveable
           UNION ALL SELECT * FROM observed)
    SELECT country, holiday, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders JOIN hd ON CAST(o_orderdate AS DATE) = hdate
    GROUP BY country, holiday ORDER BY country, holiday
    """,
    description="observed-day holiday shifting (holidays-package observed=True parity, kaggle.py:332-333): weekend fixed-date holidays gain a Monday '(observed)' entry; the ORACLE re-derives the shift rule in SQL from the raw fixed dates, so the hash pins the rule itself, not just the dim contents (SURVEY §2.5 holiday source)",
)
def a085_holiday_observed_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    dim = C.holiday_dim(spark, _EASTER_YEARS, observed=True)
    return (
        orders.join(F.broadcast(dim), F.to_date("o_orderdate") == dim.date)
        .groupBy("country", "holiday")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy("country", "holiday")
    )


@query(
    "a086_periodogram",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, SUM(o_totalprice) AS rev
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY d),
    stats AS (SELECT COUNT(*) AS n, AVG(rev) AS mean, var_pop(rev) AS v FROM daily),
    idx AS (SELECT rev - mean AS x, ROW_NUMBER() OVER (ORDER BY d) - 1 AS t, n, v
            FROM daily CROSS JOIN stats),
    dft AS (
      SELECT k,
             SUM(x * cos(2 * pi() * k * t / n)) AS c,
             SUM(x * sin(2 * pi() * k * t / n)) AS s,
             FIRST(n) AS n, FIRST(v) AS v
      FROM idx CROSS JOIN range(1, 11) r(k) GROUP BY k)
    SELECT k, ROUND(n * 1.0 / k, 2) AS period_steps,
           ROUND((c * c + s * s) / (n * n * v), 6) AS power_norm
    FROM dft ORDER BY k
    """,
    description="periodogram (SURVEY §2.5): normalized spectral power of the daily revenue series at harmonics 1..10 — the reference's scipy.signal.periodogram diagnostic (kaggle.py:145-176) as a relational DFT: daily rollup (calendar-bounded) x broadcast frequency set, two partial aggregates per frequency, no collect/UDF",
)
def a086_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.timeseries import periodogram

    daily = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    return periodogram(daily, "rev", "d", num_freqs=10)


def _mi_oracle_block(col: str, bins: int = 8) -> str:
    """DuckDB MI for one lineitem column vs l_returnflag — the same
    equal-width binning + joint/marginal decomposition as
    ml/feature_select.binned_mutual_information."""
    return f"""
    SELECT '{col}' AS feature, ROUND(SUM(term), 6) AS mi_nats FROM (
      SELECT (c * 1.0 / n) * ln((c * 1.0 * n) / (cb * 1.0 * cl)) AS term FROM (
        SELECT bin, label, c,
               SUM(c) OVER () AS n,
               SUM(c) OVER (PARTITION BY bin) AS cb,
               SUM(c) OVER (PARTITION BY label) AS cl
        FROM (
          SELECT LEAST(CAST(FLOOR(({col} - mn) * {bins} / (mx - mn)) AS INTEGER), {bins - 1}) AS bin,
                 l_returnflag AS label, COUNT(*) AS c
          FROM lineitem CROSS JOIN (SELECT MIN({col}) AS mn, MAX({col}) AS mx FROM lineitem)
          GROUP BY bin, label)))
    """


_MI_COLS = ["l_discount", "l_extendedprice", "l_quantity"]


@query(
    "a087_mi_feature_filter",
    oracle=" UNION ALL ".join(_mi_oracle_block(c) for c in _MI_COLS)
    + " ORDER BY feature",
    description="mutual-information feature filter (SURVEY §2.9, reference MI_THRESHOLD kaggle.py:80): equal-width binned MI between lineitem numerics and l_returnflag — one melt pass, joint counts, windowed marginals over the tiny count frame; ml/feature_select.mi_select applies the threshold",
)
def a087_mi_feature_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.feature_select import binned_mutual_information

    li = load_table(spark, sf_dir, "lineitem")
    return binned_mutual_information(li, _MI_COLS, "l_returnflag", bins=8).orderBy("feature")


# ---------------------------------------------------------------------------
# q125 — exponential smoothing (EWMA, alpha=0.5) per user over event
# time. The stateful-recursion shape (e_t = a*x_t + (1-a)*e_{t-1})
# no window frame expresses: per-key series collapse to ONE ordered
# fold — array_sort(collect_list(struct)) + aggregate() in Spark,
# list(... ORDER BY) + list_reduce in DuckDB. Both engines run the
# identical left-to-right recursion over identical doubles, so the
# result is bit-identical before the 6-dp round. Per-key state is the
# user's own series (bounded); the only shuffle is the user_id
# aggregate — the same contract as sessionization (q60).
# ---------------------------------------------------------------------------


@query(
    "q125_ewma_smoothing",
    oracle="""
    WITH a AS (SELECT user_id, COUNT(*) AS n_events,
                      list(value ORDER BY ts, event_id) AS vals
               FROM events GROUP BY user_id)
    SELECT user_id, n_events,
           ROUND(list_reduce(vals, (acc, x) -> 0.5*x + 0.5*acc), 6) AS ewma
    FROM a ORDER BY user_id
    """,
    description="per-key exponential smoothing (EWMA alpha=0.5): the stateful recursion e_t = a*x_t + (1-a)*e_{t-1} as ONE ordered fold per user — array_sort(collect_list(struct(ts,event_id,value))) + aggregate() with the first element as seed; both engines execute the identical left-to-right double recursion (dyadic alpha), so values are bit-identical pre-round; per-key state is bounded by the user's own series, the only shuffle is the user_id aggregate",
)
def q125_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.struct("ts", "event_id", "value").alias("s")
    )
    per = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.array_sort(F.collect_list("s")).alias("a")
    )
    vals = F.transform(F.col("a"), lambda x: x["value"])
    ewma = F.when(
        F.size(vals) > 1,
        F.aggregate(
            F.slice(vals, 2, F.size(vals) - 1),
            F.element_at(vals, 1),
            lambda acc, x: F.lit(0.5) * x + F.lit(0.5) * acc,
        ),
    ).otherwise(F.element_at(vals, 1))
    return per.select("user_id", "n_events", F.round(ewma, 6).alias("ewma")).orderBy("user_id")


# ---------------------------------------------------------------------------
# a0139 — time-series gap fill + linear interpolation. The resampling
# step every forecasting pipeline runs before fitting: build the dense
# daily spine per series, join observed points, linearly interpolate
# interior gaps from the nearest observed neighbors, edge-fill with the
# nearest value. All windows are PARTITIONED by series — the spine
# explode and the four neighbor windows shard cleanly at any scale.
# Sparsity comes from thresholding (daily sums only over days whose
# event count clears a cut), so the fixture genuinely has holes.
# ---------------------------------------------------------------------------


@query(
    "a0139_gap_fill_interpolate",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             COUNT(*) AS n, ROUND(SUM(value), 6) AS v
      FROM events GROUP BY event_type, CAST(ts AS DATE) HAVING COUNT(*) >= 30),
    bounds AS (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY event_type),
    spine AS (SELECT event_type, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
              FROM bounds),
    j AS (SELECT s.event_type, s.day, d.v,
                 CASE WHEN d.v IS NOT NULL THEN s.day END AS obs_day
          FROM spine s LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day),
    n AS (SELECT event_type, day, v,
                 LAST_VALUE(v IGNORE NULLS) OVER w_prev AS pv,
                 LAST_VALUE(obs_day IGNORE NULLS) OVER w_prev AS pd,
                 FIRST_VALUE(v IGNORE NULLS) OVER w_next AS nv,
                 FIRST_VALUE(obs_day IGNORE NULLS) OVER w_next AS nd
          FROM j
          WINDOW w_prev AS (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 w_next AS (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
    f AS (SELECT event_type, day, v IS NULL AS filled,
                 CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                        pv + (nv - pv) * (day - pd) * 1.0 / (nd - pd)
                      WHEN pv IS NOT NULL THEN pv ELSE nv END AS y
          FROM n)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN filled THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
           ROUND(SUM(y), 6) AS total_filled_sum,
           ROUND(AVG(y), 6) AS avg_filled
    FROM f GROUP BY event_type ORDER BY event_type
    """,
    description="time-series gap fill + linear interpolation (the pre-forecast resampling step): dense daily spine per series via sequence/generate_series explode, observed daily sums joined on, interior gaps interpolated between nearest observed neighbors (last/first_value IGNORE NULLS windows, all PARTITIONED by series), edges nearest-filled; per-series day/fill counts and the interpolated totals pinned; sparsity is real (days below an event-count threshold are holes)",
)
def a0139_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("v"))
        .filter(F.col("n") >= 30)
    )
    bounds = daily.groupBy("event_type").agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("day")
    )
    j = spine.join(daily.select("event_type", "day", "v"), ["event_type", "day"], "left").select(
        "event_type",
        "day",
        "v",
        F.when(F.col("v").isNotNull(), F.col("day")).alias("obs_day"),
    )
    w_prev = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    )
    n = j.select(
        "event_type",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last("obs_day", ignorenulls=True).over(w_prev).alias("pd"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first("obs_day", ignorenulls=True).over(w_next).alias("nd"),
    )
    y = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * F.datediff("day", "pd")
            / F.datediff("nd", "pd"),
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    f = n.select("event_type", "day", F.col("v").isNull().alias("filled"), y.alias("y"))
    return (
        f.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum(F.col("filled").cast("long")).alias("n_filled"),
            F.round(F.sum("y"), 6).alias("total_filled_sum"),
            F.round(F.avg("y"), 6).alias("avg_filled"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# a0096 — rolling ordinary-least-squares trend per customer segment: daily
# revenue series (orders ⋈ broadcast customer), then a 28-day ROWS
# window computes the closed-form OLS slope
#   slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
# from five window sums — regression as pure window algebra, no UDF,
# no iteration. Snapshot rows are the first-of-month days with a full
# window. Scale shape: one segment-keyed shuffle, windows partitioned
# by segment (guard-test compliant), day spine bounded by calendar.
# ---------------------------------------------------------------------------

_OLS_W = 28


# Scale rule (100 TB): the window length is a time constant (28 days)
# over the calendar rollup — frame bounded by days, not N.
@query(
    "a0096_rolling_ols",
    oracle=f"""
    WITH daily AS (
      SELECT c.c_mktsegment AS segment, CAST(o.o_orderdate AS DATE) AS day,
             date_diff('day', DATE '1995-01-01', CAST(o.o_orderdate AS DATE)) AS x,
             SUM(o.o_totalprice) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2, 3
    ),
    win AS (
      SELECT segment, day,
             COUNT(*) OVER w AS n,
             SUM(x * 1.0) OVER w AS sx,
             SUM(y) OVER w AS sy,
             SUM(x * 1.0 * x) OVER w AS sxx,
             SUM(x * y) OVER w AS sxy
      FROM daily
      WINDOW w AS (PARTITION BY segment ORDER BY day
                   ROWS BETWEEN {_OLS_W - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT segment, day,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 2) AS intercept_at_mean
    FROM win
    WHERE n = {_OLS_W} AND EXTRACT(day FROM day) = 1
    ORDER BY segment, day
    """,
    description=f"rolling OLS trend per customer segment: daily revenue series, {_OLS_W}-row trailing window, closed-form slope (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) from five window sums — regression as pure window algebra (no UDF, no iteration); first-of-month full-window snapshots; one segment shuffle, partitioned windows only",
)
def a0096_rolling_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    daily = (
        od.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.sum("o_totalprice").alias("y"))
        .withColumn("x", F.datediff(F.col("day"), F.lit("1995-01-01")))
    )
    w = Window.partitionBy("segment").orderBy("day").rowsBetween(-(_OLS_W - 1), 0)
    win = daily.select(
        "segment",
        "day",
        F.count("*").over(w).alias("n"),
        F.sum(F.col("x") * 1.0).over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * 1.0 * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        win.filter((F.col("n") == _OLS_W) & (F.dayofmonth("day") == 1))
        .select(
            "segment",
            "day",
            F.round(slope, 4).alias("slope"),
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 2).alias("intercept_at_mean"),
        )
        .orderBy("segment", "day")
    )


# ---------------------------------------------------------------------------
# a0097 — STL-lite classical additive decomposition of the daily revenue
# series: trend = centered 7-day moving average (full windows only),
# detrended = y − trend, seasonal = centered per-day-of-week mean of the
# detrended series, residual = detrended − seasonal. Output is the 7
# seasonal indices plus the variance share of each component. Daily y is
# rounded to cents FIRST so the 7-term trend average is exact in both
# engines (float-sum-order discipline). The only unpartitioned window
# runs over the daily rollup — calendar-bounded, allowlisted.
# ---------------------------------------------------------------------------


# Scale rule (100 TB): seasonal period is a calendar constant (7); the
# decomposition runs on the day rollup — time-bounded frame after one
# data-sized aggregate.
@query(
    "a0097_stl_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, ROUND(SUM(o_totalprice), 2) AS y
      FROM orders GROUP BY 1
    ),
    tr AS (
      SELECT day, y,
             AVG(y) OVER w AS trend, COUNT(*) OVER w AS n7,
             dayofweek(day) AS dow
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (SELECT dow, day, y - trend AS det, trend FROM tr WHERE n7 = 7),
    seas0 AS (SELECT dow, COUNT(*) AS n_days, AVG(det) AS s0 FROM det GROUP BY dow),
    grand AS (SELECT AVG(s0) AS g FROM seas0),
    seas AS (SELECT dow, n_days, s0 - g AS seasonal FROM seas0 CROSS JOIN grand),
    resid AS (
      SELECT d.trend, d.det - s.seasonal AS r, s.seasonal
      FROM det d JOIN seas s ON d.dow = s.dow
    ),
    vars AS (
      SELECT var_pop(trend) AS vt, var_pop(seasonal) AS vs, var_pop(r) AS vr,
             COUNT(*) AS n FROM resid
    )
    SELECT 'dow_' || CAST(dow AS VARCHAR) AS part, CAST(n_days AS BIGINT) AS n,
           ROUND(seasonal, 4) AS value
    FROM seas
    UNION ALL SELECT 'var_trend', n, ROUND(vt / (vt + vs + vr), 6) FROM vars
    UNION ALL SELECT 'var_seasonal', n, ROUND(vs / (vt + vs + vr), 6) FROM vars
    UNION ALL SELECT 'var_resid', n, ROUND(vr / (vt + vs + vr), 6) FROM vars
    ORDER BY part
    """,
    description="STL-lite classical additive decomposition of daily revenue: centered 7-day moving-average trend (full windows only), centered day-of-week seasonal indices, residual = detrended − seasonal, plus the variance share of each component; daily totals rounded to cents before the window so the 7-term trend mean is bit-identical across engines; the one unpartitioned window runs over the calendar-bounded daily rollup",
)
def a0097_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("y")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "y",
        F.avg("y").over(w).alias("trend"),
        F.count("*").over(w).alias("n7"),
        (F.dayofweek("day") - 1).alias("dow"),  # Spark Sun=1 -> DuckDB Sun=0
    )
    det = tr.filter(F.col("n7") == 7).select(
        "dow", (F.col("y") - F.col("trend")).alias("det"), "trend"
    ).localCheckpoint(eager=False)
    seas0 = det.groupBy("dow").agg(F.count("*").alias("n_days"), F.avg("det").alias("s0"))
    grand = seas0.select(F.avg("s0").alias("g"))
    seas = seas0.crossJoin(F.broadcast(grand)).select(
        "dow", "n_days", (F.col("s0") - F.col("g")).alias("seasonal")
    ).localCheckpoint(eager=False)
    resid = det.join(F.broadcast(seas.select("dow", "seasonal")), "dow").select(
        "trend", (F.col("det") - F.col("seasonal")).alias("r"), "seasonal"
    )
    vars_ = resid.agg(
        F.var_pop("trend").alias("vt"),
        F.var_pop("seasonal").alias("vs"),
        F.var_pop("r").alias("vr"),
        F.count("*").alias("n"),
    ).localCheckpoint(eager=False)
    tot = F.col("vt") + F.col("vs") + F.col("vr")
    dow_rows = seas.select(
        F.concat(F.lit("dow_"), F.col("dow").cast("string")).alias("part"),
        F.col("n_days").cast("long").alias("n"),
        F.round("seasonal", 4).alias("value"),
    )
    var_rows = None
    for label, col in (("var_trend", "vt"), ("var_seasonal", "vs"), ("var_resid", "vr")):
        row = vars_.select(
            F.lit(label).alias("part"),
            F.col("n").cast("long").alias("n"),
            F.round(F.col(col) / tot, 6).alias("value"),
        )
        var_rows = row if var_rows is None else var_rows.unionByName(row)
    return dow_rows.unionByName(var_rows).orderBy("part")


# ---------------------------------------------------------------------------
# a0104 — SAX motif mining over the daily revenue series (Lin/Keogh
# symbolic aggregate approximation): z-normalize the cents-rounded daily
# totals against broadcast population stats, slide an 8-day window (as
# 7 leads over the calendar-bounded daily spine), reduce it to 4 PAA
# segments of 2 days, map each segment mean to {{a,b,c,d}} via the
# Gaussian quartile breakpoints ±0.6745/0, and count identical SAX
# words — the most frequent words are the series' motifs. Everything is
# window algebra + one word-level aggregate; no UDF, no iteration.
# ---------------------------------------------------------------------------

_SAX_TOP = 10
_SAX_BP = 0.6745


# Scale rule (100 TB): alphabet size and word length are SAX resolution
# constants; the motif count runs on the word-frame (days/word_len rows)
# — time-bounded.
@query(
    "a0104_sax_motifs",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, ROUND(SUM(o_totalprice), 2) AS y
      FROM orders GROUP BY 1
    ),
    stats AS (SELECT AVG(y) AS mu, stddev_pop(y) AS sd FROM daily),
    z AS (SELECT day, (y - mu) / sd AS z FROM daily CROSS JOIN stats),
    led AS (
      SELECT day, z AS z0,
             lead(z, 1) OVER w AS z1, lead(z, 2) OVER w AS z2, lead(z, 3) OVER w AS z3,
             lead(z, 4) OVER w AS z4, lead(z, 5) OVER w AS z5, lead(z, 6) OVER w AS z6,
             lead(z, 7) OVER w AS z7
      FROM z WINDOW w AS (ORDER BY day)
    ),
    words AS (
      SELECT day,
             (CASE WHEN (z0+z1)/2 < -{_SAX_BP} THEN 'a' WHEN (z0+z1)/2 < 0 THEN 'b'
                   WHEN (z0+z1)/2 < {_SAX_BP} THEN 'c' ELSE 'd' END) ||
             (CASE WHEN (z2+z3)/2 < -{_SAX_BP} THEN 'a' WHEN (z2+z3)/2 < 0 THEN 'b'
                   WHEN (z2+z3)/2 < {_SAX_BP} THEN 'c' ELSE 'd' END) ||
             (CASE WHEN (z4+z5)/2 < -{_SAX_BP} THEN 'a' WHEN (z4+z5)/2 < 0 THEN 'b'
                   WHEN (z4+z5)/2 < {_SAX_BP} THEN 'c' ELSE 'd' END) ||
             (CASE WHEN (z6+z7)/2 < -{_SAX_BP} THEN 'a' WHEN (z6+z7)/2 < 0 THEN 'b'
                   WHEN (z6+z7)/2 < {_SAX_BP} THEN 'c' ELSE 'd' END) AS word
      FROM led WHERE z7 IS NOT NULL
    )
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n_windows, MIN(day) AS first_day
    FROM words GROUP BY word
    ORDER BY n_windows DESC, word
    LIMIT {_SAX_TOP}
    """,
    description=f"SAX motif mining (Lin/Keogh symbolic aggregate approximation) over daily revenue: z-normalized cents-rounded series, 8-day sliding windows as 7 leads over the calendar-bounded daily spine, 4 two-day PAA segments mapped to a 4-letter alphabet at the Gaussian quartile breakpoints ±{_SAX_BP}, top-{_SAX_TOP} most frequent SAX words with first occurrence — motif discovery as pure window algebra, no UDF",
)
def a0104_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("y")
    )
    stats = daily.agg(F.avg("y").alias("mu"), F.stddev_pop("y").alias("sd"))
    z = daily.crossJoin(F.broadcast(stats)).select(
        "day", ((F.col("y") - F.col("mu")) / F.col("sd")).alias("z")
    )
    w = Window.orderBy("day")  # daily rollup spine, calendar-bounded
    led = z.select(
        "day",
        F.col("z").alias("z0"),
        *[F.lead("z", i).over(w).alias(f"z{i}") for i in range(1, 8)],
    ).filter(F.col("z7").isNotNull())

    def letter(seg):
        return (
            F.when(seg < -_SAX_BP, "a")
            .when(seg < 0, "b")
            .when(seg < _SAX_BP, "c")
            .otherwise("d")
        )

    word = F.concat(
        *[letter((F.col(f"z{2 * k}") + F.col(f"z{2 * k + 1}")) / 2) for k in range(4)]
    )
    return (
        led.select("day", word.alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n_windows"), F.min("day").alias("first_day"))
        .orderBy(F.desc("n_windows"), "word")
        .limit(_SAX_TOP)
    )


# ---------------------------------------------------------------------------
# a0050 — autocorrelation function + Ljung-Box portmanteau test of the
# daily revenue series: r_k for k = 1..14 computed from one pass of 14
# window lags over the calendar-bounded daily rollup, and the cumulative
# Ljung-Box statistic Q(K) = n(n+2) Σ_{k≤K} r_k²/(n−k) — the standard
# "is this series white noise?" diagnostic that motivates every seasonal
# feature the engine builds (q26 Fourier, a086 periodogram, a0097 STL).
# Daily totals are cents-rounded first so the moment sums are engine-
# stable; r rounded to 6, Q to 4.
# ---------------------------------------------------------------------------

_ACF_LAGS = 14


def _acf_oracle() -> str:
    lag_cols = ",\n             ".join(
        f"lag(d, {k}) OVER (ORDER BY day) AS d{k}" for k in range(1, _ACF_LAGS + 1)
    )
    sums = ",\n             ".join(
        f"SUM(d * d{k}) AS s{k}" for k in range(1, _ACF_LAGS + 1)
    )
    rows = "\n    UNION ALL ".join(
        f"SELECT {k} AS lag_k, n, s{k} / s0 AS r, "
        f"n * (n + 2.0) * ({' + '.join(f'(s{j} / s0) * (s{j} / s0) / (n - {j})' for j in range(1, k + 1))}) AS q "
        f"FROM s"
        for k in range(1, _ACF_LAGS + 1)
    )
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, ROUND(SUM(o_totalprice), 2) AS y
      FROM orders GROUP BY 1
    ),
    mu AS (SELECT AVG(y) AS m FROM daily),
    dd AS (SELECT day, y - m AS d FROM daily CROSS JOIN mu),
    led AS (
      SELECT d,
             {lag_cols}
      FROM dd
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(d * d) AS s0,
             {sums}
      FROM led
    )
    SELECT CAST(lag_k AS BIGINT) AS lag_k, CAST(n AS BIGINT) AS n,
           ROUND(r, 6) AS acf, ROUND(q, 4) AS ljung_box_q
    FROM ({rows})
    ORDER BY lag_k
    """


@query(
    "a0050_acf_ljung_box",
    oracle=_acf_oracle(),
    description=f"autocorrelation function r_1..r_{_ACF_LAGS} of daily revenue plus the cumulative Ljung-Box portmanteau statistic Q(K) = n(n+2)Σr_k²/(n−k) — the standard white-noise diagnostic behind every seasonal feature; {_ACF_LAGS} window lags over the calendar-bounded daily rollup in ONE pass, one moment aggregate, cents-rounded inputs for engine-stable sums",
)
def a0050_acf_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("y")
    )
    mu = daily.agg(F.avg("y").alias("m"))
    dd = daily.crossJoin(F.broadcast(mu)).select("day", (F.col("y") - F.col("m")).alias("d"))
    w = Window.orderBy("day")  # daily rollup spine, calendar-bounded
    led = dd.select(
        "d", *[F.lag("d", k).over(w).alias(f"d{k}") for k in range(1, _ACF_LAGS + 1)]
    )
    s = led.agg(
        F.count("*").alias("n"),
        F.sum(F.col("d") * F.col("d")).alias("s0"),
        *[
            F.sum(F.col("d") * F.col(f"d{k}")).alias(f"s{k}")
            for k in range(1, _ACF_LAGS + 1)
        ],
    )
    # ONE explode over an array of 14 per-lag structs instead of a
    # 14-branch unionByName of 1-row selects (r14): under AQE every
    # union branch was its own query stage — 14 jobs against a 1-row
    # frame; the exploded form is a single stage with the identical
    # per-lag expressions (so the checkpoint the branches shared is
    # no longer needed either).
    rows = []
    for k in range(1, _ACF_LAGS + 1):
        q_expr = None
        for j in range(1, k + 1):
            term = (F.col(f"s{j}") / F.col("s0")) * (F.col(f"s{j}") / F.col("s0")) / (
                F.col("n") - j
            )
            q_expr = term if q_expr is None else q_expr + term
        rows.append(
            F.struct(
                F.lit(k).cast("long").alias("lag_k"),
                F.col("n").cast("long").alias("n"),
                F.round(F.col(f"s{k}") / F.col("s0"), 6).alias("acf"),
                F.round(F.col("n") * (F.col("n") + 2.0) * q_expr, 4).alias("ljung_box_q"),
            )
        )
    return (
        s.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.lag_k", "r.n", "r.acf", "r.ljung_box_q")
        .orderBy("lag_k")
    )


# ---------------------------------------------------------------------------
# a0052 — Haar wavelet energy spectrum of the daily revenue series: take
# the first N days (N = largest power of two ≤ min(#days, 256)), and for
# each level ℓ = 1..8 compute the total energy of the Haar detail
# coefficients — Σ_blocks (first-half sum − second-half sum)² / 2^ℓ over
# complete 2^ℓ-day blocks — plus the level-N scaling (approximation)
# energy. By Parseval the shares against Σy² sum to 1, so the hash
# checks the whole multiresolution decomposition at once. Each level is
# one bounded groupBy over the indexed spine; no UDF, no iteration.
# ---------------------------------------------------------------------------

_HAAR_MAXN = 256
_HAAR_LEVELS = 8


def _haar_oracle() -> str:
    level_rows = "\n    UNION ALL ".join(
        f"""SELECT 'level_{lvl}' AS part, CAST(COUNT(*) AS BIGINT) AS n_coeffs,
           ROUND(SUM(ssum * ssum) / {2 ** lvl} / (SELECT te FROM tot), 6) AS share
    FROM (
      SELECT CAST(FLOOR(idx / {2 ** lvl}) AS BIGINT) AS blk,
             SUM(y * (1 - 2 * (CAST(FLOOR(idx / {2 ** (lvl - 1)}) AS BIGINT) % 2))) AS ssum,
             COUNT(*) AS bn
      FROM indexed GROUP BY 1
    ) WHERE bn = {2 ** lvl}"""
        for lvl in range(1, _HAAR_LEVELS + 1)
    )
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, ROUND(SUM(o_totalprice), 2) AS y
      FROM orders GROUP BY 1
    ),
    nn AS (
      SELECT CAST(power(2, FLOOR(log2(LEAST(COUNT(*), {_HAAR_MAXN})))) AS BIGINT) AS n
      FROM daily
    ),
    indexed AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS idx, y
      FROM daily CROSS JOIN nn
      QUALIFY idx < n
    ),
    tot AS (SELECT SUM(y * y) AS te, SUM(y) AS sy, COUNT(*) AS n FROM indexed)
    SELECT part, n_coeffs, share FROM (
    {level_rows}
    UNION ALL SELECT 'approx', CAST(1 AS BIGINT), ROUND(sy * sy / n / te, 6) FROM tot
    ) ORDER BY part
    """


@query(
    "a0052_haar_energy",
    oracle=_haar_oracle(),
    description=f"Haar wavelet energy spectrum of daily revenue: first N days (N = largest power of two ≤ min(#days, {_HAAR_MAXN})), per-level detail energy Σ(first-half − second-half block sums)²/2^ℓ for ℓ=1..{_HAAR_LEVELS} over complete blocks plus the scaling-coefficient energy, all as shares of Σy² (Parseval: shares sum to 1, so one hash checks the whole multiresolution decomposition); each level is one bounded groupBy over the indexed daily spine — no UDF, no iteration",
)
def a0052_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("y")
    )
    nn = daily.agg(
        F.pow(F.lit(2.0), F.floor(F.log2(F.least(F.count("*"), F.lit(_HAAR_MAXN)))))
        .cast("long")
        .alias("n")
    )
    w = Window.orderBy("day")  # daily rollup spine, calendar-bounded
    indexed = (
        daily.crossJoin(F.broadcast(nn))
        .select((F.row_number().over(w) - 1).alias("idx"), "y", "n")
        .filter(F.col("idx") < F.col("n"))
        .select("idx", "y")
        .localCheckpoint(eager=False)
    )
    tot = indexed.agg(
        F.sum(F.col("y") * F.col("y")).alias("te"),
        F.sum("y").alias("sy"),
        F.count("*").alias("n"),
    ).localCheckpoint(eager=False)
    out = None
    for lvl in range(1, _HAAR_LEVELS + 1):
        size = 2**lvl
        sign = 1 - 2 * ((F.col("idx") / (size // 2)).cast("long") % 2)
        blocks = (
            indexed.groupBy((F.col("idx") / size).cast("long").alias("blk"))
            .agg(F.sum(F.col("y") * sign).alias("ssum"), F.count("*").alias("bn"))
            .filter(F.col("bn") == size)
        )
        row = (
            blocks.agg(
                F.count("*").cast("long").alias("n_coeffs"),
                F.sum(F.col("ssum") * F.col("ssum")).alias("e"),
            )
            .crossJoin(F.broadcast(tot))
            .select(
                F.lit(f"level_{lvl}").alias("part"),
                "n_coeffs",
                F.round(F.col("e") / size / F.col("te"), 6).alias("share"),
            )
        )
        out = row if out is None else out.unionByName(row)
    approx = tot.select(
        F.lit("approx").alias("part"),
        F.lit(1).cast("long").alias("n_coeffs"),
        F.round(F.col("sy") * F.col("sy") / F.col("n") / F.col("te"), 6).alias("share"),
    )
    return out.unionByName(approx).orderBy("part")


# ---------------------------------------------------------------------------
# a0055 — Theil-Sen robust trend over the trailing 90 days of daily
# revenue: the slope estimate is the MEDIAN of all C(90,2) ≈ 4.0k
# pairwise slopes (yj−yi)/(xj−xi) — a 29%-breakdown-point estimator the
# OLS slope (also reported, same window) cannot match when days spike.
# The pair frame is a self-join of the bounded 90-row window, the
# medians/quartiles are exact interpolated percentiles (cross-engine
# parity pinned since q65), and the intercept is the median residual.
# ---------------------------------------------------------------------------

_TS_DAYS = 90


@query(
    "a0055_theil_sen",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, ROUND(SUM(o_totalprice), 2) AS y
      FROM orders GROUP BY 1
    ),
    cut AS (SELECT MAX(day) AS mxd FROM daily),
    w AS (
      SELECT date_diff('day', DATE '1995-01-01', day) AS x, y
      FROM daily CROSS JOIN cut WHERE day >= mxd - {_TS_DAYS - 1}
    ),
    slopes AS (
      SELECT (b.y - a.y) / (b.x - a.x) AS s
      FROM w a JOIN w b ON a.x < b.x
    ),
    med AS (
      SELECT COUNT(*) AS n_pairs,
             quantile_cont(s, 0.25) AS p25,
             quantile_cont(s, 0.5) AS p50,
             quantile_cont(s, 0.75) AS p75
      FROM slopes
    ),
    ols AS (
      SELECT COUNT(*) AS n_days,
             (COUNT(*) * SUM(x * y) - SUM(x * 1.0) * SUM(y))
               / (COUNT(*) * SUM(x * 1.0 * x) - SUM(x * 1.0) * SUM(x)) AS b1
      FROM w
    ),
    icpt AS (
      SELECT quantile_cont(w.y - m.p50 * w.x, 0.5) AS b0
      FROM w CROSS JOIN med m
    )
    SELECT CAST(o.n_days AS BIGINT) AS n_days, CAST(m.n_pairs AS BIGINT) AS n_pairs,
           ROUND(m.p25, 6) AS slope_p25, ROUND(m.p50, 6) AS ts_slope,
           ROUND(m.p75, 6) AS slope_p75, ROUND(i.b0, 4) AS ts_intercept,
           ROUND(o.b1, 6) AS ols_slope
    FROM med m CROSS JOIN ols o CROSS JOIN icpt i
    """,
    description=f"Theil-Sen robust trend over the trailing {_TS_DAYS} days of daily revenue: slope = exact interpolated MEDIAN of all pairwise slopes from a self-join of the bounded {_TS_DAYS}-row window (with the quartiles of the slope distribution), intercept = median residual, OLS slope reported alongside for the robustness contrast — the 29%-breakdown estimator as pure relational algebra",
)
def a0055_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("y")
    )
    cut = daily.agg(F.max("day").alias("mxd"))
    w = (
        daily.crossJoin(F.broadcast(cut))
        .filter(F.col("day") >= F.date_sub(F.col("mxd"), _TS_DAYS - 1))
        .select(F.datediff("day", F.lit("1995-01-01")).alias("x"), "y")
        .localCheckpoint(eager=False)
    )
    a, b = w.alias("a"), w.alias("b")
    slopes = a.join(b, F.col("a.x") < F.col("b.x")).select(
        ((F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x"))).alias("s")
    )
    med = slopes.agg(
        F.count("*").alias("n_pairs"),
        F.expr("percentile(s, 0.25)").alias("p25"),
        F.expr("percentile(s, 0.5)").alias("p50"),
        F.expr("percentile(s, 0.75)").alias("p75"),
    ).localCheckpoint(eager=False)
    ols = w.agg(
        F.count("*").alias("n_days"),
        (
            (F.count("*") * F.sum(F.col("x") * F.col("y")) - F.sum(F.col("x") * 1.0) * F.sum("y"))
            / (
                F.count("*") * F.sum(F.col("x") * 1.0 * F.col("x"))
                - F.sum(F.col("x") * 1.0) * F.sum(F.col("x") * 1.0)
            )
        ).alias("b1"),
    )
    icpt = (
        w.crossJoin(F.broadcast(med))
        .agg(F.expr("percentile(y - p50 * x, 0.5)").alias("b0"))
    )
    return (
        med.crossJoin(F.broadcast(ols))
        .crossJoin(F.broadcast(icpt))
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round("p25", 6).alias("slope_p25"),
            F.round("p50", 6).alias("ts_slope"),
            F.round("p75", 6).alias("slope_p75"),
            F.round("b0", 4).alias("ts_intercept"),
            F.round("b1", 6).alias("ols_slope"),
        )
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


# ---------------------------------------------------------------------------
# a0030 — Mann-Kendall trend test (Mann 1945; Kendall 1975) on the
# daily order-revenue series: S = sum over day pairs i<j of
# sign(x_j - x_i), tie-corrected variance
# Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18, and the
# continuity-corrected z. The significance companion of a0055's
# Theil-Sen slope (which estimates HOW MUCH; MK says WHETHER).
#
# Determinism: daily totals are exact DECIMAL(18,2) sums, so every
# pairwise sign and every tie group is integer-exact; S, n and the
# variance numerator are int64; doubles appear only in the final
# closed-form z / var expressions over identical integers.
# Scale shape: the pairwise self-join is CALENDAR-bounded (~2.4k days
# -> ~2.9M pairs at ANY fact-table SF) — the fact table itself is
# touched once by the daily rollup.
# ---------------------------------------------------------------------------


@query(
    "a0030_mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY 1),
    s AS (SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                               WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
          FROM daily a JOIN daily b ON b.d > a.d),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    ties AS (SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tt
             FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily
                   GROUP BY x HAVING COUNT(*) > 1)),
    v AS (SELECT nn.n, s.s,
                 nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tt AS vnum
          FROM nn, s, ties)
    SELECT n AS n_days, s AS s_stat,
           ROUND(vnum / 18.0, 6) AS var_s,
           ROUND(CASE WHEN s > 0 THEN (s - 1) / sqrt(vnum / 18.0)
                      WHEN s < 0 THEN (s + 1) / sqrt(vnum / 18.0)
                      ELSE 0.0 END, 6) AS z_score,
           CASE WHEN s > 0 AND (s - 1) / sqrt(vnum / 18.0) > 1.959964 THEN 'increasing'
                WHEN s < 0 AND (s + 1) / sqrt(vnum / 18.0) < -1.959964 THEN 'decreasing'
                ELSE 'no trend' END AS trend
    FROM v
    """,
    description="Mann-Kendall nonparametric trend test (Mann 1945, Kendall 1975) on daily order revenue: S from the calendar-bounded pairwise sign self-join (~2.9M day pairs at ANY fact SF — the fact table is touched once by the daily rollup), tie-corrected variance, continuity-corrected z with the 5% two-sided verdict; exact DECIMAL(18,2) daily totals make every sign and tie group integer-exact, so doubles enter only the final closed form — the significance companion of a0055's Theil-Sen slope estimate",
)
def a0030_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x"))
        .localCheckpoint(eager=False)  # calendar-bounded; reused 3x
    )
    a = daily.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    s = (
        a.join(b, F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    nn = daily.agg(F.count("*").cast("long").alias("n"))
    ties = (
        daily.groupBy("x")
        .agg(F.count("*").cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            )
            .cast("long")
            .alias("tt")
        )
    )
    v = (
        s.crossJoin(nn)
        .crossJoin(ties)
        .select(
            "n",
            "s",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tt")
            ).alias("vnum"),
        )
    )
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(F.col("vnum") / 18.0))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(F.col("vnum") / 18.0))
        .otherwise(F.lit(0.0))
    )
    return v.select(
        F.col("n").alias("n_days"),
        F.col("s").alias("s_stat"),
        F.round(F.col("vnum") / 18.0, 6).alias("var_s"),
        F.round(z, 6).alias("z_score"),
        F.when((F.col("s") > 0) & (z > 1.959964), "increasing")
        .when((F.col("s") < 0) & (z < -1.959964), "decreasing")
        .otherwise("no trend")
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# a0046 — EWMA control chart over daily revenue (Roberts 1959,
# Technometrics; the pandas `ewm(adjust=True)` weighting TRUNCATED at a
# fixed 60-day horizon so the statistic is a pure windowed expression):
# ewma_t = Σ_{j=0..m−1} λ^j · x_{t−j} / Σ_{j=0..m−1} λ^j with λ = 0.75
# and m = min(t, 60); anomaly score = x_t / ewma_t − 1 (relative
# deviation against the smoothed level). Top-20 days by |deviation|.
#
# Determinism device: the decay powers λ^j and the per-length
# normalizers Σλ^j are PYTHON-SIDE LITERALS injected into both
# engines (identical decimal renderings parse to identical doubles),
# and the weighted sum folds in the SAME ascending-date order on both
# sides (Spark F.aggregate over the window-collected list; DuckDB
# list_reduce over the windowed list()) — every float op is a
# deterministic IEEE sequence, no libm pow at query time. Daily
# revenue is summed in exact integer cents before any float math.
# Scale rule (100 TB): the daily rollup is calendar-bounded (one
# data-sized aggregate feeds it), so the trailing window never touches
# data rows; horizon and λ are control-chart design constants.
# ---------------------------------------------------------------------------

_EWMA_LAM = 0.75
_EWMA_H = 60
_EWMA_TOP = 20
_EWMA_POW = [_EWMA_LAM**j for j in range(_EWMA_H)]  # λ^0 .. λ^59
_EWMA_NORM = [sum(_EWMA_POW[: m + 1]) for m in range(_EWMA_H)]  # Σ_{j<=m} λ^j

_EWMA_POW_SQL = "[" + ", ".join(repr(w) for w in _EWMA_POW) + "]"
_EWMA_NORM_SQL = "[" + ", ".join(repr(w) for w in _EWMA_NORM) + "]"


@query(
    "a0046_ewma_anomalies",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(ROUND(SUM(o_totalprice) * 100, 0) AS BIGINT) AS yc
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT day, yc,
             list(CAST(yc AS DOUBLE)) OVER (ORDER BY day
               ROWS BETWEEN {_EWMA_H - 1} PRECEDING AND CURRENT ROW) AS lst
      FROM daily
    ),
    sm AS (
      SELECT day, yc,
             list_reduce(
               list_transform(range(1, len(lst) + 1),
                 i -> lst[i] * ({_EWMA_POW_SQL})[len(lst) - i + 1]),
               (a, b) -> a + b) / ({_EWMA_NORM_SQL})[len(lst)] AS ewc
      FROM lagged
    )
    SELECT day, ROUND(yc / 100.0, 2) AS revenue,
           ROUND(ewc / 100.0, 2) AS ewma,
           ROUND(yc / ewc - 1.0, 4) AS deviation
    FROM sm
    ORDER BY ABS(yc / ewc - 1.0) DESC, day ASC
    LIMIT {_EWMA_TOP}
    """,
    description=f"EWMA control chart over the calendar-bounded daily revenue rollup (λ={_EWMA_LAM}, horizon {_EWMA_H}, adjust-style renormalized weights): decay powers and normalizers are Python-side literals and the weighted sum folds in identical ascending-date order on both engines (no libm pow at query time — deterministic IEEE sequences over exact-cents inputs); top-{_EWMA_TOP} days by |x/ewma − 1| relative deviation",
)
def a0046_ewma_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice") * 100, 0).cast("long").alias("yc")
    )
    w = (
        Window.orderBy("day")  # daily rollup spine, calendar-bounded
        .rowsBetween(-(_EWMA_H - 1), 0)
    )
    pow_arr = F.array(*[F.lit(p) for p in _EWMA_POW])
    norm_arr = F.array(*[F.lit(n) for n in _EWMA_NORM])
    lagged = daily.select(
        "day", "yc", F.collect_list(F.col("yc").cast("double")).over(w).alias("lst")
    )
    m = F.size("lst")
    weighted = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.element_at("lst", i) * F.element_at(pow_arr, m - i + 1),
    )
    ewc = F.aggregate(weighted, F.lit(0.0), lambda a, b: a + b) / F.element_at(
        norm_arr, m
    )
    sm = lagged.select("day", "yc", ewc.alias("ewc"))
    dev = F.col("yc") / F.col("ewc") - 1.0
    return (
        sm.select(
            "day",
            F.round(F.col("yc") / 100.0, 2).alias("revenue"),
            F.round(F.col("ewc") / 100.0, 2).alias("ewma"),
            F.round(dev, 4).alias("deviation"),
            F.abs(dev).alias("_absdev"),
        )
        .orderBy(F.desc("_absdev"), F.asc("day"))
        .limit(_EWMA_TOP)
        .drop("_absdev")
    )


# ---------------------------------------------------------------------------
# a0048 — Holt linear-trend exponential smoothing (Holt 1957 /
# Gardner 1985 §3) over daily revenue, distributed as an ASSOCIATIVE
# AFFINE-MAP SCAN: the recurrence (l_t, b_t) = A·(l_{t-1}, b_{t-1}) +
# c_t (A the constant 2x2 smoothing matrix, c_t = (αx_t, αβx_t))
# composes associatively — (P,d)∘(Q,e) = (PQ, Pe+d) — so the
# inherently sequential filter runs as ceil(log2 T) Hillis-Steele
# doubling rounds of LAG windows over the calendar-bounded daily
# spine. This generalizes a0092's integer min-plus doubling to the
# (×,+) semiring: the same pattern distributes ANY bounded-state
# linear recurrence (EWMA, Kalman-style filters, IIR features).
#
# Determinism device: floats compose in whatever order the scan
# shape dictates, so the ORACLE REPLAYS THE IDENTICAL DOUBLING
# ROUNDS (the a0089 replay discipline — same expression DAG → bit-
# identical doubles on both engines); the independent sequential
# ground truth is pinned by a numpy replica in
# tests/test_round14.py at 1e-9. Smoothing constants are dyadic
# (α=0.25, β=0.125) so literals parse identically.
# Scale rule (100 TB): the spine is calendar-bounded (one data-sized
# aggregate feeds it) and rounds grow with log2(T), not N; at row
# scale the same scan runs over any keyed partition (windows gain a
# PARTITION BY key).
# ---------------------------------------------------------------------------

_HW_ALPHA = 0.25
_HW_BETA = 0.125
_HW_ROUNDS = 12  # 2^12 = 4096 >= the ~2.4k-day calendar spine
_HW_TAIL = 30

# A = [[1-a, 1-a], [-ab, b(1-a)+1-b]] — constants rendered once, reused
# as literals in BOTH engines.
_HW_A11 = 1 - _HW_ALPHA
_HW_A12 = 1 - _HW_ALPHA
_HW_A21 = -_HW_ALPHA * _HW_BETA
_HW_A22 = _HW_BETA * (1 - _HW_ALPHA) + 1 - _HW_BETA


def _hw_rounds_sql() -> str:
    parts = []
    for k in range(_HW_ROUNDS):
        p = f"s{k}"
        lagn = 2**k
        lag = lambda c: f"LAG({c}, {lagn}) OVER (ORDER BY rn)"  # noqa: E731
        parts.append(
            f"""
    s{k + 1} AS (
      SELECT rn, day, xc,
             CASE WHEN {lag("rn")} IS NULL THEN p11
                  ELSE p11 * {lag("p11")} + p12 * {lag("p21")} END AS p11,
             CASE WHEN {lag("rn")} IS NULL THEN p12
                  ELSE p11 * {lag("p12")} + p12 * {lag("p22")} END AS p12,
             CASE WHEN {lag("rn")} IS NULL THEN p21
                  ELSE p21 * {lag("p11")} + p22 * {lag("p21")} END AS p21,
             CASE WHEN {lag("rn")} IS NULL THEN p22
                  ELSE p21 * {lag("p12")} + p22 * {lag("p22")} END AS p22,
             CASE WHEN {lag("rn")} IS NULL THEN d1
                  ELSE p11 * {lag("d1")} + p12 * {lag("d2")} + d1 END AS d1,
             CASE WHEN {lag("rn")} IS NULL THEN d2
                  ELSE p21 * {lag("d1")} + p22 * {lag("d2")} + d2 END AS d2
      FROM {p})"""
        )
    return ",".join(parts)


@query(
    "a0048_holt_linear_scan",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(CAST(ROUND(SUM(o_totalprice) * 100, 0) AS BIGINT) AS DOUBLE)
               / 100.0 AS x
      FROM orders GROUP BY 1
    ),
    spine AS (
      SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS rn0 FROM daily
    ),
    init AS (
      SELECT MAX(CASE WHEN rn0 = 1 THEN x END) AS l1,
             MAX(CASE WHEN rn0 = 2 THEN x END) - MAX(CASE WHEN rn0 = 1 THEN x END) AS b1
      FROM spine WHERE rn0 <= 2
    ),
    s0 AS (
      SELECT rn0 - 1 AS rn, day, x AS xc,
             CAST({_HW_A11} AS DOUBLE) AS p11, CAST({_HW_A12} AS DOUBLE) AS p12,
             CAST({_HW_A21} AS DOUBLE) AS p21, CAST({_HW_A22} AS DOUBLE) AS p22,
             CAST({_HW_ALPHA} AS DOUBLE) * x AS d1,
             CAST({_HW_ALPHA * _HW_BETA} AS DOUBLE) * x AS d2
      FROM spine WHERE rn0 >= 2
    ),
    {_hw_rounds_sql()},
    st AS (
      SELECT s.rn, s.day, s.xc,
             s.p11 * i.l1 + s.p12 * i.b1 + s.d1 AS level,
             s.p21 * i.l1 + s.p22 * i.b1 + s.d2 AS trend
      FROM s{_HW_ROUNDS} s CROSS JOIN init i
    ),
    fc AS (
      SELECT rn, day, xc, level, trend,
             LAG(level) OVER (ORDER BY rn) AS pl,
             LAG(trend) OVER (ORDER BY rn) AS pt
      FROM st
    )
    SELECT day, ROUND(xc, 2) AS revenue,
           ROUND(level, 2) AS level, ROUND(trend, 4) AS trend,
           ROUND(COALESCE(pl + pt,
             (SELECT l1 + b1 FROM init)), 2) AS fitted,
           ROUND(xc - COALESCE(pl + pt, (SELECT l1 + b1 FROM init)), 2) AS resid
    FROM fc ORDER BY day DESC LIMIT {_HW_TAIL}
    """,
    description=f"Holt linear-trend exponential smoothing (alpha={_HW_ALPHA}, beta={_HW_BETA}, dyadic literals) over daily revenue, distributed as an associative affine-map scan: (l,b)_t = A(l,b)_(t-1) + c_t composes as (P,d)o(Q,e) = (PQ, Pe+d), so the sequential filter becomes {_HW_ROUNDS} Hillis-Steele LAG-doubling rounds over the calendar-bounded spine — the a0092 min-plus pattern generalized to the (x,+) semiring (distributes any bounded-state linear recurrence); oracle replays the identical doubling rounds (bit-identical expression DAG), sequential numpy ground truth pinned in tests; last {_HW_TAIL} days with one-step fitted values and residuals",
)
def a0048_holt_linear_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        (F.round(F.sum("o_totalprice") * 100, 0).cast("long") / 100.0).alias("x")
    )
    wd = Window.orderBy("day")  # calendar-bounded daily spine
    spine = daily.select("day", "x", F.row_number().over(wd).alias("rn0")).localCheckpoint(
        eager=False
    )  # feeds init + scan
    init = spine.filter(F.col("rn0") <= 2).agg(
        F.max(F.when(F.col("rn0") == 1, F.col("x"))).alias("l1"),
        (
            F.max(F.when(F.col("rn0") == 2, F.col("x")))
            - F.max(F.when(F.col("rn0") == 1, F.col("x")))
        ).alias("b1"),
    )
    s = spine.filter(F.col("rn0") >= 2).select(
        (F.col("rn0") - 1).alias("rn"),
        "day",
        F.col("x").alias("xc"),
        F.lit(_HW_A11).alias("p11"),
        F.lit(_HW_A12).alias("p12"),
        F.lit(_HW_A21).alias("p21"),
        F.lit(_HW_A22).alias("p22"),
        (F.lit(_HW_ALPHA) * F.col("x")).alias("d1"),
        (F.lit(_HW_ALPHA * _HW_BETA) * F.col("x")).alias("d2"),
    )
    wr = Window.orderBy("rn")
    for k in range(_HW_ROUNDS):
        lagn = 2**k
        lg = {c: F.lag(c, lagn).over(wr) for c in ["rn", "p11", "p12", "p21", "p22", "d1", "d2"]}
        has = lg["rn"].isNotNull()
        s = s.select(
            "rn",
            "day",
            "xc",
            F.when(~has, F.col("p11"))
            .otherwise(F.col("p11") * lg["p11"] + F.col("p12") * lg["p21"])
            .alias("np11"),
            F.when(~has, F.col("p12"))
            .otherwise(F.col("p11") * lg["p12"] + F.col("p12") * lg["p22"])
            .alias("np12"),
            F.when(~has, F.col("p21"))
            .otherwise(F.col("p21") * lg["p11"] + F.col("p22") * lg["p21"])
            .alias("np21"),
            F.when(~has, F.col("p22"))
            .otherwise(F.col("p21") * lg["p12"] + F.col("p22") * lg["p22"])
            .alias("np22"),
            F.when(~has, F.col("d1"))
            .otherwise(F.col("p11") * lg["d1"] + F.col("p12") * lg["d2"] + F.col("d1"))
            .alias("nd1"),
            F.when(~has, F.col("d2"))
            .otherwise(F.col("p21") * lg["d1"] + F.col("p22") * lg["d2"] + F.col("d2"))
            .alias("nd2"),
        ).select(
            "rn",
            "day",
            "xc",
            F.col("np11").alias("p11"),
            F.col("np12").alias("p12"),
            F.col("np21").alias("p21"),
            F.col("np22").alias("p22"),
            F.col("nd1").alias("d1"),
            F.col("nd2").alias("d2"),
        )
    st = s.crossJoin(F.broadcast(init)).select(
        "rn",
        "day",
        "xc",
        (F.col("p11") * F.col("l1") + F.col("p12") * F.col("b1") + F.col("d1")).alias(
            "level"
        ),
        (F.col("p21") * F.col("l1") + F.col("p22") * F.col("b1") + F.col("d2")).alias(
            "trend"
        ),
        (F.col("l1") + F.col("b1")).alias("init_fc"),
    )
    fc = st.select(
        "day",
        "xc",
        "level",
        "trend",
        F.lag("level").over(wr).alias("pl"),
        F.lag("trend").over(wr).alias("pt"),
        "init_fc",
        F.col("rn"),
    )
    fitted = F.coalesce(F.col("pl") + F.col("pt"), F.col("init_fc"))
    return (
        fc.select(
            "day",
            F.round("xc", 2).alias("revenue"),
            F.round("level", 2).alias("level"),
            F.round("trend", 4).alias("trend"),
            F.round(fitted, 2).alias("fitted"),
            F.round(F.col("xc") - fitted, 2).alias("resid"),
        )
        .orderBy(F.desc("day"))
        .limit(_HW_TAIL)
    )
