"""Round-10 final wave (a0093–a0105): classical data-mining and
pipeline-engineering operators that round out the engine —
market-basket association rules, weighted reservoir sampling, PSI
drift, rolling OLS, STL-lite seasonal decomposition, a distributed
parquet row-group audit, rendezvous (HRW) sharding, grid-density
clustering, heavy-change detection, funnel conversion, Adamic-Adar
link prediction, SAX motif mining, and range-partition planning.

Named a0093–a0105 so the whole wave sorts INSIDE the round-10 driver
window (before the a0144+ r9-green backfill block): 37 never-dated +
13 new = exactly the 50-slot window. Every query carries a full
DuckDB value-hash oracle.

Reference parity: the reference notebook (kaggle/kaggle.py) has no
counterpart for these — they extend the engine along the data-mining
axis its course title promises (association rules, SAX, density
clustering are textbook Big-Data-Analysis material) and the
training-pipeline axis the north star demands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.fixpoint import fixpoint
from ..operators.grid import equal_width_cells, neighbor_cells
from ..sources import load_table
from .registry import query

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
# a0094 — weighted reservoir sampling without replacement (Efraimidis &
# Spirakis A-Res, Inf. Process. Lett. 2006): each document draws a
# deterministic hash-uniform u ∈ (0,1) and competes with key u^(1/w);
# the k largest keys are the sample. Ranking by ln(u)/w is monotone-
# equivalent and numerically robust. One pass, no shuffle before the
# global top-k (TakeOrderedAndProject) — the distributed-sampling
# primitive a mixture builder needs when weights are token counts.
# ---------------------------------------------------------------------------

_WRS_K = 25


# Scale rule (100 TB): k is the sample size (output contract), not a cost
# knob — one pass, one top-k by exponential key; at 100 TB k only changes
# the per-partition heap size.
@query(
    "a0094_weighted_reservoir",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, n_chars,
             (CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
               / 4294967296.0 AS u
      FROM documents WHERE n_chars > 0
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
           CAST(n_chars AS BIGINT) AS weight,
           ROUND(ln(u) / n_chars * 1e6, 6) AS neg_key_ppm
    FROM d
    ORDER BY ln(u) / n_chars DESC, doc_id
    LIMIT {_WRS_K}
    """,
    description=f"weighted reservoir sampling without replacement (Efraimidis-Spirakis A-Res): deterministic md5-uniform u per doc, sample = top-{_WRS_K} by key u^(1/weight) ranked via the monotone-equivalent ln(u)/w — one pass, no shuffle, global top-k via TakeOrderedAndProject; the distributed weighted-sampling primitive for building training mixtures where weight = document length",
)
def a0094_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    key = F.log(u) / F.col("n_chars")
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            F.col("n_chars").cast("long").alias("weight"),
            (key * 1e6).alias("_k"),
        )
        .orderBy(F.desc("_k"), "doc_id")
        .limit(_WRS_K)
        .select("doc_id", "source", "weight", F.round("_k", 6).alias("neg_key_ppm"))
    )


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
# a0098 — distributed parquet row-group audit: the engine writes a
# lineitem mirror with maxRecordsPerFile=8192 (one task, sequential
# split -> ceil(n/8192) files of exactly 8192 rows except the last),
# builds a file inventory, and reads every parquet FOOTER in parallel
# with pyarrow inside mapInPandas (Arrow-batched; the worker fn is a
# closure -> pickled by value, no package import needed on executors).
# The oracle reproduces the whole physical layout arithmetically from
# COUNT(*): file count, per-file row counts, one row group per file
# (8192 rows << the 128 MiB parquet block), 11 leaf columns. This is
# the footer-stats primitive a compaction planner / scan scheduler
# needs; at 100 TB the inventory is a DataFrame and footers are read
# executor-side, never on the driver.
# ---------------------------------------------------------------------------

_RG_MAX_RECORDS = 8192


@query(
    "a0098_rowgroup_audit",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS c FROM lineitem)
    SELECT CAST(i AS BIGINT) AS file_idx,
           CAST(1 AS BIGINT) AS n_row_groups,
           CAST(LEAST({_RG_MAX_RECORDS}, c - i * {_RG_MAX_RECORDS}) AS BIGINT) AS meta_rows,
           CAST(11 AS BIGINT) AS n_cols
    FROM (SELECT unnest(generate_series(0,
            (SELECT CAST(CEIL(c * 1.0 / {_RG_MAX_RECORDS}) AS BIGINT) - 1 FROM n))) AS i)
    CROSS JOIN n
    ORDER BY file_idx
    """,
    description=f"distributed parquet row-group audit: write a lineitem mirror with maxRecordsPerFile={_RG_MAX_RECORDS} (sequential split, deterministic file sizes), then read every parquet footer executor-side via pyarrow inside mapInPandas over the file inventory — row-group count, metadata row count, and leaf-column count per file; the oracle reproduces the physical layout arithmetically from COUNT(*), so a wrong split, a surprise second row group, or a driver-side footer loop fails the hash",
)
def a0098_rowgroup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from .sources_ext import _mirror_dir

    mirror = _mirror_dir(sf_dir, "rowgroup_audit", "lineitem")
    li = load_table(spark, sf_dir, "lineitem")
    (
        li.repartition(1)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", _RG_MAX_RECORDS)
        .parquet(mirror)
    )
    files = sorted(
        os.path.join(mirror, f) for f in os.listdir(mirror) if f.endswith(".parquet")
    )
    inv = spark.createDataFrame(
        [(i, p) for i, p in enumerate(files)], "file_idx long, path string"
    ).repartition(min(len(files), 8))

    def read_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for idx, path in zip(pdf["file_idx"], pdf["path"]):
                md = pq.ParquetFile(path).metadata
                out.append((int(idx), md.num_row_groups, md.num_rows, md.num_columns))
            yield pd.DataFrame(
                out, columns=["file_idx", "n_row_groups", "meta_rows", "n_cols"]
            )

    return (
        inv.mapInPandas(
            read_footers,
            "file_idx long, n_row_groups long, meta_rows long, n_cols long",
        )
        .orderBy("file_idx")
    )


# ---------------------------------------------------------------------------
# a0099 — rendezvous (highest-random-weight) sharding audit: every
# document scores each shard with a deterministic md5 hash of
# (doc_id, shard) and is assigned to the argmax — the consistent-
# placement scheme that, when a shard is ADDED, moves only the docs the
# new shard wins (≈1/(S+1)) and moves them only TO the new shard. The
# audit assigns under S=8 and S=9 and proves the HRW invariant in data:
# n_moved_other is identically 0 and total movement ≈ 1/9. Pure
# projection + one 8-row aggregate, no shuffle before the groupBy.
# ---------------------------------------------------------------------------

_HRW_OLD = 8


@query(
    "a0099_rendezvous_sharding",
    oracle=f"""
    WITH h AS (
      SELECT d.doc_id, s.s,
             CAST(CONCAT('0x', substr(md5(CAST(d.doc_id AS VARCHAR) || ':' ||
                                        CAST(s.s AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, {_HRW_OLD})) AS s) s
    ),
    a8 AS (
      SELECT doc_id, s AS old_shard FROM (
        SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
                                             ORDER BY hv DESC, s DESC) AS rk
        FROM h WHERE s < {_HRW_OLD}) WHERE rk = 1
    ),
    a9 AS (
      SELECT doc_id, s AS new_shard FROM (
        SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
                                             ORDER BY hv DESC, s DESC) AS rk
        FROM h) WHERE rk = 1
    )
    SELECT CAST(a8.old_shard AS BIGINT) AS old_shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN new_shard = {_HRW_OLD} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved_to_new,
           CAST(SUM(CASE WHEN new_shard <> old_shard AND new_shard <> {_HRW_OLD}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_other,
           ROUND(SUM(CASE WHEN new_shard <> old_shard THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS moved_share
    FROM a8 JOIN a9 ON a8.doc_id = a9.doc_id
    GROUP BY a8.old_shard
    ORDER BY old_shard
    """,
    description=f"rendezvous (HRW) sharding audit: md5(doc_id,shard) weight per shard, assignment = lexicographic argmax, computed under {_HRW_OLD} and {_HRW_OLD + 1} shards in one projection (array of structs, array_max — no explode, no shuffle); per-old-shard movement report proves the HRW invariant in data (n_moved_other ≡ 0, total movement ≈ 1/{_HRW_OLD + 1}) — the consistent-placement primitive for shard scale-out with minimal data motion",
)
def a0099_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def hv(s: int):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{s}"))), 1, 8
            ),
            16,
            10,
        ).cast("long")

    structs = [
        F.struct(hv(s).alias("hv"), F.lit(s).cast("long").alias("s"))
        for s in range(_HRW_OLD + 1)
    ]
    assigned = docs.select(
        F.array_max(F.array(*structs[:_HRW_OLD]))["s"].alias("old_shard"),
        F.array_max(F.array(*structs))["s"].alias("new_shard"),
    )
    new = F.lit(_HRW_OLD).cast("long")
    return (
        assigned.groupBy("old_shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("new_shard") == new, 1).otherwise(0))
            .cast("long")
            .alias("n_moved_to_new"),
            F.sum(
                F.when(
                    (F.col("new_shard") != F.col("old_shard")) & (F.col("new_shard") != new),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_moved_other"),
            F.round(
                F.sum(F.when(F.col("new_shard") != F.col("old_shard"), 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("moved_share"),
        )
        .orderBy("old_shard")
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
# would reuse the salted per-bucket cap (operators/dedup.py:172).
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
# a0105 — range-partition planning from an equi-width key histogram (how
# a shuffle planner picks RangePartitioner boundaries without a global
# sort): build a 256-bucket histogram of l_orderkey, cumulative counts
# over the BUCKET frame (≤256 rows — the whole point: order statistics
# against the histogram, never against data), then for each of 16 target
# partitions pick the first bucket whose cumulative count reaches
# ceil(j·n/16) and report the planned rows and skew vs the ideal n/16.
# This is the AQE/range-exchange planning primitive: at 100 TB the
# histogram is one map-side-combined aggregate and the plan is 16 rows.
# ---------------------------------------------------------------------------

_RP_BUCKETS = 256
_RP_PARTS = 16


# Scale rule (100 TB): bucket count ~ target output partitions (cluster-
# width knob): the histogram is one aggregate; boundaries are a bounded
# frame at any corpus.
@query(
    "a0105_range_partition_plan",
    oracle=f"""
    WITH rng AS (SELECT MIN(l_orderkey) AS mn, MAX(l_orderkey) AS mx, COUNT(*) AS n FROM lineitem),
    hist AS (
      SELECT LEAST({_RP_BUCKETS - 1},
                   CAST(FLOOR((l_orderkey - mn) * {_RP_BUCKETS}.0 / (mx - mn + 1)) AS BIGINT))
               AS bucket,
             COUNT(*) AS cnt
      FROM lineitem CROSS JOIN rng GROUP BY 1
    ),
    cum AS (
      SELECT bucket, SUM(cnt) OVER (ORDER BY bucket
                                    ROWS UNBOUNDED PRECEDING) AS cum
      FROM hist
    ),
    targets AS (
      SELECT CAST(j AS BIGINT) AS part_id,
             CAST(CEIL(n * j * 1.0 / {_RP_PARTS}) AS BIGINT) AS tgt, n
      FROM (SELECT unnest(generate_series(1, {_RP_PARTS})) AS j) CROSS JOIN rng
    ),
    bounds AS (
      SELECT t.part_id, t.n, MIN(c.bucket) AS ub_bucket
      FROM targets t JOIN cum c ON c.cum >= t.tgt
      GROUP BY t.part_id, t.n
    ),
    planned AS (
      SELECT b.part_id, b.ub_bucket, b.n,
             c.cum - COALESCE(lag(c.cum) OVER (ORDER BY b.part_id), 0) AS planned_rows
      FROM bounds b JOIN cum c ON b.ub_bucket = c.bucket
    )
    SELECT part_id, CAST(ub_bucket AS BIGINT) AS ub_bucket,
           CAST(planned_rows AS BIGINT) AS planned_rows,
           ROUND(planned_rows * {_RP_PARTS}.0 / n, 6) AS skew_vs_ideal
    FROM planned ORDER BY part_id
    """,
    description=f"range-partition planning from a {_RP_BUCKETS}-bucket equi-width key histogram (the RangePartitioner/AQE boundary-picking primitive without a global sort): cumulative counts over the bounded BUCKET frame, boundary for partition j = first bucket reaching ceil(j·n/{_RP_PARTS}), per-partition planned rows and skew vs the ideal n/{_RP_PARTS}; order statistics run against the histogram, never against data rows",
)
def a0105_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    rng = li.agg(
        F.min("l_orderkey").alias("mn"), F.max("l_orderkey").alias("mx"), F.count("*").alias("n")
    )
    hist = (
        li.crossJoin(F.broadcast(rng))
        .groupBy(
            F.least(
                F.lit(_RP_BUCKETS - 1),
                F.floor(
                    (F.col("l_orderkey") - F.col("mn"))
                    * float(_RP_BUCKETS)
                    / (F.col("mx") - F.col("mn") + 1)
                ),
            )
            .cast("long")
            .alias("bucket")
        )
        .agg(F.count("*").alias("cnt"))
    )
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("bucket", F.sum("cnt").over(wcum).alias("cum")).localCheckpoint(eager=False)
    targets = (
        spark.range(1, _RP_PARTS + 1)
        .select(F.col("id").cast("long").alias("part_id"))
        .crossJoin(F.broadcast(rng))
        .select(
            "part_id",
            F.ceil(F.col("n") * F.col("part_id") * 1.0 / _RP_PARTS).cast("long").alias("tgt"),
            "n",
        )
    )
    bounds = (
        targets.join(cum, F.col("cum") >= F.col("tgt"))
        .groupBy("part_id", "n")
        .agg(F.min("bucket").alias("ub_bucket"))
    )
    wlag = Window.orderBy("part_id")  # 16-row plan frame
    planned = (
        bounds.join(cum, F.col("ub_bucket") == F.col("bucket"))
        .select("part_id", "ub_bucket", "n", "cum")
        .withColumn("planned_rows", F.col("cum") - F.coalesce(F.lag("cum").over(wlag), F.lit(0)))
    )
    return planned.select(
        "part_id",
        F.col("ub_bucket").cast("long").alias("ub_bucket"),
        F.col("planned_rows").cast("long").alias("planned_rows"),
        F.round(F.col("planned_rows") * float(_RP_PARTS) / F.col("n"), 6).alias("skew_vs_ideal"),
    ).orderBy("part_id")
