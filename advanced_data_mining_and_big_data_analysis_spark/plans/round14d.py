"""Round-14 wave 4 (a0042+ name range, inside the driver's 50-slot
correctness window): distribution-distance statistics (Kolmogorov-
Smirnov two-sample test, 1-D Wasserstein drift between consecutive
months), EWMA control charts, isotonic calibration, ranked-retrieval
evaluation (nDCG/MAP/MRR), an edit-distance similarity join
(PassJoin-style pigeonhole blocking), Boruvka minimum-spanning-forest
(single-linkage clustering backbone), and a Holt-Winters linear-
recurrence scan distributed by associative affine-map doubling.

Reference parity: no counterparts in the reference notebook
(kaggle/kaggle.py) — these extend the mining/stats, dedup, retrieval-
eval, and graph axes with public-literature operators (citations at
each query)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..operators.fixpoint import fixpoint
from ..sources import load_table
from .graph import _HUB_CAP
from .registry import query

# Shared token macro (identical to operators.text.tokens on the Spark
# side; see round13._TOKS_SQL).
_TOKS_SQL = (
    "list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +'), x -> x <> '')"
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


# ---------------------------------------------------------------------------
# a0047 — ranked-retrieval evaluation: nDCG@10 (Järvelin & Kekäläinen,
# TOIS 2002, exponential gains), AP@10, and MRR for three fixed
# 3-term queries ranked by Okapi BM25 (a0024's scorer) against graded
# relevance derived from an INDEPENDENT signal — the count of query
# terms among the document's first 30 tokens (a title-field proxy), so
# the metrics are non-trivial (full-text ranking vs title-field truth).
#
# Shapes: one token scan feeds both tf (posting lists filtered to the
# 9 workload terms before any shuffle) and the title-grade frame; each
# query's ranking is a partitioned row_number over its per-doc score
# frame (9 workload terms -> the frame is posting-list-sized, not
# corpus-sized) truncated at 10; IDCG comes from the <=3-row
# relevance-level histogram joined to a literal rank spine (never a
# corpus sort by relevance). Scores are 6-dp rounded with doc_id ties
# so both engines replay identical permutations.
# Scale rule (100 TB): the query workload and depth are evaluation
# constants; the data-sized work is one tokenize + posting-list
# aggregates (the a0024/a0165 BM25 shape).
# ---------------------------------------------------------------------------

_EVAL_QUERIES = {
    1: ["hash", "join", "vector"],
    2: ["merge", "sort", "stream"],
    3: ["filter", "scan", "batch"],
}
_EVAL_K1, _EVAL_B = 1.2, 0.75
_EVAL_DEPTH = 10
_EVAL_TITLE = 30

_EVAL_TERM_ROWS = ", ".join(
    f"({qid}, '{t}')" for qid, ts in sorted(_EVAL_QUERIES.items()) for t in ts
)


@query(
    "a0047_ndcg_eval",
    oracle=f"""
    WITH qt AS (SELECT * FROM (VALUES {_EVAL_TERM_ROWS}) v(qid, term)),
    base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl FROM base),
    dl AS (SELECT doc_id, len(toks) AS dl FROM base),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest(toks) AS term FROM base)
           WHERE term IN (SELECT term FROM qt)
           GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    rel AS (SELECT g.qid, g.doc_id, COUNT(DISTINCT g.term) AS rel
            FROM (SELECT b.doc_id, qt.qid, qt.term
                  FROM (SELECT doc_id, unnest(toks[1:{_EVAL_TITLE}]) AS tok
                        FROM base) b
                  JOIN qt ON qt.term = b.tok) g
            GROUP BY g.qid, g.doc_id),
    score AS (SELECT qt.qid, tf.doc_id, ROUND(SUM(
                ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                * (tf.tf * ({_EVAL_K1} + 1))
                / (tf.tf + {_EVAL_K1} * (1 - {_EVAL_B} + {_EVAL_B} * dl.dl / stats.avgdl))), 6) AS bm25
              FROM tf JOIN qt USING (term) JOIN dl USING (doc_id)
                      JOIN df USING (term) CROSS JOIN stats
              GROUP BY qt.qid, tf.doc_id),
    rk AS (SELECT qid, doc_id, bm25,
                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS r
           FROM score),
    top AS (SELECT rk.qid, rk.r, COALESCE(rel.rel, 0) AS rel
            FROM rk LEFT JOIN rel ON rel.qid = rk.qid AND rel.doc_id = rk.doc_id
            WHERE rk.r <= {_EVAL_DEPTH}),
    dcg AS (SELECT qid, SUM((POWER(2, rel) - 1) / (ln(r + 1) / ln(2))) AS dcg
            FROM top GROUP BY qid),
    hist AS (SELECT qid, rel, COUNT(*) AS cnt FROM rel WHERE rel >= 1
             GROUP BY qid, rel),
    hcum AS (SELECT qid, rel, cnt,
                    COALESCE(SUM(cnt) OVER (PARTITION BY qid ORDER BY rel DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
             FROM hist),
    spine AS (SELECT unnest(range(1, {_EVAL_DEPTH + 1})) AS pos),
    idcg AS (SELECT h.qid,
                    SUM((POWER(2, h.rel) - 1) / (ln(s.pos + 1) / ln(2))) AS idcg
             FROM hcum h JOIN spine s
               ON s.pos > h.before AND s.pos <= h.before + h.cnt
             GROUP BY h.qid),
    nrel AS (SELECT qid, COUNT(*) AS n_rel FROM rel WHERE rel >= 1 GROUP BY qid),
    prec AS (SELECT qid, r, rel,
                    SUM(CASE WHEN rel >= 1 THEN 1 ELSE 0 END)
                      OVER (PARTITION BY qid ORDER BY r) * 1.0 / r AS p_at
             FROM top),
    ap AS (SELECT p.qid,
                  SUM(CASE WHEN p.rel >= 1 THEN p.p_at ELSE 0 END)
                    / LEAST(MAX(n.n_rel), {_EVAL_DEPTH}) AS ap10
           FROM prec p JOIN nrel n ON n.qid = p.qid GROUP BY p.qid),
    mrr AS (SELECT qid, MAX(CASE WHEN frank IS NULL THEN 0.0 ELSE 1.0 / frank END) AS mrr
            FROM (SELECT qid, MIN(CASE WHEN rel >= 1 THEN r END) AS frank
                  FROM top GROUP BY qid) f GROUP BY qid)
    SELECT d.qid AS query_id,
           CAST(COALESCE(n.n_rel, 0) AS BIGINT) AS n_rel,
           ROUND(CASE WHEN COALESCE(i.idcg, 0) = 0 THEN 0.0
                      ELSE d.dcg / i.idcg END, 6) AS ndcg10,
           ROUND(COALESCE(a.ap10, 0), 6) AS ap10,
           ROUND(COALESCE(m.mrr, 0), 6) AS mrr
    FROM dcg d
    LEFT JOIN idcg i ON i.qid = d.qid
    LEFT JOIN nrel n ON n.qid = d.qid
    LEFT JOIN ap a ON a.qid = d.qid
    LEFT JOIN mrr m ON m.qid = d.qid
    ORDER BY query_id
    """,
    description=f"ranked-retrieval evaluation of Okapi BM25 over {len(_EVAL_QUERIES)} fixed 3-term queries: nDCG@{_EVAL_DEPTH} (exponential gains, Järvelin-Kekäläinen TOIS 2002), AP@{_EVAL_DEPTH}, and MRR against graded relevance from an independent title-field proxy (query-term count among the first {_EVAL_TITLE} tokens) — posting lists filtered to the 9 workload terms before any shuffle, per-query rankings partitioned row_numbers over posting-list-sized frames truncated at {_EVAL_DEPTH}, IDCG from the <=3-row relevance-level histogram joined to a literal rank spine (never a corpus sort by relevance), 6-dp scores + doc_id ties replay identical permutations on both engines",
)
def a0047_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X

    qt = spark.createDataFrame(
        [(qid, t) for qid, ts in sorted(_EVAL_QUERIES.items()) for t in ts],
        "qid int, term string",
    )
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", X.tokens("text").alias("toks"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.size("toks")).alias("avgdl")
    )
    dl = base.select("doc_id", F.size("toks").alias("dl"))
    all_terms = sorted({t for ts in _EVAL_QUERIES.values() for t in ts})
    tf = (
        base.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(all_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    rel = (
        base.select("doc_id", F.explode(F.slice("toks", 1, _EVAL_TITLE)).alias("tok"))
        .join(F.broadcast(qt), F.col("term") == F.col("tok"))
        .groupBy("qid", "doc_id")
        .agg(F.count_distinct("term").alias("rel"))
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    denom = F.col("tf") + _EVAL_K1 * (
        1 - _EVAL_B + _EVAL_B * F.col("dl") / F.col("avgdl")
    )
    score = (
        tf.join(F.broadcast(qt), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select("qid", "doc_id", (idf * (F.col("tf") * (_EVAL_K1 + 1)) / denom).alias("c"))
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum("c"), 6).alias("bm25"))
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("bm25"), "doc_id")
    top = (
        score.select("qid", "doc_id", F.row_number().over(wq).alias("r"))
        .filter(F.col("r") <= _EVAL_DEPTH)
        .join(rel, ["qid", "doc_id"], "left")
        .select("qid", "r", F.coalesce("rel", F.lit(0)).alias("rel"))
        .localCheckpoint(eager=False)  # 30-row frame feeds dcg/prec/mrr
    )
    ln2 = F.log(F.lit(2.0))
    dcg = top.groupBy("qid").agg(
        F.sum((F.pow(F.lit(2.0), F.col("rel")) - 1) / (F.log(F.col("r") + 1) / ln2)).alias(
            "dcg"
        )
    )
    relpos = rel.filter(F.col("rel") >= 1).localCheckpoint(eager=False)
    hist = relpos.groupBy("qid", "rel").agg(F.count("*").alias("cnt"))
    wh = (
        Window.partitionBy("qid")
        .orderBy(F.desc("rel"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hcum = hist.select(
        "qid", "rel", "cnt", F.coalesce(F.sum("cnt").over(wh), F.lit(0)).alias("before")
    )
    spine = spark.range(1, _EVAL_DEPTH + 1).select(F.col("id").alias("pos"))
    idcg = (
        hcum.join(
            F.broadcast(spine),
            (F.col("pos") > F.col("before")) & (F.col("pos") <= F.col("before") + F.col("cnt")),
        )
        .groupBy("qid")
        .agg(
            F.sum(
                (F.pow(F.lit(2.0), F.col("rel")) - 1) / (F.log(F.col("pos") + 1) / ln2)
            ).alias("idcg")
        )
    )
    nrel = relpos.groupBy("qid").agg(F.count("*").alias("n_rel"))
    wp = Window.partitionBy("qid").orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    prec = top.select(
        "qid",
        "rel",
        (
            F.sum(F.when(F.col("rel") >= 1, 1).otherwise(0)).over(wp) * 1.0 / F.col("r")
        ).alias("p_at"),
    )
    ap = (
        prec.groupBy("qid")
        .agg(F.sum(F.when(F.col("rel") >= 1, F.col("p_at")).otherwise(0.0)).alias("sp"))
        .join(nrel, "qid")
        .select(
            "qid", (F.col("sp") / F.least(F.col("n_rel"), F.lit(_EVAL_DEPTH))).alias("ap10")
        )
    )
    mrr = top.groupBy("qid").agg(
        F.coalesce(
            1.0 / F.min(F.when(F.col("rel") >= 1, F.col("r"))), F.lit(0.0)
        ).alias("mrr")
    )
    return (
        dcg.join(idcg, "qid", "left")
        .join(nrel, "qid", "left")
        .join(ap, "qid", "left")
        .join(mrr, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce("n_rel", F.lit(0)).cast("long").alias("n_rel"),
            F.round(
                F.when(F.coalesce("idcg", F.lit(0.0)) == 0.0, 0.0).otherwise(
                    F.col("dcg") / F.col("idcg")
                ),
                6,
            ).alias("ndcg10"),
            F.round(F.coalesce("ap10", F.lit(0.0)), 6).alias("ap10"),
            F.round(F.coalesce("mrr", F.lit(0.0)), 6).alias("mrr"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# a0045 — edit-distance similarity join over document prefixes with
# PassJoin-style pigeonhole blocking (Li, Deng, Wang & Feng, VLDB
# 2011): two fixed-32-char prefixes within Levenshtein distance
# tau=2 must agree EXACTLY on at least one of 3 disjoint segments
# (tau+1 segments, <=tau edits — pigeonhole), with the matching
# segment appearing in the partner shifted by at most the net indel
# balance (|delta| <= tau). Candidates therefore come from an
# equi-join of exact segment keys (index side) against +-tau shifted
# substrings (probe side) — never an all-pairs expansion — and only
# candidates pay the O(len*tau) banded verify (the built-in
# levenshtein, identical metric in both engines).
#
# Skew guard: duplicate-heavy corpora collapse segment keys (the q41
# lesson — a 100x-replicated dup group makes one key quadratic), so
# BOTH sides carry the md5-ranked per-(segment,key) cap (the
# LSH/SemDeDup salted-cap guard; the oracle replays the identical
# rank), bounding any join key at cap^2 pairs under any multiplicity.
# Scale rule (100 TB): tau, the prefix width, and the cap are design
# constants; the data-sized work is one scan emitting <=3 index +
# <=15 probe keys per doc and one selective equi-join.
# ---------------------------------------------------------------------------

_ED_TAU = 2
_ED_PLEN = 32
_ED_SEGS = [(1, 1, 11), (2, 12, 11), (3, 23, 10)]  # (i, start, len), 1-based
_ED_CAP = 16
_ED_TOP = 100


def _ed_probe_triples() -> list[tuple[int, int, int]]:
    out = []
    for i, p, ln in _ED_SEGS:
        for d in range(-_ED_TAU, _ED_TAU + 1):
            if p + d >= 1 and p + d + ln - 1 <= _ED_PLEN:
                out.append((i, p + d, ln))
    return out


_ED_CAP_ORDER = "md5(CAST(seg AS VARCHAR) || '_' || key || '_' || CAST(doc_id AS VARCHAR))"


@query(
    "a0045_edit_distance_join",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, substr(text, 1, {_ED_PLEN}) AS p
      FROM documents WHERE length(text) >= {_ED_PLEN}
    ),
    idx0 AS (
      SELECT DISTINCT doc_id, seg, key FROM (
        {" UNION ALL ".join(f"SELECT doc_id, {i} AS seg, substr(p, {p}, {ln}) AS key FROM s" for i, p, ln in _ED_SEGS)}
      )
    ),
    idx AS (
      SELECT doc_id, seg, key FROM (
        SELECT doc_id, seg, key,
               ROW_NUMBER() OVER (PARTITION BY seg, key
                 ORDER BY {_ED_CAP_ORDER}) AS rk
        FROM idx0) WHERE rk <= {_ED_CAP}
    ),
    prb0 AS (
      SELECT DISTINCT doc_id, seg, key FROM (
        {" UNION ALL ".join(f"SELECT doc_id, {i} AS seg, substr(p, {p}, {ln}) AS key FROM s" for i, p, ln in _ed_probe_triples())}
      )
    ),
    prb AS (
      SELECT doc_id, seg, key FROM (
        SELECT doc_id, seg, key,
               ROW_NUMBER() OVER (PARTITION BY seg, key
                 ORDER BY {_ED_CAP_ORDER}) AS rk
        FROM prb0) WHERE rk <= {_ED_CAP}
    ),
    cand AS (
      SELECT DISTINCT LEAST(i.doc_id, p.doc_id) AS d1,
                      GREATEST(i.doc_id, p.doc_id) AS d2
      FROM idx i JOIN prb p ON p.seg = i.seg AND p.key = i.key
                          AND p.doc_id <> i.doc_id
    ),
    ver AS (
      SELECT c.d1, c.d2, levenshtein(a.p, b.p) AS dist
      FROM cand c JOIN s a ON a.doc_id = c.d1 JOIN s b ON b.doc_id = c.d2
    )
    SELECT d1, d2, CAST(dist AS BIGINT) AS dist
    FROM ver WHERE dist <= {_ED_TAU}
    ORDER BY dist, d1, d2 LIMIT {_ED_TOP}
    """,
    description=f"edit-distance similarity join (tau={_ED_TAU}) over fixed-{_ED_PLEN}-char document prefixes with PassJoin pigeonhole blocking (Li et al. VLDB 2011): {len(_ED_SEGS)} disjoint segments, exact index keys vs +-tau shifted probe substrings, md5-ranked per-(segment,key) cap {_ED_CAP} on BOTH sides (the salted-cap skew guard, oracle-replayed) so duplicate groups never go quadratic, built-in levenshtein verify on candidates only; top-{_ED_TOP} pairs by (dist, ids)",
)
def a0045_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    s = docs.filter(F.length("text") >= _ED_PLEN).select(
        "doc_id", F.substring("text", 1, _ED_PLEN).alias("p")
    ).localCheckpoint(eager=False)  # feeds keys + both verify joins

    def keyed(triples):
        arr = F.array(
            *[
                F.struct(
                    F.lit(i).alias("seg"), F.substring("p", p, ln).alias("key")
                )
                for i, p, ln in triples
            ]
        )
        return (
            s.select("doc_id", F.explode(arr).alias("t"))
            .select("doc_id", "t.seg", "t.key")
            .distinct()
        )

    def capped(df):
        rk = F.row_number().over(
            Window.partitionBy("seg", "key").orderBy(
                F.md5(
                    F.concat(
                        F.col("seg").cast("string"),
                        F.lit("_"),
                        F.col("key"),
                        F.lit("_"),
                        F.col("doc_id").cast("string"),
                    )
                )
            )
        )
        return df.select("doc_id", "seg", "key", rk.alias("rk")).filter(
            F.col("rk") <= _ED_CAP
        )

    idx = capped(keyed(_ED_SEGS)).select(F.col("doc_id").alias("ida"), "seg", "key")
    prb = capped(keyed(_ed_probe_triples())).select(
        F.col("doc_id").alias("idb"), "seg", "key"
    )
    cand = (
        idx.join(prb, ["seg", "key"])
        .filter(F.col("ida") != F.col("idb"))
        .select(
            F.least("ida", "idb").alias("d1"), F.greatest("ida", "idb").alias("d2")
        )
        .distinct()
    )
    ver = (
        cand.join(s.select(F.col("doc_id").alias("d1"), F.col("p").alias("pa")), "d1")
        .join(s.select(F.col("doc_id").alias("d2"), F.col("p").alias("pb")), "d2")
        .select("d1", "d2", F.levenshtein("pa", "pb").alias("dist"))
    )
    return (
        ver.filter(F.col("dist") <= _ED_TAU)
        .select("d1", "d2", F.col("dist").cast("long").alias("dist"))
        .orderBy("dist", "d1", "d2")
        .limit(_ED_TOP)
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
    import itertools
    import tempfile

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
