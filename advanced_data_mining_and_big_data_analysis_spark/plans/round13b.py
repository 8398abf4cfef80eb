"""Round-13 wave 4 (a0012+): label-propagation communities, HITS
hub/authority scoring, grid-blocked Local Outlier Factor, Jensen-Shannon
domain divergence, readability profiling, AdaBoost stumps, a
Johnson-Lindenstrauss sign-projection audit, corpus n-gram self-overlap,
and an AMS/CountSketch F2 estimate.

Named below a0050 so they sort into the driver's 50-slot correctness
window ``sorted(queries())[:50]`` (COVERAGE.md window mechanics).

Reference parity: no counterpart in the reference notebook
(kaggle/kaggle.py) — these extend the graph-mining, training-data-quality
and sketch axes the brief makes first-class (community structure for
dedup-aware sampling, link analysis, density outliers, corpus mixture
divergence, readability quality scores, boosted weak learners, JL
projection for cheap ANN, diversity metrics, mergeable moment sketches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..operators.grid import cap_per_cell, neighbor_cells
from ..sources import load_table
from .graph import _HUB_CAP, _cooc_edges, _frontier_bfs, _lpa_labels, _sym_edges, _user_buckets
from .registry import query
from .round12 import _dlh_feats, _dlh_feats_sql
from .round13 import _TOKS_SQL

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
# a0015 — Jensen-Shannon divergence between per-source unigram
# distributions (the corpus-mixture distance data curation uses to
# weigh domains — Lin 1991, IEEE IT 37(1)). One token aggregate builds
# (source, term, p); every source PAIR then scores over the UNION of
# the two vocabularies (a term absent from one side contributes
# p*ln(2) to the other — handled by the 2p/(p+q) form, never a
# log-of-zero). JSD is computed in bits (/ ln 2), symmetric, bounded
# [0,1]; output is the |sources|C2 pair frame.
# Scale rule (100 TB): work after the one corpus-sized tokenize is
# pairs x vocab — vocab-bounded, not corpus-bounded; at very large
# |sources| the pair frame shards by (src_a, src_b) hash.
# ---------------------------------------------------------------------------


@query(
    "a0015_js_divergence",
    oracle=f"""
    WITH toks AS (SELECT source, unnest({_TOKS_SQL}) AS w FROM documents),
    cnt AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY source),
    pc AS (SELECT cnt.source, cnt.w, cnt.c / (tot.t * 1.0) AS p
           FROM cnt JOIN tot ON tot.source = cnt.source),
    pr AS (SELECT a.source AS sa, b.source AS sb
           FROM tot a JOIN tot b ON a.source < b.source),
    j AS (
      SELECT pr.sa, pr.sb, pc.w,
             MAX(CASE WHEN pc.source = pr.sa THEN pc.p ELSE 0 END) AS pa,
             MAX(CASE WHEN pc.source = pr.sb THEN pc.p ELSE 0 END) AS pb
      FROM pr JOIN pc ON pc.source IN (pr.sa, pr.sb)
      GROUP BY pr.sa, pr.sb, pc.w),
    s AS (
      SELECT sa, sb,
             SUM(CASE WHEN pa > 0 THEN pa * ln(2 * pa / (pa + pb)) ELSE 0 END
               + CASE WHEN pb > 0 THEN pb * ln(2 * pb / (pa + pb)) ELSE 0 END)
               / (2 * ln(2)) AS jsd,
             CAST(COUNT(*) AS BIGINT) AS n_union_terms
      FROM j GROUP BY sa, sb)
    SELECT sa AS src_a, sb AS src_b, ROUND(jsd, 6) AS jsd_bits, n_union_terms
    FROM s ORDER BY src_a, src_b
    """,
    description="Jensen-Shannon divergence (bits, Lin 1991) between every pair of per-source unigram distributions — the corpus-mixture distance domain-weighting uses: one corpus-sized token aggregate builds (source, term, p), then each source pair scores over the UNION vocabulary via the 2p/(p+q) form (absent terms contribute p*ln2, never log-of-zero); symmetric, bounded [0,1]; output |sources|C2 rows with the union vocab size",
)
def a0015_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X

    toks = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(X.tokens("text")).alias("w")
    )
    cnt = toks.groupBy("source", "w").agg(F.count("*").alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("t"))
    pc = cnt.join(tot, "source").select(
        "source", "w", (F.col("c") / F.col("t")).alias("p")
    )
    srcs = tot.select("source")
    pr = (
        srcs.select(F.col("source").alias("sa"))
        .join(srcs.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb"))
    )
    # pairs x vocab: join the (vocab-bounded) prob frame to the tiny
    # pair frame on membership, then pivot the two sides out per term
    j = (
        F.broadcast(pr)
        .join(pc, pc["source"].isin(F.col("sa"), F.col("sb")))
        .groupBy("sa", "sb", "w")
        .agg(
            F.max(F.when(F.col("source") == F.col("sa"), F.col("p")).otherwise(0.0)).alias("pa"),
            F.max(F.when(F.col("source") == F.col("sb"), F.col("p")).otherwise(0.0)).alias("pb"),
        )
    )
    term = F.when(
        F.col("pa") > 0, F.col("pa") * F.log(2 * F.col("pa") / (F.col("pa") + F.col("pb")))
    ).otherwise(0.0) + F.when(
        F.col("pb") > 0, F.col("pb") * F.log(2 * F.col("pb") / (F.col("pa") + F.col("pb")))
    ).otherwise(0.0)
    s = j.groupBy("sa", "sb").agg(
        F.sum(term).alias("jsum"), F.count("*").cast("long").alias("n_union_terms")
    )
    import math

    return s.select(
        F.col("sa").alias("src_a"),
        F.col("sb").alias("src_b"),
        F.round(F.col("jsum") / F.lit(2 * math.log(2)), 6).alias("jsd_bits"),
        "n_union_terms",
    ).orderBy("src_a", "src_b")


# ---------------------------------------------------------------------------
# a0016 — readability profile per source (Flesch 1948 reading ease +
# Flesch-Kincaid 1975 grade): words from the shared tokenizer,
# sentences from [.!?]+ runs (floor 1 per doc), syllables estimated as
# vowel-group runs per word (floor 1 — the standard heuristic; digits
# count 1). The quality-scoring tier used to stratify training corpora
# by reading level. All three counts are row-local array folds over
# each document — ZERO explode, zero pre-aggregate shuffle; the only
# exchange is the |sources|-row rollup.
# Scale rule (100 TB): embarrassingly parallel scan; the rollup frame
# is |sources|-bounded.
# ---------------------------------------------------------------------------


@query(
    "a0016_readability",
    oracle=f"""
    WITH d AS (
      SELECT source,
             list_reduce(list_transform({_TOKS_SQL},
               tk -> GREATEST(1, len(regexp_extract_all(tk, '[aeiouy]+')))),
               (a, b) -> a + b) AS syl,
             len({_TOKS_SQL}) AS w,
             GREATEST(1, len(list_filter(string_split_regex(text, '[.!?]+'),
                                         s -> trim(s) <> ''))) AS sent
      FROM documents),
    f AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(w) AS BIGINT) AS words,
                 CAST(SUM(sent) AS BIGINT) AS sentences,
                 CAST(SUM(syl) AS BIGINT) AS syllables
          FROM d WHERE w > 0 GROUP BY source)
    SELECT source, n_docs, words, sentences,
           ROUND(words / (sentences * 1.0), 6) AS words_per_sentence,
           ROUND(syllables / (words * 1.0), 6) AS syllables_per_word,
           ROUND(206.835 - 1.015 * (words / (sentences * 1.0))
                 - 84.6 * (syllables / (words * 1.0)), 6) AS flesch_ease,
           ROUND(0.39 * (words / (sentences * 1.0))
                 + 11.8 * (syllables / (words * 1.0)) - 15.59, 6) AS fk_grade
    FROM f ORDER BY source
    """,
    description="readability profile per source (Flesch reading ease + Flesch-Kincaid grade): words from the shared tokenizer, sentences = non-empty [.!?]+ runs (floor 1), syllables = vowel-group runs per word (floor 1) — the reading-level stratification tier of corpus quality scoring; all counts are row-local array folds (zero explode), the only exchange is the |sources|-row rollup",
)
def a0016_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X

    d = load_table(spark, sf_dir, "documents").select(
        "source", "text", X.tokens("text").alias("_toks")
    )
    syl = F.aggregate(
        F.col("_toks"),
        F.lit(0),
        lambda acc, tk: acc
        + F.greatest(F.lit(1), F.size(F.regexp_extract_all(tk, F.lit("[aeiouy]+"), 0))),
    )
    sent = F.greatest(
        F.lit(1),
        F.size(F.filter(F.split(F.col("text"), "[.!?]+"), lambda s: F.trim(s) != "")),
    )
    per = d.select(
        "source",
        syl.alias("syl"),
        F.size(F.col("_toks")).alias("w"),
        sent.alias("sent"),
    ).filter(F.col("w") > 0)
    f = per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("words"),
        F.sum("sent").cast("long").alias("sentences"),
        F.sum("syl").cast("long").alias("syllables"),
    )
    wps = F.col("words") / F.col("sentences")
    spw = F.col("syllables") / F.col("words")
    return f.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        F.round(wps, 6).alias("words_per_sentence"),
        F.round(spw, 6).alias("syllables_per_word"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 6).alias("flesch_ease"),
        F.round(0.39 * wps + 11.8 * spw - 15.59, 6).alias("fk_grade"),
    ).orderBy("source")


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
    from decimal import ROUND_HALF_UP, Decimal

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
    import math

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


# ---------------------------------------------------------------------------
# a0018 — Johnson-Lindenstrauss sign-projection audit (Achlioptas 2003:
# database-friendly +-1 projections): embeddings project 64 -> 16 dims
# through a DETERMINISTIC md5-derived sign matrix (both engines derive
# the identical matrix), y = S^T x / sqrt(16), and the audit reports
# the norm-preservation ratio ||y||/||x|| histogram (0.1-wide buckets)
# — the cheap-ANN pre-filter tier: candidate generation in 16 dims at
# 1/4 the FLOPs, exact re-rank in 64. Spark side is ONE Arrow
# mapInPandas batch kernel (numpy matmul, the a0001 BLAS idiom); the
# sign matrix is a 64x16 constant, never a data-sized frame.
# Scale rule (100 TB): embarrassingly parallel scan; k=16 is the
# recall/FLOPs knob; the bucket rollup is ~10 rows.
# ---------------------------------------------------------------------------

_JL_IN, _JL_OUT = 64, 16


def _jl_sign(i: int, j: int) -> int:
    """+-1 from md5('jl_i_j') parity — hashlib here, md5() in SQL."""
    import hashlib

    h = hashlib.md5(f"jl_{i}_{j}".encode()).hexdigest()[:4]
    return 1 if int(h, 16) % 2 == 0 else -1


@query(
    "a0018_jl_projection_audit",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sm AS (
      SELECT i, j,
             CASE WHEN CAST(CONCAT('0x', substr(md5('jl_' || i || '_' || j), 1, 4))
                       AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s
      FROM range(1, {_JL_IN + 1}) r1(i) CROSS JOIN range(1, {_JL_OUT + 1}) r2(j)),
    comp AS (
      SELECT x.vec_id, r.dim AS i, x.v[r.dim] AS xv
      FROM x CROSS JOIN range(1, {_JL_IN + 1}) r(dim)),
    y AS (
      SELECT comp.vec_id, sm.j, SUM(comp.xv * sm.s) / 4.0 AS yj
      FROM comp JOIN sm ON sm.i = comp.i GROUP BY comp.vec_id, sm.j),
    ny AS (SELECT vec_id, sqrt(SUM(yj * yj)) AS ny FROM y GROUP BY vec_id),
    nx AS (
      SELECT vec_id,
             sqrt(list_reduce(list_transform(v, e -> e * e), (a, b) -> a + b)) AS nx
      FROM x),
    r AS (
      SELECT ROUND(ny.ny / nx.nx, 9) AS ratio
      FROM ny JOIN nx ON nx.vec_id = ny.vec_id WHERE nx.nx > 0)
    SELECT CAST(FLOOR(ratio * 10) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(ratio), 6) AS avg_ratio
    FROM r GROUP BY 1 ORDER BY bucket
    """,
    description=f"Johnson-Lindenstrauss sign-projection audit (Achlioptas 2003): embeddings project {_JL_IN}->{_JL_OUT} dims through a deterministic md5-derived +-1 matrix (y = S^T x / sqrt({_JL_OUT}), both engines derive the identical matrix), reporting the norm-preservation ratio ||y||/||x|| histogram in 0.1 buckets — the cheap-ANN pre-filter tier (candidates in {_JL_OUT} dims, exact re-rank in {_JL_IN}); Spark side is one Arrow mapInPandas numpy-matmul kernel, the sign matrix a 64x16 constant",
)
def a0018_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    S = np.array(
        [[_jl_sign(i, j) for j in range(1, _JL_OUT + 1)] for i in range(1, _JL_IN + 1)],
        dtype=np.float64,
    )
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            Y = X @ S / 4.0
            nx = np.sqrt((X * X).sum(axis=1))
            ny = np.sqrt((Y * Y).sum(axis=1))
            m = nx > 0
            yield pd.DataFrame({"ratio": np.round(ny[m] / nx[m], 9)})

    r = emb.mapInPandas(kernel, "ratio double")
    return (
        r.groupBy(F.floor(F.col("ratio") * 10).cast("long").alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.round(F.avg("ratio"), 6).alias("avg_ratio"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# a0019 — corpus n-gram self-overlap (the diversity/memorization risk
# metric generative-data curation tracks — the aggregate face of
# Self-BLEU): per document, the fraction of its DISTINCT word trigrams
# that also occur in at least one OTHER document (df >= 2; per-doc
# distinct grams make df a plain COUNT), rolled up per source. High
# overlap = template-heavy / near-duplicated sources; low = lexically
# diverse. One corpus-sized gram explode, one vocab-sized df count,
# one gram-sized join back — all map-side-combinable.
# Scale rule (100 TB): n=3 is a resolution constant; the df frame is
# gram-vocabulary-bounded; docs under 3 tokens contribute no grams on
# either engine.
# ---------------------------------------------------------------------------


@query(
    "a0019_ngram_self_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS_SQL} AS tk FROM documents),
    g AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))) AS gr
      FROM t),
    df AS (SELECT gr, COUNT(*) AS df FROM g GROUP BY gr),
    ov AS (
      SELECT g.doc_id, g.source,
             AVG(CASE WHEN df.df >= 2 THEN 1.0 ELSE 0.0 END) AS ov,
             COUNT(*) AS n_grams
      FROM g JOIN df ON df.gr = g.gr
      GROUP BY g.doc_id, g.source)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(ov), 6) AS avg_overlap,
           CAST(SUM(n_grams) AS BIGINT) AS n_doc_grams
    FROM ov GROUP BY source ORDER BY source
    """,
    description="corpus trigram self-overlap per source (the aggregate face of Self-BLEU — the diversity/memorization-risk metric): fraction of each doc's DISTINCT word trigrams occurring in >= 2 docs (per-doc distinct makes df a plain count), averaged per source; template-heavy sources score high, lexically diverse ones low; one gram explode + one vocab-bounded df count + one join back, all map-side-combinable",
)
def a0019_ngram_self_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X

    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", X.tokens("text").alias("tk")
    )
    # the exploded gram frame feeds BOTH the df count and the join-back —
    # materialize the tokenize+shingle+explode once (the a095/a0085
    # single-tokenize lesson; sf1.0 A/B: 12.2 -> 7.9 s warm, 1.49x same-run DuckDB)
    g = t.select(
        "doc_id", "source", F.explode(X.word_shingles(F.col("tk"), 3, distinct=True)).alias("gr")
    ).localCheckpoint(eager=False)
    df = g.groupBy("gr").agg(F.count("*").alias("df"))
    ov = (
        g.join(df, "gr")
        .groupBy("doc_id", "source")
        .agg(
            F.avg(F.when(F.col("df") >= 2, 1.0).otherwise(0.0)).alias("ov"),
            F.count("*").alias("n_grams"),
        )
    )
    return (
        ov.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("ov"), 6).alias("avg_overlap"),
            F.sum("n_grams").cast("long").alias("n_doc_grams"),
        )
        .orderBy("source")
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
    WITH toks AS (SELECT unnest({_TOKS_SQL}) AS w FROM documents),
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
    from ..operators import text as X

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
# a0021 — REAL arithmetic-coded JPEG decode (T.81 Annex D QM-coder +
# Annex F sequential statistical models; operators/jpeg_arith.py) —
# the VERDICT r12 stretch item that completes the codec matrix
# (baseline/progressive/lossless/12-bit Huffman + now arithmetic).
# Same closed-form-fixture discipline as q124/a0163: 8x8-constant
# blocks with quant-divisible DC terms survive the codec bit-exactly
# (luma step 16 | 8*even-offset, chroma step 17 | 8*17k), so DuckDB
# recomputes the decoded statistics from the generating formulas; the
# adaptive-coder machinery itself is pinned by pytest round-trip AND
# by the cross-entropy-coder identity test (arith decode == Huffman
# decode of the same image — two independent coders, same
# coefficients).
# Scale rule (100 TB): embarrassingly parallel mapInPandas decode;
# fixture count is a harness constant.
# ---------------------------------------------------------------------------

_N_JA = 8


@query(
    "a0021_jpeg_arith_decode",
    oracle=f"""
    WITH jm AS (SELECT m FROM range(0, {_N_JA}) t(m)),
    gblocks AS (
      SELECT jm.m, 128 + 2*(((jm.m*7 + bx.i*3 + by.i*5) % 50) - 25) AS v,
             bx.i AS bx, by.i AS by
      FROM jm, range(0, 2) bx(i), range(0, 2) by(i)),
    gray AS (
      SELECT 9000 + m AS media_id, 'jpeg_arith' AS kind,
             CAST(256 AS BIGINT) AS n_units,
             ROUND(AVG(v), 6) AS f1,
             CAST(MIN(CASE WHEN bx = 0 AND by = 0 THEN v END) AS DOUBLE) AS f2,
             CAST(0 AS DOUBLE) AS f3, CAST(0 AS DOUBLE) AS f4
      FROM gblocks GROUP BY m),
    cblocks AS (
      SELECT jm.m, bx.i AS bx, by.i AS by,
             128 + 2*(((jm.m*7 + bx.i*3 + by.i*5) % 50) - 25) AS y,
             128 + 17*(((jm.m + bx.i + by.i) % 3) - 1) AS cb,
             128 + 17*(((jm.m + 2*bx.i + by.i) % 3) - 1) AS cr
      FROM jm, range(0, 2) bx(i), range(0, 2) by(i)),
    crgb AS (
      SELECT m, bx, by,
             ROUND(y + 1.402*(cr - 128)) AS r,
             ROUND(y - 0.344136*(cb - 128) - 0.714136*(cr - 128)) AS g,
             ROUND(y + 1.772*(cb - 128)) AS b
      FROM cblocks),
    color AS (
      SELECT 9500 + m AS media_id, 'jpeg_arith_color' AS kind,
             CAST(256 AS BIGINT) AS n_units,
             ROUND(AVG(r), 6) AS f1, ROUND(AVG(g), 6) AS f2,
             ROUND(AVG(b), 6) AS f3,
             CAST(MIN(CASE WHEN bx = 0 AND by = 0 THEN r END) AS DOUBLE) AS f4
      FROM crgb GROUP BY m)
    SELECT * FROM (SELECT * FROM gray UNION ALL SELECT * FROM color)
    ORDER BY media_id
    """,
    description=f"REAL arithmetic-coded JPEG decode, hash-checked (T.81 Annex D QM-coder + Annex F sequential models, SOF9 — completes the codec matrix): the from-scratch adaptive binary arithmetic decoder (Table D.3 state machine, conditional exchange, 0xFF stuffing/carry stack, DAC conditioning, DC diff-classification contexts, per-index AC banks with the fixed-state sign) runs inside the mapInPandas extractor over {_N_JA} grayscale + {_N_JA} YCbCr 4:4:4 fixtures whose quant-divisible constant blocks survive bit-exactly, so the oracle recomputes decoded means/top-left (and the JFIF RGB conversion) from the generating formulas; the coder itself is pinned by pytest round-trips and the arith==Huffman cross-coder identity",
)
def a0021_jpeg_arith_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as MM

    feats = MM.extract_features(
        MM.formula_media_df(
            spark, n_audio=0, n_image=0, n_png=0, n_jpeg_arith=_N_JA, n_jpeg_arith_color=_N_JA
        )
    )
    el = F.element_at
    gray = feats.filter(F.col("media_id") < 9500).select(
        "media_id",
        F.lit("jpeg_arith").alias("kind"),
        (el("feature", 1) * el("feature", 2)).cast("long").alias("n_units"),
        F.round(el("feature", 3), 6).alias("f1"),
        el("feature", 6).alias("f2"),
        F.lit(0.0).alias("f3"),
        F.lit(0.0).alias("f4"),
    )
    color = feats.filter(F.col("media_id") >= 9500).select(
        "media_id",
        F.lit("jpeg_arith_color").alias("kind"),
        (el("feature", 1) * el("feature", 2)).cast("long").alias("n_units"),
        F.round(el("feature", 3), 6).alias("f1"),
        F.round(el("feature", 4), 6).alias("f2"),
        F.round(el("feature", 5), 6).alias("f3"),
        el("feature", 6).alias("f4"),
    )
    return gray.unionAll(color).orderBy("media_id")


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
