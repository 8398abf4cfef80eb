"""Round-14 wave 2 (a0024+ name range, inside the driver's 50-slot
correctness window): retrieval fusion, embedding-truncation and LSH
quality audits, exact-substring span profiling, graph quality metrics,
trend/coverage statistics, and journey attribution.

Reference parity: no counterparts in the reference notebook
(kaggle/kaggle.py) — these extend the LLM-data-pipeline and
mining/stats axes with public-literature operators (citations at each
query)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..sources import load_table
from .graph import _HUB_CAP, _cooc_edges, _frontier_bfs, _lpa_labels, _sym_edges, _user_buckets
from .registry import query
from .round13b import _LP_ROUNDS, _lpa_rounds_sql, _round_half_up

# Shared token macro (identical to operators.text.tokens on the Spark
# side; see round13._TOKS_SQL).
_TOKS_SQL = (
    "list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +'), x -> x <> '')"
)

# ---------------------------------------------------------------------------
# a0024 — reciprocal-rank fusion of lexical (BM25) and dense (cosine)
# retrieval (Cormack, Clarke & Buettcher, SIGIR 2009): the standard
# hybrid-search combiner, score(d) = sum over lists of 1/(K + rank_d).
# The lexical list is a0165's Okapi BM25 ranking (k1=1.2, b=0.75,
# Lucene idf) for the same fixed 3-term query; the dense list is
# corpus-wide cosine to a fixed query document's embedding (the
# embeddings table is doc-aligned: vec_id == doc_id). Both lists are
# truncated to depth L before fusion — RRF is rank-only, so the two
# scores never need calibrating against each other (that robustness is
# the paper's point).
#
# Scale shape: BM25 side is posting-list shaped (explode filtered to 3
# terms immediately); dense side is one corpus scan against a single
# broadcast query vector; each list's rank is a TOP-L TakeOrdered
# (never a global sort), and the fusion is an L-bounded full outer
# join. Determinism: ranks are assigned over 6-dp (lexical) / 9-dp
# (dense) rounded scores with doc_id ties, so both engines replay the
# identical permutation.
# Scale rule (100 TB): depth L and the query workload are resolution
# constants; the corpus-proportional stages are one token scan and one
# embedding scan. The batched-workload form is a0168 (lexical) x q118
# (dense) feeding the same fusion join.
# ---------------------------------------------------------------------------

_RRF_TERMS = ["hash", "join", "vector"]
_RRF_K1, _RRF_B = 1.2, 0.75
_RRF_QVEC = 42  # query document (vec_id == doc_id in the synthetic corpus)
_RRF_K = 60  # the paper's constant
_RRF_DEPTH = 50
_RRF_TOP = 15

_DIMS = 64
_RRF_DOT = (
    f"list_reduce(list_transform(range(1, {_DIMS + 1}), i -> v[i] * q[i]), (a, b) -> a + b)"
)
_RRF_NV = (
    f"sqrt(list_reduce(list_transform(range(1, {_DIMS + 1}), i -> v[i] * v[i]), (a, b) -> a + b))"
)
_RRF_NQ = (
    f"sqrt(list_reduce(list_transform(range(1, {_DIMS + 1}), i -> q[i] * q[i]), (a, b) -> a + b))"
)


@query(
    "a0024_rrf_fusion",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl FROM base),
    dl AS (SELECT doc_id, len(toks) AS dl FROM base),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest(toks) AS term FROM base)
           WHERE term IN ({", ".join(f"'{t}'" for t in _RRF_TERMS)})
           GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    lex AS (SELECT tf.doc_id, ROUND(SUM(
              ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
              * (tf.tf * ({_RRF_K1} + 1))
              / (tf.tf + {_RRF_K1} * (1 - {_RRF_B} + {_RRF_B} * dl.dl / stats.avgdl))), 6) AS bm25
            FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
            GROUP BY tf.doc_id),
    lexrk AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
              FROM lex),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings
           WHERE vec_id = {_RRF_QVEC}),
    dense AS (SELECT e.vec_id AS doc_id,
                     ROUND({_RRF_DOT} / ({_RRF_NV} * {_RRF_NQ}), 9) AS cos
              FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id <> {_RRF_QVEC}) e
              CROSS JOIN qv),
    denrk AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r
              FROM dense),
    l AS (SELECT doc_id, r FROM lexrk WHERE r <= {_RRF_DEPTH}),
    d AS (SELECT doc_id, r FROM denrk WHERE r <= {_RRF_DEPTH}),
    fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             COALESCE(l.r, 0) AS lex_rank, COALESCE(d.r, 0) AS dense_rank,
             ROUND(COALESCE(1.0 / ({_RRF_K} + l.r), 0)
                   + COALESCE(1.0 / ({_RRF_K} + d.r), 0), 9) AS rrf
      FROM l FULL OUTER JOIN d ON d.doc_id = l.doc_id)
    SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(dense_rank AS BIGINT) AS dense_rank,
           ROUND(rrf, 6) AS rrf_score
    FROM fused ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOP}
    """,
    description=f"reciprocal-rank fusion of BM25 lexical and cosine dense retrieval (Cormack-Clarke-Buettcher SIGIR 2009, K={_RRF_K}): a0165's Okapi BM25 ranking for a fixed 3-term query fused with corpus-wide cosine to a fixed query document's embedding (vec_id==doc_id alignment), both lists truncated to depth {_RRF_DEPTH}, score = sum 1/(K+rank) over an L-bounded full outer join — rank-only fusion never calibrates the two score scales (the paper's robustness claim); posting-list lexical side + one-broadcast-vector dense scan + TakeOrdered ranks keep every stage scale-safe; ranks assigned over rounded scores with doc_id ties so both engines replay the identical permutation",
)
def a0024_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as SIM
    from ..operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", X.tokens("text").alias("toks"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.size("toks")).alias("avgdl")
    )
    dl = base.select("doc_id", F.size("toks").alias("dl"))
    tf = (
        base.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(_RRF_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    denom = F.col("tf") + _RRF_K1 * (1 - _RRF_B + _RRF_B * F.col("dl") / F.col("avgdl"))
    lex = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * (F.col("tf") * (_RRF_K1 + 1)) / denom).alias("c"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("c"), 6).alias("bm25"))
    )
    # TakeOrderedAndProject truncation FIRST (top-DEPTH, never a global
    # sort of the per-doc frame), then rank assignment over the
    # DEPTH-row frame — the a0013 window discipline
    lexrk = (
        lex.orderBy(F.desc("bm25"), "doc_id")
        .limit(_RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id")).alias("r"),
        )
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", SIM.as_double("embedding").alias("v")
    )
    qv = emb.filter(F.col("vec_id") == _RRF_QVEC).select(F.col("v").alias("q"))
    dense = (
        emb.filter(F.col("vec_id") != _RRF_QVEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(SIM.cosine(F.col("v"), F.col("q")), 9).alias("cos"),
        )
    )
    denrk = (
        dense.orderBy(F.desc("cos"), "doc_id")
        .limit(_RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number().over(Window.orderBy(F.desc("cos"), "doc_id")).alias("r"),
        )
    )

    fused = (
        lexrk.withColumnRenamed("r", "lr")
        .join(denrk.withColumnRenamed("r", "dr"), "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lr", F.lit(0)).alias("lex_rank"),
            F.coalesce("dr", F.lit(0)).alias("dense_rank"),
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("lr")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("dr")), F.lit(0.0)),
                9,
            ).alias("rrf"),
        )
    )
    return (
        fused.orderBy(F.desc("rrf"), "doc_id")
        .limit(_RRF_TOP)
        .select(
            "doc_id",
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("dense_rank").cast("long").alias("dense_rank"),
            F.round("rrf", 6).alias("rrf_score"),
        )
    )


# ---------------------------------------------------------------------------
# a0025 — Matryoshka-truncation recall audit (Kusupati et al., NeurIPS
# 2022): how much ANN quality survives when the 64-d embedding is
# truncated to its first p dims (the MRL trick that cuts index size and
# distance FLOPs by 64/p at serving time). For a deterministic bounded
# query set, top-10 by squared L2 over the p-dim prefix is compared to
# the full-width top-10; recall@10 per prefix width is the shipping
# decision number.
#
# Scale shape: the query workload is bounded (vec_id % 73 == 0 below a
# fixed vec_id ceiling, so it does NOT grow with the corpus) and
# broadcast; each (query, prefix) candidate list is a per-partition
# TopK over ONE corpus scan (the prefix widths ride the same scan via a
# posexploded constant array — no re-read per width). Distances are
# 9-dp-rounded before ranking with vec_id ties, so both engines pick
# identical neighbor sets. Production path at 100 TB: the p-dim prefix
# feeds the IVF ladder (q96/a0164) — this audit prices that switch.
# ---------------------------------------------------------------------------

_MRL_PREFIXES = [8, 16, 32, 64]
_MRL_QMOD = 73
_MRL_QCAP = 4096  # workload ceiling: the query set must NOT grow with the corpus
_MRL_TOPK = 10


def _mrl_d2_sql(p: int) -> str:
    return (
        f"ROUND(list_reduce(list_transform(range(1, {p + 1}),"
        " i -> (v[i] - q[i]) * (v[i] - q[i])), (a, b) -> a + b), 9)"
    )


@query(
    "a0025_matryoshka_recall",
    oracle=f"""
    WITH x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    qs AS (SELECT vec_id AS qid, v AS q FROM x
           WHERE vec_id % {_MRL_QMOD} = 0 AND vec_id < {_MRL_QCAP}),
    pd AS (SELECT qs.qid, x.vec_id, p.p,
                  CASE {" ".join(f"WHEN p.p = {p} THEN {_mrl_d2_sql(p)}" for p in _MRL_PREFIXES)}
                  END AS d2
           FROM x JOIN qs ON x.vec_id <> qs.qid
           CROSS JOIN (SELECT unnest([{", ".join(str(p) for p in _MRL_PREFIXES)}]) AS p) p),
    rk AS (SELECT qid, vec_id, p,
                  ROW_NUMBER() OVER (PARTITION BY qid, p ORDER BY d2, vec_id) AS r
           FROM pd),
    top AS (SELECT qid, vec_id, p FROM rk WHERE r <= {_MRL_TOPK}),
    truth AS (SELECT qid, vec_id FROM top WHERE p = {_DIMS}),
    hits AS (SELECT t.p, t.qid, COUNT(*) AS h
             FROM top t JOIN truth USING (qid, vec_id)
             GROUP BY t.p, t.qid)
    SELECT CAST(p AS BIGINT) AS prefix_dims,
           ROUND(AVG(h * 1.0 / {_MRL_TOPK}), 6) AS avg_recall10,
           CAST(COUNT(*) AS BIGINT) AS n_queries
    FROM hits GROUP BY p ORDER BY prefix_dims
    """,
    description=f"Matryoshka-truncation recall audit (Kusupati et al. NeurIPS 2022): top-{_MRL_TOPK} by squared L2 over the first p of {_DIMS} embedding dims (p in {_MRL_PREFIXES}) vs the full-width ground truth, recall@{_MRL_TOPK} averaged over a bounded deterministic query set (vec_id % {_MRL_QMOD} = 0 AND vec_id < {_MRL_QCAP} — the ceiling keeps the workload scale-invariant) — the number that prices truncating an index to 1/8 the FLOPs; one corpus scan carries all prefix widths via a posexploded constant array, queries broadcast, 9-dp-rounded distances with vec_id ties make both engines pick identical neighbor sets",
)
def a0025_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as SIM

    x = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", SIM.as_double("embedding").alias("v")
    )
    qs = x.filter(
        (F.col("vec_id") % _MRL_QMOD == 0) & (F.col("vec_id") < _MRL_QCAP)
    ).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("q")
    )
    pref = F.array([F.lit(p) for p in _MRL_PREFIXES])

    def d2_prefix(p: int):
        return F.round(
            F.aggregate(
                F.zip_with(
                    F.slice("v", 1, p), F.slice("q", 1, p), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ),
            9,
        )

    d2 = F.lit(None).cast("double")
    for p in _MRL_PREFIXES:
        d2 = F.when(F.col("p") == p, d2_prefix(p)).otherwise(d2)
    pd_ = (
        x.join(F.broadcast(qs), F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.explode(pref).alias("p"), "v", "q")
        .select("qid", "vec_id", "p", d2.alias("d2"))
    )
    w = Window.partitionBy("qid", "p").orderBy("d2", "vec_id")
    top = pd_.select("qid", "vec_id", "p", F.row_number().over(w).alias("r")).filter(
        F.col("r") <= _MRL_TOPK
    )
    truth = top.filter(F.col("p") == _DIMS).select("qid", "vec_id")
    hits = top.join(truth, ["qid", "vec_id"]).groupBy("p", "qid").agg(
        F.count(F.lit(1)).alias("h")
    )
    return (
        hits.groupBy(F.col("p").cast("long").alias("prefix_dims"))
        .agg(
            F.round(F.avg(F.col("h") * 1.0 / _MRL_TOPK), 6).alias("avg_recall10"),
            F.count(F.lit(1)).cast("long").alias("n_queries"),
        )
        .orderBy("prefix_dims")
    )


# ---------------------------------------------------------------------------
# a0026 — exact-substring duplicate SPAN profile (Lee et al., ACL 2022
# "Deduplicating Training Data Makes Language Models Better"): the
# sub-document twin of whole-doc dedup — find L-char substrings shared
# across >= 2 distinct documents and merge adjacent duplicated
# positions into maximal spans per document (the islands-and-gaps
# window), reporting per-source how many characters of the corpus are
# inside cross-document duplicated spans. q116 hashes NON-overlapping
# 8-token chunks; this operator samples OVERLAPPING stride-S char
# shingles, so span boundaries land within S chars of the true
# duplicated region instead of at chunk granularity.
#
# Honesty note: stride sampling detects copies whose offsets agree
# mod S (the synthetic corpus duplicates whole texts, offset 0, so the
# guarantee holds); the alignment-robust selection for adversarial
# offsets is winnowing (a0080), which feeds this same span-merge.
# Scale shape: one shingle frame of ~corpus_chars/S rows (S is the
# cost knob), one hash-count aggregate, one semi join back, and a
# per-doc window over duplicated positions only.
# ---------------------------------------------------------------------------

_SPAN_L = 32
_SPAN_S = 8


@query(
    "a0026_repeated_substring_spans",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, text, length(text) AS n FROM documents),
    pos AS (SELECT doc_id, p, md5(substring(text, CAST(p AS INTEGER), {_SPAN_L})) AS h
            FROM d, unnest(generate_series(1, n - {_SPAN_L - 1}, {_SPAN_S})) AS t(p)
            WHERE n >= {_SPAN_L}),
    dup AS (SELECT h FROM pos GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    dp AS (SELECT pos.doc_id, pos.p FROM pos SEMI JOIN dup USING (h)),
    flag AS (SELECT doc_id, p,
                    CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p)
                              <= {_SPAN_L} THEN 0 ELSE 1 END AS new_span
             FROM dp),
    isl AS (SELECT doc_id, p,
                   SUM(new_span) OVER (PARTITION BY doc_id ORDER BY p) AS span_id
            FROM flag),
    spans AS (SELECT doc_id, span_id,
                     MAX(p) + {_SPAN_L} - MIN(p) AS span_chars
              FROM isl GROUP BY doc_id, span_id),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_spans,
                       SUM(span_chars) AS dup_chars
                FROM spans GROUP BY doc_id)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(per_doc.doc_id) AS BIGINT) AS n_docs_flagged,
           CAST(COALESCE(SUM(per_doc.n_spans), 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(SUM(per_doc.dup_chars), 0) AS BIGINT) AS dup_chars,
           ROUND(COALESCE(SUM(per_doc.dup_chars), 0) * 1.0 / SUM(d.n), 6)
             AS dup_char_frac
    FROM d LEFT JOIN per_doc ON per_doc.doc_id = d.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
    description=f"exact-substring duplicate span profile (Lee et al. ACL 2022): {_SPAN_L}-char shingles sampled at stride {_SPAN_S}, shared across >= 2 distinct docs -> adjacent duplicated positions merged into maximal per-doc spans (islands-and-gaps window over duplicated positions only), per-source duplicated-character fraction — the sub-document dedup evidence whole-doc hashing (q40/q41) and non-overlapping chunk hashing (q116) cannot see; stride is the cost knob (~corpus_chars/{_SPAN_S} shingle rows), winnowing (a0080) is the alignment-robust selection for adversarially-offset copies",
)
def a0026_repeated_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", F.length("text").alias("n")
    )
    pos = (
        d.filter(F.col("n") >= _SPAN_L)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"sequence(1, length(text) - {_SPAN_L - 1}, {_SPAN_S})")
            ).alias("p"),
            "text",
        )
        .select("doc_id", "p", F.md5(F.expr(f"substr(text, p, {_SPAN_L})")).alias("h"))
    )
    dup = pos.groupBy("h").agg(F.count_distinct("doc_id").alias("nd")).filter(
        F.col("nd") >= 2
    )
    dp = pos.join(dup.select("h"), "h", "left_semi").select("doc_id", "p")
    wlag = Window.partitionBy("doc_id").orderBy("p")
    flag = dp.select(
        "doc_id",
        "p",
        F.when(F.col("p") - F.lag("p").over(wlag) <= _SPAN_L, 0).otherwise(1).alias(
            "new_span"
        ),
    )
    isl = flag.select(
        "doc_id",
        "p",
        F.sum("new_span").over(wlag.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "span_id"
        ),
    )
    spans = isl.groupBy("doc_id", "span_id").agg(
        (F.max("p") + _SPAN_L - F.min("p")).alias("span_chars")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"), F.sum("span_chars").alias("dup_chars")
    )
    return (
        d.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("n_spans").cast("long").alias("n_docs_flagged"),
            F.coalesce(F.sum("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.sum("dup_chars"), F.lit(0)).cast("long").alias("dup_chars"),
            F.round(
                F.coalesce(F.sum("dup_chars"), F.lit(0)) * 1.0 / F.sum("n"), 6
            ).alias("dup_char_frac"),
        )
        .orderBy("source")
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


# ---------------------------------------------------------------------------
# a0029 — TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
# weighted PageRank over the token co-occurrence graph (adjacent-token
# edges, weight = corpus pair count, vocabulary thresholded at
# _TR_MIN occurrences so the node set is Zipf-bounded). The graph-based
# twin of RAKE (a0079) and TF-IDF keywords (a0085) — TextRank ranks by
# global graph centrality instead of per-doc frequency contrast.
#
# Determinism (the a0013 device, adapted to damping): the iteration
# runs in int64 FIXED-POINT — s0 = 1e6 per node; contribution of edge
# (u,v) is (s_u * w_uv) div W_u (integer floor div on both engines);
# s' = 0.15e6 + (85 * sum_contrib) div 100. Every intermediate is an
# exact integer, immune to float summation order; the float score
# appears only at the output (s / 1e6, identical division on identical
# ints).
# Scale rule (100 TB): vocab and edges are Zipf-bounded by the _TR_MIN
# threshold (raise it with corpus size); each of the K rounds is one
# edge-sized join + one node-sized aggregate.
# ---------------------------------------------------------------------------

_TR_MIN = 5
_TR_ITERS = 6
_TR_SCALE = 1_000_000
_TR_TOP = 20


def _tr_rounds_sql() -> str:
    parts = []
    for k in range(1, _TR_ITERS + 1):
        parts.append(
            f"""
    s{k} AS MATERIALIZED (
      SELECT e.v AS node,
             {_TR_SCALE * 15 // 100} + (85 * SUM((s.s * e.w) // e.wu)) // 100 AS s
      FROM e JOIN s{k - 1} s ON s.node = e.u GROUP BY e.v)"""
        )
    return ",".join(parts)


@query(
    "a0029_textrank_keywords",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    w AS (SELECT doc_id, unnest(toks) AS w FROM base),
    vocab AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w HAVING COUNT(*) >= {_TR_MIN}),
    prs AS (SELECT t.a, t.b FROM (
              SELECT unnest(list_transform(range(1, len(toks)),
                     i -> struct_pack(a := toks[i], b := toks[i + 1]))) AS t
              FROM base) x(t)
            WHERE t.a <> t.b),
    ep AS (SELECT LEAST(a, b) AS a, GREATEST(a, b) AS b, COUNT(*) AS w
           FROM prs
           SEMI JOIN vocab va ON va.w = prs.a
           SEMI JOIN vocab vb ON vb.w = prs.b
           GROUP BY 1, 2),
    esym AS (SELECT a AS u, b AS v, w FROM ep UNION ALL SELECT b, a, w FROM ep),
    wu AS (SELECT u, CAST(SUM(w) AS BIGINT) AS wu FROM esym GROUP BY u),
    e AS MATERIALIZED (SELECT esym.u, esym.v, CAST(esym.w AS BIGINT) AS w, wu.wu
                       FROM esym JOIN wu USING (u)),
    s0 AS (SELECT u AS node, CAST({_TR_SCALE} AS BIGINT) AS s FROM wu),
    {_tr_rounds_sql()}
    SELECT node AS token, ROUND(s * 1.0 / {_TR_SCALE}, 6) AS textrank
    FROM s{_TR_ITERS} ORDER BY s DESC, node LIMIT {_TR_TOP}
    """,
    description=f"TextRank keyword extraction (Mihalcea-Tarau EMNLP 2004): weighted PageRank (d=0.85, {_TR_ITERS} rounds) over the adjacent-token co-occurrence graph, vocabulary Zipf-bounded at >= {_TR_MIN} corpus occurrences; the iteration runs in int64 fixed-point (s0=1e6; contribution = (s*w) div W_u; s' = 0.15e6 + (85*sum) div 100 — the a0013 exact-integer device adapted to damping) so every intermediate is immune to float summation order; the graph-centrality twin of RAKE (a0079) and TF-IDF (a0085) keyword ranking",
)
def a0029_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X

    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.tokens("text").alias("toks")
    )
    wtok = base.select(F.explode("toks").alias("w"))
    vocab = wtok.groupBy("w").agg(F.count("*").alias("c")).filter(
        F.col("c") >= _TR_MIN
    )
    t = F.col("toks")
    adj = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.struct(
            F.element_at(t, i).alias("a"), F.element_at(t, i + 1).alias("b")
        ),
    )
    guarded = F.when(F.size(t) >= 2, adj).otherwise(
        F.array().cast("array<struct<a:string,b:string>>")
    )
    prs = (
        base.select(F.explode(guarded).alias("p"))
        .select("p.a", "p.b")
        .filter(F.col("a") != F.col("b"))
        .join(vocab.select(F.col("w").alias("a")), "a", "left_semi")
        .join(vocab.select(F.col("w").alias("b")), "b", "left_semi")
    )
    ep = prs.groupBy(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).agg(F.count("*").alias("w"))
    esym = ep.select(F.col("a").alias("u"), F.col("b").alias("v"), "w").unionAll(
        ep.select(F.col("b").alias("u"), F.col("a").alias("v"), "w")
    )
    wu = esym.groupBy("u").agg(F.sum("w").cast("long").alias("wu"))
    e = (
        esym.join(wu, "u")
        .select("u", "v", F.col("w").cast("long").alias("w"), "wu")
        .localCheckpoint(eager=False)  # reused every round
    )
    s = wu.select(F.col("u").alias("node"), F.lit(_TR_SCALE).cast("long").alias("s"))
    base_mass = _TR_SCALE * 15 // 100
    for _ in range(_TR_ITERS):
        s = (
            e.join(s.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"), F.expr("(s * w) div wu").alias("c"))
            .groupBy("node")
            .agg(
                (F.lit(base_mass) + F.expr("85 * sum(c) div 100"))
                .cast("long")
                .alias("s")
            )
            .localCheckpoint(eager=False)  # node-sized; caps plan depth
        )
    return (
        s.orderBy(F.desc("s"), "node")
        .limit(_TR_TOP)
        .select(
            F.col("node").alias("token"),
            F.round(F.col("s") * 1.0 / _TR_SCALE, 6).alias("textrank"),
        )
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
    import math

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
# a0032 — Markov-chain removal-effect attribution (Anderl et al. 2016,
# Int. J. Research in Marketing 33(3)): the data-driven successor of
# a0125's first/last-touch heuristics. User journeys (events ordered
# by (ts, event_id), truncated at the first purchase) become a
# first-order chain over {START, click, error, signup, view} with
# absorbing CONV/NULL; a channel's credit is its removal effect
# 1 - P_removed(conv)/P(conv), where removing a channel redirects
# every transition INTO it to NULL (the paper's rule), and shares
# normalize the effects.
#
# Absorption probabilities are the K-step value iteration
# p(s) <- sum_t n_st * val(t) DIV tot_s run in int64 FIXED-POINT
# (SCALE=1e9; val(CONV)=SCALE, val(NULL)=val(removed)=0) — every
# intermediate is an exact integer, and the removal effects / shares
# are ratios of integer differences, so both engines agree bit-for-
# bit before the 6-dp round. The transition matrix is bounded by the
# event-type alphabet (<= 6x7 rows at ANY corpus scale), so the Spark
# side distributes the journey scan + transition aggregate and runs
# the iteration driver-side over the bounded matrix (the a0089
# bounded-summary idiom); the oracle unrolls the identical iteration
# as CTEs.
# Scale rule (100 TB): the only data-proportional stages are the
# per-user ordered window and one grouped count; K and the state
# alphabet are constants.
# ---------------------------------------------------------------------------

_MK_CHANNELS = ["click", "error", "signup", "view"]
_MK_ITERS = 16
_MK_SCALE = 1_000_000_000


def _mk_scenario_sql(suf: str, removed: str | None) -> str:
    """Unrolled K-step value iteration for one removal scenario."""
    rm = f"WHEN tr.t = '{removed}' THEN 0" if removed else ""
    wf = f"AND tr.f <> '{removed}'" if removed else ""
    parts = [
        f"""
    p{suf}0 AS (SELECT f AS st, CAST(0 AS BIGINT) AS p
                FROM tot WHERE 1 = 1 {wf.replace('tr.f', 'f')})"""
    ]
    for k in range(1, _MK_ITERS + 1):
        parts.append(
            f"""
    p{suf}{k} AS MATERIALIZED (
      SELECT tr.f AS st,
             CAST(CAST(SUM(tr.n * CASE WHEN tr.t = 'CONV' THEN {_MK_SCALE}
                                       WHEN tr.t = 'NULL' THEN 0
                                       {rm}
                                       ELSE COALESCE(pv.p, 0) END) AS BIGINT)
                  // tot.n AS BIGINT) AS p
      FROM tr JOIN tot ON tot.f = tr.f
      LEFT JOIN p{suf}{k - 1} pv ON pv.st = tr.t
      WHERE 1 = 1 {wf}
      GROUP BY tr.f, tot.n)"""
        )
    return ",".join(parts)


def _mk_oracle() -> str:
    scen = [("b", None)] + [(c, c) for c in _MK_CHANNELS]
    chains = ",".join(_mk_scenario_sql(s, r) for s, r in scen)
    fin_rows = " UNION ALL ".join(
        f"SELECT '{c}' AS channel, (SELECT p FROM pb{_MK_ITERS} WHERE st = 'START')"
        f" - (SELECT p FROM p{c}{_MK_ITERS} WHERE st = 'START') AS num"
        for c in _MK_CHANNELS
    )
    return f"""
    WITH rked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    pr AS (SELECT user_id, MIN(rn) AS prn FROM rked
           WHERE event_type = 'purchase' GROUP BY user_id),
    j AS (SELECT r.user_id, r.event_type, r.rn
          FROM rked r LEFT JOIN pr ON pr.user_id = r.user_id
          WHERE r.rn <= COALESCE(pr.prn, 9223372036854775807)),
    steps AS (
      SELECT CASE WHEN rn = 1 THEN 'START'
                  ELSE LAG(event_type) OVER (PARTITION BY user_id ORDER BY rn)
             END AS f,
             CASE WHEN event_type = 'purchase' THEN 'CONV'
                  ELSE event_type END AS t,
             user_id, rn
      FROM j),
    lastrow AS (SELECT user_id, MAX(rn) AS mx FROM j GROUP BY user_id),
    nulls AS (SELECT j.event_type AS f, 'NULL' AS t
              FROM j JOIN lastrow ON lastrow.user_id = j.user_id
                                 AND lastrow.mx = j.rn
              WHERE j.event_type <> 'purchase'),
    alltr AS (SELECT f, t FROM steps UNION ALL SELECT f, t FROM nulls),
    tr AS MATERIALIZED (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n
                        FROM alltr GROUP BY f, t),
    tot AS MATERIALIZED (SELECT f, CAST(SUM(n) AS BIGINT) AS n FROM tr GROUP BY f),
    {chains},
    fin AS ({fin_rows}),
    den AS (SELECT CAST(SUM(num) AS BIGINT) AS d FROM fin),
    basep AS (SELECT p FROM pb{_MK_ITERS} WHERE st = 'START')
    SELECT fin.channel,
           ROUND(fin.num * 1.0 / basep.p, 6) AS removal_effect,
           ROUND(fin.num * 1.0 / den.d, 6) AS attribution_share
    FROM fin, den, basep ORDER BY fin.channel
    """


@query(
    "a0032_markov_attribution",
    oracle=_mk_oracle(),
    description=f"Markov-chain removal-effect attribution (Anderl et al. 2016): user journeys (ordered by ts/event_id, truncated at first purchase) -> first-order transition chain over START/channels with absorbing CONV/NULL; channel credit = 1 - P_removed(conv)/P(conv) with into-channel edges redirected to NULL, shares normalized over integer differences; absorption via {_MK_ITERS}-step int64 fixed-point value iteration (SCALE={_MK_SCALE}, per-state SUM(n*val) DIV tot — exact integers end to end); transition matrix bounded by the event-type alphabet, so Spark distributes the journey scan + transition count and iterates driver-side over the bounded matrix (a0089 idiom) while the oracle unrolls the identical iteration as CTEs; the data-driven successor of a0125's first/last-touch",
)
def a0032_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rked = ev.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
    pr = (
        rked.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    j = (
        rked.join(pr, "user_id", "left")
        .filter(F.col("rn") <= F.coalesce("prn", F.lit(2**63 - 1)))
        .localCheckpoint(eager=False)  # journey frame reused 3x
    )
    wj = Window.partitionBy("user_id").orderBy("rn")
    steps = j.select(
        F.when(F.col("rn") == 1, "START")
        .otherwise(F.lag("event_type").over(wj))
        .alias("f"),
        F.when(F.col("event_type") == "purchase", "CONV")
        .otherwise(F.col("event_type"))
        .alias("t"),
    )
    lastrow = j.groupBy("user_id").agg(F.max("rn").alias("mx"))
    nulls = (
        j.join(lastrow, "user_id")
        .filter((F.col("rn") == F.col("mx")) & (F.col("event_type") != "purchase"))
        .select(F.col("event_type").alias("f"), F.lit("NULL").alias("t"))
    )
    tr = (
        steps.unionByName(nulls)
        .groupBy("f", "t")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    )  # bounded by the event-type alphabet: <= 6x7 rows at ANY scale

    edges: dict[str, list[tuple[str, int]]] = {}
    tot: dict[str, int] = {}
    for r in tr:
        edges.setdefault(r["f"], []).append((r["t"], int(r["n"])))
        tot[r["f"]] = tot.get(r["f"], 0) + int(r["n"])

    def absorb(removed: str | None) -> int:
        p = {f: 0 for f in tot if f != removed}
        for _ in range(_MK_ITERS):
            nxt = {}
            for f_state, es in edges.items():
                if f_state == removed:
                    continue
                acc = 0
                for t_state, n in es:
                    if t_state == "CONV":
                        acc += n * _MK_SCALE
                    elif t_state == "NULL" or t_state == removed:
                        pass
                    else:
                        acc += n * p.get(t_state, 0)
                nxt[f_state] = acc // tot[f_state]
            p = nxt
        return p.get("START", 0)

    base = absorb(None)
    nums = {c: base - absorb(c) for c in _MK_CHANNELS}
    den = sum(nums.values())
    rows = [
        (
            c,
            _round_half_up(nums[c] * 1.0 / base, 6),
            _round_half_up(nums[c] * 1.0 / den, 6),
        )
        for c in sorted(_MK_CHANNELS)
    ]
    return spark.createDataFrame(
        rows, "channel string, removal_effect double, attribution_share double"
    )


# ---------------------------------------------------------------------------
# a0033 — pooled MATTR lexical-diversity profile (Covington & McFall
# 2010, J. Quantitative Linguistics 17(2)): plain TTR shrinks
# mechanically with document length (Heaps' law, a0006), so MATTR
# measures type/token ratio inside fixed W-token sliding windows.
# Reported per language as the POOLED (window-weighted) statistic
# sum(distinct-per-window) / (W * n_windows) — a ratio of two integer
# sums, chosen over mean-of-per-doc-means precisely so no float
# summation order exists.
#
# Scale shape: everything before the final per-lang aggregate is
# ROW-LOCAL (token array -> per-doc window distinct counts via array
# lambdas — no explode, no shuffle); the aggregate carries four int64
# columns. W is a resolution constant.
# ---------------------------------------------------------------------------

_MATTR_W = 20


@query(
    "a0033_mattr_lexical",
    oracle=f"""
    WITH t AS (SELECT lang, {_TOKS_SQL} AS toks FROM documents),
    per AS (SELECT lang,
                   len(toks) AS n_tok,
                   len(list_distinct(toks)) AS n_typ,
                   GREATEST(len(toks) - {_MATTR_W - 1}, 0) AS nw,
                   CASE WHEN len(toks) >= {_MATTR_W} THEN
                     list_reduce(list_transform(range(1, len(toks) - {_MATTR_W - 2}),
                       i -> len(list_distinct(toks[i:i+{_MATTR_W - 1}]))),
                       (a, b) -> a + b)
                   ELSE 0 END AS sum_d
            FROM t),
    agg AS (SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN nw > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_windowed,
                   CAST(SUM(nw) AS BIGINT) AS n_windows,
                   CAST(SUM(sum_d) AS BIGINT) AS sum_distinct,
                   CAST(SUM(n_typ) AS BIGINT) AS types,
                   CAST(SUM(n_tok) AS BIGINT) AS tokens
            FROM per GROUP BY lang)
    SELECT lang, n_docs, n_docs_windowed, n_windows,
           ROUND(sum_distinct * 1.0 / ({_MATTR_W} * n_windows), 6) AS pooled_mattr,
           ROUND(types * 1.0 / tokens, 6) AS pooled_ttr
    FROM agg ORDER BY lang
    """,
    description=f"pooled MATTR lexical diversity per language (Covington-McFall 2010, window W={_MATTR_W}, stride 1): type counts inside every sliding token window, reported as the window-weighted ratio sum(distinct)/( W * n_windows ) — two integer sums, so no float summation order exists (vs the length-biased plain TTR, also reported pooled); the entire window computation is row-local array lambdas (no explode, no shuffle), one 4-int-column aggregate per language",
)
def a0033_mattr_lexical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X

    t = load_table(spark, sf_dir, "documents").select(
        "lang", X.tokens("text").alias("toks")
    )
    toks = F.col("toks")
    nw = F.greatest(F.size(toks) - (_MATTR_W - 1), F.lit(0))
    sum_d = F.when(
        F.size(toks) >= _MATTR_W,
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (_MATTR_W - 1)),
                lambda i: F.size(F.array_distinct(F.slice(toks, i, _MATTR_W))),
            ),
            F.lit(0),
            lambda a, b: a + b,
        ),
    ).otherwise(F.lit(0))
    per = t.select(
        "lang",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_typ"),
        nw.alias("nw"),
        sum_d.alias("sum_d"),
    )
    agg = per.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("nw") > 0, 1).otherwise(0)).cast("long").alias(
            "n_docs_windowed"
        ),
        F.sum("nw").cast("long").alias("n_windows"),
        F.sum("sum_d").cast("long").alias("sum_distinct"),
        F.sum("n_typ").cast("long").alias("types"),
        F.sum("n_tok").cast("long").alias("tokens"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_docs_windowed",
        "n_windows",
        F.round(F.col("sum_distinct") * 1.0 / (_MATTR_W * F.col("n_windows")), 6).alias(
            "pooled_mattr"
        ),
        F.round(F.col("types") * 1.0 / F.col("tokens"), 6).alias("pooled_ttr"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# a0034 — Gries' DP term dispersion across corpus parts (Gries 2008,
# Int. J. Corpus Linguistics 13(4)): DP(t) = 1/2 * sum over parts of
# |share of t's occurrences in part i - part i's share of the corpus|.
# 0 = perfectly even (function words), ->1 = concentrated in one part
# (jargon/boilerplate). The PART-conditional dispersion complement of
# a0114's token burstiness (Fano factor = doc-level clumping; DP =
# which SOURCES a term lives in). Parts are the source column.
#
# Determinism: both shares reduce to the common denominator C_t * N,
# so the summand is |c_ti * N - n_i * C_t| — an exact int64 numerator
# summed over the bounded part set; the single division + round
# happens once per term. (At 100 TB move the numerator to
# DECIMAL(38,0) — the oracle's HUGEINT sum already is.)
# Scale shape: one (term, part) aggregate with map-side combine, a
# bounded top-K term frame, a bounded part-size frame, and a K x parts
# grid join (zero-count cells restored by the grid, since a missing
# part contributes |0 - n_i * C_t|).
# ---------------------------------------------------------------------------

_DP_TOPK = 25


@query(
    "a0034_term_dispersion_dp",
    oracle=f"""
    WITH w AS (SELECT source, unnest({_TOKS_SQL}) AS w FROM documents),
    parts AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_i FROM w GROUP BY source),
    nn AS (SELECT CAST(SUM(n_i) AS BIGINT) AS n FROM parts),
    ct AS (SELECT w, source, CAST(COUNT(*) AS BIGINT) AS c FROM w GROUP BY w, source),
    tot AS (SELECT w, CAST(SUM(c) AS BIGINT) AS c_t FROM ct GROUP BY w),
    topk AS (SELECT w, c_t FROM tot ORDER BY c_t DESC, w LIMIT {_DP_TOPK}),
    grid AS (SELECT topk.w, topk.c_t, parts.source, parts.n_i,
                    COALESCE(ct.c, 0) AS c_ti
             FROM topk CROSS JOIN parts
             LEFT JOIN ct ON ct.w = topk.w AND ct.source = parts.source),
    dp AS (SELECT w, c_t,
                  CAST(SUM(ABS(c_ti * nn.n - n_i * c_t)) AS BIGINT) AS num,
                  nn.n AS n
           FROM grid, nn GROUP BY w, c_t, nn.n)
    SELECT w AS term, c_t AS count,
           ROUND(num * 1.0 / (2.0 * c_t * n), 6) AS dp
    FROM dp ORDER BY count DESC, term
    """,
    description=f"Gries' DP dispersion (2008) of the top-{_DP_TOPK} corpus terms across source parts: DP = 1/2 sum_i |term share in part i - part size share|, 0 = even (function words) -> 1 = concentrated (boilerplate/jargon); both shares reduced to the common denominator C_t*N so the summand |c_ti*N - n_i*C_t| is an exact int64 numerator over the bounded part set (one division at the end); the part-conditional complement of a0114's doc-level Fano burstiness; one map-side-combined (term,part) aggregate + bounded top-K x parts grid join restoring zero cells",
)
def a0034_term_dispersion_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X

    w = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(X.tokens("text")).alias("w")
    )
    ct = w.groupBy("w", "source").agg(F.count("*").cast("long").alias("c"))
    parts = ct.groupBy("source").agg(F.sum("c").cast("long").alias("n_i"))
    tot = ct.groupBy("w").agg(F.sum("c").cast("long").alias("c_t"))
    topk = tot.orderBy(F.desc("c_t"), "w").limit(_DP_TOPK)
    nn = parts.agg(F.sum("n_i").cast("long").alias("n"))
    grid = (
        F.broadcast(topk)
        .crossJoin(F.broadcast(parts))
        .join(ct, ["w", "source"], "left")
        .select("w", "c_t", "source", "n_i", F.coalesce("c", F.lit(0)).alias("c_ti"))
    )
    dp = (
        grid.crossJoin(F.broadcast(nn))
        .groupBy("w", "c_t", "n")
        .agg(
            F.sum(F.abs(F.col("c_ti") * F.col("n") - F.col("n_i") * F.col("c_t")))
            .cast("long")
            .alias("num")
        )
    )
    return dp.select(
        F.col("w").alias("term"),
        F.col("c_t").alias("count"),
        F.round(F.col("num") * 1.0 / (2.0 * F.col("c_t") * F.col("n")), 6).alias("dp"),
    ).orderBy(F.desc("count"), "term")


# ---------------------------------------------------------------------------
# a0035 — LSH recall audit against exact-Jaccard ground truth: the
# measured S-curve of the SHIPPED q41 configuration (16 minhashes, 4
# bands x 4 rows, salted cap 64) next to the theoretical collision
# probability 1 - (1 - s^r)^b (Leskovec-Rajaraman-Ullman, MMDS ch. 3).
# Ground truth = ALL shingle-sharing pairs with their exact Jaccard
# (complete: j > 0 requires a shared shingle); per Jaccard decile, the
# fraction of pairs the banded+capped candidate stage surfaces — at
# high deciles that is the RECALL behind the 0.5 operating threshold,
# at the (bimodal corpus's populous) near-zero decile it is the
# candidate-generation COST the banding is supposed to suppress. This is the quality
# evidence for the dedup family's recall claims — near the 0.5
# operating threshold recall should track the S-curve, and the capped
# salting's cost shows up as sub-theory recall inside giant buckets.
#
# Scale shape: the truth stage is the audit's cost (the shared-shingle
# join is the q130 prefix-filter shape); at production scale the audit
# runs on a hash-sampled corpus slice — the estimator is unbiased per
# bin because sampling docs samples pairs uniformly within the slice.
# ---------------------------------------------------------------------------

_LSH_AUDIT_FLOOR = 0.0
# Audit slice: md5 first hex nibble in 0-3 (a deterministic 25% doc
# sample, identical rule in both engines). Sampling docs samples pairs
# uniformly within the slice, so per-bin recall stays unbiased while the
# quadratic truth join shrinks 16x — at sf1.0 the UNSAMPLED join's
# duplicate groups (10x replicas) OOMed a 128 GiB heap; this IS the
# documented production rule, now in code. The slice rate is the 100 TB
# knob (tighten the nibble set as the corpus grows).
_LSH_AUDIT_NIBBLES = ("0", "1", "2", "3")


def _lsh_audit_oracle() -> str:
    from .dedup_text import _TOKS as _TK, _shingles, _sig_list

    return f"""
    WITH t AS (SELECT doc_id, {_TK} AS toks FROM documents
               WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     IN ({", ".join(repr(n) for n in _LSH_AUDIT_NIBBLES)})),
    s AS (SELECT doc_id, {_shingles('toks')} AS sh FROM t),
    s2 AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
    ex AS (SELECT doc_id, unnest(sh) AS g FROM s2),
    tp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id),
    tj AS (SELECT id_a, id_b,
                  len(list_intersect(sa.sh, sb.sh)) * 1.0
                  / len(list_distinct(list_concat(sa.sh, sb.sh))) AS j
           FROM tp JOIN s2 sa ON sa.doc_id = tp.id_a
                   JOIN s2 sb ON sb.doc_id = tp.id_b),
    truth AS (SELECT id_a, id_b,
                     LEAST(CAST(FLOOR(ROUND(j, 6) * 10) AS BIGINT), 9) AS bin
              FROM tj WHERE j >= {_LSH_AUDIT_FLOOR}),
    sig AS (SELECT doc_id, {_sig_list('sh')} AS sig FROM s2),
    bands AS (SELECT doc_id, b,
                     md5(array_to_string(list_slice(sig, 4 * b + 1, 4 * b + 4), '|')) AS bucket
              FROM sig CROSS JOIN range(0, 4) r(b)),
    salted AS (SELECT doc_id, b, bucket,
                      (ROW_NUMBER() OVER (PARTITION BY b, bucket
                           ORDER BY md5(bucket || CAST(doc_id AS VARCHAR)), doc_id) - 1)
                        // 64 AS salt
               FROM bands),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM salted a JOIN salted b
               ON a.b = b.b AND a.bucket = b.bucket AND a.salt = b.salt
                  AND a.doc_id < b.doc_id),
    hits AS (SELECT truth.bin, COUNT(*) AS n_truth,
                    SUM(CASE WHEN cand.id_a IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
             FROM truth LEFT JOIN cand USING (id_a, id_b)
             GROUP BY truth.bin)
    SELECT ROUND(bin * 0.1, 1) AS jaccard_lo,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_hit AS BIGINT) AS n_hit,
           ROUND(n_hit * 1.0 / n_truth, 6) AS recall,
           ROUND(1 - POWER(1 - POWER(bin * 0.1 + 0.05, 4), 4), 6) AS lsh_theory
    FROM hits ORDER BY jaccard_lo
    """


@query(
    "a0035_lsh_recall_audit",
    oracle=_lsh_audit_oracle(),
    description="LSH recall audit of the SHIPPED q41 config (16 minhashes, 4x4 bands, salted cap 64) against exact-Jaccard ground truth on a deterministic md5-nibble 25% audit slice (shared-shingle join — complete within the slice because j>0 requires a shared shingle; doc sampling keeps per-bin recall unbiased and bounds the quadratic truth join): per Jaccard decile over the slice's shingle-sharing pairs, the fraction of true pairs the banded+capped candidate stage surfaces, next to the theoretical S-curve 1-(1-s^4)^4 (MMDS ch.3); the measured recall evidence behind the dedup family's threshold claims — at production scale the audit runs on a hash-sampled slice (unbiased per bin)",
)
def a0035_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    docs = load_table(spark, sf_dir, "documents").filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
            *_LSH_AUDIT_NIBBLES
        )
    )
    gr = D.shingle_rows(docs, "doc_id", "text").withColumnRenamed("shingle", "g")
    sets = gr.groupBy("doc_id").agg(F.collect_set("g").alias("sh"))
    a = gr.alias("a")
    b = gr.hint("merge").alias("b")
    tp = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    sh = sets.hint("merge")
    tj = (
        tp.join(sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("j"),
        )
    )
    truth = tj.filter(F.col("j") >= _LSH_AUDIT_FLOOR).select(
        "id_a",
        "id_b",
        F.least(F.floor(F.round("j", 6) * 10).cast("long"), F.lit(9)).alias("bin"),
    )
    cand = (
        D.salt_buckets(D.minhash_buckets(docs), max_bucket_size=64)
        .alias("ca")
        .join(
            D.salt_buckets(D.minhash_buckets(docs), max_bucket_size=64)
            .hint("merge")
            .alias("cb"),
            (F.col("ca.band") == F.col("cb.band"))
            & (F.col("ca.bucket") == F.col("cb.bucket"))
            & (F.col("ca.salt") == F.col("cb.salt"))
            & (F.col("ca.doc_id") < F.col("cb.doc_id")),
        )
        .select(
            F.col("ca.doc_id").alias("id_a"),
            F.col("cb.doc_id").alias("id_b"),
            F.lit(1).alias("is_cand"),
        )
        .distinct()
    )
    hits = (
        truth.join(cand, ["id_a", "id_b"], "left")
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_truth"),
            F.sum(F.coalesce("is_cand", F.lit(0))).cast("long").alias("n_hit"),
        )
    )
    mid = F.col("bin") * 0.1 + 0.05
    return hits.select(
        F.round(F.col("bin") * 0.1, 1).alias("jaccard_lo"),
        "n_truth",
        "n_hit",
        F.round(F.col("n_hit") * 1.0 / F.col("n_truth"), 6).alias("recall"),
        F.round(1 - F.pow(1 - F.pow(mid, 4), 4), 6).alias("lsh_theory"),
    ).orderBy("jaccard_lo")
