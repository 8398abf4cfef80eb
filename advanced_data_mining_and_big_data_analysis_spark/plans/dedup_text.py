"""Dedup and text-analysis declared queries over the ``documents`` table:
exact, MinHash, SimHash and sorted-neighbourhood dedup, record linkage,
BM25 search, keyword extraction, language models, collocations and the
corpus-statistics laws.

The Spark side uses operators/{text,dedup}.py; the DuckDB oracle is
generated from the SAME primitive definitions (tokenize → shingle → salted
md5 minhash → banded buckets → jaccard verify), so the driver's hash check
pins the full dedup semantics, not just row counts. ``_TOKS`` is the one
DuckDB twin of ``operators.text.tokens``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, Window as W, functions as F

from ..operators import dedup as D, text as X
from ..sources import load_table
from .registry import query


# ---------------------------------------------------------------------------
# DuckDB fragments mirroring operators/text.py primitives
# ---------------------------------------------------------------------------

_TOKS = (
    "list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),"
    " x -> x <> '')"
)


def _shingles(toks: str) -> str:
    return (
        f"list_distinct(CASE WHEN len({toks}) >= 3 THEN "
        f"list_transform(range(1, len({toks}) - 1), i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]) "
        f"ELSE [] END)"
    )


def _sig_list(sh: str, k: int = 16) -> str:
    mins = ", ".join(f"list_min(list_transform({sh}, s -> md5(s || '#{i}')))" for i in range(k))
    return f"[{mins}]"


_FP = f"md5(array_to_string(list_sort(list_distinct({_TOKS})), ' '))"

_SIMHASH = (
    "list_reduce(list_transform(range(0, 16), j -> CASE WHEN "
    f"2 * len(list_filter({_TOKS}, t -> strpos('89abcdef', substr(md5(t), j + 1, 1)) > 0)) "
    f"> len({_TOKS}) THEN (1::BIGINT << j) ELSE 0::BIGINT END), (a, b) -> a + b)"
)


def _stop_hits(toks: str, words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks}, t -> list_contains([{lst}], t)))"


@query(
    "q40_exact_dedup_stats",
    oracle=f"""
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_unique_exact,
           COUNT(DISTINCT {_FP}) AS n_unique_fingerprint
    FROM documents GROUP BY source ORDER BY source
    """,
    description="exact + token-set-fingerprint dedup statistics per source (north-star dedup tier 1-2)",
)
def q40_exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dup_stats(docs, "text", "source").orderBy("source")


def _neardup_ctes(docs_sql: str, cap: int) -> str:
    """CTE body (no WITH keyword) computing verified near-dup candidates
    — shared by the pair query and the recursive clustering query."""
    return f"""
    docs0 AS ({docs_sql}),
    t AS (SELECT doc_id, {_TOKS} AS toks FROM docs0),
    s AS (SELECT doc_id, {_shingles('toks')} AS sh FROM t),
    s2 AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
    sig AS (SELECT doc_id, {_sig_list('sh')} AS sig FROM s2),
    bands AS (SELECT doc_id, b,
                     md5(array_to_string(list_slice(sig, 4 * b + 1, 4 * b + 4), '|')) AS bucket
              FROM sig CROSS JOIN range(0, 4) r(b)),
    salted AS (SELECT doc_id, b, bucket,
                      (ROW_NUMBER() OVER (PARTITION BY b, bucket
                           ORDER BY md5(bucket || CAST(doc_id AS VARCHAR)), doc_id) - 1)
                        // {cap} AS salt
               FROM bands),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM salted a JOIN salted b
               ON a.b = b.b AND a.bucket = b.bucket AND a.salt = b.salt
                  AND a.doc_id < b.doc_id),
    j AS (SELECT id_a, id_b,
                 len(list_intersect(sa.sh, sb.sh)) * 1.0
                 / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
          FROM cand JOIN s2 sa ON sa.doc_id = cand.id_a
                    JOIN s2 sb ON sb.doc_id = cand.id_b),
    verified AS (SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5)
"""


def _neardup_oracle(docs_sql: str, cap: int) -> str:
    """MinHash+LSH near-dup SQL mirroring operators/dedup.py exactly,
    including the salted per-bucket cap (salt = (rank-1) div cap, rank by
    md5(bucket || id) — same deterministic order as salt_buckets)."""
    return f"""
    WITH {_neardup_ctes(docs_sql, cap)}
    SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard
    FROM verified ORDER BY id_a, id_b
"""


@query(
    "q41_minhash_neardup",
    oracle=_neardup_oracle("SELECT doc_id, text FROM documents", 64),
    description="MinHash+LSH near-duplicate pairs (16 hashes, 4 bands, per-bucket cap 64) verified by exact shingle Jaccard (north-star dedup tier 4)",
)
def q41_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.near_dup_pairs(docs, num_hashes=16, bands=4, shingle_n=3, jaccard_threshold=0.5)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).orderBy("id_a", "id_b")


_BOILER = "terms of service privacy policy all rights reserved contact us for details"


@query(
    "a083_neardup_skew_capped",
    oracle=_neardup_oracle(
        f"""SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN '{_BOILER}' ELSE text END AS text
            FROM documents WHERE doc_id <= 400""",
        8,
    ),
    description="adversarial-skew LSH dedup: ~1/3 of docs share one boilerplate text (one giant bucket per band); the salted per-bucket cap (8) bounds candidate generation to O(n*cap) — hash-matched against an oracle modeling the identical salting rule",
)
def a083_neardup_skew_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 400)
    planted = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, F.lit(_BOILER)).otherwise(F.col("text")),
    )
    pairs = D.near_dup_pairs(
        planted, num_hashes=16, bands=4, shingle_n=3, jaccard_threshold=0.5,
        max_bucket_size=8,
        # the doc_id <= 400 filter bounds this frame at ANY corpus scale,
        # so broadcast is the byte-correct join strategy and the q41
        # merge pins (which protect the UNBOUNDED corpus case at sf10)
        # would be pure exchange+sort overhead here
        bounded_input=True,
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).orderBy("id_a", "id_b")


@query(
    "q42_simhash_stats",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT {_SIMHASH}) AS n_distinct_simhash
    FROM documents GROUP BY lang ORDER BY lang
    """,
    description="16-bit SimHash collision statistics per language (north-star dedup tier 3)",
)
def q42_simhash_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_stats(docs, "text", "lang").orderBy("lang")


@query(
    "q43_fingerprint_groups",
    oracle=f"""
    WITH g AS (SELECT {_FP} AS fp, COUNT(*) AS group_size FROM documents GROUP BY fp)
    SELECT group_size, COUNT(*) AS n_groups FROM g GROUP BY group_size ORDER BY group_size
    """,
    description="document-fingerprint duplicate-cluster size histogram",
)
def q43_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    groups = (
        docs.select(X.fingerprint(X.tokens("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("group_size"))
    )
    return groups.groupBy("group_size").agg(F.count(F.lit(1)).alias("n_groups")).orderBy("group_size")


def _lang_predict_sql() -> str:
    ratios = {
        lang: f"(CASE WHEN len(toks) > 0 THEN {_stop_hits('toks', ws)} * 1.0 / len(toks) ELSE 0.0 END)"
        for lang, ws in X.STOPWORDS.items()
    }
    langs = list(X.STOPWORDS)
    case = []
    for lang in langs[:-1]:
        conds = " AND ".join(f"{ratios[lang]} >= {ratios[o]}" for o in langs if o != lang)
        case.append(f"WHEN {conds} THEN '{lang}'")
    chain = f"CASE {' '.join(case)} ELSE '{langs[-1]}' END"
    any_hit = f"GREATEST({', '.join(ratios[lang] for lang in langs)}) > 0"
    return f"CASE WHEN {any_hit} THEN {chain} ELSE 'unknown' END"


@query(
    "q44_lang_id_confusion",
    oracle=f"""
    WITH t AS (SELECT lang AS labeled, {_TOKS} AS toks FROM documents)
    SELECT labeled, {_lang_predict_sql()} AS predicted, COUNT(*) AS n
    FROM t GROUP BY labeled, predicted ORDER BY labeled, predicted
    """,
    description="stopword-profile language-ID vs labeled lang, confusion counts (north-star text analysis)",
)
def q44_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.col("lang").alias("labeled"), X.predict_lang(X.tokens("text")).alias("predicted"))
        .groupBy("labeled", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("labeled", "predicted")
    )


@query(
    "q45_quality_scores",
    oracle=f"""
    WITH t AS (
      SELECT source, text, {_TOKS} AS toks,
             len(text) AS n_char,
             len(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS n_alnum
      FROM documents),
    q AS (
      SELECT source,
             len(toks) AS n_tokens,
             CASE WHEN n_char > 0 THEN (n_char - n_alnum) * 1.0 / n_char ELSE 0.0 END AS punct_ratio,
             CASE WHEN len(toks) > 0
                  THEN list_reduce(list_transform(toks, t -> len(t)), (a, b) -> a + b) * 1.0 / len(toks)
                  ELSE 0.0 END AS avg_token_len
      FROM t),
    s AS (
      SELECT source, n_tokens, punct_ratio,
             (CAST(n_tokens BETWEEN 20 AND 200 AS DOUBLE)
              + CAST(punct_ratio < 0.1 AS DOUBLE)
              + CAST(avg_token_len BETWEEN 3.0 AND 10.0 AS DOUBLE)) / 3.0 AS score
      FROM q)
    SELECT source, COUNT(*) AS n_docs,
           ROUND(AVG(score), 6) AS avg_quality,
           ROUND(AVG(punct_ratio), 6) AS avg_punct_ratio,
           ROUND(AVG(n_tokens), 4) AS avg_tokens
    FROM s GROUP BY source ORDER BY source
    """,
    description="quality scoring: length/punctuation/word-length gates (north-star text analysis)",
)
def q45_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    staged = X.quality_features_staged(docs, "text", keep=("source",))
    return (
        staged.select(
            "source",
            X.quality_score_from(
                F.col("n_tokens"), F.col("punct_ratio"), F.col("avg_token_len")
            ).alias("score"),
            "punct_ratio",
            "n_tokens",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("score"), 6).alias("avg_quality"),
            F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
        .orderBy("source")
    )


@query(
    "q46_token_counts",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
             AS total_bpe_tokens
    FROM documents GROUP BY lang ORDER BY lang
    """,
    description="whitespace vs BPE-ish regex token counting (north-star text analysis)",
)
def q46_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(X.token_count_ws("text").cast("long")).alias("total_ws_tokens"),
            F.sum(X.token_count_bpe_ish("text").cast("long")).alias("total_bpe_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "q47_char_ngram_vocab",
    oracle="""
    WITH n AS (
      SELECT lang,
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g') AS s
      FROM documents),
    g AS (
      SELECT lang, unnest(list_distinct(
               CASE WHEN len(s) >= 3
                    THEN list_transform(range(1, len(s) - 1), i -> substr(s, i, 3))
                    ELSE [] END)) AS gram
      FROM n)
    SELECT lang, COUNT(DISTINCT gram) AS n_distinct_trigrams, COUNT(*) AS n_doc_grams
    FROM g GROUP BY lang ORDER BY lang
    """,
    description="character trigram vocabulary per language (n-gram profile op)",
)
def q47_char_ngram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = X.char_ngram_rows(docs, "doc_id", "text", n=3, extra_cols=("lang",))
    return (
        grams.groupBy("lang")
        .agg(
            F.countDistinct("gram").alias("n_distinct_trigrams"),
            F.count(F.lit(1)).alias("n_doc_grams"),
        )
        .orderBy("lang")
    )


@query(
    "q48_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(list_filter(
               string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
               x -> x <> '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, lang, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, lang, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.lang, tf.term,
             SUM(tf.tf * ln(n.n_docs * 1.0 / df.df)) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
      GROUP BY tf.lang, tf.term),
    ranked AS (
      SELECT lang, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tfidf DESC, term) AS rn
      FROM scored)
    SELECT lang, CAST(rn AS INTEGER) AS rn, term, ROUND(tfidf, 4) AS tfidf
    FROM ranked WHERE rn <= 3 ORDER BY lang, rn
    """,
    description="TF-IDF top terms per language — relational tf/df/idf over token rows, the oracle-checked twin of the MLlib CountVectorizer+IDF pipeline (north-star text analysis)",
)
def q48_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = X.token_rows(docs, "doc_id", "text", extra_cols=("lang",))
    tf = toks.groupBy("doc_id", "lang", F.col("_tok").alias("term")).agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .groupBy("lang", "term")
        .agg(F.sum(F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df"))).alias("tfidf"))
    )
    w = W.partitionBy("lang").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "rn", "term", F.round("tfidf", 4).alias("tfidf"))
        .orderBy("lang", "rn")
    )


def _cluster_ctes(docs_sql: str, cap: int) -> str:
    """CTE body through ``labels`` (id, cluster) — the recursive-CTE twin
    of ``near_dup_clusters``; shared by q88 (histogram) and q90 (survivors)."""
    return f"""{_neardup_ctes(docs_sql, cap)},
    ed AS (SELECT id_a AS a, id_b AS b FROM verified
           UNION SELECT id_b, id_a FROM verified),
    reach(id, label) AS (
      SELECT DISTINCT a, a FROM ed
      UNION
      SELECT ed.a, reach.label FROM ed JOIN reach ON ed.b = reach.id),
    labels AS (SELECT id, MIN(label) AS cluster FROM reach GROUP BY id)"""


@query(
    "a088_neardup_clusters",
    oracle=f"""
    WITH RECURSIVE {_cluster_ctes("SELECT doc_id, text FROM documents", 64)},
    csizes AS (SELECT cluster, COUNT(*) AS cluster_size FROM labels GROUP BY cluster)
    SELECT cluster_size, COUNT(*) AS n_clusters
    FROM csizes GROUP BY cluster_size ORDER BY cluster_size
    """,
    description="near-duplicate CLUSTERING (dedup-group assignment): connected components over the verified LSH pair graph — iterative distributed min-label propagation on the Spark side (GraphX cc recipe in DataFrame form, rounds = component diameter), recursive CTE on the oracle side; output is the dedup-cluster size histogram",
)
def a088_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.near_dup_pairs(docs, num_hashes=16, bands=4, shingle_n=3, jaccard_threshold=0.5)
    labels = D.near_dup_clusters(pairs)
    return (
        labels.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


@query(
    "a090_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_cluster_ctes("SELECT doc_id, text FROM documents", 64)},
    removed AS (SELECT id FROM labels WHERE id <> cluster)
    SELECT d.source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN r.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN r.id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           ROUND(SUM(CASE WHEN r.id IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS pct_kept
    FROM documents d LEFT JOIN removed r ON d.doc_id = r.id
    GROUP BY d.source ORDER BY d.source
    """,
    description="dedup SURVIVOR selection — the last step of the pipeline (pairs -> clusters -> deduped corpus): every near-dup cluster keeps only its canonical min-id member via a left-anti join on the label frame; per-source kept/removed accounting",
)
def a090_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.near_dup_pairs(docs, num_hashes=16, bands=4, shingle_n=3, jaccard_threshold=0.5)
    kept = D.dedup_survivors(docs, pairs)
    total = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    kept_n = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        total.join(kept_n, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_docs") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
            F.round(F.coalesce("n_kept", F.lit(0)) / F.col("n_docs"), 6).alias("pct_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q165 — BM25 ranked retrieval: the lexical side of a hybrid search
# stack (the ANN ladder q50-q56/q164 is the dense side). Okapi BM25
# with the Lucene idf variant: score(D,Q) = sum_t idf(t) * tf*(k1+1) /
# (tf + k1*(1 - b + b*dl/avgdl)), k1=1.2, b=0.75,
# idf = ln((N - df + 0.5)/(df + 0.5) + 1).
#
# Scale shape: the query-term filter lands right after the token
# explode, so only matching (doc, term) rows survive into the tf
# aggregate — the inverted-index shape (posting lists for 3 terms),
# never a corpus-wide term table. df and the (N, avgdl) stats are
# broadcast scalars; the final ranking is one TakeOrdered top-10.
# Both engines build the score with the IDENTICAL expression tree and
# exact-integer tf/dl/df inputs, so doubles agree bit-for-bit before
# the 6-dp output round; ties break by doc_id.
# ---------------------------------------------------------------------------

_BM25_TERMS = ["hash", "join", "vector"]
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_ctes(terms: list[str]) -> str:
    """Oracle CTEs base/stats/dl/tf/df of BM25 over ``terms``; a
    (doc, term) row's contribution is ``_BM25_C_SQL`` over
    ``_BM25_FROM_SQL``. The twin of ``_bm25_contrib``."""
    return f"""base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl FROM base),
    dl AS (SELECT doc_id, len(toks) AS dl FROM base),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest(toks) AS term FROM base)
           WHERE term IN ({", ".join(f"'{t}'" for t in terms)})
           GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)"""


_BM25_C_SQL = f"""ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
               * (tf.tf * ({_BM25_K1} + 1))
               / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))"""
_BM25_FROM_SQL = "tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats"


def _bm25_contrib(docs: DataFrame, terms: list[str]) -> DataFrame:
    """(term, doc_id, tf, c): the Okapi BM25 contribution ``c`` of each
    of ``terms`` to each document holding it. The token explode is
    filtered to ``terms`` at once (posting lists, never a corpus-wide
    term table); df and the (N, avgdl) stats are broadcast. ``c`` is
    the oracle's ``_BM25_C_SQL`` expression tree over exact-integer
    tf/dl/df, so both engines agree bit-for-bit before any rounding."""
    base = docs.select("doc_id", X.tokens("text").alias("toks"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.size("toks")).alias("avgdl")
    )
    dl = base.select("doc_id", F.size("toks").alias("dl"))
    tf = (
        base.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    denom = F.col("tf") + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select("term", "doc_id", "tf", (idf * (F.col("tf") * (_BM25_K1 + 1)) / denom).alias("c"))
    )


@query(
    "a0165_bm25_search",
    oracle=f"""
    WITH {_bm25_ctes(_BM25_TERMS)},
    contrib AS (
      SELECT tf.doc_id,
             {_BM25_C_SQL}
               AS c,
             tf.tf
      FROM {_BM25_FROM_SQL}),
    scored AS (SELECT doc_id, ROUND(SUM(c), 6) AS bm25,
                      CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
                      CAST(SUM(tf) AS BIGINT) AS total_tf
               FROM contrib GROUP BY doc_id)
    SELECT doc_id, bm25, n_terms_matched, total_tf
    FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    description="Okapi BM25 ranked retrieval (k1=1.2, b=0.75, Lucene idf) for a fixed 3-term query — the lexical half of hybrid search next to the dense ANN ladder: token explode filtered to the query terms immediately (posting-list shape, no corpus-wide term table), broadcast df/N/avgdl statistics, one TakeOrdered top-10; exact-integer tf/dl/df feed an identical expression tree on both engines so the 6-dp-rounded scores and doc_id-tie-broken ranking match bit-for-bit",
)
def a0165_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        _bm25_contrib(docs, _BM25_TERMS)
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("c"), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum("tf").alias("total_tf"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q168 — multi-query BM25: the batched-retrieval form of q165 (the same
# generalization q118 is to q50). The query workload is a declared
# (query_id, term) frame, so scoring N queries is ONE pass over the
# corpus: the token explode is filtered to the UNION of all query terms
# (posting lists), then the broadcast query frame fans each posting out
# to the queries that want its term, and a per-query bounded window
# takes top-k. df/N/avgdl are corpus statistics shared across queries.
#
# Scale shape: workload-sized frames (queries, df, stats) broadcast;
# the only data-proportional stages are the single corpus scan and the
# posting-list aggregation; the ranking window is partitioned by
# query_id (bounded by matched docs per query, never a global sort).
# ---------------------------------------------------------------------------

_BM25_WORKLOAD = [
    ("nav01", ["hash", "join"]),
    ("nav02", ["vector", "scan", "dup"]),
    ("nav03", ["stream", "window", "agg"]),
]
_BM25_ALL_TERMS = sorted({t for _, ts in _BM25_WORKLOAD for t in ts})
_BM25_TOPK = 5
_BM25_Q_SQL = ", ".join(
    f"('{qid}', '{t}')" for qid, ts in _BM25_WORKLOAD for t in ts
)


@query(
    "a0168_bm25_multiquery",
    oracle=f"""
    WITH queries(query_id, term) AS (VALUES {_BM25_Q_SQL}),
    {_bm25_ctes(_BM25_ALL_TERMS)},
    contrib AS (
      SELECT q.query_id, tf.doc_id,
             {_BM25_C_SQL}
               AS c,
             tf.tf
      FROM {_BM25_FROM_SQL}
      JOIN queries q ON q.term = tf.term),
    scored AS (SELECT query_id, doc_id, ROUND(SUM(c), 6) AS bm25,
                      CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
                      CAST(SUM(tf) AS BIGINT) AS total_tf
               FROM contrib GROUP BY query_id, doc_id),
    ranked AS (SELECT *, ROW_NUMBER() OVER
                 (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rn
               FROM scored)
    SELECT query_id, CAST(rn AS INT) AS rnk, doc_id, bm25,
           n_terms_matched, total_tf
    FROM ranked WHERE rn <= {_BM25_TOPK}
    ORDER BY query_id, rnk
    """,
    description="batched BM25 retrieval: a (query_id, term) workload frame scored in ONE corpus pass — token explode filtered to the union of all query terms (posting lists), broadcast query frame fans postings out per query, shared corpus df/N/avgdl statistics, per-query top-5 via a query_id-partitioned window; the multi-query generalization of q165 exactly as q118 generalizes q50",
)
def a0168_bm25_multiquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    qframe = spark.createDataFrame(
        [(qid, t) for qid, ts in _BM25_WORKLOAD for t in ts],
        "query_id string, term string",
    )
    contrib = _bm25_contrib(docs, _BM25_ALL_TERMS).join(F.broadcast(qframe), "term")
    wrank = W.partitionBy("query_id").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        contrib.groupBy("query_id", "doc_id")
        .agg(
            F.round(F.sum("c"), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum("tf").alias("total_tf"),
        )
        .withColumn("rnk", F.row_number().over(wrank))
        .filter(F.col("rnk") <= _BM25_TOPK)
        .select("query_id", "rnk", "doc_id", "bm25", "n_terms_matched", "total_tf")
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# a0170 — phrase-query search over POSITIONAL postings: the exact-match
# counterpart of a0168's bag-of-words BM25 (Lucene PhraseQuery /
# "quoted search"). A phrase [t0 t1 ... t_{k-1}] matches doc D at start
# s iff token(s + i) == t_i for every i. Instead of a k-way self-join
# of posting lists, every posting (doc, pos) of phrase term i votes for
# candidate start (pos - i); a start with all k distinct term slots
# voting is a match — ONE aggregation regardless of phrase length.
#
# Scale shape: the positional explode is filtered to the union of all
# phrase vocabularies immediately (posting lists, never a corpus-wide
# position table); the phrase frame is broadcast so the posting stream
# is never shuffled by the join; the start-vote and per-doc aggregates
# are map-side combined; ranking is a per-query bounded window.
# ---------------------------------------------------------------------------

_PHRASES = [
    ("p1", ["table", "table"]),
    ("p2", ["fast", "table"]),
    ("p3", ["group", "value", "sort"]),
    ("p4", ["spark", "window", "batch"]),
]
_PHRASE_TERMS = sorted({t for _, ts in _PHRASES for t in ts})
_PHRASE_TOPK = 5
_PHRASE_SQL = ", ".join(
    f"('{qid}', {i}, '{t}')" for qid, ts in _PHRASES for i, t in enumerate(ts)
)


@query(
    "a0170_phrase_search",
    oracle=f"""
    WITH phrases(query_id, term_idx, term) AS (VALUES {_PHRASE_SQL}),
    plen AS (SELECT query_id, COUNT(*) AS plen FROM phrases GROUP BY query_id),
    base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    post AS (SELECT doc_id, unnest(toks) AS tok,
                    unnest(range(0, len(toks))) AS pos
             FROM base),
    hits AS (SELECT p.query_id, post.doc_id, post.pos - p.term_idx AS start,
                    p.term_idx
             FROM post JOIN phrases p ON post.tok = p.term),
    starts AS (SELECT query_id, doc_id, start,
                      COUNT(DISTINCT term_idx) AS k
               FROM hits GROUP BY query_id, doc_id, start),
    m AS (SELECT s.query_id, s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
          FROM starts s JOIN plen USING (query_id)
          WHERE s.k = plen.plen
          GROUP BY s.query_id, s.doc_id),
    ranked AS (SELECT query_id, doc_id, n_matches,
                      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY n_matches DESC, doc_id) AS INT) AS rnk
               FROM m)
    SELECT query_id, doc_id, n_matches, rnk
    FROM ranked WHERE rnk <= {_PHRASE_TOPK}
    ORDER BY query_id, rnk
    """,
    description="multi-phrase exact search over positional postings (Lucene PhraseQuery shape): each posting of phrase term i votes for candidate start pos-i, a start with all k distinct slots voting is a phrase occurrence — one aggregation regardless of phrase length, no k-way posting self-join; positional explode filtered to the phrase vocabulary immediately, broadcast phrase frame, per-query bounded top-k window; repeated-term phrases (p1) and empty result sets at small SF are exercised",
)
def a0170_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    phrases = spark.createDataFrame(
        [(qid, i, t) for qid, ts in _PHRASES for i, t in enumerate(ts)],
        "query_id string, term_idx int, term string",
    )
    plen = phrases.groupBy("query_id").agg(F.count(F.lit(1)).alias("plen"))
    post = (
        docs.select("doc_id", F.posexplode(X.tokens("text")).alias("pos", "tok"))
        .filter(F.col("tok").isin(_PHRASE_TERMS))
    )
    hits = post.join(F.broadcast(phrases), post.tok == phrases.term).select(
        "query_id", "doc_id", (F.col("pos") - F.col("term_idx")).alias("start"), "term_idx"
    )
    starts = hits.groupBy("query_id", "doc_id", "start").agg(
        F.countDistinct("term_idx").alias("k")
    )
    matches = (
        starts.join(F.broadcast(plen), "query_id")
        .filter(F.col("k") == F.col("plen"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )

    w = Window.partitionBy("query_id").orderBy(F.desc("n_matches"), "doc_id")
    return (
        matches.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _PHRASE_TOPK)
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# q130 — EXACT set-similarity join via prefix filtering (PPJoin-style):
# the deterministic complement to MinHash-LSH (q41, which trades recall
# for speed). Token order: global rarest-first (frequency, shingle);
# for Jaccard >= 0.6 a pair MUST share one of each doc's first
# p = n - ceil(0.6 n) + 1 ordered shingles (prefix-filter theorem), so
# candidates come from a self-join on PREFIX shingles only, then exact
# verification. ceil(0.6 n) is computed as (3n + 4) // 5 in INTEGER
# arithmetic on both engines (0.6 is not binary-exact; a float ceil
# can off-by-one the prefix), and the threshold test is the integer
# cross-multiplication 10*|I| >= 6*|U|, immune to float ties. The
# oracle generates candidates from ANY shared shingle (no prefix) —
# the hash match proves the prefix prune loses no qualifying pair.
# ---------------------------------------------------------------------------

_SIMJOIN_SH_SQL = (
    "list_distinct(CASE WHEN len(toks) >= 5 THEN "
    "list_transform(range(1, len(toks) - 3), i -> "
    "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]) "
    "ELSE [] END)"
)


@query(
    "q130_prefix_filter_simjoin",
    oracle=f"""
    WITH t0 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    t AS (SELECT doc_id, {_SIMJOIN_SH_SQL} AS sh FROM t0),
    tt AS (SELECT doc_id, sh, len(sh) AS n FROM t WHERE len(sh) > 0),
    e AS (SELECT doc_id, unnest(sh) AS g FROM tt),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id),
    v AS (SELECT d1, d2, len(list_intersect(t1.sh, t2.sh)) AS i,
                 t1.n + t2.n - len(list_intersect(t1.sh, t2.sh)) AS u
          FROM cand JOIN tt t1 ON d1 = t1.doc_id JOIN tt t2 ON d2 = t2.doc_id)
    SELECT d1, d2, ROUND(i * 1.0 / u, 6) AS jaccard
    FROM v WHERE 10 * i >= 6 * u
    ORDER BY d1, d2
    """,
    description="EXACT set-similarity join (Jaccard >= 0.6 over distinct 5-gram shingles) via PPJoin-style prefix filtering: rarest-first (global frequency, shingle) ordering, per-doc prefix of n - ceil(0.6n) + 1 shingles, candidates only from prefix-shingle matches, exact verify with integer cross-multiplication (10|I| >= 6|U| — float-tie-proof) and integer prefix length ((3n+4)//5 — 0.6 is not binary-exact); the deterministic complement to MinHash-LSH q41, and the oracle's no-prefix candidate generation proves the prune loses nothing",
)
def q130_prefix_filter_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Per-doc shingle ARRAYS are materialized ONCE behind a
    # localCheckpoint (r11 reshape): the r6 finding that an array
    # formulation was 35x slower came from Catalyst re-inlining the
    # shingle expression at every operator boundary — the checkpoint
    # removes the re-inline, and the array frame is what makes the
    # VERIFY stage scale (see below). Gram rows for the prefix filter
    # explode back out of the checkpointed arrays (one corpus scan
    # total).
    with_t = docs.select("doc_id", X.tokens("text").alias("_toks"))
    # grams via the zip_ngram fast path (arrays_zip of offset slices,
    # flat codegen — an interpreted element-wise lambda here measured
    # 50s vs 2s for the whole tt build at sf0.1), regrouped to arrays
    # once; array order is irrelevant to size/array_intersect
    e0 = X.zip_ngram_rows(with_t, "_toks", 5, "g", ["doc_id"], " ", True)
    tt = (
        e0.groupBy("doc_id")
        .agg(F.collect_list("g").alias("sh"), F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    e = tt.select("doc_id", F.explode("sh").alias("g"))
    nn = tt.select("doc_id", "n")
    freq = e.groupBy("g").agg(F.count("*").alias("f"))

    # rarest-first rank WITHIN each doc (partitioned window — never a
    # global rank over the vocabulary, which grows with the corpus)
    rn = F.row_number().over(Window.partitionBy("doc_id").orderBy("f", "g"))
    p = (F.col("n") - ((3 * F.col("n") + 4) / 5).cast("long") + 1).cast("int")
    # EVERY join side here grows with the corpus (gram rows, the gram-
    # frequency vocabulary, per-doc counts, candidate pairs) — hint
    # "merge" so the STATIC planner never commits to a broadcast off a
    # misestimate; AQE upgrades SMJ->broadcast at runtime when the
    # materialized side is actually small (it is at sf<=1.0), and at
    # sf10 (500k docs, 100x dup groups) the shuffle join is what
    # survives. The r11 first sf10 run OOMed the driver twice on these
    # broadcasts (BENCH_SF10 note).
    prefix = (
        e.join(freq.hint("merge"), "g")
        .withColumn("rn", rn)
        .join(nn.hint("merge"), "doc_id")
        .filter(F.col("rn") <= p)
        .select("doc_id", "g")
    )

    other = prefix.select(F.col("doc_id").alias("d2"), "g")
    cand = (
        prefix.join(other.hint("merge"), "g")
        .filter(F.col("doc_id") < F.col("d2"))
        .select(F.col("doc_id").alias("d1"), "d2")
        .distinct()
    )

    # exact verify: ROW-LOCAL array_intersect against the checkpointed
    # per-doc shingle arrays — the intermediate stays CANDIDATE-PAIR-
    # sized. The r6 shape (gram-key join + count per pair) multiplies
    # every candidate by its ~100 grams before re-collapsing: at sf10
    # (100x-replicated dup groups, ~25M true pairs) that is ~2.5B
    # in-flight rows and exhausted the execution-memory pool
    # (BENCH_SF10 r11 finding — after the first run OOMed the DRIVER
    # on a forced broadcast of the candidate set). NO broadcast hints
    # anywhere: every side is data-grown, so the joins are hinted
    # "merge" and AQE upgrades to broadcast only when the runtime size
    # is actually small.
    t1 = tt.select(
        F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"), F.col("n").alias("n1")
    )
    t2 = tt.select(
        F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"), F.col("n").alias("n2")
    )
    i = F.size(F.array_intersect("sh1", "sh2"))
    v = (
        cand.join(t1.hint("merge"), "d1")
        .join(t2.hint("merge"), "d2")
        .select("d1", "d2", i.alias("i"), (F.col("n1") + F.col("n2") - i).alias("u"))
    )
    return (
        v.filter(10 * F.col("i") >= 6 * F.col("u"))
        .select("d1", "d2", F.round(F.col("i") * 1.0 / F.col("u"), 6).alias("jaccard"))
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# a0134 — sorted-neighborhood dedup. The third classic near-dup family
# next to LSH (q41) and SimHash (q43): sort each block (lang) by a
# cheap proxy key (n_chars, doc_id), compare each record only to its w
# following neighbors. The candidate generator is an EQUALITY join on
# (lang, rank) — each row emits w probe rows at rank+1..rank+w — never
# a non-equi range join, so it shuffles like any hash join and the
# candidate count is exactly w*n regardless of skew. Verification is
# exact token-set Jaccard, computed on the pair rows.
# ---------------------------------------------------------------------------

_SN_W = 2  # neighborhood width


@query(
    "a0134_sorted_neighborhood",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, n_chars, list_distinct({_TOKS}) AS ts FROM documents),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk FROM t),
    p AS (SELECT a.lang,
                 len(list_intersect(a.ts, b.ts)) * 1.0 /
                   NULLIF(len(list_distinct(list_concat(a.ts, b.ts))), 0) AS jac
          FROM r a JOIN r b ON a.lang = b.lang AND b.rk - a.rk IN (1, 2))
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
           ROUND(AVG(jac), 6) AS avg_jaccard
    FROM p GROUP BY lang ORDER BY lang
    """,
    description="sorted-neighborhood near-dup detection (the third classic family next to MinHash-LSH q41 and SimHash q43): per-language blocks sorted by the cheap proxy key (n_chars, doc_id), each record compared only to its w=2 following neighbors — candidates generated by an EQUALITY join on (lang, rank) from w emitted probe rows per record (w*n candidates exactly, hash-join shuffle, never a non-equi range join), verified by exact token-set Jaccard at 0.5",
)
def a0134_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", "n_chars", F.array_distinct(X.tokens("text")).alias("ts")
    )
    r = t.withColumn(
        "rk", F.row_number().over(Window.partitionBy("lang").orderBy("n_chars", "doc_id"))
    )
    probes = r.select(
        "lang",
        F.col("ts").alias("ts_a"),
        F.explode(F.array(*[F.col("rk") + i for i in range(1, _SN_W + 1)])).alias("rk"),
    )
    pairs = probes.join(r.select("lang", "rk", F.col("ts").alias("ts_b")), ["lang", "rk"])
    jac = F.size(F.array_intersect("ts_a", "ts_b")) / F.nullif(
        F.size(F.array_union("ts_a", "ts_b")), F.lit(0)
    )
    p = pairs.select("lang", jac.alias("jac"))
    return (
        p.groupBy("lang")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum((F.col("jac") >= 0.5).cast("long")).alias("n_matches"),
            F.round(F.avg("jac"), 6).alias("avg_jaccard"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# a0135 — interpolated Kneser-Ney bigram language model. The standard
# n-gram smoothing (Chen & Goodman 1999) built entirely relationally:
# absolute discount d=0.75 off every seen bigram, the freed mass
# backed off to the CONTINUATION unigram P_cont(b) = |contexts of b| /
# |bigram types| — the property that makes KN the default smoother.
# Four aggregates off one bigram-count frame (context totals, left
# fan-out, right fan-in, type count), joined back on their keys; every
# shuffle is token-keyed and map-side combined.
# ---------------------------------------------------------------------------

_KN_D = 0.75


@query(
    "a0135_kneser_ney_bigram",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    bg AS (SELECT unnest(list_transform(range(1, len(toks)), i ->
                    struct_pack(a := toks[i], b := toks[i+1]))) AS p
           FROM t WHERE len(toks) >= 2),
    c AS (SELECT p.a AS a, p.b AS b, COUNT(*) AS c_ab FROM bg GROUP BY p.a, p.b),
    ctx AS (SELECT a, CAST(SUM(c_ab) AS DOUBLE) AS c_a, COUNT(*) AS n1p_a FROM c GROUP BY a),
    rb AS (SELECT b, COUNT(*) AS n1p_rb FROM c GROUP BY b),
    tt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_types FROM c),
    k AS (SELECT c.a, c.b, c.c_ab,
                 (c.c_ab - {_KN_D}) / ctx.c_a
                 + {_KN_D} * ctx.n1p_a / ctx.c_a * (rb.n1p_rb / tt.n_types) AS p_kn
          FROM c JOIN ctx ON c.a = ctx.a JOIN rb ON c.b = rb.b CROSS JOIN tt)
    SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab, ROUND(p_kn, 6) AS p_kn
    FROM k ORDER BY c_ab DESC, a, b LIMIT 20
    """,
    description="interpolated Kneser-Ney bigram LM (Chen-Goodman absolute discount d=0.75, continuation-count backoff P_cont(b)=|left contexts of b|/|bigram types| — the default n-gram smoother) built fully relationally: one corpus bigram-count frame, four token-keyed map-side-combined aggregates (context totals, left fan-out, right fan-in, type count) joined back; top-20 bigrams by count with their smoothed probability pinned to 6dp",
)
def a0135_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_t = docs.select(X.tokens("text").alias("_toks"))
    pairs = with_t.select(F.explode(X.ngram_zip("_toks", 2)).alias("_p"))
    c = pairs.groupBy(F.col("_p.g0").alias("a"), F.col("_p.g1").alias("b")).agg(
        F.count("*").alias("c_ab")
    )
    c = c.localCheckpoint(eager=False)  # four consumers; count once
    ctx = c.groupBy("a").agg(
        F.sum("c_ab").cast("double").alias("c_a"), F.count("*").alias("n1p_a")
    )
    rb = c.groupBy("b").agg(F.count("*").alias("n1p_rb"))
    tt = c.agg(F.count("*").cast("double").alias("n_types"))
    k = (
        c.join(ctx, "a")
        .join(rb, "b")
        .crossJoin(F.broadcast(tt))
        .select(
            "a",
            "b",
            "c_ab",
            (
                (F.col("c_ab") - _KN_D) / F.col("c_a")
                + _KN_D
                * F.col("n1p_a")
                / F.col("c_a")
                * (F.col("n1p_rb") / F.col("n_types"))
            ).alias("p_kn"),
        )
    )
    return k.select("a", "b", "c_ab", F.round("p_kn", 6).alias("p_kn")).orderBy(
        F.desc("c_ab"), "a", "b"
    ).limit(20)


# ---------------------------------------------------------------------------
# a0107 (ex-a0180) — entropy profile: per-source character- and token-level
# Shannon entropy plus type-token ratio — the compressibility/
# diversity screen LLM corpus pipelines run next to the Gopher rules
# (low-entropy sources are boilerplate; abnormally high are noise).
# Frequencies via two map-side-combined aggregates over exploded
# chars/tokens; the entropy sums run over the per-source alphabet
# frames (bounded by |alphabet| and |vocab|).
# ---------------------------------------------------------------------------


@query(
    "a0107_entropy_profile",
    oracle=f"""
    WITH ch AS (SELECT source, unnest(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '')) AS c
                FROM documents),
    cc AS (SELECT source, c, COUNT(*) AS n FROM ch GROUP BY source, c),
    cp AS (SELECT source, n, n * 1.0 / SUM(n) OVER (PARTITION BY source) AS p FROM cc),
    ce AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_chars_total,
                  ROUND(-SUM(p * ln(p)), 6) AS char_entropy
           FROM cp GROUP BY source),
    tk AS (SELECT source, unnest({_TOKS}) AS tok FROM documents),
    tc AS (SELECT source, tok, COUNT(*) AS n FROM tk GROUP BY source, tok),
    tp AS (SELECT source, n, n * 1.0 / SUM(n) OVER (PARTITION BY source) AS p FROM tc),
    te AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
                  CAST(COUNT(*) AS BIGINT) AS n_types,
                  ROUND(-SUM(p * ln(p)), 6) AS token_entropy,
                  ROUND(COUNT(*) * 1.0 / SUM(n), 6) AS type_token_ratio
           FROM tp GROUP BY source)
    SELECT ce.source, n_chars_total, char_entropy, n_tokens, n_types, token_entropy,
           type_token_ratio
    FROM ce JOIN te ON ce.source = te.source ORDER BY ce.source
    """,
    description="entropy profile per source: character- and token-level Shannon entropy (-sum p ln p over the per-source alphabet/vocab frequency frames) plus type-token ratio — the compressibility/diversity screen run next to the Gopher rules in corpus QA; two map-side-combined frequency aggregates, entropy windows bounded by alphabet/vocab size per source",
)
def a0107_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ch = docs.select("source", F.explode(F.split(X.normalize("text"), "")).alias("c"))
    cc = ch.groupBy("source", "c").agg(F.count("*").alias("n"))
    wsrc = Window.partitionBy("source")
    p_c = F.col("n") / F.sum("n").over(wsrc)
    ce = (
        cc.select("source", "n", (p_c * F.log(p_c)).alias("plp"))
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_chars_total"),
            F.round(-F.sum("plp"), 6).alias("char_entropy"),
        )
    )
    tk = docs.select("source", F.explode(X.tokens("text")).alias("tok"))
    tc = tk.groupBy("source", "tok").agg(F.count("*").alias("n"))
    p_t = F.col("n") / F.sum("n").over(wsrc)
    te = (
        tc.select("source", "n", (p_t * F.log(p_t)).alias("plp"))
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.round(-F.sum("plp"), 6).alias("token_entropy"),
            F.round(F.count("*") / F.sum("n"), 6).alias("type_token_ratio"),
        )
    )
    return ce.join(te, "source").orderBy("source")


# ---------------------------------------------------------------------------
# a0108 (ex-a0181) — PMI co-occurrence: pointwise mutual information of adjacent
# token pairs, the classic collocation/distributional-semantics score
# (word2vec's implicit factorization target). PMI(a,b) =
# ln(P(ab)/(P(a)P(b))) with bigram P from the pair frame and unigram P
# from the token frame; min-count floor 5 kills the low-count noise
# PMI is notorious for. Ranked by rounded PMI with a full
# deterministic tie-break.
# ---------------------------------------------------------------------------

_PMI_MIN = 5


@query(
    "a0108_pmi_collocations",
    oracle=f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    bg AS (SELECT unnest(list_transform(range(1, len(toks)), i ->
                    struct_pack(a := toks[i], b := toks[i+1]))) AS p
           FROM t WHERE len(toks) >= 2),
    c AS (SELECT p.a AS a, p.b AS b, COUNT(*) AS c_ab FROM bg GROUP BY p.a, p.b),
    nb AS (SELECT CAST(SUM(c_ab) AS DOUBLE) AS n_bi FROM c),
    u AS (SELECT unnest(toks) AS tok FROM t),
    uc AS (SELECT tok, COUNT(*) AS c_tok FROM u GROUP BY tok),
    nu AS (SELECT CAST(SUM(c_tok) AS DOUBLE) AS n_uni FROM uc),
    k AS (SELECT c.a, c.b, c.c_ab,
                 ln((c.c_ab / n_bi) / ((ua.c_tok / n_uni) * (ub.c_tok / n_uni))) AS pmi
          FROM c JOIN uc ua ON c.a = ua.tok JOIN uc ub ON c.b = ub.tok
          CROSS JOIN nb CROSS JOIN nu
          WHERE c.c_ab >= {_PMI_MIN})
    SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab, ROUND(pmi, 6) AS pmi
    FROM k ORDER BY ROUND(pmi, 6) DESC, a, b LIMIT 15
    """,
    description="PMI collocation mining: pointwise mutual information ln(P(ab)/(P(a)P(b))) of adjacent token pairs (bigram P over the pair frame, unigram P over the token frame — word2vec's implicit factorization target), min-count floor 5 against PMI's low-count noise, top-15 by ROUNDED pmi with full deterministic tie-break; token-keyed joins, everything map-side combined",
)
def a0108_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_t = docs.select(X.tokens("text").alias("_toks"))
    pairs = with_t.select(F.explode(X.ngram_zip("_toks", 2)).alias("_p"))
    c = pairs.groupBy(F.col("_p.g0").alias("a"), F.col("_p.g1").alias("b")).agg(
        F.count("*").alias("c_ab")
    )
    c = c.localCheckpoint(eager=False)
    nb = c.agg(F.sum("c_ab").cast("double").alias("n_bi"))
    uc = with_t.select(F.explode("_toks").alias("tok")).groupBy("tok").agg(
        F.count("*").alias("c_tok")
    )
    uc = uc.localCheckpoint(eager=False)
    nu = uc.agg(F.sum("c_tok").cast("double").alias("n_uni"))
    k = (
        c.filter(F.col("c_ab") >= _PMI_MIN)
        .join(F.broadcast(uc.select(F.col("tok").alias("a"), F.col("c_tok").alias("ca"))), "a")
        .join(F.broadcast(uc.select(F.col("tok").alias("b"), F.col("c_tok").alias("cb"))), "b")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
        .select(
            "a",
            "b",
            "c_ab",
            F.log(
                (F.col("c_ab") / F.col("n_bi"))
                / ((F.col("ca") / F.col("n_uni")) * (F.col("cb") / F.col("n_uni")))
            ).alias("pmi"),
        )
    )
    return (
        k.select("a", "b", "c_ab", F.round("pmi", 6).alias("pmi"))
        .orderBy(F.desc("pmi"), "a", "b")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# a0114 (ex-a0187) — token burstiness: Fano factor (variance-to-mean ratio of
# per-document counts, including zeros) and document proportion for the
# highest-frequency tokens. Bursty tokens (Fano >> 1) concentrate in
# few documents — content words; Fano ~ 1 is Poisson-like — function
# words. The zero-document mass enters through the closed form
# var = E[x^2] - mean^2 with moments over ALL docs (sum over docs with
# the token + total doc count), so no dense (doc x token) frame is
# ever built.
# ---------------------------------------------------------------------------


@query(
    "a0114_token_burstiness",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    dt AS (SELECT tok, doc_id, COUNT(*) AS c FROM tok GROUP BY tok, doc_id),
    m AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS total, COUNT(*) AS n_docs_with,
                 SUM(c * c) AS sum_sq
          FROM dt GROUP BY tok),
    f AS (SELECT tok, total, n_docs_with,
                 (sum_sq / n_docs) - (total / n_docs) * (total / n_docs) AS var,
                 total / n_docs AS mean
          FROM m CROSS JOIN nd)
    SELECT tok, total, CAST(n_docs_with AS BIGINT) AS n_docs_with,
           ROUND(var / mean, 6) AS fano,
           ROUND(n_docs_with / (SELECT n_docs FROM nd), 6) AS doc_proportion
    FROM f ORDER BY total DESC, tok LIMIT 15
    """,
    description="token burstiness profile: Fano factor (variance-to-mean of per-document counts INCLUDING zero-docs, via the moment closed form E[x^2]-mean^2 so the dense doc-x-token frame never exists) and document proportion for the top-15 corpus tokens — the content-vs-function-word dispersion screen of lexical statistics; two token-keyed map-side-combined aggregates",
)
def a0114_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nd = docs.agg(F.count("*").cast("double").alias("n_docs"))
    tok = docs.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
    dt = tok.groupBy("tok", "doc_id").agg(F.count("*").alias("c"))
    m = dt.groupBy("tok").agg(
        F.sum("c").alias("total"),
        F.count("*").alias("n_docs_with"),
        F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
    )
    f = m.crossJoin(F.broadcast(nd)).select(
        "tok",
        "total",
        "n_docs_with",
        (
            (F.col("sum_sq") / F.col("n_docs"))
            - (F.col("total") / F.col("n_docs")) * (F.col("total") / F.col("n_docs"))
        ).alias("var"),
        (F.col("total") / F.col("n_docs")).alias("mean"),
        "n_docs",
    )
    return (
        f.select(
            "tok",
            F.col("total").cast("long").alias("total"),
            F.col("n_docs_with").cast("long").alias("n_docs_with"),
            F.round(F.col("var") / F.col("mean"), 6).alias("fano"),
            F.round(F.col("n_docs_with") / F.col("n_docs"), 6).alias("doc_proportion"),
        )
        .orderBy(F.desc("total"), "tok")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# a0115 (ex-a0188) — Monroe et al. weighted log-odds with an informative Dirichlet
# prior: the comparative "what words distinguish corpus A from B"
# statistic that fixes naive log-odds' low-count explosions. Cohorts =
# even- vs odd-numbered sources; prior alpha proportional to the pooled
# corpus frequencies. delta = log-odds difference with smoothed counts,
# z = delta / sqrt(1/(y_a+a) + 1/(y_b+a)).
# ---------------------------------------------------------------------------


@query(
    "a0115_weighted_log_odds",
    oracle=f"""
    WITH t AS (SELECT CAST(substr(source, 4) AS INT) % 2 = 0 AS grp_a, {_TOKS} AS toks
               FROM documents),
    tok AS (SELECT grp_a, unnest(toks) AS tok FROM t),
    c AS (SELECT tok,
                 CAST(SUM(CASE WHEN grp_a THEN 1 ELSE 0 END) AS DOUBLE) AS y_a,
                 CAST(SUM(CASE WHEN grp_a THEN 0 ELSE 1 END) AS DOUBLE) AS y_b
          FROM tok GROUP BY tok),
    n AS (SELECT SUM(y_a) AS n_a, SUM(y_b) AS n_b, SUM(y_a + y_b) AS n_all FROM c),
    z AS (SELECT tok, y_a, y_b,
                 ln((y_a + 0.01 * (y_a + y_b)) / (n_a + 0.01 * n_all - y_a - 0.01 * (y_a + y_b)))
                 - ln((y_b + 0.01 * (y_a + y_b)) / (n_b + 0.01 * n_all - y_b - 0.01 * (y_a + y_b)))
                 AS delta,
                 sqrt(1.0 / (y_a + 0.01 * (y_a + y_b)) + 1.0 / (y_b + 0.01 * (y_a + y_b))) AS sd
          FROM c CROSS JOIN n)
    SELECT tok, CAST(y_a AS BIGINT) AS count_a, CAST(y_b AS BIGINT) AS count_b,
           ROUND(delta / sd, 6) AS z_score
    FROM z ORDER BY ROUND(delta / sd, 6) DESC, tok LIMIT 15
    """,
    description="Monroe et al. weighted log-odds with informative Dirichlet prior (alpha = 0.01 x pooled frequency): the comparative-corpus statistic that fixes naive log-odds' low-count explosion, between even- and odd-numbered source cohorts; z = smoothed delta log-odds / sqrt(1/(y_a+a) + 1/(y_b+a)), top-15 by ROUNDED z with deterministic tie-break — one token-keyed aggregate plus a broadcast totals row",
)
def a0115_weighted_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        (F.substring("source", 4, 10).cast("int") % 2 == 0).alias("grp_a"),
        F.explode(X.tokens("text")).alias("tok"),
    )
    c = t.groupBy("tok").agg(
        F.sum(F.when(F.col("grp_a"), 1).otherwise(0)).cast("double").alias("y_a"),
        F.sum(F.when(F.col("grp_a"), 0).otherwise(1)).cast("double").alias("y_b"),
    )
    n = c.agg(
        F.sum("y_a").alias("n_a"),
        F.sum("y_b").alias("n_b"),
        F.sum(F.col("y_a") + F.col("y_b")).alias("n_all"),
    )
    a_w = 0.01 * (F.col("y_a") + F.col("y_b"))
    delta = F.log(
        (F.col("y_a") + a_w) / (F.col("n_a") + 0.01 * F.col("n_all") - F.col("y_a") - a_w)
    ) - F.log((F.col("y_b") + a_w) / (F.col("n_b") + 0.01 * F.col("n_all") - F.col("y_b") - a_w))
    sd = F.sqrt(1.0 / (F.col("y_a") + a_w) + 1.0 / (F.col("y_b") + a_w))
    z = c.crossJoin(F.broadcast(n)).select(
        "tok",
        F.col("y_a").cast("long").alias("count_a"),
        F.col("y_b").cast("long").alias("count_b"),
        F.round(delta / sd, 6).alias("z_score"),
    )
    return z.orderBy(F.desc("z_score"), "tok").limit(15)


# ---------------------------------------------------------------------------
# a0118 (ex-a0191) — inequality + diversity profile: Gini coefficient of document
# length per source (via the sorted-rank closed form G = 2*sum(i*x_i)/
# (n*sum(x)) - (n+1)/n, one rank window PARTITIONED by source) and
# Simpson diversity of the token distribution (1 - sum p^2, a moment —
# no sort at all). The corpus-balance audit run before mixture
# weighting.
# ---------------------------------------------------------------------------


@query(
    "a0118_gini_diversity",
    oracle=f"""
    WITH r AS (SELECT source, n_chars,
                      ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS i,
                      COUNT(*) OVER (PARTITION BY source) AS n
               FROM documents),
    g AS (SELECT source, ROUND(2.0 * SUM(i * CAST(n_chars AS DOUBLE)) /
                               (MAX(n) * SUM(CAST(n_chars AS DOUBLE)))
                               - (MAX(n) + 1.0) / MAX(n), 6) AS gini_len,
                 CAST(MAX(n) AS BIGINT) AS n_docs
          FROM r GROUP BY source),
    tok AS (SELECT source, unnest({_TOKS}) AS tok FROM documents),
    tc AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok),
    tot AS (SELECT source, CAST(SUM(c) AS DOUBLE) AS n_tok FROM tc GROUP BY source),
    simp AS (SELECT tc.source, ROUND(1.0 - SUM((c / n_tok) * (c / n_tok)), 6) AS simpson
             FROM tc JOIN tot ON tc.source = tot.source GROUP BY tc.source)
    SELECT g.source, n_docs, gini_len, simpson
    FROM g JOIN simp ON g.source = simp.source ORDER BY g.source
    """,
    description="corpus-balance audit per source: Gini coefficient of document length via the sorted-rank closed form 2*sum(i*x_i)/(n*sum x) - (n+1)/n (one rank window PARTITIONED by source) and Simpson diversity 1 - sum p^2 of the token distribution (a pure moment, no sort) — the inequality/diversity screen run before choosing mixture weights",
)
def a0118_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    wsrc = Window.partitionBy("source")
    r = docs.select(
        "source",
        F.col("n_chars").cast("double").alias("x"),
        F.row_number().over(wsrc.orderBy("n_chars", "doc_id")).alias("i"),
        F.count("*").over(wsrc).alias("n"),
    )
    g = r.groupBy("source").agg(
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (F.max("n") * F.sum("x"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini_len"),
        F.max("n").cast("long").alias("n_docs"),
    )
    tc = (
        docs.select("source", F.explode(X.tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    tot = tc.groupBy("source").agg(F.sum("c").cast("double").alias("n_tok"))
    simp = (
        tc.join(tot, "source")
        .groupBy("source")
        .agg(
            F.round(
                1.0 - F.sum((F.col("c") / F.col("n_tok")) * (F.col("c") / F.col("n_tok"))), 6
            ).alias("simpson")
        )
    )
    return g.join(simp, "source").select("source", "n_docs", "gini_len", "simpson").orderBy(
        "source"
    )


# ---------------------------------------------------------------------------
# a0113 (ex-a0186) — containment search (snippet-in-document): the ASYMMETRIC
# similarity |Q ∩ D| / |Q| that quote/passage detection needs where
# Jaccard fails (a 12-token snippet inside a 500-token doc has tiny
# Jaccard but containment ~1). Eval snippets (first 12 tokens of each
# doc_id%97==0 doc) are matched against train docs through a
# gram-keyed equality join — only (snippet, doc) pairs sharing at
# least one 3-gram ever materialize, never the quadratic candidate
# square — and the per-snippet best hit is an argmax via max_by/min
# struct with a full tie-break.
# ---------------------------------------------------------------------------

_CONT_SNIP = 12
_CONT_N = 3


@query(
    "a0113_containment_search",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    snip AS (SELECT doc_id AS snip_id,
                    list_distinct(list_transform(range(1, {_CONT_SNIP - _CONT_N + 2}),
                      i -> array_to_string(list_slice(toks, i, i + {_CONT_N - 1}), ' '))) AS gs
             FROM t WHERE doc_id % 97 = 0 AND len(toks) >= {_CONT_SNIP}),
    sg AS (SELECT snip_id, len(gs) AS n_q, unnest(gs) AS g FROM snip),
    dg AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(range(1, len(toks) - {_CONT_N - 2}),
                    i -> array_to_string(list_slice(toks, i, i + {_CONT_N - 1}), ' ')))) AS g
           FROM t WHERE doc_id % 97 <> 0 AND len(toks) >= {_CONT_N}),
    m AS (SELECT sg.snip_id, dg.doc_id, MAX(sg.n_q) AS n_q, COUNT(*) AS hits
          FROM sg JOIN dg ON sg.g = dg.g GROUP BY sg.snip_id, dg.doc_id),
    r AS (SELECT snip_id, doc_id, n_q, hits,
                 ROW_NUMBER() OVER (PARTITION BY snip_id ORDER BY hits DESC, doc_id) AS rk,
                 COUNT(*) OVER (PARTITION BY snip_id) AS n_candidates
          FROM m),
    best AS (SELECT snip_id, CAST(doc_id AS BIGINT) AS best_doc,
                    hits * 1.0 / n_q AS best_containment, n_candidates
             FROM r WHERE rk = 1)
    SELECT CAST(snip_id AS BIGINT) AS snip_id, best_doc,
           ROUND(best_containment, 6) AS containment,
           CAST(n_candidates AS BIGINT) AS n_candidates
    FROM best ORDER BY snip_id LIMIT 15
    """,
    description="containment search (snippet-in-document): the ASYMMETRIC overlap |Q∩D|/|Q| that quote/passage detection needs where Jaccard fails on short-in-long; 12-token eval snippets' distinct 3-grams matched to train-doc gram sets through a gram-keyed equality join (only pairs sharing a gram materialize — never the quadratic candidate square), per-snippet best hit via argmax with (hits desc, doc_id) tie-break",
)
def a0113_containment_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", X.tokens("text").alias("toks"))
    snip = t.filter((F.col("doc_id") % 97 == 0) & (F.size("toks") >= _CONT_SNIP)).select(
        F.col("doc_id").alias("snip_id"),
        X.ngram_zip(F.slice("toks", 1, _CONT_SNIP), _CONT_N, distinct=True).alias("gs"),
    )
    # grams join as (g0, g1, g2) structs: struct equality == gram equality
    sg = snip.select("snip_id", F.size("gs").alias("n_q"), F.explode("gs").alias("g"))
    dg = t.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", F.explode(X.ngram_zip("toks", _CONT_N, distinct=True)).alias("g")
    )
    m = (
        sg.join(dg, "g")
        .groupBy("snip_id", "doc_id")
        .agg(F.max("n_q").alias("n_q"), F.count("*").alias("hits"))
    )
    best = m.groupBy("snip_id").agg(
        F.min_by("doc_id", F.struct((-F.col("hits")).alias("a"), F.col("doc_id").alias("b")))
        .cast("long")
        .alias("best_doc"),
        F.max(F.col("hits") / F.col("n_q")).alias("best_containment"),
        F.count("*").alias("n_candidates"),
    )
    return (
        best.select(
            F.col("snip_id").cast("long").alias("snip_id"),
            "best_doc",
            F.round("best_containment", 6).alias("containment"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
        )
        .orderBy("snip_id")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# a0127 (ex-a0200) — tokenizer vocabulary coverage audit: given a fixed top-K
# vocabulary (the deployment artifact), measure per source what a real
# tokenizer eval measures — OOV token rate, OOV type rate, covered
# corpus mass, and chars-per-token. The vocab frame is top-K by
# (count desc, token) — deterministic — and broadcasts; the audit is
# one token-keyed left join + per-source aggregate.
# ---------------------------------------------------------------------------

_VOCAB_K = 24


@query(
    "a0127_vocab_coverage",
    oracle=f"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS tok FROM documents),
    vc AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    vocab AS (SELECT tok FROM vc ORDER BY cnt DESC, tok LIMIT {_VOCAB_K}),
    j AS (SELECT t.source, t.tok, v.tok IS NOT NULL AS in_vocab
          FROM tok t LEFT JOIN vocab v ON t.tok = v.tok)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
           ROUND(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) * 1.0 / COUNT(*), 6) AS oov_rate,
           CAST(COUNT(DISTINCT CASE WHEN NOT in_vocab THEN tok END) AS BIGINT) AS n_oov_types,
           ROUND(SUM(CASE WHEN in_vocab THEN LENGTH(tok) ELSE 0 END) * 1.0
                 / NULLIF(SUM(CASE WHEN in_vocab THEN 1 ELSE 0 END), 0), 6) AS chars_per_covered_token
    FROM j GROUP BY source ORDER BY source
    """,
    description="tokenizer vocabulary coverage audit against a fixed deterministic top-K vocab (the deployment artifact): per-source OOV token rate, OOV type count, and chars-per-covered-token — what a tokenizer eval reports before shipping a vocab; top-K frame broadcasts, audit is one token-keyed left join + per-source aggregate",
)
def a0127_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(X.tokens("text")).alias("tok")).localCheckpoint(
        eager=False
    )
    vocab = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(_VOCAB_K)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    j = tok.join(F.broadcast(vocab), "tok", "left").select(
        "source", "tok", F.coalesce("in_vocab", F.lit(False)).alias("in_vocab")
    )
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum((~F.col("in_vocab")).cast("long")).alias("n_oov"),
            F.round(F.sum((~F.col("in_vocab")).cast("long")) / F.count("*"), 6).alias("oov_rate"),
            F.countDistinct(F.when(~F.col("in_vocab"), F.col("tok"))).alias("n_oov_types"),
            F.round(
                F.sum(F.when(F.col("in_vocab"), F.length("tok")).otherwise(0))
                / F.nullif(F.sum(F.col("in_vocab").cast("long")), F.lit(0)),
                6,
            ).alias("chars_per_covered_token"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# a0130 (ex-a0203) — Fellegi-Sunter record-linkage scoring: a deterministically
# dirtied copy of the customer table (name truncated / acctbal nudged /
# segment swapped on modular subsets) is linked back to the clean table
# within nation blocks. Field agreement vectors -> m/u probabilities
# (P(agree | match) / P(agree | non-match), estimated from the
# ground-truth custkey labels; production uses EM, the scoring algebra
# is identical) -> per-pair log2 match weight, with the match/non-match
# separation at threshold 0 pinned. Pairs are block-local (nationkey),
# never a global cross product.
# ---------------------------------------------------------------------------


@query(
    "a0130_fellegi_sunter",
    oracle="""
    WITH dirty AS (
      SELECT c_custkey AS d_key, c_nationkey AS d_nat,
             CASE WHEN c_custkey % 7 = 0 THEN substr(c_name, 1, LENGTH(c_name) - 1)
                  ELSE c_name END AS d_name,
             CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 77.0 ELSE c_acctbal END AS d_bal,
             CASE WHEN c_custkey % 11 = 0 THEN 'SWAPPED' ELSE c_mktsegment END AS d_seg
      FROM customer),
    pairs AS (
      SELECT c.c_custkey = d.d_key AS is_match,
             (c.c_name = d.d_name) AS a_name,
             (FLOOR(c.c_acctbal / 100) = FLOOR(d.d_bal / 100)) AS a_bal,
             (c.c_mktsegment = d.d_seg) AS a_seg
      FROM customer c JOIN dirty d ON c.c_nationkey = d.d_nat),
    mu AS (
      SELECT AVG(CASE WHEN is_match AND a_name THEN 1.0 WHEN is_match THEN 0.0 END) AS m_name,
             AVG(CASE WHEN NOT is_match AND a_name THEN 1.0 WHEN NOT is_match THEN 0.0 END) AS u_name,
             AVG(CASE WHEN is_match AND a_bal THEN 1.0 WHEN is_match THEN 0.0 END) AS m_bal,
             AVG(CASE WHEN NOT is_match AND a_bal THEN 1.0 WHEN NOT is_match THEN 0.0 END) AS u_bal,
             AVG(CASE WHEN is_match AND a_seg THEN 1.0 WHEN is_match THEN 0.0 END) AS m_seg,
             AVG(CASE WHEN NOT is_match AND a_seg THEN 1.0 WHEN NOT is_match THEN 0.0 END) AS u_seg
      FROM pairs),
    eps AS (SELECT 1e-6 AS e FROM (VALUES (1)) v(x)),
    w AS (
      SELECT is_match,
             (CASE WHEN a_name THEN ln(GREATEST(m_name, e) / GREATEST(u_name, e))
                   ELSE ln(GREATEST(1 - m_name, e) / GREATEST(1 - u_name, e)) END
              + CASE WHEN a_bal THEN ln(GREATEST(m_bal, e) / GREATEST(u_bal, e))
                     ELSE ln(GREATEST(1 - m_bal, e) / GREATEST(1 - u_bal, e)) END
              + CASE WHEN a_seg THEN ln(GREATEST(m_seg, e) / GREATEST(u_seg, e))
                     ELSE ln(GREATEST(1 - m_seg, e) / GREATEST(1 - u_seg, e)) END) / ln(2)
                 AS weight
      FROM pairs CROSS JOIN mu CROSS JOIN eps)
    SELECT is_match, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN weight > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_zero,
           ROUND(AVG(weight), 6) AS avg_weight,
           ROUND(MIN(weight), 6) AS min_weight,
           ROUND(MAX(weight), 6) AS max_weight
    FROM w GROUP BY is_match ORDER BY is_match
    """,
    description="Fellegi-Sunter record-linkage scoring: a deterministically dirtied customer copy (name truncation / acctbal nudge / segment swap on modular subsets) linked within nation blocks; per-field agreement vectors -> m/u probabilities (from ground-truth labels; EM in production, identical scoring algebra) -> per-pair log2 match weights, epsilon-floored; match vs non-match weight separation at threshold 0 pinned; candidate pairs are BLOCK-local (nationkey), never a global cross product",
)
def a0130_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    dirty = c.select(
        F.col("c_custkey").alias("d_key"),
        F.col("c_nationkey").alias("d_nat"),
        F.when(
            F.col("c_custkey") % 7 == 0,
            F.expr("substr(c_name, 1, length(c_name) - 1)"),
        )
        .otherwise(F.col("c_name"))
        .alias("d_name"),
        F.when(F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 77.0)
        .otherwise(F.col("c_acctbal"))
        .alias("d_bal"),
        F.when(F.col("c_custkey") % 11 == 0, F.lit("SWAPPED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("d_seg"),
    )
    pairs = c.join(dirty, c["c_nationkey"] == dirty["d_nat"]).select(
        (F.col("c_custkey") == F.col("d_key")).alias("is_match"),
        (F.col("c_name") == F.col("d_name")).alias("a_name"),
        (F.floor(F.col("c_acctbal") / 100) == F.floor(F.col("d_bal") / 100)).alias("a_bal"),
        (F.col("c_mktsegment") == F.col("d_seg")).alias("a_seg"),
    )
    pairs = pairs.localCheckpoint(eager=False)  # m/u estimation + scoring

    def m_u(f: str):
        m = F.avg(
            F.when(F.col("is_match") & F.col(f), 1.0).when(F.col("is_match"), 0.0)
        ).alias(f"m_{f}")
        u = F.avg(
            F.when(~F.col("is_match") & F.col(f), 1.0).when(~F.col("is_match"), 0.0)
        ).alias(f"u_{f}")
        return m, u

    aggs = [x for f in ("a_name", "a_bal", "a_seg") for x in m_u(f)]
    mu = pairs.agg(*aggs)
    e = F.lit(1e-6)

    def w_field(f: str):
        m, u = F.col(f"m_{f}"), F.col(f"u_{f}")
        return F.when(
            F.col(f), F.log(F.greatest(m, e) / F.greatest(u, e))
        ).otherwise(F.log(F.greatest(1 - m, e) / F.greatest(1 - u, e)))

    weight = (w_field("a_name") + w_field("a_bal") + w_field("a_seg")) / F.log(F.lit(2.0))
    w = pairs.crossJoin(F.broadcast(mu)).select("is_match", weight.alias("weight"))
    return (
        w.groupBy("is_match")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum((F.col("weight") > 0).cast("long")).alias("n_above_zero"),
            F.round(F.avg("weight"), 6).alias("avg_weight"),
            F.round(F.min("weight"), 6).alias("min_weight"),
            F.round(F.max("weight"), 6).alias("max_weight"),
        )
        .orderBy("is_match")
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


# Scale rule (100 TB): phrase length cap and stoplist are linguistic
# constants; the only data-sized work is the tokenize + one
# (phrase)-keyed aggregate — vocabulary-bounded after.
@query(
    "a0079_rake_keywords",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE lang = 'en'),
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
      SELECT doc_id, array_to_string({_TOKS}, ' ') AS s FROM documents
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
    WITH d AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
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
# a0005 — Zipf's-law fit over the corpus frequency spectrum: tokens are
# counted once, ranked by (count DESC, token), and the top-R points
# (ln rank, ln count) get an OLS line — slope ~ -s is the Zipf
# exponent, r^2 the fit quality. The spectrum is the first thing a
# training-data curator reads off a new corpus (natural text ~ -1;
# boilerplate/template corpora skew shallow with high r^2 at the head).
# One tokenize + one (token)-keyed aggregate is the only data-sized
# work; the ranked spectrum and the OLS moments are vocabulary-bounded.
# Scale rule (100 TB): R is a fit-window constant (the law is read off
# the head of the spectrum); the vocabulary frame the window ranks is
# corpus-vocabulary-bounded, not N-bounded.
# ---------------------------------------------------------------------------

_ZIPF_R = 1000


@query(
    "a0005_zipf_fit",
    oracle=f"""
    WITH toks AS (SELECT {_TOKS} AS tk FROM documents),
    w AS (SELECT unnest(tk) AS w FROM toks),
    cnt AS (SELECT w, COUNT(*) * 1.0 AS c FROM w GROUP BY w),
    rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r FROM cnt),
    pts AS (SELECT ln(r * 1.0) AS x, ln(c) AS y FROM rk WHERE r <= {_ZIPF_R}),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM w),
    voc AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size FROM cnt),
    m AS (SELECT COUNT(*) * 1.0 AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
          FROM pts)
    SELECT tot.n_tokens, voc.vocab_size, CAST(m.n AS BIGINT) AS n_fit,
           ROUND((m.n * sxy - sx * sy) / (m.n * sxx - sx * sx), 6) + 0.0 AS zipf_slope,
           ROUND((sy - (m.n * sxy - sx * sy) / (m.n * sxx - sx * sx) * sx) / m.n, 6)
             + 0.0 AS zipf_intercept,
           ROUND(POWER(m.n * sxy - sx * sy, 2)
                 / ((m.n * sxx - sx * sx) * (m.n * syy - sy * sy)), 6) + 0.0 AS r2
    FROM m, tot, voc
    """,
    description=f"Zipf's-law fit over the corpus frequency spectrum: one tokenize + one (token)-keyed count, rank by (count DESC, token), OLS of (ln rank, ln count) over the top-{_ZIPF_R} head — slope = Zipf exponent, with r^2 and corpus totals; everything after the count is vocabulary-bounded",
)
def a0005_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = load_table(spark, sf_dir, "documents").select(
        F.explode(X.tokens("text")).alias("w")
    )
    cnt = w.groupBy("w").agg((F.count("*") * 1.0).alias("c")).localCheckpoint(
        eager=False
    )  # vocab-bounded; feeds corpus totals + ranked fit
    # corpus totals folded INTO the plan (r14): a broadcast crossJoin of
    # the 1-row (sum, count) aggregate replaces two separate driver jobs
    # (an agg collect + a count) — the whole query is ONE action and the
    # checkpointed count frame feeds all three subtrees inside it
    tot = cnt.agg(
        F.sum("c").cast("long").alias("_nt"), F.count("*").cast("long").alias("_vs")
    )
    rk = cnt.select(
        "c", F.row_number().over(Window.orderBy(F.desc("c"), "w")).alias("r")
    )
    pts = (
        rk.filter(F.col("r") <= _ZIPF_R)
        .select(F.log(F.col("r") * 1.0).alias("x"), F.log("c").alias("y"))
        .coalesce(1)  # <= R rows; pins the OLS summation order so the sign
        # of a degenerate-fit cancellation residue is deterministic (a0006's
        # -0.0 flake, same shape)
    )
    m = pts.agg(
        (F.count("*") * 1.0).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.crossJoin(F.broadcast(tot)).select(
        F.col("_nt").alias("n_tokens"),
        F.col("_vs").alias("vocab_size"),
        F.col("n").cast("long").alias("n_fit"),
        # + 0.0 normalizes IEEE -0.0 (degenerate-fit residue) to +0.0
        (F.round(slope, 6) + F.lit(0.0)).alias("zipf_slope"),
        (
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6) + F.lit(0.0)
        ).alias("zipf_intercept"),
        (
            F.round(
                F.pow(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"), 2)
                / (
                    (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# a0006 — Heaps'-law vocabulary growth: V(T) ~ K * T^beta, read at ten
# corpus prefixes (docs in doc_id order). A token's contribution to the
# prefix vocabulary is its FIRST-occurrence document, so the whole
# curve comes from two aggregates — per-token MIN(doc_id) and per-doc
# token counts — bucketed into prefix deciles and cumulated over the
# 10-row decile frame; the (K, beta) fit is the same OLS-in-log-space
# as a0005 over 10 points. This is the curve that predicts tokenizer
# vocabulary budgets as a corpus scales.
# Scale rule (100 TB): the decile count is a resolution constant; both
# aggregates are one-pass and everything after is 10 rows.
# ---------------------------------------------------------------------------


@query(
    "a0006_heaps_law",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    nn AS (SELECT COUNT(*) * 1.0 AS nd FROM d),
    dl AS (SELECT CAST(FLOOR(doc_id * 10.0 / nn.nd) AS BIGINT) AS dec,
                  len(tk) AS dlen
           FROM d, nn),
    tokd AS (SELECT CAST(SUM(dlen) AS BIGINT) AS toks FROM dl GROUP BY dec
             ORDER BY dec),
    t_by AS (SELECT dec, CAST(SUM(dlen) AS BIGINT) AS toks
             FROM dl GROUP BY dec),
    fo AS (SELECT w, MIN(doc_id) AS fdoc
           FROM (SELECT doc_id, unnest(tk) AS w FROM d) GROUP BY w),
    v_by AS (SELECT CAST(FLOOR(fdoc * 10.0 / nn.nd) AS BIGINT) AS dec,
                    CAST(COUNT(*) AS BIGINT) AS vnew
             FROM fo, nn GROUP BY 1),
    decs AS (SELECT unnest(generate_series(0, 9)) AS dec),
    cum AS (
      SELECT decs.dec,
             SUM(COALESCE(t_by.toks, 0)) OVER (ORDER BY decs.dec) AS tokens_prefix,
             SUM(COALESCE(v_by.vnew, 0)) OVER (ORDER BY decs.dec) AS vocab_prefix
      FROM decs LEFT JOIN t_by ON t_by.dec = decs.dec
                LEFT JOIN v_by ON v_by.dec = decs.dec),
    m AS (SELECT COUNT(*) * 1.0 AS n,
                 SUM(ln(tokens_prefix * 1.0)) AS sx, SUM(ln(vocab_prefix * 1.0)) AS sy,
                 SUM(ln(tokens_prefix * 1.0) * ln(tokens_prefix * 1.0)) AS sxx,
                 SUM(ln(tokens_prefix * 1.0) * ln(vocab_prefix * 1.0)) AS sxy
          FROM cum)
    SELECT cum.dec AS decile,
           CAST(cum.tokens_prefix AS BIGINT) AS tokens_prefix,
           CAST(cum.vocab_prefix AS BIGINT) AS vocab_prefix,
           ROUND((m.n * sxy - sx * sy) / (m.n * sxx - sx * sx), 6) + 0.0 AS heaps_beta,
           ROUND(exp((sy - (m.n * sxy - sx * sy) / (m.n * sxx - sx * sx) * sx) / m.n), 6)
             + 0.0 AS heaps_k
    FROM cum, m ORDER BY decile
    """,
    description="Heaps'-law vocabulary growth V(T) ~ K*T^beta at ten doc-order corpus prefixes: per-token MIN(doc_id) (first occurrence) + per-doc token counts, bucketed to prefix deciles and cumulated over the 10-row frame; (K, beta) by OLS in log space over the 10 points — the tokenizer-vocabulary budget curve",
)
def a0006_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.tokens("text").alias("tk")
    )
    # doc census folded INTO the plan (r14): the decile denominator rides
    # as a broadcast 1-row COUNT(*) aggregate (the oracle's nn CTE) in
    # both bucketing branches instead of a separate d.count() driver job
    # — the count branch prunes the tokenize column, so it stays a
    # metadata-cheap scan; the whole query is ONE action.
    nn = d.agg((F.count("*") * 1.0).alias("_nd"))
    dl = d.crossJoin(F.broadcast(nn)).select(
        F.floor(F.col("doc_id") * 10.0 / F.col("_nd")).cast("long").alias("dec"),
        F.size("tk").alias("dlen"),
    )
    t_by = dl.groupBy("dec").agg(F.sum("dlen").cast("long").alias("toks"))
    fo = (
        d.select("doc_id", F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("fdoc"))
    )
    v_by = fo.crossJoin(F.broadcast(nn)).groupBy(
        F.floor(F.col("fdoc") * 10.0 / F.col("_nd")).cast("long").alias("dec")
    ).agg(F.count("*").cast("long").alias("vnew"))
    decs = spark.range(10).select(F.col("id").cast("long").alias("dec"))
    wcum = Window.orderBy("dec")
    cum = (
        decs.join(t_by, "dec", "left")
        .join(v_by, "dec", "left")
        .select(
            "dec",
            F.sum(F.coalesce(F.col("toks"), F.lit(0))).over(wcum).alias("tokens_prefix"),
            F.sum(F.coalesce(F.col("vnew"), F.lit(0))).over(wcum).alias("vocab_prefix"),
        )
        .coalesce(1)  # pin the 10-row fit input to ONE partition: the OLS
        # sums below are ~1e-14 cancellation residues at degenerate scales
        # (sf0.001: vocab_prefix constant), and their SIGN depends on float
        # summation order — one partition makes the order deterministic.
        .localCheckpoint(eager=False)  # 10 rows; fit + output reuse it
    )
    lx = F.log(F.col("tokens_prefix") * 1.0)
    ly = F.log(F.col("vocab_prefix") * 1.0)
    m = cum.agg(
        (F.count("*") * 1.0).alias("n"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * lx).alias("sxx"),
        F.sum(lx * ly).alias("sxy"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        cum.crossJoin(F.broadcast(m))
        .select(
            F.col("dec").alias("decile"),
            F.col("tokens_prefix").cast("long").alias("tokens_prefix"),
            F.col("vocab_prefix").cast("long").alias("vocab_prefix"),
            # + 0.0 after the round: IEEE -0.0 + 0.0 = +0.0, so a degenerate
            # fit (beta mathematically 0, float residue ~ -1e-14) can never
            # hash as "-0.0" against the oracle's "+0.0".
            (F.round(beta, 6) + F.lit(0.0)).alias("heaps_beta"),
            (
                F.round(F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n")), 6)
                + F.lit(0.0)
            ).alias("heaps_k"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# a0007 — Burrows' Delta stylometry between language sub-corpora (the
# authorship-attribution statistic, Burrows 2002): the F most frequent
# tokens corpus-wide are the "function words"; each language's relative
# frequency per 1000 tokens z-scores against the cross-language
# mean/std per word, and Delta(a, b) is the mean |z_a - z_b| over the F
# words — the distance a curator reads to see which sources share
# register/template. One tokenize + one (lang, token) aggregate is the
# only data-sized work; the function-word list is a bounded TakeOrdered
# collect and every later frame is |langs| x F.
# Scale rule (100 TB): F is a stylometric constant (classically
# 30-150); frames after the corpus aggregate are |langs| x F whatever
# the corpus.
# ---------------------------------------------------------------------------

_DELTA_F = 15


@query(
    "a0007_stylometry_delta",
    oracle=f"""
    WITH d AS (SELECT lang, {_TOKS} AS tk FROM documents),
    g AS (SELECT lang, w, COUNT(*) * 1.0 AS c
          FROM (SELECT lang, unnest(tk) AS w FROM d) GROUP BY 1, 2),
    tot AS (SELECT lang, SUM(c) AS t FROM g GROUP BY lang),
    topw AS (SELECT w FROM (SELECT w, SUM(c) AS cw FROM g GROUP BY w
                            ORDER BY cw DESC, w LIMIT {_DELTA_F})),
    dense AS (
      SELECT tot.lang, topw.w, COALESCE(g.c, 0.0) / tot.t * 1000.0 AS f
      FROM tot CROSS JOIN topw
      LEFT JOIN g ON g.lang = tot.lang AND g.w = topw.w),
    zz AS (
      SELECT lang, w,
             CASE WHEN SQRT(AVG(f * f) OVER (PARTITION BY w)
                            - AVG(f) OVER (PARTITION BY w) * AVG(f) OVER (PARTITION BY w)) > 0
                  THEN ROUND((f - AVG(f) OVER (PARTITION BY w))
                             / SQRT(AVG(f * f) OVER (PARTITION BY w)
                                    - AVG(f) OVER (PARTITION BY w) * AVG(f) OVER (PARTITION BY w)), 6)
                  ELSE 0.0 END AS z
      FROM dense)
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           ROUND(AVG(ABS(a.z - b.z)), 6) AS delta
    FROM zz a JOIN zz b ON a.w = b.w AND a.lang < b.lang
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    description=f"Burrows' Delta stylometric distance between language sub-corpora: top-{_DELTA_F} corpus-wide tokens as function words (bounded TakeOrdered), per-lang relative frequency per 1000 tokens densified over langs x words, z-scored against the cross-lang mean/population-std per word (rounded 6), Delta = mean |z_a - z_b| per language pair — one tokenize + one (lang, token) aggregate, everything after is |langs| x F",
)
def a0007_stylometry_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load_table(spark, sf_dir, "documents")
        .select("lang", F.explode(X.tokens("text")).alias("w"))
        .groupBy("lang", "w")
        .agg((F.count("*") * 1.0).alias("c"))
        .localCheckpoint(eager=False)  # feeds totals, top words, and freqs
    )
    tot = g.groupBy("lang").agg(F.sum("c").alias("t"))
    topw = (
        g.groupBy("w")
        .agg(F.sum("c").alias("cw"))
        .orderBy(F.desc("cw"), "w")
        .limit(_DELTA_F)
        .select("w")
    )
    dense = (
        tot.crossJoin(F.broadcast(topw))
        .join(g, ["lang", "w"], "left")
        .select(
            "lang", "w", (F.coalesce(F.col("c"), F.lit(0.0)) / F.col("t") * 1000.0).alias("f")
        )
    )
    ww = Window.partitionBy("w")
    sd = F.sqrt(
        F.avg(F.col("f") * F.col("f")).over(ww)
        - F.avg("f").over(ww) * F.avg("f").over(ww)
    )
    zz = dense.select(
        "lang",
        "w",
        F.when(sd > 0, F.round((F.col("f") - F.avg("f").over(ww)) / sd, 6))
        .otherwise(0.0)
        .alias("z"),
    )
    a = zz.select(F.col("lang").alias("lang_a"), "w", F.col("z").alias("za"))
    b = zz.select(F.col("lang").alias("lang_b"), "w", F.col("z").alias("zb"))
    return (
        a.join(b, "w")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.round(F.avg(F.abs(F.col("za") - F.col("zb"))), 6).alias("delta"))
        .orderBy("lang_a", "lang_b")
    )


# ---------------------------------------------------------------------------
# a0009 — PMI collocations (pointwise mutual information over adjacent
# bigrams, the collocation-mining statistic behind phrase detection in
# embedding pipelines): PMI(w1, w2) = ln(p(w1,w2) / (p(w1) p(w2))) with
# bigram probabilities over the bigram count and unigram probabilities
# over the token count, a minimum pair count against low-frequency
# noise, top-K by (rounded PMI, w1, w2). Bigram emission is row-local
# (a doc's adjacent pairs come from its own token array); the two
# aggregates are the only data-sized stages and the ranked frame is
# bigram-vocabulary-bounded. Both engines spell the PMI argument as ONE
# product expression so the only float divergence is the shared ln.
# Scale rule (100 TB): the min-count floor is the knob that bounds the
# ranked frame; emission and aggregation are one-pass whatever the
# corpus.
# ---------------------------------------------------------------------------

_PMI_TOP = 20  # pair-count floor: _PMI_MIN, shared with a0108


@query(
    "a0009_pmi_collocations",
    oracle=f"""
    WITH d AS (SELECT {_TOKS} AS tk FROM documents),
    bi AS (
      SELECT tk[i] AS w1, tk[i + 1] AS w2
      FROM d, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i)),
    c12 AS (SELECT w1, w2, COUNT(*) * 1.0 AS c FROM bi GROUP BY 1, 2),
    uni AS (SELECT w, COUNT(*) * 1.0 AS c FROM (SELECT unnest(tk) AS w FROM d) GROUP BY w),
    nn AS (SELECT SUM(c) AS n FROM uni),
    n2 AS (SELECT SUM(c) AS n2 FROM c12)
    SELECT w1, w2, CAST(c12.c AS BIGINT) AS pair_count,
           ROUND(ln(c12.c * nn.n * nn.n / (n2.n2 * u1.c * u2.c)), 6) AS pmi
    FROM c12, nn, n2
    JOIN uni u1 ON u1.w = c12.w1
    JOIN uni u2 ON u2.w = c12.w2
    WHERE c12.c >= {_PMI_MIN}
    ORDER BY pmi DESC, w1, w2 LIMIT {_PMI_TOP}
    """,
    description=f"PMI collocations over adjacent bigrams: row-local bigram emission from each doc's token array, one bigram-keyed and one token-keyed aggregate, PMI = ln(c12*N*N/(N2*c1*c2)) spelled as one product expression on both engines, pair count >= {_PMI_MIN}, top-{_PMI_TOP} by (rounded PMI, w1, w2) via TakeOrdered — the phrase-detection statistic for embedding pipelines",
)
def a0009_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        X.tokens("text").alias("tk")
    ).localCheckpoint(eager=False)  # one tokenize feeds bigram + unigram passes
    bi = d.select(F.explode(X.ngram_zip("tk", 2)).alias("p")).select(
        F.col("p.g0").alias("w1"), F.col("p.g1").alias("w2")
    )
    c12 = bi.groupBy("w1", "w2").agg((F.count("*") * 1.0).alias("c"))
    uni = (
        d.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg((F.count("*") * 1.0).alias("cu"))
        .localCheckpoint(eager=False)  # vocab-bounded; joined twice
    )
    # corpus totals folded INTO the plan (r14): N (token count) and N2
    # (bigram count) ride as one broadcast crossJoin of the two 1-row
    # sums (the oracle's nn/n2 CTEs) instead of two separate driver
    # collect jobs — the whole query is ONE action; the PMI argument
    # keeps the identical operand order (c * n * n / (n2 * c1 * c2))
    nn = uni.agg(F.sum("cu").alias("_n")).crossJoin(c12.agg(F.sum("c").alias("_n2")))
    u1 = uni.select(F.col("w").alias("w1"), F.col("cu").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cu").alias("c2"))
    return (
        c12.filter(F.col("c") >= _PMI_MIN)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(nn))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("pair_count"),
            F.round(
                F.log(
                    F.col("c") * F.col("_n") * F.col("_n")
                    / (F.col("_n2") * F.col("c1") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(_PMI_TOP)
    )


# ---------------------------------------------------------------------------
# a0011 — n-gram novelty decay (the memorization/duplication curve a
# curator reads before deciding how hard to dedup): for each document
# in doc_id order, the share of its distinct word 3-grams whose FIRST
# corpus occurrence is that document; aggregated per corpus decile.
# A clean corpus decays slowly (novelty stays high); a template-heavy
# or replicated corpus collapses toward 0 — this is the statistic that
# quantifies what q40/q41/q116 then remove. Two data-sized stages: the
# per-doc distinct-shingle explode and one (shingle)-keyed MIN(doc_id);
# novelty = (shingles first seen here) / (distinct shingles), both
# countable from the same aggregate, then a 10-row decile rollup.
# Scale rule (100 TB): the decile count and the gram width n are
# resolution constants; both passes are one-shuffle aggregates.
# ---------------------------------------------------------------------------

_NOV_N = 3


@query(
    "a0011_ngram_novelty_decay",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    nn AS (SELECT COUNT(*) * 1.0 AS nd FROM d),
    sh AS (
      SELECT DISTINCT doc_id,
             tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS g
      FROM d, LATERAL (SELECT unnest(generate_series(1, len(tk) - {_NOV_N - 1})) AS i)),
    fo AS (SELECT g, MIN(doc_id) AS fdoc FROM sh GROUP BY g),
    per_doc AS (
      SELECT sh.doc_id,
             COUNT(*) * 1.0 AS n_grams,
             SUM(CASE WHEN fo.fdoc = sh.doc_id THEN 1 ELSE 0 END) * 1.0 AS n_novel
      FROM sh JOIN fo ON fo.g = sh.g
      GROUP BY sh.doc_id)
    SELECT CAST(FLOOR(doc_id * 10.0 / nn.nd) AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS n_grams,
           CAST(SUM(n_novel) AS BIGINT) AS n_novel,
           ROUND(SUM(n_novel) / SUM(n_grams), 6) AS novelty
    FROM per_doc, nn
    GROUP BY 1 ORDER BY 1
    """,
    description=f"n-gram novelty decay: per document (doc_id order), the share of its distinct word {_NOV_N}-grams first seen in that document (MIN(doc_id) per shingle), rolled up per corpus decile — the memorization/duplication curve that quantifies what the dedup ladder then removes; two one-shuffle aggregates, 10-row output",
)
def a0011_ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.tokens("text").alias("tk")
    )
    # doc census folded INTO the plan (r14, the a0006 reshape): the
    # decile denominator rides as a broadcast 1-row COUNT(*) (the
    # oracle's nn CTE) instead of a separate d.count() driver job
    nn = d.agg((F.count("*") * 1.0).alias("_nd"))
    # checkpointed: the first-occurrence and per-doc passes both read it
    sh = X.zip_ngram_rows(d, "tk", _NOV_N, "g", ["doc_id"], " ", True).localCheckpoint(eager=False)
    fo = sh.groupBy("g").agg(F.min("doc_id").alias("fdoc"))
    per_doc = (
        sh.join(fo.hint("merge"), "g")  # data-grown both sides: pin SMJ, let AQE upgrade
        .groupBy("doc_id")
        .agg(
            (F.count("*") * 1.0).alias("n_grams"),
            F.sum((F.col("fdoc") == F.col("doc_id")).cast("int") * 1.0).alias("n_novel"),
        )
    )
    return (
        per_doc.crossJoin(F.broadcast(nn))
        .groupBy(F.floor(F.col("doc_id") * 10.0 / F.col("_nd")).cast("long").alias("decile"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_grams").cast("long").alias("n_grams"),
            F.sum("n_novel").cast("long").alias("n_novel"),
            F.round(F.sum("n_novel") / F.sum("n_grams"), 6).alias("novelty"),
        )
        .orderBy("decile")
    )


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
    WITH toks AS (SELECT source, unnest({_TOKS}) AS w FROM documents),
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
             list_reduce(list_transform({_TOKS},
               tk -> GREATEST(1, len(regexp_extract_all(tk, '[aeiouy]+')))),
               (a, b) -> a + b) AS syl,
             len({_TOKS}) AS w,
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
    WITH t AS (SELECT doc_id, source, {_TOKS} AS tk FROM documents),
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
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", X.tokens("text").alias("tk")
    )
    # the exploded gram frame feeds BOTH the df count and the join-back —
    # materialize the tokenize+shingle+explode once (the a095/a0085
    # single-tokenize lesson; sf1.0 A/B: 12.2 -> 7.9 s warm, 1.49x same-run DuckDB)
    g = X.zip_ngram_rows(t, "tk", 3, "gr", ["doc_id", "source"], " ", True).localCheckpoint(
        eager=False
    )
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
    WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
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
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.tokens("text").alias("toks")
    )
    wtok = base.select(F.explode("toks").alias("w"))
    vocab = wtok.groupBy("w").agg(F.count("*").alias("c")).filter(
        F.col("c") >= _TR_MIN
    )
    prs = (
        base.select(F.explode(X.ngram_zip("toks", 2)).alias("p"))
        .select(F.col("p.g0").alias("a"), F.col("p.g1").alias("b"))
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
    WITH t AS (SELECT lang, {_TOKS} AS toks FROM documents),
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
    WITH w AS (SELECT source, unnest({_TOKS}) AS w FROM documents),
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
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents
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
    WITH t AS (SELECT unnest({_TOKS}) AS tok FROM documents),
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
_EVAL_DEPTH = 10
_EVAL_TITLE = 30

_EVAL_TERM_ROWS = ", ".join(
    f"({qid}, '{t}')" for qid, ts in sorted(_EVAL_QUERIES.items()) for t in ts
)


@query(
    "a0047_ndcg_eval",
    oracle=f"""
    WITH qt AS (SELECT * FROM (VALUES {_EVAL_TERM_ROWS}) v(qid, term)),
    base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
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
                * (tf.tf * ({_BM25_K1} + 1))
                / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))), 6) AS bm25
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
    qt = spark.createDataFrame(
        [(qid, t) for qid, ts in sorted(_EVAL_QUERIES.items()) for t in ts],
        "qid int, term string",
    )
    docs = load_table(spark, sf_dir, "documents")
    rel = (
        docs.select("doc_id", F.explode(F.slice(X.tokens("text"), 1, _EVAL_TITLE)).alias("tok"))
        .join(F.broadcast(qt), F.col("term") == F.col("tok"))
        .groupBy("qid", "doc_id")
        .agg(F.count_distinct("term").alias("rel"))
    )
    all_terms = sorted({t for ts in _EVAL_QUERIES.values() for t in ts})
    score = (
        _bm25_contrib(docs, all_terms)
        .join(F.broadcast(qt), "term")
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
