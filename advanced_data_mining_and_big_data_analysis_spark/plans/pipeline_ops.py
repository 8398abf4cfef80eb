"""Training-data pipeline declared queries: PII scrubbing, repetition
filters, decontamination, mixture sampling, splits, packing, tokenizer
training, quality scoring and the sketches the curation steps use, plus the
storage-layout audits (z-order and Hilbert layouts, row groups, zone maps,
compaction and partition planning).

These are the corpus-preparation steps downstream of dedup and quality
scoring in an LLM data pipeline. Every op is pure Column-expression /
relational Spark with a DuckDB oracle re-deriving the identical rule, so
the driver hash pins the rule itself (regex, hash threshold, window
arithmetic), not just row counts.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window, Window as W, functions as F

from ..operators import dedup as D, text as X
from ..operators.text import pack_assignments
from ..sources import load_table
from .dedup_text import _TOKS, _shingles, _sig_list
from .registry import query
from .sources import _mirror_dir


# ---------------------------------------------------------------------------
# q91 — PII redaction. The synthetic corpus has no organic PII, so the
# query PLANTS a deterministic payload on every 5th doc (mirrored in the
# oracle) and then proves the scrub: per-kind match counts before, zero
# residual matches after.
# ---------------------------------------------------------------------------

_PII_TAIL = "@example.com or call 555-0122 visit https://example.com/a"


def _pii_len_sql(col: str, kind: str) -> str:
    return f"len(regexp_extract_all({col}, '{X.PII_PATTERNS[kind]}'))"


_SCRUBBED = (
    "regexp_replace(regexp_replace(regexp_replace(text,"
    f" '{X.PII_PATTERNS['email']}', '<EMAIL>', 'g'),"
    f" '{X.PII_PATTERNS['url']}', '<URL>', 'g'),"
    f" '{X.PII_PATTERNS['phone']}', '<PHONE>', 'g')"
)


@query(
    "a091_pii_scrub",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 5 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '{_PII_TAIL}'
                       || CAST(doc_id AS VARCHAR)
                  ELSE text END AS text
      FROM documents),
    m AS (
      SELECT source,
             {_pii_len_sql('text', 'email')} AS n_email,
             {_pii_len_sql('text', 'url')} AS n_url,
             {_pii_len_sql('text', 'phone')} AS n_phone,
             {_pii_len_sql(_SCRUBBED, 'email')} + {_pii_len_sql(_SCRUBBED, 'url')}
               + {_pii_len_sql(_SCRUBBED, 'phone')} AS n_residual
      FROM planted)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_email + n_url + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_with_pii,
           CAST(SUM(n_email) AS BIGINT) AS total_emails,
           CAST(SUM(n_url) AS BIGINT) AS total_urls,
           CAST(SUM(n_phone) AS BIGINT) AS total_phones,
           CAST(SUM(n_residual) AS BIGINT) AS residual_matches
    FROM m GROUP BY source ORDER BY source
    """,
    description="PII redaction (pre-training scrub): plant a deterministic email/phone/URL payload on every 5th doc, count per-kind matches, scrub via chained regexp_replace, and prove zero residual matches — the regex rules themselves are hash-pinned by the oracle",
)
def a091_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit(_PII_TAIL),
                F.col("doc_id").cast("string"),
            ),
        ).otherwise(F.col("text")),
    )
    before = X.pii_counts("text")
    after = X.pii_counts(X.scrub_pii("text"))
    m = planted.select(
        "source",
        before["email"].alias("n_email"),
        before["url"].alias("n_url"),
        before["phone"].alias("n_phone"),
        (after["email"] + after["url"] + after["phone"]).alias("n_residual"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(((F.col("n_email") + F.col("n_url") + F.col("n_phone")) > 0).cast("long")).alias(
                "n_docs_with_pii"
            ),
            F.sum("n_email").cast("long").alias("total_emails"),
            F.sum("n_url").cast("long").alias("total_urls"),
            F.sum("n_phone").cast("long").alias("total_phones"),
            F.sum("n_residual").cast("long").alias("residual_matches"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q92 — Gopher repetition signals.
# ---------------------------------------------------------------------------


@query(
    "a092_repetition_signals",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    bg AS (SELECT doc_id, lang,
                  unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram
           FROM t WHERE len(toks) >= 2),
    c AS (SELECT doc_id, lang, gram, COUNT(*) AS cnt FROM bg GROUP BY doc_id, lang, gram),
    d AS (SELECT doc_id, lang,
                 MAX(cnt) * 1.0 / SUM(cnt) AS top_ngram_frac,
                 1.0 - COUNT(*) * 1.0 / SUM(cnt) AS dup_ngram_frac
          FROM c GROUP BY doc_id, lang)
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(AVG(top_ngram_frac), 6) AS avg_top_bigram_frac,
           ROUND(AVG(dup_ngram_frac), 6) AS avg_dup_bigram_frac,
           CAST(SUM(CASE WHEN top_ngram_frac > 0.06 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM d GROUP BY lang ORDER BY lang
    """,
    description="Gopher-style repetition filter signals: per-doc top-bigram fraction and duplicate-bigram fraction (counts via gram-as-rows partial aggregates, no per-doc multiset in memory), rolled up per language with a 0.06 repetition flag threshold",
)
def a092_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rep = X.repetition_features(docs, n=2, extra_cols=("lang",))
    return (
        rep.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("top_ngram_frac"), 6).alias("avg_top_bigram_frac"),
            F.round(F.avg("dup_ngram_frac"), 6).alias("avg_dup_bigram_frac"),
            F.sum((F.col("top_ngram_frac") > 0.06).cast("long")).alias("n_flagged"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q93 — deterministic data-mixture sampling. Target doc counts per source;
# rate = min(1, target/available) derived FROM the data; selection is a
# hash-threshold Bernoulli (first 6 md5 hex chars < rate threshold) so the
# same doc is always kept or dropped regardless of cluster size or epoch.
# ---------------------------------------------------------------------------

_MIX_SPEC: list[tuple[str, int]] = [("src1", 5), ("src2", 15), ("src3", 1_000_000)]


@query(
    "a093_mixture_sample",
    oracle=f"""
    WITH spec AS (SELECT * FROM (VALUES {", ".join(f"('{s}', {t})" for s, t in _MIX_SPEC)})
                  s(source, n_target)),
    avail AS (SELECT source, COUNT(*) AS n_available FROM documents GROUP BY source),
    r AS (SELECT spec.source, n_target, n_available,
                 LEAST(1.0, n_target * 1.0 / n_available) AS rate
          FROM spec JOIN avail USING (source)),
    sel AS (SELECT d.source, COUNT(*) AS n_selected
            FROM documents d JOIN r ON d.source = r.source
            WHERE r.rate >= 1.0
               OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)
                  < lower(lpad(hex(CAST(floor(r.rate * 16777216) AS BIGINT)), 6, '0'))
            GROUP BY d.source)
    SELECT r.source, n_available, CAST(n_target AS BIGINT) AS n_target,
           COALESCE(n_selected, 0) AS n_selected, ROUND(rate, 6) AS sample_rate
    FROM r LEFT JOIN sel ON r.source = sel.source ORDER BY r.source
    """,
    description="training-data mixture sampling: per-source target doc counts -> self-derived keep rates (min(1, target/available), broadcast back to the fact) -> deterministic hash-threshold Bernoulli selection (md5 prefix vs hex threshold), epoch- and partitioning-stable; covers undersample, heavy sample, and keep-all branches",
)
def a093_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # literal dim as a plan-only inline table (no Python->RDD conversion job)
    targets = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(s).alias("source"), F.lit(t).cast("long").alias("n_target"))
                    for s, t in _MIX_SPEC
                ]
            )
        ).alias("kv")
    ).select("kv.*")
    avail = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_available"))
    rates = avail.join(F.broadcast(targets), "source").withColumn(
        "rate", F.least(F.lit(1.0), F.col("n_target") / F.col("n_available"))
    )
    thresh = F.lower(
        F.lpad(F.hex(F.floor(F.col("rate") * 16777216).cast("long")), 6, "0")
    )
    selected = (
        docs.join(F.broadcast(rates), "source")
        .filter(
            (F.col("rate") >= 1.0)
            | (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6) < thresh)
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_selected"))
    )
    return (
        rates.join(selected, "source", "left")
        .select(
            "source",
            "n_available",
            "n_target",
            F.coalesce("n_selected", F.lit(0)).alias("n_selected"),
            F.round("rate", 6).alias("sample_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q95 — unigram language-model scoring: the relational analog of the
# CCNet/C4 perplexity filter. The LM is trained ON the corpus itself
# (token -> corpus probability), each doc scored by mean negative log
# probability; outliers (high NLL = statistically unusual token mix) are
# flagged. Both the "training" and scoring are two shuffles on the token
# key — no model object, the LM IS a DataFrame.
# ---------------------------------------------------------------------------


@query(
    "a095_unigram_logprob",
    oracle=f"""
    WITH tok AS (SELECT doc_id, source, unnest({_TOKS}) AS tok FROM documents),
    vocab AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    n AS (SELECT COUNT(*) AS total FROM tok),
    d AS (SELECT doc_id, source, -SUM(ln(cnt * 1.0 / total)) / COUNT(*) AS nll
          FROM tok JOIN vocab USING (tok) CROSS JOIN n GROUP BY doc_id, source)
    SELECT source, COUNT(*) AS n_docs,
           ROUND(AVG(nll), 6) AS avg_nll,
           ROUND(MAX(nll), 6) AS max_nll,
           CAST(SUM(CASE WHEN nll > 3.42 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM d GROUP BY source ORDER BY source
    """,
    description="unigram LM scoring (relational CCNet/C4 perplexity-filter analog): corpus token probabilities as a DataFrame 'model', per-doc mean negative log-likelihood via a token-key join, per-source rollup with an outlier flag at NLL > 3.42 (~p90)",
)
def a095_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # The exploded token stream feeds BOTH the vocab build and the probe
    # join; checkpointed, the tokenize+explode runs ONCE and both
    # consumers read the materialized rows (r10 A/B: 0.98 -> 0.83 s warm
    # at sf0.1; a second tokenize pass was the residual data cost).
    # At cluster scale this is a shard-local materialization of (id,
    # source, tok) rows — linear in corpus tokens, no shuffle.
    tok = (
        X.token_rows(docs, "doc_id", "text", extra_cols=("source",))
        .select("doc_id", "source", F.col("_tok").alias("tok"))
        .localCheckpoint(eager=False)
    )
    # Heaps-law sublinear vocabulary frame; checkpointed so the corpus
    # tokenize+explode runs ONCE (the probe side re-reads the raw docs,
    # but the vocab build and the corpus total both come from here —
    # without it the token stream is materialized three times).
    vocab = (
        tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")).localCheckpoint(eager=False)
    )
    # corpus token total = sum over the vocab — no second corpus scan
    n = vocab.agg(F.sum("cnt").alias("total"))
    # broadcast the vocab (VERDICT r3 scale note): the token key is
    # Zipf-skewed, so a shuffle join would move EVERY corpus token row on
    # a skewed key; the vocab itself is Heaps-law sublinear (|V| ~ N^0.5,
    # and map-side-combined before it ever shuffles), so broadcasting it
    # keeps the corpus side shuffle-free until the well-distributed
    # per-doc aggregate. For adversarial token namespaces that outgrow a
    # broadcast, cap the vocab at top-K + an OOV smoothing bucket (the
    # standard CCNet/C4 config) or fall back to the salted join
    # (operators/joins.py:salted_join).
    d = (
        tok.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id", "source")
        .agg((-F.sum(F.log(F.col("cnt") * 1.0 / F.col("total"))) / F.count(F.lit(1))).alias("nll"))
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
            F.round(F.max("nll"), 6).alias("max_nll"),
            F.sum((F.col("nll") > 3.42).cast("long")).alias("n_flagged"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q103 — deterministic weighted sampling (Efraimidis-Spirakis A-ES).
# ---------------------------------------------------------------------------


@query(
    "q103_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ln((CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) + 0.5)
                / 16777216.0) / n_chars AS _skey
      FROM documents),
    top AS (SELECT * FROM keyed ORDER BY _skey DESC, doc_id LIMIT 20)
    SELECT doc_id, source, n_chars, ROUND(_skey * 1000, 6) AS skey_x1000
    FROM top ORDER BY doc_id
    """,
    description="deterministic weighted sampling without replacement (Efraimidis-Spirakis A-ES): rank by ln(hash-u)/weight, take the k largest — weight-proportional, reproducible across engines/epochs/cluster sizes, one TakeOrdered pass; the oracle re-derives the identical key so membership AND key values are pinned",
)
def q103_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.enrich import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    top = weighted_sample(docs, weight_col="n_chars", k=20, id_col="doc_id")
    return top.select(
        "doc_id", "source", "n_chars", F.round(F.col("_skey") * 1000, 6).alias("skey_x1000")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q94 — context-window chunking (sequence packing prep).
# ---------------------------------------------------------------------------


@query(
    "a094_chunk_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    st AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 24)) AS start
           FROM t WHERE len(toks) > 0),
    c AS (SELECT CAST((start - 1) // 24 + 1 AS INTEGER) AS chunk_idx,
                 len(list_slice(toks, start, start + 31)) AS chunk_len,
                 md5(array_to_string(list_slice(toks, start, start + 31), ' ')) AS chunk_hash
          FROM st)
    SELECT chunk_idx, COUNT(*) AS n_chunks,
           COUNT(DISTINCT chunk_hash) AS n_distinct_chunks,
           ROUND(AVG(chunk_len), 4) AS avg_chunk_len
    FROM c GROUP BY chunk_idx ORDER BY chunk_idx
    """,
    description="context-window chunking for training-data prep: overlapping 32-token windows at stride 24 via sequence+explode+slice (pure per-row flat-map, zero shuffles before the final rollup); chunk distinctness is counted on a 64-bit xxhash of the window array (no per-chunk digest or window string materialized; the oracle re-derives distinctness from md5 of the raw window string, pinning the window arithmetic)",
)
def a094_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chunks = X.chunk_rows(docs, width=32, stride=24)
    # Explicit two-level aggregate instead of countDistinct in the
    # rollup: a mixed distinct/non-distinct agg plans an Expand (every
    # input row duplicated per aggregate path) plus an extra exchange;
    # pre-aggregating on (chunk_idx, chunk_hash) keeps both shuffles
    # map-side combined and the second one input-distinct-sized
    # (~20% faster at sf0.1, same answers by construction).
    per_hash = chunks.groupBy("chunk_idx", "chunk_hash").agg(
        F.count(F.lit(1)).alias("c"), F.sum("chunk_len").alias("sl")
    )
    return (
        per_hash.groupBy("chunk_idx")
        .agg(
            F.sum("c").alias("n_chunks"),
            F.count(F.lit(1)).alias("n_distinct_chunks"),
            F.round(F.sum("sl") / F.sum("c"), 4).alias("avg_chunk_len"),
        )
        .orderBy("chunk_idx")
    )


# ---------------------------------------------------------------------------
# q116 — cross-document duplicated-passage detection: the RefinedWeb /
# CCNet sub-document dedup step. Whole-doc dedup (q40/q41) misses
# boilerplate passages shared between otherwise-distinct documents;
# here every non-overlapping 8-token window is content-hashed (64-bit
# xxhash64 of the window array — 8-byte shuffle keys, no digest cost)
# and a passage is flagged when it appears in >= 2 DISTINCT docs. Two
# shuffles on the passage-hash key (count + mark-back), both map-side
# combined — the canonical shape at corpus scale; the flagged-hash set
# is bounded by the volume of actually-duplicated content.
# ---------------------------------------------------------------------------

_PSG_W = 8  # non-overlapping passage window (width == stride)


@query(
    "q116_duplicated_passages",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    st AS (SELECT doc_id, source, toks,
                  unnest(range(1, len(toks) + 1, {_PSG_W})) AS start
           FROM t WHERE len(toks) > 0),
    c AS (SELECT doc_id, source,
                 md5(array_to_string(list_slice(toks, start, start + {_PSG_W - 1}), ' ')) AS h
          FROM st),
    d AS (SELECT h FROM c GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    f AS (SELECT source, doc_id,
                 CASE WHEN h IN (SELECT h FROM d) THEN 1 ELSE 0 END AS is_dup
          FROM c)
    SELECT source, COUNT(*) AS n_passages,
           CAST(SUM(is_dup) AS BIGINT) AS n_dup_passages,
           ROUND(SUM(is_dup) * 1.0 / COUNT(*), 6) AS dup_frac,
           COUNT(DISTINCT CASE WHEN is_dup = 1 THEN doc_id END) AS n_docs_affected
    FROM f GROUP BY source ORDER BY source
    """,
    description="cross-document duplicated-passage detection (RefinedWeb/CCNet sub-document dedup): non-overlapping 8-token windows content-hashed via the q94 chunker; a passage is duplicated when its hash spans >= 2 distinct docs; per-source passage counts, duplicated fraction, and affected-doc counts — catches shared boilerplate that whole-doc dedup (q40/q41) cannot see",
)
def q116_duplicated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    # ONE shuffle on the passage hash and NO join: a passage spans >= 2
    # distinct docs iff min(doc_id) != max(doc_id) within its hash
    # partition, so the duplicate flag is a pair of bounded window
    # aggregates over the single chunk_hash exchange. r5's shape
    # shuffled the passage frame twice (count aggregate + mark-back
    # join) and re-ran the chunk flat-map for each branch; min/max are
    # constant-memory per group (unlike a collect_set), so the window
    # is skew-safe at corpus scale.
    pas = X.chunk_rows(docs, width=_PSG_W, stride=_PSG_W, extra_cols=("source",))
    w = W.partitionBy("chunk_hash")
    marked = pas.select(
        "source",
        "doc_id",
        (F.min("doc_id").over(w) != F.max("doc_id").over(w)).cast("int").alias("is_dup"),
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum("is_dup").alias("n_dup_passages"),
            F.round(F.sum("is_dup") / F.count(F.lit(1)), 6).alias("dup_frac"),
            F.countDistinct(F.when(F.col("is_dup") == 1, F.col("doc_id"))).alias(
                "n_docs_affected"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# a0178 — bigram-LM perplexity scoring, the conditional upgrade of
# a095's unigram filter (CCNet scores documents with a Kneser-Ney LM;
# this is the same pipeline shape with add-k smoothing so both engines
# can rebuild the model exactly). The "model" is two DataFrames derived
# from ONE bigram pass: bigram counts and their left-marginals; scoring
# is a broadcast join of the corpus bigram stream against them.
# P(w2|w1) = (c(w1,w2) + 0.5) / (c1(w1) + 0.5*V), V = bigram-observed
# vocab. Docs with <2 tokens have no bigrams and drop out of the doc
# frame in BOTH engines (inner join semantics, documented).
# ---------------------------------------------------------------------------

_BG_NLL_FLAG = 3.42  # ~p90 of per-doc bigram NLL at the test SFs


@query(
    "a0178_bigram_perplexity",
    oracle=f"""
    WITH tok AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    bg AS (SELECT doc_id, source,
                  toks[CAST(pos AS INT)] AS w1, toks[CAST(pos AS INT) + 1] AS w2
           FROM (SELECT doc_id, source, toks,
                        unnest(range(1, len(toks))) AS pos FROM tok)),
    bc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2),
    lm AS (SELECT w1, SUM(cb) AS cnt1 FROM bc GROUP BY w1),
    v AS (SELECT COUNT(*) AS vsz
          FROM (SELECT w1 AS t FROM bc UNION SELECT w2 FROM bc)),
    d AS (SELECT doc_id, source,
                 -SUM(ln((cb + 0.5) / (cnt1 + 0.5 * vsz))) / COUNT(*) AS nll
          FROM bg JOIN bc USING (w1, w2) JOIN lm USING (w1) CROSS JOIN v
          GROUP BY doc_id, source)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(nll), 6) AS avg_nll,
           ROUND(MAX(nll), 6) AS max_nll,
           CAST(SUM(CASE WHEN nll > {_BG_NLL_FLAG} THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM d GROUP BY source ORDER BY source
    """,
    description="bigram-LM perplexity filter (conditional upgrade of a095's unigram CCNet analog): add-k smoothed P(w2|w1) with the bigram table and its left-marginals as broadcast model frames — both derived from ONE bigram pass (the marginal is a rollup of the count frame, never a second corpus scan); per-doc mean negative log-likelihood, per-source rollup with an outlier flag; scale note: Zipf-skewed bigram keys make a shuffle join the wrong default — broadcast the Heaps-sublinear model, cap at top-K + OOV bucket when the bigram vocab outgrows it (the CCNet config), or salt (operators/joins.py)",
)
def a0178_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "source", X.tokens("text").alias("_t"))
    bg = t.select("doc_id", "source", F.explode(X.ngram_zip("_t", 2)).alias("_p")).select(
        "doc_id", "source", F.col("_p.g0").alias("w1"), F.col("_p.g1").alias("w2")
    )
    # one bigram pass builds the count frame; marginals and the vocab
    # size are rollups of it (localCheckpoint: three consumers)
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb")).localCheckpoint(eager=False)
    lm = bc.groupBy("w1").agg(F.sum("cb").alias("cnt1"))
    v = (
        bc.select(F.col("w1").alias("t"))
        .union(bc.select(F.col("w2").alias("t")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("vsz"))
    )
    d = (
        bg.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(lm), "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id", "source")
        .agg(
            (
                -F.sum(
                    F.log((F.col("cb") + 0.5) / (F.col("cnt1") + 0.5 * F.col("vsz")))
                )
                / F.count(F.lit(1))
            ).alias("nll")
        )
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
            F.round(F.max("nll"), 6).alias("max_nll"),
            F.sum((F.col("nll") > _BG_NLL_FLAG).cast("long")).alias("n_flagged"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q105 — benchmark decontamination. src0 plays the held-out benchmark;
# every training doc is scored by the fraction of its distinct 3-gram
# shingles that appear anywhere in the benchmark (the n-gram-overlap
# decontamination rule used for pre-training corpora, shrunk from the
# usual 13-grams to 3-grams so the synthetic corpus produces signal).
# ---------------------------------------------------------------------------


@query(
    "q105_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, source, {_shingles('toks')} AS sh FROM t),
    ev AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE source = 'src0'),
    tr AS (SELECT doc_id, source, sh FROM s WHERE source <> 'src0'),
    gr AS (SELECT doc_id, unnest(sh) AS g FROM tr),
    p AS (SELECT doc_id, COUNT(*) AS total,
                 SUM(CASE WHEN g IN (SELECT g FROM ev) THEN 1 ELSE 0 END) AS hits
          FROM gr GROUP BY doc_id),
    d AS (SELECT tr.source,
                 COALESCE(p.hits * 1.0 / p.total, 0.0) AS frac
          FROM tr LEFT JOIN p ON tr.doc_id = p.doc_id)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN frac >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           ROUND(AVG(frac), 6) AS avg_contamination,
           ROUND(MAX(frac), 6) AS max_contamination
    FROM d GROUP BY source ORDER BY source
    """,
    description="benchmark decontamination: score every training doc by the fraction of its distinct 3-gram shingles appearing in the held-out benchmark set (src0), flag docs >= 0.2 — benchmark gram set is broadcast (it is small by construction); grams are xxhash64 IDENTITIES, never materialized strings (the oracle re-derives membership from the raw gram text), and 'source' rides the gram rows so the corpus is scanned once: gram pass -> per-(doc,source) aggregate -> per-source rollup, with zero-gram docs folded back from a column-pruned per-source count frame instead of a corpus-sized join",
)
def q105_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ev_docs = docs.filter(F.col("source") == "src0")
    tr_docs = docs.filter(F.col("source") != "src0")
    # distinct benchmark grams: small by construction (the benchmark is
    # human-curated, ~thousands of docs even when the corpus is 100 TB)
    # -> broadcast to every executor, no shuffle of the training side
    # beyond its own per-doc aggregate. Hashed gram identities: 8-byte
    # broadcast keys, no per-gram string ever built on either side.
    ev_grams = (
        D.shingle_rows(ev_docs, shingle_n=3, hashed=True, spread=False)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    tr_grams = D.shingle_rows(tr_docs, shingle_n=3, extra_cols=("source",), hashed=True)
    per_doc = (
        tr_grams.join(F.broadcast(ev_grams), "shingle", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("hits"),
        )
        .select("source", (F.col("hits") / F.col("total")).alias("frac"))
    )
    stats = per_doc.groupBy("source").agg(
        F.sum((F.col("frac") >= 0.2).cast("long")).alias("_flagged"),
        F.sum("frac").alias("_sum_frac"),
        F.max("frac").alias("_max_frac"),
    )
    # zero-gram docs contribute frac = 0 (never flagged, cap the max at
    # >= 0, dilute the average): fold them in via the per-source doc
    # count — a column-pruned aggregate — instead of left-joining the
    # corpus-sized doc frame against the gram aggregate.
    counts = tr_docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        counts.join(stats, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("_flagged"), F.lit(0)).alias("n_flagged"),
            F.round(F.coalesce(F.col("_sum_frac"), F.lit(0.0)) / F.col("n_docs"), 6).alias(
                "avg_contamination"
            ),
            F.round(F.coalesce(F.col("_max_frac"), F.lit(0.0)), 6).alias("max_contamination"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q106 — deterministic hash-based train/valid/test split. Membership is
# a pure function of the stable doc id (md5 bucket 0-99: 80/10/10), so
# the split is reproducible across engines, re-runs, and re-shards, and
# adding new data never moves an old doc between splits — the property
# random-split pipelines lose the moment data is re-read.
# ---------------------------------------------------------------------------

_BUCKET_SQL = "CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100"


@query(
    "q106_hash_split",
    oracle=f"""
    WITH b AS (SELECT doc_id, source, n_chars, {_BUCKET_SQL} AS bucket FROM documents),
    s AS (SELECT CASE WHEN bucket < 80 THEN 'train'
                      WHEN bucket < 90 THEN 'valid'
                      ELSE 'test' END AS split, source, n_chars FROM b)
    SELECT split, COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           ROUND(AVG(n_chars), 6) AS avg_chars
    FROM s GROUP BY split ORDER BY split
    """,
    description="deterministic hash split (md5-bucket 80/10/10 train/valid/test): membership is a pure function of the doc id — reproducible across engines and re-shards, stable under corpus growth; pure Column expressions, one partial aggregate, zero joins",
)
def q106_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "long"
    ) % 100
    split = (
        F.when(bucket < 80, F.lit("train")).when(bucket < 90, F.lit("valid")).otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "source", "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# q107 — per-group winsorization (outlier clipping to the p05/p95 of each
# source). Two passes: exact interpolated percentiles per group (a tiny
# aggregate — one row per source), broadcast back onto the fact scan,
# clip, re-aggregate. The quantile interpolation rule itself is pinned by
# the oracle (Spark percentile() and DuckDB quantile_cont share the
# linear-interpolation definition).
# ---------------------------------------------------------------------------


@query(
    "q107_winsorize",
    oracle="""
    WITH q AS (SELECT source,
                      quantile_cont(n_chars, 0.05) AS p05,
                      quantile_cont(n_chars, 0.95) AS p95
               FROM documents GROUP BY source),
    c AS (SELECT d.source, d.n_chars, q.p05, q.p95,
                 LEAST(GREATEST(d.n_chars * 1.0, q.p05), q.p95) AS clipped
          FROM documents d JOIN q ON d.source = q.source)
    SELECT source, COUNT(*) AS n_docs,
           ROUND(ANY_VALUE(p05), 6) AS p05,
           ROUND(ANY_VALUE(p95), 6) AS p95,
           ROUND(AVG(n_chars), 6) AS mean_raw,
           ROUND(AVG(clipped), 6) AS mean_winsorized,
           CAST(SUM(CASE WHEN n_chars * 1.0 < p05 OR n_chars * 1.0 > p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM c GROUP BY source ORDER BY source
    """,
    description="per-source winsorization: exact linear-interpolated p05/p95 per group (one tiny agg row per source, broadcast back), clip the length column, report raw vs winsorized means and clip counts — the standard outlier-robust length normalization before mixture weighting",
)
def q107_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.percentile("n_chars", F.lit(0.05)).alias("p05"),
        F.percentile("n_chars", F.lit(0.95)).alias("p95"),
    )
    nc = F.col("n_chars").cast("double")
    clipped = F.least(F.greatest(nc, F.col("p05")), F.col("p95"))
    return (
        docs.join(F.broadcast(stats), "source")
        .select(
            "source",
            "n_chars",
            F.col("p05"),
            F.col("p95"),
            clipped.alias("clipped"),
            ((nc < F.col("p05")) | (nc > F.col("p95"))).cast("long").alias("_clip"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.first("p05"), 6).alias("p05"),
            F.round(F.first("p95"), 6).alias("p95"),
            F.round(F.avg("n_chars"), 6).alias("mean_raw"),
            F.round(F.avg("clipped"), 6).alias("mean_winsorized"),
            F.sum("_clip").alias("n_clipped"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q108 — incremental dedup: a NEW crawl increment (doc_id % 7 = 0) is
# deduped AGAINST the existing curated corpus without re-running global
# dedup — new docs' LSH buckets probe the corpus's buckets, exact
# Jaccard verifies, and only verified-novel docs enter. Near-dups are
# PLANTED (a shared boilerplate text on a deterministic id rule) so the
# cross-side match path is exercised and pinned, not vacuously green.
# ---------------------------------------------------------------------------

_BOILER2 = "subscribe to our newsletter for weekly updates and exclusive offers today"
_PLANT = f"CASE WHEN doc_id % 70 = 0 OR doc_id % 9 = 1 THEN '{_BOILER2}' ELSE text END"


@query(
    "q108_incremental_dedup",
    oracle=f"""
    WITH docs0 AS (SELECT doc_id, source, {_PLANT} AS text FROM documents),
    t AS (SELECT doc_id, {_TOKS} AS toks FROM docs0),
    s AS (SELECT doc_id, {_shingles('toks')} AS sh FROM t),
    s2 AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
    sig AS (SELECT doc_id, {_sig_list('sh')} AS sig FROM s2),
    bands AS (SELECT doc_id, b,
                     md5(array_to_string(list_slice(sig, 4 * b + 1, 4 * b + 4), '|')) AS bucket
              FROM sig CROSS JOIN range(0, 4) r(b)),
    nb AS (SELECT doc_id, b, bucket FROM bands WHERE doc_id % 7 = 0),
    cb0 AS (SELECT doc_id, b, bucket,
                   ROW_NUMBER() OVER (PARTITION BY b, bucket
                        ORDER BY md5(bucket || CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM bands WHERE doc_id % 7 <> 0),
    cb AS (SELECT doc_id, b, bucket FROM cb0 WHERE rn <= 64),
    cand AS (SELECT DISTINCT nb.doc_id AS nid, cb.doc_id AS cid
             FROM nb JOIN cb ON nb.b = cb.b AND nb.bucket = cb.bucket),
    j AS (SELECT nid, len(list_intersect(sa.sh, sb.sh)) * 1.0
                      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
          FROM cand JOIN s2 sa ON sa.doc_id = cand.nid
                    JOIN s2 sb ON sb.doc_id = cand.cid),
    dup AS (SELECT DISTINCT nid FROM j WHERE jaccard >= 0.5),
    nd AS (SELECT doc_id, source FROM docs0 WHERE doc_id % 7 = 0)
    SELECT source, COUNT(*) AS n_new,
           CAST(SUM(CASE WHEN doc_id IN (SELECT nid FROM dup) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           CAST(SUM(CASE WHEN doc_id IN (SELECT nid FROM dup) THEN 0 ELSE 1 END) AS BIGINT)
             AS n_kept
    FROM nd GROUP BY source ORDER BY source
    """,
    description="incremental corpus dedup: new-increment docs probe the existing corpus's LSH buckets (corpus side capped at 64/bucket by the deterministic salt rank — bounded task cost even against a boilerplate bucket), exact shingle Jaccard >= 0.5 verifies; planted boilerplate dups prove the cross-side match path — the per-increment shape that avoids re-running global dedup over the full corpus",
)
def q108_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.when((F.col("doc_id") % 70 == 0) | (F.col("doc_id") % 9 == 1), F.lit(_BOILER2)).otherwise(
            F.col("text")
        ),
    )
    is_new = F.col("doc_id") % 7 == 0
    flagged = D.incremental_dup_ids(
        docs.filter(is_new),
        docs.filter(~is_new),
        num_hashes=16,
        bands=4,
        shingle_n=3,
        jaccard_threshold=0.5,
        max_bucket_size=64,
    ).withColumn("_dup", F.lit(1))
    return (
        docs.filter(is_new)
        .select("doc_id", "source")
        .join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("n_dup"),
            F.sum(F.when(F.col("_dup").isNull(), 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q109 — distributed sequence packing. Docs are dealt into shards by a
# deterministic hash, ordered pseudo-randomly within each shard, and
# greedily packed into fixed token contexts by a shard-local running
# sum: pack = (shard, floor(prefix_tokens / C)). The window is
# PARTITIONED by shard — the global-cumsum formulation would funnel the
# whole corpus through one task (the q63 anti-pattern); per-shard
# packing is exactly how multi-worker training data gets packed in
# practice (each worker packs its own shard).
# ---------------------------------------------------------------------------

_CTX = 4096
_N_SHARDS = 8
_TOK_EST = "GREATEST(1, CAST(CEIL(n_chars / 4.0) AS BIGINT))"
_SHARD_SQL = "CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)) AS BIGINT) % 8"
_ORD_SQL = "substr(md5(CAST(doc_id AS VARCHAR)), 4, 8)"


@query(
    "q109_sequence_packing",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOK_EST} AS tok, {_SHARD_SQL} AS shard,
                      {_ORD_SQL} AS ord
               FROM documents),
    c AS (SELECT shard, tok,
                 SUM(tok) OVER (PARTITION BY shard ORDER BY ord, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
          FROM t),
    p AS (SELECT shard, tok, (cum - tok) // {_CTX} AS pack FROM c),
    s AS (SELECT shard, pack, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS tokens
          FROM p GROUP BY shard, pack)
    SELECT shard, COUNT(*) AS n_packs, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(tokens) / {_CTX}, 6) AS mean_fill
    FROM s GROUP BY shard ORDER BY shard
    """,
    description=f"distributed sequence packing: hash-shard the corpus ({_N_SHARDS} shards), pseudo-random order within shard, shard-local prefix-sum assigns each doc to a {_CTX}-token pack — the window is partitioned by shard (never a global single-task cumsum), matching how per-worker packing runs at scale",
)
def q109_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = F.greatest(F.lit(1), F.ceil(F.col("n_chars") / 4.0).cast("long"))
    packed = pack_assignments(
        docs.select("doc_id", tok.alias("_tok")),
        token_col="_tok",
        context_len=_CTX,
        n_shards=_N_SHARDS,
    )
    per_pack = packed.groupBy("shard", "pack").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("tok").alias("tokens")
    )
    return (
        per_pack.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("tokens").alias("total_tokens"),
            F.round(F.avg("tokens") / _CTX, 6).alias("mean_fill"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# q110 — token-budget mixture planning: given target mixture weights per
# source (a literal spec, as in q93) and a total token budget, compute
# each source's available tokens, its target allocation, and the epoch
# factor (allocation / available — >1 means the source must be
# oversampled). The planning twin of q93's mixture SAMPLER: one tiny
# aggregate per source joined to an inline dim, no data movement beyond
# the per-source agg.
# ---------------------------------------------------------------------------

_BUDGET = 1_000_000
_MIX = [("src0", 3.0), ("src1", 2.0)]  # named upweights; every other source 1.0


def _mix_weight_sql() -> str:
    cases = " ".join(f"WHEN source = '{s}' THEN {w}" for s, w in _MIX)
    return f"CASE {cases} ELSE 1.0 END"


@query(
    "q110_token_budget",
    oracle=f"""
    WITH avail AS (
      SELECT source, CAST(SUM({_TOK_EST}) AS BIGINT) AS available_tokens,
             {_mix_weight_sql()} AS weight
      FROM documents GROUP BY source),
    tot AS (SELECT SUM(weight) AS wsum FROM avail)
    SELECT source, available_tokens, ROUND(weight, 6) AS weight,
           CAST(FLOOR({_BUDGET} * weight / (SELECT wsum FROM tot)) AS BIGINT)
             AS target_tokens,
           ROUND({_BUDGET} * weight / (SELECT wsum FROM tot) / available_tokens, 6)
             AS epochs
    FROM avail ORDER BY source
    """,
    description="token-budget mixture planning: per-source available tokens (one partial agg), target allocation from literal mixture weights, and the oversampling epoch factor — the planning twin of the q93 mixture sampler; inline literal dim, zero extra shuffles",
)
def q110_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = F.greatest(F.lit(1), F.ceil(F.col("n_chars") / 4.0).cast("long"))
    weight = F.when(F.col("source") == _MIX[0][0], F.lit(_MIX[0][1])).when(
        F.col("source") == _MIX[1][0], F.lit(_MIX[1][1])
    ).otherwise(F.lit(1.0))
    avail = docs.groupBy("source").agg(
        F.sum(tok).alias("available_tokens"), F.first(weight).alias("weight")
    )
    # unpartitioned window over the per-source frame: bounded by source
    # cardinality (one row per source), so the single task is benign
    wsum = F.sum("weight").over(W.partitionBy())
    alloc = F.lit(_BUDGET) * F.col("weight") / F.col("_wsum")
    return (
        avail.withColumn("_wsum", wsum)
        .select(
            "source",
            "available_tokens",
            F.round("weight", 6).alias("weight"),
            F.floor(alloc).cast("long").alias("target_tokens"),
            F.round(alloc / F.col("available_tokens"), 6).alias("epochs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q115 — Bloom-filter decontamination (VERDICT r3 item 8): q105's rule for
# benchmark gram sets too big to broadcast as strings. The benchmark
# collapses to its Bloom BIT SET (<= m rows no matter how many grams),
# which always broadcasts; training grams probe the bit set and only the
# tiny maybe-member candidate set is verified exactly, so the final
# flagged-docs rule stays EXACTLY q105's (Bloom has no false negatives).
# m=16384, k=3, n=|benchmark grams|~1.4k at sf0.01 -> theoretical FPR
# (1-e^(-kn/m))^k ~= 1%, and the query MEASURES it per source.
# ---------------------------------------------------------------------------

_BF_M, _BF_K = 16384, 3


def _bf_pos_sql(g: str, j: str) -> str:
    """Mirror of operators/dedup.py bloom_positions for k <= 4: position
    j is 8 hex chars carved from the SINGLE md5 digest of the gram (one
    digest per gram, not k salted ones — that was the dominant per-gram
    cost of the r5 decontamination stack)."""
    return f"CAST(CONCAT('0x', substr(md5({g}), 1 + 8 * {j}, 8)) AS BIGINT) % {_BF_M}"


@query(
    "q115_decontaminate_bloom",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, source, {_shingles('toks')} AS sh FROM t),
    ev AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE source = 'src0'),
    bl AS (SELECT DISTINCT {_bf_pos_sql('g', 'r.j')} AS pos
           FROM ev CROSS JOIN range(0, {_BF_K}) r(j)),
    gr AS (SELECT doc_id, source, unnest(sh) AS g FROM s WHERE source <> 'src0'),
    pr AS (SELECT doc_id, source, g,
                  SUM(CASE WHEN {_bf_pos_sql('g', 'r.j')} IN (SELECT pos FROM bl)
                           THEN 1 ELSE 0 END) AS h
           FROM gr CROSS JOIN range(0, {_BF_K}) r(j)
           GROUP BY doc_id, source, g),
    ver AS (SELECT doc_id, source,
                   CASE WHEN g IN (SELECT g FROM ev) THEN 1 ELSE 0 END AS true_hit
            FROM pr WHERE h = {_BF_K}),
    tot AS (SELECT doc_id, COUNT(*) AS total FROM gr GROUP BY doc_id),
    doc AS (SELECT gr0.doc_id, gr0.source, tot.total,
                   COALESCE(v.n_cand, 0) AS n_cand, COALESCE(v.hits, 0) AS hits
            FROM (SELECT DISTINCT doc_id, source FROM gr) gr0
            JOIN tot ON tot.doc_id = gr0.doc_id
            LEFT JOIN (SELECT doc_id, COUNT(*) AS n_cand, SUM(true_hit) AS hits
                       FROM ver GROUP BY doc_id) v ON v.doc_id = gr0.doc_id)
    SELECT source,
           CAST(SUM(total) AS BIGINT) AS n_grams,
           CAST(SUM(n_cand) AS BIGINT) AS n_candidates,
           CAST(SUM(n_cand - hits) AS BIGINT) AS n_false_pos,
           ROUND(SUM(n_cand - hits) * 1.0 / SUM(total - hits), 6) AS measured_fpr,
           CAST(SUM(CASE WHEN hits * 1.0 / total >= 0.2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged
    FROM doc GROUP BY source ORDER BY source
    """,
    description="Bloom-filter decontamination: benchmark grams collapse to a 2-KiB packed bitmap (engine-portable md5 Bloom — k=3 positions carved from ONE digest per gram, m=16384; FPR ~1% theoretical and measured per source); the training side probes the bitmap as a pure projection (array-literal getbit inside the scan's codegen span — no explode, no probe join, no probe aggregate), the exact verify rides the same single gram pass, and the flagged-doc rule is EXACTLY q105's (no false negatives) — the scale path when the benchmark outgrows a string broadcast: the bitmap stays 2 KiB at any benchmark size, and only FPR-bounded candidates would need the shuffle-join verify when even the verify set outgrows a broadcast",
)
def q115_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ev_docs = docs.filter(F.col("source") == "src0")
    tr_docs = docs.filter(F.col("source") != "src0")
    # benchmark side is small by construction -> no spread exchange; the
    # bitset build also skips the gram-level distinct (duplicate grams
    # map to duplicate POSITIONS, and the position-distinct inside
    # bloom_bitset subsumes gram dedup), so the whole bitmap job is
    # scan -> flat-map -> one distinct aggregate -> 2 KiB collect.
    ev_sh = D.shingle_rows(ev_docs, shingle_n=3, spread=False)
    ev_grams = ev_sh.select("shingle").distinct()
    # m_bits is a CONSTANT: the packed bitmap is 2 KiB regardless of
    # benchmark size — built once on the (small) benchmark side, then
    # probed as a literal. One corpus scan total on the training side:
    # gram flat-map -> bitmap probe column -> broadcast exact-verify ->
    # one (doc, source) aggregate -> per-source rollup.
    bits = D.bloom_bits(D.bloom_bitset(ev_sh, "shingle", _BF_M, _BF_K), _BF_M)
    probed = D.shingle_rows(tr_docs, shingle_n=3, extra_cols=("source",)).withColumn(
        "_maybe", D.bloom_maybe(F.col("shingle"), bits, _BF_M, _BF_K).cast("long")
    )
    per_doc = (
        probed.join(F.broadcast(ev_grams.withColumn("_hit", F.lit(1))), "shingle", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum("_maybe").alias("n_cand"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("hits"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("total").alias("n_grams"),
            F.sum("n_cand").alias("n_candidates"),
            F.sum(F.col("n_cand") - F.col("hits")).alias("n_false_pos"),
            F.round(
                F.sum(F.col("n_cand") - F.col("hits")) / F.sum(F.col("total") - F.col("hits")), 6
            ).alias("measured_fpr"),
            F.sum((F.col("hits") / F.col("total") >= 0.2).cast("long")).alias("n_flagged"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q117 — mergeable-sketch cardinality (Apache DataSketches HLL via
# hll_sketch_agg / hll_union_agg). The 100 TB pattern q82's
# approx_count_distinct cannot express: per-shard sketches are
# materialized ONCE, and any rollup (here: global over sources) is a
# sketch MERGE — no second scan of the data. Hash-checked the q82 way:
# exact distincts pinned in both engines, the sketch estimates asserted
# within the documented HLL error (lgK=12 -> ~1.6% standard error; 5%
# bound = ~3 sigma) as booleans the oracle expects TRUE.
# ---------------------------------------------------------------------------


@query(
    "q117_mergeable_sketches",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, source, unnest({_shingles('toks')}) AS g FROM t),
    per AS (SELECT source AS scope, COUNT(DISTINCT g) AS exact_distinct FROM s GROUP BY source),
    tot AS (SELECT 'ALL' AS scope, COUNT(DISTINCT g) AS exact_distinct FROM s)
    SELECT scope, exact_distinct, TRUE AS within_rel_err
    FROM (SELECT * FROM per UNION ALL SELECT * FROM tot)
    ORDER BY scope
    """,
    description="mergeable-sketch cardinality (DataSketches HLL, lgK=12): per-source shingle sketches built in ONE scan, global cardinality from hll_union_agg of the per-source sketches (a merge, not a rescan) - the re-aggregatable form q82's approx_count_distinct lacks; exact distincts pinned in both engines, estimates asserted within a 5% (~3 sigma) error bound as oracle-expected TRUE booleans",
)
def q117_mergeable_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # carry `source` through the shingle flat-map (keep_cols) — joining
    # raw gram rows back to docs would shuffle the full gram stream
    with_t = docs.select("doc_id", "source", X.tokens("text").alias("_toks"))
    grams = X.zip_ngram_rows(with_t, "_toks", 3, "shingle", ["doc_id", "source"], " ", True)
    # HLL registers depend only on the DISTINCT hashed values, so every
    # consumer below — sketch, exact count, global distinct — runs off
    # ONE map-side-combined distinct of (source, shingle). vs the r7
    # shape this removes the Expand that countDistinct-next-to-
    # hll_sketch_agg plans (every gram row duplicated per agg path) and
    # the per-branch re-derivation of the gram flat-map (tokenize ran
    # 2x); measured 1.86 -> 0.9 s-class warm at sf0.1.
    pairs = grams.select("source", "shingle").distinct().localCheckpoint(eager=False)
    per = pairs.groupBy(F.col("source").alias("scope")).agg(
        F.hll_sketch_agg("shingle").alias("_sk"),
        F.count(F.lit(1)).alias("exact_distinct"),
    )
    per_out = per.select(
        "scope",
        "exact_distinct",
        (
            F.abs(F.hll_sketch_estimate("_sk") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            <= F.lit(0.05)
        ).alias("within_rel_err"),
    )
    # global = MERGE of the per-source sketches (never rescans the grams);
    # the exact side is an independent distinct over the pairs frame
    exact_all = pairs.select("shingle").distinct().agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    merged = per.agg(F.hll_sketch_estimate(F.hll_union_agg(F.col("_sk"))).alias("_est"))
    all_out = merged.crossJoin(exact_all).select(
        F.lit("ALL").alias("scope"),
        "exact_distinct",
        (
            F.abs(F.col("_est") - F.col("exact_distinct")) / F.col("exact_distinct")
            <= F.lit(0.05)
        ).alias("within_rel_err"),
    )
    return per_out.unionAll(all_out).orderBy("scope")


# ---------------------------------------------------------------------------
# q119 — count-min-sketch heavy hitters.
#
# Sketch layout: depth d=4 hash rows x width w=256 buckets, kept as a
# DataFrame of (source, depth, bucket, cnt). Hashing is native
# xxhash64(depth, token) mod w — no strings materialized, no UDF. The
# global sketch is the per-source tables MERGED by bucket addition
# (exactly how shard sketches combine on a cluster: counts are linear).
#
# The driver-hashable contract (q117 pattern): exact counts for the
# top-20 tokens are pinned in both engines; two deterministic CMS
# properties ride along as expected-TRUE booleans:
#   no_undercount — min over depth rows of the merged sketch >= exact
#     count (CMS never undercounts: every occurrence lands in the
#     probed bucket);
#   merge_exact — estimates from the merged per-source sketches equal
#     estimates from a sketch built directly over the whole corpus
#     (long addition is exact, so shard-merge loses nothing).
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 256


def _cms_bucket(tok: Column, depth: int) -> Column:
    """Bucket of `tok` in hash row `depth`: native 64-bit hash, no string concat."""
    return F.pmod(F.xxhash64(F.lit(depth), tok), F.lit(_CMS_WIDTH))


def cms_table(
    toks: DataFrame, tok_col: str, shard_cols: list[str], weight_col: str | None = None
) -> DataFrame:
    """Count-min sketch as a DataFrame: (shard_cols..., depth, bucket, cnt).

    One scan of the token stream; the explode multiplies rows by depth
    (4) before the partial aggregate, so the shuffle carries at most
    shards * depth * width rows after map-side combine. Merging shards
    = groupBy(depth, bucket).sum(cnt).

    With ``weight_col`` the input is a pre-aggregated (token, weight)
    frame instead of a raw occurrence stream — counts are linear, so
    hashing each DISTINCT token once and summing weights builds the
    identical sketch while doing vocabulary-sized (not corpus-sized)
    hash work.
    """
    hashed = toks.select(
        *shard_cols,
        *([weight_col] if weight_col else []),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("depth"), _cms_bucket(F.col(tok_col), j).alias("bucket"))
                    for j in range(_CMS_DEPTH)
                ]
            )
        ).alias("_db"),
    )
    agg = F.sum(weight_col) if weight_col else F.count("*")
    return hashed.groupBy(*shard_cols, "_db.depth", "_db.bucket").agg(agg.alias("cnt"))


@query(
    "q119_cms_heavy_hitters",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    w AS (SELECT unnest(toks) AS token FROM t),
    c AS (SELECT token, COUNT(*) AS exact_count FROM w GROUP BY token),
    top AS (SELECT token, exact_count FROM c ORDER BY exact_count DESC, token LIMIT 20)
    SELECT token, CAST(exact_count AS BIGINT) AS exact_count,
           TRUE AS no_undercount, TRUE AS merge_exact
    FROM top ORDER BY exact_count DESC, token
    """,
    description="count-min-sketch heavy hitters (d=4, w=256): per-source sketch tables built in ONE corpus scan with native xxhash64 bucketing, global sketch = linear MERGE of the per-source tables (the re-aggregatable form a 1000-shard frequency rollup needs); top-20 exact token counts pinned in both engines, with the CMS no-undercount guarantee (merged-sketch min-over-depth >= exact) and shard-merge exactness (merged estimates == direct-build estimates) asserted as oracle-expected TRUE booleans",
)
def q119_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(X.tokens("text")).alias("token"))

    # ONE corpus scan builds the per-source term-frequency table; every
    # sketch/exact consumer below is vocabulary-sized arithmetic over it
    # (counts are linear, so weighted hashing of distinct tokens builds
    # the identical sketch). localCheckpoint materializes the frame for
    # its three consumers without leaving a CacheManager entry behind.
    tc = (
        toks.groupBy("source", "token")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )

    # Per-source sketches and the two global variants: merged-from-shards
    # vs built-direct. CMS counts are linear, so `direct` built straight
    # off tc's (token, tf) rows is identical to building it from global
    # token totals — one fewer aggregation layer (r9 A/B: −0.1 s warm).
    per_source = cms_table(tc, "token", ["source"], weight_col="tf")
    merged = per_source.groupBy("depth", "bucket").agg(F.sum("cnt").alias("cnt"))
    direct = cms_table(tc, "token", [], weight_col="tf")
    totals = tc.groupBy("token").agg(F.sum("tf").alias("exact_count"))

    # Exact heavy hitters (verification denominator; at production scale
    # this pass is what the sketch REPLACES).
    top = totals.orderBy(F.desc("exact_count"), "token").limit(20)

    # ONE probe join against the tagged union of both sketches (instead
    # of two broadcast joins): the top-20 probes fan out to depth
    # (depth, bucket) cells, min-over-depth per tag via conditional agg.
    sk = merged.withColumn("is_m", F.lit(True)).unionByName(
        direct.withColumn("is_m", F.lit(False))
    )
    probes = top.select("token").select(
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("depth"), _cms_bucket(F.col("token"), j).alias("bucket"))
                    for j in range(_CMS_DEPTH)
                ]
            )
        ).alias("_db"),
    ).select("token", "_db.depth", "_db.bucket")
    est = (
        sk.join(F.broadcast(probes), ["depth", "bucket"])
        .groupBy("token")
        .agg(
            F.min(F.when(F.col("is_m"), F.col("cnt"))).alias("cms_est"),
            F.min(F.when(~F.col("is_m"), F.col("cnt"))).alias("cms_est_direct"),
        )
    )
    return (
        top.join(F.broadcast(est), "token")
        .select(
            "token",
            "exact_count",
            (F.col("cms_est") >= F.col("exact_count")).alias("no_undercount"),
            (F.col("cms_est") == F.col("cms_est_direct")).alias("merge_exact"),
        )
        .orderBy(F.desc("exact_count"), "token")
    )


# ---------------------------------------------------------------------------
# q121 — distributed BPE pair counting: the per-iteration scan of
# tokenizer training, run over the WORD-FREQUENCY table (the classic
# Sennrich formulation — one corpus scan builds (word, count); every
# merge iteration is vocabulary-sized, which is what makes BPE
# trainable over a 100 TB corpus at all). This query pins round 0:
# weighted adjacent character-pair counts, top-20 by (count desc, pair
# asc). The full iterative trainer is operators.text.bpe_train
# (argmax + greedy left-to-right merge fold, localCheckpointed per
# round), pytest-verified against a pure-python reference.
# ---------------------------------------------------------------------------


@query(
    "q121_bpe_pair_counts",
    oracle=f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    w AS (SELECT unnest(toks) AS word FROM t),
    wc AS (SELECT word, COUNT(*) AS wcount FROM w GROUP BY word),
    i AS (SELECT word, wcount, unnest(range(1, len(word))) AS pos FROM wc),
    p AS (SELECT substr(word, CAST(pos AS INT), 1) AS a,
                 substr(word, CAST(pos AS INT) + 1, 1) AS b, wcount
          FROM i)
    SELECT a, b, CAST(SUM(wcount) AS BIGINT) AS pair_count
    FROM p GROUP BY a, b
    ORDER BY pair_count DESC, a, b LIMIT 20
    """,
    description="BPE tokenizer training, round-0 pair scan: corpus -> word-frequency table (the ONLY corpus-sized job) -> weighted adjacent char-pair counts over the vocabulary frame, top-20 by (count desc, pair asc) — the per-iteration workload of Sennrich-style BPE; the full merge loop (argmax pair -> greedy left-to-right aggregate() fold rewrite -> localCheckpoint) is operators.text.bpe_train, pytest-verified against a pure-python reference trainer",
)
def q121_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        X.bpe_round0_pair_counts(X.word_counts(docs))
        .orderBy(F.desc("pair_count"), "a", "b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# a0177 — BPE ENCODE (the apply half of the tokenizer story; q121/
# bpe_train is the train half). Spark trains the merge list with
# bpe_train (one corpus scan + vocabulary-frame iterations), then
# encodes every (source, word) with operators.text.bpe_encode_repr —
# a chain of native replace() calls over the wrapped-symbol form
# <s1><s2>..., one per merge, whose semantics are EXACTLY the
# trainer's greedy skip-2 pass (see bpe_encode_repr). Token counts
# are vocabulary-factored: each distinct (source, word) is encoded
# once and weighted by its count, so the encode work is vocab-sized,
# not corpus-sized, and the corpus is scanned exactly twice (once to
# train, once for the word counts).
#
# The DuckDB oracle re-derives the SAME merges from scratch — an
# unrolled round chain (pair-count -> argmax with the trainer's
# (count DESC, a, b) tie-break -> single REPLACE rewrite per round,
# exact by the wrapped-symbol argument) — so the hash match pins
# train AND encode across engines end-to-end.
# ---------------------------------------------------------------------------

_BPE_ENC_MERGES = 8


def _bpe_encode_oracle(n_merges: int) -> str:
    rounds = []
    for k in range(n_merges):
        rounds.append(
            f"""
    p{k} AS (
      SELECT a, b FROM (
        SELECT ss[CAST(pos AS INT)] AS a, ss[CAST(pos AS INT) + 1] AS b, wcount FROM (
          SELECT wcount, ss, unnest(range(1, len(ss))) AS pos
          FROM (SELECT wcount, string_split(trim(repr, '<>'), '><') AS ss FROM v{k})))
      GROUP BY a, b ORDER BY SUM(wcount) DESC, a, b LIMIT 1),
    v{k + 1} AS (
      SELECT word, wcount,
             REPLACE(repr, '<' || a || '><' || b || '>', '<' || a || b || '>') AS repr
      FROM v{k} CROSS JOIN p{k})"""
        )
    return f"""
    WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
    w AS (SELECT source, unnest(toks) AS word FROM t),
    swc AS (SELECT source, word, COUNT(*) AS cnt FROM w GROUP BY source, word),
    wc0 AS (SELECT word, SUM(cnt) AS wcount FROM swc GROUP BY word),
    v0 AS (SELECT word, wcount,
                  regexp_replace(word, '(.)', '<\\1>', 'g') AS repr FROM wc0),{",".join(rounds)},
    enc AS (SELECT s.source, s.cnt, s.word,
                   length(v.repr) - length(REPLACE(v.repr, '>', '')) AS ntok
            FROM swc s JOIN v{n_merges} v USING (word))
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_words,
           CAST(SUM(cnt * ntok) AS BIGINT) AS n_tokens,
           ROUND(SUM(cnt * length(word)) * 1.0 / SUM(cnt * ntok), 6) AS chars_per_token,
           ROUND(SUM(cnt * ntok) * 1.0 / SUM(cnt), 6) AS tokens_per_word
    FROM enc GROUP BY source ORDER BY source
    """


@query(
    "a0177_bpe_encode",
    oracle=_bpe_encode_oracle(_BPE_ENC_MERGES),
    description="BPE tokenizer APPLY (train with bpe_train, then encode the corpus): the merge list is replayed as a chain of native replace() calls over the wrapped-symbol form <s1><s2>... — one literal pattern per merge, provably identical to the trainer's greedy skip-2 merge pass, zero UDF/explode/shuffle in the apply path; encode work is vocabulary-factored (each distinct source,word once, weighted by count); per-source rollup reports token totals, chars-per-token compression and tokens-per-word; the oracle re-derives the merges in-SQL (8 unrolled rounds with the trainer's tie-break) so the hash pins train+encode cross-engine",
)
def a0177_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    merges = X.bpe_train(docs, _BPE_ENC_MERGES)
    swc = (
        docs.select("source", F.explode(X.tokens("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    enc = X.bpe_encode_repr("word", merges)
    ntok = F.length(enc) - F.length(F.replace(enc, F.lit(">"), F.lit("")))
    return (
        swc.withColumn("_ntok", ntok)
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("_ntok")).cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("cnt") * F.length("word"))
                / F.sum(F.col("cnt") * F.col("_ntok")),
                6,
            ).alias("chars_per_token"),
            F.round(F.sum(F.col("cnt") * F.col("_ntok")) / F.sum("cnt"), 6).alias(
                "tokens_per_word"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q122 — hashed-feature linear classifier inference (fastText-style
# quality scoring): tokens hash into 1024 feature buckets (md5-prefix,
# the engine-portable q106 idiom), a 1024-row weight table is broadcast
# against the token stream, per-doc score = sigmoid(mean bucket
# weight), rolled up per source with a keep-rate at threshold 0.5.
#
# The weight table here is a FIXED deterministic function of the bucket
# (so DuckDB can rebuild it exactly); a trained classifier swaps in a
# learned 1024-entry bucket->weight map (broadcast-trivial at any model
# size that hashes into buckets). The Spark side scores each document
# with ONE higher-order-function fold over its own token array —
# tokenize -> aggregate(transform) — so there is NO explode (no row
# blowup), NO per-doc shuffle, and the only exchange in the whole plan
# is the #sources-row rollup. Weights are dyadic rationals (n/16), so
# the per-doc weight sum is exact in double regardless of fold order
# and the >= 0.5 keep decision (equivalent to sum >= 0) is exact on
# both engines. Zero-token docs score sigmoid(0) = 0.5 exactly, inline.
# ---------------------------------------------------------------------------

_CLS_BUCKETS = 1024


def _scored_docs(docs: DataFrame, *keep_cols: str) -> DataFrame:
    """(keep_cols..., score) per document — the classifier inference
    shared by q122 (scoring rollup) and q155 (calibration table); ONE
    definition so the scoring rule (md5-prefix bucket hashing, dyadic
    n/16 weights, sigmoid of the mean, zero-token docs = 0.5) cannot
    silently diverge between them.

    Two-step projection on purpose: the token array is materialized
    ONCE into ``_toks`` and the fold/size/score expressions reference
    the column. Inlining ``tokens(text)`` expands the tokenizer subtree
    three times (fold, size, score guard) — sf0.1 bench showed ~0.4 s
    of duplicated tokenize work per run from exactly that (r7). One
    higher-order-function fold over the doc's own token array: no
    explode, no join, no per-doc shuffle."""

    def wgt(tok: Column) -> Column:
        bucket = F.conv(F.substring(F.md5(tok), 1, 4), 16, 10).cast("long") % _CLS_BUCKETS
        return ((bucket % 41) - 20) / 16.0

    t = docs.select(*keep_cols, X.tokens("text").alias("_toks"))
    s = F.aggregate(F.col("_toks"), F.lit(0.0), lambda acc, tk: acc + wgt(tk))
    n = F.size(F.col("_toks"))
    score = F.when(n > 0, F.lit(1.0) / (F.lit(1.0) + F.exp(-(s / n)))).otherwise(F.lit(0.5))
    return t.select(*keep_cols, score.alias("score"))


@query(
    "q122_classifier_scoring",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    w AS (SELECT doc_id, source, unnest(toks) AS token FROM t),
    h AS (SELECT doc_id, source,
                 CAST(CONCAT('0x', substr(md5(token), 1, 4)) AS BIGINT) % {_CLS_BUCKETS} AS bucket
          FROM w),
    wt AS (SELECT CAST(range AS BIGINT) AS bucket,
                  ((range % 41) - 20) / 16.0 AS wgt
           FROM range({_CLS_BUCKETS})),
    p AS (SELECT doc_id, ANY_VALUE(source) AS source, SUM(wgt) AS s, COUNT(*) AS n
          FROM h JOIN wt USING (bucket) GROUP BY doc_id),
    sc AS (SELECT source, 1.0 / (1.0 + exp(-(s / n))) AS score FROM p),
    tot AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
    agg AS (SELECT source, COUNT(*) AS n_scored, SUM(score) AS sum_score,
                   SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS n_kept
            FROM sc GROUP BY source)
    SELECT tot.source, CAST(tot.n_docs AS BIGINT) AS n_docs,
           ROUND((COALESCE(agg.sum_score, 0) + 0.5 * (tot.n_docs - COALESCE(agg.n_scored, 0)))
                 / tot.n_docs, 6) AS avg_score,
           CAST(COALESCE(agg.n_kept, 0) + (tot.n_docs - COALESCE(agg.n_scored, 0)) AS BIGINT)
               AS n_kept
    FROM tot LEFT JOIN agg USING (source) ORDER BY source
    """,
    description="hashed-feature linear classifier inference (fastText shape): md5-prefix feature hashing into 1024 buckets, per-doc score = sigmoid(mean bucket weight) computed as ONE higher-order-function fold over the document's own token array — no explode, no per-doc shuffle; the only exchange is the #sources-row rollup; weights are dyadic rationals so the fold sum is exact in double and the keep decision cannot flip; zero-token docs score sigmoid(0)=0.5 inline; a trained model swaps in a learned bucket->weight map with the identical plan",
)
def q122_classifier_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        _scored_docs(docs, "source")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("score"), 6).alias("avg_score"),
            F.sum((F.col("score") >= 0.5).cast("long")).alias("n_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q123 — z-order layout clustering for multi-column data skipping (the
# Delta/Iceberg OPTIMIZE ZORDER BY primitive): interleave the bits of
# (l_partkey, l_suppkey) into a 32-bit z-value, bucket rows into 64
# fixed-width z-ranges (the "files"), and report each file's per-column
# min/max footprint — the statistics a scan planner prunes on. Under a
# z-order layout BOTH columns' footprints stay narrow per file, which
# is the whole point vs single-column sort (narrow on one, full-range
# on the other).
#
# The production write is `df.repartitionByRange(64, zval)
# .sortWithinPartitions(zval).write...`; the query keeps deterministic
# fixed-width buckets (range-partition boundaries are sampled, hence
# non-reproducible across engines) so DuckDB can mirror the math
# bit-for-bit. Pure column arithmetic — one map-side-combined
# aggregate, no joins, no UDFs, and the skipping ratio column proves
# the effect: avg fraction of the key domain a file's footprint spans.
# ---------------------------------------------------------------------------

_Z_BITS = 16


def _z_terms(xe: str, ye: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({xe} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ye} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_value(x: Column, y: Column, bits: int = _Z_BITS) -> Column:
    """Bit-interleaved (Morton) z-value of two non-negative int columns."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


@query(
    "q123_zorder_layout",
    oracle=f"""
    WITH k AS (SELECT CAST(l_partkey AS BIGINT) AS xr, CAST(l_suppkey AS BIGINT) AS yr
               FROM lineitem),
    b AS (SELECT MIN(xr) AS xmn, MAX(xr) AS xmx, MIN(yr) AS ymn, MAX(yr) AS ymx FROM k),
    n AS (SELECT CASE WHEN xmx = xmn THEN 0
                      ELSE CAST(floor(1.0 * (xr - xmn) * 65535 / (xmx - xmn)) AS BIGINT) END AS x,
                 CASE WHEN ymx = ymn THEN 0
                      ELSE CAST(floor(1.0 * (yr - ymn) * 65535 / (ymx - ymn)) AS BIGINT) END AS y
          FROM k CROSS JOIN b),
    z AS (SELECT x, y, {_z_terms('x', 'y')} AS zval FROM n),
    f AS (SELECT zval >> {32 - 6} AS file_id, x, y FROM z)
    SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS pk_min, MAX(x) AS pk_max,
           MIN(y) AS sk_min, MAX(y) AS sk_max,
           ROUND(((MAX(x) - MIN(x)) + (MAX(y) - MIN(y))) / (2.0 * 65535.0), 6) AS span_frac
    FROM f GROUP BY file_id ORDER BY file_id
    """,
    description="z-order (Morton) layout clustering over (l_partkey, l_suppkey): 16-bit interleave to a 32-bit z-value, 64 fixed-width z-range 'files', per-file min/max footprints + span fraction — the multi-column data-skipping statistic OPTIMIZE ZORDER BY exists to minimize; production write path is repartitionByRange(zval).sortWithinPartitions(zval) (boundaries sampled, hence the oracle pins the deterministic fixed-width variant); pure bit-arithmetic columns, one map-side-combined aggregate, zero joins/UDFs",
)
def q123_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("long").alias("xr"), F.col("l_suppkey").cast("long").alias("yr")
    )
    # Min-max normalize each key to the 16-bit z-domain (exact integer
    # products well inside double precision, so floor() is engine-stable).
    # The bounds aggregate is one scalar row, broadcast into the scan.
    bounds = li.agg(
        F.min("xr").alias("xmn"),
        F.max("xr").alias("xmx"),
        F.min("yr").alias("ymn"),
        F.max("yr").alias("ymx"),
    )

    def norm(raw: str, mn: str, mx: str) -> Column:
        return (
            F.when(F.col(mx) == F.col(mn), F.lit(0))
            .otherwise(
                F.floor(1.0 * (F.col(raw) - F.col(mn)) * 65535 / (F.col(mx) - F.col(mn)))
            )
            .cast("long")
        )

    scaled = li.crossJoin(F.broadcast(bounds)).select(
        norm("xr", "xmn", "xmx").alias("x"), norm("yr", "ymn", "ymx").alias("y")
    )
    z = scaled.withColumn("zval", zorder_value(F.col("x"), F.col("y")))
    f = z.select(F.shiftright(F.col("zval"), 32 - 6).alias("file_id"), "x", "y")
    return (
        f.groupBy("file_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("x").alias("pk_min"),
            F.max("x").alias("pk_max"),
            F.min("y").alias("sk_min"),
            F.max("y").alias("sk_max"),
            F.round(
                ((F.max("x") - F.min("x")) + (F.max("y") - F.min("y"))) / (2.0 * 65535.0), 6
            ).alias("span_frac"),
        )
        .orderBy("file_id")
    )


# ---------------------------------------------------------------------------
# q133 — ANALYZE-style column statistics in ONE scan: the catalog stats
# a cost-based optimizer (and every lakehouse manifest) keeps per
# column — distinct count, null count, min/max. All columns' stats are
# computed in a single aggregate pass over the table (one scan, one
# partial+final pipeline, no per-column jobs), then unpivoted to the
# canonical (column, stat...) catalog shape with a bounded explode. At
# production scale the exact ndv becomes the q117 HLL sketch; the scan
# shape is identical.
# ---------------------------------------------------------------------------

_STATS_COLS = ["l_orderkey", "l_suppkey", "l_returnflag", "l_linestatus", "l_shipdate"]


@query(
    "q133_table_stats",
    oracle="""
    SELECT 'l_orderkey' AS col, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS ndv,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(MIN(l_orderkey) AS VARCHAR) AS min_val, CAST(MAX(l_orderkey) AS VARCHAR) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_suppkey', CAST(COUNT(DISTINCT l_suppkey) AS BIGINT),
           CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MIN(l_suppkey) AS VARCHAR), CAST(MAX(l_suppkey) AS VARCHAR) FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MIN(l_returnflag) AS VARCHAR), CAST(MAX(l_returnflag) AS VARCHAR) FROM lineitem
    UNION ALL
    SELECT 'l_linestatus', CAST(COUNT(DISTINCT l_linestatus) AS BIGINT),
           CAST(SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MIN(l_linestatus) AS VARCHAR), CAST(MAX(l_linestatus) AS VARCHAR) FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
           CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MIN(l_shipdate) AS VARCHAR), CAST(MAX(l_shipdate) AS VARCHAR) FROM lineitem
    ORDER BY col
    """,
    description="ANALYZE-style per-column catalog statistics (ndv, null count, min/max) for five lineitem columns computed in ONE aggregate scan (single partial+final pipeline, no per-column jobs), unpivoted to the (column, stats...) catalog shape with a bounded explode — the CBO/manifest stats surface; at 100 TB the exact ndv swaps for the q117 HLL sketch with the identical scan shape",
)
def q133_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(*_STATS_COLS)
    aggs = []
    for c in _STATS_COLS:
        aggs += [
            F.countDistinct(c).alias(f"{c}__ndv"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nn"),
            # min/max on the NATIVE type (string-cast first would order
            # "9999" above "14999"), cast to the catalog's string form after
            F.min(F.col(c)).cast("string").alias(f"{c}__mn"),
            F.max(F.col(c)).cast("string").alias(f"{c}__mx"),
        ]
    one = li.agg(*aggs)
    packed = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(f"{c}__ndv").alias("ndv"),
                        F.col(f"{c}__nn").alias("n_null"),
                        F.col(f"{c}__mn").alias("min_val"),
                        F.col(f"{c}__mx").alias("max_val"),
                    )
                    for c in _STATS_COLS
                ]
            )
        ).alias("s")
    )
    return packed.select("s.col", "s.ndv", "s.n_null", "s.min_val", "s.max_val").orderBy("col")


# ---------------------------------------------------------------------------
# q155 — classifier score calibration table (reliability diagram):
# q122's per-doc scores bucketed into deciles, each decile reporting
# its mean score vs the empirical keep base-rate proxy (fraction of
# docs whose score clears the 0.5 gate) plus the population share.
# The ML-eval table every scored-corpus pipeline publishes next to its
# keep decisions; one scan (the q122 fold) + one decile aggregate.
# Decile edges are exact arithmetic on the dyadic-safe scores, so
# bucket membership cannot flip between engines.
# ---------------------------------------------------------------------------


@query(
    "a0155_score_calibration",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    w AS (SELECT doc_id, unnest(toks) AS token FROM t),
    h AS (SELECT doc_id,
                 CAST(CONCAT('0x', substr(md5(token), 1, 4)) AS BIGINT) % 1024 AS bucket
          FROM w),
    wt AS (SELECT CAST(range AS BIGINT) AS bucket, ((range % 41) - 20) / 16.0 AS wgt
           FROM range(1024)),
    p AS (SELECT doc_id, SUM(wgt) AS s, COUNT(*) AS n
          FROM h JOIN wt USING (bucket) GROUP BY doc_id),
    sc AS (
      SELECT 1.0 / (1.0 + exp(-(s / n))) AS score FROM p
      UNION ALL
      SELECT 0.5 AS score FROM documents d
      WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.doc_id = d.doc_id)),
    b AS (SELECT LEAST(CAST(floor(score * 10) AS INTEGER), 9) AS decile, score FROM sc)
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(score), 6) AS mean_score,
           ROUND(SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
             AS kept_frac,
           ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM sc), 6) AS pop_share
    FROM b GROUP BY decile ORDER BY decile
    """,
    description="classifier score calibration table (reliability diagram) over q122's fold-computed scores: decile buckets (exact floor(score*10) edges on dyadic-safe scores, so membership cannot flip between engines) reporting count, mean score, fraction clearing the 0.5 keep gate, and population share — the ML-eval table a scored-corpus pipeline publishes next to its keep decisions; one corpus scan plus a 10-row aggregate",
)
def a0155_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sc = _scored_docs(docs)
    total = sc.agg(F.count("*").alias("tot"))
    b = sc.select(
        F.least(F.floor(F.col("score") * 10).cast("int"), F.lit(9)).alias("decile"),
        "score",
    )
    return (
        b.groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("score"), 6).alias("mean_score"),
            F.round(
                F.sum((F.col("score") >= 0.5).cast("long")) * F.lit(1.0) / F.count("*"), 6
            ).alias("kept_frac"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_docs",
            "mean_score",
            "kept_frac",
            F.round(F.col("n_docs") * F.lit(1.0) / F.col("tot"), 6).alias("pop_share"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q156 — sketch-based join-size estimation (CMS inner product): the
# optimizer-statistics companion to q149's skew report. |A join B| on a
# key equals sum_k fA(k)*fB(k); with CMS tables of both sides the
# estimate is min over hash rows of the bucketwise count dot product —
# a width*depth-sized computation no matter how large the inputs, and
# it NEVER underestimates (hash collisions only add mass). Exact join
# size rides along to pin the guarantee; both sketches reuse q119's
# cms_table (one scan per side, merge-friendly counts).
# ---------------------------------------------------------------------------


@query(
    "a0156_join_size_estimate",
    oracle=f"""
    WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
    b AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
    exact AS (SELECT COUNT(*) AS n FROM a JOIN b USING (k))
    SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_left,
           CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_right,
           CAST((SELECT n FROM exact) AS BIGINT) AS exact_join_size,
           TRUE AS never_underestimates
    """,
    description="sketch-based join cardinality estimation (CMS inner product): |A join B| = sum_k fA(k)*fB(k), estimated as the min over hash rows of the bucketwise dot product of the two sides' count-min tables (width*depth work regardless of input size, reusing q119's cms_table); the estimate provably never underestimates (collisions only add mass) — pinned against the exact join size as an oracle-expected TRUE boolean; the sketch statistics a distributed optimizer consults before choosing a join strategy, companion to q149's skew probe",
)
def a0156_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    a = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    )
    b = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    sk_a = cms_table(a, "k", []).withColumnRenamed("cnt", "ca")
    sk_b = cms_table(b, "k", []).withColumnRenamed("cnt", "cb")
    est = (
        sk_a.join(sk_b, ["depth", "bucket"])
        .groupBy("depth")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
        .agg(F.min("dot").alias("est"))
    )
    na = a.agg(F.count("*").alias("n_left"))
    nb = b.agg(F.count("*").alias("n_right"))
    exact = a.join(b, "k").agg(F.count("*").alias("exact_join_size"))
    return (
        na.crossJoin(nb)
        .crossJoin(exact)
        .crossJoin(F.broadcast(est))
        .select(
            "n_left",
            "n_right",
            "exact_join_size",
            # An empty intersection leaves the sketch join with zero
            # (depth,bucket) rows, so min('dot') is NULL — coalesce to 0
            # (estimate 0 >= exact 0 still satisfies the guarantee) so the
            # boolean stays literal TRUE instead of going NULL.
            (F.coalesce(F.col("est"), F.lit(0)) >= F.col("exact_join_size")).alias(
                "never_underestimates"
            ),
        )
    )


# ---------------------------------------------------------------------------
# a0109 (ex-a0182) — delta + run-length encoding audit. The storage-codec analysis
# a lakehouse runs when choosing column encodings: per-user event-id
# streams are delta-encoded (sorted gaps via lag), the gap stream is
# run-length encoded (run = maximal constant stretch), and the audit
# reports the compression the codec would achieve per event type. All
# windows PARTITIONED by user; run boundaries by the classic
# gap != lag(gap) change-flag cumulative-sum-free formulation (count of
# boundary flags — no per-run ids materialized).
# ---------------------------------------------------------------------------


@query(
    "a0109_delta_rle_audit",
    oracle="""
    WITH s AS (SELECT event_type, user_id, event_id,
                      event_id - LAG(event_id) OVER (PARTITION BY user_id, event_type
                                                     ORDER BY event_id) AS gap
               FROM events),
    g AS (SELECT event_type, user_id, gap,
                 CASE WHEN gap IS DISTINCT FROM LAG(gap) OVER (PARTITION BY user_id, event_type
                                                               ORDER BY event_id)
                      THEN 1 ELSE 0 END AS boundary
          FROM s WHERE gap IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(SUM(boundary) AS BIGINT) AS n_runs,
           CAST(COUNT(DISTINCT gap) AS BIGINT) AS n_distinct_gaps,
           ROUND(SUM(boundary) * 1.0 / COUNT(*), 6) AS rle_ratio,
           CAST(MIN(gap) AS BIGINT) AS min_gap, CAST(MAX(gap) AS BIGINT) AS max_gap
    FROM g GROUP BY event_type ORDER BY event_type
    """,
    description="delta + run-length encoding audit (the lakehouse column-encoding chooser): per-(user,type) event-id streams delta-encoded via lag, the gap stream run-length encoded via the gap != lag(gap) boundary flag (runs = sum of boundaries — no run ids materialized), per-type gap/run/distinct counts and the RLE compression ratio pinned; every window PARTITIONED by (user, type)",
)
def a0109_delta_rle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    s = ev.select(
        "event_type",
        "user_id",
        "event_id",
        (F.col("event_id") - F.lag("event_id").over(w)).alias("gap"),
    )
    # filter BEFORE the boundary window, matching the oracle's CTE shape
    # (WHERE precedes window evaluation within a SELECT)
    g = s.filter(F.col("gap").isNotNull()).withColumn(
        "boundary",
        F.when(~F.col("gap").eqNullSafe(F.lag("gap").over(w)), 1).otherwise(0),
    )
    return (
        g.groupBy("event_type")
        .agg(
            F.count("*").alias("n_gaps"),
            F.sum("boundary").cast("long").alias("n_runs"),
            F.countDistinct("gap").alias("n_distinct_gaps"),
            F.round(F.sum("boundary") / F.count("*"), 6).alias("rle_ratio"),
            F.min("gap").alias("min_gap"),
            F.max("gap").alias("max_gap"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# a0140 — n-gram overlap decontamination: the GPT-3/PaLM-style rule
# (train doc is contaminated if it shares ANY 8-token window with an
# eval document), complementing exact-hash (q105) and Bloom (q115)
# decontamination. Eval shingles are distinct and semi-joined against
# per-doc distinct train shingles — the join is gram-keyed, the eval
# side is the small one (broadcastable), and no text ever rides the
# shuffle (grams only).
# ---------------------------------------------------------------------------

_DECON_N = 8


@query(
    "a0140_ngram_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, source,
                  unnest(list_distinct(list_transform(range(1, len(toks) - {_DECON_N - 2}),
                         i -> array_to_string(list_slice(toks, i, i + {_DECON_N - 1}), ' ')))) AS g
           FROM t WHERE len(toks) >= {_DECON_N}),
    ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT DISTINCT s.doc_id, s.source
           FROM sh s JOIN ev ON s.g = ev.g WHERE s.doc_id % 97 <> 0),
    tot AS (SELECT source, COUNT(*) AS n_train FROM documents WHERE doc_id % 97 <> 0 GROUP BY source),
    fl AS (SELECT source, COUNT(*) AS n_flagged FROM tr GROUP BY source)
    SELECT tot.source, CAST(tot.n_train AS BIGINT) AS n_train,
           CAST(COALESCE(fl.n_flagged, 0) AS BIGINT) AS n_flagged,
           ROUND(COALESCE(fl.n_flagged, 0) * 1.0 / tot.n_train, 6) AS flagged_frac
    FROM tot LEFT JOIN fl ON tot.source = fl.source ORDER BY tot.source
    """,
    description="n-gram overlap decontamination (the GPT-3/PaLM 8-token-window rule, complementing exact-hash q105 and Bloom q115): eval docs (doc_id%97==0) contribute distinct 8-token shingles; a train doc is contaminated if ANY of its shingles hits the eval set — per-doc-distinct shingle semi-join keyed on the gram, eval side small/broadcastable, no document text on the shuffle; per-source flagged counts and fractions pinned",
)
def a0140_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "source", X.tokens("text").alias("toks"))
    sh = X.zip_ngram_rows(t, "toks", _DECON_N, "g", ["doc_id", "source"], " ", True)
    ev = sh.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    tr = (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(ev), "g", "left_semi")
        .select("doc_id", "source")
        .distinct()
    )
    tot = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .groupBy("source")
        .agg(F.count("*").alias("n_train"))
    )
    fl = tr.groupBy("source").agg(F.count("*").alias("n_flagged"))
    return (
        tot.join(fl, "source", "left")
        .select(
            "source",
            "n_train",
            F.coalesce("n_flagged", F.lit(0)).alias("n_flagged"),
            F.round(F.coalesce("n_flagged", F.lit(0)) / F.col("n_train"), 6).alias(
                "flagged_frac"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# a0142 — the flagship end-to-end corpus pipeline: the composition a
# training-data team actually runs, as ONE declared query so the whole
# chain sits under a single cross-engine hash. Stages:
#   1. exact dedup        keep the lowest doc_id per md5(text) group
#   2. quality filter     n_chars >= 120 AND >= 20 tokens
#   3. decontamination    drop eval docs (doc_id%97==0) and any train
#                         doc sharing an eval text hash
#   4. mixture sampling   per-source targets (even-numbered sources
#                         capped at 10 docs, odd keep-all), the a093
#                         deterministic md5-threshold Bernoulli
#   5. packing            128-token context windows, utilization
# Per-source funnel counts at every stage + packed totals are the
# output — a regression in ANY stage moves the hash. Every stage is
# the already-verified primitive (q40 dedup, q45 quality, q105
# decontam, a093 mixture, q109 packing) composed shuffle-consciously:
# hash keys only (md5/text hashes, never text) cross stage boundaries.
# examples/corpus_pipeline.py and examples/retrieval_pipeline.py
# narrate the same chains standalone (sink + report / BM25+ANN eval).
# ---------------------------------------------------------------------------

_FL_CHUNK = 128
_FL_EVEN_TARGET = 10


@query(
    "a0142_flagship_pipeline",
    oracle=f"""
    WITH raw AS (SELECT doc_id, source, n_chars, md5(text) AS h, {_TOKS} AS toks FROM documents),
    d1 AS (SELECT * FROM raw WHERE doc_id IN (SELECT MIN(doc_id) FROM raw GROUP BY h)),
    q AS (SELECT * FROM d1 WHERE n_chars >= 120 AND len(toks) >= 20),
    ev AS (SELECT DISTINCT h FROM raw WHERE doc_id % 97 = 0),
    dc AS (SELECT * FROM q WHERE doc_id % 97 <> 0 AND h NOT IN (SELECT h FROM ev)),
    nd AS (SELECT source, COUNT(*) AS n_dc FROM dc GROUP BY source),
    r AS (SELECT source, n_dc,
                 CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                      THEN LEAST(1.0, {_FL_EVEN_TARGET} * 1.0 / n_dc) ELSE 1.0 END AS rate
          FROM nd),
    samp AS (SELECT dc.* FROM dc JOIN r ON dc.source = r.source
             WHERE r.rate >= 1.0
                OR substr(md5(CAST(dc.doc_id AS VARCHAR)), 1, 6)
                   < lower(lpad(hex(CAST(floor(r.rate * 16777216) AS BIGINT)), 6, '0'))),
    pk AS (SELECT source, doc_id, len(toks) AS n_tok,
                  CAST(CEIL(len(toks) * 1.0 / {_FL_CHUNK}) AS BIGINT) AS n_chunks
           FROM samp),
    st AS (SELECT r2.source,
                  (SELECT COUNT(*) FROM raw WHERE raw.source = r2.source) AS n_raw,
                  (SELECT COUNT(*) FROM d1 WHERE d1.source = r2.source) AS n_dedup,
                  (SELECT COUNT(*) FROM q WHERE q.source = r2.source) AS n_quality,
                  (SELECT COUNT(*) FROM dc WHERE dc.source = r2.source) AS n_decontam,
                  (SELECT COUNT(*) FROM samp WHERE samp.source = r2.source) AS n_sampled,
                  (SELECT COALESCE(CAST(SUM(n_chunks) AS BIGINT), 0) FROM pk WHERE pk.source = r2.source) AS n_chunks,
                  (SELECT COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM pk WHERE pk.source = r2.source) AS total_tokens
           FROM (SELECT DISTINCT source FROM raw) r2)
    SELECT source, CAST(n_raw AS BIGINT) AS n_raw, CAST(n_dedup AS BIGINT) AS n_dedup,
           CAST(n_quality AS BIGINT) AS n_quality, CAST(n_decontam AS BIGINT) AS n_decontam,
           CAST(n_sampled AS BIGINT) AS n_sampled, n_chunks, total_tokens,
           ROUND(CASE WHEN n_chunks > 0 THEN total_tokens * 1.0 / (n_chunks * {_FL_CHUNK}) ELSE 0 END, 6) AS pack_utilization
    FROM st ORDER BY source
    """,
    description="flagship end-to-end LLM corpus pipeline as ONE hashed query: exact dedup (min doc_id per text md5) -> quality gate (n_chars>=120, >=20 tokens) -> decontamination (drop eval docs doc_id%97==0 AND train docs sharing an eval text hash) -> deterministic mixture sampling (even-numbered sources capped at 10 via the a093 md5-threshold rule, odd keep-all) -> 128-token context-window packing; per-source funnel counts at every stage + chunk totals + pack utilization pinned, so a regression in ANY composed stage moves the hash; only hash keys cross stage boundaries (text never rides a shuffle)",
)
def a0142_flagship_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.md5("text").alias("h"),
        F.size(X.tokens("text")).alias("n_tok"),
    )
    # r15 reshape (guide §2.4): the dedup semi-join (min doc_id per h)
    # AND the eval-hash anti-join both key on h, so ONE unbounded window
    # over h computes both memberships as row flags in a single
    # corpus-sized exchange — replacing the keep-aggregate + semi-join
    # shuffles and the ev_h distinct + broadcast anti-join. Every funnel
    # stage then becomes a boolean flag, and the six per-stage
    # per_source aggregates + five left joins collapse into TWO
    # conditional aggregates (st1 over all rows, st2 over sampled rows).
    # A/B at sf0.1: jobs 21 -> 9, warm 1.82 -> 0.98 s, cold 8.1 -> 1.5 s,
    # output byte-identical; at scale one shuffle of raw by h replaces
    # two (keep agg partials + semi-join re-shuffle).
    wh = Window.partitionBy("h")
    flg = (
        raw.select(
            "doc_id",
            "source",
            "n_chars",
            "n_tok",
            (F.col("doc_id") == F.min("doc_id").over(wh)).alias("is_d1"),
            (F.max(F.when(F.col("doc_id") % 97 == 0, 1).otherwise(0)).over(wh) == 1).alias(
                "has_ev"
            ),
        )
        .withColumn(
            "is_q",
            F.col("is_d1") & (F.col("n_chars") >= 120) & (F.col("n_tok") >= 20),
        )
        .withColumn(
            "is_dc",
            F.col("is_q") & (F.col("doc_id") % 97 != 0) & (~F.col("has_ev")),
        )
        .localCheckpoint(eager=False)  # funnel counts + sample probe; tokenize/hash once
    )
    st1 = flg.groupBy("source").agg(
        F.count("*").cast("long").alias("n_raw"),
        F.sum(F.when(F.col("is_d1"), 1).otherwise(0)).cast("long").alias("n_dedup"),
        F.sum(F.when(F.col("is_q"), 1).otherwise(0)).cast("long").alias("n_quality"),
        F.sum(F.when(F.col("is_dc"), 1).otherwise(0)).cast("long").alias("n_decontam"),
    ).localCheckpoint(eager=False)  # source-sized; feeds the rate broadcast AND the output join
    rate = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0,
        F.least(F.lit(1.0), F.lit(_FL_EVEN_TARGET) / F.col("n_decontam")),
    ).otherwise(F.lit(1.0))
    r = st1.select("source", rate.alias("rate"))
    thresh = F.lower(F.lpad(F.hex(F.floor(F.col("rate") * 16777216).cast("long")), 6, "0"))
    samp = (
        flg.filter(F.col("is_dc"))
        .join(F.broadcast(r), "source")
        .filter(
            (F.col("rate") >= 1.0)
            | (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6) < thresh)
        )
    )
    st2 = samp.groupBy("source").agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum(F.ceil(F.col("n_tok") / _FL_CHUNK)).cast("long").alias("n_chunks"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )
    st = st1.join(st2, "source", "left")
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)  # noqa: E731
    return st.select(
        "source",
        z("n_raw"),
        z("n_dedup"),
        z("n_quality"),
        z("n_decontam"),
        z("n_sampled"),
        z("n_chunks"),
        z("total_tokens"),
        F.round(
            F.when(
                F.coalesce("n_chunks", F.lit(0)) > 0,
                F.col("total_tokens") / (F.col("n_chunks") * _FL_CHUNK),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("pack_utilization"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# a0110 (ex-a0183) — Hilbert-curve layout vs Z-order: the other space-filling
# curve lakehouses cluster by (Hilbert preserves locality strictly
# better than Morton — no "seam jumps" — which is why Delta chose it
# for liquid clustering). Both keys are computed on the SAME min-max
# normalized 8-bit (x, y) domain; rows bucket into 64 equal-width
# curve ranges ("files") per layout and the audit reports each
# layout's mean per-file key-span footprint — the statistic a scan
# planner prunes on; smaller mean span = better multi-column skipping.
#
# The Hilbert transform is the classic xy2d bit loop (Wikipedia
# formulation: per level s, quadrant digit (3*rx) XOR ry, then the
# flip n-1-coordinate + swap rotation). Each of the 8 levels is
# materialized as its OWN projection stage: the rotation references
# x/y several times, and chaining selects keeps the expression tree
# linear in levels instead of exponential (Catalyst will not collapse
# projections that would duplicate non-cheap expressions).
# pytest pins the unit-distance adjacency property (consecutive d →
# grid neighbors), i.e. that the implementation IS a Hilbert curve.
# ---------------------------------------------------------------------------

_H_BITS = 8  # 8 bits per axis -> 16-bit curve index, n = 256
_H_N = 1 << _H_BITS
_H_FILES = 100  # deliberately NOT a power of 4: at 4^k files both curves degenerate to identical aligned quadrant blocks; misaligned ranges expose the locality difference


def hilbert_stages(df: DataFrame, x: str = "x", y: str = "y", out: str = "hval") -> DataFrame:
    """Append the Hilbert index of (df[x], df[y]) — both in [0, 2^8) —
    as one chained projection per bit level."""
    cur = df.withColumn(out, F.lit(0).cast("long"))
    for i in range(_H_BITS - 1, -1, -1):
        s = 1 << i
        rx = (F.col(x) / s).cast("long") % 2
        ry = (F.col(y) / s).cast("long") % 2
        digit = (
            F.when((rx == 0) & (ry == 0), 0)
            .when(rx == 0, 1)
            .when(ry == 0, 3)
            .otherwise(2)
        )
        nx = F.when(ry == 1, F.col(x)).otherwise(
            F.when(rx == 1, F.lit(_H_N - 1) - F.col(y)).otherwise(F.col(y))
        )
        ny = F.when(ry == 1, F.col(y)).otherwise(
            F.when(rx == 1, F.lit(_H_N - 1) - F.col(x)).otherwise(F.col(x))
        )
        cur = cur.select(
            *[c for c in cur.columns if c not in (x, y, out)],
            (F.col(out) + F.lit(s * s) * digit).alias(out),
            nx.alias(x),
            ny.alias(y),
        )
    return cur


def _hilbert_sql_ctes(src: str) -> str:
    """DuckDB CTE chain mirroring hilbert_stages bit-for-bit; `src`
    must expose (x, y, px, py) with px/py the preserved originals."""
    ctes = []
    prev = src
    for lvl, i in enumerate(range(_H_BITS - 1, -1, -1)):
        s = 1 << i
        d_prev = "0" if lvl == 0 else "hval"
        ctes.append(
            f"""h{lvl} AS (
      SELECT px, py,
             {d_prev} + {s * s} * (CASE WHEN (x // {s}) % 2 = 0 AND (y // {s}) % 2 = 0 THEN 0
                                        WHEN (x // {s}) % 2 = 0 THEN 1
                                        WHEN (y // {s}) % 2 = 0 THEN 3
                                        ELSE 2 END) AS hval,
             CASE WHEN (y // {s}) % 2 = 1 THEN x
                  WHEN (x // {s}) % 2 = 1 THEN {_H_N - 1} - y ELSE y END AS x,
             CASE WHEN (y // {s}) % 2 = 1 THEN y
                  WHEN (x // {s}) % 2 = 1 THEN {_H_N - 1} - x ELSE x END AS y
      FROM {prev})"""
        )
        prev = f"h{lvl}"
    return ",\n    ".join(ctes)


# The oracle's generated pieces: the Hilbert CTE chain and the Z-order
# bit-interleave sum, built here so the f-string below stays legible.
_H_CTES = _hilbert_sql_ctes("src")
_H_ZTERMS = " + ".join(
    f"(((px // {1 << i}) % 2) * {1 << (2 * i)}) + (((py // {1 << i}) % 2) * {1 << (2 * i + 1)})"
    for i in range(_H_BITS)
)


@query(
    "a0110_hilbert_layout",
    oracle=f"""
    WITH li AS (SELECT l_partkey AS xr, l_suppkey AS yr FROM lineitem),
    b AS (SELECT MIN(xr) AS xmn, MAX(xr) AS xmx, MIN(yr) AS ymn, MAX(yr) AS ymx FROM li),
    n AS (SELECT CASE WHEN xmx = xmn THEN 0
                      ELSE CAST(FLOOR(1.0 * (xr - xmn) * {_H_N - 1} / (xmx - xmn)) AS BIGINT) END AS x,
                 CASE WHEN ymx = ymn THEN 0
                      ELSE CAST(FLOOR(1.0 * (yr - ymn) * {_H_N - 1} / (ymx - ymn)) AS BIGINT) END AS y
          FROM li CROSS JOIN b),
    src AS (SELECT x, y, x AS px, y AS py FROM n),
    {_H_CTES},
    hf AS (SELECT 'hilbert' AS layout, hval // {(_H_N * _H_N) // _H_FILES} AS file_id, px, py
           FROM h{_H_BITS - 1}),
    zf AS (SELECT 'zorder' AS layout, ({_H_ZTERMS}) // {(_H_N * _H_N) // _H_FILES} AS file_id, px, py
           FROM src),
    u AS (SELECT * FROM hf UNION ALL SELECT * FROM zf),
    fs AS (SELECT layout, file_id, COUNT(*) AS n_rows,
                  (MAX(px) - MIN(px)) + (MAX(py) - MIN(py)) AS span
           FROM u GROUP BY layout, file_id)
    SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           ROUND(AVG(span * 1.0 / (2 * {_H_N - 1})), 6) AS avg_span_frac,
           ROUND(MAX(span * 1.0 / (2 * {_H_N - 1})), 6) AS max_span_frac
    FROM fs GROUP BY layout ORDER BY layout
    """,
    description="Hilbert-curve layout clustering vs Z-order on the SAME normalized 8-bit (partkey, suppkey) domain (the space-filling-curve choice behind Delta liquid clustering vs OPTIMIZE ZORDER): classic xy2d bit-level transform — quadrant digit (3rx XOR ry), flip+swap rotation — materialized one projection per level so the expression tree stays linear; 64 equal-width curve-range 'files' per layout, per-file two-column key-span footprints aggregated to the mean/max span fraction a scan planner prunes on; Hilbert's strictly-better locality shows as a lower avg span; the unit-step adjacency property is pytest-pinned",
)
def a0110_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("long").alias("xr"), F.col("l_suppkey").cast("long").alias("yr")
    )
    b = li.agg(
        F.min("xr").alias("xmn"),
        F.max("xr").alias("xmx"),
        F.min("yr").alias("ymn"),
        F.max("yr").alias("ymx"),
    )

    def norm(raw: str, mn: str, mx: str):
        return (
            F.when(F.col(mx) == F.col(mn), F.lit(0))
            .otherwise(
                F.floor(1.0 * (F.col(raw) - F.col(mn)) * (_H_N - 1) / (F.col(mx) - F.col(mn)))
            )
            .cast("long")
        )

    src = li.crossJoin(F.broadcast(b)).select(
        norm("xr", "xmn", "xmx").alias("x"),
        norm("yr", "ymn", "ymx").alias("y"),
        norm("xr", "xmn", "xmx").alias("px"),
        norm("yr", "ymn", "ymx").alias("py"),
    )
    per_file = (_H_N * _H_N) // _H_FILES
    hf = hilbert_stages(src).select(
        F.lit("hilbert").alias("layout"),
        (F.col("hval") / per_file).cast("long").alias("file_id"),
        "px",
        "py",
    )
    zf = src.select(
        F.lit("zorder").alias("layout"),
        (zorder_value(F.col("px"), F.col("py"), bits=_H_BITS) / per_file)
        .cast("long")
        .alias("file_id"),
        "px",
        "py",
    )
    u = hf.unionByName(zf)
    fs = u.groupBy("layout", "file_id").agg(
        F.count("*").alias("n_rows"),
        ((F.max("px") - F.min("px")) + (F.max("py") - F.min("py"))).alias("span"),
    )
    return (
        fs.groupBy("layout")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.round(F.avg(F.col("span") / (2.0 * (_H_N - 1))), 6).alias("avg_span_frac"),
            F.round(F.max(F.col("span") / (2.0 * (_H_N - 1))), 6).alias("max_span_frac"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# a0122 (ex-a0195) — compaction planning (the OPTIMIZE small-file problem): given
# a file inventory (here: per-(returnflag, linestatus, shipmonth)
# lineitem partitions with their estimated byte sizes), pack files
# into merge bins of a target size by the size-descending next-fit
# rule — sort by size desc, running cumulative sum, bin =
# floor(prev_cumsum / target). Deterministic, one bounded window over
# the FILE INVENTORY (never the data), and the audit reports per-bin
# fill — exactly what an OPTIMIZE planner submits as merge tasks.
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 512 * 1024  # bytes per merge bin


@query(
    "a0122_compaction_plan",
    oracle=f"""
    WITH files AS (SELECT l_returnflag, l_linestatus,
                          CAST(strftime(l_shipdate, '%Y-%m') AS VARCHAR) AS m,
                          COUNT(*) * 96 AS bytes
                   FROM lineitem GROUP BY 1, 2, 3),
    o AS (SELECT bytes,
                 COALESCE(SUM(bytes) OVER (ORDER BY bytes DESC, l_returnflag, l_linestatus, m
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS prev_sum
          FROM files),
    b AS (SELECT bytes, CAST(prev_sum // {_COMPACT_TARGET} AS BIGINT) AS bin FROM o)
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           ROUND(SUM(bytes) * 1.0 / {_COMPACT_TARGET}, 6) AS fill_frac
    FROM b GROUP BY bin ORDER BY bin
    """,
    description="compaction planning (the OPTIMIZE small-file problem): a file inventory (per-(returnflag, linestatus, shipmonth) partition byte estimates) packed into target-size merge bins by the deterministic size-descending next-fit rule — running cumulative sum over ONE bounded window on the inventory frame (never the data), bin = prev_cumsum div target; per-bin file counts and fill fractions are the merge-task manifest an OPTIMIZE planner submits",
)
def a0122_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    files = li.groupBy(
        "l_returnflag", "l_linestatus", F.date_format("l_shipdate", "yyyy-MM").alias("m")
    ).agg((F.count("*") * 96).alias("bytes"))
    w = Window.orderBy(
        F.col("bytes").desc(), "l_returnflag", "l_linestatus", "m"
    ).rowsBetween(Window.unboundedPreceding, -1)
    o = files.select("bytes", F.coalesce(F.sum("bytes").over(w), F.lit(0)).alias("prev_sum"))
    b = o.select("bytes", (F.col("prev_sum") / _COMPACT_TARGET).cast("long").alias("bin"))
    return (
        b.groupBy("bin")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("bytes").cast("long").alias("total_bytes"),
            F.round(F.sum("bytes") / F.lit(float(_COMPACT_TARGET)), 6).alias("fill_frac"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# a0129 (ex-a0202) — in-batch negative audit (contrastive training prep): docs are
# hash-assigned to batches of ~8; within a batch every ordered pair is
# an (anchor, negative) candidate, and pairs sharing a source are FALSE
# negatives — the collision rate this audit measures is exactly the
# quantity in-batch-negative training quietly degrades on. Pair
# generation is batch-local (8 rows -> 56 pairs), never corpus-
# quadratic; batch ids are md5-derived so the plan is epoch- and
# partitioning-stable.
# ---------------------------------------------------------------------------

_NEG_BATCH = 8


@query(
    "a0129_inbatch_negatives",
    oracle=f"""
    WITH d AS (SELECT doc_id, source,
                      CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                          % {_NEG_BATCH} AS slot,
                      CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 9, 8)) AS BIGINT)
                          AS ord
               FROM documents),
    b AS (SELECT doc_id, source,
                 CAST(ROW_NUMBER() OVER (ORDER BY slot, ord, doc_id) - 1 AS BIGINT)
                     // {_NEG_BATCH} AS batch
          FROM d),
    p AS (SELECT a.batch, a.source AS src_a, bb.source AS src_b,
                 a.source = bb.source AS collision
          FROM b a JOIN b bb ON a.batch = bb.batch AND a.doc_id <> bb.doc_id)
    SELECT CAST(COUNT(DISTINCT batch) AS BIGINT) AS n_batches,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN collision THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negatives,
           ROUND(SUM(CASE WHEN collision THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
               AS false_negative_rate
    FROM p
    """,
    description="in-batch negative sampling audit (contrastive training prep): docs hash-assigned to batches of 8 (md5-derived slot+order, epoch- and partitioning-stable), every ordered in-batch pair an (anchor, negative) candidate; pairs sharing a source are FALSE negatives and the audit pins the batch count, pair count, and false-negative collision rate — pair generation is batch-local (56 pairs per batch), never corpus-quadratic",
)
def a0129_inbatch_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
            % _NEG_BATCH
        ).alias("slot"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10)
        .cast("long")
        .alias("ord"),
    )
    # NOTE: the global row_number is the oracle-parity formulation at
    # test scale; at cluster scale batches come straight from the hash
    # (batch = md5 mod n_batches) with no global sort — the audit's
    # statistics are identical in distribution.
    b = d.select(
        "doc_id",
        "source",
        ((F.row_number().over(Window.orderBy("slot", "ord", "doc_id")) - 1) / _NEG_BATCH)
        .cast("long")
        .alias("batch"),
    )
    p = (
        b.alias("a")
        .join(
            b.alias("bb"),
            (F.col("a.batch") == F.col("bb.batch")) & (F.col("a.doc_id") != F.col("bb.doc_id")),
        )
        .select(
            F.col("a.batch").alias("batch"),
            (F.col("a.source") == F.col("bb.source")).alias("collision"),
        )
    )
    return p.agg(
        F.countDistinct("batch").alias("n_batches"),
        F.count("*").alias("n_pairs"),
        F.sum(F.col("collision").cast("long")).alias("n_false_negatives"),
        F.round(F.sum(F.col("collision").cast("long")) / F.count("*"), 6).alias(
            "false_negative_rate"
        ),
    )


# ---------------------------------------------------------------------------
# a0131 (ex-a0204) — curriculum sharding: order the corpus by a quality score and
# cut it into k curriculum shards (easy -> hard), verifying the
# property curriculum training needs — monotone mean quality across
# shards — plus per-shard source mixture entropy (a curriculum that
# accidentally sorts by source would collapse the mixture). Ranking
# via ntile over the score ordering; everything else is per-shard
# aggregates.
# ---------------------------------------------------------------------------

_CURR_SHARDS = 5


@query(
    "a0131_curriculum_shards",
    oracle=f"""
    WITH s AS (SELECT doc_id, source, n_chars,
                      (CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
                       % 1000) / 1000.0 + n_chars / 1000.0 AS quality,
                      NTILE({_CURR_SHARDS}) OVER (ORDER BY
                        (CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
                         % 1000) / 1000.0 + n_chars / 1000.0, doc_id) AS shard
               FROM documents),
    m AS (SELECT shard, source, COUNT(*) AS c FROM s GROUP BY shard, source),
    tot AS (SELECT shard, CAST(SUM(c) AS DOUBLE) AS n FROM m GROUP BY shard),
    ent AS (SELECT m.shard, -SUM((c / n) * ln(c / n)) AS h
            FROM m JOIN tot ON m.shard = tot.shard GROUP BY m.shard)
    SELECT CAST(s.shard AS BIGINT) AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(quality), 6) AS mean_quality,
           ROUND(MIN(quality), 6) AS min_quality,
           ROUND(MAX(quality), 6) AS max_quality,
           ROUND(MAX(ent.h), 6) AS source_entropy
    FROM s JOIN ent ON s.shard = ent.shard
    GROUP BY s.shard ORDER BY s.shard
    """,
    description="curriculum sharding (easy->hard training-order prep): corpus ranked by a deterministic quality score (hash jitter + length term) and cut into 5 ntile shards; per-shard mean/min/max quality pins the monotone-difficulty property curriculum training needs, and per-shard source-mixture entropy pins that the curriculum does not collapse the source mix; one ntile window over the score ordering, per-shard aggregates otherwise",
)
def a0131_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    quality = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast("long")
        % 1000
    ) / 1000.0 + F.col("n_chars") / 1000.0
    s = docs.select(
        "doc_id",
        "source",
        quality.alias("quality"),
        F.ntile(_CURR_SHARDS).over(Window.orderBy(quality, "doc_id")).alias("shard"),
    ).localCheckpoint(eager=False)
    m = s.groupBy("shard", "source").agg(F.count("*").alias("c"))
    tot = m.groupBy("shard").agg(F.sum("c").cast("double").alias("n"))
    pr = F.col("c") / F.col("n")
    ent = (
        m.join(tot, "shard")
        .select("shard", (-pr * F.log(pr)).alias("plp"))
        .groupBy("shard")
        .agg(F.sum("plp").alias("h"))
    )
    return (
        s.join(ent, "shard")
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("quality"), 6).alias("mean_quality"),
            F.round(F.min("quality"), 6).alias("min_quality"),
            F.round(F.max("quality"), 6).alias("max_quality"),
            F.round(F.max("h"), 6).alias("source_entropy"),
        )
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_docs",
            "mean_quality",
            "min_quality",
            "max_quality",
            "source_entropy",
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# a0128 (ex-a0201) — span-corruption masking plan (T5/UL2 denoising prep): for
# every document, a deterministic plan of non-overlapping mask spans at
# 15% corruption rate with mean span 3 — the doc is cut into n_spans
# strata, each stratum hosts one span whose offset comes from
# md5(doc_id, span_idx), so the plan is epoch- and engine-stable and
# spans can never overlap by construction. One bounded explode per doc
# (n_spans rows), per-source rollup pinned.
# ---------------------------------------------------------------------------

_SC_RATE_NUM, _SC_RATE_DEN = 15, 100  # 15% corruption
_SC_MEAN_SPAN = 3


@query(
    "a0128_span_corruption_plan",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, len({_TOKS}) AS n_tok FROM documents),
    p AS (SELECT doc_id, source, n_tok,
                 (n_tok * {_SC_RATE_NUM}) // {_SC_RATE_DEN} AS n_corrupt
          FROM d WHERE n_tok >= 8),
    q AS (SELECT *, CAST(CEIL(n_corrupt * 1.0 / {_SC_MEAN_SPAN}) AS BIGINT) AS n_spans
          FROM p WHERE n_corrupt > 0),
    sp AS (SELECT doc_id, source, n_tok, n_corrupt, n_spans, CAST(i AS BIGINT) AS i,
                  (i * n_tok) // n_spans AS st,
                  ((i + 1) * n_tok) // n_spans AS en,
                  n_corrupt // n_spans
                  + CASE WHEN i < n_corrupt % n_spans THEN 1 ELSE 0 END AS want_len
           FROM q, unnest(range(0, 100)) t(i) WHERE i < n_spans),
    s2 AS (SELECT doc_id, source, i, st, en,
                  LEAST(want_len, en - st) AS span_len,
                  st + CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#'
                                                   || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
                       % GREATEST(1, en - st - LEAST(want_len, en - st) + 1) AS span_start
           FROM sp),
    agg AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_spans,
                   CAST(SUM(span_len) AS BIGINT) AS total_masked
            FROM s2 GROUP BY source),
    tok AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS total_tokens
            FROM p GROUP BY source)
    SELECT agg.source, CAST(n_docs AS BIGINT) AS n_docs, CAST(agg.n_spans AS BIGINT) AS n_spans,
           total_masked, ROUND(total_masked * 1.0 / total_tokens, 6) AS mask_rate,
           ROUND(total_masked * 1.0 / agg.n_spans, 6) AS avg_span_len
    FROM agg JOIN tok ON agg.source = tok.source ORDER BY agg.source
    """,
    description="span-corruption masking plan (T5/UL2 denoising prep): deterministic non-overlapping mask spans at 15% corruption / mean span 3 — each doc cut into n_spans strata, one span per stratum with an md5(doc_id, span_idx)-derived offset, so the plan is epoch- and engine-stable and overlap is impossible by construction; one bounded per-doc explode, per-source span/mask-rate rollup pinned",
)
def a0128_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source", F.size(X.tokens("text")).alias("n_tok"))
    p = d.filter(F.col("n_tok") >= 8).select(
        "doc_id",
        "source",
        "n_tok",
        ((F.col("n_tok") * _SC_RATE_NUM) / _SC_RATE_DEN).cast("long").alias("n_corrupt"),
    )
    p = p.localCheckpoint(eager=False)  # span plan + token totals
    q = p.filter(F.col("n_corrupt") > 0).withColumn(
        "n_spans", F.ceil(F.col("n_corrupt") / _SC_MEAN_SPAN).cast("long")
    )
    sp = q.select(
        "doc_id",
        "source",
        "n_tok",
        "n_corrupt",
        "n_spans",
        F.explode(F.sequence(F.lit(0), F.col("n_spans") - 1)).alias("i"),
    ).select(
        "doc_id",
        "source",
        "i",
        ((F.col("i") * F.col("n_tok")) / F.col("n_spans")).cast("long").alias("st"),
        (((F.col("i") + 1) * F.col("n_tok")) / F.col("n_spans")).cast("long").alias("en"),
        (
            (F.col("n_corrupt") / F.col("n_spans")).cast("long")
            + F.when(F.col("i") < F.col("n_corrupt") % F.col("n_spans"), 1).otherwise(0)
        ).alias("want_len"),
    )
    span_len = F.least(F.col("want_len"), F.col("en") - F.col("st"))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#"), F.col("i").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    s2 = sp.select(
        "doc_id",
        "source",
        span_len.alias("span_len"),
        (
            F.col("st")
            + h % F.greatest(F.lit(1), F.col("en") - F.col("st") - span_len + 1)
        ).alias("span_start"),
    )
    agg = s2.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_spans"),
        F.sum("span_len").cast("long").alias("total_masked"),
    )
    tok = p.groupBy("source").agg(F.sum("n_tok").cast("long").alias("total_tokens"))
    return (
        agg.join(tok, "source")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_spans").cast("long").alias("n_spans"),
            "total_masked",
            F.round(F.col("total_masked") / F.col("total_tokens"), 6).alias("mask_rate"),
            F.round(F.col("total_masked") / F.col("n_spans"), 6).alias("avg_span_len"),
        )
        .orderBy("source")
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


# ---------------------------------------------------------------------------
# a0051 — zone-map pruning audit over a sort-clustered layout: write a
# lineitem mirror globally sorted by l_orderkey and split at
# maxRecordsPerFile=8192 (so each file's [min,max] key range is a
# disjoint slice of the sorted key multiset), read the REAL zone maps
# back (per-file min/max/count via input_file_name), and evaluate 8
# evenly-spaced 1/16-width range predicates against them — files
# touched, rows in touched files, pruned fraction. The oracle rebuilds
# the zones from rank arithmetic (key at rank i·8192… — deterministic
# even under duplicate-key tie reordering, because boundaries cut the
# SORTED MULTISET at fixed positions). This is the data-skipping story
# sort clustering buys at 100 TB: 1/16-range scans should touch ≈ 1/16
# of files, and the hash fails if the layout or the zone read lies.
# ---------------------------------------------------------------------------

_ZM_RECORDS = 8192
_ZM_PREDS = 8


@query(
    "a0051_zonemap_pruning",
    oracle=f"""
    WITH ranked AS (
      SELECT l_orderkey AS k, ROW_NUMBER() OVER (ORDER BY l_orderkey) AS rn
      FROM lineitem
    ),
    zones AS (
      SELECT CAST(FLOOR((rn - 1) / {_ZM_RECORDS}) AS BIGINT) AS f,
             MIN(k) AS zmin, MAX(k) AS zmax, COUNT(*) AS cnt
      FROM ranked GROUP BY 1
    ),
    nf AS (SELECT COUNT(*) AS n_files FROM zones),
    rng AS (SELECT MIN(l_orderkey) AS mn, MAX(l_orderkey) AS mx FROM lineitem),
    preds AS (
      SELECT CAST(p AS BIGINT) AS pred_id,
             mn + CAST(FLOOR((p - 1) * (mx - mn + 1) / {_ZM_PREDS}) AS BIGINT) AS lo,
             mn + CAST(FLOOR((p - 1) * (mx - mn + 1) / {_ZM_PREDS}) AS BIGINT)
                + CAST(FLOOR((mx - mn + 1) / {2 * _ZM_PREDS}) AS BIGINT) AS hi
      FROM (SELECT unnest(generate_series(1, {_ZM_PREDS})) AS p) CROSS JOIN rng
    )
    SELECT p.pred_id, CAST(p.lo AS BIGINT) AS lo, CAST(p.hi AS BIGINT) AS hi,
           (SELECT n_files FROM nf) AS n_files,
           CAST(COUNT(z.f) AS BIGINT) AS n_touched,
           CAST(COALESCE(SUM(z.cnt), 0) AS BIGINT) AS rows_touched,
           ROUND(1.0 - COUNT(z.f) * 1.0 / (SELECT n_files FROM nf), 6) AS pruned_frac
    FROM preds p LEFT JOIN zones z ON z.zmin <= p.hi AND z.zmax >= p.lo
    GROUP BY p.pred_id, p.lo, p.hi
    ORDER BY pred_id
    """,
    description=f"zone-map pruning audit over a sort-clustered mirror: lineitem globally sorted by l_orderkey, split at maxRecordsPerFile={_ZM_RECORDS}, REAL per-file min/max/count zone maps read back via input_file_name, and {_ZM_PREDS} evenly-spaced 1/{2 * _ZM_PREDS}-width range predicates evaluated against them (files touched, rows in touched files, pruned fraction); the oracle rebuilds zones from sorted-rank arithmetic — duplicate-key tie order can't change them because file boundaries cut the sorted multiset at fixed positions — proving sort clustering's data-skipping payoff end to end",
)
def a0051_zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    mirror = _mirror_dir(sf_dir, "zonemap", "lineitem")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    # Single-stream sorted write: file boundaries must cut the sorted
    # multiset at exact global ranks i*8192 for the oracle's rank
    # arithmetic to reproduce the zones (a distributed orderBy samples
    # range boundaries non-deterministically, so DuckDB could not).
    # This write IS the query's cost at sf1.0 — 11.1 s of the 12.3 s
    # total; the zone read + 8-predicate audit is ~1.2 s. At 100 TB the
    # sort-cluster write is a parallel repartitionByRange job whose
    # zones any engine reads the same way; the single stream here is
    # an oracle-determinism harness choice, not the scale design.
    (
        li.repartition(1)
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", _ZM_RECORDS)
        .parquet(mirror)
    )
    zones = (
        spark.read.parquet(mirror)
        .select(F.input_file_name().alias("path"), "l_orderkey")
        .groupBy("path")
        .agg(
            F.min("l_orderkey").alias("zmin"),
            F.max("l_orderkey").alias("zmax"),
            F.count("*").alias("cnt"),
        )
        .localCheckpoint(eager=False)
    )
    nf = zones.agg(F.count("*").alias("n_files"))
    rng = li.agg(F.min("l_orderkey").alias("mn"), F.max("l_orderkey").alias("mx"))
    span = F.col("mx") - F.col("mn") + 1
    preds = (
        spark.range(1, _ZM_PREDS + 1)
        .select(F.col("id").cast("long").alias("pred_id"))
        .crossJoin(F.broadcast(rng))
        .select(
            "pred_id",
            (F.col("mn") + ((F.col("pred_id") - 1) * span / _ZM_PREDS).cast("long")).alias("lo"),
            (
                F.col("mn")
                + ((F.col("pred_id") - 1) * span / _ZM_PREDS).cast("long")
                + (span / (2 * _ZM_PREDS)).cast("long")
            ).alias("hi"),
        )
        .crossJoin(F.broadcast(nf))
    )
    return (
        preds.join(
            zones,
            (F.col("zmin") <= F.col("hi")) & (F.col("zmax") >= F.col("lo")),
            "left",
        )
        .groupBy("pred_id", "lo", "hi", "n_files")
        .agg(
            F.count("path").cast("long").alias("n_touched"),
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("rows_touched"),
            F.round(1.0 - F.count("path") / F.col("n_files"), 6).alias("pruned_frac"),
        )
        .select(
            "pred_id",
            F.col("lo").cast("long").alias("lo"),
            F.col("hi").cast("long").alias("hi"),
            F.col("n_files").cast("long").alias("n_files"),
            "n_touched",
            "rows_touched",
            "pruned_frac",
        )
        .orderBy("pred_id")
    )


# ---------------------------------------------------------------------------
# a0069 — skip-gram context-pair extraction (the word2vec / embedding
# training-data prep): every token pairs with the next W tokens of its
# document (forward window, so each unordered co-occurrence is emitted
# once) weighted 1/distance — the classic distance-damped co-occurrence
# statistic embedding trainers consume. Pair generation is ROW-LOCAL
# (posexplode + tail slice over the token array, the a0093/a0053
# layout): ONE scan, one pair-level aggregate, no self-join; top pairs
# by damped weight with tie-free order. Same tokenizer as the text
# stack.
# ---------------------------------------------------------------------------

_SG_WINDOW = 3
_SG_TOP = 20


@query(
    "a0069_skipgram_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(regexp_replace(lower(text),
                 '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '') AS tk
      FROM documents
    ),
    centers AS (
      SELECT doc_id, tk, i, tk[i] AS center
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i)
    ),
    pairs AS (
      SELECT center, tk[i + j] AS context, j AS dist
      FROM centers, LATERAL (SELECT unnest(generate_series(1, {_SG_WINDOW})) AS j)
      WHERE i + j <= len(tk)
    ),
    agg AS (
      SELECT center, context, COUNT(*) AS n_pairs,
             SUM(1.0 / dist) AS w
      FROM pairs WHERE center <> context
      GROUP BY center, context
    )
    SELECT center, context, CAST(n_pairs AS BIGINT) AS n_pairs,
           ROUND(w, 6) AS damped_weight
    FROM agg
    -- order on the ROUNDED weight: raw float sums differ across engines
    -- at ~1e-12, which flips name-tiebreaks at the LIMIT boundary
    ORDER BY ROUND(w, 6) DESC, center, context
    LIMIT {_SG_TOP}
    """,
    description=f"skip-gram context-pair extraction (word2vec training-data prep): each token pairs with the next {_SG_WINDOW} tokens of its document, weighted 1/distance (forward window — each unordered co-occurrence emitted once); pair generation is row-local posexplode + tail slice over the token array (one scan, one aggregate, no self-join), top-{_SG_TOP} pairs by damped weight — the distance-damped co-occurrence statistic embedding trainers consume, on the shared text-stack tokenizer",
)
def a0069_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load_table(spark, sf_dir, "documents").select(X.tokens("text").alias("tk"))
    pairs = (
        toks.select(F.posexplode("tk").alias("i", "center"), "tk")
        .select(
            "center",
            F.posexplode(F.slice("tk", F.col("i") + 2, _SG_WINDOW)).alias("j", "context"),
        )
        .filter(F.col("center") != F.col("context"))
        .select("center", "context", (F.col("j") + 1).alias("dist"))
    )
    return (
        pairs.groupBy("center", "context")
        .agg(F.count("*").alias("n_pairs"), F.sum(1.0 / F.col("dist")).alias("w"))
        .orderBy(F.desc(F.round("w", 6)), "center", "context")
        .limit(_SG_TOP)
        .select(
            "center",
            "context",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round("w", 6).alias("damped_weight"),
        )
    )
