"""Text-analysis operators for LLM-data pipelines (BASELINE.json north star).

All operators are pure Column expressions (JVM-side, codegen'd) built from a
shared deterministic hash primitive (md5 over normalized strings) so every
result is reproducible across engines and cluster sizes — no Python UDFs in
any hot path.

This module is the one text front end of the corpus queries:

- ``tokens`` is the only word tokenizer (``normalize`` stays for the
  character paths: character n-grams, quality ratios);
- ``ngram_zip`` is the only n-gram primitive — the zipped-struct Column
  of a token array's offset slices; ``zip_ngram_rows`` is its row
  flat-map, joining or hashing each gram, and pair consumers read the
  struct elements of ``ngram_zip(toks, 2)`` directly;
- ``token_rows`` / ``word_ngram_rows`` / ``char_ngram_rows`` are the
  relational forms (tokens and grams as rows) for corpus-wide scans.

Canonical text pipeline: tokens → (n-grams | fingerprint | simhash |
stopword-profile). Each step is independently reusable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small per-language stopword profiles (public common-word lists) for the
# n-gram/stopword language-ID heuristic. Deliberately tiny — the operator's
# shape (profile intersect ratio) is what scales, not the word lists.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "los", "un", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"],
}


def normalize(text: Column | str) -> Column:
    """Lowercase and strip non-alphanumerics to spaces."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " ")


def tokens(text: Column | str) -> Column:
    """array<string> of normalized words (empty strings dropped) — the
    only word tokenizer; every word-level operator and query builds on it.

    Its words are those of split(trim(normalize(text)), ' +') — both split
    on maximal runs of non-alphanumerics — but in ONE regex pass over the
    string instead of regexp_replace + regex split (r9 A/B: 0.36 -> 0.20 s
    for the corpus tokenize at sf0.1; this is the hot path under every
    text operator). The two differ only on empty or all-punctuation
    text: ``tokens`` gives ``[]`` where the normalize split gives
    ``[""]``. The empty-token filter is a lambda, which Spark does not
    fuse into whole-stage codegen: the projection holding ``tokens``
    runs as its own operator below the codegen span that consumes it."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != "")


def simhash16(toks: Column) -> Column:
    """16-bit SimHash over the token multiset: bit j of each token is the
    high bit of md5 hex nibble j; simhash bit j = majority vote."""
    def bit_counter(j: int):
        def fold(acc, t):
            return acc + F.when(
                F.lit("89abcdef").contains(F.substring(F.md5(t), j + 1, 1)), 1
            ).otherwise(0)

        return fold

    n = F.size(toks)
    total = F.lit(0).cast("long")
    for j in range(16):
        cnt_j = F.aggregate(toks, F.lit(0), bit_counter(j))
        total = total + F.when(cnt_j * 2 > n, F.lit(1 << j)).otherwise(0).cast("long")
    return total


def fingerprint(toks: Column) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token set — catches reordered/duplicated-word near-dups exactly."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))


def stopword_hits(toks: Column, words: list[str]) -> Column:
    """Count of tokens (with multiplicity) in the stopword list."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_scores(toks: Column) -> dict[str, Column]:
    """Per-language stopword-hit ratio (0-safe)."""
    n = F.size(toks)
    return {
        lang: F.when(n > 0, stopword_hits(toks, ws) / n).otherwise(F.lit(0.0))
        for lang, ws in STOPWORDS.items()
    }


def predict_lang(toks: Column) -> Column:
    """Arg-max language with fixed precedence order (deterministic ties)."""
    s = lang_scores(toks)
    langs = list(STOPWORDS)
    expr = F.lit(langs[-1])
    # fold right-to-left: earlier languages win ties
    for lang in reversed(langs[:-1]):
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = s[lang] >= s[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return F.when(F.greatest(*[s[lang] for lang in langs]) > 0, expr).otherwise(F.lit("unknown"))


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count (raw split on single spaces)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(c, " "))


def token_count_bpe_ish(text: Column | str) -> Column:
    """BPE-ish token count: alpha runs, digit runs, and single punctuation
    marks each count as one token (regex identical across engines)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(F.lower(c), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0)))


# ---------------------------------------------------------------------------
# Relational-form text ops (DataFrame in/out). The Column-expression ops
# above are right for per-document features; corpus-wide scans want tokens/
# grams AS ROWS — flat codegen'd expressions, spread across cores, partial
# aggregation — because interpreted array-lambda evaluation costs ~50x more
# CPU per element.
# ---------------------------------------------------------------------------


# Per-split byte thresholds below which an under-partitioned text input
# is processed in place rather than repartitioned: the exchange stage
# only pays for itself when the single-split CPU it parallelizes
# exceeds the stage's fixed cost, and that break-even point depends on
# the consumer's CPU rate per byte. Cheap flat-maps (tokenize + xxhash:
# ~100 MB/s/core) need a big split to justify the shuffle; digest-bound
# paths (an md5 or more per gram: ~2-5 MB/s/core) repay it almost
# immediately.
SPREAD_CHEAP_CPU = 32 * 1024 * 1024
SPREAD_DIGEST_CPU = 256 * 1024


def _spread(
    docs: DataFrame, id_col: str, cols: list[str], min_split_bytes: int = SPREAD_DIGEST_CPU
) -> DataFrame:
    """Project, and hash-repartition by id ONLY when the input arrives
    under-partitioned (a small parquet is one split, serializing the
    per-row CPU on one core; AQE would coalesce a count-less exchange
    right back on byte volume, but the cost here is CPU per row, not
    bytes) AND carries enough bytes per split for the parallel CPU to
    repay the exchange stage (``min_split_bytes``, calibrated to the
    consumer's CPU rate — see the module constants). At cluster scale
    the scan already has >= parallelism splits and the guard makes this
    a pure projection — re-shuffling raw text just to spread CPU would
    be a 100-TB-sized exchange for nothing."""
    proj = docs.select(*[F.col(c) for c in dict.fromkeys([id_col, *cols])])
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    # Input split count is ESTIMATED from analyzed-plan byte stats and
    # spark.sql.files.maxPartitionBytes instead of materializing
    # docs.rdd: .rdd forces a full physical-planning pass at BUILD time
    # (~0.1-0.3 s per call, r14 py4j profile), while analyzed stats are
    # already computed by the eager analyzer. The estimate only feeds
    # this under-partitioned-input heuristic, where file-boundary
    # rounding is immaterial. The split size is SQLConf's parsed value,
    # so a unit-suffixed setting ('64m', '1g') counts as the scan does.
    try:
        size = int(str(docs._jdf.queryExecution().analyzed().stats().sizeInBytes()))
    except Exception:
        size = min_split_bytes * n_parts  # unknown -> assume big, spread
    mpb = docs.sparkSession._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    in_parts = max(1, -(-size // mpb))
    if in_parts >= n_parts:
        return proj
    if size / in_parts < min_split_bytes:
        return proj
    return proj.repartition(n_parts, F.col(id_col))


def token_rows(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", extra_cols: tuple = ()
) -> DataFrame:
    """Tokens as (id, extra..., _tok) rows, with multiplicity."""
    spread = _spread(docs, id_col, [*extra_cols, text_col], SPREAD_CHEAP_CPU)
    return spread.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], F.explode(tokens(text_col)).alias("_tok")
    )


def ngram_zip(arr: Column | str, n: int, distinct: bool = False) -> Column:
    """The n-grams of an array column, in order, as
    array<struct<g0, ..., g{n-1}>> — the one n-gram primitive.

    The array's n offset slices, each cut to the gram count
    max(size - n + 1, 0), are zipped, so an array shorter than n gives
    ``[]`` and no element is null-padded. Slice, arrays_zip and
    array_distinct are flat codegen expressions: no exchange and no
    lambda, unlike window-lead (a shuffle+sort per id) or an
    element-wise transform over sequence() (interpreted; ~50x the CPU
    per element).

    ``distinct=True`` drops repeated grams with array_distinct on the
    structs: all of a row's grams come from that one row, so per-row
    struct dedup IS per-document gram dedup (struct equality == gram
    equality) — the usual dropDuplicates exchange disappears, and
    downstream per-gram work shrinks by the repetition factor.

    Consumers that need the elements themselves (adjacent pairs read
    ``g0`` and ``g1``) explode this Column; ``zip_ngram_rows`` is the row
    flat-map that joins or hashes each gram."""
    c = F.col(arr) if isinstance(arr, str) else arr
    m = F.greatest(F.size(c) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(c, j + 1, m).alias(f"g{j}") for j in range(n)])
    return F.array_distinct(zipped) if distinct else zipped


def zip_ngram_rows(
    with_arr: DataFrame,
    arr_col: str,
    n: int,
    out_col: str,
    keep_cols: list[str],
    sep: str,
    distinct: bool,
    hashed: bool = False,
) -> DataFrame:
    """(keep_cols..., out_col) gram rows of an array column: the row
    flat-map of ``ngram_zip``, one whole-stage-codegen pass with NO
    exchange. Each gram's elements are joined with ``sep``; a gram
    whose last element is empty (the ``[""]`` of an empty text's
    character split) is dropped.

    The exploded rows carry only the gram plus keep_cols — the source
    array/string does NOT ride along (a doc-length string repeated per
    gram row is the hidden cost of substr-style n-gram plans).

    ``hashed=True`` emits ``xxhash64`` of the gram STRUCT instead of the
    joined string: the gram text is never materialized, and downstream
    join/groupBy keys are 8-byte longs. Struct identity == gram identity
    (xxhash64 folds fields with framing; elements cannot contain the
    separator), collisions ~n^2/2^65. Use when the consumer needs gram
    IDENTITY (joins, distinct counts), not gram TEXT."""
    gram = (
        F.xxhash64(F.col("_z"))
        if hashed
        else F.concat_ws(sep, *[F.col(f"_z.g{j}") for j in range(n)])
    )
    return (
        with_arr.select(
            *[F.col(c) for c in keep_cols], F.explode(ngram_zip(arr_col, n, distinct)).alias("_z")
        )
        .filter(F.col(f"_z.g{n - 1}") != "")
        .select(*[F.col(c) for c in keep_cols], gram.alias(out_col))
    )


def char_ngram_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    extra_cols: tuple = (),
    per_doc_distinct: bool = True,
) -> DataFrame:
    """Character n-grams as (id, extra..., gram) rows via the zip
    flat-map (see zip_ngram_rows) over the character array."""
    spread = _spread(docs, id_col, [*extra_cols, text_col])
    with_c = spread.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.split(normalize(text_col), "").alias("_chars"),
    )
    return zip_ngram_rows(
        with_c, "_chars", n, "gram", [id_col, *extra_cols], "", per_doc_distinct
    )


def word_ngram_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    extra_cols: tuple = (),
) -> DataFrame:
    """Word n-grams as (id, extra..., gram) rows WITH multiplicity — the
    input shape for repetition analysis (Gopher repetition signals need
    counts, not presence, so distinct=False)."""
    spread = _spread(docs, id_col, [*extra_cols, text_col])
    # No size(_toks) >= n pre-filter: Catalyst pushes such a filter BELOW
    # the token projection, substituting the full tokenize regex into the
    # predicate — the whole split+regexp then runs TWICE per row (r10 A/B:
    # 0.74 -> 0.56 s warm at sf0.1 for a092 from dropping it). Short docs
    # need none: their ngram_zip array is empty.
    with_t = spread.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], tokens(text_col).alias("_toks")
    )
    return zip_ngram_rows(with_t, "_toks", n, "gram", [id_col, *extra_cols], " ", False)


def repetition_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2,
    extra_cols: tuple = (),
) -> DataFrame:
    """Per-document repetition signals (Gopher-style repetition filters):

    - ``top_ngram_frac``: count of the single most frequent word n-gram
      over total n-grams (Gopher's 'top n-gram fraction');
    - ``dup_ngram_frac``: 1 - distinct/total n-grams (fraction of n-gram
      mass that is repeated occurrences).

    Two partial-aggregate shuffles — (id, gram) then (id) — both on
    short keys with map-side combine; no arrays survive past the explode,
    so the per-doc gram multiset never has to fit in one row."""
    grams = word_ngram_rows(docs, id_col, text_col, n=n, extra_cols=extra_cols)
    counts = grams.groupBy(id_col, *extra_cols, "gram").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.groupBy(id_col, *extra_cols).agg(
        (F.max("cnt") / F.sum("cnt")).alias("top_ngram_frac"),
        (F.lit(1.0) - F.count(F.lit(1)) / F.sum("cnt")).alias("dup_ngram_frac"),
        F.sum("cnt").alias("n_ngrams"),
    )


# PII regexes — identical strings are used in the DuckDB oracles, so the
# redaction rule itself is hash-pinned. Order matters: emails before URLs
# is safe here because the URL pattern cannot match a bare local@domain.
PII_PATTERNS: dict[str, str] = {
    "email": "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
    "url": "https?://[^ ]+",
    "phone": "555-[0-9]{4}",
}
PII_REDACTIONS: dict[str, str] = {"email": "<EMAIL>", "url": "<URL>", "phone": "<PHONE>"}


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-kind PII match counts (codegen'd regexp_extract_all)."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        kind: F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        for kind, pat in PII_PATTERNS.items()
    }


def scrub_pii(text: Column | str) -> Column:
    """Redact every PII pattern with its placeholder — the pre-training
    scrub step; chained regexp_replace, one projection, no UDF."""
    c = F.col(text) if isinstance(text, str) else text
    for kind, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, PII_REDACTIONS[kind])
    return c


def chunk_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 32,
    stride: int = 24,
    extra_cols: tuple = (),
) -> DataFrame:
    """Overlapping token-window chunks — context-window packing for
    training-data prep. One row per (doc, chunk): ``chunk_idx`` (1-based),
    ``chunk_len``, ``chunk_hash`` (64-bit xxhash64 of the token window).

    ``chunk_hash`` hashes the slice ARRAY directly (xxhash64 folds array
    elements with length framing, so no separator ambiguity): the window
    string is never materialized and no cryptographic digest runs per
    chunk — r5's md5(concat_ws) was the dominant cost of q94/q116 —
    and downstream groupBy/join keys are 8-byte longs instead of 32-char
    hex strings. Collision odds are ~n^2/2^65: negligible below
    trillions of chunks. Oracles verify content identity against the
    raw window string, so cross-engine hash parity is not required.

    sequence(1, n_tokens, stride) + explode + slice are all flat codegen
    expressions; the token array exists only within the projection, so
    the operator is a pure per-row flat-map — no shuffle at all."""
    if stride < 1 or width < 1:
        raise ValueError("width and stride must be >= 1")
    spread = _spread(docs, id_col, [*extra_cols, text_col], SPREAD_CHEAP_CPU)
    with_t = spread.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], tokens(text_col).alias("_toks")
    ).filter(F.size("_toks") > 0)
    starts = with_t.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.col("_toks"),
        F.explode(F.sequence(F.lit(1), F.size("_toks"), F.lit(stride))).alias("_start"),
    )
    chunk = F.slice(F.col("_toks"), F.col("_start"), width)
    return starts.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        ((F.col("_start") - 1) / stride + 1).cast("int").alias("chunk_idx"),
        F.size(chunk).alias("chunk_len"),
        F.xxhash64(chunk).alias("chunk_hash"),
    )


def quality_features_staged(
    docs: DataFrame, text_col: str = "text", keep: tuple[str, ...] = ("source",)
) -> DataFrame:
    """Quality-scoring features (length / punctuation ratios) as STAGED
    projections: each expensive intermediate (the normalized string, the
    token count) is materialized as a column in its own select, so it is
    evaluated exactly ONCE per row.

    A single projection would inline ``norm`` into every sibling feature
    column and ``n_tok`` into two CASE branches — codegen subexpression
    elimination does not hoist across conditional branches, so that plan
    evaluates the regex ~7x per row. Staged projections survive
    CollapseProject (Catalyst refuses to duplicate non-cheap expressions),
    leaving exactly one regexp_replace + one regexp_count in the plan —
    tests/test_plans.py asserts this shape for q45."""
    c = F.col(text_col)
    s1 = docs.select(
        *keep,
        F.length(c).alias("n_chars"),
        (F.length(c) - F.length(F.translate(c, " ", ""))).alias("_spaces"),
        normalize(c).alias("_norm"),
    )
    s2 = s1.select(
        *keep,
        "n_chars",
        "_spaces",
        F.regexp_count("_norm", F.lit("[a-z0-9]+")).alias("n_tokens"),
        F.length(F.translate("_norm", " ", "")).alias("_token_chars"),
    )
    return s2.select(
        *keep,
        "n_chars",
        "n_tokens",
        F.when(
            F.col("n_chars") > 0,
            (F.col("n_chars") - (F.col("_token_chars") + F.col("_spaces"))) / F.col("n_chars"),
        )
        .otherwise(0.0)
        .alias("punct_ratio"),
        F.when(F.col("n_tokens") > 0, F.col("_token_chars") / F.col("n_tokens"))
        .otherwise(0.0)
        .alias("avg_token_len"),
    )


def quality_score_from(n_tokens: Column, punct_ratio: Column, avg_token_len: Column) -> Column:
    """Composite 0..1 quality score over ALREADY-PROJECTED feature
    columns — use this after quality_features_staged, so the feature
    expressions are analyzed once, not re-derived inside the score tree
    (the optimizer will not collapse the two projections because that
    would duplicate non-cheap expressions)."""
    length_ok = n_tokens.between(20, 200).cast("double")
    punct_ok = (punct_ratio < 0.1).cast("double")
    wordlen_ok = avg_token_len.between(3.0, 10.0).cast("double")
    return (length_ok + punct_ok + wordlen_ok) / 3.0


def pack_assignments(
    docs: DataFrame,
    token_col: str,
    id_col: str = "doc_id",
    context_len: int = 4096,
    n_shards: int = 8,
) -> DataFrame:
    """Assign every document to a training pack: (id, shard, pack, tok).

    Greedy sequential packing by a shard-local running token sum — the
    doc lands in the pack where its first token falls (pack =
    prefix_sum // context_len). Sharding comes from an md5 hash of the
    id and the within-shard order from the next md5 chars, so the
    assignment is deterministic across engines/cluster sizes, and the
    prefix-sum window is PARTITIONED by shard — the corpus never
    funnels through a single-task global cumsum. Each shard is one
    worker's pack stream, exactly how multi-worker loaders consume
    packed data."""
    from pyspark.sql import Window as W

    shard = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 3), 16, 10).cast(
        "long"
    ) % n_shards
    ordc = F.substring(F.md5(F.col(id_col).cast("string")), 4, 8)
    t = docs.select(
        F.col(id_col), F.col(token_col).alias("tok"), shard.alias("shard"), ordc.alias("_ord")
    )
    w = W.partitionBy("shard").orderBy("_ord", id_col).rowsBetween(W.unboundedPreceding, 0)
    return t.select(
        id_col,
        "shard",
        (((F.sum("tok").over(w)) - F.col("tok")) / context_len).cast("long").alias("pack"),
        "tok",
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (distributed pair counting).
#
# Classic BPE (Sennrich et al. 2016) trains on the WORD-FREQUENCY
# table, not the raw corpus: one corpus scan produces (word, count),
# and every merge iteration runs over that vocabulary-sized frame.
# That is exactly the scale-safe shape — at 100 TB the corpus scan is
# the only big job; the iteration loop touches a few hundred thousand
# vocab rows. Reference analog: the tokenizer step upstream of any
# training corpus (absent in kaggle.py, which consumes tabular data;
# this is north-star extension surface like q93/q109/q110).
# ---------------------------------------------------------------------------


def char_symbols(word: Column | str) -> Column:
    """array<string> of single characters of `word` (no end-of-word
    marker — documented deviation from Sennrich's '</w>' variant; the
    merge semantics are otherwise identical)."""
    w = F.col(word) if isinstance(word, str) else word
    return F.transform(F.sequence(F.lit(1), F.length(w)), lambda i: F.substring(w, i, 1))


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, wcount) — the single corpus-sized scan BPE training needs."""
    return (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wcount"))
    )


def bpe_pair_counts(vocab: DataFrame, syms_col: str = "syms", weight_col: str = "wcount") -> DataFrame:
    """Weighted adjacent-pair counts over symbol arrays: (a, b, pair_count).

    The per-iteration workload of BPE training. Pairs explode from the
    vocabulary frame (not the corpus) and collapse through a map-side-
    combined aggregate, so the shuffle is pair-vocabulary-sized.
    """
    s = F.col(syms_col)
    pairs = vocab.select(
        F.col(weight_col),
        F.explode(
            # sequence(1, 0) DESCENDS in Spark — guard single-symbol rows
            F.when(
                F.size(s) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(s) - 1),
                    lambda i: F.struct(
                        F.element_at(s, i).alias("a"), F.element_at(s, i + 1).alias("b")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("_p"),
    )
    return (
        pairs.groupBy(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .agg(F.sum(weight_col).alias("pair_count"))
    )


def bpe_round0_pair_counts(
    vocab: DataFrame, word_col: str = "word", weight_col: str = "wcount"
) -> DataFrame:
    """Round-0 fast path of bpe_pair_counts, straight off the WORD string.

    Before any merge every symbol is a single character, so an adjacent
    symbol pair IS the 2-character substring at its position: explode
    the word's 2-grams as plain strings and split into (a, b) only
    AFTER the aggregate. vs the generic path (char_symbols array →
    pair-struct transform → explode struct), this materializes no
    symbol array and no struct, and the shuffle key is one short string
    instead of two — ~35% faster at sf0.1, same scale shape (pairs
    explode from the vocabulary frame, map-side combined aggregate).
    Only valid for round 0: after a merge, symbols are multi-char and
    concatenation would be ambiguous — iterations use bpe_pair_counts.
    """
    w = F.col(word_col)
    grams = F.transform(F.sequence(F.lit(1), F.length(w) - 1), lambda i: F.substring(w, i, 2))
    pairs = vocab.select(
        F.col(weight_col),
        F.explode(
            # sequence(1, 0) DESCENDS in Spark — guard single-char words
            F.when(F.length(w) >= 2, grams).otherwise(F.array().cast("array<string>"))
        ).alias("_bg"),
    )
    return (
        pairs.groupBy("_bg")
        .agg(F.sum(weight_col).alias("pair_count"))
        .select(
            F.substring("_bg", 1, 1).alias("a"),
            F.substring("_bg", 2, 1).alias("b"),
            "pair_count",
        )
    )


def bpe_merge_pair(vocab: DataFrame, a: str, b: str, syms_col: str = "syms") -> DataFrame:
    """Apply one merge (a,b) -> a||b greedily left-to-right inside every
    symbol array — a single aggregate() fold, no UDF. A freshly merged
    symbol does not immediately re-merge (standard single-pass BPE
    semantics: 'aaa' with pair (a,a) becomes [aa, a])."""
    merged = F.lit(a + b)

    # Fold equivalence to the classic skip-2 scan: a freshly merged
    # element is a||b, and a||b != a (b is non-empty), so the
    # acc[-1] == a test can never re-consume a just-merged symbol.
    def step(acc: Column, x: Column) -> Column:
        return F.when(
            # try_element_at: NULL (-> false) on the empty accumulator
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    return vocab.withColumn(
        syms_col,
        F.aggregate(F.col(syms_col), F.array().cast("array<string>"), step),
    )


def bpe_train(docs: DataFrame, n_merges: int, text_col: str = "text") -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merges. One corpus scan (word_counts), then
    an iteration loop over the vocabulary frame: count pairs, pick the
    most frequent (ties broken by (a, b) lexicographic — deterministic),
    rewrite the symbol arrays. The vocab frame is localCheckpointed
    each round to truncate the iterative lineage (the q114/CC lesson).

    Returns the ordered merge list; only one scalar row is collected
    per iteration.
    """
    vocab = word_counts(docs, text_col).withColumn("syms", char_symbols("word"))
    vocab = vocab.select("wcount", "syms").localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            bpe_pair_counts(vocab)
            .orderBy(F.desc("pair_count"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        vocab = bpe_merge_pair(vocab, a, b).localCheckpoint()
    return merges


def bpe_encode_repr(word: Column | str, merges: list[tuple[str, str]]) -> Column:
    """BPE-encode ``word`` by replaying ``merges`` in training order;
    returns the wrapped-symbol string form ``<s1><s2>...<sn>``.

    Each symbol rides inside its own ``<...>`` wrapper, so the literal
    pattern ``<a><b>`` asserts BOTH symbol boundaries without consuming
    the next pair's leading ``<`` — one native ``replace()`` per merge
    then reproduces ``bpe_merge_pair``'s greedy left-to-right skip-2
    semantics EXACTLY. (A space-delimited form cannot: either a
    boundary is unasserted — mid-symbol false matches — or the shared
    delimiter is consumed and runs like ``x x x x x`` segment
    differently from the trainer. Property-tested against
    ``bpe_apply_reference`` over random symbol runs.)

    Tokenizer output is ``[a-z0-9]+`` so ``<``/``>`` can never occur
    inside a symbol. Token count = number of ``>`` characters. The
    whole apply path is JVM string ops — no UDF, no explode, no
    shuffle — so encoding rides inside any projection at corpus scale;
    the merge list is the only driver-side state (n_merges tuples,
    broadcast as literals).

    Sequential replay (never revisiting earlier rules) reproduces the
    trainer's own vocabulary rewrites bit-for-bit; on unseen words it
    is the single-sweep variant of Sennrich encoding (a canonical
    encoder re-scans earlier rules when a later merge re-creates their
    pair — documented deviation, same flavor as char_symbols' missing
    '</w>')."""
    w = F.col(word) if isinstance(word, str) else word
    e = F.regexp_replace(w, "(.)", "<$1>")
    for a, b in merges:
        e = F.replace(e, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
    return e


def bpe_apply_reference(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pure-python encode oracle: the same greedy skip-2 single pass
    per merge rule that bpe_merge_pair folds and bpe_train_reference
    rewrites with."""
    syms = list(word)
    for a, b in merges:
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_train_reference(word_count_pairs: list[tuple[str, int]], n_merges: int) -> list[tuple[str, str]]:
    """Pure-python BPE trainer (test oracle for bpe_train): identical
    greedy left-to-right merge and (count desc, pair asc) tie-break."""
    vocab: list[tuple[list[str], int]] = [(list(w), c) for w, c in word_count_pairs]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        new_vocab = []
        for syms, c in vocab:
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab.append((out, c))
        vocab = new_vocab
    return merges


# ---------------------------------------------------------------------------
# SQL-callable table function (Python UDTF, SURVEY §2.12's UDTF row as
# a LITERAL table function rather than an explode-composition).
# ---------------------------------------------------------------------------


def make_chunk_udtf():
    """Python UDTF `chunk_text(text, width, stride)` -> rows of
    (chunk_idx, chunk_text, chunk_len): the chunk_rows operator exposed
    to SQL consumers as a lateral table function:

        SELECT d.doc_id, c.* FROM docs d, LATERAL chunk_text(d.text, 32, 24) c

    Same tokenization and window rule as chunk_rows (starts 0, stride,
    2*stride, ...; trailing windows may be short). The declarative
    chunk_rows stays the hot path (flat codegen, no Python); the UDTF
    is the SQL-surface adapter. Register with
    ``spark.udtf.register("chunk_text", make_chunk_udtf())``.
    """
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk_text string, chunk_len int")
    class ChunkText:
        def eval(self, text: str, width: int, stride: int):
            if text is None or width is None or stride is None or width < 1 or stride < 1:
                return
            toks = [t for t in _re.sub(r"[^a-z0-9 ]", " ", text.lower()).split(" ") if t]
            idx = 0
            for start in range(0, len(toks), stride):
                window = toks[start : start + width]
                if not window:
                    break
                idx += 1
                yield idx, " ".join(window), len(window)

    return ChunkText
