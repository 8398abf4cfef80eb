"""Deduplication operators for LLM-data pipelines (BASELINE.json north star).

Four tiers, cheapest first — the standard web-corpus dedup ladder:

1. exact        — md5(text) group-by (one shuffle on a 16-byte key)
2. fingerprint  — md5(sorted distinct token set): catches reorderings
3. SimHash      — 16-bit majority-vote hash: catches small edits
4. MinHash+LSH  — shingle → k-minhash signature → banded buckets →
                  candidate self-join → exact Jaccard verify

Scale notes: every tier is shuffle-on-short-key. The LSH candidate join is
the only quadratic-risk step and it is quadratic ONLY within a (band,
bucket) group. ``near_dup_pairs`` additionally ENFORCES a per-bucket cap:
bucket members are ranked by a deterministic hash and split into salted
sub-buckets of at most ``max_bucket_size`` rows, and candidates are
generated within a (band, bucket, salt) group only — so one
boilerplate-heavy bucket (the web-corpus adversarial case) costs
O(n * cap) instead of O(n^2), spread over n/cap tasks. Cross-sub-bucket
pairs missed in one band get re-chances in the other bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import text as X
from .fixpoint import fixpoint


def lsh_collision_probability(jaccard: float, bands: int, rows: int) -> float:
    """S-curve: P(two docs with this jaccard share >=1 LSH bucket)
    = 1 - (1 - s^rows)^bands."""
    return 1.0 - (1.0 - jaccard**rows) ** bands


def lsh_params(num_hashes: int, jaccard_threshold: float) -> tuple[int, int]:
    """Auto-pick (bands, rows) with bands*rows <= num_hashes whose
    S-curve inflection (1/bands)^(1/rows) — the similarity at ~50%
    collision probability — lands closest to the target threshold.

    The solve: for each per-band row count r, the ideal band count is
    b = t^(-r) (where the inflection equals t exactly); we round it,
    clamp to the hash budget, and keep the closest fit, preferring the
    banding that uses more of the budget on ties (sharper S-curve).
    More bands => catches lower similarity; more rows => stricter. This
    is the standard MMDS ch.3 tuning rule, made exact: 'near-dups above
    jaccard t' becomes concrete banding without hand-tuning."""
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    if not 0.0 < jaccard_threshold < 1.0:
        raise ValueError("jaccard_threshold must be in (0, 1)")
    best: tuple[float, int, int, int] | None = None
    for rows in range(1, num_hashes + 1):
        ideal = jaccard_threshold ** (-rows)
        for bands in {int(ideal), int(ideal) + 1}:
            bands = max(1, min(bands, num_hashes // rows))
            inflection = (1.0 / bands) ** (1.0 / rows)
            cand = (abs(inflection - jaccard_threshold), -bands * rows, bands, rows)
            if best is None or cand < best:
                best = cand
    return best[2], best[3]


def exact_dup_stats(docs: DataFrame, text_col: str = "text", by: str = "source") -> DataFrame:
    """Per-group exact / fingerprint duplicate statistics.

    Stays in the per-row expression form deliberately: one tokenize +
    fingerprint per document is cheap (unlike the per-shingle work in
    minhash, where the relational form wins), and the expression form
    needs no extra shuffles."""
    toks = X.tokens(text_col)
    enriched = docs.select(
        F.col(by),
        F.md5(F.col(text_col)).alias("exact_hash"),
        X.fingerprint(toks).alias("fp_hash"),
    )
    return enriched.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("exact_hash").alias("n_unique_exact"),
        F.countDistinct("fp_hash").alias("n_unique_fingerprint"),
    )


def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one row per exact text (lowest doc_id wins — deterministic,
    unlike dropDuplicates which keeps an arbitrary row)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(F.md5(F.col(text_col))).orderBy("doc_id")
    return docs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def shingle_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    distinct: bool = True,
    extra_cols: tuple = (),
    hashed: bool = False,
    spread: bool = True,
) -> DataFrame:
    """(id, shingle) rows — the relational form of the shingle set.

    Deliberately HOF-free AND shuffle-free: the token array is zipped
    with its own 1..n-1 offset slices (arrays_zip pads the shorter
    slices with null; the null tail is filtered after explode), so
    shingle generation is a pure per-row flat-map inside one
    whole-stage-codegen span. The array-lambda formulation
    (operators/text.py word_shingles) is semantically identical but its
    interpreted HOF evaluation costs ~50x more CPU per row, and the
    earlier window-lead() formulation paid a full shuffle+sort on the
    id just to pair adjacent tokens.

    The per-doc DISTINCT is also shuffle-free: all of a document's
    shingles derive from its single input row, so ``array_distinct`` on
    the zipped struct array BEFORE the explode is exactly per-document
    dedup (struct equality == shingle-string equality; tokens cannot
    contain the join space). This both avoids a (id, shingle) exchange
    and shrinks the rows flowing into downstream per-shingle hashing —
    on repetitive corpora the k-minhash md5 work drops by the dup
    factor. ``distinct=False`` keeps multiplicity for counting
    consumers.

    Repartitions the raw text by id first with an explicit partition count:
    a small parquet arrives as one split (serializing all the CPU on one
    core), and AQE would coalesce a count-less exchange right back on byte
    volume — the cost here is CPU per row, not bytes.

    ``extra_cols`` ride along per gram row (e.g. a partition/source tag,
    saving a join-back to the doc frame); ``hashed=True`` emits xxhash64
    gram identities instead of gram strings (see zip_ngram_rows) — no
    per-gram string materialization, 8-byte downstream keys;
    ``spread=False`` skips the under-partitioned-input repartition for
    KNOWN-small inputs (a benchmark/eval set), where the exchange stage
    costs more than the single-split CPU it would parallelize.
    """
    base = (
        X._spread(docs, id_col, [*extra_cols, text_col])
        if spread
        else docs.select(*[F.col(c) for c in dict.fromkeys([id_col, *extra_cols, text_col])])
    )
    with_t = base.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.split(F.trim(X.normalize(text_col)), " +").alias("_toks"),
    )
    return X.zip_ngram_rows(
        with_t, "_toks", shingle_n, "shingle", [id_col, *extra_cols], " ", distinct, hashed
    )


def _mh_expr_sql(i: int) -> str:
    """min-hash i as ONE SQL expression string (one py4j round trip)."""
    return f"min(md5(concat(_s, '#{i}'))) AS mh{i}"


def _band_explode_sql(bands: int, rows: int) -> str:
    """(band, bucket) generator over the signature columns as ONE expr."""
    items = ", ".join(
        "struct({b} AS band, md5(concat_ws('|', {cols})) AS bucket)".format(
            b=b, cols=", ".join(f"mh{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    return f"explode(array({items})) AS bb"


def minhash_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, bucket) LSH bucket assignments.

    Distributed minhash: shingles as rows, the k salted mins as ordinary
    partial aggregates (map-side combine → one shuffle on the doc id) —
    at 100 TB this shuffle-with-combine shape is exactly how signature
    computation scales across executors."""
    rows = num_hashes // bands
    exploded = shingle_rows(docs, id_col, text_col, shingle_n).withColumnRenamed("shingle", "_s")
    # single-expr-string aggregates/projections: one py4j round trip per
    # expression instead of ~6 (min/md5/concat/col/lit/alias) — plan
    # construction latency is a real driver-side cost at fleet scale
    # (r14 profile: ~0.5 ms per round trip)
    sig_df = exploded.groupBy(id_col).agg(
        *[F.expr(_mh_expr_sql(i)) for i in range(num_hashes)]
    )
    return sig_df.select(F.col(id_col), F.expr(_band_explode_sql(bands, rows))).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def salt_buckets(
    buckets: DataFrame, id_col: str = "doc_id", max_bucket_size: int = 64
) -> DataFrame:
    """Split oversized LSH buckets into capped, salted sub-buckets.

    Members of each (band, bucket) are ranked by a deterministic
    pseudo-random order (md5 of bucket||id — reproducible across engines,
    uncorrelated with id order) and assigned ``salt = (rank-1) div cap``.
    Candidate joins then key on (band, bucket, salt): an n-member
    boilerplate bucket becomes n/cap independent sub-buckets of at most
    cap members each — per-task work is bounded by cap^2 and the bucket's
    total cost drops from O(n^2) to O(n*cap). The within-bucket sort is a
    single sort-within-partition, not a quadratic step."""
    return buckets.withColumn(
        "salt",
        F.expr(
            f"CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY band, bucket "
            f"ORDER BY md5(concat(bucket, CAST({id_col} AS STRING))), {id_col}) - 1) "
            f"/ {max_bucket_size}) AS BIGINT)"
        ),
    )


def near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 64,
    bounded_input: bool = False,
) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates → exact shingle-set
    Jaccard filter. Returns (id_a, id_b, jaccard).

    Candidates are generated within capped salted sub-buckets (see
    ``salt_buckets``), so an adversarial boilerplate bucket cannot
    quadratically stall a task at corpus scale.

    The minhash mins and the exact shingle SET come out of ONE grouped
    aggregate over one shingle scan: the bucket path and the verify path
    both hang off the same exchange, so Catalyst's ReusedExchange runs
    the text scan + shingle flat-map once, not twice (visible in the
    plan: one Exchange hashpartitioning(doc_id) feeding both subtrees).
    """
    rows = num_hashes // bands
    exploded = shingle_rows(docs, id_col, text_col, shingle_n).withColumnRenamed("shingle", "_s")
    base = exploded.groupBy(id_col).agg(
        *[F.expr(_mh_expr_sql(i)) for i in range(num_hashes)],
        F.collect_set("_s").alias("_sh"),
    )
    buckets = salt_buckets(
        base.select(F.col(id_col), F.expr(_band_explode_sql(bands, rows))).select(
            id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        ),
        id_col,
        max_bucket_size,
    )
    # every join below pairs two DATA-GROWN sides (bucket assignments;
    # the shingle-SET frame is GBs at sf10): pin merge so neither the
    # static planner nor a post-agg stats misestimate can pick broadcast
    # — at sf10 the r12 bench caught exactly that, a ~1 GiB broadcast
    # build of the collect_set frame OOMing stage materialization (the
    # q130 lesson; AQE can still locally optimize, it just can't demote
    # a static broadcast, so merge is the safe pin). Measured cost of
    # the pin at sf0.1: ~0.2 s on q41 (hint-noop A/B, 2.2 vs 2.0 warm)
    # against an sf10 run that does not finish at all unpinned.
    #
    # ``bounded_input=True`` is the caller's ASSERTION that the doc
    # frame is bounded independently of corpus scale (an eval set, a
    # filtered sample — a083's doc_id <= 400). Then every join side is
    # bounded too, broadcast is the byte-correct strategy whatever the
    # SF, and the merge pins (exchange + sort per side) are pure
    # overhead — the same byte-scaled strategy rule the repo applies to
    # pair exchanges. Never set it for a corpus-sized frame.
    pin = (lambda d: d) if bounded_input else (lambda d: d.hint("merge"))
    a = buckets.alias("a")
    b = pin(buckets).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sh = pin(base.select(F.col(id_col).alias("_id"), F.col("_sh")))
    pairs = (
        cand.join(sh.select(F.col("_id"), F.col("_sh").alias("sh_a")), F.col("id_a") == F.col("_id"))
        .drop("_id")
        .join(sh.select(F.col("_id"), F.col("_sh").alias("sh_b")), F.col("id_b") == F.col("_id"))
        .drop("_id")
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def incremental_dup_ids(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Ids of NEW docs that near-duplicate something already in the
    corpus — the per-increment dedup primitive: each crawl increment is
    deduped against the curated corpus by probing its LSH buckets, so
    ingesting N new docs costs O(N) signature work plus bucket-local
    joins instead of re-running global dedup over the full corpus.

    The corpus side of each (band, bucket) is capped at
    ``max_bucket_size`` members chosen by the same deterministic
    md5-rank used by ``salt_buckets`` — a boilerplate bucket therefore
    bounds per-task join cost at new_members x cap. (Unlike the
    self-join case, cross-side salting would split matching pairs into
    different sub-buckets, so capping-with-rank is the right guard
    here; the rank rule is engine-reproducible for oracle parity.)

    Returns a one-column DataFrame of distinct flagged new-doc ids.
    """
    from pyspark.sql import Window as W

    # r15: minhash mins and the exact shingle SET come out of ONE
    # grouped aggregate per side (the near_dup_pairs fusion): the bucket
    # path and the verify path hang off the same exchange, so
    # ReusedExchange runs each side's text scan + shingle flat-map ONCE
    # instead of twice — previously the corpus was tokenized+shingled
    # separately for minhash_buckets and for the verify collect_set
    # (4 shingle scans, 2 needed; q108 A/B at sf0.1: warm 3.4 -> 2.4 s).
    rows = num_hashes // bands

    def _base(docs: DataFrame) -> DataFrame:
        exploded = shingle_rows(docs, id_col, text_col, shingle_n).withColumnRenamed(
            "shingle", "_s"
        )
        return exploded.groupBy(id_col).agg(
            *[F.expr(_mh_expr_sql(i)) for i in range(num_hashes)],
            F.collect_set("_s").alias("_sh"),
        )

    def _buckets(base: DataFrame) -> DataFrame:
        return base.select(F.col(id_col), F.expr(_band_explode_sql(bands, rows))).select(
            id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )

    nbase = _base(new_docs)
    cbase = _base(corpus_docs)
    nb = _buckets(nbase)
    cb_all = _buckets(cbase)
    wb = W.partitionBy("band", "bucket").orderBy(
        F.md5(F.concat(F.col("bucket"), F.col(id_col).cast("string"))), id_col
    )
    cb = (
        cb_all.withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") <= max_bucket_size)
        .drop("_rn")
    )
    cand = (
        nb.alias("n")
        .join(
            cb.alias("c"),
            (F.col("n.band") == F.col("c.band")) & (F.col("n.bucket") == F.col("c.bucket")),
        )
        .select(F.col(f"n.{id_col}").alias("nid"), F.col(f"c.{id_col}").alias("cid"))
        .distinct()
    )
    sh_new = nbase.select(F.col(id_col).alias("_id"), F.col("_sh").alias("sh_n"))
    sh_corp = cbase.select(F.col(id_col).alias("_id"), F.col("_sh").alias("sh_c"))
    jac = F.size(F.array_intersect("sh_n", "sh_c")) / F.size(F.array_union("sh_n", "sh_c"))
    return (
        cand.join(sh_new, cand.nid == sh_new._id)
        .drop("_id")
        .join(sh_corp, F.col("cid") == sh_corp._id)
        .drop("_id")
        .filter(jac >= jaccard_threshold)
        .select(F.col("nid").alias(id_col))
        .distinct()
    )


def bloom_positions(col, m_bits: int, k: int) -> list:
    """The k Bloom bit positions of a string column, as Columns.

    md5-derived so every engine — and the DuckDB oracle — computes
    identical positions; Spark's internal BloomFilter (bloom_filter_agg)
    is not exposed in PySpark, and an engine-portable hash is what makes
    the filter hash-checkable anyway.

    For k <= 4 all positions are carved from ONE digest (8 hex chars
    each from md5(value) — 32 bits per position, independent under the
    random-oracle model), so the dominant per-gram cost is a single md5
    instead of k salted ones (r5 ran 3 digests per gram; this was the
    largest constant factor in the decontamination stack). k > 4 falls
    back to salted per-j digests (``md5(value || '@bf' || j)``; the
    ``@bf`` salt keeps the keyspace disjoint from the minhash seeds
    ``#i``)."""
    if k <= 4:
        digest = F.md5(col)
        return [
            F.conv(F.substring(digest, 1 + 8 * j, 8), 16, 10).cast("long") % m_bits
            for j in range(k)
        ]
    return [
        F.conv(F.substring(F.md5(F.concat(col, F.lit(f"@bf{j}"))), 1, 8), 16, 10).cast("long")
        % m_bits
        for j in range(k)
    ]


def bloom_bitset(grams: DataFrame, col: str = "shingle", m_bits: int = 16384, k: int = 3) -> DataFrame:
    """Build the Bloom bit set of a gram column: the distinct bit
    positions hit by any gram — at most ``m_bits`` rows regardless of
    gram count, which is the point: a benchmark too big to broadcast as
    raw strings still broadcasts as its bit set (m bits).

    FPR ~= (1 - e^(-k*n/m))^k for n distinct grams; size m so k*n/m
    stays well under 1 (documented per call site)."""
    pos = bloom_positions(F.col(col), m_bits, k)
    return (
        grams.select(F.explode(F.array(*pos)).alias("pos"))
        .distinct()
        .withColumn("_set", F.lit(1))
    )


def bloom_bits(bitset: DataFrame, m_bits: int = 16384) -> list[int]:
    """Pack a bloom_bitset frame into ``m_bits / 64`` long words.

    Collects the position frame — bounded by the CONSTANT m_bits (16384
    bits = at most 16384 rows = a 2 KiB bitmap), never by data size, the
    same driver-side build Spark's own bloom_filter_agg/might_contain
    does. The words parameterize :func:`bloom_maybe`'s literal array, so
    the probe side needs no explode, no join, and no aggregate at all."""
    words = [0] * ((m_bits + 63) // 64)
    for r in bitset.select("pos").collect():
        p = int(r["pos"])
        words[p >> 6] |= 1 << (p & 63)
    # Spark long literals are signed; wrap to two's complement
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_maybe(col, bits: list[int], m_bits: int = 16384, k: int = 3):
    """Boolean Column: all k Bloom positions of ``col`` are set in the
    packed bitmap ``bits`` (from :func:`bloom_bits`).

    A pure projection — ``element_at`` into a 256-long array literal plus
    ``getbit`` per position — so membership probing rides inside the
    scan's whole-stage-codegen span: zero extra stages versus the
    DataFrame-shaped :func:`bloom_candidates` (explode + broadcast join
    + aggregate), which remains for when even a driver round-trip is
    unwanted. All k substring positions reuse one md5 via codegen
    subexpression elimination."""
    # one expr() call instead of 256 lit() py4j round-trips — plan-build
    # time is part of every fresh run's latency
    arr = F.expr("array(" + ",".join(f"{w}L" for w in bits) + ")")
    cond = F.lit(True)
    for p in bloom_positions(col, m_bits, k):
        word = F.element_at(arr, (p / F.lit(64)).cast("int") + F.lit(1))
        cond = cond & (F.getbit(word, p % F.lit(64)) == 1)
    return cond


def bloom_candidates(
    grams: DataFrame, bitset: DataFrame, col: str = "shingle", m_bits: int = 16384, k: int = 3
) -> DataFrame:
    """Keep only grams whose k positions are ALL set (Bloom maybe-members).

    Probes the DISTINCT gram values (explode to (gram, pos), broadcast
    join against the bit set, all-k-positions-set check) and semi-joins
    the maybe-members back, so input rows keep their multiplicity and a
    duplicated gram can never false-negative (a sum-based _hits == k
    filter would reject a true member appearing c times, since its
    merged group accumulates c*k hits). False positives survive (by
    design) — callers needing exactness run an exact verify on the
    (already tiny) candidate set."""
    pos = bloom_positions(F.col(col), m_bits, k)
    maybe = (
        grams.select(col)
        .distinct()
        .withColumn("_pos", F.explode(F.array(*pos)))
        .join(F.broadcast(bitset), F.col("_pos") == bitset.pos, "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("_set"), F.lit(0))).alias("_all_set"))
        .filter(F.col("_all_set") == 1)
        .select(col)
    )
    return grams.join(maybe, on=col, how="leftsemi")


def near_dup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-duplicate pairs: (doc_id, cluster)
    where cluster = min doc_id reachable through the pair graph — the
    step that turns pairwise near-dup hits into dedup groups.

    Iterative min-label propagation (the GraphX/Pregel cc recipe in
    DataFrame form): every vertex starts labeled with itself; each round
    every vertex takes the min of its own and its neighbors' labels;
    stop at fixpoint. Rounds needed = component diameter — LSH dup
    clusters are near-cliques (most pairs link directly), so 2-4 rounds
    in practice; each round is two shuffles on (vertex, label) pairs,
    fully distributed. ``fixpoint`` stops at the first round whose
    changed-label count (an aggregate scalar, not data) is zero.

    Each round's labels are localCheckpoint-ed (not just cached): the
    returned frame's lineage would otherwise chain every round's joins
    — the classic iterative-DataFrame trap where plan analysis cost and
    failure-recovery depth grow per iteration (GraphX checkpoints for
    exactly this reason; q114's pre-fix plan string carried 800+
    exchange nodes).

    All checkpoints are LAZY (eager=False): each round's convergence
    count is the action that materializes that round's labels, so the
    loop runs ONE job per round instead of two (eager checkpoint job +
    count job — r14 profile: q114 spent 36 AQE jobs, a third of them
    these doubled materializations), and the edge/label init frames
    materialize inside round 1's job rather than as two up-front jobs.
    The RDD contents are identical either way.
    """
    ed = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    # no distinct on the doubled edge list: duplicate edges are harmless
    # under min-aggregation, and dropping the dedup saves a full shuffle
    # of the pair set (the largest frame in the loop)
    edges = ed.union(
        ed.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=False)
    )

    def propagate(labels: DataFrame) -> tuple[DataFrame, int]:
        neighbor_min = (
            edges.join(labels, edges.b == labels.id)
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        # r15: the convergence flag rides the update frame itself —
        # label shrinks this round iff a neighbor label undercuts it
        # (nmin < label; the null-nmin isolated case keeps its label),
        # so the former new-vs-old compare JOIN (an extra SortMergeJoin
        # + two exchanges inside every round's convergence job) is a
        # per-row boolean for free. The checkpointed frame carries the
        # flag; the count(chg) both materializes the round's labels and
        # returns the convergence scalar in the same single job.
        new_full = (
            labels.join(neighbor_min, labels.id == neighbor_min.a, "left")
            .select(
                F.col("id"),
                F.least(F.col("label"), F.col("nmin")).alias("label"),
                (F.col("nmin") < F.col("label")).alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        return new_full.select("id", "label"), new_full.filter(F.col("chg")).count()

    # Returning partial labels would silently drop docs to a
    # non-canonical representative downstream (dedup_survivors), so a
    # component whose min label is max_iters or more hops away raises.
    labels = fixpoint(labels, propagate, max_iters, "near_dup_clusters")
    return labels.select(F.col("id"), F.col("label").alias("cluster"))


def dedup_survivors(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deduplicated corpus: drop every near-duplicate except its cluster's
    canonical representative — the final step of the dedup pipeline
    (pairs -> clusters -> survivors).

    The canonical doc is the min-id member, which is exactly the cluster
    label ``near_dup_clusters`` converges to, so removal is a single
    filter on the label frame followed by a left-anti join on the id —
    one shuffle on the (short) id key; docs that never collided pass
    through the anti-join untouched.
    """
    labels = near_dup_clusters(pairs)
    removed = labels.filter(F.col("id") != F.col("cluster")).select(F.col("id").alias(id_col))
    return docs.join(removed, id_col, "left_anti")


def simhash_stats(
    docs: DataFrame, text_col: str = "text", by: str = "lang", id_col: str = "doc_id"
) -> DataFrame:
    """Per-group SimHash collision statistics (distinct hashes vs docs).

    Relational simhash: tokens as rows, md5 once per token, 16 conditional
    sums + a count in ONE partial aggregate, then the majority-vote bits —
    identical semantics to operators/text.py simhash16 (which stays as the
    per-row expression form) at a fraction of the CPU."""
    toks = X.token_rows(docs, id_col, text_col, extra_cols=(by,)).withColumn(
        "_h", F.md5(F.col("_tok"))
    )
    bit_counts = [
        F.sum(
            F.when(F.lit("89abcdef").contains(F.substring(F.col("_h"), j + 1, 1)), 1).otherwise(0)
        ).alias(f"_c{j}")
        for j in range(16)
    ]
    per_doc = toks.groupBy(id_col, by).agg(F.count(F.lit(1)).alias("_n"), *bit_counts)
    simhash = F.lit(0).cast("long")
    for j in range(16):
        simhash = simhash + F.when(F.col(f"_c{j}") * 2 > F.col("_n"), F.lit(1 << j)).otherwise(0).cast("long")
    return (
        per_doc.withColumn("simhash", simhash)
        .groupBy(by)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("simhash").alias("n_distinct_simhash"),
        )
    )
