"""Physical-plan audits: the 100-TB story is in the plan shape, not the
sf0.001 timings. These assert Catalyst produced the plan we designed for —
filters pushed to the parquet scan, dims broadcast, top-k as
TakeOrderedAndProject, no accidental cartesian products."""

from __future__ import annotations

import re

import pytest

from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries

QUERIES = all_queries()


def plan_of(name, spark, sf_dir) -> str:
    df = QUERIES[name].fn(spark, sf_dir)
    # formatted mode prints full PushedFilters/ReadSchema (toString truncates)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(jmode)


def test_q01_filter_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of("q01_pricing_summary", spark, sf_dir)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: quantity yes, partkey no (not referenced)
    assert "l_quantity" in plan.split("ReadSchema")[1]
    assert "l_partkey" not in plan.split("ReadSchema")[1]


def test_q02_topk_no_global_sort(spark, sf_dir):
    plan = plan_of("q02_top_orders", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_q03_tight_filter_pushdown(spark, sf_dir):
    plan = plan_of("q03_discount_revenue", spark, sf_dir)
    assert "GreaterThanOrEqual(l_shipdate" in plan and "LessThan(l_quantity,24.0)" in plan


def test_q05_dims_broadcast(spark, sf_dir):
    plan = plan_of("q05_regional_revenue", spark, sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_q41_lsh_join_is_hash_based(spark, sf_dir):
    plan = plan_of("q41_minhash_neardup", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q50_single_broadcast_pass(spark, sf_dir):
    plan = plan_of("q50_cosine_topk", spark, sf_dir)
    # query vector broadcast to the corpus scan; top-k without global sort
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q32_weight_grid_broadcast(spark, sf_dir):
    plan = plan_of("q32_best_weight", spark, sf_dir)
    # the weight grid must broadcast; the predictions must NOT shuffle
    # before the partial aggregate
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["q04_top_customers", "q07_semi_join", "q08_anti_join", "q18_small_quantity_revenue"],
)
def test_no_cartesian_anywhere(name, spark, sf_dir):
    assert "CartesianProduct" not in plan_of(name, spark, sf_dir)


def test_q94_chunking_is_pure_flatmap(spark, sf_dir):
    """Context-window chunking must be a per-row flat-map: no join of any
    kind, and the only exchanges are the repartition spread + the final
    rollup — nothing per-chunk ever shuffles keyed on doc content."""
    plan = plan_of("a094_chunk_stats", spark, sf_dir)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_q92_repetition_no_join(spark, sf_dir):
    """Gopher repetition signals: explode + two partial aggregates; a join
    would mean the gram multiset got materialized per doc."""
    plan = plan_of("a092_repetition_signals", spark, sf_dir)
    assert "Join" not in plan


def test_q93_mixture_fact_side_broadcast(spark, sf_dir):
    """The per-source rate frame must broadcast to the documents scan —
    the fact side must not shuffle to meet a 3-row dim."""
    plan = plan_of("a093_mixture_sample", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q95_scalar_total_broadcast(spark, sf_dir):
    """The corpus-total frame (1 row) must reach the token rows as a
    broadcast, and the vocab join must be hash-based, not nested-loop
    over data rows."""
    plan = plan_of("a095_unigram_logprob", spark, sf_dir)
    assert "CartesianProduct" not in plan
    # exactly the scalar-broadcast BNLJ is allowed; the vocab join must be BHJ/SMJ
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_q45_single_regex_evaluation(spark, sf_dir):
    """Quality features must evaluate the normalization regex exactly once
    per row: the staged-projection form keeps one regexp_replace and one
    regexp_count (compiled to regexp_extract_all) in the whole plan — the
    single-projection dict form inlines them ~7x (r5 fix)."""
    plan = plan_of("q45_quality_scores", spark, sf_dir)
    assert plan.count("regexp_replace") == 1, "normalization regex duplicated in plan"
    assert plan.count("regexp_extract_all") <= 1, "token-count regex duplicated in plan"


def test_q63_no_global_window_over_events(spark, sf_dir):
    """The running high-watermark must be a chunked two-pass prefix scan:
    every window spec that orders by event_id (i.e. runs over the raw
    events rows) must be partitioned by the chunk key. The only
    unpartitioned window allowed is the carry-in over the aggregated
    chunk-boundary frame (orders by _chunk, never sees event rows)."""
    import re

    plan = plan_of("a063_late_events", spark, sf_dir)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in q63 plan"
    for spec in specs:
        if "event_id" in spec:
            assert "_chunk" in spec.split("event_id")[0], f"unpartitioned window over events: {spec}"
    # and the carry-in is broadcast back, not shuffled
    assert "BroadcastHashJoin" in plan


def test_q105_benchmark_grams_broadcast(spark, sf_dir):
    """Decontamination must broadcast the benchmark gram set to the
    training-gram scan — the training side (the 100-TB side) must not
    shuffle to meet the benchmark dim."""
    plan = plan_of("q105_decontaminate", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q106_split_is_one_aggregate(spark, sf_dir):
    """The hash split is a pure Column expression + one aggregate: any
    join in the plan means split membership got materialized as data."""
    plan = plan_of("q106_hash_split", spark, sf_dir)
    assert "Join" not in plan


def test_q107_group_stats_broadcast(spark, sf_dir):
    """Winsorization: the per-group percentile frame (one row per source)
    must broadcast back onto the fact scan."""
    plan = plan_of("q107_winsorize", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q108_incremental_dedup_hash_joins_only(spark, sf_dir):
    """The bucket-probe and shingle-set joins must be hash/merge joins —
    a nested loop over either corpus would be the quadratic failure the
    LSH structure exists to avoid."""
    plan = plan_of("q108_incremental_dedup", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q109_packing_window_is_sharded(spark, sf_dir):
    """Sequence packing must never run a global-order window over the
    corpus: every window spec in the plan must carry a partition key
    (the q63 anti-pattern guard, applied to packing)."""
    import re

    plan = plan_of("q109_sequence_packing", spark, sf_dir)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected a window spec in q109 plan"
    for spec in specs:
        # spec args: partition cols..., order col ASC/DESC..., frame;
        # an unpartitioned window starts directly with the order column
        assert "shard" in spec.split(",")[0], f"unpartitioned window: {spec}"


def test_zip_ngrams_single_codegen_no_exchange(spark):
    """The n-gram flat-map itself (pre-aggregation) must be exchange-free
    whole-stage codegen: slice+zip+distinct+explode never shuffle."""
    from pyspark.sql import functions as F

    from advanced_data_mining_and_big_data_analysis_spark.operators import text as X

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with_t = df.select(
        "doc_id", F.split(F.trim(X.normalize("text")), " +").alias("_toks")
    )
    out = X.zip_ngram_rows(with_t, "_toks", 3, "gram", ["doc_id"], " ", True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate explode(array_distinct(arrays_zip" in plan


def test_q115_bloom_probe_is_pure_projection(spark, sf_dir):
    """Round-6 bitmap Bloom: the probe must ride inside the scan's
    projection (array-literal getbit), with NO explode of bit positions
    and NO probe-side join/aggregate — the only Generates are the two
    shingle flat-maps (training + benchmark side)."""
    plan = plan_of("q115_decontaminate_bloom", spark, sf_dir)
    assert "getbit" in plan
    assert plan.count("Generate (") == 2


def test_q116_passages_single_shuffle_no_join(spark, sf_dir):
    """Round-6 shape: the duplicate-passage flag is min!=max window
    aggregates over ONE chunk_hash exchange — no mark-back join, and
    the chunk flat-map runs exactly once (r5 ran it per branch)."""
    plan = plan_of("q116_duplicated_passages", spark, sf_dir)
    assert plan.count("Generate (") == 1
    assert "Join" not in plan
    assert plan.count("Window (") == 1
    assert "hashpartitioning(chunk_hash" in plan


def test_q114_lineage_truncated_by_checkpoints(spark, sf_dir):
    """near_dup_clusters localCheckpoints each round, so the returned
    frame's plan must NOT chain the per-iteration joins (pre-fix the
    static plan string carried 800+ Exchange nodes). The cluster-local
    matmul evidence is the checkpointed RDD scan feeding a near-empty
    final plan."""
    plan = plan_of("q114_semdedup", spark, sf_dir)
    assert plan.count("Exchange (") <= 3
    assert "ExistingRDD" in plan


def test_q130_no_static_broadcast_of_data_grown_frames(spark, sf_dir):
    """r11 sf10 regression guard: q130's first 100x run OOMed twice on
    broadcasts of data-grown frames — the candidate-pair set (explicit
    hint) and the checkpointed shingle-array frame (static-planner
    misestimate). Every join in q130 is now pinned to merge, so the
    INITIAL physical plan must contain NO BroadcastExchange; AQE may
    still upgrade at runtime from ACTUAL sizes, which is the only safe
    direction (a statically-chosen broadcast cannot be demoted)."""
    plan = plan_of("q130_prefix_filter_simjoin", spark, sf_dir)
    assert "BroadcastExchange" not in plan, "static broadcast crept back into q130"
    assert "SortMergeJoin" in plan


@pytest.mark.parametrize(
    "name",
    [
        "a0002_density_level_hierarchy",
        "a0004_knn_classify",
        "a0014_lof_outliers",
        "a0062_distance_outliers",
        "a0100_grid_density_clusters",
    ],
)
def test_grid_neighbour_joins_are_equi_joins(name, spark, sf_dir, monkeypatch):
    """The spatial family joins 3x3 cell neighbourhoods as equi hash
    joins (operators/grid.py), never as a nested loop over all pairs. A
    nested loop may only cross every row with a condition-free one-row
    frame (the grid's min/max, a total). A checkpointed frame hides its
    plan from the returned frame's, so every frame the query checkpoints
    is audited too."""
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    frame = type(spark.range(1))
    checkpoint = frame.localCheckpoint
    plans = []

    def audited(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().explainString(jmode))
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", audited)
    df = QUERIES[name].fn(spark, sf_dir)
    df.collect()
    plans.append(df._jdf.queryExecution().explainString(jmode))
    for plan in plans:
        loops = re.findall(r"\) BroadcastNestedLoopJoin\nJoin type: (\w+)\nJoin condition: (.*)", plan)
        assert bool(loops) == ("BroadcastNestedLoopJoin" in plan)
        assert all(loop == ("Cross", "None") for loop in loops), loops
        assert "CartesianProduct" not in plan
