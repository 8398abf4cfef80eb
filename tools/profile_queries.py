"""Per-query profiler: wall times, Catalyst phases and the layer split of
each query's Spark jobs, read from the run's event log.

    python tools/profile_queries.py --set weak --sf DIR [--sf DIR ...] [--out FILE] [query ...]

Each ``--sf`` directory is named ``sf<scale>``. One session runs each
query of the set at each SF into the noop sink, so no rows reach the
driver: a cold run, then warm fresh-plan runs, each in a job group of
its own. The median warm run gives the row's output rows, build time,
eager jobs, Catalyst phases, the ``(what, round, changed)`` records of
its ``fixpoint`` loops and the ``tracing.job_layers`` split of its
jobs. The event log is parsed after the session stops; a run on whose
jobs it and ``StatusTracker`` disagree goes into ``errors`` and makes the
tool exit 1. DuckDB times each oracle (``testing.DuckTimer``), and several SFs
give each query the floor ``ladder``.

Named queries are re-measured and merged, per SF, into ``--out``; a full
run carries forward a DuckDB did-not-finish. The last line of standard
output is a JSON summary shaped like ``bench.py``'s.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

from pyspark.sql import Observation
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from advanced_data_mining_and_big_data_analysis_spark.operators import fixpoint  # noqa: E402
from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries  # noqa: E402
from advanced_data_mining_and_big_data_analysis_spark.testing import DuckTimer  # noqa: E402
from perfbench import run as perfbench  # noqa: E402
from perfbench.run import tracing  # noqa: E402

SETS = {
    "headline": bench.HEADLINE,
    # queries once over 2x DuckDB at sf0.1, and every query since round
    # 10: the floor ladder at sf0.001, sf0.01 and sf0.1
    "weak": [
        "q45_quality_scores",
        "a083_neardup_skew_capped",
        "a092_repetition_signals",
        "a094_chunk_stats",
        "a095_unigram_logprob",
        "q105_decontaminate",
        "q102_pagerank_transitions",
        "a086_periodogram",
        "q109_sequence_packing",
        "q26_fourier_harmonics",
        "q113_multimodal_decode",
        "q114_semdedup",
        "q115_decontaminate_bloom",
        "q116_duplicated_passages",
        "q117_mergeable_sketches",
        "q118_batch_ann_join",
        "q119_cms_heavy_hitters",
        "q120_product_quantization",
        "q121_bpe_pair_counts",
        "q122_classifier_scoring",
        "q123_zorder_layout",
        "q124_jpeg_decode",
        "q128_triangle_count",
        "q130_prefix_filter_simjoin",
        "q40_exact_dedup_stats",
        "q01_pricing_summary",
        "q03_discount_revenue",
        "q05_regional_revenue",
        "q09_order_count_histogram",
        "q10_topk_per_group",
        "q18_small_quantity_revenue",
        "q21_hourly_events",
        "q50_cosine_topk",
        "a060_sessionization",
        "a087_mi_feature_filter",
        "a098_asof_join",
        "q47_char_ngram_vocab",
        "q108_incremental_dedup",
        "q41_minhash_neardup",
        "a0142_flagship_pipeline",
        "a0050_acf_ljung_box",
        "a0051_zonemap_pruning",
        "a0052_haar_energy",
        "a0053_apriori_triples",
        "a0054_itemitem_cf",
        "a0055_theil_sen",
        "a0056_mdlp_split",
        "a0057_rfm_segments",
        "a0058_cart_split",
        "a0059_bh_fdr",
        "a0060_em_gmm_step",
        "a0061_pca_power",
        "a0062_distance_outliers",
        "a0063_naive_bayes_langid",
        "a0064_markov_stationary",
        "a0065_sequence_patterns",
        "a0066_logistic_newton",
        "a0067_roc_auc",
        "a0068_lift_gains",
        "a0069_skipgram_pairs",
        "a0093_association_rules",
        "a0094_weighted_reservoir",
        "a0095_psi_drift",
        "a0096_rolling_ols",
        "a0097_stl_decompose",
        "a0098_rowgroup_audit",
        "a0099_rendezvous_sharding",
        "a0100_grid_density_clusters",
        "a0101_heavy_change",
        "a0102_funnel_conversion",
        "a0103_adamic_adar",
        "a0104_sax_motifs",
        "a0105_range_partition_plan",
        "a0070_kmeans_lloyd",
        "a0071_centroid_silhouette",
        "a0072_chi2_cramers",
        "a0073_mannwhitney_u",
        "a0074_binseg_changepoint",
        "a0075_benford_audit",
        "a0076_fd_discovery",
        "a0077_clustering_coeff",
        "a0078_kmv_theta_setops",
        "a0079_rake_keywords",
        "a0080_winnow_fingerprints",
        "a0081_grubbs_outliers",
        "a0082_bloom_semijoin",
        "a0083_mf_gradient_step",
        "a0084_uplift_segments",
        "a0085_tfidf_keywords",
        "a0086_spearman_corr",
        "a0087_kendall_tau_daily",
        "a0088_lorenz_gini",
        "a0089_mrl_quantile_summary",
        "a0090_jpeg_lossless_decode",
        "a0091_jpeg_lossless12_decode",
        "a0092_burst_detection",
        "a0001_semdedup_autok",
        "a0002_density_level_hierarchy",
        "a0003_semdedup_incremental",
        "a0004_knn_classify",
        "a0005_zipf_fit",
        "a0006_heaps_law",
        "a0007_stylometry_delta",
        "a0008_kcore_peeling",
        "a0009_pmi_collocations",
        "a0010_hill_tail_index",
        "a0011_ngram_novelty_decay",
        "a0012_label_propagation",
        "a0013_hits_scores",
        "a0014_lof_outliers",
        "a0015_js_divergence",
        "a0016_readability",
        "a0017_adaboost_stumps",
        "a0018_jl_projection_audit",
        "a0019_ngram_self_overlap",
        "a0020_ams_f2_sketch",
        "a0021_jpeg_arith_decode",
        "a0022_bfs_layers",
        "a0023_semdedup_twolevel_codebook",
        "a0024_rrf_fusion",
        "a0025_matryoshka_recall",
        "a0026_repeated_substring_spans",
        "a0027_modularity_communities",
        "a0028_closeness_centrality",
        "a0029_textrank_keywords",
        "a0030_mann_kendall_trend",
        "a0031_conformal_intervals",
        "a0032_markov_attribution",
        "a0033_mattr_lexical",
        "a0034_term_dispersion_dp",
        "a0035_lsh_recall_audit",
        "a0036_ktruss_edges",
        "a0037_personalized_pagerank",
        "a0038_brier_decomposition",
        "a0039_mmr_rerank",
        "a0040_shapley_attribution",
        "a0041_good_turing",
        "a0042_ks_two_sample",
        "a0043_boruvka_msf",
        "a0044_isotonic_calibration",
        "a0045_edit_distance_join",
        "a0046_ewma_anomalies",
        "a0047_ndcg_eval",
        "a0048_holt_linear_scan",
        "a0049_wasserstein_drift",
    ],
    # dedup/retrieval heavies at the 100x replica (sf10)
    "sf10": [
        "q41_minhash_neardup",
        "q108_incremental_dedup",
        "q114_semdedup",
        "q130_prefix_filter_simjoin",
        "a0053_apriori_triples",
        "a0001_semdedup_autok",
        "a0002_density_level_hierarchy",
        "a0083_mf_gradient_step",
        "a0003_semdedup_incremental",
        "a0004_knn_classify",
        "a0019_ngram_self_overlap",
        "a0085_tfidf_keywords",
    ],
    # mining/stats waves at the 10x replica (sf1.0)
    "sf1_mining": [
        "a0093_association_rules",
        "a0053_apriori_triples",
        "a0103_adamic_adar",
        "a0054_itemitem_cf",
        "a0062_distance_outliers",
        "a0101_heavy_change",
        "a0105_range_partition_plan",
        "a0051_zonemap_pruning",
        "a0066_logistic_newton",
        "a0060_em_gmm_step",
        "a0100_grid_density_clusters",
        "a0070_kmeans_lloyd",
        "a0078_kmv_theta_setops",
        "a0089_mrl_quantile_summary",
        "a0092_burst_detection",
        "a0086_spearman_corr",
        "a0083_mf_gradient_step",
        "a0076_fd_discovery",
        "a0085_tfidf_keywords",
        "a0073_mannwhitney_u",
        "a0001_semdedup_autok",
        "a0002_density_level_hierarchy",
        "a0003_semdedup_incremental",
        "a0004_knn_classify",
        "a0008_kcore_peeling",
        "a0012_label_propagation",
        "a0013_hits_scores",
        "a0014_lof_outliers",
        "a0017_adaboost_stumps",
        "a0019_ngram_self_overlap",
        "a0022_bfs_layers",
        "a0023_semdedup_twolevel_codebook",
        "a0024_rrf_fusion",
        "a0025_matryoshka_recall",
        "a0026_repeated_substring_spans",
        "a0027_modularity_communities",
        "a0028_closeness_centrality",
        "a0035_lsh_recall_audit",
        "a0036_ktruss_edges",
        "a0037_personalized_pagerank",
        "a0042_ks_two_sample",
        "a0043_boruvka_msf",
        "a0045_edit_distance_join",
        "a0049_wasserstein_drift",
    ],
}
# q114's oracle-pinned fixed-k regime is quadratic per decade of data
SINGLE_WARM = {"q114_semdedup"}
# DuckDB gets DUCK_CAP_S per query
DUCK_CAP_S = 300
# The events tracing.parse_event_log reads. It loads the whole log into
# memory, and SQL plan updates are most of a log's bytes, so the rest is
# dropped first.
JOB_EVENTS = tuple(f'{{"Event":"SparkListener{k}"' for k in ("JobStart", "JobEnd", "StageSubmitted", "TaskEnd"))


class Rounds(logging.Handler):
    """Keeps the fixpoint driver's ``(what, round, changed)`` records."""

    def __init__(self):
        super().__init__()
        self.seen: list[list] = []

    def emit(self, record: logging.LogRecord) -> None:
        self.seen.append(list(record.args))


ROUNDS = Rounds()
fixpoint.log.addHandler(ROUNDS)
fixpoint.log.setLevel(logging.INFO)


def sf_label(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir)).rsplit("sf", 1)[-1]


def job_events(log_dir: str, app_id: str) -> str:
    path = tracing.find_event_log(log_dir, app_id)
    with open(path) as src, open(path + ".jobs", "w") as dst:
        dst.writelines(line for line in src if line.startswith(JOB_EVENTS))
    return path + ".jobs"


def run_once(spark, qd, sf_dir: str, group: str) -> dict:
    """One fresh-plan run of a query into the noop sink, in its own job
    group; an observation counts the rows the driver never sees."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    seen = Observation(group)
    ROUNDS.seen = []
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        df = qd.fn(spark, sf_dir)
        t1 = time.perf_counter()
        eager = len(tracker.getJobIdsForGroup(group))
        df.observe(seen, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the write plans its own copy of the query; planning the query's plan
    # again, outside the timed span, gives the Catalyst phases of that plan
    df._jdf.queryExecution().executedPlan()
    phases = tracing.catalyst_phases(df)
    return {
        "group": group,
        "wall_s": round(t2 - t0, 3),
        "build_s": round(t1 - t0, 3),
        "eager_jobs": eager,
        "rows": seen.get["rows"],
        "catalyst": {f"{k}_s": round(end - start, 3) for k, (start, end) in phases.items()},
        "status_jobs": sorted(tracker.getJobIdsForGroup(group)),
        "rounds": ROUNDS.seen,
    }


def measure(spark, name: str, qd, sf_dir: str) -> tuple[dict, list[dict]]:
    """A cold run, then warm runs: the row of the median warm run, and the runs."""
    reps = 1 if name in SINGLE_WARM else 3
    runs = [run_once(spark, qd, sf_dir, f"{name}@{sf_label(sf_dir)}#{i}") for i in range(1 + reps)]
    med = sorted(runs[1:], key=lambda r: r["wall_s"])[reps // 2]
    row = {"cold_s": runs[0]["wall_s"], "warm_s": med["wall_s"], "warm_reps_s": [r["wall_s"] for r in runs[1:]]}
    row.update((k, med[k]) for k in ("group", "rows", "build_s", "eager_jobs", "catalyst", "rounds"))
    return row, runs


def ladder(by_sf: dict) -> dict:
    """BENCH_FLOOR.json's ladder: the floor is the warm time at the smallest
    SF, the slope is taken between the two largest, and the suffix names
    the largest SF without its dot (``_01`` for sf0.1)."""
    sfs = sorted(by_sf, key=float)
    lo, prev, hi = sfs[0], sfs[-2], sfs[-1]
    floor, t_prev, t_hi = by_sf[lo]["warm_s"], by_sf[prev]["warm_s"], by_sf[hi]["warm_s"]
    tag = hi.replace(".", "")
    duck = by_sf[hi]["duckdb_s"]
    return {
        "floor_sec": floor,
        "slope_sec_per_sf": round((t_hi - t_prev) / (float(hi) - float(prev)), 3),
        f"data_fraction_{tag}": round(max(0.0, (t_hi - floor) / t_hi), 3) if t_hi > 0 else 0.0,
        f"duckdb_{tag}": duck,
        f"data_ratio_{tag}": (
            round(max(0.0, t_hi - floor) / duck, 2) if isinstance(duck, float) and duck > 0 else None
        ),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="re-measure only these and merge them into the output")
    ap.add_argument("--set", default="headline", choices=sorted(SETS))
    ap.add_argument("--sf", action="append", required=True, help="sf<scale> parquet directory; repeat for a ladder")
    ap.add_argument("--out", help="output file (default: PROFILE_<set>.json at the repository root)")
    args = ap.parse_args()
    qs = all_queries()
    names = args.names or SETS[args.set]
    unknown = [n for n in names if n not in qs]
    if unknown:
        ap.error(f"unregistered queries: {unknown}")
    sfs = {sf_label(d): d for d in args.sf}
    if not all(label.replace(".", "", 1).isdigit() for label in sfs):
        ap.error("each --sf directory name must end in sf<scale>")
    out_path = args.out or os.path.join(ROOT, f"PROFILE_{args.set}.json")
    prior = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            prior = json.load(f)

    log_dir = tempfile.mkdtemp(prefix="profile_eventlog_")
    try:
        spark = perfbench.start_session(dict(tracing.EVENT_LOG_CONF, **{"spark.eventLog.dir": log_dir}))
        context = perfbench.run_context(spark, None)
        context.pop("seed")
        ticks = perfbench.cpu_ticks()
        rows: dict[str, dict] = {}
        runs: list[dict] = []
        errors: dict[str, str] = {}
        for name in names:
            for label, d in sfs.items():
                try:
                    row, done = measure(spark, name, qs[name], d)
                    rows.setdefault(name, {})[label] = row
                    runs += done
                except Exception as e:  # noqa: BLE001 - one failing query must not end the run
                    errors[f"{name}@{label}"] = f"{type(e).__name__}: {e}"[:300]
        context["cpu_during_runs"] = perfbench.cpu_shares(ticks, perfbench.cpu_ticks())
        peak_rss_mb = perfbench.jvm_peak_rss_mb(spark)
        app_id = spark.sparkContext.applicationId
        perfbench.stop_session(spark)
        jobs = tracing.parse_event_log(job_events(log_dir, app_id))["jobs"]
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    by_group = defaultdict(dict)
    for job_id, job in jobs.items():
        by_group[job["group"]][job_id] = job
    # a disagreement is kept with the measurements, and fails the run below
    checks = {r["group"]: (sorted(by_group[r["group"]]), r["status_jobs"]) for r in runs}
    mismatched = {g: f"event log jobs {a}, StatusTracker {b}" for g, (a, b) in checks.items() if a != b}
    errors.update(mismatched)

    for by_sf in rows.values():
        for row in by_sf.values():
            layers = tracing.job_layers(list(by_group[row["group"]].values()))
            row["layers"] = {k: round(v, 3) for k, v in layers.items()}
            row["checked_runs"] = len(row["warm_reps_s"]) + 1

    known = {} if args.names else prior.get("queries", {})
    with DuckTimer(DUCK_CAP_S) as duck:
        for name, by_sf in rows.items():
            for label, row in by_sf.items():
                had = known.get(name, {}).get("sf", {}).get(label, {}).get("duckdb_s")
                if isinstance(had, str) and had.startswith(">"):
                    row["duckdb_s"] = had
                elif qs[name].oracle is None:
                    row["duckdb_s"] = None
                else:
                    row["duckdb_s"] = duck.time(qs[name].oracle, sfs[label], len(row["warm_reps_s"]))
                print(f"{name} sf{label}: cold {row['cold_s']} warm {row['warm_s']} "
                      f"jobs {row['layers']['spark.jobs']} duckdb {row['duckdb_s']}", flush=True)

    doc = prior if args.names else {}
    queries = doc.setdefault("queries", {})
    for name, by_sf in rows.items():
        merged = {**queries.get(name, {}).get("sf", {}), **by_sf}
        queries[name] = {"sf": merged}
        if len(merged) > 1:
            queries[name].update(ladder(merged))
    kept = {k: v for k, v in doc.get("errors", {}).items() if k.split("@")[0] not in names}
    doc.update(
        set=args.set,
        context=context,
        duck_cap_s=DUCK_CAP_S,
        peak_rss_mb=max(doc.get("peak_rss_mb", 0.0), round(peak_rss_mb, 1)),
        errors={**kept, **errors},
    )
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)

    hi = max(sfs, key=float)
    at_hi = [q["sf"][hi] for q in queries.values() if hi in q["sf"]]
    warm_total = round(sum(r["warm_s"] for r in at_hi), 3)
    summary = {
        "metric": "profile_warm_wall_time",
        "value": warm_total,
        "unit": "sec",
        "warm_total": warm_total,
        "cold_total": round(sum(r["cold_s"] for r in at_hi), 3),
        "duckdb_total": round(sum(r["duckdb_s"] for r in at_hi if isinstance(r["duckdb_s"], float)), 3),
        "n_errors": len(doc["errors"]),
        "sf": float(hi),
        "out": out_path,
    }
    print(json.dumps(summary, separators=(",", ":")))
    if mismatched:
        print(f"event log and StatusTracker disagree on the jobs of {len(mismatched)} runs", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
