"""Benchmark runner — the driver's per-round feedback loop.

Runs the headline declared queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized via a count-shaped collect (the driver's
pattern), timed wall-clock. A warmup query amortizes JVM startup.

Two timings per query:
- cold: plan build + analysis + codegen + execution — the one-shot cost
  (its fixed part is a per-plan constant: pennies at 100 TB, dominant at
  sf<=0.1);
- warm: a second, freshly-built run of the same query — JIT/codegen
  caches hot, all stages genuinely re-executed (a same-DataFrame
  re-collect would silently reuse shuffle files and undercount). This is
  the number that extrapolates with data volume.
DuckDB timings on the oracle SQL provide the same-machine denominator
(DuckDB has no JIT, so its cold ~= warm), one run per oracle under a
cap of $SPARK_GRAFT_DUCK_CAP_S seconds (default 90).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from advanced_data_mining_and_big_data_analysis_spark import get_spark
from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries
from advanced_data_mining_and_big_data_analysis_spark.sources.catalog import schema_drift
from advanced_data_mining_and_big_data_analysis_spark.testing import DuckTimer

HEADLINE = [
    # relational core
    "q01_pricing_summary",
    "q03_discount_revenue",
    "q05_regional_revenue",
    "q09_order_count_histogram",
    "q10_topk_per_group",
    "q18_small_quantity_revenue",
    # feature/metric engine
    "q26_fourier_harmonics",
    "q32_best_weight",
    # events / sessionization
    "q21_hourly_events",
    "a060_sessionization",
    # LLM-pipeline operators
    "q40_exact_dedup_stats",
    "q41_minhash_neardup",
    "q45_quality_scores",
    "q47_char_ngram_vocab",
    "q50_cosine_topk",
    # round-2 additions
    "a083_neardup_skew_capped",
    "a086_periodogram",
    "a087_mi_feature_filter",
    # training-data pipeline ops
    "a092_repetition_signals",
    "a094_chunk_stats",
    "a095_unigram_logprob",
    # round-3 additions
    "q105_decontaminate",
    "q108_incremental_dedup",
    "q109_sequence_packing",
    # temporal / iterative
    "a098_asof_join",
    "q102_pagerank_transitions",
    # round-5 additions
    "q113_multimodal_decode",
    "q114_semdedup",
    "q115_decontaminate_bloom",
    "q116_duplicated_passages",
    # round-6 additions
    "q118_batch_ann_join",
    "q119_cms_heavy_hitters",
    "q120_product_quantization",
    "q121_bpe_pair_counts",
    "q122_classifier_scoring",
    "q123_zorder_layout",
    "q124_jpeg_decode",
    "q128_triangle_count",
    "q130_prefix_filter_simjoin",
    # round-10 addition: the composed end-to-end corpus pipeline
    "a0142_flagship_pipeline",
    # round-12 additions (VERDICT r11 item 7): exercise the newest plan
    # families in the driver-visible number — the multi-stage Viterbi
    # burst detector, the MRL mergeable quantile sketch, and the
    # DuckDB-DNF Apriori flagship
    "a0092_burst_detection",
    "a0089_mrl_quantile_summary",
    "a0053_apriori_triples",
    # round-13 additions: the incremental-SemDeDup flagship and the
    # grid-blocked kNN classifier join the driver-visible number
    "a0003_semdedup_incremental",
    "a0004_knn_classify",
    # round-13 wave-4 flagships: link analysis + density outliers
    "a0013_hits_scores",
    "a0014_lof_outliers",
]

# queries whose DuckDB denominator is not a like-for-like comparison
# (a0053: DNF-class planner behavior on the basket family — a real win,
# reported separately; a0092: the oracle replays a linear Viterbi as an
# O(n^2) recursive CTE — an artifact). Excluded from the *_core totals.
_FLAGSHIP_DENOM = {"a0053_apriori_triples", "a0092_burst_detection"}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # schema tripwire BEFORE anything runs: the driver regenerates
    # testdata between rounds and a type drift once zeroed a whole
    # round's bench (r4, TIMESTAMP_NTZ). Drift warns loudly on stderr
    # but never aborts.
    drift = schema_drift(sf_dir)
    if drift:
        print(f"SCHEMA DRIFT in {sf_dir} (queries may still pass):", *drift, sep="\n  !! ", file=sys.stderr)

    # The JVM launcher prints unsuppressable banners to stderr before
    # log4j even initializes ("WARNING: Using incubator modules", the
    # default-profile notice, NativeCodeLoader) — they eat the driver's
    # 2000-char tail budget (VERDICT r8 #8). Point OS-level fd 2 at a
    # side log for the launch; the JVM (and its forked Python workers)
    # keep that fd for their lifetime, so with log level ERROR nothing
    # JVM-side can pollute the tail; Python's own stderr is restored.
    jvm_log = os.path.join(tempfile.gettempdir(), "spark_graft_bench_jvm.log")
    saved_fd2 = os.dup(2)
    try:
        with open(jvm_log, "ab") as f:
            os.dup2(f.fileno(), 2)
        spark = get_spark("bench")
        # ERROR from the first stage onward: get_spark leaves WARN, and
        # the allowlisted bounded-frame windows (q32's weight grid etc.)
        # emit WindowExec WARNs that would eat the tail budget before the
        # end-of-run log4j silencing kicks in (VERDICT r7 #2).
        spark.sparkContext.setLogLevel("ERROR")
    finally:
        os.dup2(saved_fd2, 2)
        os.close(saved_fd2)
    qs = all_queries()
    names = [n for n in HEADLINE if n in qs]

    # warmup: run the first query once to pay session/codegen startup,
    # and one tiny pandas_udf to pay the Python-worker pool startup
    # (daemon fork + Arrow serde init) — session fixed costs, same class
    # as JVM startup, otherwise charged entirely to the first
    # mapInPandas query's cold number (r5: q113 cold 6.4 s).
    try:
        qs[names[0]].fn(spark, sf_dir).collect()
        import pandas as _pd
        from pyspark.sql import functions as _F

        @_F.pandas_udf("long")
        def _prime(s: _pd.Series) -> _pd.Series:
            return s

        spark.range(64, numPartitions=8).select(_prime("id")).collect()
    except Exception:
        pass

    # Per-query isolation: one broken query must not zero the whole round
    # (r4: a TIMESTAMP_NTZ type error in q60 aborted bench before any
    # number was recorded). Failures land in "errors"; the totals cover
    # the queries that ran.
    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    errors: dict[str, str] = {}
    total = 0.0
    for name in names:
        try:
            t0 = time.time()
            qs[name].fn(spark, sf_dir).collect()
            dt = round(time.time() - t0, 3)
            # warm = median of 3 fresh-plan re-runs: JIT hot, all stages
            # re-executed; the median makes round-over-round deltas
            # distinguishable from scheduler noise (VERDICT r3 item 4).
            reps = []
            for _ in range(3):
                t0 = time.time()
                qs[name].fn(spark, sf_dir).collect()
                reps.append(time.time() - t0)
            warm[name] = round(sorted(reps)[1], 3)
        except Exception as e:  # noqa: BLE001 — record and move on
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        timings[name] = dt
        total += dt

    # Tail hygiene (VERDICT r6): an async DAGScheduler "failed to update
    # accumulator" stack can land on stderr AFTER the JSON line, eating
    # the driver's 2000-char tail window. Silence further JVM logging and
    # stop the session BEFORE printing, so the compact line is the last
    # thing either stream sees.
    try:
        spark.sparkContext.setLogLevel("OFF")
    except Exception:
        pass

    # Same-machine DuckDB wall-times of every headline oracle on the same
    # parquet, one run each — BASELINE.md publishes no reference query
    # numbers, so this is the denominator that makes a 'within 2x' gate
    # computable (VERDICT r1 item 8). Per-oracle cap: a0053's basket
    # family runs ~190s in DuckDB at sf0.1 and a0092's recursive-CTE
    # replay ~60s, but the whole bench must stay inside the driver's
    # window, so a capped oracle records the cap (a LOWER bound on
    # DuckDB's time: the Spark/DuckDB ratio can only be UNDERSTATED).
    cap_s = int(os.environ.get("SPARK_GRAFT_DUCK_CAP_S", "90"))
    duck: dict[str, float | str] = {}
    with DuckTimer(cap_s) as timer:
        for name in names:
            if name in timings and qs[name].oracle is not None:
                t = timer.time(qs[name].oracle, sf_dir)
                duck[name] = float(cap_s) if t == timer.timed_out else t
    # error-string entries (failing oracles) are excluded from every
    # total/ratio — only genuine timings (incl. the cap's lower
    # bounds) may enter the denominator
    duck_num = {k: v for k, v in duck.items() if isinstance(v, (int, float))}
    duck_err = {k: v for k, v in duck.items() if not isinstance(v, (int, float))}

    try:
        spark.stop()
    except Exception:
        pass
    sys.stderr.flush()

    detail = {
        "metric": "declared_query_wall_time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "warm_queries": warm,
        "warm_total": round(sum(warm.values()), 3),
        "duckdb_queries": duck,
        "duckdb_total": round(sum(duck_num.values()), 3),
        "duckdb_errors": duck_err,
        "errors": errors,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "_notes": {
            "a0053_apriori_triples": (
                "DuckDB's recorded time is the 90s CAP (its true wall "
                "is ~190s at sf0.1; DNF >580s at sf1.0) — a real comparative "
                "result that would otherwise dominate duckdb_total AND the "
                "bench wall, so the cap keeps the run bounded and the ratio "
                "can only be UNDERSTATED; excluded from the *_core gate"
            ),
            "a0092_burst_detection": (
                "DuckDB's ~60s is mostly a closed-form-oracle ARTIFACT: the "
                "oracle replays the Viterbi DP as an O(n^2) recursive CTE; "
                "the comparative signal is the Spark wall, not this ratio "
                "(same class as the BENCH_FLOOR _notes entries)"
            ),
        },
    }
    # Full breakdown goes to a file; stdout gets a compact single line.
    # The driver keeps only the tail of stdout, so the printed line must
    # stay well under 2000 chars (the r2 line outgrew that and the round's
    # bench went unrecorded). Compact separators + cold timings only.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    compact = {
        "metric": "declared_query_wall_time",
        # value == sum(queries): both are warm medians, so the compact line
        # is self-consistent (the r11 line carried the cold single-sample
        # total under "value" next to warm per-query entries — ADVICE r11).
        # Cold singles stay in BENCH_DETAIL.json's "queries"/"total".
        "value": round(sum(warm.values()), 3),
        "unit": "sec",
        # warm medians, not the cold single samples: the r10 driver run
        # recorded q108 at 3.54 s (one sample under shared-box load) while
        # the same round's median-of-3 warm was 2.55 s (VERDICT r10 #6).
        # The driver-visible per-query numbers must be the load-robust ones.
        "queries": warm,
        "warm_total": round(sum(warm.values()), 3),
        "cold_total": round(total, 3),
        "duckdb_total": round(sum(duck_num.values()), 3),
        # _core = excluding a0053/a0092, whose DuckDB walls dominate the
        # denominator (real DNF-class result resp. recursive-CTE oracle
        # artifact — see BENCH_DETAIL _notes). The honest like-for-like
        # ratio is warm_core/duckdb_core; the flagship wins are reported
        # separately rather than averaged into the gate.
        "warm_core": round(
            sum(v for k, v in warm.items() if k not in _FLAGSHIP_DENOM), 3
        ),
        "duckdb_core": round(
            sum(v for k, v in duck_num.items() if k not in _FLAGSHIP_DENOM), 3
        ),
        "n_errors": len(errors),
        "n_oracle_errors": len(duck_err),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1800:  # hard guard: drop per-query detail before truncating
        compact.pop("queries")
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
