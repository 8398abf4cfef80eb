"""Summarise sets of runs that ``spread.py`` logged into
``perfbench/baseline.json``.

    python3 perfbench/baseline.py engine:0:601-610 engine:0:611-620 \
        engine:1:601-603 tps_forecast:0:601-610 ...

Each argument names a workload, the trace flag and an inclusive seed
range; the runs are read from ``.bench_cache/spread/<workload>-<trace>.jsonl``
(the last run logged for a seed wins). An untraced set gives each
end-to-end metric's median, quartiles and spread; a traced set gives the
per-layer medians, the job-count check and the tracing overhead against
the untraced runs of the same seeds.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as R  # noqa: E402
from spread import spread  # noqa: E402

# Detail figures summarised beside the end-to-end metrics.
DETAIL = ("peak_rss_mb", "warm_median_total_s", "warm_p50_s", "query_s", "stream_agg_s", "sink_s", "tps_fit_s")


def load(workload: str, trace: int) -> dict[int, dict]:
    runs = {}
    with open(os.path.join(".bench_cache", "spread", f"{workload}-{trace}.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            runs[r["seed"]] = r
    return runs


def quartiles(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": round(statistics.median(values), 4), "q1": round(q1, 4), "q3": round(q3, 4),
            "spread": round(spread(values), 4)}


def untraced(runs: list[dict], spec: dict) -> dict:
    out = {
        "seeds": [r["seed"] for r in runs],
        "correct": all(r["correct"] for r in runs),
        "passes": sorted({r["detail"]["passes"] for r in runs}),
        "end_to_end": {},
        "bounds_met": {},
        "detail": {},
    }
    for m in spec["end_to_end"]:
        q = quartiles([r["metrics"][m["name"]]["value"] for r in runs])
        out["end_to_end"][m["name"]] = q
        out["bounds_met"][m["name"]] = m["name"] == "setup_s" or q["spread"] <= m["bound"]
    for k in DETAIL:
        vals = [r["detail"][k] for r in runs if r["detail"].get(k) is not None]
        if len(vals) == len(runs):
            out["detail"][k] = quartiles(vals)
    for k in ("cold_total_s", "warm_total_s"):
        out["detail"][f"cpu.{k}"] = quartiles([r["detail"]["cpu"][k] for r in runs])
    steal = [r["detail"]["context"]["cpu_during_passes"]["steal"] for r in runs]
    walls = [r["wall_s"] for r in runs]
    out["cpu_steal_share"] = {"min": round(min(steal), 3), "max": round(max(steal), 3)}
    out["run_wall_s"] = {"min": round(min(walls), 1), "max": round(max(walls), 1)}
    return out


def traced(runs: list[dict], plain: dict[int, dict], spec: dict) -> dict:
    layers = {}
    for m in spec["per_layer"]:
        layers[m["name"]] = round(statistics.median(r["metrics"][m["name"]]["value"] for r in runs), 4)
    pairs = []
    for r in runs:
        p = plain.get(r["seed"])
        if p is None:
            continue
        pairs.append({
            "seed": r["seed"],
            **{k: {"traced": round(r["detail"][f"traced_{k}"], 4),
                   "untraced": round(p["metrics"][k]["value"], 4)}
               for k in ("warm_total_s", "cold_total_s")},
        })
    overhead = {
        f"traced_minus_untraced_{k}_median": round(
            statistics.median(x[k]["traced"] - x[k]["untraced"] for x in pairs), 4)
        for k in ("warm_total_s", "cold_total_s")
    } if pairs else {}
    return {
        "seeds": [r["seed"] for r in runs],
        "correct": all(r["correct"] for r in runs),
        "job_counts_match_status_tracker": all(
            not r["detail"]["job_count_check"]["mismatched"] for r in runs),
        "per_layer_median": layers,
        "tracing_overhead": dict(overhead, pairs=pairs),
    }


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    out: dict = {
        "what": ("Baseline of the benchmark on this box: sets of untraced runs (ten seeds "
                 "each, spreads as (q3 - q1) / median with statistics.quantiles(n=4)) and "
                 "traced runs for the per-layer split and the tracing overhead. Written by "
                 "perfbench/baseline.py from runs of perfbench/spread.py in a clean checkout."),
        "run_seconds": spec["run_seconds"],
        "min_passes": R.MIN_PASSES,
        "workloads": {},
    }
    context = None
    for arg in sys.argv[1:]:
        workload, trace, seeds = arg.split(":")
        lo, hi = (int(x) for x in seeds.split("-"))
        logged = load(workload, int(trace))
        runs = [logged[s] for s in range(lo, hi + 1)]
        w = out["workloads"].setdefault(workload, {"untraced_sets": [], "traced": None})
        if int(trace):
            w["traced"] = traced(runs, load(workload, 0), spec)
        else:
            w["untraced_sets"].append(untraced(runs, spec))
        context = {k: v for k, v in runs[0]["detail"]["context"].items()
                   if k not in ("seed", "cpu_during_passes")}
    for w in out["workloads"].values():
        sets = w["untraced_sets"]
        if len(sets) == 2:
            w["second_vs_first_median"] = {
                m["name"]: round(sets[1]["end_to_end"][m["name"]]["median"]
                                 / sets[0]["end_to_end"][m["name"]]["median"] - 1, 4)
                for m in spec["end_to_end"]
            }
    out["context"] = context
    with open(os.path.join(HERE, "baseline.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
