"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (interquartile range over median).

    python3 perfbench/spread.py --workload engine --seeds 1 2 3 4 5 [--trace 1]

Run from the repository root. Every run's result and detail lines are
kept in ``.bench_cache/spread/<workload>-<trace>.jsonl``; a metric whose
spread exceeds a third of its bound in ``BENCHMARK.json`` is marked.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    out_dir = os.path.join(".bench_cache", "spread")
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, f"{args.workload}-{args.trace}.jsonl")
    results = []
    for seed in args.seeds:
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
            capture_output=True, text=True,
        )
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            return 1
        lines = p.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        last["seed"], last["wall_s"] = seed, time.time() - t0
        last["detail"] = json.loads(lines[-2])["detail"]
        results.append(last)
        with open(log, "a") as f:
            f.write(json.dumps(last) + "\n")
        steal = last["detail"]["context"]["cpu_during_passes"]["steal"]
        print(seed, f"{last['wall_s']:.1f}s", f"steal {steal:.2f}", last["correct"], last["failed"],
              {k: round(v["value"], 3) for k, v in last["metrics"].items()}, flush=True)
    if args.trace or len(results) < 2:
        return 0
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        s = spread(vals)
        flag = "" if s < m["bound"] / 3 else "  <-- over a third of the bound"
        print(f"{m['name']:16s} median {statistics.median(vals):10.3f} spread {s:.3f} "
              f"bound {m['bound']}{flag}")
    print("walls", [round(r["wall_s"], 1) for r in results])
    return 0


if __name__ == "__main__":
    sys.exit(main())
