"""Dump formatted physical plans for the headline queries
(``bench.HEADLINE``, the set ``profile_queries --set headline`` runs) or
the named ones to PLANS.md — reviewable evidence that filters push down, dims
broadcast, and top-k avoids global sorts. Regenerate after
plan-affecting changes:

    python tools/explain_all.py [--sf SF_DIR] [--out PLANS.md] [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from advanced_data_mining_and_big_data_analysis_spark import get_spark
from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", default=bench.HEADLINE)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()
    spark = get_spark("explain-all")
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    qs = all_queries()
    lines = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by tools/explain_all.py at {args.sf}. What to look for:",
        "`PushedFilters`/`ReadSchema` on scans (pushdown + pruning),",
        "`BroadcastHashJoin` on dim joins, `TakeOrderedAndProject` for top-k,",
        "absence of `CartesianProduct`, and `Exchange` only where a shuffle",
        "is semantically required.",
        "",
    ]
    cap = 600  # wide expression trees (64-dim vectors) explode the dump
    for name in args.names:
        df = qs[name].fn(spark, args.sf)
        plan = df._jdf.queryExecution().explainString(jmode)
        plines = plan.rstrip().splitlines()
        if len(plines) > cap:
            plines = plines[:cap] + [f"... [{len(plines) - cap} lines elided: per-dimension expression details]"]
        lines += [f"## {name}", "", f"{qs[name].description}", "", "```", *plines, "```", ""]
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out} ({len(args.names)} plans)")


if __name__ == "__main__":
    main()
