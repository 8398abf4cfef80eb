"""Local replica of the driver's correctness gate.

Runs every declared query through Spark AND its oracle SQL through DuckDB
on the same parquet, then compares row count, column-name set, and an
order-insensitive value hash (``testing.oracle_check``: columns sorted by
name, rows sorted, floats rounded to 6 decimals, values stringified; a
value-hash mismatch prints the first differing rows). Use while iterating:

    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [query ...]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from advanced_data_mining_and_big_data_analysis_spark import get_spark
from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries
from advanced_data_mining_and_big_data_analysis_spark.testing import oracle_check


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--json",
        default=None,
        help="write per-query results (driver CORRECTNESS format) to this path — "
        "used to commit CORRECTNESS_LOCAL_r{N}.json covering the FULL registry, "
        "beyond the driver's 50-slot window",
    )
    args = ap.parse_args()

    qs = all_queries()
    names = args.names or list(qs)
    spark = get_spark("check-oracle")

    failures = []
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        row, problems = oracle_check(spark, qs[name], args.sf)
        results[name] = row
        took = f"({time.time() - t0:.1f}s)"
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} {took}")
            failures.append(name)
        elif row.get("rows_only"):
            print(f"ok?   {name}: rows-only check, {row['spark_rows']} rows {took}")
            if row["spark_rows"] == 0:
                print(f"WARN  {name}: zero rows")
        else:
            print(f"PASS  {name}: {row['spark_rows']} rows {took}")

    if args.json:
        # Stamp each row with the md5 of the oracle SQL it was verified
        # against, so tools/coverage_ledger.py can refuse to carry a
        # green row forward after the query's oracle changes (ADVICE r8:
        # no stale green credit across semantic edits).
        for name, row in results.items():
            o = qs[name].oracle
            row["oracle_md5"] = hashlib.md5(o.encode()).hexdigest() if o else None
        with open(args.json, "w") as f:
            json.dump(dict(sorted(results.items())), f, indent=1)
    print(json.dumps({"total": len(names), "failed": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
