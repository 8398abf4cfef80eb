"""Record ``perfbench/reference.json``: the expected output of every
benchmark operation on the fixed tables.

    python3 perfbench/record_reference.py

- Queries: the DuckDB oracle's row count and value hash, when the oracle
  completes and the engine's own result agrees with it (source
  ``duckdb``); otherwise the engine's result at the recording commit
  (source ``self``). The hash is taken the way the oracle harness takes
  it (``testing.canonical`` and ``value_hash``).
- TPS: the validation SMAPE of the benchmark's pipeline settings.

Run it only when the tables, the operations or their semantics change;
the benchmark compares against this file and never writes it.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run as R  # noqa: E402
import workloads as W  # noqa: E402


def main() -> int:
    import duckdb

    from advanced_data_mining_and_big_data_analysis_spark.ml import tps
    from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries
    from advanced_data_mining_and_big_data_analysis_spark.sources import TABLES
    from advanced_data_mining_and_big_data_analysis_spark.testing import canonical, value_hash

    cache = os.path.join(os.getcwd(), ".bench_cache")
    R.isolate_io(cache)
    spark = R.start_session()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{W.DATA_DIR}/{t}.parquet'")

    ref: dict = {"queries": {}, "tps": {}}
    qs = all_queries()
    for name in W.HEADLINE_QUERIES:
        df = qs[name].fn(spark, W.DATA_DIR)
        rows, h = W.result_hash(df.collect(), df.schema)
        entry = {"rows": rows, "hash": h, "source": "self"}
        if qs[name].oracle is not None:
            o = canonical(con.execute(qs[name].oracle).df())
            if len(o) == rows and value_hash(o) == h:
                entry["source"] = "duckdb"
            else:
                entry["oracle"] = {"rows": len(o), "hash": value_hash(o)}
        ref["queries"][name] = entry
        print(name, entry, flush=True)

    smape = tps.run_tps_pipeline(spark, **W.TPS_PARAMS)["smape"]
    ref["tps"] = {"smape": smape, "params": W.TPS_PARAMS, "source": "self"}
    print("tps", ref["tps"], flush=True)
    R.stop_session(spark)

    with open(W.REFERENCE_PATH, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
