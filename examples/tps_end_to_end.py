"""End-to-end example: the reference notebook's full E1→E2→E3 flow
(SURVEY §3) on the synthetic TPS-shaped table, Spark-first.

    python examples/tps_end_to_end.py [output_dir]

E1  ingest + feature engineering (calendar/Fourier/holiday/GDP)
E2  log-target BoostedHybrid fit + time-split SMAPE validation
E3  scoring grid + geometric rounding + single-file CSV submission
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from advanced_data_mining_and_big_data_analysis_spark import get_spark
from advanced_data_mining_and_big_data_analysis_spark.functions import scalar as S
from advanced_data_mining_and_big_data_analysis_spark.ml import tps
from advanced_data_mining_and_big_data_analysis_spark.sources import write_csv_single


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="tps_submission_")
    spark = get_spark("tps-example")

    # E2: fit + validate (builds E1's feature frame internally)
    metrics = tps.run_tps_pipeline(spark, gbt_iters=20)
    print(f"validation: SMAPE={metrics['smape']:.4f} MAE={metrics['mae']:.2f} RMSE={metrics['rmse']:.2f}")

    # E3: score a fresh period and write the submission
    data = tps.engineer_features(tps.synthetic_sales(spark))
    prepared = tps.build_feature_pipeline(tps.CATEGORICAL, tps.VECTORS).fit(data).transform(data)

    from advanced_data_mining_and_big_data_analysis_spark.ml import BoostedHybrid
    from pyspark.ml.regression import GBTRegressor, LinearRegression

    model = BoostedHybrid(
        model_1=LinearRegression(featuresCol="features1", regParam=1e-4),
        model_2=GBTRegressor(featuresCol="features2", maxIter=20, maxDepth=5, seed=42),
        label_col="num_sold",
        log_target=True,
    ).fit(prepared.filter(F.col("date") <= "2017-12-31"))

    submission = (
        model.transform(prepared.filter(F.col("date") >= "2018-01-01"))
        .select("row_id", S.geometric_round(F.col("prediction")).alias("num_sold"))
        .orderBy("row_id")
    )
    write_csv_single(submission, f"{out_dir}/submission")
    print(f"submission written to {out_dir}/submission ({submission.count()} rows)")


if __name__ == "__main__":
    main()
