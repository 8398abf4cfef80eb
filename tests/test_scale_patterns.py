"""Scale-pattern demonstrations: bucketed co-located joins (shuffle-free
fact⋈fact) and CrossValidator hyperparameter tuning — the mechanisms the
100 TB deployment leans on, proven on local data."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from advanced_data_mining_and_big_data_analysis_spark.sources import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    """lineitem + orders written bucketed by the join key. At 100 TB this
    is done once at ingest; every subsequent orderkey join is shuffle-free."""
    tmp = tempfile.mkdtemp(prefix="buckets_")
    # explicit path option -> external tables; warehouse dir untouched
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    for df, table, key in ((li, "li_bucketed", "l_orderkey"), (orders, "ord_bucketed", "o_orderkey")):
        df.write.mode("overwrite").format("parquet").bucketBy(8, key).sortBy(key).option(
            "path", f"{tmp}/{table}"
        ).saveAsTable(table)
    yield "li_bucketed", "ord_bucketed"
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    shutil.rmtree(tmp, ignore_errors=True)


def test_bucketed_join_is_shuffle_free(spark, sf_dir, bucketed_tables):
    li_t, ord_t = bucketed_tables
    # disable broadcast so the join would otherwise be a shuffled sort-merge
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table(li_t)
            .join(spark.table(ord_t), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        pre_agg = plan.split("HashAggregate")[-1]  # below the aggregate
        assert "SortMergeJoin" in plan
        # no Exchange between the scans and the join: bucketing co-located it
        join_section = plan[plan.index("SortMergeJoin"):]
        assert "Exchange hashpartitioning" not in join_section
        # and the result matches the plain (shuffled) join
        plain = (
            load_table(spark, sf_dir, "lineitem")
            .join(
                load_table(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        got = {r["o_orderpriority"]: r["qty"] for r in joined.collect()}
        exp = {r["o_orderpriority"]: r["qty"] for r in plain.collect()}
        assert got == exp
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_cross_validator_tunes_regularization(spark):
    """Spark's CrossValidator covers the reference's cross_validate fold
    machinery (kaggle.py:559-572) — K folds, param grid, best model."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    rows = [(float(i), 2.0 * i + 1.0) for i in range(60)]
    df = VectorAssembler(inputCols=["x"], outputCol="features").transform(
        spark.createDataFrame(rows, "x double, label double")
    )
    lr = LinearRegression(featuresCol="features")
    grid = ParamGridBuilder().addGrid(lr.regParam, [0.0, 10.0]).build()
    cv = CrossValidator(
        estimator=lr,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(metricName="rmse"),
        numFolds=3,
        seed=42,
    )
    model = cv.fit(df)
    # on noiseless linear data the unregularized model must win
    assert model.bestModel.getOrDefault("regParam") == 0.0
