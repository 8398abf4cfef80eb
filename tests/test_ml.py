"""ML-layer tests: BoostedHybrid mechanics, OOF stacking, and the
reference-domain end-to-end TPS run under a loose SMAPE ceiling
(SURVEY §5: models aren't bit-reproducible — assert quality, not hashes)."""

from __future__ import annotations

import pytest
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import LinearRegression
from pyspark.sql import functions as F

from advanced_data_mining_and_big_data_analysis_spark.functions import metrics as M
from advanced_data_mining_and_big_data_analysis_spark.ml import (
    BoostedHybrid,
    oof_stack,
    run_tps_pipeline,
    synthetic_sales,
)


@pytest.fixture(scope="module")
def linear_data(spark):
    # y = 3*a + two-level group offset: linear stage captures 3*a,
    # booster stage must capture the group offset from feature b
    rows = [
        (i, float(i % 10), float((i // 10) % 2), 3.0 * (i % 10) + 50.0 * ((i // 10) % 2))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, a double, b double, y double")
    df = VectorAssembler(inputCols=["a"], outputCol="features1").transform(df)
    return VectorAssembler(inputCols=["b"], outputCol="features2").transform(df)


def test_boosted_hybrid_residual_composition(linear_data):
    hybrid = BoostedHybrid(
        model_1=LinearRegression(featuresCol="features1"),
        model_2=LinearRegression(featuresCol="features2"),
        label_col="y",
    )
    scored = hybrid.fit(linear_data).transform(linear_data)
    mae = scored.agg(M.mae("y", "prediction").alias("m")).collect()[0]["m"]
    assert mae < 1e-6  # exactly recoverable: linear + group offset

    # single linear stage on features1 alone CANNOT reach that
    single = LinearRegression(featuresCol="features1", labelCol="y").fit(linear_data)
    mae_single = (
        single.transform(linear_data).agg(M.mae("y", "prediction").alias("m")).collect()[0]["m"]
    )
    assert mae_single > 1.0


def test_oof_stack_runs_and_scores(linear_data):
    base = [
        BoostedHybrid(
            model_1=LinearRegression(featuresCol="features1"),
            model_2=LinearRegression(featuresCol="features2"),
            label_col="y",
        ),
        LinearRegression(featuresCol="features1", labelCol="y"),
    ]
    oof, scored_test = oof_stack(
        linear_data, linear_data.limit(50), base, id_col="id", label_col="y", k=3
    )
    assert oof.count() == 200
    assert scored_test.count() == 50
    mae = oof.agg(M.mae("y", "prediction").alias("m")).collect()[0]["m"]
    assert mae < 5.0  # meta-learner at least matches the good base model


def test_loo_ridge_scores_exact_vs_brute_force(spark):
    """The closed-form LOO identity (hat-matrix) must agree with the
    literal definition: n ridge refits each leaving one row out,
    scoring the held-out row. Noisy 2-feature data so no alpha is
    degenerate; intercept unpenalized, as in sklearn RidgeCV."""
    import numpy as np

    from advanced_data_mining_and_big_data_analysis_spark.ml.stacking import (
        loo_ridge_alpha,
        loo_ridge_scores,
    )

    rng = np.random.default_rng(42)
    n, k = 120, 2
    X = rng.normal(size=(n, k)) * np.array([2.0, 0.5])
    y = 1.5 + X @ np.array([0.8, -2.0]) + rng.normal(scale=0.7, size=n)
    rows = [(float(X[i, 0]), float(X[i, 1]), float(y[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")

    alphas = (0.1, 1.0, 10.0)
    got = {
        r["alpha"]: r["loo_mse"]
        for r in loo_ridge_scores(df, ["x1", "x2"], "y", alphas).collect()
    }

    def brute(alpha: float) -> float:
        errs = []
        for i in range(n):
            m = np.ones(n, bool)
            m[i] = False
            Xt, yt = X[m], y[m]
            mx, my_ = Xt.mean(axis=0), yt.mean()
            Xc, yc = Xt - mx, yt - my_
            beta = np.linalg.solve(Xc.T @ Xc + alpha * np.eye(k), Xc.T @ yc)
            pred = my_ + (X[i] - mx) @ beta
            errs.append((y[i] - pred) ** 2)
        return float(np.mean(errs))

    for alpha in alphas:
        expected = brute(alpha)
        assert abs(got[alpha] - expected) < 1e-9 * max(1.0, expected), (alpha, got[alpha], expected)

    best = loo_ridge_alpha(df, ["x1", "x2"], "y", alphas)
    assert best == min(alphas, key=brute)


def test_synthetic_sales_shape(spark):
    df = synthetic_sales(spark, start="2015-01-01", end="2015-01-31")
    assert df.count() == 31 * 18
    assert set(df.columns) == {"row_id", "date", "country", "store", "product", "num_sold"}
    assert df.filter(F.col("num_sold") <= 0).count() == 0


def test_tps_pipeline_smape_ceiling(spark):
    metrics = run_tps_pipeline(spark, gbt_iters=20)
    # noise floor of the synthetic data is ~6.4 SMAPE; reference achieved
    # 0.736 validation SMAPE on the real (less noisy) competition data
    assert metrics["smape"] < 10.0, metrics
    assert metrics["rmse"] > 0


def test_tps_bench_fit_exact_within_job_budget(spark):
    """At the benchmark's parameters (perfbench TPS_PARAMS) the fit
    reproduces its recorded metrics on local[4] (SMAPE as in
    perfbench/reference.json) in at most 27 Spark jobs: the engineered
    table is built and cached once, one indexer feeds both vectors, and
    replicas explode in place instead of joining a broadcast dim."""
    sc = spark.sparkContext
    group = "test_tps_bench_fit"
    sc.setJobGroup(group, group)
    try:
        metrics = run_tps_pipeline(spark, replicas=2, gbt_iters=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    expected = {"smape": 6.904876314103267, "mae": 36.05665201911154, "rmse": 53.66298243699895}
    for k, v in expected.items():
        assert abs(metrics[k] - v) <= 1e-9 * v, (k, metrics[k], v)
    jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < len(jobs) <= 27, jobs


@pytest.mark.parametrize("run", ["run_tps_pipeline", "run_tps_ensemble"])
def test_tps_fit_releases_cache_when_fit_raises(spark, monkeypatch, run):
    """A fit that raises must not leave the training table cached."""
    from advanced_data_mining_and_big_data_analysis_spark.ml import stacking, tps

    class Boom(RuntimeError):
        pass

    class FailingHybrid:
        def __init__(self, **kwargs):
            pass

        def fit(self, df):
            raise Boom

    def failing_stack(*args, **kwargs):
        raise Boom

    monkeypatch.setattr(tps, "BoostedHybrid", FailingHybrid)
    monkeypatch.setattr(stacking, "oof_stack", failing_stack)
    spark.catalog.clearCache()
    with pytest.raises(Boom):
        getattr(tps, run)(spark, gbt_iters=1)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_hybrid_grid_and_blends(spark, linear_data):
    from pyspark.ml.regression import GBTRegressor
    from advanced_data_mining_and_big_data_analysis_spark.ml.ensemble import (
        hybrid_grid,
        mean_blend,
        median_blend,
    )

    grid = hybrid_grid(
        linear_stages=[
            LinearRegression(featuresCol="features1"),
            LinearRegression(featuresCol="features1", regParam=0.1),
        ],
        boosted_stages=[
            LinearRegression(featuresCol="features2"),
            GBTRegressor(featuresCol="features2", maxIter=3, seed=42),
        ],
        label_col="y",
        log_target=False,
    )
    assert len(grid) == 4  # 2 x 2 cartesian

    scored = linear_data
    pred_cols = []
    for i, est in enumerate(grid[:3]):
        model = est.fit(linear_data)
        scored = model.transform(scored).withColumnRenamed("prediction", f"p{i}")
        pred_cols.append(f"p{i}")

    blended = median_blend(mean_blend(scored, pred_cols, "mean_pred"), pred_cols, "med_pred")
    row = blended.select("y", "mean_pred", "med_pred").first()
    assert abs(row["mean_pred"] - row["y"]) < 5.0
    assert abs(row["med_pred"] - row["y"]) < 5.0


def test_boosted_hybrid_save_load_roundtrip(spark, tmp_path):
    """Persisted BoostedHybridModel must predict EXACTLY like the
    original on the TPS validation frame (VERDICT r1 item 3)."""
    from pyspark.ml.regression import GBTRegressor
    from advanced_data_mining_and_big_data_analysis_spark.ml import (
        BoostedHybridModel,
        build_feature_pipeline,
    )
    from advanced_data_mining_and_big_data_analysis_spark.ml import tps

    data = tps.engineer_features(synthetic_sales(spark, start="2017-01-01", end="2018-03-31"))
    prepared = build_feature_pipeline(tps.CATEGORICAL, tps.VECTORS).fit(data).transform(data)
    train = prepared.filter(F.col("date") <= F.lit("2017-12-31"))
    valid = prepared.filter(F.col("date") >= F.lit("2018-01-01"))

    model = BoostedHybrid(
        model_1=LinearRegression(featuresCol="features1", regParam=1e-4),
        model_2=GBTRegressor(featuresCol="features2", maxIter=5, maxDepth=4, seed=42),
        label_col="num_sold",
        log_target=True,
    ).fit(train)

    path = str(tmp_path / "hybrid_model")
    model.save(path)
    loaded = BoostedHybridModel.load(spark, path)
    assert loaded.log_target == model.log_target

    orig = model.transform(valid).select("row_id", F.col("prediction").alias("p0"))
    redo = loaded.transform(valid).select("row_id", F.col("prediction").alias("p1"))
    diff = (
        orig.join(redo, "row_id")
        .agg(F.max(F.abs(F.col("p0") - F.col("p1"))).alias("d"))
        .first()["d"]
    )
    assert diff == 0.0, f"loaded model diverged by {diff}"


def test_stacking_save_load_roundtrip(spark, linear_data, tmp_path):
    """StackingModel (with a nested composite BoostedHybridModel base)
    round-trips through save/load with identical predictions."""
    from advanced_data_mining_and_big_data_analysis_spark.ml import StackingModel

    bases = [
        BoostedHybrid(
            model_1=LinearRegression(featuresCol="features1"),
            model_2=LinearRegression(featuresCol="features2"),
            label_col="y",
        ).fit(linear_data),
        LinearRegression(featuresCol="features1", labelCol="y").fit(linear_data),
    ]
    from pyspark.ml.feature import VectorAssembler as VA
    from pyspark.ml.regression import LinearRegression as LR

    cols = ["_base0", "_base1"]
    scored = linear_data
    for m, c in zip(bases, cols):
        scored = m.transform(scored).withColumnRenamed("prediction", c)
    meta = LR(featuresCol="_meta_features", labelCol="y").fit(
        VA(inputCols=cols, outputCol="_meta_features").transform(scored)
    )
    stack = StackingModel(bases, meta, cols)

    path = str(tmp_path / "stack_model")
    stack.save(path)
    loaded = StackingModel.load(spark, path)
    assert loaded.base_cols == cols

    orig = stack.transform(linear_data).select("id", F.col("prediction").alias("p0"))
    redo = loaded.transform(linear_data).select("id", F.col("prediction").alias("p1"))
    diff = (
        orig.join(redo, "id").agg(F.max(F.abs(F.col("p0") - F.col("p1"))).alias("d")).first()["d"]
    )
    assert diff == 0.0


def test_mi_filter_ranks_dependence(spark):
    """A feature that determines the label must out-score an independent
    one, and mi_select must keep only the informative feature."""
    from advanced_data_mining_and_big_data_analysis_spark.ml.feature_select import (
        binned_mutual_information,
        mi_select,
    )

    rows = [
        (float(i % 4), float((i * 7 + 3) % 11), "abcd"[i % 4]) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "dep double, indep double, label string")
    mi = {r["feature"]: r["mi_nats"] for r in binned_mutual_information(df, ["dep", "indep"], "label").collect()}
    assert mi["dep"] > 1.0  # label is a function of dep: MI = H(label) = ln 4 ~ 1.386
    assert mi["indep"] < 0.2
    assert mi_select(df, ["dep", "indep"], "label", threshold=0.5) == ["dep"]


def test_periodogram_finds_planted_frequency(spark):
    """A pure sinusoid at k=5 cycles must put (nearly) all normalized
    power at k=5."""
    import math

    from advanced_data_mining_and_big_data_analysis_spark.functions.timeseries import periodogram

    n = 200
    rows = [(i, math.sin(2 * math.pi * 5 * i / n)) for i in range(n)]
    df = spark.createDataFrame(rows, "t long, x double")
    pg = {r["k"]: r["power_norm"] for r in periodogram(df, "x", "t", num_freqs=8).collect()}
    assert pg[5] > 0.2  # |DFT|^2/(n^2 var) of a pure tone = 1/4 at its bin
    assert all(v < 0.01 for k, v in pg.items() if k != 5)


def test_tps_full_ensemble_recipe(spark):
    from advanced_data_mining_and_big_data_analysis_spark.ml.tps import run_tps_ensemble

    m = run_tps_ensemble(spark, gbt_iters=10, folds=2)
    # both ensemble paths must stay near the synthetic noise floor (~6.4)
    assert m["stack_smape"] < 12.0, m
    assert m["median_blend_smape"] < 12.0, m


class _FakeBoosterModel:
    """Constant-mean 'fitted booster' — enough Model surface for
    BoostedHybridModel (transform + snake_case prediction_col param
    introspection, like a real xgboost.spark model)."""

    def __init__(self, mean: float, pred_col: str) -> None:
        self.mean, self.pred_col = mean, pred_col

    def hasParam(self, name: str) -> bool:
        return name == "prediction_col"

    def getOrDefault(self, name: str) -> str:
        if name != "prediction_col":
            raise ValueError(f"no param {name}")
        return self.pred_col

    def transform(self, df):
        from pyspark.sql import functions as F

        return df.withColumn(self.pred_col, F.lit(self.mean))


class _FakeSparkXGBRegressor:
    """Pure-python stand-in replicating xgboost.spark's param SURFACE
    (VERDICT r6 item 8): snake_case kwargs, hasParam, and a setParams
    that raises ValueError (not TypeError) for unknown names — the
    exact convention BoostedHybrid._set_cols must detect."""

    _PARAMS = frozenset(
        {"features_col", "label_col", "prediction_col", "max_depth", "n_estimators", "random_state"}
    )

    def __init__(self, **kw) -> None:
        unknown = set(kw) - self._PARAMS
        if unknown:
            raise ValueError(f"Unknown params: {sorted(unknown)}")
        self._kw = {"prediction_col": "prediction", **kw}

    def hasParam(self, name: str) -> bool:
        return name in self._PARAMS

    def setParams(self, **kw):
        unknown = set(kw) - self._PARAMS
        if unknown:
            raise ValueError(f"Unknown params: {sorted(unknown)}")
        self._kw.update(kw)
        return self

    def copy(self, extra=None):
        return _FakeSparkXGBRegressor(**self._kw)

    def fit(self, df):
        from pyspark.sql import functions as F

        mean = df.agg(F.avg(self._kw["label_col"])).first()[0]
        return _FakeBoosterModel(float(mean), self._kw["prediction_col"])


class _FakeLightGBMRegressor:
    """synapse.ml-style camelCase param surface (featuresCol / labelCol /
    predictionCol), the OTHER convention _set_cols must route."""

    _PARAMS = frozenset({"featuresCol", "labelCol", "predictionCol", "numIterations", "seed"})

    def __init__(self, **kw) -> None:
        unknown = set(kw) - self._PARAMS
        if unknown:
            raise TypeError(f"unexpected keyword {sorted(unknown)}")
        self._kw = {"predictionCol": "prediction", **kw}

    def hasParam(self, name: str) -> bool:
        return name in self._PARAMS

    def setParams(self, **kw):
        unknown = set(kw) - self._PARAMS
        if unknown:
            raise TypeError(f"unexpected keyword {sorted(unknown)}")
        self._kw.update(kw)
        return self

    def copy(self, extra=None):
        return _FakeLightGBMRegressor(**self._kw)

    def fit(self, df):
        from pyspark.sql import functions as F

        mean = df.agg(F.avg(self._kw["labelCol"])).first()[0]
        return _FakeBoosterModel(float(mean), self._kw["predictionCol"])


def _inject_fake_boosters(monkeypatch) -> None:
    import sys as _sys
    import types

    xgb = types.ModuleType("xgboost")
    xgb_spark = types.ModuleType("xgboost.spark")
    xgb_spark.SparkXGBRegressor = _FakeSparkXGBRegressor
    xgb.spark = xgb_spark
    syn = types.ModuleType("synapse")
    syn_ml = types.ModuleType("synapse.ml")
    syn_lgbm = types.ModuleType("synapse.ml.lightgbm")
    syn_lgbm.LightGBMRegressor = _FakeLightGBMRegressor
    syn.ml = syn_ml
    syn_ml.lightgbm = syn_lgbm
    for name, mod in [
        ("xgboost", xgb),
        ("xgboost.spark", xgb_spark),
        ("synapse", syn),
        ("synapse.ml", syn_ml),
        ("synapse.ml.lightgbm", syn_lgbm),
    ]:
        monkeypatch.setitem(_sys.modules, name, mod)


def test_external_boosted_stages(spark, linear_data, monkeypatch):
    """Reference parity for XGB/LGBM residual stages (kaggle.py:720-767).

    The container ships neither xgboost.spark nor synapse.ml, so the
    wiring is exercised against pure-python fakes replicating each
    library's param surface (snake_case + ValueError for XGB, camelCase
    for LightGBM): external_boosted_stages must construct both, and
    BoostedHybrid._set_cols must route label/prediction columns through
    the right convention so a full hybrid fit/transform runs end-to-end.
    When the real libraries ARE importable the same assertions run
    against them (no skip either way)."""
    from advanced_data_mining_and_big_data_analysis_spark.ml.boosted_hybrid import BoostedHybrid
    from advanced_data_mining_and_big_data_analysis_spark.ml import ensemble

    try:
        import xgboost.spark  # noqa: F401

        real_libs = True
    except ImportError:
        real_libs = False
        _inject_fake_boosters(monkeypatch)

    stages = ensemble.external_boosted_stages(features_col="features2")
    assert len(stages) >= (1 if real_libs else 2)
    if not real_libs:
        assert isinstance(stages[0], _FakeSparkXGBRegressor)
        assert stages[0]._kw["features_col"] == "features2"
        assert isinstance(stages[1], _FakeLightGBMRegressor)
        assert stages[1]._kw["featuresCol"] == "features2"

    from pyspark.ml.regression import LinearRegression

    for stage in stages:
        hybrid = BoostedHybrid(
            model_1=LinearRegression(featuresCol="features1", regParam=1e-3),
            model_2=stage,
            label_col="y",
            log_target=False,
        )
        model = hybrid.fit(linear_data)
        out = model.transform(linear_data)
        assert out.count() == linear_data.count()
        assert "prediction" in out.columns


def test_mlp_regressor_learns_nonlinear(spark):
    """Distributed MLP regressor (the reference's MLPRegressor slot,
    kaggle.py:731-741): must fit y = |x| - a shape NO linear model can -
    deterministically (same seed => identical predictions), with
    map-side-summed gradients."""
    import numpy as np

    from advanced_data_mining_and_big_data_analysis_spark.ml.mlp import MLPRegressor

    rows = [([x / 50.0], abs(x / 50.0)) for x in range(-100, 101)]
    df = spark.createDataFrame(rows, "features array<double>, label double").repartition(4)
    model = MLPRegressor(hidden=(16,), maxIter=100, stepSize=0.5, seed=7).fit(df)
    scored = model.transform(df).select("label", "prediction").toPandas()
    mse = float(np.mean((scored["label"] - scored["prediction"]) ** 2))
    var = float(np.var(scored["label"]))
    # linear least squares on a symmetric grid cannot beat predicting the
    # mean of |x| (R^2 = 0); the MLP must actually bend
    r2 = 1 - mse / var
    assert r2 > 0.9, f"expected nonlinear fit, got R^2={r2}"

    # determinism: two short fits must produce bit-identical weights
    # (weight comparison, not toPandas order which is partition-dependent)
    short = [
        MLPRegressor(hidden=(16,), maxIter=10, stepSize=0.5, seed=7).fit(df).params
        for _ in range(2)
    ]
    for a, b in zip(*short):
        assert np.array_equal(a, b)


def test_mlp_in_boosted_hybrid_with_vector_features(spark):
    """The MLP must drop into BoostedHybrid exactly where the reference
    put its MLPRegressor (hybrid residual grid): VectorUDT features from
    an assembler, setParams(labelCol=...) protocol, log-target path."""
    from pyspark.ml.feature import VectorAssembler

    from advanced_data_mining_and_big_data_analysis_spark.ml.boosted_hybrid import BoostedHybrid
    from advanced_data_mining_and_big_data_analysis_spark.ml.mlp import MLPRegressor
    from pyspark.ml.regression import GBTRegressor

    rows = [(float(i % 7), float(i % 5), 10.0 + (i % 7) + 2.0 * (i % 5)) for i in range(200)]
    df = spark.createDataFrame(rows, "a double, b double, y double")
    assembled = VectorAssembler(inputCols=["a", "b"], outputCol="f").transform(df)
    hybrid = BoostedHybrid(
        model_1=MLPRegressor(featuresCol="f", hidden=(8,), maxIter=20, stepSize=0.1),
        model_2=GBTRegressor(featuresCol="f", maxIter=3, maxDepth=2, seed=1),
        label_col="y",
        log_target=True,
    )
    scored = hybrid.fit(assembled).transform(assembled)
    assert scored.filter(scored.prediction.isNull()).count() == 0
    assert scored.count() == 200


def test_mlp_save_load_roundtrip(spark, tmp_path):
    """MLPRegressorModel persists through the composite convention
    (save(path) / load(spark, path)) with bit-identical predictions,
    including nested inside a saved BoostedHybridModel."""
    import numpy as np

    from advanced_data_mining_and_big_data_analysis_spark.ml import BoostedHybridModel
    from advanced_data_mining_and_big_data_analysis_spark.ml.boosted_hybrid import BoostedHybrid
    from advanced_data_mining_and_big_data_analysis_spark.ml.mlp import (
        MLPRegressor,
        MLPRegressorModel,
    )

    rows = [([x / 25.0], abs(x / 25.0)) for x in range(-50, 51)]
    df = spark.createDataFrame(rows, "features array<double>, label double")
    model = MLPRegressor(hidden=(8,), maxIter=15, stepSize=0.3, seed=3).fit(df)
    path = str(tmp_path / "mlp")
    model.save(path)
    loaded = MLPRegressorModel.load(spark, path)
    for a, b in zip(model.params, loaded.params):
        assert np.array_equal(a, b)

    # nested: BoostedHybrid with an MLP stage 1 must round-trip too
    from pyspark.ml.regression import GBTRegressor
    from pyspark.ml.feature import VectorAssembler

    d2 = VectorAssembler(inputCols=["a"], outputCol="f").transform(
        spark.createDataFrame([(float(i % 9), 5.0 + (i % 9)) for i in range(90)], "a double, y double")
    )
    hy = BoostedHybrid(
        model_1=MLPRegressor(featuresCol="f", hidden=(4,), maxIter=10, stepSize=0.1),
        model_2=GBTRegressor(featuresCol="f", maxIter=2, maxDepth=2, seed=1),
        label_col="y",
        log_target=False,
    ).fit(d2)
    hpath = str(tmp_path / "hybrid_mlp")
    hy.save(hpath)
    re = BoostedHybridModel.load(spark, hpath)
    p0 = hy.transform(d2).agg(F.sum("prediction")).first()[0]
    p1 = re.transform(d2).agg(F.sum("prediction")).first()[0]
    assert p0 == p1
