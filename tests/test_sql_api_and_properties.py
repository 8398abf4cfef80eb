"""SQL entry point parity, stratified sampling, glob reads, and
property-based checks of metric expressions against numpy oracles."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from advanced_data_mining_and_big_data_analysis_spark.functions import metrics as M
from advanced_data_mining_and_big_data_analysis_spark.functions import scalar as S
from advanced_data_mining_and_big_data_analysis_spark.sources import load_table, register_views


def test_sql_view_parity_with_dataframe_api(spark, sf_dir):
    """spark.sql over registered views produces the same result as the
    DataFrame API — Catalyst compiles both to the same plan."""
    register_views(spark, sf_dir)
    via_sql = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
        """
    ).collect()
    li = load_table(spark, sf_dir, "lineitem")
    via_df = (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .orderBy("l_returnflag", "l_linestatus")
        .collect()
    )
    assert [tuple(r) for r in via_sql] == [tuple(r) for r in via_df]


def test_stratified_sample_by(spark, sf_dir):
    """sampleBy with a fixed seed is the distributed form of the
    reference's per-class sampling cap (kaggle.py:77,424)."""
    li = load_table(spark, sf_dir, "lineitem")
    fractions = {"A": 0.1, "N": 0.05, "R": 0.2}
    sampled = li.sampleBy("l_returnflag", fractions, seed=42)
    counts = {r["l_returnflag"]: r["count"] for r in sampled.groupBy("l_returnflag").count().collect()}
    totals = {r["l_returnflag"]: r["count"] for r in li.groupBy("l_returnflag").count().collect()}
    for k, frac in fractions.items():
        assert counts[k] == pytest.approx(totals[k] * frac, rel=0.35)
    # same seed -> same sample (within one partitioning)
    again = li.sampleBy("l_returnflag", fractions, seed=42).count()
    assert again == sampled.count()


def test_glob_read_and_input_file_name(spark, sf_dir):
    """Multi-path glob scan with file provenance (os.walk shape, kaggle.py:51-53)."""
    df = spark.read.parquet(f"{sf_dir}/region.parquet", f"{sf_dir}/nation.parquet")
    # schemas merge by position only when compatible; here they differ, so read separately
    files = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    assert len(files) == 1 and "nation.parquet" in files[0]["f"]
    assert df is not None


finite = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(finite, finite), min_size=1, max_size=30))
def test_smape_property_vs_numpy(spark, pairs):
    df = spark.createDataFrame(pairs, "yt double, yp double")
    got = df.agg(M.smape("yt", "yp").alias("s")).collect()[0]["s"]
    yt = np.array([p[0] for p in pairs])
    yp = np.array([p[1] for p in pairs])
    denom = (np.abs(yt) + np.abs(yp)) / 200.0
    safe = np.where(denom == 0, 1.0, denom)
    exp = np.where(denom == 0, 0.0, np.abs(yt - yp) / safe).mean()
    assert got == pytest.approx(exp, rel=1e-9, abs=1e-9)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.floats(min_value=0.0, max_value=1e6, allow_nan=False), min_size=1, max_size=30))
def test_geometric_round_property(spark, vals):
    import math

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r["g"] for r in df.select(S.geometric_round("x").alias("g")).collect()]
    exp = [
        (math.floor(x) if x < math.sqrt(math.floor(x) * math.ceil(x)) else math.ceil(x))
        for x in vals
    ]
    assert got == exp


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized (fixed-seed) as-of join vs the pandas merge_asof oracle:
    same keys, duplicate timestamps on both sides, unmatched lefts."""
    import pandas as pd

    from advanced_data_mining_and_big_data_analysis_spark.operators.joins import asof_join

    rng = np.random.RandomState(7)
    n_l, n_r = 400, 300
    left = pd.DataFrame(
        {
            "k": rng.randint(0, 12, n_l),
            "ts": rng.randint(0, 1000, n_l).astype("int64"),
            "lid": np.arange(n_l, dtype="int64"),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.randint(0, 12, n_r),
            "ts": rng.randint(0, 1000, n_r).astype("int64"),
            "v": rng.rand(n_r).round(6),
        }
    )
    # merge_asof requires sort; ties within (k, ts) on the right are
    # resolved by taking the LAST row — make the value unique per (k, ts)
    # so tie order cannot differ between engines
    right = right.groupby(["k", "ts"], as_index=False).agg(v=("v", "max"))
    got_df = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on="k",
        left_ts="ts",
        right_ts="ts",
    )
    got = {r["lid"]: r["v"] for r in got_df.collect()}
    want_df = pd.merge_asof(
        left.sort_values(["ts", "lid"]),
        right.sort_values("ts"),
        on="ts",
        by="k",
        direction="backward",
    )
    want = {int(r.lid): (None if pd.isna(r.v) else round(float(r.v), 6)) for r in want_df.itertuples()}
    assert len(got) == n_l
    assert got == want


def test_apply_cdc_sequential_equals_batched(spark):
    """Applying a change feed in two sequential halves equals applying it
    in one batch (seq respected), on randomized fixed-seed data."""
    import pandas as pd

    from advanced_data_mining_and_big_data_analysis_spark.operators.cdc import apply_cdc

    rng = np.random.RandomState(11)
    base = pd.DataFrame({"k": np.arange(50, dtype="int64"), "val": rng.rand(50).round(6)})
    ops = rng.choice(["U", "D", "I"], 80)
    keys = rng.randint(0, 70, 80)
    changes = pd.DataFrame(
        {
            "k": keys.astype("int64"),
            "val": rng.rand(80).round(6),
            "op": ops,
            "seq": np.arange(80, dtype="int64"),
        }
    )
    sb = spark.createDataFrame(base)
    c1 = spark.createDataFrame(changes.iloc[:40])
    c2 = spark.createDataFrame(changes.iloc[40:])
    call = spark.createDataFrame(changes)
    seq_result = apply_cdc(apply_cdc(sb, c1, key="k"), c2, key="k")
    bat_result = apply_cdc(sb, call, key="k")
    to_map = lambda df: {r["k"]: r["val"] for r in df.collect()}  # noqa: E731
    assert to_map(seq_result) == to_map(bat_result)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab 1.!", min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_zip_ngram_rows_matches_python_reference(spark, texts, n):
    """Property: the zip/slice/array_distinct n-gram flat-map equals the
    obvious Python reference (normalize, split, sliding window, per-doc
    dedup) on arbitrary text including punctuation, repeated runs of
    separators, and empty/short docs. The pair form (the two element
    columns of ``ngram_zip``, no dedup) equals the Python sliding
    window with multiplicity."""
    import re as _re
    from collections import Counter

    from pyspark.sql import functions as F

    from advanced_data_mining_and_big_data_analysis_spark.operators import text as X

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with_t = df.select(
        "doc_id", F.split(F.trim(X.normalize("text")), " +").alias("_toks")
    )
    got = {
        (r["doc_id"], r["gram"])
        for r in X.zip_ngram_rows(with_t, "_toks", n, "gram", ["doc_id"], " ", True).collect()
    }
    want = set()
    want_pairs = Counter()
    for i, t in rows:
        toks = [w for w in _re.sub(r"[^a-z0-9 ]", " ", t.lower()).split() if w]
        for j in range(len(toks) - n + 1):
            want.add((i, " ".join(toks[j : j + n])))
        want_pairs.update((i, a, b) for a, b in zip(toks, toks[1:]))
    assert got == want
    pairs = with_t.select("doc_id", F.explode(X.ngram_zip("_toks", 2)).alias("_p"))
    got_pairs = Counter((r["doc_id"], r["_p"]["g0"], r["_p"]["g1"]) for r in pairs.collect())
    assert got_pairs == want_pairs
