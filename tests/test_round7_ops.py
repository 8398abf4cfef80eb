"""Round-7 regression tests for the ADVICE r6 findings: data-derived
hierarchy unroll depth (q153), empty-intersection join-size estimate
(q156), and per-row corrupt-blob degradation in image resize."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries
from advanced_data_mining_and_big_data_analysis_spark.testing import compare


def _write_tiny_tables(spark, out_dir: str, custkeys, orderkeys_by_cust):
    """Minimal customer/orders parquet pair with just the columns the
    queries under test touch."""
    cust = spark.createDataFrame(
        [(int(k), "BUILDING") for k in custkeys], "c_custkey long, c_mktsegment string"
    )
    orders = spark.createDataFrame(
        [
            (int(ok), int(ck), "F", float(tp))
            for ck, rows in orderkeys_by_cust.items()
            for ok, tp in rows
        ],
        # double, like the real testdata orders table
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double",
    )
    cust.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "customer.parquet"))
    orders.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "orders.parquet"))


def test_q153_depth_derived_from_data(spark, tmp_path):
    """ADVICE r6 (medium): the hierarchy unroll depth must come from the
    data, not a constant — custkeys up to 7 digits (depth 6, beyond the
    old hard-coded 4) must still hash-match DuckDB's true WITH RECURSIVE
    traversal, i.e. no deep nodes silently dropped from subtree spend."""
    out = str(tmp_path / "deep")
    # a chain 3 -> 31 -> 312 -> 3125 -> 31250 -> 312500 -> 3125000 plus
    # scattered shallow nodes; the deepest node carries distinctive spend
    chain = [3, 31, 312, 3125, 31250, 312500, 3125000]
    custkeys = chain + [5, 57, 570, 42]
    # cents chosen so subtree sums don't end in a trailing zero (Spark's
    # DECIMAL stringifies "x.y0" where a float would print "x.y" — the
    # hash compares strings, and the real table's sums are never round)
    orders = {k: [(i + 1, 111.11 * (i + 1))] for i, k in enumerate(custkeys)}
    _write_tiny_tables(spark, out, custkeys, orders)

    qd = all_queries()["a0153_hierarchy_rollup"]
    sdf = qd.fn(spark, out).toPandas()
    con = duckdb.connect()
    # Spark writes <name>.parquet as a directory of part files
    con.execute(f"CREATE VIEW customer AS SELECT * FROM '{out}/customer.parquet/*.parquet'")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{out}/orders.parquet/*.parquet'")
    odf = con.execute(qd.oracle).df()
    problems = compare(sdf, odf)
    assert not problems, problems
    # the depth-6 leaf is actually reachable: root 3 subtree spans 7 nodes
    root3 = sdf[sdf["root"] == 3].iloc[0]
    assert int(root3["n_nodes"]) == len(chain)
    assert int(root3["max_depth"]) == len(chain) - 1


def test_q156_empty_intersection_is_true_not_null(spark, tmp_path):
    """ADVICE r6 (low): with a filtered A-join-B that is empty the CMS
    sketch join has no (depth,bucket) rows and min(dot) is NULL — the
    estimate must coalesce to 0 so never_underestimates stays literal
    TRUE (0 >= 0), matching the oracle's pinned constant."""
    out = str(tmp_path / "disjoint")
    # BUILDING customers 1..3; F orders only for custkeys 100..102
    _write_tiny_tables(
        spark, out, [1, 2, 3], {100: [(1, 10.0)], 101: [(2, 20.0)], 102: [(3, 30.0)]}
    )
    qd = all_queries()["a0156_join_size_estimate"]
    row = qd.fn(spark, out).collect()[0]
    assert row["exact_join_size"] == 0
    assert row["never_underestimates"] is True


def test_resize_images_degrades_corrupt_bmp_per_row(spark):
    """ADVICE r6 (low): a blob passing the 2-byte 'BM' magic but
    malformed beyond it (truncated header) must degrade to the byte-tile
    stand-in for THAT row instead of failing the whole Arrow batch."""
    from advanced_data_mining_and_big_data_analysis_spark.operators.multimodal import (
        make_bmp,
        resize_images,
    )

    good = make_bmp(4, 4, lambda x, y: (x * 60, y * 60, 128))
    corrupt = b"BM" + b"\x01\x02\x03"  # magic ok, header truncated
    media = spark.createDataFrame(
        [(1, "image/bmp", bytearray(good)), (2, "image/bmp", bytearray(corrupt))],
        "media_id long, mime string, content binary",
    )
    rows = {r["media_id"]: r for r in resize_images(media, 8, 8).collect()}
    assert set(rows) == {1, 2}
    assert bytes(rows[1]["content"])[:2] == b"BM"  # real resize succeeded
    # corrupt row: deterministic byte-tile stand-in of target size, not an error
    tiled = bytes(rows[2]["content"])
    assert len(tiled) == 8 * 8
    assert tiled == (corrupt * (64 // len(corrupt) + 1))[:64]


@pytest.mark.parametrize("name", ["q122_classifier_scoring", "a0155_score_calibration"])
def test_classifier_score_shared_helper(name):
    """q122 and q155 must score through ONE shared scorer (_scored_docs)
    so the scoring rule cannot silently diverge."""
    import inspect

    from advanced_data_mining_and_big_data_analysis_spark.plans import pipeline_ops as P

    src = inspect.getsource(getattr(P, name))
    assert "_scored_docs(" in src


def test_bpe_round0_fast_path_matches_generic(spark, sf_dir):
    """bpe_round0_pair_counts (2-char substring fast path) must produce
    the exact pair counts of the generic symbol-array path on round-0
    (single-char) symbols — the only regime it is valid for."""
    from advanced_data_mining_and_big_data_analysis_spark.operators import text as X
    from advanced_data_mining_and_big_data_analysis_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    vocab = X.word_counts(docs)
    generic = (
        X.bpe_pair_counts(vocab.withColumn("syms", X.char_symbols("word")))
        .orderBy("a", "b")
        .toPandas()
    )
    fast = X.bpe_round0_pair_counts(vocab).orderBy("a", "b").toPandas()
    assert generic.equals(fast)


# ---------------------------------------------------- q164 IVF-PQ search


def test_q164_adc_recall_on_clustered_data(spark, tmp_path):
    """On WELL-SEPARATED clusters (prototype + small noise, prototypes
    doubling as the deterministic codebook) IVF-PQ ADC search must
    recall nearly the exact top-5 — the testdata embeddings are near-
    random 64-dim, so the real-fixture run (oracle-hash-checked) proves
    mechanics while this proves the retrieval QUALITY the composition
    delivers when the data has structure (the test_operators.py ANN
    ladder convention)."""
    import numpy as np

    rng = np.random.default_rng(7)
    protos = np.zeros((8, 64))
    for p in range(8):
        protos[p, p * 8 : (p + 1) * 8] = 10.0
    rows = []
    vec_id = 0
    for p in range(8):  # vec_id 0..7 = exact prototypes (codebook + queries 0-2)
        rows.append((vec_id, p, protos[p].astype(np.float32).tolist()))
        vec_id += 1
    for p in range(8):  # members: prototype + small noise
        for _ in range(12):
            v = protos[p] + rng.normal(0, 0.2, 64)
            rows.append((vec_id, p, v.astype(np.float32).tolist()))
            vec_id += 1
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out_dir = str(tmp_path / "emb")
    df.coalesce(1).write.mode("overwrite").parquet(out_dir + "/embeddings.parquet")

    from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries

    out = all_queries()["a0164_ivf_pq_search"].fn(spark, out_dir).toPandas()
    label_of = {r[0]: r[1] for r in rows}
    proto_d2 = {
        (qp, p): float(((protos[qp] - protos[p]) ** 2).sum()) for qp in range(3) for p in range(8)
    }
    for q in (0, 1, 2):
        sub = out[out["query_id"] == q]
        assert len(sub) == 5
        # IVF-PQ retrieves at CLUSTER granularity: with separable
        # clusters every hit must come from the query's own cluster
        # (members share their prototype's codes, so ADC cannot — and
        # need not — rank within a cluster; that is fundamental PQ
        # behavior, audited by the true_d2 column).
        hit_labels = {label_of[v] for v in sub["vec_id"]}
        assert hit_labels == {q}, f"query {q} retrieved foreign clusters: {hit_labels}"
        # ADC distance of own-cluster hits ~ 0, far below any foreign prototype
        foreign_min = min(proto_d2[(q, p)] for p in range(8) if p != q)
        assert (sub["adc_d2"] < foreign_min / 4).all()
        # the exact-distance audit column rides along and is sane
        assert (sub["true_d2"] >= 0).all()
        assert (sub["true_d2"] < foreign_min / 4).all()


# ------------------------------------------------------- color JPEG codec


def test_jpeg_color_exact_fixture_roundtrip():
    """Block-constant (Y, Cb, Cr) with quant-divisible DC terms must
    survive the 3-component codec bit-exactly (the q163 oracle
    construction), including the chroma-table routing and per-component
    DC prediction."""
    from advanced_data_mining_and_big_data_analysis_spark.operators import jpeg as J
    from advanced_data_mining_and_big_data_analysis_spark.operators.multimodal import (
        formula_jpeg_color_ycbcr,
    )

    for m in (0, 3, 7):
        blob = J.make_jpeg_color(
            16, 16, lambda x, y, m=m: formula_jpeg_color_ycbcr(m, x, y), colorspace="ycbcr"
        )
        w, h, mr, mg, mb, tl = J.decode_jpeg(blob)
        rs, gs, bs = [], [], []
        for by in range(2):
            for bx in range(2):
                Y, Cb, Cr = formula_jpeg_color_ycbcr(m, bx * 8, by * 8)
                rs.append(round(Y + 1.402 * (Cr - 128)))
                gs.append(round(Y - 0.344136 * (Cb - 128) - 0.714136 * (Cr - 128)))
                bs.append(round(Y + 1.772 * (Cb - 128)))
        assert (w, h) == (16.0, 16.0)
        assert mr == sum(rs) / 4 and mg == sum(gs) / 4 and mb == sum(bs) / 4
        assert tl == rs[0]


def test_jpeg_color_rgb_path_error_bound():
    """The lossy RGB path (float color conversion + quantized AC) must
    stay within a small per-channel mean error on a smooth gradient —
    the standard codec sanity bound."""
    from advanced_data_mining_and_big_data_analysis_spark.operators import jpeg as J

    w, h = 24, 17
    blob = J.make_jpeg_color(
        w, h, lambda x, y: (min(255, 60 + 3 * x), min(255, 40 + 2 * y), 100)
    )
    _, _, mr, mg, mb, _ = J.decode_jpeg(blob)
    ref_r = sum(min(255, 60 + 3 * x) for x in range(w) for _ in range(h)) / (w * h)
    ref_g = sum(min(255, 40 + 2 * y) for y in range(h) for _ in range(w)) / (w * h)
    assert abs(mr - ref_r) < 3 and abs(mg - ref_g) < 3 and abs(mb - 100) < 3


def test_jpeg_decode_handles_gray_and_gray_decoder_rejects_color():
    from advanced_data_mining_and_big_data_analysis_spark.operators import jpeg as J

    gray = J.make_jpeg_gray(16, 16, lambda x, y: 128 + 2 * ((x // 8) - (y // 8)))
    assert J.decode_jpeg(gray) == J.decode_jpeg_gray(gray)  # 1-comp: same feature
    color = J.make_jpeg_color(8, 8, lambda x, y: (10, 20, 30))
    with pytest.raises(ValueError):
        J.decode_jpeg_gray(color)
    # truncated color entropy stream still fails loud
    with pytest.raises(ValueError):
        J.decode_jpeg(color[:-12])


def test_q153_plan_has_no_cartesian(spark, sf_dir):
    """The derived-depth rewrite must keep the broadcast-join unroll
    shape (no CartesianProduct sneaking in via the scalar pre-agg)."""
    qd = all_queries()["a0153_hierarchy_rollup"]
    plan = qd.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
