"""Round-8 additions: 4:2:0 JPEG (q167) and multi-query BM25 (q168)."""

from __future__ import annotations

import pytest

from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries


def test_jpeg_420_exact_fixture_roundtrip():
    """The q167 oracle construction: per-8x8-block even-offset luma and
    per-16x16-MCU 17-multiple chroma must survive encode (box
    downsample + DCT + Huffman) and decode (MCU de-interleave +
    replication upsample) bit-exactly, plane by plane."""
    import numpy as np

    from advanced_data_mining_and_big_data_analysis_spark.operators import jpeg as J
    from advanced_data_mining_and_big_data_analysis_spark.operators.multimodal import (
        formula_jpeg_color_420_ycbcr,
    )

    for m in (0, 3, 7):
        blob = J.make_jpeg_color_420(
            32, 32, lambda x, y, m=m: formula_jpeg_color_420_ycbcr(m, x, y), colorspace="ycbcr"
        )
        w, h, planes = J._parse(blob)
        assert (w, h) == (32, 32)
        exp = np.array(
            [[formula_jpeg_color_420_ycbcr(m, x, y) for x in range(32)] for y in range(32)],
            dtype=float,
        )
        for i in range(3):
            assert np.abs(planes[i] - exp[..., i]).max() < 1e-9, (m, i)


def test_jpeg_420_rgb_path_error_bound():
    """Lossy path on a smooth gradient at non-16-multiple dims: decoded
    per-channel means stay within the standard codec sanity bound, and
    the declared dimensions are the pre-padding ones."""
    from advanced_data_mining_and_big_data_analysis_spark.operators import jpeg as J

    w, h = 33, 18
    blob = J.make_jpeg_color_420(
        w, h, lambda x, y: (min(255, 60 + 3 * x), min(255, 40 + 2 * y), 100)
    )
    fw, fh, mr, mg, mb, _ = J.decode_jpeg(blob)
    assert (fw, fh) == (float(w), float(h))
    ref_r = sum(min(255, 60 + 3 * x) for x in range(w) for _ in range(h)) / (w * h)
    ref_g = sum(min(255, 40 + 2 * y) for y in range(h) for _ in range(w)) / (w * h)
    assert abs(mr - ref_r) < 3 and abs(mg - ref_g) < 3 and abs(mb - 100) < 3


def test_jpeg_420_dc_prediction_threads_across_y_blocks():
    """Within one MCU the four Y blocks share the luma DC predictor —
    a per-block-reset bug would still decode MCU-constant fixtures, so
    pin it with luma that differs per 8x8 block inside every MCU."""
    from advanced_data_mining_and_big_data_analysis_spark.operators import jpeg as J

    def yc(x, y):
        bx, by = x // 8, y // 8
        return (128 + 2 * ((bx * 9 + by * 4) % 40 - 20), 128, 128)

    blob = J.make_jpeg_color_420(32, 32, yc, colorspace="ycbcr")
    _, _, planes = J._parse(blob)
    for by in range(4):
        for bx in range(4):
            expect = 128 + 2 * ((bx * 9 + by * 4) % 40 - 20)
            assert abs(planes[0][by * 8, bx * 8] - expect) < 1e-9, (bx, by)


def test_jpeg_420_rejects_truncation():
    from advanced_data_mining_and_big_data_analysis_spark.operators import jpeg as J

    blob = J.make_jpeg_color_420(16, 16, lambda x, y: (100, 150, 200))
    with pytest.raises(ValueError):
        J.decode_jpeg(blob[:-12])


def test_q168_plan_shape(spark, sf_dir):
    """Multi-query BM25: one corpus scan fanned out by broadcast joins —
    no CartesianProduct over data rows, ranking window partitioned by
    query_id (never a global sort of postings)."""
    qd = all_queries()["a0168_bm25_multiquery"]
    plan = qd.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q168_topk_is_per_query(spark, sf_dir):
    from advanced_data_mining_and_big_data_analysis_spark.plans.dedup_text import (
        _BM25_TOPK,
        _BM25_WORKLOAD,
    )

    rows = all_queries()["a0168_bm25_multiquery"].fn(spark, sf_dir).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rnk)
    assert set(per_q) <= {qid for qid, _ in _BM25_WORKLOAD}
    for qid, rnks in per_q.items():
        assert rnks == list(range(1, len(rnks) + 1)), qid
        assert len(rnks) <= _BM25_TOPK
