"""Round-10 operator property tests (beyond the oracle hash)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F


def test_hilbert_adjacency_property(spark):
    """The a0183 transform must BE a Hilbert curve: over the full
    256x256 grid the index is a bijection and consecutive indices are
    grid neighbors (unit Manhattan step) — the locality property the
    layout claim rests on."""
    from advanced_data_mining_and_big_data_analysis_spark.plans.pipeline_ops import (
        _H_N,
        hilbert_stages,
    )

    grid = spark.range(_H_N * _H_N).select(
        (F.col("id") % _H_N).alias("x"),
        (F.col("id") / _H_N).cast("long").alias("y"),
        (F.col("id") % _H_N).alias("px"),
        (F.col("id") / _H_N).cast("long").alias("py"),
    )
    h = hilbert_stages(grid).select("hval", "px", "py")
    assert h.groupBy("hval").count().filter("count > 1").count() == 0
    w = Window.orderBy("hval")
    steps = h.select(
        (
            F.abs(F.col("px") - F.lag("px").over(w)) + F.abs(F.col("py") - F.lag("py").over(w))
        ).alias("step")
    )
    assert steps.filter(F.col("step").isNotNull() & (F.col("step") != 1)).count() == 0


def test_hilbert_beats_zorder_on_misaligned_files(spark, sf_dir):
    """At a file count that is not a power of 4 (ranges misaligned with
    quadrant blocks), Hilbert's strict locality must show: its mean and
    worst per-file footprint are no worse than Z-order's, and the
    Z-order worst file exhibits the Morton seam jump (span > 2x
    Hilbert's worst)."""
    from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries

    rows = {
        r["layout"]: r
        for r in all_queries()["a0110_hilbert_layout"].fn(spark, sf_dir).collect()
    }
    h, z = rows["hilbert"], rows["zorder"]
    assert h["avg_span_frac"] <= z["avg_span_frac"]
    assert h["max_span_frac"] * 2 < z["max_span_frac"]


def test_flagship_pipeline_funnel_monotone(spark, sf_dir):
    """Every stage of a0142 can only shrink the per-source corpus."""
    from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries

    for r in all_queries()["a0142_flagship_pipeline"].fn(spark, sf_dir).collect():
        assert (
            r["n_raw"] >= r["n_dedup"] >= r["n_quality"] >= r["n_decontam"] >= r["n_sampled"]
        ), r
        assert r["n_chunks"] <= r["total_tokens"] or r["n_chunks"] == 0
        assert 0 <= r["pack_utilization"] <= 1


def test_int4_packing_checksum_bounds(spark, sf_dir):
    """a0141: 64 dims -> 32 bytes per vector; bytes in [0, 255]."""
    from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries

    for r in all_queries()["a0141_int4_quantization"].fn(spark, sf_dir).collect():
        assert r["n_bytes"] == r["n_vecs"] * 32, r
        assert r["max_abs_err"] >= 0 and r["mse"] >= 0


def _reference_pav(xs, ys):
    """Textbook pool-adjacent-violators: pooled level per sorted point."""
    pts = sorted(zip(xs, ys))
    levels = [[y, 1.0] for _, y in pts]  # (mean, weight) blocks
    blocks = []
    for lv in levels:
        blocks.append(lv)
        while len(blocks) >= 2 and blocks[-2][0] > blocks[-1][0]:
            m2, w2 = blocks.pop()
            m1, w1 = blocks.pop()
            blocks.append([(m1 * w1 + m2 * w2) / (w1 + w2), w1 + w2])
    out = []
    for m, w in blocks:
        out.extend([m] * int(round(w)))
    return [p[0] for p in pts], out


def test_isotonic_matches_reference_pav(spark, sf_dir):
    """a0199: Spark ML's distributed PAV must agree with the textbook
    sequential PAV on the fixture — fitted value at every training x
    within 1e-9 — and the step function must be monotone."""
    from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries
    from advanced_data_mining_and_big_data_analysis_spark.plans.stats import (
        _iso_fixture_rows,
    )

    rows = all_queries()["a0126_isotonic_calibration"].fn(spark, sf_dir).collect()
    preds = [r["prediction"] for r in rows]
    bounds = [r["boundary"] for r in rows]
    assert preds == sorted(preds), "calibration map must be monotone"
    assert bounds == sorted(bounds)

    xs, ys = zip(*_iso_fixture_rows())
    ref_x, ref_fit = _reference_pav(xs, ys)

    # evaluate the model's step function at each training x: linear
    # interpolation between boundaries (Spark ML semantics)
    def model_at(x):
        import bisect

        i = bisect.bisect_right(bounds, x)
        if i == 0:
            return preds[0]
        if i >= len(bounds):
            return preds[-1]
        x0, x1, y0, y1 = bounds[i - 1], bounds[i], preds[i - 1], preds[i]
        if x1 == x0:
            return y1
        return y0 + (y1 - y0) * (x - x0) / (x1 - x0)

    # tolerance: the query rounds boundary/prediction to 6dp, which
    # shifts the interpolated value by up to ~2e-6; the distributed-vs-
    # sequential PAV agreement itself is exact
    for x, want in zip(ref_x, ref_fit):
        assert abs(model_at(x) - want) < 1e-5, (x, model_at(x), want)


def test_lzw_round_trip_property():
    """hypothesis: every index stream round-trips through the GIF LZW
    codec at every legal min_code_size, including streams long enough
    to force width growth and the 12-bit CLEAR-reset."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from advanced_data_mining_and_big_data_analysis_spark.operators import gif as G

    @settings(max_examples=60, deadline=None)
    @given(
        st.integers(min_value=2, max_value=8),
        st.binary(min_size=0, max_size=4000),
    )
    def prop(min_code, raw):
        n = 1 << min_code
        data = bytes(b % n for b in raw)
        assert G.lzw_decode(G.lzw_encode(data, min_code), min_code) == data

    prop()


def test_gif_container_round_trip_property():
    """hypothesis: random palette-indexed images survive the full
    GIF87a container (encode -> decode features match formula)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from advanced_data_mining_and_big_data_analysis_spark.operators import gif as G

    @settings(max_examples=25, deadline=None)
    @given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 2**31 - 1))
    def prop(w, h, seed):
        pal = [((seed + j * 61) % 256, (seed * 3 + j) % 256, (j * 97) % 256) for j in range(8)]
        idx = lambda x, y: (seed + x * 7 + y * 13) % 8  # noqa: E731
        f = G.decode_gif(G.make_gif(w, h, pal, idx))
        px = [idx(x, y) for y in range(h) for x in range(w)]
        assert f[0] == w and f[1] == h
        assert abs(f[2] - sum(pal[i][0] for i in px) / len(px)) < 1e-9
        assert f[5] == px[0]

    prop()
