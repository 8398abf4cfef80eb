"""The embedding family's shared kernels (operators/similarity.py)
against brute-force numpy replicas, and the guard that keeps each of
them defined once."""

from __future__ import annotations

import re
from pathlib import Path

import numpy as np
import pytest

from advanced_data_mining_and_big_data_analysis_spark.operators import similarity as SIM

PKG = Path(__file__).resolve().parents[1] / "advanced_data_mining_and_big_data_analysis_spark"


def _brute_nearest(xm: np.ndarray, cmat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per row: the lowest seed index among the minima of round(sum (x-c)^2, 9)."""
    idx, d2 = [], []
    for x in xm:
        d = [round(float(((x - c) ** 2).sum()), 9) for c in cmat]
        best = min(range(len(d)), key=lambda j: (d[j], j))
        idx.append(best)
        d2.append(d[best])
    return np.array(idx), np.array(d2)


def test_nearest_seed_ties_go_to_the_lowest_seed():
    rng = np.random.default_rng(7)
    # small integers: every distance is exact, so equal distances to
    # different seeds are real ties; seeds 1 and 3 are exact duplicates
    cmat = rng.integers(-3, 4, size=(6, 5)).astype(np.float64)
    cmat[3] = cmat[1]
    xm = np.vstack([rng.integers(-3, 4, size=(60, 5)), cmat]).astype(np.float64)
    idx, d2 = SIM.nearest_seed(xm, cmat)
    want_idx, want_d2 = _brute_nearest(xm, cmat)
    assert idx.tolist() == want_idx.tolist()
    assert d2.tolist() == want_d2.tolist()
    assert 3 not in idx.tolist()  # the duplicate never wins over seed 1
    assert idx[60 + 3] == 1 and d2[60 + 3] == 0.0


def test_nearest_seed_matches_brute_force_on_floats():
    rng = np.random.default_rng(11)
    cmat = rng.normal(size=(9, 16))
    xm = rng.normal(size=(40, 16))
    idx, d2 = SIM.nearest_seed(xm, cmat)
    want_idx, want_d2 = _brute_nearest(xm, cmat)
    assert idx.tolist() == want_idx.tolist()
    assert np.allclose(d2, want_d2, rtol=0, atol=1e-8)


def test_cosine_block_zero_norm_rows_score_zero():
    a = np.array([[1.0, 2.0, 2.0], [0.0, 0.0, 0.0], [-3.0, 0.0, 4.0]])
    b = np.array([[0.0, 0.0, 0.0], [2.0, 4.0, 4.0], [1.0, 0.0, 0.0]])
    got = SIM.cosine_block(a, b)
    want = np.empty((3, 3))
    for i, x in enumerate(a):
        for j, y in enumerate(b):
            nx = float(np.sqrt((x * x).sum())) or 1.0
            ny = float(np.sqrt((y * y).sum())) or 1.0
            want[i, j] = round(float((x * y).sum()) / (nx * ny), 9)
    assert got.tolist() == want.tolist()
    assert got[1].tolist() == [0.0, 0.0, 0.0] and got[:, 0].tolist() == [0.0, 0.0, 0.0]
    assert got[0, 1] == 1.0


def test_assign_nearest_seed_frame(spark):
    seeds = [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]]
    pts = [(i, [float(i % 11), float(i // 11)]) for i in range(0, 121, 7)]
    # more partitions than rows: most Arrow batches are empty
    df = spark.createDataFrame(pts, "vec_id long, v array<double>").repartition(40)
    out = SIM.assign_nearest_seed(
        df, [4, 5, 6], seeds, "vec_id long, cell long, v array<double>, d2 double", "cell"
    )
    assert out.columns == ["vec_id", "cell", "v", "d2"]
    got = {r["vec_id"]: (r["cell"], r["d2"]) for r in out.collect()}
    idx, d2 = _brute_nearest(np.array([v for _, v in pts]), np.array(seeds))
    assert got == {vid: (4 + int(j), float(d)) for (vid, _), j, d in zip(pts, idx, d2)}
    empty = spark.createDataFrame([], "vec_id long, v array<double>")
    assert SIM.assign_nearest_seed(
        empty, [4, 5, 6], seeds, "vec_id long, cell long, v array<double>", "cell"
    ).collect() == []


def test_stride_codebook_takes_every_step_th_vec_id(spark):
    df = spark.createDataFrame([(i, [float(i), -float(i)]) for i in range(23)], "vec_id long, v array<double>")
    sids, cmat = SIM.stride_codebook(df, lambda n: -(-n // 5))  # n=23: k=5, step=5
    assert sids.tolist() == [0, 5, 10, 15, 20]
    assert cmat.tolist() == [[float(i), -float(i)] for i in (0, 5, 10, 15, 20)]


@pytest.mark.parametrize(
    ("what", "pattern", "home"),
    [
        ("BLAS nearest-seed expansion", r"x2 - 2\.0 \*|@ cmat\.T\b", "operators/similarity.py"),
        ("cosine-block normalisation", r"np\.outer\(", "operators/similarity.py"),
        ("md5 salted-cell rank", r"ORDER BY md5\(concat\(|floor\(\(\s*F\.row_number\(\)", "operators/dedup.py"),
    ],
)
def test_embedding_kernels_live_only_in_their_home(what, pattern, home):
    rx = re.compile(pattern)
    hits = sorted(str(p.relative_to(PKG)) for p in PKG.rglob("*.py") if rx.search(p.read_text()))
    assert hits == [home], what
