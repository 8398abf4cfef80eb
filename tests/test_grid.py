"""The grid-neighbourhood helpers against plain-Python replicas."""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from pathlib import Path

from pyspark.sql import functions as F

from advanced_data_mining_and_big_data_analysis_spark.operators.grid import (
    cap_per_cell,
    equal_width_cells,
    neighbor_cells,
)

PKG = Path(__file__).resolve().parents[1] / "advanced_data_mining_and_big_data_analysis_spark"

# negative cells, three points in cell (0, 0), and cells two apart that
# must not meet
_PTS = [(1, 0, 0), (2, 0, 0), (9, 0, 0), (3, 1, 1), (4, -1, 0), (5, 2, 2), (6, -2, -2), (7, 0, 2), (8, 3, 0)]


def test_neighbor_cells_join_is_the_3x3_join(spark):
    df = spark.createDataFrame(_PTS, "id long, cx long, cy long")
    nb = neighbor_cells(df)
    assert nb.columns == df.columns
    a = df.select(F.col("id").alias("a"), "cx", "cy")
    b = nb.select(F.col("id").alias("b"), "cx", "cy")
    got = Counter((r.a, r.b) for r in a.join(b, ["cx", "cy"]).collect())
    want = Counter(
        (p, q)
        for p, px, py in _PTS
        for q, qx, qy in _PTS
        if abs(px - qx) <= 1 and abs(py - qy) <= 1
    )
    assert got == want


def test_cap_per_cell_keeps_the_md5_ranked_first_rows(spark):
    pts = [(i, -1, 2) for i in range(1, 6)] + [(i, 0, 0) for i in range(10, 13)] + [(20, 3, -4)]
    cap = 3
    df = spark.createDataFrame(pts, "id long, cx long, cy long")
    got = sorted((r.cx, r.cy, r.id) for r in cap_per_cell(df, cap).collect())
    cells: dict[tuple[int, int], list[int]] = {}
    for i, cx, cy in pts:
        cells.setdefault((cx, cy), []).append(i)
    want = sorted(
        (cx, cy, i)
        for (cx, cy), ids in cells.items()
        for i in sorted(ids, key=lambda i: (hashlib.md5(f"{cx}_{cy}_{i}".encode()).hexdigest(), i))[:cap]
    )
    assert got == want
    assert Counter((cx, cy) for cx, cy, _ in got) == {(-1, 2): 3, (0, 0): 3, (3, -4): 1}
    assert cap_per_cell(df, cap).columns == df.columns


def test_equal_width_cells_folds_the_max_edge_and_sets_eps(spark):
    # e0 spans 8 and e1 spans 2, so g=4 gives cells 2.0 wide and 0.5 high
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 3.0, 1.2), (3, 8.0, 2.0), (4, 7.9, 0.49)], "id long, e0 double, e1 double"
    )
    rows = {r.id: r for r in equal_width_cells(df, 4).collect()}
    assert [(rows[i].cx, rows[i].cy) for i in (1, 2, 3, 4)] == [(0, 0), (1, 2), (3, 3), (3, 0)]
    assert {r.eps for r in rows.values()} == {0.5}
    assert equal_width_cells(df, 4).columns == ["id", "e0", "e1", "cx", "cy", "eps"]


def test_offset_explode_lives_only_in_the_grid_module():
    offsets = re.compile(r"sequence\(\s*-1\s*,\s*1\s*\)|range\(\s*-1\s*,\s*2\s*\)")
    hits = sorted(str(p.relative_to(PKG)) for p in PKG.rglob("*.py") if offsets.search(p.read_text()))
    assert hits == ["operators/grid.py"]
