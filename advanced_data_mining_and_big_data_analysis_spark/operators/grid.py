"""Integer grid cells and their 3×3 neighbourhoods for the spatial family.

A neighbour join written as ``abs(cx − cx') ≤ 1 AND abs(cy − cy') ≤ 1``
has no equality key, so Spark can only run it as a nested loop over
all pairs. Raptor (VLDB 2019) tiles space for the same reason: repeat
one side once per cell of its 3×3 block and the neighbour join becomes
an equi hash join on ``(cx, cy)``. Callers choose the join type, the
extra keys and any broadcast hint; a hint put on a frame before
``neighbor_cells`` survives the explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def neighbor_cells(df: DataFrame) -> DataFrame:
    """Each row of ``df`` 9 times, its integer cell ``(cx, cy)`` shifted
    by every ``(dx, dy)`` in {−1, 0, 1}². Joined on ``(cx, cy)``, a row of
    another frame meets each row of its own and its 8 adjacent cells
    exactly once."""
    # built per call: F.expr needs an active SparkContext
    offs = F.expr(
        "explode(flatten(transform(sequence(-1, 1), dx -> "
        "transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    return (
        df.select("*", offs.alias("_off"))
        .withColumns({"cx": F.col("cx") + F.col("_off.dx"), "cy": F.col("cy") + F.col("_off.dy")})
        .drop("_off")
    )


def cap_per_cell(df: DataFrame, cap: int) -> DataFrame:
    """The first ``cap`` rows of each cell ``(cx, cy)`` ranked by
    ``md5('<cx>_<cy>_<id>')``, then ``id``: a deterministic salted
    subsample that a SQL oracle can replay, bounding any cell's rows."""
    w = Window.partitionBy("cx", "cy").orderBy(
        F.md5(F.concat_ws("_", *[F.col(c).cast("string") for c in ("cx", "cy", "id")])), "id"
    )
    return df.withColumn("_crk", F.row_number().over(w)).filter(F.col("_crk") <= cap).drop("_crk")


def equal_width_cells(df: DataFrame, g: int) -> DataFrame:
    """``df`` with a g×g equal-width cell ``(cx, cy)`` over the range of
    ``(e0, e1)``, from a broadcast one-row min/max frame; the max edge
    folds into cell g−1. ``eps`` is the smaller cell side, so every
    point within ``eps`` of a point lies in its 3×3 block."""
    rng = df.agg(
        F.min("e0").alias("_mn0"), F.max("e0").alias("_mx0"),
        F.min("e1").alias("_mn1"), F.max("e1").alias("_mx1"),
    )
    w0 = (F.col("_mx0") - F.col("_mn0")) / float(g)
    w1 = (F.col("_mx1") - F.col("_mn1")) / float(g)
    return df.crossJoin(F.broadcast(rng)).select(
        *df.columns,
        F.least(F.lit(g - 1), F.floor((F.col("e0") - F.col("_mn0")) / w0)).cast("long").alias("cx"),
        F.least(F.lit(g - 1), F.floor((F.col("e1") - F.col("_mn1")) / w1)).cast("long").alias("cy"),
        F.least(w0, w1).alias("eps"),
    )
