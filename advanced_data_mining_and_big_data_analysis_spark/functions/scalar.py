"""Scalar / row-wise expression builders (SURVEY §2.8).

Each is a native Column expression — the reference implements these as
vectorized numpy functions on collected data (geometric_round
kaggle/kaggle.py:837-842, better_than_median kaggle.py:132-144,
impute kaggle.py:177-182); here they run inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def geometric_round(x: Column | str) -> Column:
    """Round to the integer whose geometric mean the value is past
    (kaggle.py:837-842): floor(x) if x < sqrt(floor(x)*ceil(x)) else ceil(x)."""
    c = F.col(x) if isinstance(x, str) else x
    lo = F.floor(c)
    hi = F.ceil(c)
    return F.when(c < F.sqrt(lo * hi), lo).otherwise(hi).cast("long")


def better_than_median(preds: Column, threshold: float) -> Column:
    """Row-wise fold-ensemble combiner (kaggle.py:132-144): if the fold
    spread (max-min) is under ``threshold`` take the mean, else the median.
    ``preds`` is an array<double> column; median via sorted-array middle
    (averaged pair for even lengths) — no UDF."""
    n = F.size(preds)
    spread = F.array_max(preds) - F.array_min(preds)
    mean = F.aggregate(preds, F.lit(0.0), lambda acc, x: acc + x) / n
    s = F.array_sort(preds)
    mid = (n / 2).cast("int")
    median = F.when(
        n % 2 == 1, F.element_at(s, mid + 1)
    ).otherwise((F.element_at(s, mid) + F.element_at(s, mid + 1)) / 2.0)
    return F.when(spread < threshold, mean).otherwise(median)


def impute_defaults(df: DataFrame, numeric_fill: float = 0.0, string_fill: str = "None") -> DataFrame:
    """Fill numeric nulls with 0 and string nulls with 'None'
    (kaggle.py:177-182)."""
    num_cols = [c for c, t in df.dtypes if t in ("double", "float", "int", "bigint", "smallint")]
    str_cols = [c for c, t in df.dtypes if t == "string"]
    out = df
    if num_cols:
        out = out.na.fill(numeric_fill, num_cols)
    if str_cols:
        out = out.na.fill(string_fill, str_cols)
    return out


def label_encode(df: DataFrame, col: str, out_col: str | None = None) -> DataFrame:
    """Deterministic alphabetical label encoding — sklearn LabelEncoder
    semantics (kaggle.py:372-395: lexicographic order), expressed as a
    dense_rank over the distinct values and broadcast-joined back (the
    distinct side is tiny by definition of 'categorical')."""
    from pyspark.sql import Window as W

    out_col = out_col or f"{col}_code"
    dim = (
        df.select(col).distinct()
        .withColumn(out_col, (F.dense_rank().over(W.orderBy(col)) - 1).cast("int"))
    )
    return df.join(F.broadcast(dim), col, "left")
