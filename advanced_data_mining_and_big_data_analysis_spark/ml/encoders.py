"""Feature-encoding pipeline builders (SURVEY §2.9).

Reproduces the reference's ColumnTransformer routing (kaggle.py:784-790):
object columns → OneHotEncoder, numeric columns → MinMaxScaler, assembled
into a vector. StringIndexer uses alphabetAsc ordering for sklearn
LabelEncoder parity (lexicographic codes, kaggle.py:372-395).
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.feature import MinMaxScaler, OneHotEncoder, StringIndexer, VectorAssembler


def build_feature_pipeline(
    cat_cols: list[str],
    vectors: dict[str, list[str]],
    scaled: dict[str, str] | None = None,
) -> Pipeline:
    """One StringIndexer(alphabetAsc) over ``cat_cols`` feeding every
    vector of ``vectors`` (output column → its inputs, in order). An input
    ``<c>_idx`` is category column ``c``'s label code, ``<c>_oh`` its
    one-hot (OneHotEncoder keep-all, fitted only for the columns some
    vector one-hots), and any other input a numeric column. ``scaled``
    maps an output column to the vector it MinMax-scales. Matches the
    sklearn defaults the reference relies on: lexicographic label codes,
    dense one-hot (dropLast=False ~ sparse=False), handle_unknown='ignore'
    ~ handleInvalid='keep'."""
    inputs = {c for cols in vectors.values() for c in cols}
    stages = [
        StringIndexer(
            inputCols=cat_cols,
            outputCols=[f"{c}_idx" for c in cat_cols],
            stringOrderType="alphabetAsc",
            handleInvalid="keep",
        )
    ]
    one_hot = [c for c in cat_cols if f"{c}_oh" in inputs]
    if one_hot:
        stages.append(
            OneHotEncoder(
                inputCols=[f"{c}_idx" for c in one_hot],
                outputCols=[f"{c}_oh" for c in one_hot],
                dropLast=False,
            )
        )
    stages.extend(
        VectorAssembler(inputCols=cols, outputCol=out, handleInvalid="keep")
        for out, cols in vectors.items()
    )
    stages.extend(MinMaxScaler(inputCol=src, outputCol=out) for out, src in (scaled or {}).items())
    return Pipeline(stages=stages)
