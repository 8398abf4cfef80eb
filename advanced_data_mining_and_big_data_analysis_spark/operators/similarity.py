"""Similarity search over embedding columns (BASELINE.json north star).

Embeddings are ``array<float>``; all math is done after casting to double
(both engines then execute identical IEEE ops in identical fold order, so
results are bit-reproducible). Dot products fold left with a 0.0 init —
(((0+x1)+x2)+...) — matching DuckDB's list_reduce and any sequential
accumulator.

Scale paths:
- brute-force top-k: one pass, per-partition heap (orderBy+limit) —
  O(N·d) compute, no shuffle of the corpus; fine to ~10^8 rows/executor-set.
- sign-LSH bucketing: axis-aligned random-hyperplane sketch over the first
  b dims → 2^b buckets; search only the query's bucket (recall/latency
  trade). At 100 TB you'd hang IVF centroids or a learned index on the
  same bucket-join shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (engine-portable order of operations)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sign_bucket(vec: Column, bits: int = 8) -> Column:
    """Sign-pattern LSH bucket over the first ``bits`` dimensions."""
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + F.when(F.element_at(vec, i + 1) >= 0, F.lit(1 << i)).otherwise(0).cast("long")
    return out


def topk_cosine(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k against one corpus vector (the exactness
    baseline ANN variants are judged against)."""
    v = as_double(vec_col)
    corpus = embeddings.select(F.col(id_col), v.alias("v"))
    qvec = corpus.filter(F.col(id_col) == query_id).select(F.col("v").alias("q"))
    return (
        corpus.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(qvec))
        .select(id_col, cosine(F.col("v"), F.col("q")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def topk_cosine_bucketed(
    embeddings: DataFrame,
    query_id: int,
    k: int = 5,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: restrict the scan to the query's sign-LSH bucket.
    Same output shape as ``topk_cosine`` (plus the bucket id)."""
    v = as_double(vec_col)
    corpus = embeddings.select(F.col(id_col), v.alias("v"), sign_bucket(v, bits).alias("bucket"))
    q = corpus.filter(F.col(id_col) == query_id).select(
        F.col("v").alias("q"), F.col("bucket").alias("q_bucket")
    )
    return (
        corpus.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .filter(F.col("bucket") == F.col("q_bucket"))
        .select(id_col, "bucket", cosine(F.col("v"), F.col("q")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )
