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

The embedding family's shared kernels live here too: the row-local
9-dp squared distance (``sq_dist``), the nearest-seed assignment
(``nearest_seed`` and its Arrow pass ``assign_nearest_seed``), the
stride-seeded codebook (``stride_codebook``) and the cosine block
(``cosine_block``). Every decision quantity is rounded to 9 dp before an
argmin or threshold, so float reassociation against a SQL oracle's
``SUM`` cannot flip a decision, and every argmin breaks ties to the
lowest seed id.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
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


def sq_dist(x: Column, y: Column) -> Column:
    """round(sum_dim (x[d]-y[d])^2, 9) as a row-local array expression.
    The aggregate() fold adds in dim order — the same order an explode
    path accumulates (a vector's posexploded rows stay contiguous in
    one task, so its partial sum also runs dim 1..n), keeping the 9-dp
    rounded d2 bit-identical to a join+sum plan."""
    return F.round(
        F.aggregate(
            F.zip_with(x, y, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, e: acc + e,
        ),
        9,
    )


def nearest_seed(xm: np.ndarray, cmat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Row index of each row of ``xm``'s nearest row of ``cmat`` and its
    squared distance, in the BLAS expansion form |x|^2 - 2 xC' + |c|^2
    (one dgemm instead of a loop over dims). ROUND(d2, 9) absorbs the
    float reassociation against a SQL oracle's SUM, and exact-duplicate
    seeds give bitwise-equal d2, so np.argmin's first minimum is the
    lowest seed index — ORDER BY d2, seed_id when ``cmat`` rows are
    sorted by seed id."""
    x2 = (xm * xm).sum(axis=1, keepdims=True)
    c2 = (cmat * cmat).sum(axis=1)[None, :]
    acc = np.round(x2 - 2.0 * (xm @ cmat.T) + c2, 9)
    best = np.argmin(acc, axis=1)
    return best, acc[np.arange(len(best)), best]


def assign_nearest_seed(
    df: DataFrame, seed_ids: Sequence[int], seeds: Sequence, schema: str, cell: str
) -> DataFrame:
    """One Arrow pass over ``df`` (which carries ``v: array<double>``):
    each row gains ``cell``, the id of its nearest seed (``seed_ids``
    sorted ascending, ``seeds`` their vectors), and ``d2``, its 9-dp
    squared distance (see ``nearest_seed``). The columns of ``schema``
    are taken by name, so it picks and orders the output; an empty
    batch yields no rows. The codebook is collected by the caller and
    closed over by the kernel: k x dims doubles per task."""
    sids = np.asarray(seed_ids, dtype=np.int64)
    cmat = np.asarray(seeds, dtype=np.float64)

    def kernel(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            best, d2 = nearest_seed(np.vstack(pdf["v"].to_numpy()).astype(np.float64), cmat)
            yield pdf.assign(**{cell: sids[best], "d2": d2})

    return df.mapInPandas(kernel, schema)


def stride_codebook(
    df: DataFrame, k_of_n: Callable[[int], int]
) -> tuple[np.ndarray, np.ndarray]:
    """The stride-seeded codebook of ``df`` (vec_id, v), collected: with
    n rows and k = ``k_of_n(n)`` seeds, the rows with
    vec_id % ceil(n/k) == 0, as (seed ids ascending, k x dims matrix).
    On dense vec_ids the seeds are every step-th vector, which a SQL
    oracle replays exactly. Costs a count and a k-row collect."""
    n = df.count()
    step = -(-n // k_of_n(n))
    rows = df.filter(F.col("vec_id") % step == 0).orderBy("vec_id").collect()
    return (
        np.array([r["vec_id"] for r in rows], dtype=np.int64),
        np.array([r["v"] for r in rows], dtype=np.float64),
    )


def cosine_block(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """round((A @ B') / outer(|a|, |b|), 9): every row of ``a`` against
    every row of ``b`` in one dgemm, float64 throughout. Dot first and
    divide after — the float order of a SQL oracle's
    sum / (sqrt * sqrt) — so the 9-dp cosine agrees with it. A zero-norm
    row divides by 1 and so scores 0 against everything."""
    na = np.linalg.norm(a, axis=1)
    nb = np.linalg.norm(b, axis=1)
    na[na == 0.0] = 1.0
    nb[nb == 0.0] = 1.0
    return np.round((a @ b.T) / np.outer(na, nb), 9)
