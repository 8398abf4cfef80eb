"""Similarity-search declared queries over the ``embeddings`` table:
exact and approximate top-k, IVF, quantization, k-means, SemDeDup,
retrieval fusion and re-ranking.

Spark side: operators/similarity.py (double-cast vectors, sequential-fold
dot products). Oracle side recomputes the identical IEEE operation sequence
with DuckDB list lambdas, so cosine values match bit-for-bit before the
6-decimal rounding.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, SparkSession, Window, Window as W, functions as F

from ..operators import dedup as D, similarity as SIM, text as X
from ..sources import load_table
from .dedup_text import _BM25_C_SQL, _BM25_FROM_SQL, _BM25_TERMS, _bm25_contrib, _bm25_ctes
from .mining import _round_half_up
from .registry import query


_DIMS = 64

_DOT_VQ = f"list_reduce(list_transform(range(1, {_DIMS + 1}), i -> v[i] * q[i]), (a, b) -> a + b)"
_NORM_V = f"sqrt(list_reduce(list_transform(range(1, {_DIMS + 1}), i -> v[i] * v[i]), (a, b) -> a + b))"
_NORM_Q = f"sqrt(list_reduce(list_transform(range(1, {_DIMS + 1}), i -> q[i] * q[i]), (a, b) -> a + b))"
_BUCKET = (
    "list_reduce(list_transform(range(0, 8), i -> CASE WHEN v[i + 1] >= 0 "
    "THEN (1::BIGINT << i) ELSE 0::BIGINT END), (a, b) -> a + b)"
)


@query(
    "q50_cosine_topk",
    oracle=f"""
    WITH x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    qv AS (SELECT v AS q FROM x WHERE vec_id = 0),
    d AS (SELECT vec_id, {_DOT_VQ} / ({_NORM_V} * {_NORM_Q}) AS cos_sim
          FROM x CROSS JOIN qv WHERE vec_id <> 0)
    SELECT vec_id, ROUND(cos_sim, 6) + 0 AS cos_sim
    FROM d ORDER BY d.cos_sim DESC, vec_id LIMIT 10
    """,
    description="brute-force cosine top-k ANN baseline (north-star similarity search)",
)
def q50_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    topk = SIM.topk_cosine(emb, query_id=0, k=10)
    return topk.select("vec_id", (F.round("cos_sim", 6) + 0.0).alias("cos_sim"))


@query(
    "q51_sign_lsh_buckets",
    oracle=f"""
    WITH x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT {_BUCKET} AS bucket, COUNT(*) AS n_vectors,
           ROUND(AVG({_NORM_V}), 6) AS avg_norm
    FROM x GROUP BY bucket ORDER BY bucket
    """,
    description="sign-pattern LSH bucket histogram — the ANN partitioning path",
)
def q51_sign_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = SIM.as_double("embedding")
    return (
        emb.select(SIM.sign_bucket(v, 8).alias("bucket"), SIM.norm(v).alias("nrm"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.round(F.avg("nrm"), 6).alias("avg_norm"))
        .orderBy("bucket")
    )


@query(
    "a052_ann_bucketed_topk",
    oracle=f"""
    WITH x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    xb AS (SELECT vec_id, v, {_BUCKET} AS bucket FROM x),
    qv AS (SELECT v AS q, bucket AS q_bucket FROM xb WHERE vec_id = 0),
    d AS (SELECT vec_id, bucket, {_DOT_VQ} / ({_NORM_V} * {_NORM_Q}) AS cos_sim
          FROM xb CROSS JOIN qv WHERE vec_id <> 0 AND bucket = q_bucket)
    SELECT vec_id, bucket, ROUND(cos_sim, 6) + 0 AS cos_sim
    FROM d ORDER BY d.cos_sim DESC, vec_id LIMIT 5
    """,
    description="bucketed ANN top-k: search restricted to the query's LSH bucket (the scale path)",
)
def a052_ann_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    topk = SIM.topk_cosine_bucketed(emb, query_id=0, k=5, bits=8)
    return topk.select("vec_id", "bucket", (F.round("cos_sim", 6) + 0.0).alias("cos_sim"))


@query(
    "a053_label_centroids",
    oracle="""
    WITH x AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT label, CAST(dim AS INTEGER) AS dim, ROUND(AVG(v[dim]), 6) + 0 AS centroid
    FROM x CROSS JOIN range(1, 9) r(dim)
    GROUP BY label, dim ORDER BY label, dim
    """,
    description="per-label embedding centroids (first 8 dims) via dimension explode",
)
def a053_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = SIM.as_double("embedding")
    return (
        emb.select("label", v.alias("v"), F.explode(F.sequence(F.lit(1), F.lit(8))).alias("dim"))
        .select("label", "dim", F.element_at("v", F.col("dim")).alias("component"))
        .groupBy("label", "dim")
        .agg((F.round(F.avg("component"), 6) + 0.0).alias("centroid"))
        .orderBy("label", "dim")
    )


@query(
    "a054_embedding_neardup",
    oracle=f"""
    WITH x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    xb AS (SELECT vec_id, v, {_BUCKET} AS bucket FROM x),
    p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_reduce(list_transform(range(1, {_DIMS + 1}), i -> a.v[i] * b.v[i]), (s, t) -> s + t)
                 / (sqrt(list_reduce(list_transform(range(1, {_DIMS + 1}), i -> a.v[i] * a.v[i]), (s, t) -> s + t))
                    * sqrt(list_reduce(list_transform(range(1, {_DIMS + 1}), i -> b.v[i] * b.v[i]), (s, t) -> s + t))) AS cos_sim
          FROM xb a JOIN xb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, ROUND(cos_sim, 6) + 0 AS cos_sim
    FROM p WHERE cos_sim >= 0.25
    ORDER BY p.cos_sim DESC, id_a, id_b LIMIT 20
    """,
    description="embedding-cosine near-duplicate pairs within sign-LSH buckets (north-star dedup: embedding near-dup; bucket restriction is the quadratic-risk bound)",
)
def a054_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = SIM.as_double("embedding")
    xb = emb.select(F.col("vec_id"), v.alias("v"), SIM.sign_bucket(v, 8).alias("bucket"))
    a, b = xb.alias("a"), xb.alias("b")
    pairs = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(
        F.col("a.vec_id").alias("id_a"),
        F.col("b.vec_id").alias("id_b"),
        SIM.cosine(F.col("a.v"), F.col("b.v")).alias("cos_sim"),
    )
    return (
        pairs.filter(F.col("cos_sim") >= 0.25)
        .orderBy(F.col("cos_sim").desc(), "id_a", "id_b")
        .limit(20)
        .select("id_a", "id_b", (F.round("cos_sim", 6) + 0.0).alias("cos_sim"))
    )


@query(
    "a055_ivf_assignment",
    oracle="""
    WITH x AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT label AS c_label, dim, AVG(v[dim]) AS c
             FROM x CROSS JOIN range(1, 65) r(dim) GROUP BY c_label, dim),
    dist AS (SELECT x.vec_id, x.label AS true_label, cent.c_label,
                    ROUND(SUM((v[r.dim] - c) * (v[r.dim] - c)), 9) AS d2
             FROM x CROSS JOIN range(1, 65) r(dim)
             JOIN cent ON cent.dim = r.dim
             GROUP BY x.vec_id, true_label, cent.c_label),
    best AS (SELECT vec_id, true_label, c_label,
                    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
             FROM dist)
    SELECT true_label, c_label AS assigned_label, COUNT(*) AS n
    FROM best WHERE rn = 1
    GROUP BY true_label, assigned_label ORDER BY true_label, assigned_label
    """,
    description="IVF coarse-quantizer / k-means assignment step: per-label centroids (64 dims), nearest-centroid argmin per vector, confusion counts (north-star similarity scale path)",
)
def a055_ivf_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.col("label").alias("true_label"), SIM.as_double("embedding").alias("v")
    )
    dims = x.select(
        "vec_id", "true_label", F.posexplode("v").alias("dim0", "comp")
    ).withColumn("dim", F.col("dim0") + 1)
    cent = dims.groupBy(F.col("true_label").alias("c_label"), "dim").agg(F.avg("comp").alias("c"))
    dist = (
        dims.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "true_label", "c_label")
        .agg(F.round(F.sum((F.col("comp") - F.col("c")) * (F.col("comp") - F.col("c"))), 9).alias("d2"))
    )
    w = W.partitionBy("vec_id").orderBy("d2", "c_label")
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("true_label", F.col("c_label").alias("assigned_label"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_label", "assigned_label")
    )


def _ivf_assign(spark: SparkSession, sf_dir: str):
    """Shared IVF plumbing over the embeddings table: see _ivf_assign_frames."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select("vec_id", SIM.as_double("embedding").alias("v"), F.col("label"))
    return _ivf_assign_frames(x)


def _pack_centroids(cent: DataFrame) -> DataFrame:
    """Fold the (c_label, dim, c) centroid frame into ONE row holding
    array<struct<c_label, carr>> sorted by c_label, each carr sorted by
    dim — k_clusters x dims doubles, broadcast-sized by construction."""
    return (
        cent.groupBy("c_label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
            ).alias("carr")
        )
        .agg(F.array_sort(F.collect_list(F.struct("c_label", "carr"))).alias("cents"))
    )


def _ivf_assign_frames(x: DataFrame):
    """Shared IVF plumbing: (assign, dims, cent) frames — per-vector
    nearest-centroid cluster, exploded dimensions, per-label centroids.
    ``x`` must carry (vec_id, v: array<double>, label).

    r15 reshape (guide §2.3/§2.4): nearest-centroid assignment used to
    64x-explode the corpus, join the centroid frame and argmin through a
    per-vector window — two corpus-sized aggregate exchanges plus a
    window exchange per consumer. The centroid frame is k_clusters x
    dims doubles, so it broadcasts as ONE packed row and the whole
    assignment becomes row-local array arithmetic over the corpus scan:
    zero data-sized exchanges, no explode. array_min over
    struct(d2, c_label) reproduces ROW_NUMBER() ORDER BY (d2, c_label)
    = 1 exactly (lexicographic struct compare, 9-dp pre-rounded d2 —
    see SIM.sq_dist for the summation-order argument). q118 A/B: jobs
    13 -> 10, cold 6.6 -> 2.6 s, rows byte-identical; oracle-verified at
    3 SFs for all four consumers (q114/q118/a096/a056)."""
    dims = x.select("vec_id", F.posexplode("v").alias("dim0", "comp")).withColumn(
        "dim", F.col("dim0") + 1
    )
    cent = (
        x.select(F.col("label").alias("c_label"), F.posexplode("v").alias("dim0", "comp"))
        .withColumn("dim", F.col("dim0") + 1)
        .groupBy("c_label", "dim")
        .agg(F.avg("comp").alias("c"))
    )
    packed = _pack_centroids(cent)
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda ct: F.struct(
                SIM.sq_dist(F.col("v"), ct["carr"]).alias("d2"),
                ct["c_label"].alias("c_label"),
            ),
        )
    )
    assign = x.crossJoin(F.broadcast(packed)).select(
        "vec_id", best["c_label"].alias("cluster"), "v"
    )
    return assign, dims, cent


@query(
    "a096_ivf_multiprobe",
    oracle=f"""
    WITH x AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT label AS c_label, dim, AVG(v[dim]) AS c
             FROM x CROSS JOIN range(1, 65) r(dim) GROUP BY c_label, dim),
    dist AS (SELECT x.vec_id, cent.c_label,
                    ROUND(SUM((v[r.dim] - c) * (v[r.dim] - c)), 9) AS d2
             FROM x CROSS JOIN range(1, 65) r(dim)
             JOIN cent ON cent.dim = r.dim
             GROUP BY x.vec_id, cent.c_label),
    best AS (SELECT vec_id, c_label AS cluster,
                    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
             FROM dist),
    assign AS (SELECT x.vec_id, x.v, best.cluster
               FROM x JOIN best ON best.vec_id = x.vec_id AND best.rn = 1),
    qv AS (SELECT v AS q FROM x WHERE vec_id = 0),
    probes AS (SELECT c_label AS cluster,
                      ROW_NUMBER() OVER (ORDER BY d2, c_label) AS probe_rank
               FROM dist WHERE vec_id = 0 QUALIFY probe_rank <= 2),
    scored AS (
      SELECT a.vec_id, a.cluster, p.probe_rank,
             {_DOT_VQ.replace("v[i]", "a.v[i]")} /
             ({_NORM_V.replace("v[i]", "a.v[i]")} * {_NORM_Q}) AS cos_sim
      FROM assign a JOIN probes p ON a.cluster = p.cluster CROSS JOIN qv
      WHERE a.vec_id <> 0)
    SELECT vec_id, CAST(cluster AS INTEGER) AS cluster,
           CAST(probe_rank AS INTEGER) AS probe_rank,
           ROUND(cos_sim, 6) + 0 AS cos_sim
    FROM scored ORDER BY scored.cos_sim DESC, vec_id LIMIT 5
    """,
    description="multi-probe IVF ANN (nprobe=2): clusters ranked by query-to-centroid distance, the 2 nearest probed, cosine top-k over the union — the recall-vs-cost knob of the coarse quantizer (q56 is nprobe=1); probe cost is bounded by nprobe/k_clusters of the corpus",
)
def a096_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign, dims, cent = _ivf_assign(spark, sf_dir)
    qdist = (
        dims.filter(F.col("vec_id") == 0)
        .join(F.broadcast(cent), "dim")
        .groupBy("c_label")
        .agg(F.round(F.sum((F.col("comp") - F.col("c")) * (F.col("comp") - F.col("c"))), 9).alias("d2"))
    )
    # global window over the centroid frame only — bounded by k_clusters
    probes = (
        qdist.withColumn("probe_rank", F.row_number().over(W.orderBy("d2", "c_label")))
        .filter(F.col("probe_rank") <= 2)
        .select(F.col("c_label").alias("cluster"), "probe_rank")
    )
    qv = assign.filter(F.col("vec_id") == 0).select(F.col("v").alias("q"))
    return (
        assign.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probes), "cluster")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "cluster",
            "probe_rank",
            SIM.cosine(F.col("v"), F.col("q")).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(5)
        .select(
            "vec_id",
            "cluster",
            "probe_rank",
            (F.round("cos_sim", 6) + 0.0).alias("cos_sim"),
        )
    )


@query(
    "a056_ivf_topk",
    oracle=f"""
    WITH x AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT label AS c_label, dim, AVG(v[dim]) AS c
             FROM x CROSS JOIN range(1, 65) r(dim) GROUP BY c_label, dim),
    dist AS (SELECT x.vec_id, cent.c_label,
                    ROUND(SUM((v[r.dim] - c) * (v[r.dim] - c)), 9) AS d2
             FROM x CROSS JOIN range(1, 65) r(dim)
             JOIN cent ON cent.dim = r.dim
             GROUP BY x.vec_id, cent.c_label),
    best AS (SELECT vec_id, c_label AS cluster,
                    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
             FROM dist),
    assign AS (SELECT x.vec_id, x.v, best.cluster
               FROM x JOIN best ON best.vec_id = x.vec_id AND best.rn = 1),
    qv AS (SELECT v AS q, cluster AS q_cluster FROM assign WHERE vec_id = 0),
    scored AS (
      SELECT a.vec_id, a.cluster,
             {_DOT_VQ.replace("v[i]", "a.v[i]")} /
             ({_NORM_V.replace("v[i]", "a.v[i]")} * {_NORM_Q}) AS cos_sim
      FROM assign a CROSS JOIN qv
      WHERE a.vec_id <> 0 AND a.cluster = q_cluster)
    SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, ROUND(cos_sim, 6) + 0 AS cos_sim
    FROM scored ORDER BY scored.cos_sim DESC, vec_id LIMIT 5
    """,
    description="IVF ANN end-to-end: nearest-centroid assignment (q55) + cosine top-k restricted to the query vector's cluster — the coarse-quantizer search path at scale",
)
def a056_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign, _, _ = _ivf_assign(spark, sf_dir)
    qv = assign.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("q"), F.col("cluster").alias("q_cluster")
    )
    return (
        assign.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .filter(F.col("cluster") == F.col("q_cluster"))
        .select("vec_id", "cluster", SIM.cosine(F.col("v"), F.col("q")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(5)
        .select("vec_id", "cluster", (F.round("cos_sim", 6) + 0.0).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# q111 — int8 scalar quantization of the embedding column with a
# reconstruction-error audit: per-vector (min, max) from array_min/max
# (no shuffle), elements exploded relationally (codegen, no HOF in the
# hot path), quantized to 0..255 levels via floor(x + 0.5) (identical
# half-rule in both engines), reconstructed, and squared error
# aggregated per label. The storage shape every large ANN index uses —
# 4x smaller vectors — with the error it introduces measured, not
# assumed.
# ---------------------------------------------------------------------------


@query(
    "q111_embedding_quantization",
    oracle="""
    WITH x AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    st AS (SELECT vec_id, label, v, list_min(v) AS mn,
                  (list_max(v) - list_min(v)) / 255.0 AS scale
           FROM x),
    e AS (SELECT vec_id, label, mn, scale, unnest(v) AS val FROM st),
    r AS (SELECT vec_id, label, val,
                 CASE WHEN scale = 0 THEN mn
                      ELSE mn + FLOOR((val - mn) / scale + 0.5) * scale END AS recon
          FROM e)
    SELECT label, COUNT(DISTINCT vec_id) AS n_vectors,
           ROUND(AVG((val - recon) * (val - recon)) * 1e6, 6) AS mse_x1e6,
           ROUND(MAX(ABS(val - recon)) * 1e3, 6) AS max_abs_err_x1e3
    FROM r GROUP BY label ORDER BY label
    """,
    description="int8 scalar quantization of embeddings + reconstruction-error audit per label: per-vector min/scale via array_min/array_max (zero shuffles), relational explode for the element math (codegen, no HOFs), floor(x+0.5) half-rule pinned identically in both engines — the 4x-compression storage path for a 100 TB ANN index with its error measured",
)
def q111_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = SIM.as_double("embedding")
    st = emb.select(
        "vec_id",
        "label",
        v.alias("v"),
        F.array_min(v).alias("mn"),
        ((F.array_max(v) - F.array_min(v)) / 255.0).alias("scale"),
    )
    e = st.select("vec_id", "label", "mn", "scale", F.explode("v").alias("val"))
    recon = F.when(F.col("scale") == 0, F.col("mn")).otherwise(
        F.col("mn") + F.floor((F.col("val") - F.col("mn")) / F.col("scale") + 0.5) * F.col("scale")
    )
    r = e.select("vec_id", "label", "val", recon.alias("recon"))
    err = F.col("val") - F.col("recon")
    return (
        r.groupBy("label")
        .agg(
            F.countDistinct("vec_id").alias("n_vectors"),
            F.round(F.avg(err * err) * 1e6, 6).alias("mse_x1e6"),
            F.round(F.max(F.abs(err)) * 1e3, 6).alias("max_abs_err_x1e3"),
        )
        .orderBy("label")
    )


_SD_PLANT = 10  # planted near-dups: vec_id < 10 rescaled by 1.01 (cos == 1)
_SD_THR = 0.999

_PAIR_COS = (
    f"list_reduce(list_transform(range(1, {_DIMS + 1}), i -> a.v[i] * b.v[i]), (s, t) -> s + t)"
    f" / (sqrt(list_reduce(list_transform(range(1, {_DIMS + 1}), i -> a.v[i] * a.v[i]), (s, t) -> s + t))"
    f" * sqrt(list_reduce(list_transform(range(1, {_DIMS + 1}), i -> b.v[i] * b.v[i]), (s, t) -> s + t)))"
)


def _planted(base: DataFrame, *extra) -> DataFrame:
    """The planted near-duplicates of the SemDeDup fixture: every
    ``base`` row (vec_id, v, ...) with vec_id < _SD_PLANT again at
    vec_id + 100000, its vector rescaled x1.01 (cosine exactly 1 to the
    original); ``extra`` columns ride along."""
    return base.filter(F.col("vec_id") < _SD_PLANT).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("v", lambda e: e * F.lit(1.01)).alias("v"),
        *extra,
    )


def _cluster_pairs(pdf):
    """applyInPandas kernel: the id pairs (id_a < id_b) of one cell whose
    9-dp cosine is >= _SD_THR, from one dense cosine block over the
    cell (n x 64 -> n x n). Memory is bounded by the cell size the
    coarse step was tuned for; float64 throughout so round(cos, 9)
    agrees with the SQL oracle's double arithmetic."""
    import numpy as np
    import pandas as pd

    ids = pdf["vec_id"].to_numpy()
    x = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
    iu, ju = np.triu_indices(len(ids), k=1)
    keep = SIM.cosine_block(x, x)[iu, ju] >= _SD_THR
    a, b = ids[iu[keep]], ids[ju[keep]]
    return pd.DataFrame({"id_a": np.minimum(a, b), "id_b": np.maximum(a, b)})


@query(
    "q114_semdedup",
    oracle=f"""
    WITH RECURSIVE x AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, label,
             list_transform(CAST(embedding AS DOUBLE[]), e -> e * 1.01)
      FROM embeddings WHERE vec_id < {_SD_PLANT}),
    cent AS (SELECT label AS c_label, dim, AVG(v[dim]) AS c
             FROM x CROSS JOIN range(1, {_DIMS + 1}) r(dim) GROUP BY c_label, dim),
    dist AS (SELECT x.vec_id, cent.c_label,
                    ROUND(SUM((v[r.dim] - c) * (v[r.dim] - c)), 9) AS d2
             FROM x CROSS JOIN range(1, {_DIMS + 1}) r(dim)
             JOIN cent ON cent.dim = r.dim
             GROUP BY x.vec_id, cent.c_label),
    best AS (SELECT vec_id, c_label AS cluster,
                    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
             FROM dist),
    assign AS (SELECT x.vec_id, x.v, best.cluster
               FROM x JOIN best ON best.vec_id = x.vec_id AND best.rn = 1),
    p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM assign a JOIN assign b
            ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          WHERE ROUND({_PAIR_COS}, 9) >= {_SD_THR}),
    ed AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
    reach(id, lab) AS (
      SELECT DISTINCT a, a FROM ed
      UNION
      SELECT ed.a, reach.lab FROM ed JOIN reach ON ed.b = reach.id),
    labels AS (SELECT id, MIN(lab) AS cluster FROM reach GROUP BY id)
    SELECT id AS removed_id, cluster AS kept_id
    FROM labels WHERE id <> cluster ORDER BY removed_id
    """,
    description="SemDeDup-style embedding-space dedup (VERDICT r3 item 7): IVF/k-means cluster assignment -> WITHIN-cluster cosine pairs at an epsilon-ball threshold -> connected components -> drop all but the canonical member. Planted fixture: vec_id<10 re-appear rescaled x1.01 (cosine exactly 1) and must be removed in favor of their originals. Never all-pairs: pair generation is a CLUSTER-LOCAL blocked matmul (applyInPandas per cluster, normalized X @ X.T, emit only above-threshold id pairs) — the canonical SemDeDup execution; the r5 self-join + per-pair interpreted HOF cosine cost 64 interpreted evals per pair and was the single most expensive headline plan. Decision parity with the SQL oracle via round(cos, 9) on both engines. At 100 TB pick k_clusters ~ N/target_cluster_size so the per-cluster matrix stays memory-bounded (and the salted per-bucket cap, operators/dedup.py salt_buckets, is the drop-in guard for skewed clusters)",
)
def q114_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", SIM.as_double("embedding").alias("v"), "label")
    assign, _, _ = _ivf_assign_frames(base.unionAll(_planted(base, "label")))
    pairs = assign.groupBy("cluster").applyInPandas(_cluster_pairs, "id_a long, id_b long")
    labels = D.near_dup_clusters(pairs)
    return (
        labels.filter(F.col("id") != F.col("cluster"))
        .select(F.col("id").alias("removed_id"), F.col("cluster").alias("kept_id"))
        .orderBy("removed_id")
    )


_BA_NQ = 10  # query batch size (vec_id < 10); corpus = the rest
_BA_K = 3  # neighbors per query
_BA_NPROBE = 2  # clusters probed per query


@query(
    "q118_batch_ann_join",
    oracle=f"""
    WITH x AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c AS (SELECT * FROM x WHERE vec_id >= {_BA_NQ}),
    cent AS (SELECT label AS c_label, dim, AVG(v[dim]) AS ctr
             FROM c CROSS JOIN range(1, {_DIMS + 1}) r(dim) GROUP BY c_label, dim),
    dist AS (SELECT c.vec_id, cent.c_label,
                    ROUND(SUM((v[r.dim] - ctr) * (v[r.dim] - ctr)), 9) AS d2
             FROM c CROSS JOIN range(1, {_DIMS + 1}) r(dim)
             JOIN cent ON cent.dim = r.dim
             GROUP BY c.vec_id, cent.c_label),
    best AS (SELECT vec_id, c_label AS cluster,
                    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
             FROM dist),
    assign AS (SELECT c.vec_id, c.v, best.cluster
               FROM c JOIN best ON best.vec_id = c.vec_id AND best.rn = 1),
    qv AS (SELECT vec_id AS qid, v AS q FROM x WHERE vec_id < {_BA_NQ}),
    qdist AS (SELECT qv.qid, cent.c_label,
                     ROUND(SUM((q[r.dim] - ctr) * (q[r.dim] - ctr)), 9) AS d2
              FROM qv CROSS JOIN range(1, {_DIMS + 1}) r(dim)
              JOIN cent ON cent.dim = r.dim
              GROUP BY qv.qid, cent.c_label),
    probes AS (SELECT qid, c_label AS cluster,
                      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, c_label) AS pr
               FROM qdist QUALIFY pr <= {_BA_NPROBE}),
    scored AS (
      SELECT qv.qid, a.vec_id,
             {_DOT_VQ.replace("v[i]", "a.v[i]")} /
             ({_NORM_V.replace("v[i]", "a.v[i]")} * {_NORM_Q}) AS cos_sim
      FROM assign a JOIN probes p ON a.cluster = p.cluster
      JOIN qv ON qv.qid = p.qid),
    ranked AS (
      SELECT qid, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY ROUND(cos_sim, 9) DESC, vec_id) AS rank
      FROM scored QUALIFY rank <= {_BA_K})
    SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id,
           ROUND(cos_sim, 6) + 0 AS cos_sim
    FROM ranked ORDER BY qid, rank
    """,
    description="batched ANN retrieval JOIN: a batch of query vectors (broadcast dim) against the IVF-indexed corpus — per query, rank clusters by query-to-centroid distance, probe the nprobe=2 nearest, cosine-score only the probed clusters' members, per-query top-k via a qid-partitioned window. The retrieval-join shape an LLM-data pipeline uses for similarity decontamination / RAG indexing at corpus scale: cost is batch x nprobe/k_clusters of the corpus, never batch x corpus; the query batch and probe map ride as broadcasts so the corpus side is scanned once with zero data-sized shuffles before the bounded per-query top-k. Decision quantities (d2, cosine rank order) rounded to 9 dp on both engines",
)
def q118_batch_ann_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select("vec_id", SIM.as_double("embedding").alias("v"), "label")
    corpus = x.filter(F.col("vec_id") >= _BA_NQ)
    qv = x.filter(F.col("vec_id") < _BA_NQ).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("q")
    )
    assign, _, cent = _ivf_assign_frames(corpus)
    # per-query probe map: batch x nprobe rows, broadcast-sized. Same
    # r15 row-local reshape as the assignment: the packed-centroid row
    # (an identical subtree to the one inside assign — ReusedExchange
    # covers it at runtime) replaces the query-side explode + join +
    # aggregate + window; array_sort on struct(d2, c_label) reproduces
    # ROW_NUMBER() ORDER BY (d2, c_label) <= nprobe exactly.
    packed = _pack_centroids(cent)
    qscores = F.array_sort(
        F.transform(
            F.col("cents"),
            lambda ct: F.struct(
                SIM.sq_dist(F.col("q"), ct["carr"]).alias("d2"),
                ct["c_label"].alias("c_label"),
            ),
        )
    )
    probes = (
        qv.crossJoin(F.broadcast(packed))
        .select("qid", F.explode(F.slice(qscores, 1, _BA_NPROBE)).alias("s"))
        .select("qid", F.col("s.c_label").alias("cluster"))
    )
    scored = (
        assign.join(F.broadcast(probes), "cluster")
        .join(F.broadcast(qv), "qid")
        .select("qid", "vec_id", SIM.cosine(F.col("v"), F.col("q")).alias("cos_sim"))
    )
    return (
        scored.withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.round("cos_sim", 9).desc(), "vec_id")
            ),
        )
        .filter(F.col("rank") <= _BA_K)
        .select("qid", "rank", "vec_id", (F.round("cos_sim", 6) + 0.0).alias("cos_sim"))
        .orderBy("qid", "rank")
    )


# ---------------------------------------------------------------------------
# q161 — embedding drift monitor: per-label centroid vs the global
# centroid, reported as cosine similarity and L2 distance — the
# embedding-space observability check a training pipeline runs per
# ingest batch (a label/source whose centroid wanders signals
# distribution shift before any model metric does). Centroids are
# per-dimension averages from ONE posexplode pass (dim-keyed partial
# aggregates, map-side combined); the label-x-dim and 1-x-dim centroid
# frames are tiny, so the comparison is broadcast arithmetic. Decision
# quantities are 9-dp rounded on both engines before the 6-dp output
# round (the q114 float-tie rule).
# ---------------------------------------------------------------------------


@query(
    "a0161_embedding_drift",
    oracle=f"""
    WITH x AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    d AS (SELECT label, r.dim, v[r.dim] AS c
          FROM x CROSS JOIN range(1, {_DIMS + 1}) r(dim)),
    lc AS (SELECT label, dim, AVG(c) AS lv, COUNT(*) AS n FROM d GROUP BY label, dim),
    gc AS (SELECT dim, SUM(lv * n) / SUM(n) AS gv FROM lc GROUP BY dim),
    j AS (SELECT lc.label, lc.lv, gc.gv FROM lc JOIN gc USING (dim)),
    m AS (SELECT label,
                 SUM(lv * gv) AS dot, SUM(lv * lv) AS nl, SUM(gv * gv) AS ng,
                 SUM((lv - gv) * (lv - gv)) AS d2
          FROM j GROUP BY label)
    SELECT label,
           ROUND(ROUND(dot / (sqrt(nl) * sqrt(ng)), 9), 6) AS centroid_cos,
           ROUND(ROUND(sqrt(d2), 9), 6) AS centroid_l2
    FROM m ORDER BY label
    """,
    description="embedding drift monitor: per-label centroids vs the global centroid (cosine + L2) — the embedding-space distribution-shift probe a training pipeline runs per ingest batch; centroids from ONE posexplode pass with dim-keyed map-side-combined averages, global centroid = count-weighted merge of the label centroids (no second corpus pass), comparison is broadcast arithmetic over label-x-dim frames; 9-dp pre-round on decision quantities (q114 float-tie rule)",
)
def a0161_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select("label", SIM.as_double("embedding").alias("v"))
    d = x.select(
        "label", F.posexplode("v").alias("dim0", "c")
    ).select("label", (F.col("dim0") + 1).alias("dim"), "c")
    lc = d.groupBy("label", "dim").agg(
        F.avg("c").alias("lv"), F.count("*").alias("n")
    )
    lc = lc.localCheckpoint(eager=False)  # feeds the global merge and the compare
    gc = lc.groupBy("dim").agg(
        (F.sum(F.col("lv") * F.col("n")) / F.sum("n")).alias("gv")
    )
    j = lc.join(F.broadcast(gc), "dim")
    m = j.groupBy("label").agg(
        F.sum(F.col("lv") * F.col("gv")).alias("dot"),
        F.sum(F.col("lv") * F.col("lv")).alias("nl"),
        F.sum(F.col("gv") * F.col("gv")).alias("ng"),
        F.sum((F.col("lv") - F.col("gv")) * (F.col("lv") - F.col("gv"))).alias("d2"),
    )
    return m.select(
        "label",
        F.round(
            F.round(F.col("dot") / (F.sqrt("nl") * F.sqrt("ng")), 9), 6
        ).alias("centroid_cos"),
        F.round(F.round(F.sqrt("d2"), 9), 6).alias("centroid_l2"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# q164 — IVF-PQ ADC search end-to-end: the FAISS IVFPQ composition that
# the rest of the ANN ladder builds toward. One query: (1) IVF coarse
# quantizer — per-label centroids over the DB partition, every DB
# vector assigned to its nearest centroid; (2) PQ encode — m=4 x 16-dim
# subspaces against a deterministic k=8 codebook (the low-vec_id rows,
# q120's convention), each DB vector stored as 4 code ids; (3) search —
# per query vector, rank centroids, probe the nprobe=2 nearest
# clusters, score every candidate by ASYMMETRIC DISTANCE COMPUTATION:
# a per-query lookup table of query-subvector -> codeword distances
# (nq x k rows, broadcast) folded as l0[c0]+l1[c1]+l2[c2]+l3[c3] — the
# scan never touches candidate vectors, only their 4-byte codes. The
# exact L2^2 rides along per hit so ADC's approximation error is
# auditable in the result. All distances ROUND(...,9) before every
# argmin/rank on both engines (float-tie rule), ties by lowest id.
#
# Scale shape: centroids, codebook, probe list, and LUT are all
# broadcast-sized; the corpus-sized work is one N*k map-side-collapsed
# encode and the probed-cluster candidate scan (nprobe/k_clusters of
# the corpus per query). Nothing shuffles the embedding table at full
# width; the per-query top-k window partitions by query_id.
# ---------------------------------------------------------------------------

_ADC_M, _ADC_SUB, _ADC_K, _ADC_NPROBE, _ADC_TOPK = 4, 16, 8, 2, 5


def _adc_sub(col: Column, j: int) -> Column:
    return F.slice(col, j * _ADC_SUB + 1, _ADC_SUB)


def _lut_column(j: int) -> Column:
    """Subspace-j query->codeword distance LUT, keyed BY code_id VALUE
    (map_from_entries), matching the oracle's join-by-code_id semantics.
    A positional array_sort form would silently mis-index if the
    codebook ever lacked a vec_id < _ADC_K (ADVICE r7)."""
    return F.map_from_entries(F.collect_list(F.struct("code_id", f"l{j}"))).alias(f"lut{j}")


@query(
    "a0164_ivf_pq_search",
    oracle="""
    WITH x AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    db AS (SELECT * FROM x WHERE vec_id >= 3),
    q AS (SELECT vec_id AS query_id, v AS qv FROM x WHERE vec_id IN (0, 1, 2)),
    cent AS (SELECT label AS c_label, dim, AVG(v[dim]) AS c
             FROM db CROSS JOIN range(1, 65) r(dim) GROUP BY c_label, dim),
    ivf_d AS (SELECT db.vec_id, c_label,
                     ROUND(SUM((v[r.dim] - c) * (v[r.dim] - c)), 9) AS d2
              FROM db CROSS JOIN range(1, 65) r(dim)
              JOIN cent ON cent.dim = r.dim
              GROUP BY db.vec_id, c_label),
    assign AS (SELECT vec_id, c_label AS cluster,
                      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
               FROM ivf_d QUALIFY rn = 1),
    cb AS (SELECT vec_id AS code_id, v AS cv FROM x WHERE vec_id < 8),
    enc AS (SELECT a.vec_id,
                 cb.code_id,
                 ROUND(list_reduce(list_transform(range(1, 17), i -> (a.v[i] - cb.cv[i]) * (a.v[i] - cb.cv[i])), (acc, z) -> acc + z), 9) AS d0,
                 ROUND(list_reduce(list_transform(range(17, 33), i -> (a.v[i] - cb.cv[i]) * (a.v[i] - cb.cv[i])), (acc, z) -> acc + z), 9) AS d1,
                 ROUND(list_reduce(list_transform(range(33, 49), i -> (a.v[i] - cb.cv[i]) * (a.v[i] - cb.cv[i])), (acc, z) -> acc + z), 9) AS d2,
                 ROUND(list_reduce(list_transform(range(49, 65), i -> (a.v[i] - cb.cv[i]) * (a.v[i] - cb.cv[i])), (acc, z) -> acc + z), 9) AS d3
            FROM (SELECT db.vec_id, db.v FROM db) a CROSS JOIN cb),
    cmin AS (SELECT vec_id, MIN(d0) AS m0, MIN(d1) AS m1, MIN(d2) AS m2, MIN(d3) AS m3 FROM enc GROUP BY vec_id),
    codes AS (SELECT e.vec_id,
                  MIN(CASE WHEN e.d0 = m.m0 THEN e.code_id END) AS c0,
                  MIN(CASE WHEN e.d1 = m.m1 THEN e.code_id END) AS c1,
                  MIN(CASE WHEN e.d2 = m.m2 THEN e.code_id END) AS c2,
                  MIN(CASE WHEN e.d3 = m.m3 THEN e.code_id END) AS c3
              FROM enc e JOIN cmin m ON e.vec_id = m.vec_id GROUP BY e.vec_id),
    lut AS (SELECT q.query_id, cb.code_id,
                ROUND(list_reduce(list_transform(range(1, 17), i -> (q.qv[i] - cb.cv[i]) * (q.qv[i] - cb.cv[i])), (acc, z) -> acc + z), 9) AS l0,
                ROUND(list_reduce(list_transform(range(17, 33), i -> (q.qv[i] - cb.cv[i]) * (q.qv[i] - cb.cv[i])), (acc, z) -> acc + z), 9) AS l1,
                ROUND(list_reduce(list_transform(range(33, 49), i -> (q.qv[i] - cb.cv[i]) * (q.qv[i] - cb.cv[i])), (acc, z) -> acc + z), 9) AS l2,
                ROUND(list_reduce(list_transform(range(49, 65), i -> (q.qv[i] - cb.cv[i]) * (q.qv[i] - cb.cv[i])), (acc, z) -> acc + z), 9) AS l3
            FROM q CROSS JOIN cb),
    qprobe AS (SELECT q.query_id, c_label,
                      ROUND(SUM((qv[r.dim] - c) * (qv[r.dim] - c)), 9) AS d2
               FROM q CROSS JOIN range(1, 65) r(dim)
               JOIN cent ON cent.dim = r.dim
               GROUP BY q.query_id, c_label),
    probes AS (SELECT query_id, c_label AS cluster,
                      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, c_label) AS pr
               FROM qprobe QUALIFY pr <= 2),
    cand AS (SELECT p.query_id, a.vec_id, a.cluster
             FROM assign a JOIN probes p ON a.cluster = p.cluster),
    scored AS (SELECT cand.query_id, cand.vec_id, cand.cluster,
                      ROUND(j0.l0 + j1.l1 + j2.l2 + j3.l3, 9) AS adc_d2
               FROM cand
               JOIN codes k ON k.vec_id = cand.vec_id
               JOIN lut j0 ON j0.query_id = cand.query_id AND j0.code_id = k.c0
           JOIN lut j1 ON j1.query_id = cand.query_id AND j1.code_id = k.c1
           JOIN lut j2 ON j2.query_id = cand.query_id AND j2.code_id = k.c2
           JOIN lut j3 ON j3.query_id = cand.query_id AND j3.code_id = k.c3),
    top AS (SELECT s.query_id, s.vec_id, s.cluster, s.adc_d2,
                   ROUND(list_reduce(list_transform(range(1, 65), i -> (q.qv[i] - d.v[i]) * (q.qv[i] - d.v[i])), (acc, z) -> acc + z), 9) AS true_d2,
                   ROW_NUMBER() OVER (PARTITION BY s.query_id
                                      ORDER BY s.adc_d2, s.vec_id) AS rnk
            FROM scored s
            JOIN q ON q.query_id = s.query_id
            JOIN db d ON d.vec_id = s.vec_id)
    SELECT query_id, CAST(rnk AS INTEGER) AS rnk, vec_id,
           CAST(cluster AS INTEGER) AS cluster,
           ROUND(adc_d2, 6) + 0 AS adc_d2, ROUND(true_d2, 6) + 0 AS true_d2
    FROM top WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
    description="IVF-PQ search with asymmetric distance computation, end-to-end (the FAISS IVFPQ composition closing the ANN ladder): per-label IVF centroids + nearest-centroid assignment, m=4x16-dim PQ encoding against the deterministic k=8 low-vec_id codebook, then per query (vec_id 0-2): rank centroids, probe the 2 nearest clusters, and score candidates via a broadcast query->codeword lookup table folded over the 4 stored code ids — candidates are scanned as codes, never as vectors; exact L2^2 per hit audits the ADC approximation; every distance 9-dp-rounded before argmin/rank with lowest-id tie-breaks, so both engines produce the identical top-5",
)
def a0164_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    db = emb.filter(F.col("vec_id") >= 3)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )

    # (1) IVF centroids (per-label means over the DB partition) as arrays
    cent_arr = (
        db.select("label", F.posexplode("v").alias("dim0", "comp"))
        .groupBy(F.col("label").alias("c_label"), "dim0")
        .agg(F.avg("comp").alias("c"))
        .groupBy("c_label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim0", "c"))), lambda s: s["c"]
            ).alias("cv_full")
        )
    )
    assign = (
        db.crossJoin(F.broadcast(cent_arr))
        .select("vec_id", "v", "c_label", SIM.sq_dist(F.col("v"), F.col("cv_full")).alias("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct(F.col("d2"), F.col("c_label"))).alias("m"))
        .select("vec_id", F.col("m.c_label").alias("cluster"))
        .join(db.select("vec_id", "v"), "vec_id")
    )

    # (2) PQ encode against the deterministic codebook (q120 convention)
    cb = emb.filter(F.col("vec_id") < _ADC_K).select(
        F.col("vec_id").alias("code_id"), F.col("v").alias("cv")
    )
    enc = assign.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        "cluster",
        "code_id",
        *[
            SIM.sq_dist(_adc_sub(F.col("v"), j), _adc_sub(F.col("cv"), j)).alias(f"d{j}")
            for j in range(_ADC_M)
        ],
    )
    codes = (
        enc.groupBy("vec_id")
        .agg(
            F.min("cluster").alias("cluster"),
            *[
                F.min(F.struct(F.col(f"d{j}"), F.col("code_id"))).alias(f"m{j}")
                for j in range(_ADC_M)
            ],
        )
        .select(
            "vec_id",
            "cluster",
            *[F.col(f"m{j}.code_id").alias(f"c{j}") for j in range(_ADC_M)],
        )
    )

    # (3) search: probe list + ADC lookup tables, both broadcast-sized
    lut_arr = (
        qs.crossJoin(F.broadcast(cb))
        .select(
            "query_id",
            "code_id",
            *[
                SIM.sq_dist(_adc_sub(F.col("qv"), j), _adc_sub(F.col("cv"), j)).alias(f"l{j}")
                for j in range(_ADC_M)
            ],
        )
        .groupBy("query_id")
        .agg(*[_lut_column(j) for j in range(_ADC_M)])
    )
    wprobe = W.partitionBy("query_id").orderBy("d2", "c_label")
    probes = (
        qs.crossJoin(F.broadcast(cent_arr))
        .select("query_id", "c_label", SIM.sq_dist(F.col("qv"), F.col("cv_full")).alias("d2"))
        .withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= _ADC_NPROBE)
        .select("query_id", F.col("c_label").alias("cluster"))
    )

    adc = F.round(
        sum(F.element_at(F.col(f"lut{j}"), F.col(f"c{j}")) for j in range(_ADC_M)),
        9,
    )
    scored = (
        codes.join(F.broadcast(probes), "cluster")
        .join(F.broadcast(lut_arr), "query_id")
        .select("query_id", "vec_id", "cluster", adc.alias("adc_d2"))
    )
    wtop = W.partitionBy("query_id").orderBy("adc_d2", "vec_id")
    return (
        scored.join(db.select("vec_id", "v"), "vec_id")
        .join(F.broadcast(qs), "query_id")
        .withColumn("true_d2", SIM.sq_dist(F.col("qv"), F.col("v")))
        .withColumn("rnk", F.row_number().over(wtop))
        .filter(F.col("rnk") <= _ADC_TOPK)
        .select(
            "query_id",
            F.col("rnk").cast("int").alias("rnk"),
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            (F.round("adc_d2", 6) + 0.0).alias("adc_d2"),
            (F.round("true_d2", 6) + 0.0).alias("true_d2"),
        )
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# q166 — k-means Lloyd iterations, hash-checked against a true two-round
# SQL unroll: the clustering primitive under SemDeDup (q114), IVF
# training (q55 assigns to LABEL means; this trains centroids from a
# seed), and mixture curation. Two full Lloyd rounds from the
# deterministic low-vec_id seed: assign -> per-dim mean -> re-assign,
# reporting per-cluster membership and inertia after round 2.
#
# Cross-engine float discipline: every distance ROUND(...,9) before
# every argmin (tie -> lowest cluster id via min(struct)); the
# round-1 centroids are ROUND(...,9) per component BEFORE the round-2
# distances, so the two engines' AVG-addition-order ulp differences
# (~1e-14) cannot flip a borderline re-assignment. Scale shape: the
# seed and the k x 64 centroid frame are broadcast; each round is one
# map-side-collapsed N*k distance pass + a (cluster, dim)-key mean —
# nothing shuffles the embedding table at full width, and rounds
# compose (a production loop localCheckpoints between rounds).
# ---------------------------------------------------------------------------

_KM_UNROLL_K = 5


@query(
    "a0166_kmeans_lloyd",
    oracle=f"""
    WITH x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cl, v AS cv FROM x WHERE vec_id < {_KM_UNROLL_K}),
    d1 AS (SELECT x.vec_id, c0.cl,
                  ROUND(list_reduce(list_transform(range(1, 65),
                        i -> (x.v[i] - c0.cv[i]) * (x.v[i] - c0.cv[i])),
                        (acc, z) -> acc + z), 9) AS d2
           FROM x CROSS JOIN c0),
    a1 AS (SELECT vec_id, cl,
                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
           FROM d1 QUALIFY rn = 1),
    c1 AS (SELECT a1.cl, r.dim, ROUND(AVG(x.v[r.dim]), 9) AS c
           FROM x JOIN a1 ON a1.vec_id = x.vec_id
           CROSS JOIN range(1, 65) r(dim)
           GROUP BY a1.cl, r.dim),
    d2r AS (SELECT x.vec_id, c1.cl,
                   ROUND(SUM((x.v[r.dim] - c1.c) * (x.v[r.dim] - c1.c)), 9) AS d2
            FROM x CROSS JOIN range(1, 65) r(dim)
            JOIN c1 ON c1.dim = r.dim
            GROUP BY x.vec_id, c1.cl),
    a2 AS (SELECT vec_id, cl, d2,
                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
           FROM d2r QUALIFY rn = 1)
    SELECT CAST(cl AS INTEGER) AS cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(SUM(d2), 6) AS inertia
    FROM a2 GROUP BY cl ORDER BY cluster
    """,
    description="k-means Lloyd training, two full rounds from the deterministic low-vec_id seed (k=5), hash-matched against a true SQL unroll of assign -> per-dim mean -> re-assign: per-cluster membership and inertia after round 2; distances 9-dp-rounded before every argmin (lowest-cluster ties), round-1 centroids 9-dp-rounded per component so cross-engine AVG addition-order ulps cannot flip a borderline re-assignment — the clustering primitive under SemDeDup/IVF/mixture curation, with broadcast-sized centroid state and map-side-collapsed N*k distance passes",
)
def a0166_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    c0 = emb.filter(F.col("vec_id") < _KM_UNROLL_K).select(
        F.col("vec_id").alias("cl"), F.col("v").alias("cv")
    )
    a1 = (
        emb.crossJoin(F.broadcast(c0))
        .select("vec_id", "cl", SIM.sq_dist(F.col("v"), F.col("cv")).alias("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct(F.col("d2"), F.col("cl"))).alias("m"))
        .select("vec_id", F.col("m.cl").alias("cl"))
    )
    dims = emb.select("vec_id", F.posexplode("v").alias("dim0", "comp")).withColumn(
        "dim", F.col("dim0") + 1
    )
    c1 = (
        dims.join(a1, "vec_id")
        .groupBy("cl", "dim")
        .agg(F.round(F.avg("comp"), 9).alias("c"))
    )
    a2 = (
        dims.join(F.broadcast(c1), "dim")
        .groupBy("vec_id", "cl")
        .agg(F.round(F.sum((F.col("comp") - F.col("c")) * (F.col("comp") - F.col("c"))), 9).alias("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct(F.col("d2"), F.col("cl"))).alias("m"))
        .select(F.col("m.cl").alias("cl"), F.col("m.d2").alias("d2"))
    )
    return (
        a2.groupBy("cl")
        .agg(F.count(F.lit(1)).alias("n_members"), F.round(F.sum("d2"), 6).alias("inertia"))
        .select(F.col("cl").cast("int").alias("cluster"), "n_members", "inertia")
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# q120 — product quantization: split the 64-dim embedding into m=4
# subspaces of 16 dims, assign each subvector to its nearest of k=8
# codewords, and audit the reconstruction error PQ would pay at ADC
# time. The codebook is deterministic for oracle parity — the 8
# lowest-vec_id vectors (production would train per-subspace KMeans;
# the assignment/audit plan is identical either way, the codebook is
# just an input). Distances are rounded to 9 dp BEFORE every argmin on
# both engines (float-tie rule, ADVICE r5), ties broken by lowest
# code_id via min(struct(d2, code_id)).
#
# Scale shape: the codebook is k rows — broadcast — so assignment is a
# broadcast nested-loop producing N*k rows that collapse back to N via
# a map-side-combined min aggregate; the embedding table itself is
# never shuffled at full width.
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_SUB = 16  # dims per subspace
_PQ_K = 8  # codewords per subspace


def _pq_d2_sql(j: int) -> str:
    lo = j * _PQ_SUB + 1
    return (
        f"round(list_reduce(list_transform(range({lo}, {lo + _PQ_SUB}), "
        f"i -> (e.v[i] - cb.cv[i]) * (e.v[i] - cb.cv[i])), (a, b) -> a + b), 9)"
    )


@query(
    "q120_product_quantization",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cb AS (SELECT vec_id AS code_id, v AS cv FROM e WHERE vec_id < {_PQ_K}),
    pairs AS (SELECT e.vec_id, e.label, cb.code_id,
                     {', '.join(f'{_pq_d2_sql(j)} AS d{j}' for j in range(_PQ_M))}
              FROM e CROSS JOIN cb),
    mins AS (SELECT vec_id, label,
                    {', '.join(f'MIN(d{j}) AS m{j}' for j in range(_PQ_M))}
             FROM pairs GROUP BY vec_id, label),
    assign AS (SELECT p.vec_id, m.label,
                      {', '.join(f'm.m{j} AS m{j}' for j in range(_PQ_M))},
                      MIN(CASE WHEN p.d0 = m.m0 THEN p.code_id END) AS c0,
                      MIN(CASE WHEN p.d3 = m.m3 THEN p.code_id END) AS c3
               FROM pairs p JOIN mins m ON p.vec_id = m.vec_id
               GROUP BY p.vec_id, m.label, {', '.join(f'm.m{j}' for j in range(_PQ_M))})
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(m0 + m1 + m2 + m3), 6) AS avg_err2,
           {', '.join(f'ROUND(AVG(m{j}), 6) AS err_s{j}' for j in range(_PQ_M))},
           CAST(COUNT(DISTINCT c0) AS BIGINT) AS codes_used_s0,
           CAST(COUNT(DISTINCT c3) AS BIGINT) AS codes_used_s3
    FROM assign GROUP BY label ORDER BY label
    """,
    description="product quantization (m=4 subspaces x 16 dims, k=8 codewords): deterministic low-vec_id codebook broadcast against the corpus, per-subspace nearest-codeword assignment (9-dp-rounded distances, lowest-code_id tie-break via min(struct)), per-label reconstruction-error audit + codeword-usage counts — the PQ step between q111's flat int8 quantization and q114's IVF coarse clustering; N*k expansion collapses map-side, the embedding table is never shuffled at full width",
)
def q120_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # codebook = k bounded rows, collected once and closed over by the
    # kernel (the a0018/a0001 BLAS idiom) — at production scale this is
    # the trained per-subspace codebook shipped to every executor
    cb_rows = sorted(
        emb.filter(F.col("vec_id") < _PQ_K).select("vec_id", "v").collect(),
        key=lambda r: r["vec_id"],
    )
    code_ids = np.array([int(r["vec_id"]) for r in cb_rows], dtype=np.int64)
    C = np.array([r["v"] for r in cb_rows], dtype=np.float64)  # k x 64

    # ONE Arrow mapInPandas pass replaces the r11 broadcast cross join +
    # 512-term unrolled codegen expression (whose one-time analysis/
    # codegen cost WAS the sf0.1 floor: 1.75 s of the 1.47 s warm wall,
    # data_fraction 0.0 in BENCH_FLOOR). The kernel is the same math —
    # per-subspace squared distance to all k codewords, rounded 9 BEFORE
    # argmin, np.argmin's first-occurrence = lowest code_id tie-break —
    # vectorized (n x k x 16 einsum-free broadcasting) instead of
    # per-row codegen; per-row cost drops as well, so it wins at every
    # SF, not just at the floor.
    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.vstack(pdf["v"].to_numpy()).astype(np.float64)  # n x 64
            out = {"vec_id": pdf["vec_id"], "label": pdf["label"]}
            for j in range(_PQ_M):
                s = slice(j * _PQ_SUB, (j + 1) * _PQ_SUB)
                d = X[:, None, s] - C[None, :, s]  # n x k x 16
                d2 = np.round((d * d).sum(axis=2), 9)  # n x k
                am = np.argmin(d2, axis=1)
                out[f"d{j}"] = d2[np.arange(len(am)), am]
                out[f"c{j}"] = code_ids[am]
            yield pd.DataFrame(out)

    assign = emb.mapInPandas(
        kernel,
        "vec_id long, label int, "
        + ", ".join(f"d{j} double, c{j} long" for j in range(_PQ_M)),
    )
    return (
        assign.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg(sum(F.col(f"d{j}") for j in range(_PQ_M))), 6).alias("avg_err2"),
            *[F.round(F.avg(F.col(f"d{j}")), 6).alias(f"err_s{j}") for j in range(_PQ_M)],
            F.countDistinct("c0").alias("codes_used_s0"),
            F.countDistinct("c3").alias("codes_used_s3"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# a0141 — int4 embedding quantization: per-dimension min/max scale to
# 4-bit codes, two codes packed per byte (the 8x compression layout
# vector stores ship), dequantized at bin centers for the
# reconstruction-error audit. Binning is floor((v-mn)/width) — integer
# boundary math, no round() (engine-ambiguous at .5) — and a
# zero-width guard handles constant dimensions. The per-dim stats
# frame is 64 rows (broadcast); codes/packing/error are one exploded
# pass with two map-side-combined aggregates; the packed bytes are
# pinned by a positional checksum.
# ---------------------------------------------------------------------------

_I4_LEVELS = 16


@query(
    "a0141_int4_quantization",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    x AS (SELECT vec_id, label, CAST(p AS INT) AS pos, v[CAST(p AS INT) + 1] AS val
          FROM e, unnest(range(len(v))) t(p)),
    st AS (SELECT pos, MIN(val) AS mn, MAX(val) AS mx FROM x GROUP BY pos),
    c AS (SELECT vec_id, label, x.pos, val, mn, mx,
                 CASE WHEN mx = mn THEN 0
                      ELSE LEAST({_I4_LEVELS - 1}, CAST(FLOOR((val - mn) / ((mx - mn) / {_I4_LEVELS}.0)) AS BIGINT))
                 END AS code
          FROM x JOIN st ON x.pos = st.pos),
    r AS (SELECT vec_id, label, pos, val, code,
                 mn + (code + 0.5) * ((mx - mn) / {_I4_LEVELS}.0) AS recon
          FROM c),
    pk AS (SELECT vec_id, label, pos // 2 AS bpos,
                  SUM(CASE WHEN pos % 2 = 0 THEN code * 16 ELSE code END) AS byte
           FROM c GROUP BY vec_id, label, pos // 2),
    ck AS (SELECT label, SUM(byte * (bpos + 1)) AS checksum, COUNT(*) AS n_bytes FROM pk GROUP BY label),
    er AS (SELECT label, COUNT(DISTINCT vec_id) AS n_vecs,
                  ROUND(AVG((val - recon) * (val - recon)), 6) AS mse,
                  ROUND(MAX(ABS(val - recon)), 6) AS max_abs_err
           FROM r GROUP BY label)
    SELECT er.label, CAST(n_vecs AS BIGINT) AS n_vecs, mse, max_abs_err,
           CAST(ck.checksum % 1000000007 AS BIGINT) AS packed_checksum,
           CAST(ck.n_bytes AS BIGINT) AS n_bytes
    FROM er JOIN ck ON er.label = ck.label ORDER BY er.label
    """,
    description="int4 embedding quantization (the 8x-compression layout vector stores ship): per-dimension min/max scaling to 4-bit codes via floor boundary math (no round() — engine-ambiguous at .5; constant dims guarded to code 0), two codes packed per byte with the packing pinned by a positional checksum, dequantization at bin centers with per-label reconstruction MSE / max-abs-error audited; the 64-row per-dim stats frame broadcasts, everything else is one exploded pass with map-side-combined aggregates",
)
def a0141_int4_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    st = x.groupBy("pos").agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    width = (F.col("mx") - F.col("mn")) / _I4_LEVELS
    code = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(F.lit(_I4_LEVELS - 1), F.floor((F.col("val") - F.col("mn")) / width))
    )
    c = x.join(F.broadcast(st), "pos").select(
        "vec_id", "label", "pos", "val", "mn", "mx", code.alias("code")
    )
    r = c.select(
        "vec_id",
        "label",
        "val",
        (F.col("mn") + (F.col("code") + 0.5) * ((F.col("mx") - F.col("mn")) / _I4_LEVELS)).alias(
            "recon"
        ),
    )
    pk = c.groupBy("vec_id", "label", (F.col("pos") / 2).cast("long").alias("bpos")).agg(
        F.sum(
            F.when(F.col("pos") % 2 == 0, F.col("code") * 16).otherwise(F.col("code"))
        ).alias("byte")
    )
    ck = pk.groupBy("label").agg(
        F.sum(F.col("byte") * (F.col("bpos") + 1)).alias("checksum"),
        F.count("*").alias("n_bytes"),
    )
    er = r.groupBy("label").agg(
        F.countDistinct("vec_id").alias("n_vecs"),
        F.round(F.avg((F.col("val") - F.col("recon")) * (F.col("val") - F.col("recon"))), 6).alias(
            "mse"
        ),
        F.round(F.max(F.abs(F.col("val") - F.col("recon"))), 6).alias("max_abs_err"),
    )
    return (
        er.join(ck, "label")
        .select(
            "label",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            "mse",
            "max_abs_err",
            (F.col("checksum") % 1000000007).cast("long").alias("packed_checksum"),
            F.col("n_bytes").cast("long").alias("n_bytes"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# a0070 — Lloyd k-means (k=8, 2 iterations) over the 64-dim embedding
# table, deterministic init = the 8 lowest-vec_id vectors (production
# would use k-means||; the ITERATION plan is identical, init is an
# input). Scale shape: assignment is a ROW-LOCAL argmin against a
# 1-row broadcast carrying all k centroids as array<struct> — zero
# shuffle of the corpus; the centroid update is a k-key groupBy whose
# partial aggregation reduces each task to k×64 sums before the
# exchange. Nothing full-width ever shuffles; per-iteration cost is
# one corpus scan. Centroid means are rounded to 6 dp on BOTH engines
# before the next distance pass (engine-stable across partial-agg
# orders); distances rounded to 9 dp before every argmin, ties by
# lowest cluster id.
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_DIMS = 64


def _km_d2_duck(v: str, cv: str) -> str:
    return (
        f"round(list_reduce(list_transform(range(1, {_KM_DIMS + 1}), "
        f"i -> ({v}[i] - {cv}[i]) * ({v}[i] - {cv}[i])), (x, y) -> x + y), 9)"
    )


def _km_assign_duck(src: str, cb: str) -> str:
    """CTE text: nearest-centroid assignment of e-rows in `src` to `cb`."""
    return f"""
      SELECT vec_id, v, cid, d2 FROM (
        SELECT s.vec_id, s.v, c.cid, {_km_d2_duck('s.v', 'c.cv')} AS d2,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY {_km_d2_duck('s.v', 'c.cv')}, c.cid) AS rn
        FROM {src} s CROSS JOIN {cb} c
      ) WHERE rn = 1
    """


_KM_CV = ", ".join(f"round(avg(v[{i}]), 6)" for i in range(1, _KM_DIMS + 1))


def _km_d2_spark(v: Column, cv: Column) -> Column:
    # unrolled static sum (q120 A/B: interpreted HOF folds lose 1.7x at
    # sf1.0; the static tree is what survives scale-up)
    terms: Column | None = None
    for i in range(1, _KM_DIMS + 1):
        t = F.element_at(v, i) - F.element_at(cv, i)
        t = t * t
        terms = t if terms is None else terms + t
    return F.round(terms, 9)


def _km_assign_spark(emb: DataFrame, cb: DataFrame) -> DataFrame:
    """Nearest-centroid assignment via the shared BLAS kernel
    (SIM.assign_nearest_seed).

    The k-row collect is bounded by the k = _KM_K literal (the Lloyd
    loop materializes each 8-row centroid frame eagerly anyway); the
    collected codebook rides into one Arrow-batched dgemm per batch —
    |x|^2 - 2 xC' + |c|^2, rounded to 9 dp like the oracle's d2, with
    np.argmin's first-minimum tie matching ORDER BY d2, cid (codebook
    rows sorted by cid). The r11 variant broadcast a 1-row struct array
    and ran the unrolled d2 inside a transform() lambda — higher-order
    lambdas evaluate INTERPRETED per row x centroid (12.9 s warm at
    sf1.0); a literal-unrolled 8x64 expression tree was A/B'd too and
    is ANALYSIS-bound (1.8 MiB task binaries, 17.5 s). Round-9 absorbs
    the dgemm reassociation exactly as in a0001, and the downstream
    inertia/mean aggregates round at 4/6 dp — far above ulp noise."""
    cents = sorted((r["cid"], list(r["cv"])) for r in cb.collect())
    return SIM.assign_nearest_seed(
        emb, [c for c, _ in cents], [v for _, v in cents],
        "vec_id long, v array<double>, cid long, d2 double", "cid",
    )


def _km_update_spark(assigned: DataFrame) -> DataFrame:
    cents = assigned.groupBy("cid").agg(
        *[
            F.round(F.avg(F.element_at("v", i)), 6).alias(f"c{i}")
            for i in range(1, _KM_DIMS + 1)
        ]
    )
    # No checkpoint (r14): the ONLY consumer is _km_assign_spark's k-row
    # cb.collect(), which itself truncates lineage (the next iteration's
    # plan starts from the collected numpy codebook, not this frame) —
    # the former eager localCheckpoint here was a second job per Lloyd
    # iteration doing the same materialization the collect repeats.
    return cents.select(
        "cid", F.array(*[F.col(f"c{i}") for i in range(1, _KM_DIMS + 1)]).alias("cv")
    )


# Scale rule (100 TB): k is fixed at 8 for oracle parity; in production k
# is set by domain (clusters wanted), NOT by N — assignment stays one
# dgemm per Arrow batch (cost ~ N*k*d) and the update a k x d aggregate,
# so the plan SHAPE is k-invariant (no twin needed; the only k-sized
# artifact is the collected codebook, the same documented bound as
# a0001's).
@query(
    "a0070_kmeans_lloyd",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cb0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_KM_K}),
    a1 AS ({_km_assign_duck('e', 'cb0')}),
    cb1 AS (SELECT cid, [{_KM_CV}] AS cv FROM a1 GROUP BY cid),
    a2 AS ({_km_assign_duck('e', 'cb1')}),
    cb2 AS (SELECT cid, [{_KM_CV}] AS cv FROM a2 GROUP BY cid),
    a3 AS ({_km_assign_duck('e', 'cb2')})
    SELECT CAST(cid AS BIGINT) AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(SUM(d2), 4) AS inertia, ROUND(AVG(d2), 6) AS mean_d2
    FROM a3 GROUP BY cid ORDER BY cluster_id
    """,
    description=f"Lloyd k-means (k={_KM_K}, 2 update iterations + final assignment) over the {_KM_DIMS}-dim embeddings: row-local argmin against a 1-row broadcast of all centroids (ZERO corpus shuffle per assignment), k-key map-side-combined mean update, 6-dp-rounded centroids / 9-dp-rounded distances / lowest-cid ties for engine parity; per-cluster size, inertia and mean squared distance — the canonical clustering loop, one corpus scan per iteration",
)
def a0070_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cb = emb.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    for _ in range(2):
        cb = _km_update_spark(_km_assign_spark(emb, cb))
    final = _km_assign_spark(emb, cb)
    return (
        final.groupBy(F.col("cid").cast("long").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.sum("d2"), 4).alias("inertia"),
            F.round(F.avg("d2"), 6).alias("mean_d2"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# a0071 — centroid silhouette audit of the deterministic k=8 seeding
# (the cluster-quality diagnostic that decides k): per vector, a = the
# Euclidean distance to its own (nearest) centroid and b = the distance
# to the second-nearest, s = (b − a) / max(a, b) — the simplified
# (centroid-based) silhouette that stays LINEAR in the corpus where the
# classic pairwise formula is quadratic. Row-local: the per-vector
# distance list is k structs sorted in-row; no window, no shuffle until
# the per-cluster rollup. Distances rounded to 9 dp before the sort
# (ties by cid), silhouettes to 6.
# ---------------------------------------------------------------------------


# Scale rule (100 TB): inherits a0070's k rule — the per-point work is
# one k-row distance fold against the broadcast centroid frame;
# simplified silhouette (centroid form) is chosen precisely because the
# pairwise form is O(N^2) and this is O(N*k).
@query(
    "a0071_centroid_silhouette",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cb AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_KM_K}),
    pairs AS (
      SELECT e.vec_id, c.cid,
             round(sqrt({_km_d2_duck('e.v', 'c.cv')}), 9) AS d,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY round(sqrt({_km_d2_duck('e.v', 'c.cv')}), 9), c.cid) AS rn
      FROM e CROSS JOIN cb c
    ),
    ab AS (
      SELECT vec_id,
             MAX(CASE WHEN rn = 1 THEN cid END) AS cid,
             MAX(CASE WHEN rn = 1 THEN d END) AS a,
             MAX(CASE WHEN rn = 2 THEN d END) AS b
      FROM pairs WHERE rn <= 2 GROUP BY vec_id
    ),
    sil AS (
      SELECT cid, CASE WHEN GREATEST(a, b) = 0 THEN 0.0
                       ELSE (b - a) / GREATEST(a, b) END AS s
      FROM ab
    )
    SELECT CAST(cid AS BIGINT) AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(s), 6) AS avg_sil, ROUND(MIN(s), 6) AS min_sil,
           ROUND(MAX(s), 6) AS max_sil
    FROM sil GROUP BY cid ORDER BY cluster_id
    """,
    description=f"centroid-based silhouette audit of the deterministic k={_KM_K} seeding: per vector a = distance to nearest centroid, b = second-nearest, s = (b−a)/max(a,b) — the LINEAR cluster-quality diagnostic (classic silhouette is quadratic in the corpus); the k-struct distance list sorts in-row (no window, no corpus shuffle before the per-cluster rollup), 9-dp distances / cid ties / 6-dp silhouettes for engine parity",
)
def a0071_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cb = emb.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    cb_row = cb.agg(F.collect_list(F.struct("cid", "cv")).alias("cbs"))
    ds = emb.crossJoin(F.broadcast(cb_row)).select(
        "vec_id",
        F.array_sort(
            F.transform(
                F.col("cbs"),
                lambda c: F.struct(
                    F.round(F.sqrt(_km_d2_spark(F.col("v"), c["cv"])), 9).alias("d"),
                    c["cid"].alias("cid"),
                ),
            )
        ).alias("sd"),
    )
    ab = ds.select(
        F.col("sd")[0]["cid"].alias("cid"),
        F.col("sd")[0]["d"].alias("a"),
        F.col("sd")[1]["d"].alias("b"),
    )
    s = F.when(F.greatest("a", "b") == 0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    return (
        ab.select(F.col("cid").cast("long").alias("cluster_id"), s.alias("s"))
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("s"), 6).alias("avg_sil"),
            F.round(F.min("s"), 6).alias("min_sil"),
            F.round(F.max("s"), 6).alias("max_sil"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# a0001 — SemDeDup with the PRODUCTION k rule (the q114 scale twin,
# VERDICT r11 item 2). q114 fixes k to the 10 data labels for oracle
# parity, so its per-cluster blocked matmul grows QUADRATICALLY per
# decade (sf10 measured 501 s warm — the fixed-k regime). This twin
# applies the rule q114's docstring states in prose: pick
# k = ceil(N / target_cluster_size), so cluster size stays ~constant and
# total matmul work is k * target^2 = N * target — LINEAR in N.
#
# The coarse quantizer is deterministic and SQL-replayable: seeds are
# the corpus vectors with vec_id % step == 0 (step = ceil(N/k), dense
# vec_ids), every vector assigns to its nearest seed (d2 rounded to
# 9 dp, ties to the lowest seed id — both engines replay the exact
# rule), then the within-cell epsilon-ball pairs + connected
# components proceed exactly as q114. Seeding from a fixed stride is
# the standard cheap coarse quantizer (IVF does not need trained
# centroids to bound memory — it needs BALANCED BUCKETS). The collected
# codebook is k x 64 doubles = N/target rows — at 100 TB you cap the
# codebook with the two-level build a0023 implements (below:
# sqrt(N)-sized L1 collect + distributed per-cell refine); the
# mechanism under test HERE is the k ∝ N rule that keeps the per-task
# matrix at target^2.
#
# k ∝ N alone is NOT enough under adversarial duplication — measured,
# not theorized: the sf10 corpus is the sf0.1 corpus 100x-replicated,
# so every stride seed is a copy of one of only 10 distinct patterns,
# the 9-dp d2 ties collapse all 1000 seeds onto 10, and the "balanced"
# cells come back as 10 cells of 20k vectors whose 3.2 GB matmuls OOM
# the workers. The production guard is the same salted per-bucket cap
# the LSH family uses (operators/dedup.py salt_buckets, a083): within
# each cell, rank members by md5(cell || vec_id) and shard at
# salt = (rank-1) div cap, so per-task work is capped at cap^2 whatever
# the data multiplicity. Within an oversized cell the shards only see
# their own members' pairs — the documented recall trade of every
# capped SemDeDup (the un-capped alternative is the OOM above); the
# oracle replays the identical salting, so the driver hash pins the
# exact capped semantics.
#
# Fixture: same planted near-dups as q114 (vec_id < 10 re-appear
# rescaled x1.01 at vec_id+100000); whether a planted pair is caught
# depends on both copies landing in the same cell — the oracle replays
# the identical rule, so the driver hash pins whatever the rule yields.
# ---------------------------------------------------------------------------

_AK_TARGET = 200  # target cluster size at bench SFs (production: a few thousand)
_AK_CAP = 200  # salted per-cell cap: per-task matmul never exceeds cap^2


@query(
    "a0001_semdedup_autok",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    nk AS (SELECT COUNT(*) AS n,
                  CAST(CEIL(COUNT(*) / {_AK_TARGET}.0) AS BIGINT) AS k
           FROM base),
    st AS (SELECT CAST(CEIL(n / (k * 1.0)) AS BIGINT) AS step FROM nk),
    x AS (
      SELECT vec_id, v FROM base
      UNION ALL
      SELECT vec_id + 100000, list_transform(v, e -> e * 1.01)
      FROM base WHERE vec_id < {_SD_PLANT}),
    seeds AS (SELECT vec_id AS sid, v AS sv FROM base, st WHERE vec_id % step = 0),
    dist AS (
      SELECT x.vec_id, s.sid,
             ROUND(SUM((x.v[r.dim] - s.sv[r.dim]) * (x.v[r.dim] - s.sv[r.dim])), 9) AS d2
      FROM x CROSS JOIN range(1, {_DIMS + 1}) r(dim) CROSS JOIN seeds s
      GROUP BY x.vec_id, s.sid),
    best AS (
      SELECT vec_id, sid AS cluster,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, sid) AS rn
      FROM dist),
    assign AS (
      SELECT x.vec_id, x.v, b.cluster
      FROM x JOIN best b ON b.vec_id = x.vec_id AND b.rn = 1),
    sal AS (
      SELECT vec_id, v, cluster,
             CAST(FLOOR((ROW_NUMBER() OVER (
               PARTITION BY cluster
               ORDER BY md5(CAST(cluster AS VARCHAR) || CAST(vec_id AS VARCHAR)),
                        vec_id) - 1) / {_AK_CAP}) AS BIGINT) AS salt
      FROM assign),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sal a JOIN sal b
        ON a.cluster = b.cluster AND a.salt = b.salt AND a.vec_id < b.vec_id
      WHERE ROUND({_PAIR_COS}, 9) >= {_SD_THR}),
    ed AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
    reach(id, lab) AS (
      SELECT DISTINCT a, a FROM ed
      UNION
      SELECT ed.a, reach.lab FROM ed JOIN reach ON ed.b = reach.id),
    labels AS (SELECT id, MIN(lab) AS cluster FROM reach GROUP BY id)
    SELECT id AS removed_id, cluster AS kept_id
    FROM labels WHERE id <> cluster ORDER BY removed_id
    """,
    description=f"SemDeDup at the PRODUCTION scaling rules (q114's scale twin): k = ceil(N/{_AK_TARGET}) stride-seeded coarse cells, broadcast-codebook nearest-seed assignment (one Arrow-batched pass, d2 rounded 9 with ties to the lowest seed id), PLUS the salted per-cell cap (rank by md5(cell||id), salt = (rank-1) div {_AK_CAP} — the a083/LSH guard, both engines replay it) so a 100x-replicated duplicate clique can never re-inflate a cell past cap^2, then q114's blocked-matmul epsilon-ball pairs + connected components — total cost LINEAR in N per decade, the measured fix for q114's fixed-k quadratic regime at sf10",
)
def a0001_semdedup_autok(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _ak_salted_assign(spark, sf_dir).groupBy("cluster", "salt").applyInPandas(
        _cluster_pairs, "id_a long, id_b long"
    )
    labels = D.near_dup_clusters(pairs)
    return (
        labels.filter(F.col("id") != F.col("cluster"))
        .select(F.col("id").alias("removed_id"), F.col("cluster").alias("kept_id"))
        .orderBy("removed_id")
    )


def _ak_salted_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The a0001 coarse-quantize + salted-cap frame (vec_id, cluster, v,
    salt), exposed separately so tests can pin the OOM-guard invariant —
    max per-(cluster, salt) group size <= _AK_CAP — on the REAL frame
    (planted rows included) rather than re-deriving it."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", SIM.as_double("embedding").alias("v"))
    # two driver scalars + the k x 64 coarse codebook (k = N/target —
    # bounded for any bench SF; at extreme scale swap in a0023's
    # two-level build: O(sqrt N) driver traffic, same cell semantics)
    sids, cmat = SIM.stride_codebook(base, lambda n: -(-n // _AK_TARGET))
    # nearest stride seed per vector (one dgemm per Arrow batch — the
    # dim loop measured 40+ s of the sf10 wall), then the salted
    # per-cell cap: a partitioned window rank, never a global sort
    assign = SIM.assign_nearest_seed(
        base.unionAll(_planted(base)), sids, cmat,
        "vec_id long, cluster long, v array<double>", "cluster",
    )
    return D.salt_buckets(assign, "vec_id", _AK_CAP, keys=("cluster",))


# ---------------------------------------------------------------------------
# a0003 — INCREMENTAL SemDeDup (the q108 bucket-probe idiom lifted to
# the embedding space — VERDICT r12 item 8): the corpus has already
# been deduplicated once ("old" = 80% of vectors); a growth batch
# arrives ("new" = vec_id % 5 == 3, plus the planted 1.01-rescaled
# copies of vec_id < _SD_PLANT at +100000). The coarse codebook was
# built when the OLD corpus was deduped — stride seeds over old ids
# only — and new vectors are assigned into the EXISTING cells, so the
# only pair work is new x cell-members: each new vector compares
# against its cell's occupants (old members and earlier-priority new
# members), never old x old again. Priority is (is_new, vec_id)
# lexicographic — old corpus always wins a tie, matching what a
# production incremental dedup does (the kept id is stable across
# growth batches).
#
# Scale shape (why this is "corpus growth nearly free"): per growth
# batch the matmul work is n_new * cell_size, not cell_size^2 — q108
# measured the relational version of this 170x faster than recompute
# at sf10; the salted per-cell cap (a0001's guard, replayed by the
# oracle) bounds every task at cap * cap whatever the duplicate
# multiplicity. In production old assignments are CACHED (the
# assignment pass here re-derives them only so the oracle can replay
# the rule end-to-end; the docstring contract is that old cell ids are
# a stored column at 100 TB).
# ---------------------------------------------------------------------------

_INC_TARGET = 200  # target cell size (a0001's rule, applied to the OLD corpus)
_INC_CAP = 200  # salted per-cell cap


@query(
    "a0003_semdedup_incremental",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CASE WHEN vec_id % 5 = 3 THEN 1 ELSE 0 END AS is_new
      FROM embeddings),
    x AS (
      SELECT vec_id, v, is_new FROM base
      UNION ALL
      SELECT vec_id + 100000, list_transform(v, e -> e * 1.01), 1
      FROM base WHERE vec_id < {_SD_PLANT}),
    old_n AS (SELECT COUNT(*) AS n,
                     CAST(CEIL(COUNT(*) / {_INC_TARGET}.0) AS BIGINT) AS k
              FROM base WHERE is_new = 0),
    st AS (SELECT CAST(CEIL(n / (k * 1.0)) AS BIGINT) AS step FROM old_n),
    seeds AS (SELECT vec_id AS sid, v AS sv
              FROM base, st WHERE is_new = 0 AND vec_id % step = 0),
    dist AS (
      SELECT x.vec_id, s.sid,
             ROUND(SUM((x.v[r.dim] - s.sv[r.dim]) * (x.v[r.dim] - s.sv[r.dim])), 9) AS d2
      FROM x CROSS JOIN range(1, {_DIMS + 1}) r(dim) CROSS JOIN seeds s
      GROUP BY x.vec_id, s.sid),
    best AS (
      SELECT vec_id, sid AS cluster,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, sid) AS rn
      FROM dist),
    assign AS (
      SELECT x.vec_id, x.v, x.is_new, b.cluster
      FROM x JOIN best b ON b.vec_id = x.vec_id AND b.rn = 1),
    sal AS (
      SELECT vec_id, v, is_new, cluster,
             CAST(FLOOR((ROW_NUMBER() OVER (
               PARTITION BY cluster
               ORDER BY md5(CAST(cluster AS VARCHAR) || CAST(vec_id AS VARCHAR)),
                        vec_id) - 1) / {_INC_CAP}) AS BIGINT) AS salt
      FROM assign),
    p AS (
      SELECT a.vec_id AS removed_id, b.vec_id AS cand_id, b.is_new AS cand_new,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY b.is_new, b.vec_id) AS rk
      FROM sal a JOIN sal b
        ON a.cluster = b.cluster AND a.salt = b.salt
       AND a.is_new = 1
       AND (b.is_new < a.is_new OR (b.is_new = a.is_new AND b.vec_id < a.vec_id))
      WHERE ROUND(
        list_reduce(list_transform(range(1, {_DIMS + 1}), i -> a.v[i] * b.v[i]), (s, t) -> s + t)
        / (sqrt(list_reduce(list_transform(range(1, {_DIMS + 1}), i -> a.v[i] * a.v[i]), (s, t) -> s + t))
           * sqrt(list_reduce(list_transform(range(1, {_DIMS + 1}), i -> b.v[i] * b.v[i]), (s, t) -> s + t))), 9)
        >= {_SD_THR})
    SELECT removed_id, cand_id AS kept_id,
           CAST(1 - cand_new AS BIGINT) AS kept_is_old
    FROM p WHERE rk = 1 ORDER BY removed_id
    """,
    description=f"INCREMENTAL SemDeDup (q108's bucket-probe idiom in embedding space): the codebook is stride-seeded from the OLD corpus only, the growth batch (20% natural + planted 1.01-rescaled copies) assigns into the EXISTING cells, and pair work is new x cell-members with priority (is_new, vec_id) — old keeps always win, removed new vectors report their kept occupant and whether it is old; the salted per-cell cap (rank by md5(cell||id), shard at {_INC_CAP}) bounds every task at cap^2 under any duplicate multiplicity — corpus growth costs n_new * cell, never cell^2",
)
def a0003_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        SIM.as_double("embedding").alias("v"),
        F.when(F.col("vec_id") % 5 == 3, 1).otherwise(0).alias("is_new"),
    )
    # codebook from the OLD corpus only — the cells predate the growth
    # batch (bounded driver collect; at 100 TB use a0023's two-level
    # build in this module, whose driver traffic is O(sqrt N))
    sids, cmat = SIM.stride_codebook(
        base.filter(F.col("is_new") == 0), lambda n: -(-n // _INC_TARGET)
    )
    # new and old vectors assign to the nearest old-corpus seed
    assign = SIM.assign_nearest_seed(
        base.unionAll(_planted(base, F.lit(1).alias("is_new"))), sids, cmat,
        "vec_id long, cluster long, v array<double>, is_new int", "cluster",
    )
    salted = D.salt_buckets(assign, "vec_id", _INC_CAP, keys=("cluster",))

    thr = _SD_THR

    def probe_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        # new x cell-members matmul (n_new rows against ALL members in
        # priority order) — the incremental cost shape; float64 so
        # round(cos, 9) agrees with the SQL oracle
        pdf = pdf.sort_values(["is_new", "vec_id"]).reset_index(drop=True)
        newsel = pdf["is_new"].to_numpy() == 1
        if not newsel.any():
            return pd.DataFrame({"removed_id": [], "kept_id": [], "kept_is_old": []}).astype(
                {"removed_id": "int64", "kept_id": "int64", "kept_is_old": "int64"}
            )
        xm = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        isnew = pdf["is_new"].to_numpy()
        new_idx = np.nonzero(newsel)[0]
        cos = SIM.cosine_block(xm[new_idx], xm)
        out = []
        for row, ia in enumerate(new_idx):
            if ia == 0:
                continue
            hits = np.nonzero(cos[row, :ia] >= thr)[0]
            if len(hits):
                j = hits[0]  # min (is_new, vec_id) == first in sorted order
                out.append((int(ids[ia]), int(ids[j]), int(1 - isnew[j])))
        return pd.DataFrame(out, columns=["removed_id", "kept_id", "kept_is_old"]).astype(
            {"removed_id": "int64", "kept_id": "int64", "kept_is_old": "int64"}
        )

    return (
        salted.groupBy("cluster", "salt")
        .applyInPandas(probe_pairs, "removed_id long, kept_id long, kept_is_old long")
        .orderBy("removed_id")
    )


# ---------------------------------------------------------------------------
# a0018 — Johnson-Lindenstrauss sign-projection audit (Achlioptas 2003:
# database-friendly +-1 projections): embeddings project 64 -> 16 dims
# through a DETERMINISTIC md5-derived sign matrix (both engines derive
# the identical matrix), y = S^T x / sqrt(16), and the audit reports
# the norm-preservation ratio ||y||/||x|| histogram (0.1-wide buckets)
# — the cheap-ANN pre-filter tier: candidate generation in 16 dims at
# 1/4 the FLOPs, exact re-rank in 64. Spark side is ONE Arrow
# mapInPandas batch kernel (numpy matmul, the a0001 BLAS idiom); the
# sign matrix is a 64x16 constant, never a data-sized frame.
# Scale rule (100 TB): embarrassingly parallel scan; k=16 is the
# recall/FLOPs knob; the bucket rollup is ~10 rows.
# ---------------------------------------------------------------------------

_JL_IN, _JL_OUT = 64, 16


def _jl_sign(i: int, j: int) -> int:
    """+-1 from md5('jl_i_j') parity — hashlib here, md5() in SQL."""

    h = hashlib.md5(f"jl_{i}_{j}".encode()).hexdigest()[:4]
    return 1 if int(h, 16) % 2 == 0 else -1


@query(
    "a0018_jl_projection_audit",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sm AS (
      SELECT i, j,
             CASE WHEN CAST(CONCAT('0x', substr(md5('jl_' || i || '_' || j), 1, 4))
                       AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s
      FROM range(1, {_JL_IN + 1}) r1(i) CROSS JOIN range(1, {_JL_OUT + 1}) r2(j)),
    comp AS (
      SELECT x.vec_id, r.dim AS i, x.v[r.dim] AS xv
      FROM x CROSS JOIN range(1, {_JL_IN + 1}) r(dim)),
    y AS (
      SELECT comp.vec_id, sm.j, SUM(comp.xv * sm.s) / 4.0 AS yj
      FROM comp JOIN sm ON sm.i = comp.i GROUP BY comp.vec_id, sm.j),
    ny AS (SELECT vec_id, sqrt(SUM(yj * yj)) AS ny FROM y GROUP BY vec_id),
    nx AS (
      SELECT vec_id,
             sqrt(list_reduce(list_transform(v, e -> e * e), (a, b) -> a + b)) AS nx
      FROM x),
    r AS (
      SELECT ROUND(ny.ny / nx.nx, 9) AS ratio
      FROM ny JOIN nx ON nx.vec_id = ny.vec_id WHERE nx.nx > 0)
    SELECT CAST(FLOOR(ratio * 10) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(ratio), 6) AS avg_ratio
    FROM r GROUP BY 1 ORDER BY bucket
    """,
    description=f"Johnson-Lindenstrauss sign-projection audit (Achlioptas 2003): embeddings project {_JL_IN}->{_JL_OUT} dims through a deterministic md5-derived +-1 matrix (y = S^T x / sqrt({_JL_OUT}), both engines derive the identical matrix), reporting the norm-preservation ratio ||y||/||x|| histogram in 0.1 buckets — the cheap-ANN pre-filter tier (candidates in {_JL_OUT} dims, exact re-rank in {_JL_IN}); Spark side is one Arrow mapInPandas numpy-matmul kernel, the sign matrix a 64x16 constant",
)
def a0018_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    S = np.array(
        [[_jl_sign(i, j) for j in range(1, _JL_OUT + 1)] for i in range(1, _JL_IN + 1)],
        dtype=np.float64,
    )
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            Y = X @ S / 4.0
            nx = np.sqrt((X * X).sum(axis=1))
            ny = np.sqrt((Y * Y).sum(axis=1))
            m = nx > 0
            yield pd.DataFrame({"ratio": np.round(ny[m] / nx[m], 9)})

    r = emb.mapInPandas(kernel, "ratio double")
    return (
        r.groupBy(F.floor(F.col("ratio") * 10).cast("long").alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.round(F.avg("ratio"), 6).alias("avg_ratio"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# a0023 — two-level codebook build (sampled coarse + per-cell refine).
#
# WHY: every SemDeDup-family query so far (a0001 auto-k, a0003
# incremental, the streaming ingest loop) bootstraps its codebook with
# a DRIVER COLLECT of ~N/target seed vectors — bounded at every bench
# SF, but the one stage of the family that does not scale to 100 TB
# (N/200 seeds at N = 1e11 is 5e8 vectors on the driver). The two-level
# build caps driver traffic at the LEVEL-1 seed set only:
#
#   level 1  k1 = ceil(sqrt(N / T2)) stride seeds  -> the ONLY collect,
#            O(sqrt(N)) rows (1e11 vectors, T2=64 -> ~40k seeds);
#   assign 1 every vector to its nearest L1 seed — one Arrow BLAS scan
#            against the broadcast-sized L1 matrix
#            (SIM.assign_nearest_seed);
#   level 2  per-L1-cell stride refine: rank members by vec_id inside
#            the cell, keep every ceil(cell_n/T2)-th — a window + filter
#            that stays DISTRIBUTED (the seeds never leave executors);
#   assign 2 members meet ONLY their own cell's L2 seeds (role-tagged
#            union + one grouped kernel per cell — the equi-join-on-cell
#            shape every family member uses), nearest by round-9 d2.
#
# The output audits the build: fine-cell occupancy + mean squared
# distance per (l1, l2) cell, bounded at ~N/T2 rows of which the demo
# keeps all (sf0.01: ~30). Determinism: stride rules on dense vec_id,
# round-9 distances before every argmin, ties to the lowest seed id —
# both engines replay the identical codebook, so the driver value-hash
# pins the BUILD, not just the stats.
# Scale rule (100 TB): T2 is the cell-size knob (k1 tracks sqrt(N/T2));
# a viral L1 cell bounds its kernel by the same salted cap the family
# uses (not needed at stride-seeded uniformity — stride cells are
# +-1 seed of uniform by construction).
# ---------------------------------------------------------------------------

_CB2_T2 = 64  # target fine-cell size (both levels derive from it)


@query(
    "a0023_semdedup_twolevel_codebook",
    oracle=f"""
    WITH x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT COUNT(*) AS n FROM x),
    k1 AS (SELECT CAST(CEIL(SQRT(n / {_CB2_T2}.0)) AS BIGINT) AS k FROM n),
    st1 AS (SELECT CAST(CEIL(n.n * 1.0 / k1.k) AS BIGINT) AS step FROM n, k1),
    s1 AS (SELECT vec_id AS sid, v AS sv FROM x, st1 WHERE vec_id % st1.step = 0),
    d1 AS (
      SELECT x.vec_id, s1.sid,
             ROUND(list_reduce(list_transform(range(1, {_DIMS + 1}),
               i -> (x.v[i] - s1.sv[i]) * (x.v[i] - s1.sv[i])), (a, b) -> a + b), 9) AS d2
      FROM x CROSS JOIN s1),
    a1 AS (
      SELECT vec_id, sid AS l1,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, sid) AS rn
      FROM d1),
    m AS (SELECT x.vec_id, x.v, a1.l1
          FROM x JOIN a1 ON a1.vec_id = x.vec_id AND a1.rn = 1),
    r AS (SELECT vec_id, v, l1,
                 ROW_NUMBER() OVER (PARTITION BY l1 ORDER BY vec_id) AS r,
                 COUNT(*) OVER (PARTITION BY l1) AS cn
          FROM m),
    s2 AS (SELECT l1, vec_id AS sid2, v AS sv
           FROM r WHERE (r - 1) % CAST(CEIL(cn * 1.0 / {_CB2_T2}) AS BIGINT) = 0),
    d2t AS (
      SELECT m.vec_id, s2.sid2,
             ROUND(list_reduce(list_transform(range(1, {_DIMS + 1}),
               i -> (m.v[i] - s2.sv[i]) * (m.v[i] - s2.sv[i])), (a, b) -> a + b), 9) AS d2
      FROM m JOIN s2 ON s2.l1 = m.l1),
    a2 AS (
      SELECT vec_id, sid2, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, sid2) AS rn
      FROM d2t),
    f AS (SELECT m.l1, a2.sid2 AS l2, a2.d2
          FROM m JOIN a2 ON a2.vec_id = m.vec_id AND a2.rn = 1)
    SELECT l1 AS l1_seed, l2 AS l2_seed,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(AVG(d2), 6) AS avg_d2
    FROM f GROUP BY l1, l2 ORDER BY l1_seed, l2_seed
    """,
    description=f"two-level SemDeDup/IVF codebook build (sampled coarse + per-cell refine — the 100 TB codebook rule of a0001/a0003/the streaming ingest, as code): level-1 = ceil(sqrt(N/{_CB2_T2})) stride seeds (the ONLY driver collect, O(sqrt N)); every vector BLAS-assigns to its nearest L1 seed; level-2 seeds are a per-cell vec_id-rank stride (every ceil(cell_n/{_CB2_T2})-th member) that never leaves the executors; members meet only their own cell's L2 seeds via a role-tagged grouped kernel; output = fine-cell occupancy + round-6 mean squared distance per (l1, l2) — round-9 distances and lowest-seed-id ties make both engines replay the identical codebook",
)
def a0023_semdedup_twolevel_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    x = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", SIM.as_double("embedding").alias("v")
    )
    # THE only driver collect of the build: the level-1 seed set,
    # O(sqrt(N/T2)) rows (a0001/a0003 collect N/target — this is the
    # scale fix their docstrings point to)
    sids, cmat = SIM.stride_codebook(x, lambda n: math.ceil(math.sqrt(n / float(_CB2_T2))))
    m = SIM.assign_nearest_seed(x, sids, cmat, "vec_id long, l1 long, v array<double>", "l1")
    wr = Window.partitionBy("l1").orderBy("vec_id")
    wn = Window.partitionBy("l1")
    ranked = m.select(
        "vec_id", "l1", "v",
        F.row_number().over(wr).alias("r"),
        F.count("*").over(wn).alias("cn"),
    )
    step2 = F.ceil(F.col("cn") * 1.0 / _CB2_T2).cast("long")
    # level-2 seeds: distributed stride inside each cell — NO collect
    seeds2 = ranked.filter((F.col("r") - 1) % step2 == 0).select(
        "l1", "vec_id", "v", F.lit(1).alias("role")
    )
    members = ranked.select("l1", "vec_id", "v", F.lit(0).alias("role"))
    # role-tagged union (the union-shaped lineage that avoids an
    # ambiguous self-join) + ONE grouped kernel per L1 cell: members
    # meet only their own cell's seeds
    tagged = members.unionByName(seeds2)

    def refine(pdf: pd.DataFrame) -> pd.DataFrame:
        t = pdf[pdf["role"] == 1].sort_values("vec_id")
        p = pdf[pdf["role"] == 0]
        if not len(t) or not len(p):
            return pd.DataFrame({"l1": [], "l2": [], "d2": []}).astype(
                {"l1": "int64", "l2": "int64", "d2": "float64"}
            )
        am, d2 = SIM.nearest_seed(
            np.vstack(p["v"].to_numpy()).astype(np.float64),
            np.vstack(t["v"].to_numpy()).astype(np.float64),
        )
        return pd.DataFrame({"l1": p["l1"].to_numpy(), "l2": t["vec_id"].to_numpy()[am], "d2": d2})

    fine = tagged.groupBy("l1").applyInPandas(refine, "l1 long, l2 long, d2 double")
    return (
        fine.groupBy(F.col("l1").alias("l1_seed"), F.col("l2").alias("l2_seed"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.round(F.avg("d2"), 6).alias("avg_d2"),
        )
        .orderBy("l1_seed", "l2_seed")
    )


# ---------------------------------------------------------------------------
# a0024 — reciprocal-rank fusion of lexical (BM25) and dense (cosine)
# retrieval (Cormack, Clarke & Buettcher, SIGIR 2009): the standard
# hybrid-search combiner, score(d) = sum over lists of 1/(K + rank_d).
# The lexical list is a0165's Okapi BM25 ranking (k1=1.2, b=0.75,
# Lucene idf) for the same fixed 3-term query; the dense list is
# corpus-wide cosine to a fixed query document's embedding (the
# embeddings table is doc-aligned: vec_id == doc_id). Both lists are
# truncated to depth L before fusion — RRF is rank-only, so the two
# scores never need calibrating against each other (that robustness is
# the paper's point).
#
# Scale shape: BM25 side is posting-list shaped (explode filtered to 3
# terms immediately); dense side is one corpus scan against a single
# broadcast query vector; each list's rank is a TOP-L TakeOrdered
# (never a global sort), and the fusion is an L-bounded full outer
# join. Determinism: ranks are assigned over 6-dp (lexical) / 9-dp
# (dense) rounded scores with doc_id ties, so both engines replay the
# identical permutation.
# Scale rule (100 TB): depth L and the query workload are resolution
# constants; the corpus-proportional stages are one token scan and one
# embedding scan. The batched-workload form is a0168 (lexical) x q118
# (dense) feeding the same fusion join.
# ---------------------------------------------------------------------------

_RRF_QVEC = 42  # query document (vec_id == doc_id in the synthetic corpus)
_RRF_K = 60  # the paper's constant
_RRF_DEPTH = 50
_RRF_TOP = 15


@query(
    "a0024_rrf_fusion",
    oracle=f"""
    WITH {_bm25_ctes(_BM25_TERMS)},
    lex AS (SELECT tf.doc_id, ROUND(SUM(
              {_BM25_C_SQL}), 6) AS bm25
            FROM {_BM25_FROM_SQL}
            GROUP BY tf.doc_id),
    lexrk AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
              FROM lex),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings
           WHERE vec_id = {_RRF_QVEC}),
    dense AS (SELECT e.vec_id AS doc_id,
                     ROUND({_DOT_VQ} / ({_NORM_V} * {_NORM_Q}), 9) AS cos
              FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id <> {_RRF_QVEC}) e
              CROSS JOIN qv),
    denrk AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r
              FROM dense),
    l AS (SELECT doc_id, r FROM lexrk WHERE r <= {_RRF_DEPTH}),
    d AS (SELECT doc_id, r FROM denrk WHERE r <= {_RRF_DEPTH}),
    fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             COALESCE(l.r, 0) AS lex_rank, COALESCE(d.r, 0) AS dense_rank,
             ROUND(COALESCE(1.0 / ({_RRF_K} + l.r), 0)
                   + COALESCE(1.0 / ({_RRF_K} + d.r), 0), 9) AS rrf
      FROM l FULL OUTER JOIN d ON d.doc_id = l.doc_id)
    SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(dense_rank AS BIGINT) AS dense_rank,
           ROUND(rrf, 6) AS rrf_score
    FROM fused ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOP}
    """,
    description=f"reciprocal-rank fusion of BM25 lexical and cosine dense retrieval (Cormack-Clarke-Buettcher SIGIR 2009, K={_RRF_K}): a0165's Okapi BM25 ranking for a fixed 3-term query fused with corpus-wide cosine to a fixed query document's embedding (vec_id==doc_id alignment), both lists truncated to depth {_RRF_DEPTH}, score = sum 1/(K+rank) over an L-bounded full outer join — rank-only fusion never calibrates the two score scales (the paper's robustness claim); posting-list lexical side + one-broadcast-vector dense scan + TakeOrdered ranks keep every stage scale-safe; ranks assigned over rounded scores with doc_id ties so both engines replay the identical permutation",
)
def a0024_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lex = (
        _bm25_contrib(docs, _BM25_TERMS)
        .groupBy("doc_id")
        .agg(F.round(F.sum("c"), 6).alias("bm25"))
    )
    # TakeOrderedAndProject truncation FIRST (top-DEPTH, never a global
    # sort of the per-doc frame), then rank assignment over the
    # DEPTH-row frame — the a0013 window discipline
    lexrk = (
        lex.orderBy(F.desc("bm25"), "doc_id")
        .limit(_RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id")).alias("r"),
        )
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", SIM.as_double("embedding").alias("v")
    )
    qv = emb.filter(F.col("vec_id") == _RRF_QVEC).select(F.col("v").alias("q"))
    dense = (
        emb.filter(F.col("vec_id") != _RRF_QVEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(SIM.cosine(F.col("v"), F.col("q")), 9).alias("cos"),
        )
    )
    denrk = (
        dense.orderBy(F.desc("cos"), "doc_id")
        .limit(_RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number().over(Window.orderBy(F.desc("cos"), "doc_id")).alias("r"),
        )
    )

    fused = (
        lexrk.withColumnRenamed("r", "lr")
        .join(denrk.withColumnRenamed("r", "dr"), "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lr", F.lit(0)).alias("lex_rank"),
            F.coalesce("dr", F.lit(0)).alias("dense_rank"),
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("lr")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("dr")), F.lit(0.0)),
                9,
            ).alias("rrf"),
        )
    )
    return (
        fused.orderBy(F.desc("rrf"), "doc_id")
        .limit(_RRF_TOP)
        .select(
            "doc_id",
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("dense_rank").cast("long").alias("dense_rank"),
            F.round("rrf", 6).alias("rrf_score"),
        )
    )


# ---------------------------------------------------------------------------
# a0025 — Matryoshka-truncation recall audit (Kusupati et al., NeurIPS
# 2022): how much ANN quality survives when the 64-d embedding is
# truncated to its first p dims (the MRL trick that cuts index size and
# distance FLOPs by 64/p at serving time). For a deterministic bounded
# query set, top-10 by squared L2 over the p-dim prefix is compared to
# the full-width top-10; recall@10 per prefix width is the shipping
# decision number.
#
# Scale shape: the query workload is bounded (vec_id % 73 == 0 below a
# fixed vec_id ceiling, so it does NOT grow with the corpus) and
# broadcast; each (query, prefix) candidate list is a per-partition
# TopK over ONE corpus scan (the prefix widths ride the same scan via a
# posexploded constant array — no re-read per width). Distances are
# 9-dp-rounded before ranking with vec_id ties, so both engines pick
# identical neighbor sets. Production path at 100 TB: the p-dim prefix
# feeds the IVF ladder (q96/a0164) — this audit prices that switch.
# ---------------------------------------------------------------------------

_MRL_PREFIXES = [8, 16, 32, 64]
_MRL_QMOD = 73
_MRL_QCAP = 4096  # workload ceiling: the query set must NOT grow with the corpus
_MRL_TOPK = 10


def _mrl_d2_sql(p: int) -> str:
    return (
        f"ROUND(list_reduce(list_transform(range(1, {p + 1}),"
        " i -> (v[i] - q[i]) * (v[i] - q[i])), (a, b) -> a + b), 9)"
    )


@query(
    "a0025_matryoshka_recall",
    oracle=f"""
    WITH x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    qs AS (SELECT vec_id AS qid, v AS q FROM x
           WHERE vec_id % {_MRL_QMOD} = 0 AND vec_id < {_MRL_QCAP}),
    pd AS (SELECT qs.qid, x.vec_id, p.p,
                  CASE {" ".join(f"WHEN p.p = {p} THEN {_mrl_d2_sql(p)}" for p in _MRL_PREFIXES)}
                  END AS d2
           FROM x JOIN qs ON x.vec_id <> qs.qid
           CROSS JOIN (SELECT unnest([{", ".join(str(p) for p in _MRL_PREFIXES)}]) AS p) p),
    rk AS (SELECT qid, vec_id, p,
                  ROW_NUMBER() OVER (PARTITION BY qid, p ORDER BY d2, vec_id) AS r
           FROM pd),
    top AS (SELECT qid, vec_id, p FROM rk WHERE r <= {_MRL_TOPK}),
    truth AS (SELECT qid, vec_id FROM top WHERE p = {_DIMS}),
    hits AS (SELECT t.p, t.qid, COUNT(*) AS h
             FROM top t JOIN truth USING (qid, vec_id)
             GROUP BY t.p, t.qid)
    SELECT CAST(p AS BIGINT) AS prefix_dims,
           ROUND(AVG(h * 1.0 / {_MRL_TOPK}), 6) AS avg_recall10,
           CAST(COUNT(*) AS BIGINT) AS n_queries
    FROM hits GROUP BY p ORDER BY prefix_dims
    """,
    description=f"Matryoshka-truncation recall audit (Kusupati et al. NeurIPS 2022): top-{_MRL_TOPK} by squared L2 over the first p of {_DIMS} embedding dims (p in {_MRL_PREFIXES}) vs the full-width ground truth, recall@{_MRL_TOPK} averaged over a bounded deterministic query set (vec_id % {_MRL_QMOD} = 0 AND vec_id < {_MRL_QCAP} — the ceiling keeps the workload scale-invariant) — the number that prices truncating an index to 1/8 the FLOPs; one corpus scan carries all prefix widths via a posexploded constant array, queries broadcast, 9-dp-rounded distances with vec_id ties make both engines pick identical neighbor sets",
)
def a0025_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", SIM.as_double("embedding").alias("v")
    )
    qs = x.filter(
        (F.col("vec_id") % _MRL_QMOD == 0) & (F.col("vec_id") < _MRL_QCAP)
    ).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("q")
    )
    pref = F.array([F.lit(p) for p in _MRL_PREFIXES])

    def d2_prefix(p: int):
        return F.round(
            F.aggregate(
                F.zip_with(
                    F.slice("v", 1, p), F.slice("q", 1, p), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ),
            9,
        )

    d2 = F.lit(None).cast("double")
    for p in _MRL_PREFIXES:
        d2 = F.when(F.col("p") == p, d2_prefix(p)).otherwise(d2)
    pd_ = (
        x.join(F.broadcast(qs), F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.explode(pref).alias("p"), "v", "q")
        .select("qid", "vec_id", "p", d2.alias("d2"))
    )
    w = Window.partitionBy("qid", "p").orderBy("d2", "vec_id")
    top = pd_.select("qid", "vec_id", "p", F.row_number().over(w).alias("r")).filter(
        F.col("r") <= _MRL_TOPK
    )
    truth = top.filter(F.col("p") == _DIMS).select("qid", "vec_id")
    hits = top.join(truth, ["qid", "vec_id"]).groupBy("p", "qid").agg(
        F.count(F.lit(1)).alias("h")
    )
    return (
        hits.groupBy(F.col("p").cast("long").alias("prefix_dims"))
        .agg(
            F.round(F.avg(F.col("h") * 1.0 / _MRL_TOPK), 6).alias("avg_recall10"),
            F.count(F.lit(1)).cast("long").alias("n_queries"),
        )
        .orderBy("prefix_dims")
    )


# ---------------------------------------------------------------------------
# a0039 — maximal marginal relevance re-ranking (Carbonell & Goldstein,
# SIGIR 1998): the diversified top-k every RAG retrieval layer ships —
# greedily pick argmax of lambda*rel(d) - (1-lambda)*max_{s in S}
# sim(d, s), so near-duplicate hits can't crowd the context window.
# The corpus-proportional stage is ONE embedding scan scoring cosine
# relevance against a single broadcast query vector (a0024's dense
# side); the greedy runs over the TakeOrdered top-L candidate pool — an
# L-bounded frame (L=30) whose pairwise-similarity matrix and selection
# loop are resolution constants, executed driver-side over the bounded
# collect (the a0089 bounded-collect discipline) with fold-order dot
# products and half-up rounding that replay DuckDB's list_reduce +
# ROUND bit-for-bit.
# Scale rule (100 TB): L and k are resolution constants; the corpus
# stage is embarrassingly parallel and the pool collect is L rows
# regardless of corpus size. Batched query workloads reuse q118's
# batch-ANN join for the relevance stage.
# ---------------------------------------------------------------------------

_MMR_QVEC = 7
_MMR_L = 30
_MMR_K = 8
_MMR_LAM = 0.7

_MMR_DIMS = 64
_MMR_DOT = (
    f"list_reduce(list_transform(range(1, {_MMR_DIMS + 1}), i -> a.v[i] * b.v[i]),"
    " (x, y) -> x + y)"
)
_MMR_NA = (
    f"sqrt(list_reduce(list_transform(range(1, {_MMR_DIMS + 1}), i -> a.v[i] * a.v[i]),"
    " (x, y) -> x + y))"
)
_MMR_NB = (
    f"sqrt(list_reduce(list_transform(range(1, {_MMR_DIMS + 1}), i -> b.v[i] * b.v[i]),"
    " (x, y) -> x + y))"
)
_MMR_QDOT = (
    f"list_reduce(list_transform(range(1, {_MMR_DIMS + 1}), i -> e.v[i] * qv.q[i]),"
    " (x, y) -> x + y)"
)
_MMR_QNV = (
    f"sqrt(list_reduce(list_transform(range(1, {_MMR_DIMS + 1}), i -> e.v[i] * e.v[i]),"
    " (x, y) -> x + y))"
)
_MMR_QNQ = (
    f"sqrt(list_reduce(list_transform(range(1, {_MMR_DIMS + 1}), i -> qv.q[i] * qv.q[i]),"
    " (x, y) -> x + y))"
)


def _mmr_rounds_sql() -> str:
    lam, mu = _MMR_LAM, round(1 - _MMR_LAM, 6)
    parts = []
    for r in range(2, _MMR_K + 1):
        prev = f"sel{r - 1}"
        parts.append(
            f"""
    c{r} AS MATERIALIZED (SELECT c.doc_id, ROUND({lam} * c.rel - {mu} * MAX(p.sim), 9) AS sc
             FROM cand c JOIN pair p ON p.da = c.doc_id
                         JOIN {prev} s ON s.doc_id = p.db
             WHERE c.doc_id NOT IN (SELECT doc_id FROM {prev})
             GROUP BY c.doc_id, c.rel),
    pick{r} AS MATERIALIZED (SELECT doc_id, {r} AS rank, sc AS mmr FROM c{r}
                ORDER BY sc DESC, doc_id LIMIT 1),
    sel{r} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{r})"""
        )
    return ",".join(parts)


@query(
    "a0039_mmr_rerank",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    qv AS (SELECT v AS q FROM e WHERE vec_id = {_MMR_QVEC}),
    rel AS MATERIALIZED (SELECT e.vec_id AS doc_id,
                   ROUND({_MMR_QDOT} / ({_MMR_QNV} * {_MMR_QNQ}), 9) AS rel
            FROM e CROSS JOIN qv WHERE e.vec_id <> {_MMR_QVEC}),
    cand AS MATERIALIZED (SELECT doc_id, rel FROM
             (SELECT doc_id, rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rn
              FROM rel) x WHERE rn <= {_MMR_L}),
    cv AS MATERIALIZED (SELECT c.doc_id, c.rel, e.v FROM cand c JOIN e ON e.vec_id = c.doc_id),
    pair AS MATERIALIZED (SELECT a.doc_id AS da, b.doc_id AS db,
                    ROUND({_MMR_DOT} / ({_MMR_NA} * {_MMR_NB}), 9) AS sim
             FROM cv a JOIN cv b ON a.doc_id <> b.doc_id),
    sel1 AS MATERIALIZED (SELECT doc_id, 1 AS rank, rel AS mmr FROM cand
             ORDER BY rel DESC, doc_id LIMIT 1),
    {_mmr_rounds_sql()}
    SELECT CAST(s.rank AS BIGINT) AS rank, s.doc_id,
           ROUND(c.rel, 6) AS relevance, ROUND(s.mmr, 6) AS mmr_score
    FROM sel{_MMR_K} s JOIN cand c ON c.doc_id = s.doc_id
    ORDER BY s.rank
    """,
    description=f"maximal marginal relevance re-ranking (Carbonell-Goldstein SIGIR 1998, lambda={_MMR_LAM}): greedy diversified top-{_MMR_K} from the TakeOrdered top-{_MMR_L} cosine candidate pool of a fixed query embedding — each round picks argmax of lambda*rel - (1-lambda)*max-sim-to-selected, so near-duplicates can't crowd a RAG context window; the corpus-proportional stage is ONE embedding scan against a broadcast query vector, the pool's pairwise-sim matrix and {_MMR_K}-round greedy are L-bounded resolution constants run over a bounded collect with fold-order dots + half-up rounding replaying DuckDB's list_reduce/ROUND bit-for-bit; 9-dp scores with doc_id ties make the selection order engine-identical",
)
def a0039_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", SIM.as_double("embedding").alias("v")
    )
    qv = emb.filter(F.col("vec_id") == _MMR_QVEC).select(F.col("v").alias("q"))
    rel = (
        emb.filter(F.col("vec_id") != _MMR_QVEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(SIM.cosine(F.col("v"), F.col("q")), 9).alias("rel"),
            "v",
        )
    )
    # TakeOrderedAndProject top-L (no window), vectors ride along: the
    # ONLY driver materialization is this L-row bounded pool
    pool = rel.orderBy(F.desc("rel"), "doc_id").limit(_MMR_L).collect()
    cand = [(int(r["doc_id"]), float(r["rel"]), [float(x) for x in r["v"]]) for r in pool]

    def _dot(a: list[float], b: list[float]) -> float:
        # sequential left-to-right fold — DuckDB list_reduce order
        s = 0.0
        for x, y in zip(a, b):
            s = s + x * y
        return s

    sims: dict[tuple[int, int], float] = {}
    for i, (di, _, vi) in enumerate(cand):
        for j, (dj, _, vj) in enumerate(cand):
            if i != j:
                sims[(di, dj)] = _round_half_up(
                    _dot(vi, vj) / (math.sqrt(_dot(vi, vi)) * math.sqrt(_dot(vj, vj))), 9
                )

    lam, mu = _MMR_LAM, round(1 - _MMR_LAM, 6)
    remaining = {d: r for d, r, _ in cand}
    first = min(cand, key=lambda t: (-t[1], t[0]))
    selected = [(first[0], 1, first[1])]
    del remaining[first[0]]
    for rank in range(2, _MMR_K + 1):
        best = None
        for d, r in remaining.items():
            maxsim = max(sims[(d, s)] for s, _, _ in selected)
            sc = _round_half_up(lam * r - mu * maxsim, 9)
            if best is None or sc > best[1] or (sc == best[1] and d < best[0]):
                best = (d, sc)
        selected.append((best[0], rank, best[1]))
        del remaining[best[0]]

    rels = {d: r for d, r, _ in cand}
    rows = [
        (rank, d, _round_half_up(rels[d], 6), _round_half_up(mmr, 6))
        for d, rank, mmr in selected
    ]
    return spark.createDataFrame(
        rows, "rank long, doc_id long, relevance double, mmr_score double"
    ).orderBy("rank")
