"""Round-12 invariants beyond the oracle hash gate.

The declared-queries sweep already hash-matches a0001/a0002 (and the
reshaped a0054/a0070/a0083/a0103) against DuckDB; these tests pin the
STRUCTURAL claims the rewrites rest on — the properties that would
break silently under a future edit even while a small-SF hash stays
green.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries
from advanced_data_mining_and_big_data_analysis_spark.sources import load_table

QUERIES = all_queries()


def test_a0001_removed_always_to_smaller_keeper(spark, sf_dir):
    """Connected-component keepers are the component MIN, so every
    removed_id must exceed its kept_id and every planted copy
    (vec_id+100000) that is removed must keep a base id."""
    rows = QUERIES["a0001_semdedup_autok"].fn(spark, sf_dir).collect()
    assert rows, "planted near-dups must produce removals"
    for r in rows:
        assert r["removed_id"] > r["kept_id"]
    planted = [r for r in rows if r["removed_id"] >= 100000]
    assert planted, "at least one planted copy must be deduped"
    assert all(r["kept_id"] < 100000 for r in planted)


def _assert_salted_cap(rows, cell: str, cap: int) -> None:
    """(a) no (cell, salt) group of ``rows`` (vec_id, <cell>, salt) holds
    more than ``cap`` rows, and a salt above 0 appears exactly when some
    cell outgrows the cap; (b) the salts replay in pure Python: rank by
    (md5(cell||vec_id), vec_id) within each cell, salt = (rank-1) // cap
    — so a broken window spec (wrong partitionBy, wrong order keys,
    off-by-one in the floor) fails even while an oracle hash is green."""
    import hashlib
    from collections import Counter, defaultdict

    sizes = Counter((r[cell], r["salt"]) for r in rows)
    assert max(sizes.values()) <= cap
    per_cell = Counter(r[cell] for r in rows)
    assert any(s > cap for s in per_cell.values()) == any(r["salt"] > 0 for r in rows)

    by_cell = defaultdict(list)
    for r in rows:
        key = hashlib.md5(f"{r[cell]}{r['vec_id']}".encode()).hexdigest()
        by_cell[r[cell]].append((key, r["vec_id"], r["salt"]))
    for members in by_cell.values():
        members.sort(key=lambda t: (t[0], t[1]))
        for rank0, (_, vid, got_salt) in enumerate(members):
            assert got_salt == rank0 // cap, (vid, got_salt, rank0)


def test_a0001_cells_respect_salted_cap(spark, sf_dir):
    """No (cluster, salt) cell may exceed the cap — the property that
    kept sf10's 100x-replicated corpus from OOMing the matmul workers.
    Collects the REAL salted frame (planted +100000 copies included)
    and checks it with ``_assert_salted_cap``; at least one cluster
    must actually be sharded at bench SFs (otherwise the cap is untested
    dead code at this SF)."""
    from advanced_data_mining_and_big_data_analysis_spark.plans import similarity as R

    rows = (
        R._ak_salted_assign(spark, sf_dir)
        .select("vec_id", "cluster", "salt")
        .collect()
    )
    n_base = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) > n_base, "planted +100000 copies must be in the frame"
    _assert_salted_cap(rows, "cluster", R._AK_CAP)


def test_salt_buckets_caps_embedding_cells(spark):
    """``salt_buckets`` keyed by one cell column: a 23-member cell, a
    cell of exactly the cap, a singleton and a negative cell id, capped
    at 5 — the salted rule a0001, a0003 and the streaming ingest share."""
    from advanced_data_mining_and_big_data_analysis_spark.operators import dedup as D

    data = (
        [(i, 7) for i in range(23)]
        + [(100 + i, 8) for i in range(5)]
        + [(200, 9), (300, -4), (301, -4)]
    )
    df = spark.createDataFrame(data, "vec_id long, cell long")
    out = D.salt_buckets(df, "vec_id", 5, keys=("cell",))
    assert out.columns == ["vec_id", "cell", "salt"]
    rows = out.collect()
    assert len(rows) == len(data)
    _assert_salted_cap(rows, "cell", 5)
    assert max(r["salt"] for r in rows if r["cell"] == 7) == 4


def test_a0002_level_monotonicity(spark, sf_dir):
    """Raising the density threshold can only shrink the dense set:
    n_dense_cells and largest_cluster_pts are non-increasing in tau,
    noise_pts is non-decreasing, and n_clusters is 0 only when no cell
    is dense."""
    rows = QUERIES["a0002_density_level_hierarchy"].fn(spark, sf_dir).collect()
    assert [r["tau"] for r in rows] == [4, 16, 64, 256]
    for a, b in zip(rows, rows[1:]):
        assert b["n_dense_cells"] <= a["n_dense_cells"]
        assert b["largest_cluster_pts"] <= a["largest_cluster_pts"]
        assert b["noise_pts"] >= a["noise_pts"]
    for r in rows:
        assert (r["n_clusters"] == 0) == (r["n_dense_cells"] == 0)
        assert r["n_clusters"] <= r["n_dense_cells"]


def test_a0070_partition_covers_corpus(spark, sf_dir):
    """Lloyd assignment is a partition: cluster sizes must sum to the
    embeddings count and inertia must be non-negative."""
    rows = QUERIES["a0070_kmeans_lloyd"].fn(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == n
    assert all(r["inertia"] >= 0 for r in rows)
