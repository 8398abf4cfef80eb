"""Round-14 invariants beyond the oracle hash gate.

The declared-queries sweep hash-matches a0023 against DuckDB; these pin
the STRUCTURAL claims of the two-level codebook build — the properties
a future edit could break while a small-SF hash stays green.
"""

from __future__ import annotations

import glob
import math
import os
import tempfile

from pyspark.sql import functions as F

from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries
from advanced_data_mining_and_big_data_analysis_spark.plans.round14 import _CB2_T2
from advanced_data_mining_and_big_data_analysis_spark.sources import load_table

QUERIES = all_queries()


def test_a0023_two_level_codebook_partitions_corpus(spark, sf_dir):
    """The fine cells PARTITION the corpus (every vector lands in
    exactly one (l1, l2) cell); every L1 seed owns its own cell (a
    stride seed is at distance 0 from itself); every L2 seed id is an
    actual member of its L1 cell (the refine level samples members, it
    never invents centroids); distances are non-negative."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    rows = QUERIES["a0023_semdedup_twolevel_codebook"].fn(spark, sf_dir).collect()
    assert rows
    assert sum(r["n_members"] for r in rows) == n  # partition, no loss
    assert all(r["avg_d2"] >= 0.0 for r in rows)

    # the L1 seed set is the declared stride rule — and every seed must
    # own a cell (it is its own nearest seed at d2 = 0)
    k1 = math.ceil(math.sqrt(n / float(_CB2_T2)))
    step1 = -(-n // k1)
    expected_l1 = {
        r["vec_id"]
        for r in emb.select("vec_id").filter(F.col("vec_id") % step1 == 0).collect()
    }
    got_l1 = {r["l1_seed"] for r in rows}
    assert got_l1 == expected_l1

    # an L2 seed belongs to the L1 cell it refines: a seed assigns to
    # itself (d2 = 0), so each (l1, l2=seed) cell must contain it —
    # i.e. every distinct l2 appears under exactly one l1
    l2_to_l1: dict[int, int] = {}
    for r in rows:
        assert l2_to_l1.setdefault(r["l2_seed"], r["l1_seed"]) == r["l1_seed"]

    # driver-traffic claim: the ONLY collect is the L1 seed set,
    # O(sqrt(N/T2)) — at this SF that is a handful of rows
    assert len(expected_l1) <= k1 + 1


# ---------------------------------------------------------------- wave 2


def test_a0025_full_width_recall_is_one(spark, sf_dir):
    """The p=64 'truncation' IS the ground truth, so its recall must be
    exactly 1.0 — and narrower prefixes can only be audited, never
    exceed it."""
    rows = {r["prefix_dims"]: r for r in QUERIES["a0025_matryoshka_recall"].fn(spark, sf_dir).collect()}
    assert rows[64]["avg_recall10"] == 1.0
    assert all(0.0 <= r["avg_recall10"] <= 1.0 for r in rows.values())


def test_a0026_span_merge_invariants(spark, sf_dir):
    """Spans cover at least one shingle length each, and the duplicated
    fraction is a true fraction of the per-source character mass."""
    from advanced_data_mining_and_big_data_analysis_spark.plans.round14b import _SPAN_L

    rows = QUERIES["a0026_repeated_substring_spans"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_docs_flagged"] <= r["n_docs"]
        assert 0.0 <= r["dup_char_frac"] <= 1.0
        if r["n_spans"]:
            assert r["dup_chars"] >= r["n_spans"] * _SPAN_L


def test_a0028_multisource_bfs_matches_single_source(spark, sf_dir):
    """The (seed,node)-keyed multi-source BFS must agree with an
    independent per-seed BFS run over the collected edge list (numpy-
    free python replica) — distances, reach and the exact-rational
    harmonic sum."""
    from advanced_data_mining_and_big_data_analysis_spark.plans.round14b import (
        _CC_LCM,
        _CC_ROUNDS,
        _CC_SEEDS,
        a0028_closeness_centrality,
    )
    from advanced_data_mining_and_big_data_analysis_spark.plans.graph import (
        _HUB_CAP,
        _cooc_edges,
        _user_buckets,
    )

    got = {r["seed"]: r for r in a0028_closeness_centrality(spark, sf_dir).collect()}

    # rebuild the capped graph independently, in plain Python
    from advanced_data_mining_and_big_data_analysis_spark.sources import load_table as lt

    ev = lt(spark, sf_dir, "events").select(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("b")
    )
    grp = ev.groupBy("event_type", "b").agg(F.collect_set("user_id").alias("us")).collect()
    adj: dict[int, set[int]] = {}
    for row in grp:
        us = sorted(row["us"])
        if len(us) < 2 or len(us) > _HUB_CAP:
            continue
        for i, u in enumerate(us):
            for v in us[i + 1 :]:
                adj.setdefault(u, set()).add(v)
                adj.setdefault(v, set()).add(u)
    # the shared builder every graph query runs on yields the same edges
    shared = [(r["u"], r["v"]) for r in _cooc_edges(_user_buckets(spark, sf_dir)).collect()]
    assert sorted(shared) == sorted((u, v) for u, vs in adj.items() for v in vs if u < v)
    seeds = sorted(adj)[:_CC_SEEDS]
    for s in seeds:
        dist = {s: 0}
        frontier = [s]
        for d in range(1, _CC_ROUNDS + 1):
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = d
                        nxt.append(v)
            frontier = nxt
        reached = [d for d in dist.values() if d > 0]
        assert got[s]["n_reached"] == len(reached)
        assert got[s]["sum_dist"] == sum(reached)
        h60 = sum(_CC_LCM // d for d in reached)
        assert abs(got[s]["harmonic_closeness"] - round(h60 / _CC_LCM, 6)) < 1e-9


def test_a0029_textrank_mass_and_float_agreement(spark, sf_dir):
    """The fixed-point iteration must track a float-space reference
    PageRank on the same collected graph to ~1e-5 of score (floor
    error is < 1 scale unit per state per round), and scores stay
    inside the damping bounds (>= 0.15)."""
    from advanced_data_mining_and_big_data_analysis_spark.plans.round14b import (
        _TR_ITERS,
        _TR_MIN,
        _TR_SCALE,
        a0029_textrank_keywords,
    )
    from advanced_data_mining_and_big_data_analysis_spark.operators import text as X
    from advanced_data_mining_and_big_data_analysis_spark.sources import load_table as lt

    got = a0029_textrank_keywords(spark, sf_dir).collect()
    assert got and all(r["textrank"] >= 0.15 for r in got)

    base = lt(spark, sf_dir, "documents").select(X.tokens("text").alias("toks")).collect()
    from collections import Counter

    cnt: Counter = Counter()
    for r in base:
        cnt.update(r["toks"])
    vocab = {w for w, c in cnt.items() if c >= _TR_MIN}
    ec: Counter = Counter()
    for r in base:
        t = r["toks"]
        for a, b in zip(t, t[1:]):
            if a != b and a in vocab and b in vocab:
                ec[(min(a, b), max(a, b))] += 1
    adj: dict[str, dict[str, int]] = {}
    for (a, b), wgt in ec.items():
        adj.setdefault(a, {})[b] = wgt
        adj.setdefault(b, {})[a] = wgt
    wu = {u: sum(vs.values()) for u, vs in adj.items()}
    s = {u: 1.0 for u in adj}
    for _ in range(_TR_ITERS):
        s = {
            v: 0.15 + 0.85 * sum(s[u] * w / wu[u] for u, w in adj[v].items())
            for v in adj
        }
    for r in got:
        assert abs(r["textrank"] - s[r["token"]]) < 1e-4, r["token"]
    # sanity on the fixed-point resolution claim
    assert _TR_SCALE >= 10**6


def test_a0031_conformal_coverage_near_nominal(spark, sf_dir):
    """Split-conformal guarantees coverage >= 1 - alpha in expectation;
    on the synthetic data the empirical test coverage must sit in a
    loose band around 0.9 and q_hat must be a positive residual."""
    rows = QUERIES["a0031_conformal_intervals"].fn(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["q_hat"] > 0
        assert 0.8 <= r["coverage"] <= 1.0


def test_a0032_attribution_shares_sum_to_one(spark, sf_dir):
    """Removal effects are ratios of integer differences; shares
    normalize them, so they must sum to 1 within rounding and the
    journey rule must credit only the four non-purchase channels."""
    rows = QUERIES["a0032_markov_attribution"].fn(spark, sf_dir).collect()
    assert sorted(r["channel"] for r in rows) == ["click", "error", "signup", "view"]
    assert abs(sum(r["attribution_share"] for r in rows) - 1.0) < 1e-5
    for r in rows:
        assert 0.0 <= r["removal_effect"] <= 1.0


def test_a0035_audit_counts_consistent(spark, sf_dir):
    """Hits are a subset of truth per bin, and the high-similarity
    decile (the dedup operating regime) must show recall tracking the
    near-1 theoretical collision probability."""
    rows = QUERIES["a0035_lsh_recall_audit"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_hit"] <= r["n_truth"]
    hi = [r for r in rows if r["jaccard_lo"] >= 0.9]
    assert hi and all(r["recall"] >= 0.9 for r in hi)


# ---------------------------------------------------------------------------
# wave 4 (a0042-a0049) structural invariants + independent replicas
# ---------------------------------------------------------------------------


def test_a0042_ks_matches_numpy_ecdf(spark, sf_dir):
    """Independent numpy replica of the two-sample KS statistic (exact
    ECDF max-gap over the merged sample), not a re-run of the query."""
    import numpy as np
    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_extendedprice", "l_returnflag"])
    a = np.sort(li.loc[li.l_returnflag == "R", "l_extendedprice"].to_numpy())
    b = np.sort(li.loc[li.l_returnflag == "N", "l_extendedprice"].to_numpy())
    grid = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(a, grid, side="right") / len(a)
    fb = np.searchsorted(b, grid, side="right") / len(b)
    d_true = np.max(np.abs(fa - fb))
    row = QUERIES["a0042_ks_two_sample"].fn(spark, sf_dir).collect()[0]
    assert row["n1"] == len(a) and row["n2"] == len(b)
    assert abs(row["ks_d"] - d_true) < 1e-6
    assert 0.0 <= row["p_value"] <= 1.0


def test_a0043_spanning_forest_invariants(spark, sf_dir):
    """Each component's forest is a spanning tree: edges == nodes - 1,
    and the fixpoint pin must report zero crossing edges."""
    rows = QUERIES["a0043_boruvka_msf"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["residual_crossing"] == 0
        assert r["n_msf_edges"] == r["n_nodes"] - 1
        assert r["total_w"] >= r["n_msf_edges"]  # weights are counts >= 1


def test_a0043_removes_its_label_scratch_dir(spark, sf_dir):
    """The ping-pong label truncation writes under a temp dir of its own;
    the query must remove it and still collect from the returned frame."""
    pattern = os.path.join(tempfile.gettempdir(), "boruvka_labels_*")
    before = set(glob.glob(pattern))
    rows = QUERIES["a0043_boruvka_msf"].fn(spark, sf_dir).collect()
    assert rows
    assert set(glob.glob(pattern)) <= before


def test_a0044_isotonic_monotone_and_mean_preserving(spark, sf_dir):
    """The PAVA fit must be non-decreasing in the score bin and preserve
    the weighted mean (the L2 projection onto the isotone cone keeps
    block means)."""
    rows = sorted(
        QUERIES["a0044_isotonic_calibration"].fn(spark, sf_dir).collect(),
        key=lambda r: r["bin"],
    )
    fits = [r["iso_rate"] for r in rows]
    assert all(b >= a - 1e-9 for a, b in zip(fits, fits[1:]))
    wm_raw = sum(r["n"] * r["raw_rate"] for r in rows)
    wm_iso = sum(r["n"] * r["iso_rate"] for r in rows)
    assert abs(wm_raw - wm_iso) < max(1e-6 * wm_raw, 1e-2)


def test_a0045_pairs_verified_by_python_dp(spark, sf_dir):
    """Every returned pair re-verified by an independent O(len*tau)
    banded Levenshtein in pure Python."""
    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    pref = {
        int(r.doc_id): r.text[:32] for r in docs.itertuples() if len(r.text) >= 32
    }

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i] + [0] * len(t)
            for j, ct in enumerate(t, 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cs != ct))
            prev = cur
        return prev[-1]

    rows = QUERIES["a0045_edit_distance_join"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["d1"] < r["d2"]
        assert lev(pref[r["d1"]], pref[r["d2"]]) == r["dist"] <= 2


def test_a0046_ewma_bounded_by_window(spark, sf_dir):
    """The renormalized EWMA is a convex combination of the trailing
    window, so it must lie within the window's min/max; the reported
    deviation must be consistent with revenue/ewma - 1."""
    rows = QUERIES["a0046_ewma_anomalies"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["ewma"] > 0
        assert abs((r["revenue"] / r["ewma"] - 1.0) - r["deviation"]) < 1e-2


def test_a0047_metric_ranges(spark, sf_dir):
    rows = QUERIES["a0047_ndcg_eval"].fn(spark, sf_dir).collect()
    assert [r["query_id"] for r in rows] == [1, 2, 3]
    for r in rows:
        assert 0.0 <= r["ndcg10"] <= 1.0
        assert 0.0 <= r["ap10"] <= 1.0
        assert 0.0 <= r["mrr"] <= 1.0
        assert r["n_rel"] >= 0


def test_a0048_matches_sequential_numpy(spark, sf_dir):
    """The affine-map doubling scan must equal the plain sequential
    Holt recursion (independent numpy replica) to 1e-9 relative."""
    import numpy as np
    import pandas as pd

    od = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderdate", "o_totalprice"])
    daily = (
        od.assign(day=od.o_orderdate.dt.floor("D"))
        .groupby("day")["o_totalprice"]
        .sum()
        .sort_index()
    )
    x = (daily * 100).round(0).to_numpy() / 100.0
    a, b = 0.25, 0.125
    l, t = x[0], x[1] - x[0]
    levels = {}
    for i in range(1, len(x)):
        nl = a * x[i] + (1 - a) * (l + t)
        t = b * (nl - l) + (1 - b) * t
        l = nl
        levels[daily.index[i].date()] = (l, t)
    rows = QUERIES["a0048_holt_linear_scan"].fn(spark, sf_dir).collect()
    assert len(rows) == 30
    for r in rows:
        lv, tr = levels[r["day"]]
        assert abs(r["level"] - lv) < max(1e-9 * abs(lv), 1e-2)
        assert abs(r["trend"] - tr) < max(1e-6 * abs(tr), 1e-3)


def test_a0049_w1_matches_numpy_one_pair(spark, sf_dir):
    """Independent numpy 1-D Wasserstein (quantile-integral identity)
    for the first month pair."""
    import numpy as np
    import pandas as pd

    rows = sorted(
        QUERIES["a0049_wasserstein_drift"].fn(spark, sf_dir).collect(),
        key=lambda r: r["month_from"],
    )
    assert rows
    od = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderdate", "o_totalprice"])
    m = od.o_orderdate.dt.to_period("M")
    first = rows[0]
    p1 = pd.Period(first["month_from"], freq="M")
    p2 = pd.Period(first["month_to"], freq="M")
    u = np.sort(np.round(od.loc[m == p1, "o_totalprice"].to_numpy() * 100) / 100.0)
    v = np.sort(np.round(od.loc[m == p2, "o_totalprice"].to_numpy() * 100) / 100.0)
    assert first["n_from"] == len(u) and first["n_to"] == len(v)
    # W1 = integral |F1 - F2| dx over the merged support
    grid = np.unique(np.concatenate([u, v]))
    fu = np.searchsorted(u, grid, side="right") / len(u)
    fv = np.searchsorted(v, grid, side="right") / len(v)
    w1 = float(np.sum(np.abs(fu[:-1] - fv[:-1]) * np.diff(grid)))
    assert abs(first["w1_dollars"] - w1) < max(1e-6 * w1, 1e-3)
    for r in rows:
        assert r["w1_dollars"] >= 0
