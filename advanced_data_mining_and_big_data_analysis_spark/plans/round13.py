"""Round-13 wave (a0003–a0049 name range): incremental SemDeDup, a
grid-blocked kNN classifier, corpus-statistics laws (Zipf, Heaps),
stylometric Burrows' Delta, k-core peeling, and PMI collocations.

Named below a0050 so they sort into the driver's 50-slot correctness
window ``sorted(queries())[:50]`` (COVERAGE.md window mechanics) — every
NEW query gets driver-dated in its own round.

Reference parity: no counterpart in the reference notebook
(kaggle/kaggle.py) — these extend the LLM-data-pipeline and mining axes
the brief makes first-class (corpus growth dedup, text-corpus laws,
authorship statistics, graph cores, collocation mining).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..operators.fixpoint import fixpoint
from ..operators.grid import cap_per_cell, neighbor_cells
from ..sources import load_table
from .graph import _HUB_CAP, _cooc_edges, _degrees, _user_buckets
from .registry import query
from .round12 import _dlh_feats, _dlh_feats_sql
from .similarity import _DIMS, _SD_PLANT, _SD_THR

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

    from ..operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        SIM.as_double("embedding").alias("v"),
        F.when(F.col("vec_id") % 5 == 3, 1).otherwise(0).alias("is_new"),
    )
    # codebook from the OLD corpus only — the cells predate the growth
    # batch (bounded driver collect; at 100 TB use a0023's two-level
    # build — plans/round14.py — whose driver traffic is O(sqrt N))
    old = base.filter(F.col("is_new") == 0)
    n_old = old.count()
    k = -(-n_old // _INC_TARGET)
    step = -(-n_old // k)
    seed_rows = old.filter(F.col("vec_id") % step == 0).orderBy("vec_id").collect()
    sids = np.array([r["vec_id"] for r in seed_rows], dtype=np.int64)
    cmat = np.array([r["v"] for r in seed_rows], dtype=np.float64)

    planted = base.filter(F.col("vec_id") < _SD_PLANT).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("v", lambda e: e * F.lit(1.01)).alias("v"),
        F.lit(1).alias("is_new"),
    )
    x = base.unionAll(planted)

    c2 = (cmat * cmat).sum(axis=1)[None, :]

    def assign_batches(it):
        # nearest old-corpus seed, BLAS expansion form (a0001's kernel):
        # round-9 absorbs reassociation; ties break to the lowest seed id
        for pdf in it:
            if len(pdf) == 0:
                continue
            xm = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            x2 = (xm * xm).sum(axis=1, keepdims=True)
            acc = x2 - 2.0 * (xm @ cmat.T) + c2
            cl = sids[np.argmin(np.round(acc, 9), axis=1)]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cluster": cl, "v": pdf["v"], "is_new": pdf["is_new"]}
            )

    assign = x.mapInPandas(
        assign_batches, "vec_id long, cluster long, v array<double>, is_new int"
    )
    wc = Window.partitionBy("cluster").orderBy(
        F.md5(F.concat(F.col("cluster").cast("string"), F.col("vec_id").cast("string"))),
        "vec_id",
    )
    salted = assign.withColumn(
        "salt", F.floor((F.row_number().over(wc) - 1) / _INC_CAP).cast("long")
    )

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
        norms = np.linalg.norm(xm, axis=1)
        norms[norms == 0.0] = 1.0
        ids = pdf["vec_id"].to_numpy()
        isnew = pdf["is_new"].to_numpy()
        new_idx = np.nonzero(newsel)[0]
        # dot first, divide after — the exact float order of the a0001
        # kernel and the oracle's sum/(sqrt*sqrt), so round-9 agrees
        cos = np.round(
            (xm[new_idx] @ xm.T) / np.outer(norms[new_idx], norms), 9
        )
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
# a0005 — Zipf's-law fit over the corpus frequency spectrum: tokens are
# counted once, ranked by (count DESC, token), and the top-R points
# (ln rank, ln count) get an OLS line — slope ~ -s is the Zipf
# exponent, r^2 the fit quality. The spectrum is the first thing a
# training-data curator reads off a new corpus (natural text ~ -1;
# boilerplate/template corpora skew shallow with high r^2 at the head).
# One tokenize + one (token)-keyed aggregate is the only data-sized
# work; the ranked spectrum and the OLS moments are vocabulary-bounded.
# Scale rule (100 TB): R is a fit-window constant (the law is read off
# the head of the spectrum); the vocabulary frame the window ranks is
# corpus-vocabulary-bounded, not N-bounded.
# ---------------------------------------------------------------------------

_ZIPF_R = 1000

_TOKS_SQL = (
    "list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +'), x -> x <> '')"
)


@query(
    "a0005_zipf_fit",
    oracle=f"""
    WITH toks AS (SELECT {_TOKS_SQL} AS tk FROM documents),
    w AS (SELECT unnest(tk) AS w FROM toks),
    cnt AS (SELECT w, COUNT(*) * 1.0 AS c FROM w GROUP BY w),
    rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r FROM cnt),
    pts AS (SELECT ln(r * 1.0) AS x, ln(c) AS y FROM rk WHERE r <= {_ZIPF_R}),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM w),
    voc AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size FROM cnt),
    m AS (SELECT COUNT(*) * 1.0 AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
          FROM pts)
    SELECT tot.n_tokens, voc.vocab_size, CAST(m.n AS BIGINT) AS n_fit,
           ROUND((m.n * sxy - sx * sy) / (m.n * sxx - sx * sx), 6) + 0.0 AS zipf_slope,
           ROUND((sy - (m.n * sxy - sx * sy) / (m.n * sxx - sx * sx) * sx) / m.n, 6)
             + 0.0 AS zipf_intercept,
           ROUND(POWER(m.n * sxy - sx * sy, 2)
                 / ((m.n * sxx - sx * sx) * (m.n * syy - sy * sy)), 6) + 0.0 AS r2
    FROM m, tot, voc
    """,
    description=f"Zipf's-law fit over the corpus frequency spectrum: one tokenize + one (token)-keyed count, rank by (count DESC, token), OLS of (ln rank, ln count) over the top-{_ZIPF_R} head — slope = Zipf exponent, with r^2 and corpus totals; everything after the count is vocabulary-bounded",
)
def a0005_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X

    w = load_table(spark, sf_dir, "documents").select(
        F.explode(X.tokens("text")).alias("w")
    )
    cnt = w.groupBy("w").agg((F.count("*") * 1.0).alias("c")).localCheckpoint(
        eager=False
    )  # vocab-bounded; feeds corpus totals + ranked fit
    # corpus totals folded INTO the plan (r14): a broadcast crossJoin of
    # the 1-row (sum, count) aggregate replaces two separate driver jobs
    # (an agg collect + a count) — the whole query is ONE action and the
    # checkpointed count frame feeds all three subtrees inside it
    tot = cnt.agg(
        F.sum("c").cast("long").alias("_nt"), F.count("*").cast("long").alias("_vs")
    )
    rk = cnt.select(
        "c", F.row_number().over(Window.orderBy(F.desc("c"), "w")).alias("r")
    )
    pts = (
        rk.filter(F.col("r") <= _ZIPF_R)
        .select(F.log(F.col("r") * 1.0).alias("x"), F.log("c").alias("y"))
        .coalesce(1)  # <= R rows; pins the OLS summation order so the sign
        # of a degenerate-fit cancellation residue is deterministic (a0006's
        # -0.0 flake, same shape)
    )
    m = pts.agg(
        (F.count("*") * 1.0).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.crossJoin(F.broadcast(tot)).select(
        F.col("_nt").alias("n_tokens"),
        F.col("_vs").alias("vocab_size"),
        F.col("n").cast("long").alias("n_fit"),
        # + 0.0 normalizes IEEE -0.0 (degenerate-fit residue) to +0.0
        (F.round(slope, 6) + F.lit(0.0)).alias("zipf_slope"),
        (
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6) + F.lit(0.0)
        ).alias("zipf_intercept"),
        (
            F.round(
                F.pow(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"), 2)
                / (
                    (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# a0006 — Heaps'-law vocabulary growth: V(T) ~ K * T^beta, read at ten
# corpus prefixes (docs in doc_id order). A token's contribution to the
# prefix vocabulary is its FIRST-occurrence document, so the whole
# curve comes from two aggregates — per-token MIN(doc_id) and per-doc
# token counts — bucketed into prefix deciles and cumulated over the
# 10-row decile frame; the (K, beta) fit is the same OLS-in-log-space
# as a0005 over 10 points. This is the curve that predicts tokenizer
# vocabulary budgets as a corpus scales.
# Scale rule (100 TB): the decile count is a resolution constant; both
# aggregates are one-pass and everything after is 10 rows.
# ---------------------------------------------------------------------------


@query(
    "a0006_heaps_law",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    nn AS (SELECT COUNT(*) * 1.0 AS nd FROM d),
    dl AS (SELECT CAST(FLOOR(doc_id * 10.0 / nn.nd) AS BIGINT) AS dec,
                  len(tk) AS dlen
           FROM d, nn),
    tokd AS (SELECT CAST(SUM(dlen) AS BIGINT) AS toks FROM dl GROUP BY dec
             ORDER BY dec),
    t_by AS (SELECT dec, CAST(SUM(dlen) AS BIGINT) AS toks
             FROM dl GROUP BY dec),
    fo AS (SELECT w, MIN(doc_id) AS fdoc
           FROM (SELECT doc_id, unnest(tk) AS w FROM d) GROUP BY w),
    v_by AS (SELECT CAST(FLOOR(fdoc * 10.0 / nn.nd) AS BIGINT) AS dec,
                    CAST(COUNT(*) AS BIGINT) AS vnew
             FROM fo, nn GROUP BY 1),
    decs AS (SELECT unnest(generate_series(0, 9)) AS dec),
    cum AS (
      SELECT decs.dec,
             SUM(COALESCE(t_by.toks, 0)) OVER (ORDER BY decs.dec) AS tokens_prefix,
             SUM(COALESCE(v_by.vnew, 0)) OVER (ORDER BY decs.dec) AS vocab_prefix
      FROM decs LEFT JOIN t_by ON t_by.dec = decs.dec
                LEFT JOIN v_by ON v_by.dec = decs.dec),
    m AS (SELECT COUNT(*) * 1.0 AS n,
                 SUM(ln(tokens_prefix * 1.0)) AS sx, SUM(ln(vocab_prefix * 1.0)) AS sy,
                 SUM(ln(tokens_prefix * 1.0) * ln(tokens_prefix * 1.0)) AS sxx,
                 SUM(ln(tokens_prefix * 1.0) * ln(vocab_prefix * 1.0)) AS sxy
          FROM cum)
    SELECT cum.dec AS decile,
           CAST(cum.tokens_prefix AS BIGINT) AS tokens_prefix,
           CAST(cum.vocab_prefix AS BIGINT) AS vocab_prefix,
           ROUND((m.n * sxy - sx * sy) / (m.n * sxx - sx * sx), 6) + 0.0 AS heaps_beta,
           ROUND(exp((sy - (m.n * sxy - sx * sy) / (m.n * sxx - sx * sx) * sx) / m.n), 6)
             + 0.0 AS heaps_k
    FROM cum, m ORDER BY decile
    """,
    description="Heaps'-law vocabulary growth V(T) ~ K*T^beta at ten doc-order corpus prefixes: per-token MIN(doc_id) (first occurrence) + per-doc token counts, bucketed to prefix deciles and cumulated over the 10-row frame; (K, beta) by OLS in log space over the 10 points — the tokenizer-vocabulary budget curve",
)
def a0006_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.tokens("text").alias("tk")
    )
    # doc census folded INTO the plan (r14): the decile denominator rides
    # as a broadcast 1-row COUNT(*) aggregate (the oracle's nn CTE) in
    # both bucketing branches instead of a separate d.count() driver job
    # — the count branch prunes the tokenize column, so it stays a
    # metadata-cheap scan; the whole query is ONE action.
    nn = d.agg((F.count("*") * 1.0).alias("_nd"))
    dl = d.crossJoin(F.broadcast(nn)).select(
        F.floor(F.col("doc_id") * 10.0 / F.col("_nd")).cast("long").alias("dec"),
        F.size("tk").alias("dlen"),
    )
    t_by = dl.groupBy("dec").agg(F.sum("dlen").cast("long").alias("toks"))
    fo = (
        d.select("doc_id", F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("fdoc"))
    )
    v_by = fo.crossJoin(F.broadcast(nn)).groupBy(
        F.floor(F.col("fdoc") * 10.0 / F.col("_nd")).cast("long").alias("dec")
    ).agg(F.count("*").cast("long").alias("vnew"))
    decs = spark.range(10).select(F.col("id").cast("long").alias("dec"))
    wcum = Window.orderBy("dec")
    cum = (
        decs.join(t_by, "dec", "left")
        .join(v_by, "dec", "left")
        .select(
            "dec",
            F.sum(F.coalesce(F.col("toks"), F.lit(0))).over(wcum).alias("tokens_prefix"),
            F.sum(F.coalesce(F.col("vnew"), F.lit(0))).over(wcum).alias("vocab_prefix"),
        )
        .coalesce(1)  # pin the 10-row fit input to ONE partition: the OLS
        # sums below are ~1e-14 cancellation residues at degenerate scales
        # (sf0.001: vocab_prefix constant), and their SIGN depends on float
        # summation order — one partition makes the order deterministic.
        .localCheckpoint(eager=False)  # 10 rows; fit + output reuse it
    )
    lx = F.log(F.col("tokens_prefix") * 1.0)
    ly = F.log(F.col("vocab_prefix") * 1.0)
    m = cum.agg(
        (F.count("*") * 1.0).alias("n"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * lx).alias("sxx"),
        F.sum(lx * ly).alias("sxy"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        cum.crossJoin(F.broadcast(m))
        .select(
            F.col("dec").alias("decile"),
            F.col("tokens_prefix").cast("long").alias("tokens_prefix"),
            F.col("vocab_prefix").cast("long").alias("vocab_prefix"),
            # + 0.0 after the round: IEEE -0.0 + 0.0 = +0.0, so a degenerate
            # fit (beta mathematically 0, float residue ~ -1e-14) can never
            # hash as "-0.0" against the oracle's "+0.0".
            (F.round(beta, 6) + F.lit(0.0)).alias("heaps_beta"),
            (
                F.round(F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n")), 6)
                + F.lit(0.0)
            ).alias("heaps_k"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# a0004 — grid-blocked kNN classification (the lazy-learning classic,
# distributed the only way that scales: spatial blocking): customers
# embed at the a0002 feature plane (x, y) = (ln(1+spend),
# ln(1+orders)), labels are their market segment, test split is
# custkey % 4 == 0. Train points EXPLODE into their 3x3 neighbor cells
# (9 bounded copies), test points equi-join their own cell, so every
# candidate pair shares a grid cell — no cross join, no global kd-tree.
# k nearest by (d2 rounded 9, custkey) — both engines replay the exact
# rank — majority vote with label tie-break, '(none)' when a test
# point's neighborhood is empty. Output is the segment confusion
# matrix (bounded at |segments|^2 rows).
# Scale rule (100 TB): h trades candidate volume vs recall radius, and
# the production guard for a viral cell is the same salted cap the
# LSH/SemDeDup family uses; the 9x train explode is the constant that
# buys equi-join blocking.
# ---------------------------------------------------------------------------

_KNN_K = 5
_KNN_H4 = 4.0  # cells per feature unit (h = 0.25)
_KNN_CAP = 32  # per-cell train cap (md5-ranked deterministic subsample)


@query(
    "a0004_knn_classify",
    oracle=f"""
    WITH f AS ({_dlh_feats_sql()}),
    pts AS (
      SELECT f.id, f.x, f.y,
             CAST(FLOOR(f.x * {_KNN_H4}) AS BIGINT) AS cx,
             CAST(FLOOR(f.y * {_KNN_H4}) AS BIGINT) AS cy,
             c.c_mktsegment AS seg,
             CASE WHEN f.id % 4 = 0 THEN 1 ELSE 0 END AS is_test
      FROM f JOIN customer c ON c.c_custkey = f.id),
    te AS (SELECT * FROM pts WHERE is_test = 1),
    tr AS (
      -- salted per-cell train cap (the LSH/SemDeDup guard): the feature
      -- plane is DENSE (2187 points in one cell at sf0.1), so uncapped
      -- 3x3 blocking degenerates toward cartesian; an md5-ranked
      -- deterministic subsample bounds candidates at 9*cap per test
      -- point (cap=32 measured: 2.7 -> 2.1 s at sf0.1 with the same
      -- confusion structure) and both engines replay the identical rank
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cx, cy
          ORDER BY md5(CAST(cx AS VARCHAR) || '_' || CAST(cy AS VARCHAR)
                       || '_' || CAST(id AS VARCHAR)), id) AS crk
        FROM pts WHERE is_test = 0)
      WHERE crk <= {_KNN_CAP}),
    cand AS (
      SELECT te.id AS tid, te.seg AS tseg, tr.id AS rid, tr.seg AS rseg,
             ROUND((te.x - tr.x) * (te.x - tr.x) + (te.y - tr.y) * (te.y - tr.y), 9) AS d2
      FROM te JOIN tr
        ON tr.cx BETWEEN te.cx - 1 AND te.cx + 1
       AND tr.cy BETWEEN te.cy - 1 AND te.cy + 1),
    knn AS (
      SELECT tid, tseg, rseg
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY tid ORDER BY d2, rid) AS rk
            FROM cand)
      WHERE rk <= {_KNN_K}),
    vote AS (SELECT tid, tseg, rseg, COUNT(*) AS c FROM knn GROUP BY 1, 2, 3),
    pred AS (
      SELECT tid, tseg, rseg AS pseg
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY tid ORDER BY c DESC, rseg) AS rk
            FROM vote)
      WHERE rk = 1)
    SELECT te.seg AS true_seg, COALESCE(pred.pseg, '(none)') AS pred_seg,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM te LEFT JOIN pred ON pred.tid = te.id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    description=f"grid-blocked kNN classification of customer market segment on the (ln spend, ln orders) plane: md5-ranked per-cell train cap ({_KNN_CAP} — the LSH/SemDeDup salted-cap guard, both engines replay it) then train points explode into their 3x3 neighbor cells so candidates equi-join on the shared cell (<= 9*cap per test point, no cross join); k={_KNN_K} nearest by (d2 rounded 9, custkey), majority vote with label tie-break, '(none)' for empty neighborhoods; output the |segments|^2-bounded confusion matrix",
)
def a0004_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    f = _dlh_feats(spark, sf_dir)
    pts = f.join(cust, f.id == cust.c_custkey).select(
        "id",
        "x",
        "y",
        F.floor(F.col("x") * _KNN_H4).cast("long").alias("cx"),
        F.floor(F.col("y") * _KNN_H4).cast("long").alias("cy"),
        F.col("c_mktsegment").alias("seg"),
        (F.col("id") % 4 == 0).alias("is_test"),
    ).localCheckpoint(eager=False)  # one feature build feeds both splits;
    # A/B'd r14: dropping it is SLOWER (2.49 vs 2.24 warm) — the tr9
    # side is a broadcast whose subtree executes as an independent job,
    # so ReusedExchange cannot dedup the feature shuffle across splits
    te = pts.filter(F.col("is_test")).select(
        F.col("id").alias("tid"), F.col("x").alias("tx"), F.col("y").alias("ty"),
        "cx", "cy", F.col("seg").alias("tseg"),
    )
    # salted per-cell train cap BEFORE the 9-cell explode (see oracle
    # note): candidates per test point are bounded at 9 * cap whatever
    # the cell density — without it the sf0.1 run measured 24.6 s of
    # near-cartesian candidate explosion (max cell 2187 points)
    tr9 = neighbor_cells(cap_per_cell(pts.filter(~F.col("is_test")), _KNN_CAP)).select(
        F.col("id").alias("rid"), F.col("x").alias("rx"), F.col("y").alias("ry"),
        "cx", "cy", F.col("seg").alias("rseg"),
    )
    d2 = F.round(
        (F.col("tx") - F.col("rx")) * (F.col("tx") - F.col("rx"))
        + (F.col("ty") - F.col("ry")) * (F.col("ty") - F.col("ry")),
        9,
    )
    # tr9 is GRID-EXTENT-bounded (<= cells * cap * 9 rows at any SF —
    # cells grow with the log-scaled feature range, not N), so the
    # broadcast is scale-correct, unlike broadcasting a data-grown frame.
    # LEFT join keeps empty-neighborhood test points in-frame ('(none)'
    # below) so no join-back against te is needed.
    cand = te.join(F.broadcast(tr9), ["cx", "cy"], "left").select(
        "tid",
        "tseg",
        F.when(
            F.col("rid").isNotNull(),
            F.struct(
                d2.alias("d2"), F.col("rid").alias("rid"), F.col("rseg").alias("rseg")
            ),
        ).alias("s"),
    )
    # ONE (tid)-keyed aggregate replaces the r13 shape's two per-tid
    # row_number windows + vote aggregate + join-back (VERDICT r13 item
    # 3): the k nearest are the first K of the sorted struct array
    # (struct order = (d2, rid) — the oracle's ORDER BY d2, rid), and
    # the majority vote with label tie-break is row-local array math
    # over those <= K elements (argmin of (-count, label)).
    knn = cand.groupBy("tid", "tseg").agg(
        F.slice(F.array_sort(F.collect_list("s")), 1, _KNN_K).alias("nn")
    )
    pseg = F.expr(
        "array_min(transform(array_distinct(transform(nn, s -> s.rseg)), "
        "l -> struct(-size(filter(nn, s -> s.rseg = l)) AS negc, l AS lbl))).lbl"
    )
    return (
        knn.groupBy(
            F.col("tseg").alias("true_seg"),
            F.coalesce(pseg, F.lit("(none)")).alias("pred_seg"),
        )
        .agg(F.count("*").cast("long").alias("n_customers"))
        .orderBy("true_seg", "pred_seg")
    )


# ---------------------------------------------------------------------------
# a0007 — Burrows' Delta stylometry between language sub-corpora (the
# authorship-attribution statistic, Burrows 2002): the F most frequent
# tokens corpus-wide are the "function words"; each language's relative
# frequency per 1000 tokens z-scores against the cross-language
# mean/std per word, and Delta(a, b) is the mean |z_a - z_b| over the F
# words — the distance a curator reads to see which sources share
# register/template. One tokenize + one (lang, token) aggregate is the
# only data-sized work; the function-word list is a bounded TakeOrdered
# collect and every later frame is |langs| x F.
# Scale rule (100 TB): F is a stylometric constant (classically
# 30-150); frames after the corpus aggregate are |langs| x F whatever
# the corpus.
# ---------------------------------------------------------------------------

_DELTA_F = 15


@query(
    "a0007_stylometry_delta",
    oracle=f"""
    WITH d AS (SELECT lang, {_TOKS_SQL} AS tk FROM documents),
    g AS (SELECT lang, w, COUNT(*) * 1.0 AS c
          FROM (SELECT lang, unnest(tk) AS w FROM d) GROUP BY 1, 2),
    tot AS (SELECT lang, SUM(c) AS t FROM g GROUP BY lang),
    topw AS (SELECT w FROM (SELECT w, SUM(c) AS cw FROM g GROUP BY w
                            ORDER BY cw DESC, w LIMIT {_DELTA_F})),
    dense AS (
      SELECT tot.lang, topw.w, COALESCE(g.c, 0.0) / tot.t * 1000.0 AS f
      FROM tot CROSS JOIN topw
      LEFT JOIN g ON g.lang = tot.lang AND g.w = topw.w),
    zz AS (
      SELECT lang, w,
             CASE WHEN SQRT(AVG(f * f) OVER (PARTITION BY w)
                            - AVG(f) OVER (PARTITION BY w) * AVG(f) OVER (PARTITION BY w)) > 0
                  THEN ROUND((f - AVG(f) OVER (PARTITION BY w))
                             / SQRT(AVG(f * f) OVER (PARTITION BY w)
                                    - AVG(f) OVER (PARTITION BY w) * AVG(f) OVER (PARTITION BY w)), 6)
                  ELSE 0.0 END AS z
      FROM dense)
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           ROUND(AVG(ABS(a.z - b.z)), 6) AS delta
    FROM zz a JOIN zz b ON a.w = b.w AND a.lang < b.lang
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    description=f"Burrows' Delta stylometric distance between language sub-corpora: top-{_DELTA_F} corpus-wide tokens as function words (bounded TakeOrdered), per-lang relative frequency per 1000 tokens densified over langs x words, z-scored against the cross-lang mean/population-std per word (rounded 6), Delta = mean |z_a - z_b| per language pair — one tokenize + one (lang, token) aggregate, everything after is |langs| x F",
)
def a0007_stylometry_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X

    g = (
        load_table(spark, sf_dir, "documents")
        .select("lang", F.explode(X.tokens("text")).alias("w"))
        .groupBy("lang", "w")
        .agg((F.count("*") * 1.0).alias("c"))
        .localCheckpoint(eager=False)  # feeds totals, top words, and freqs
    )
    tot = g.groupBy("lang").agg(F.sum("c").alias("t"))
    topw = (
        g.groupBy("w")
        .agg(F.sum("c").alias("cw"))
        .orderBy(F.desc("cw"), "w")
        .limit(_DELTA_F)
        .select("w")
    )
    dense = (
        tot.crossJoin(F.broadcast(topw))
        .join(g, ["lang", "w"], "left")
        .select(
            "lang", "w", (F.coalesce(F.col("c"), F.lit(0.0)) / F.col("t") * 1000.0).alias("f")
        )
    )
    ww = Window.partitionBy("w")
    sd = F.sqrt(
        F.avg(F.col("f") * F.col("f")).over(ww)
        - F.avg("f").over(ww) * F.avg("f").over(ww)
    )
    zz = dense.select(
        "lang",
        "w",
        F.when(sd > 0, F.round((F.col("f") - F.avg("f").over(ww)) / sd, 6))
        .otherwise(0.0)
        .alias("z"),
    )
    a = zz.select(F.col("lang").alias("lang_a"), "w", F.col("z").alias("za"))
    b = zz.select(F.col("lang").alias("lang_b"), "w", F.col("z").alias("zb"))
    return (
        a.join(b, "w")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.round(F.avg(F.abs(F.col("za") - F.col("zb"))), 6).alias("delta"))
        .orderBy("lang_a", "lang_b")
    )


# ---------------------------------------------------------------------------
# a0009 — PMI collocations (pointwise mutual information over adjacent
# bigrams, the collocation-mining statistic behind phrase detection in
# embedding pipelines): PMI(w1, w2) = ln(p(w1,w2) / (p(w1) p(w2))) with
# bigram probabilities over the bigram count and unigram probabilities
# over the token count, a minimum pair count against low-frequency
# noise, top-K by (rounded PMI, w1, w2). Bigram emission is row-local
# (a doc's adjacent pairs come from its own token array); the two
# aggregates are the only data-sized stages and the ranked frame is
# bigram-vocabulary-bounded. Both engines spell the PMI argument as ONE
# product expression so the only float divergence is the shared ln.
# Scale rule (100 TB): the min-count floor is the knob that bounds the
# ranked frame; emission and aggregation are one-pass whatever the
# corpus.
# ---------------------------------------------------------------------------

_PMI_MIN = 5
_PMI_TOP = 20


@query(
    "a0009_pmi_collocations",
    oracle=f"""
    WITH d AS (SELECT {_TOKS_SQL} AS tk FROM documents),
    bi AS (
      SELECT tk[i] AS w1, tk[i + 1] AS w2
      FROM d, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i)),
    c12 AS (SELECT w1, w2, COUNT(*) * 1.0 AS c FROM bi GROUP BY 1, 2),
    uni AS (SELECT w, COUNT(*) * 1.0 AS c FROM (SELECT unnest(tk) AS w FROM d) GROUP BY w),
    nn AS (SELECT SUM(c) AS n FROM uni),
    n2 AS (SELECT SUM(c) AS n2 FROM c12)
    SELECT w1, w2, CAST(c12.c AS BIGINT) AS pair_count,
           ROUND(ln(c12.c * nn.n * nn.n / (n2.n2 * u1.c * u2.c)), 6) AS pmi
    FROM c12, nn, n2
    JOIN uni u1 ON u1.w = c12.w1
    JOIN uni u2 ON u2.w = c12.w2
    WHERE c12.c >= {_PMI_MIN}
    ORDER BY pmi DESC, w1, w2 LIMIT {_PMI_TOP}
    """,
    description=f"PMI collocations over adjacent bigrams: row-local bigram emission from each doc's token array, one bigram-keyed and one token-keyed aggregate, PMI = ln(c12*N*N/(N2*c1*c2)) spelled as one product expression on both engines, pair count >= {_PMI_MIN}, top-{_PMI_TOP} by (rounded PMI, w1, w2) via TakeOrdered — the phrase-detection statistic for embedding pipelines",
)
def a0009_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X

    d = load_table(spark, sf_dir, "documents").select(
        X.tokens("text").alias("tk")
    ).localCheckpoint(eager=False)  # one tokenize feeds bigram + unigram passes
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("tk") - 1),
        lambda i: F.struct(
            F.element_at("tk", i).alias("w1"),
            F.element_at("tk", i + F.lit(1)).alias("w2"),
        ),
    )
    bi = (
        d.filter(F.size("tk") >= 2)
        .select(F.explode(bigrams).alias("p"))
        .select("p.w1", "p.w2")
    )
    c12 = bi.groupBy("w1", "w2").agg((F.count("*") * 1.0).alias("c"))
    uni = (
        d.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg((F.count("*") * 1.0).alias("cu"))
        .localCheckpoint(eager=False)  # vocab-bounded; joined twice
    )
    # corpus totals folded INTO the plan (r14): N (token count) and N2
    # (bigram count) ride as one broadcast crossJoin of the two 1-row
    # sums (the oracle's nn/n2 CTEs) instead of two separate driver
    # collect jobs — the whole query is ONE action; the PMI argument
    # keeps the identical operand order (c * n * n / (n2 * c1 * c2))
    nn = uni.agg(F.sum("cu").alias("_n")).crossJoin(c12.agg(F.sum("c").alias("_n2")))
    u1 = uni.select(F.col("w").alias("w1"), F.col("cu").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cu").alias("c2"))
    return (
        c12.filter(F.col("c") >= _PMI_MIN)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(nn))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("pair_count"),
            F.round(
                F.log(
                    F.col("c") * F.col("_n") * F.col("_n")
                    / (F.col("_n2") * F.col("c1") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(_PMI_TOP)
    )


# ---------------------------------------------------------------------------
# a0008 — k-core decomposition by iterative peeling (Seidman 1983; the
# degeneracy layering every graph-ML sampler uses) on the q128 user
# co-occurrence graph (same (event_type, hour) buckets, same <= 20-user
# hub cap). Peeling removes nodes with degree < k and repeats on the
# induced subgraph until a round peels nothing, within _KC_ROUNDS + 1
# rounds (``fixpoint`` raises rather than return a partial core). Each
# round is one degree aggregate + two node-keyed semi-joins on a frame
# that only SHRINKS; the oracle replays _KC_ROUNDS = 8 rounds as
# unrolled CTEs, and every round past the fixpoint is a no-op.
# Scale rule (100 TB): rounds grow with peel depth, not N — each round
# is edge-frame-sized and the frame is monotonically shrinking; the
# hub cap bounds the starting edge count per bucket at cap^2.
# ---------------------------------------------------------------------------

_KC_K = 3
_KC_ROUNDS = 8


def _kcore_rounds_sql() -> str:
    parts = []
    for r in range(1, _KC_ROUNDS + 1):
        prev = f"e{r - 1}"
        parts.append(
            f"""
    d{r} AS MATERIALIZED (SELECT node, COUNT(*) AS c
             FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}) t
             GROUP BY node),
    k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE c >= {_KC_K}),
    e{r} AS MATERIALIZED (SELECT e.u, e.v FROM {prev} e
             JOIN k{r} a ON e.u = a.node JOIN k{r} b ON e.v = b.node)"""
        )
    return ",".join(parts)


@query(
    "a0008_kcore_peeling",
    oracle=f"""
    WITH ev AS (SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS b
                FROM events),
    bs AS (SELECT event_type, b, COUNT(*) AS n FROM ev GROUP BY 1, 2),
    kept AS (SELECT event_type, b FROM bs WHERE n <= {_HUB_CAP}),
    ek AS (SELECT ev.user_id, ev.event_type, ev.b FROM ev JOIN kept USING (event_type, b)),
    e0 AS MATERIALIZED (SELECT DISTINCT a.user_id AS u, k.user_id AS v
           FROM ek a JOIN ek k ON a.event_type = k.event_type AND a.b = k.b
                             AND a.user_id < k.user_id),
    {_kcore_rounds_sql()},
    fin AS (SELECT node, COUNT(*) AS c
            FROM (SELECT u AS node FROM e{_KC_ROUNDS}
                  UNION ALL SELECT v FROM e{_KC_ROUNDS}) t
            GROUP BY node)
    SELECT CAST({_KC_K} AS BIGINT) AS k,
           CAST((SELECT COUNT(*) FROM fin) AS BIGINT) AS n_core_nodes,
           CAST((SELECT COUNT(*) FROM e{_KC_ROUNDS}) AS BIGINT) AS n_core_edges,
           CAST(COALESCE((SELECT MAX(c) FROM fin), 0) AS BIGINT) AS max_core_degree,
           CAST((SELECT COALESCE(MIN(c), {_KC_K}) FROM fin) >= {_KC_K} AS BIGINT)
             AS converged
    """,
    description=f"k-core decomposition (k={_KC_K}) by iterative peeling on the q128 user co-occurrence graph (same hub cap {_HUB_CAP}): degree-filter + induced-subgraph semi-join rounds on a monotonically shrinking edge frame until a round peels no node (at most {_KC_ROUNDS} + 1 rounds; raise, never a partial core) — core size, edges, max degree; the degeneracy layering graph-ML samplers consume",
)
def a0008_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _cooc_edges(_user_buckets(spark, sf_dir)).localCheckpoint(eager=False)

    def peel(state: tuple) -> tuple[tuple, int]:
        edges, _ = state
        deg = _degrees(edges).withColumn("chg", F.col("c") < _KC_K).localCheckpoint(eager=False)
        keep = deg.filter(~F.col("chg")).select("node")
        peeled = (
            edges.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)  # shrinking frame; caps plan depth
        )
        return (peeled, deg), deg.filter(F.col("chg")).count()

    # the round that peels no node leaves every survivor at degree >= k,
    # so its degree frame is the core's: nodes, max degree, and edges as
    # sum(deg)/2 come from it in the output's own job
    _, deg = fixpoint((edges, None), peel, _KC_ROUNDS + 1, "k-core peeling")
    return deg.agg(
        F.lit(_KC_K).cast("long").alias("k"),
        F.count("*").cast("long").alias("n_core_nodes"),
        F.coalesce(F.sum("c") / 2, F.lit(0)).cast("long").alias("n_core_edges"),
        F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("max_core_degree"),
        F.lit(1).cast("long").alias("converged"),
    )


# ---------------------------------------------------------------------------
# a0010 — Hill tail-index estimate of the user-activity distribution
# (Hill 1975; the heavy-tail exponent behind skew planning): per-user
# event counts, the top-(H+1) order statistics by (count DESC,
# user_id), and alpha_hat = H / sum(ln(x_i / x_min)) over the H largest
# with x_min = the (H+1)-th. The tail index is what says whether a
# key's load distribution has finite variance — i.e. whether salting is
# OPTIONAL or MANDATORY at 100 TB. One user-keyed aggregate is the only
# data-sized stage; the order statistics come from a bounded
# TakeOrdered (never a global rank window over users).
# Scale rule (100 TB): H is an estimator constant (bias/variance
# trade); the tail frame is H+1 rows whatever the corpus.
# ---------------------------------------------------------------------------

_HILL_H = 100


@query(
    "a0010_hill_tail_index",
    oracle=f"""
    WITH u AS (SELECT user_id, COUNT(*) * 1.0 AS c FROM events GROUP BY user_id),
    top_h AS (SELECT c, user_id FROM u ORDER BY c DESC, user_id LIMIT {_HILL_H + 1}),
    xmin AS (SELECT MIN(c) AS xm FROM top_h),
    tail AS (
      SELECT c FROM (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS rk
                     FROM top_h)
      WHERE rk <= {_HILL_H}),
    m AS (SELECT COUNT(*) * 1.0 AS h, SUM(ln(tail.c / xmin.xm)) AS s
          FROM tail, xmin)
    SELECT CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_users,
           CAST(m.h AS BIGINT) AS tail_points,
           (SELECT xm FROM xmin) AS x_min,
           ROUND(m.h / m.s, 6) AS hill_alpha,
           ROUND(1.0 + m.h / m.s, 6) AS pareto_exponent
    FROM m
    """,
    description=f"Hill tail-index of the user-activity distribution: per-user event counts (one data-sized aggregate), top-{_HILL_H + 1} order statistics via bounded TakeOrdered (never a global rank over users), alpha = H / sum ln(x_i/x_min) — the heavy-tail exponent that decides whether key salting is optional or mandatory at scale",
)
def a0010_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg((F.count("*") * 1.0).alias("c"))
        .localCheckpoint(eager=False)  # census count + tail reuse it
    )
    # ONE collect (r14): the user census rides the TakeOrdered collect as
    # a broadcast 1-row COUNT(*) crossJoined onto the (H+1)-row tail —
    # the former separate u.count() job paid one more job floor against
    # the same checkpointed frame
    top = (
        u.orderBy(F.desc("c"), "user_id")
        .limit(_HILL_H + 1)
        .crossJoin(F.broadcast(u.agg(F.count("*").alias("_nu"))))
        .collect()
    )
    n_users = int(top[0]["_nu"]) if top else 0
    xs = sorted(((r["c"], r["user_id"]) for r in top), key=lambda t: (-t[0], t[1]))
    xm = xs[-1][0]
    import math

    tail = xs[:_HILL_H]  # rk <= H of however many rows exist (SQL parity)
    h = float(len(tail))
    s = sum(math.log(c / xm) for c, _ in tail)
    return spark.createDataFrame(
        [
            (
                n_users,
                len(tail),
                xm,
                math.floor(h / s * 1e6 + 0.5) / 1e6,
                math.floor((1.0 + h / s) * 1e6 + 0.5) / 1e6,
            )
        ],
        "n_users long, tail_points long, x_min double, hill_alpha double, pareto_exponent double",
    )


# ---------------------------------------------------------------------------
# a0011 — n-gram novelty decay (the memorization/duplication curve a
# curator reads before deciding how hard to dedup): for each document
# in doc_id order, the share of its distinct word 3-grams whose FIRST
# corpus occurrence is that document; aggregated per corpus decile.
# A clean corpus decays slowly (novelty stays high); a template-heavy
# or replicated corpus collapses toward 0 — this is the statistic that
# quantifies what q40/q41/q116 then remove. Two data-sized stages: the
# per-doc distinct-shingle explode and one (shingle)-keyed MIN(doc_id);
# novelty = (shingles first seen here) / (distinct shingles), both
# countable from the same aggregate, then a 10-row decile rollup.
# Scale rule (100 TB): the decile count and the gram width n are
# resolution constants; both passes are one-shuffle aggregates.
# ---------------------------------------------------------------------------

_NOV_N = 3


@query(
    "a0011_ngram_novelty_decay",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    nn AS (SELECT COUNT(*) * 1.0 AS nd FROM d),
    sh AS (
      SELECT DISTINCT doc_id,
             tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS g
      FROM d, LATERAL (SELECT unnest(generate_series(1, len(tk) - {_NOV_N - 1})) AS i)),
    fo AS (SELECT g, MIN(doc_id) AS fdoc FROM sh GROUP BY g),
    per_doc AS (
      SELECT sh.doc_id,
             COUNT(*) * 1.0 AS n_grams,
             SUM(CASE WHEN fo.fdoc = sh.doc_id THEN 1 ELSE 0 END) * 1.0 AS n_novel
      FROM sh JOIN fo ON fo.g = sh.g
      GROUP BY sh.doc_id)
    SELECT CAST(FLOOR(doc_id * 10.0 / nn.nd) AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS n_grams,
           CAST(SUM(n_novel) AS BIGINT) AS n_novel,
           ROUND(SUM(n_novel) / SUM(n_grams), 6) AS novelty
    FROM per_doc, nn
    GROUP BY 1 ORDER BY 1
    """,
    description=f"n-gram novelty decay: per document (doc_id order), the share of its distinct word {_NOV_N}-grams first seen in that document (MIN(doc_id) per shingle), rolled up per corpus decile — the memorization/duplication curve that quantifies what the dedup ladder then removes; two one-shuffle aggregates, 10-row output",
)
def a0011_ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.tokens("text").alias("tk")
    )
    # doc census folded INTO the plan (r14, the a0006 reshape): the
    # decile denominator rides as a broadcast 1-row COUNT(*) (the
    # oracle's nn CTE) instead of a separate d.count() driver job
    nn = d.agg((F.count("*") * 1.0).alias("_nd"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size("tk") - (_NOV_N - 1)),
        lambda i: F.concat_ws(
            " ",
            F.element_at("tk", i),
            F.element_at("tk", i + F.lit(1)),
            F.element_at("tk", i + F.lit(2)),
        ),
    )
    sh = (
        d.filter(F.size("tk") >= _NOV_N)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("g"))
        .localCheckpoint(eager=False)  # first-occurrence + per-doc passes
    )
    fo = sh.groupBy("g").agg(F.min("doc_id").alias("fdoc"))
    per_doc = (
        sh.join(fo.hint("merge"), "g")  # data-grown both sides: pin SMJ, let AQE upgrade
        .groupBy("doc_id")
        .agg(
            (F.count("*") * 1.0).alias("n_grams"),
            F.sum((F.col("fdoc") == F.col("doc_id")).cast("int") * 1.0).alias("n_novel"),
        )
    )
    return (
        per_doc.crossJoin(F.broadcast(nn))
        .groupBy(F.floor(F.col("doc_id") * 10.0 / F.col("_nd")).cast("long").alias("decile"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_grams").cast("long").alias("n_grams"),
            F.sum("n_novel").cast("long").alias("n_novel"),
            F.round(F.sum("n_novel") / F.sum("n_grams"), 6).alias("novelty"),
        )
        .orderBy("decile")
    )
