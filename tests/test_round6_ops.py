"""Round-6 operator tests: CMS frequency sketches (q119), product
quantization (q120), BPE tokenizer training (q121), hashed-feature
classifier inference (q122), z-order layout clustering (q123).

Property tests here; cross-engine value parity is pinned by the DuckDB
oracles (tools/check_oracle.py / driver CORRECTNESS)."""

from __future__ import annotations

from pyspark.sql import functions as F

from advanced_data_mining_and_big_data_analysis_spark.operators import text as X
from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries
from advanced_data_mining_and_big_data_analysis_spark.plans.pipeline_ops import cms_table, zorder_value
from advanced_data_mining_and_big_data_analysis_spark.plans.similarity import _PQ_K
from advanced_data_mining_and_big_data_analysis_spark.sources import load_table

QUERIES = all_queries()


# ---------------------------------------------------------------- q119 CMS


def test_cms_shard_merge_is_exact(spark, sf_dir):
    """Merged per-source sketch tables must equal a direct global build
    bucket-for-bucket (linear counts — the mergeability contract)."""
    docs = load_table(spark, sf_dir, "documents").limit(80)
    toks = docs.select("source", F.explode(X.tokens("text")).alias("token"))
    merged = (
        cms_table(toks, "token", ["source"])
        .groupBy("depth", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = cms_table(toks, "token", [])
    diff = (
        merged.join(direct.withColumnRenamed("cnt", "cnt2"), ["depth", "bucket"], "full")
        .filter(
            F.coalesce(F.col("cnt"), F.lit(-1)) != F.coalesce(F.col("cnt2"), F.lit(-2))
        )
        .count()
    )
    assert diff == 0


def test_q119_plan_broadcasts_probe_not_corpus(spark, sf_dir):
    plan_df = QUERIES["q119_cms_heavy_hitters"].fn(spark, sf_dir)
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


# ----------------------------------------------------------------- q120 PQ


def test_pq_codebook_vectors_reconstruct_exactly(spark, sf_dir):
    """Vectors that ARE codewords must quantize to themselves: their
    total reconstruction error is exactly 0."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cb = emb.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("code_id"), F.col("v").alias("cv")
    )

    def d2(j):
        sub_v = F.slice(F.col("v"), j * 16 + 1, 16)
        sub_c = F.slice(F.col("cv"), j * 16 + 1, 16)
        return F.aggregate(
            F.zip_with(sub_v, sub_c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        )

    own = (
        emb.filter(F.col("vec_id") < _PQ_K)
        .join(cb, F.col("vec_id") == F.col("code_id"))
        .select(sum(d2(j) for j in range(4)).alias("err"))
    )
    rows = own.collect()
    assert len(rows) == _PQ_K
    assert all(r["err"] == 0.0 for r in rows)


def test_q120_no_shuffle_of_full_width_embeddings(spark, sf_dir):
    """The N*k expansion must collapse map-side — since the r14 reshape
    it is ONE Arrow mapInPandas kernel over a closed-over k-row codebook
    (no join at all); the embedding table must never be shuffled or
    sort-merged at full width."""
    df = QUERIES["q120_product_quantization"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "Join" not in plan  # kernel replaced the broadcast join outright
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()


# ---------------------------------------------------------------- q121 BPE


def test_bpe_train_matches_python_reference(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    merges = X.bpe_train(docs, 6)
    wc = [(r["word"], r["wcount"]) for r in X.word_counts(docs).collect()]
    ref = X.bpe_train_reference(sorted(wc), 6)
    assert merges == ref
    assert len(merges) == 6


def test_bpe_merge_is_greedy_left_to_right(spark):
    """'aaa' with pair (a,a) -> [aa, a]: a fresh merge is not re-consumed."""
    df = spark.createDataFrame([(1, ["a", "a", "a"]), (1, ["a", "a", "a", "a"])], "wcount int, syms array<string>")
    out = [r["syms"] for r in X.bpe_merge_pair(df, "a", "a").collect()]
    assert sorted(out) == [["aa", "a"], ["aa", "aa"]]


def test_char_symbols_and_pair_guard(spark):
    df = spark.createDataFrame([(1, "ab"), (1, "x")], "wcount int, word string")
    df = df.withColumn("syms", X.char_symbols("word"))
    rows = {tuple(r["syms"]) for r in df.collect()}
    assert rows == {("a", "b"), ("x",)}
    # single-symbol rows must contribute zero pairs (sequence(1,0) guard)
    pairs = X.bpe_pair_counts(df).collect()
    assert [(r["a"], r["b"], r["pair_count"]) for r in pairs] == [("a", "b", 1)]


# ---------------------------------------------------------------- JPEG


def test_jpeg_constant_even_blocks_roundtrip_exactly():
    import numpy as np

    from advanced_data_mining_and_big_data_analysis_spark.operators import jpeg as J
    from advanced_data_mining_and_big_data_analysis_spark.operators.multimodal import (
        formula_jpeg_pixel,
    )

    for m in range(4):
        blob = J.make_jpeg_gray(16, 16, lambda x, y, m=m: formula_jpeg_pixel(m, x, y))
        w, h, mean, _, _, tl = J.decode_jpeg_gray(blob)
        exp = np.array([[formula_jpeg_pixel(m, x, y) for x in range(16)] for y in range(16)])
        assert (w, h) == (16.0, 16.0)
        assert mean == float(exp.mean())
        assert tl == float(exp[0, 0])


def test_jpeg_lossy_path_error_bounded():
    """Non-constant blocks exercise the AC Huffman/quant/IDCT path; the
    Annex-K table at full strength must still keep a smooth gradient
    within a small mean error and a random image's mean nearly exact."""
    import numpy as np

    from advanced_data_mining_and_big_data_analysis_spark.operators import jpeg as J

    grad = J.decode_jpeg_gray(
        J.make_jpeg_gray(24, 17, lambda x, y: min(255, 60 + 3 * x + 2 * y))
    )
    exp = np.array([[min(255, 60 + 3 * x + 2 * y) for x in range(24)] for y in range(17)])
    assert (grad[0], grad[1]) == (24.0, 17.0)
    assert abs(grad[2] - exp.mean()) < 3.0

    rng = np.random.RandomState(7)
    im = rng.randint(0, 256, (16, 16))
    got = J.decode_jpeg_gray(J.make_jpeg_gray(16, 16, lambda x, y: int(im[y, x])))
    assert abs(got[2] - im.mean()) < 2.0


def test_jpeg_rejects_non_baseline_and_truncated():
    import pytest as _pytest

    from advanced_data_mining_and_big_data_analysis_spark.operators import jpeg as J

    blob = bytearray(J.make_jpeg_gray(8, 8, lambda x, y: 130))
    with _pytest.raises(ValueError):
        J.decode_jpeg_gray(b"\x00\x01not a jpeg")
    # flip SOF0 -> SOF2 (progressive) in place
    i = bytes(blob).find(b"\xff\xc0")
    prog = bytes(blob[:i]) + b"\xff\xc2" + bytes(blob[i + 2 :])
    with _pytest.raises(ValueError):
        J.decode_jpeg_gray(prog)
    with _pytest.raises(ValueError):
        J.decode_jpeg_gray(bytes(blob[:-10]))  # truncated entropy/EOI


def test_new_query_plans_have_no_cartesian(spark, sf_dir):
    """None of the round-6 additions may plan a CartesianProduct over
    data rows (1-row scalar assemblies compile to broadcast loops, which
    are fine)."""
    for name in [
        "q122_classifier_scoring",
        "q125_ewma_smoothing",
        "q129_incremental_view",
        "q130_prefix_filter_simjoin",
        "q131_frequent_itemsets",
        "q133_table_stats",
    ]:
        plan = QUERIES[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name


def test_q122_scoring_plan_has_no_join_and_no_explode(spark, sf_dir):
    """The fold rewrite must keep q122 join-free and explode-free: the
    per-doc score is a higher-order aggregate over the doc's own token
    array, so the only exchange left is the #sources-row rollup."""
    plan = (
        QUERIES["q122_classifier_scoring"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for op in ("Join", "Generate"):  # Generate == explode
        assert op not in plan, op
    # exactly one data exchange (the per-source rollup) + the sort for orderBy
    assert plan.count("Exchange hashpartitioning") == 1


# ----------------------------------------------- UDTF + Observation APIs


def test_chunk_udtf_matches_python_reference(spark, sf_dir):
    """SQL-surface LATERAL table function parity with the declarative
    chunk semantics."""
    import re

    spark.udtf.register("chunk_text_r6", X.make_chunk_udtf())
    docs = load_table(spark, sf_dir, "documents").limit(25)
    docs.createOrReplaceTempView("_udtf_docs")
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["chunk_len"])
        for r in spark.sql(
            "SELECT d.doc_id, c.* FROM _udtf_docs d, LATERAL chunk_text_r6(d.text, 8, 6) c"
        ).collect()
    )
    exp = []
    for r in docs.collect():
        toks = [t for t in re.sub(r"[^a-z0-9 ]", " ", r["text"].lower()).split(" ") if t]
        idx = 0
        for s in range(0, len(toks), 6):
            w = toks[s : s + 8]
            if not w:
                break
            idx += 1
            exp.append((r["doc_id"], idx, " ".join(w), len(w)))
    assert got == sorted(exp) and got


def test_observed_scan_piggybacks_metrics(spark, sf_dir):
    """Observation metrics must match a direct aggregate without running
    a second job over the data."""
    from advanced_data_mining_and_big_data_analysis_spark.functions.observe import observed_scan

    docs = load_table(spark, sf_dir, "documents")
    odf, obs = observed_scan(
        docs,
        "q_metrics",
        {
            "n": F.count(F.lit(1)),
            "null_text": F.sum(F.col("text").isNull().cast("long")),
            "avg_chars": F.avg("n_chars"),
        },
    )
    n_action = odf.count()
    m = obs.get
    direct = docs.agg(
        F.count(F.lit(1)).alias("n"), F.avg("n_chars").alias("a")
    ).collect()[0]
    assert m["n"] == n_action == direct["n"]
    assert m["null_text"] == 0
    assert abs(m["avg_chars"] - direct["a"]) < 1e-9


# -------------------------------------------------------- warclite source


def test_warclite_pushdown_prunes_whole_files(tmp_path):
    """doc_id range filters must drop files from the partition plan
    using header min/max alone (no payload read), and every filter must
    still be returned unhandled for Spark's row-level re-check."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from advanced_data_mining_and_big_data_analysis_spark.sources import warclite as W

    for i, lo in enumerate([0, 100, 200, 300]):
        W.write_wlc_file(
            str(tmp_path / f"part-{i:05d}.wlc"),
            [(lo + j, "text/plain", b"x" * 4) for j in range(50)],
        )
    reader = W.WarcLiteReader({"path": str(tmp_path)})
    unhandled = list(
        reader.pushFilters([GreaterThanOrEqual(("doc_id",), 120), LessThan(("doc_id",), 250)])
    )
    assert len(unhandled) == 2  # all filters re-applied row-level by Spark
    parts = reader.partitions()
    # [120, 250) overlaps files [100,149] and [200,249] but not [0,49]/[300,349]
    assert [p.path.split("part-")[1] for p in parts] == ["00001.wlc", "00002.wlc"]
    rows = list(reader.read(parts[0]))
    assert rows[0] == (100, "text/plain", b"xxxx")


def test_warclite_register_honors_runtime_optout(spark):
    """A runtime spark.conf.set(conf_key, 'False') issued before
    register() is an explicit operator opt-out: register() must pick
    the no-pushdown variant (and match case-insensitively) instead of
    silently overriding it to true (ADVICE r8)."""
    from advanced_data_mining_and_big_data_analysis_spark.sources import warclite as W

    key = "spark.sql.python.filterPushdown.enabled"
    before = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "False")  # capitalized on purpose
        assert W.register(spark) is W.WarcLiteDataSourceNoPushdown
        spark.conf.set(key, "true")
        assert W.register(spark) is W.WarcLiteDataSource
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
        W.register(spark)  # leave the session's default registration


def test_warclite_overwrite_removes_stale_part_files(spark, tmp_path):
    """A narrower re-write in overwrite mode must not leave part files
    from a previous wider write behind the new dataset."""
    from advanced_data_mining_and_big_data_analysis_spark.sources import warclite as W

    W.register(spark)
    out = str(tmp_path / "wlc")
    df = spark.range(40).selectExpr(
        "id AS doc_id", "'text/plain' AS mime", "CAST('x' AS BINARY) AS content"
    )
    df.repartition(6).write.format("warclite").mode("overwrite").save(out)
    df.filter("doc_id < 10").repartition(2).write.format("warclite").mode(
        "overwrite"
    ).save(out)
    back = spark.read.format("warclite").load(out)
    assert back.count() == 10
    import os

    assert len([n for n in os.listdir(out) if n.endswith(".wlc")]) == 2


def test_warclite_rejects_corrupt_files(tmp_path):
    from advanced_data_mining_and_big_data_analysis_spark.sources import warclite as W

    p = str(tmp_path / "bad.wlc")
    with open(p, "wb") as f:
        f.write(b"NOTW 1 0 0\n")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        W.read_wlc_header(p)
    # truncated payload -> corrupt terminator
    good = str(tmp_path / "t.wlc")
    W.write_wlc_file(good, [(1, "text/plain", b"abcdef")])
    data = open(good, "rb").read()
    with open(good, "wb") as f:
        f.write(data[:-2])  # chop terminator
    with _pytest.raises(ValueError):
        list(W.read_wlc_records(good))


def test_warclite_q132_on_vanilla_session(sf_dir):
    """REGRESSION (CORRECTNESS_r06 q132 err): the correctness driver
    builds its own SparkSession without session.get_spark(), so
    spark.sql.python.filterPushdown.enabled is false there and Spark 4
    raises DATA_SOURCE_PUSHDOWN_DISABLED for any reader implementing
    pushFilters.  register() must make q132 work on such a session by
    setting the runtime conf itself.  Exact driver simulation: a fresh
    subprocess builds a PLAIN SparkSession (no session.py factory) and
    runs q132 through the __spark_entry__ surface.  (An in-process
    spark.newSession() is NOT a valid stand-in: Python data source
    registration itself breaks there — JVM active-session lookup — which
    is unrelated to the driver's single-session environment.)"""
    import os
    import subprocess
    import sys as _sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[4]')"
        ".config('spark.sql.shuffle.partitions', '4')"
        ".config('spark.ui.enabled', 'false').getOrCreate())\n"
        "assert spark.conf.get('spark.sql.python.filterPushdown.enabled') == 'false'\n"
        "import __spark_entry__ as e\n"
        "n = e.queries()['a0133_warclite_source'](spark, %r).count()\n"
        "assert n > 0, n\n"
        "print('Q132_VANILLA_OK', n)\n"
    ) % (root, os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"))
    proc = subprocess.run(
        [_sys.executable, "-c", script], capture_output=True, text=True, timeout=300, cwd=root
    )
    assert "Q132_VANILLA_OK" in proc.stdout, proc.stderr[-3000:]


def test_warclite_no_pushdown_fallback_reader(tmp_path):
    """The no-pushdown variant must read identically (minus file
    pruning) WITHOUT tripping DATA_SOURCE_PUSHDOWN_DISABLED when the
    conf is off — Spark detects pushFilters via the class attribute, so
    the subclass restores DataSourceReader.pushFilters.  Runs in a
    subprocess whose session pins the conf to false (simulating a
    session where register() cannot flip it)."""
    import os
    import subprocess
    import sys as _sys

    from pyspark.sql.datasource import DataSourceReader

    from advanced_data_mining_and_big_data_analysis_spark.sources import warclite as W

    assert W.WarcLiteReaderNoPushdown.pushFilters is DataSourceReader.pushFilters

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "wlc_nopush")
    script = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pyspark.sql import SparkSession\n"
        "from advanced_data_mining_and_big_data_analysis_spark.sources import warclite as W\n"
        "spark = (SparkSession.builder.master('local[4]')"
        ".config('spark.sql.shuffle.partitions', '4')"
        ".config('spark.sql.python.filterPushdown.enabled', 'false')"
        ".config('spark.ui.enabled', 'false').getOrCreate())\n"
        "spark.dataSource.register(W.WarcLiteDataSourceNoPushdown)\n"
        "spark.range(30).selectExpr(\"id AS doc_id\", \"'text/plain' AS mime\","
        " \"CAST('x' AS BINARY) AS content\")"
        ".repartition(3).write.format('warclite').mode('overwrite').save(%r)\n"
        "n = spark.read.format('warclite').load(%r).filter('doc_id >= 10').count()\n"
        "assert n == 20, n\n"  # row-level filter still applied by Spark
        "print('WLC_NOPUSH_OK', n)\n"
    ) % (root, out, out)
    proc = subprocess.run(
        [_sys.executable, "-c", script], capture_output=True, text=True, timeout=300, cwd=root
    )
    assert "WLC_NOPUSH_OK" in proc.stdout, proc.stderr[-3000:]


# ------------------------------------------------------------- q122 / q123


def test_q122_doc_counts_are_conserved(spark, sf_dir):
    docs_n = load_table(spark, sf_dir, "documents").count()
    out = QUERIES["q122_classifier_scoring"].fn(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in out) == docs_n
    for r in out:
        assert 0 <= r["n_kept"] <= r["n_docs"]
        assert 0.0 <= r["avg_score"] <= 1.0


def test_q125_ewma_matches_python_recursion(spark, sf_dir):
    from advanced_data_mining_and_big_data_analysis_spark.sources import load_table

    got = {r["user_id"]: (r["n_events"], r["ewma"]) for r in
           QUERIES["q125_ewma_smoothing"].fn(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value").collect()
    series: dict[int, list[tuple]] = {}
    for r in ev:
        series.setdefault(r["user_id"], []).append((r["ts"], r["event_id"], r["value"]))
    for uid, rows in series.items():
        rows.sort()
        e = rows[0][2]
        for _, _, x in rows[1:]:
            e = 0.5 * x + 0.5 * e
        n, ewma = got[uid]
        assert n == len(rows)
        assert ewma == round(e, 6), uid


def test_q126_sketch_bounds_and_monotonicity(spark, sf_dir):
    rows = QUERIES["q126_quantile_sketch"].fn(spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r["within_bound"] for r in rows)
    ests = [r["est"] for r in sorted(rows, key=lambda r: r["q"])]
    exacts = [r["exact"] for r in sorted(rows, key=lambda r: r["q"])]
    assert ests == sorted(ests) and exacts == sorted(exacts)


def test_q127_funnel_is_monotone(spark, sf_dir):
    r = QUERIES["q127_funnel"].fn(spark, sf_dir).collect()[0]
    assert r["n_step1"] >= r["n_step2"] >= r["n_step3"] >= 0
    assert 0.0 <= r["conversion"] <= 1.0
    if r["n_step3"]:
        assert r["avg_days_to_convert"] >= 0.0


def test_q129_incremental_equals_direct(spark, sf_dir):
    """Increment-merge must equal a direct full-table aggregate exactly
    (long counts, double sums over identical addition order per group)."""
    got = {r["l_returnflag"]: (r["n_rows"], r["sum_qty"], r["sum_price"]) for r in
           QUERIES["q129_incremental_view"].fn(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    direct = {
        r["l_returnflag"]: (r["n"], r["sq"], r["sp"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sq"),
            F.round(F.sum("l_extendedprice"), 2).alias("sp"),
        )
        .collect()
    }
    assert got == direct


def test_q130_prefix_filter_loses_no_pair(spark, sf_dir):
    """Independent brute force: exact Jaccard over ALL doc pairs on
    collected shingle sets must equal the prefix-filtered join output."""
    got = {(r["d1"], r["d2"]): r["jaccard"] for r in
           QUERIES["q130_prefix_filter_simjoin"].fn(spark, sf_dir).collect()}

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    import re

    def shingles(text):
        toks = [t for t in re.sub(r"[^a-z0-9 ]", " ", text.lower()).split() if t]
        return {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)}

    sets = {r["doc_id"]: shingles(r["text"]) for r in docs}
    ids = sorted(d for d, s in sets.items() if s)
    expected = {}
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            s1, s2 = sets[ids[a]], sets[ids[b]]
            i = len(s1 & s2)
            if i == 0:
                continue
            u = len(s1) + len(s2) - i
            if 10 * i >= 6 * u:
                expected[(ids[a], ids[b])] = round(i / u, 6)
    assert got == expected
    assert len(got) > 0  # the fixture corpus does contain near-dups


def test_q128_triangle_invariants_and_plan(spark, sf_dir):
    df = QUERIES["q128_triangle_count"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every join must be an equi-join on node/bucket ids — a cartesian
    # here means the oriented two-join was mis-specified
    assert "CartesianProduct" not in plan
    r = df.collect()[0]
    assert r["n_edges"] >= 0 and r["n_triangles"] >= 0
    assert 0.0 <= r["transitivity"] <= 1.0
    assert r["n_buckets_capped"] <= r["n_buckets"]
    # triangle count upper bound: C(edges over 3) trivially, and each
    # triangle needs 3 wedges — transitivity <= 1 already pins that


def test_zorder_value_interleaves_bits_exactly(spark):
    def py_z(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    cases = [(0, 0), (1, 0), (0, 1), (65535, 0), (0, 65535), (12345, 54321), (255, 256)]
    df = spark.createDataFrame(cases, "x long, y long").withColumn(
        "z", zorder_value(F.col("x"), F.col("y"))
    )
    got = {(r["x"], r["y"]): r["z"] for r in df.collect()}
    for x, y in cases:
        assert got[(x, y)] == py_z(x, y), (x, y)


def test_q123_files_bound_both_dimensions(spark, sf_dir):
    rows = QUERIES["q123_zorder_layout"].fn(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 64
    for r in rows:
        assert 0 <= r["file_id"] <= 63
        assert r["pk_min"] <= r["pk_max"] and r["sk_min"] <= r["sk_max"]
        assert 0.0 <= r["span_frac"] <= 1.0
    # z-order point: a file's footprint must be a small fraction of the
    # full domain on BOTH columns simultaneously (here: every file spans
    # <= ~1/4 of each axis once both keys exercise the 16-bit domain)
    if len(rows) >= 16:
        worst = max(max(r["pk_max"] - r["pk_min"], r["sk_max"] - r["sk_min"]) for r in rows)
        assert worst <= 65535 / 4 + 1


def test_q134_skyline_is_exactly_the_nondominated_set(spark, sf_dir):
    rows = QUERIES["q134_pareto_skyline"].fn(spark, sf_dir).collect()
    pts = [(r["rev"], r["avg_disc"]) for r in rows]
    assert pts
    # no skyline member may dominate another skyline member
    for i, (r1, d1) in enumerate(pts):
        for j, (r2, d2) in enumerate(pts):
            if i != j:
                assert not (r2 >= r1 and d2 <= d1 and (r2 > r1 or d2 < d1))


def test_q135_anomalies_exceed_threshold(spark, sf_dir):
    rows = QUERIES["q135_anomaly_flags"].fn(spark, sf_dir).collect()
    for r in rows:
        assert abs(r["sigma"]) > 2.0 - 1e-6


def test_warclite_compaction_preserves_data_and_tightens_pruning(spark, tmp_path):
    """Compacting many small files must preserve every record and leave
    range-clustered files whose header stats prune harder."""
    from pyspark.sql.datasource import EqualTo

    from advanced_data_mining_and_big_data_analysis_spark.sources import warclite as W

    src = str(tmp_path / "small")
    dst = str(tmp_path / "compact")
    import os

    os.makedirs(src)
    # 10 small files, doc_ids INTERLEAVED so every file spans the whole
    # id range (worst case for pruning before compaction)
    for i in range(10):
        W.write_wlc_file(
            f"{src}/part-{i:05d}.wlc",
            [(j * 10 + i, "text/plain", b"d%d" % (j * 10 + i)) for j in range(20)],
        )
    W.compact(spark, src, dst, target_files=2)

    a = sorted(
        (r["doc_id"], bytes(r["content"]))
        for r in spark.read.format("warclite").load(src).collect()
    )
    b = sorted(
        (r["doc_id"], bytes(r["content"]))
        for r in spark.read.format("warclite").load(dst).collect()
    )
    assert a == b and len(a) == 200

    files = [n for n in os.listdir(dst) if n.endswith(".wlc")]
    assert len(files) == 2
    # before: interleaved ids make file i span [i, 190+i], so a point
    # lookup for 7 still opens files 0..7 (8 of 10); after: range
    # clustering prunes to exactly one file
    before = W.WarcLiteReader({"path": src})
    list(before.pushFilters([EqualTo(("doc_id",), 7)]))
    after = W.WarcLiteReader({"path": dst})
    list(after.pushFilters([EqualTo(("doc_id",), 7)]))
    assert len(before.partitions()) == 8
    assert len(after.partitions()) == 1


# ------------------------------------------------- real resize / audio frames


def test_resize_bmp_nearest_neighbor_exact():
    """resize_bmp must place source pixel (x*sw//tw, y*sh//th) at every
    target position — checked pixel-for-pixel against the formula, via a
    second real decode of the resized blob."""
    from advanced_data_mining_and_big_data_analysis_spark.operators import multimodal as MM

    m, sw, sh, tw, th = 5, 11, 7, 4, 3

    def pix(x, y):
        return ((m * 3 + x + y) % 256, (m * 5 + 2 * x) % 256, (m * 7 + 3 * y) % 256)

    blob = MM.make_bmp(sw, sh, pix)
    resized = MM.resize_bmp(blob, tw, th)
    # decode the resized blob manually row by row through the real decoder path
    import struct

    offset = struct.unpack_from("<I", resized, 10)[0]
    w, h = struct.unpack_from("<ii", resized, 18)
    assert (w, h) == (tw, th)
    stride = w * 3 + (4 - (w * 3) % 4) % 4
    for y in range(th):
        for x in range(tw):
            base = offset + (h - 1 - y) * stride + x * 3
            got = (resized[base + 2], resized[base + 1], resized[base])
            assert got == pix(x * sw // tw, y * sh // th), (x, y)


def test_resize_images_routes_bmp_real_and_other_mimes_stub(spark):
    from advanced_data_mining_and_big_data_analysis_spark.operators import multimodal as MM

    media = MM.formula_media_df(spark, n_audio=2, n_image=3)
    out = {r["media_id"]: r for r in MM.resize_images(media, 4, 4).collect()}
    # BMP rows come back as REAL 4x4 BMPs (decodable, correct dims)
    for mid in (1000, 1001, 1002):
        feats = MM.decode_bmp(bytes(out[mid]["content"]))
        assert feats[0] == 4.0 and feats[1] == 4.0
    # WAV rows take the deterministic byte-tile stub (16 raw bytes)
    for mid in (0, 1):
        assert len(bytes(out[mid]["content"])) == 16


def test_sample_audio_frames_rms_matches_reference(spark):
    """Every frame's RMS equals the pure-python computation over the
    formula samples; tail frame divides by its true length; non-WAV
    rows are skipped."""
    import math

    from advanced_data_mining_and_big_data_analysis_spark.operators import multimodal as MM

    media = MM.formula_media_df(spark, n_audio=3, n_image=2)
    rows = MM.sample_audio_frames(media, frame_len=100, max_frames=5).collect()
    assert {r["media_id"] for r in rows} <= {0, 1, 2}  # images skipped
    by_key = {(r["media_id"], r["frame_idx"]): r for r in rows}
    for m in range(3):
        samples = MM.formula_wav_samples(m)
        n = len(samples)
        n_frames = min(5, (n + 99) // 100)
        assert sum(1 for k in by_key if k[0] == m) == n_frames
        for f in range(n_frames):
            fr = samples[f * 100 : (f + 1) * 100]
            r = by_key[(m, f)]
            assert r["n_samples"] == len(fr)
            assert abs(r["rms"] - math.sqrt(sum(s * s for s in fr) / len(fr))) < 1e-12
