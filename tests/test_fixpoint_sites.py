"""The query loops that run on ``operators.fixpoint``: their round budget
is the query's round constant plus the one round that confirms the
fixpoint, and a multi-round peel still matches its unrolled oracle.

At the test SF the catalog's co-occurrence graph is k-core and k-truss
stable as built, and a0002's cell graph is labeled in one round, so
those queries get synthetic tables: ``strip`` is a width-2 strip graph
(i ~ i+1, i ~ i+2) that peels a few nodes or edges from each end per
round, each edge one (event_type, hour) bucket holding its two users;
``line`` puts customers in a row of adjacent dense grid cells.
"""

from __future__ import annotations

import datetime as dt
import importlib
import logging

import pytest

from advanced_data_mining_and_big_data_analysis_spark.operators import fixpoint as FP
from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries
from advanced_data_mining_and_big_data_analysis_spark.testing import oracle_check

QUERIES = all_queries()
PLANS = "advanced_data_mining_and_big_data_analysis_spark.plans."


@pytest.fixture(scope="module")
def strip_dir(tmp_path_factory, sf_dir):
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 12
    edges = [(i, j) for i in range(n) for j in (i + 1, i + 2) if j < n]
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (2 * k + s, t0 + dt.timedelta(hours=k), user, "view", 1.0, "{}")
        for k, pair in enumerate(edges)
        for s, user in enumerate(pair)
    ]
    schema = pq.read_schema(f"{sf_dir}/events.parquet").remove_metadata()
    d = tmp_path_factory.mktemp("strip")
    pq.write_table(pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema), d / "events.parquet")
    return str(d)


@pytest.fixture(scope="module")
def line_dir(tmp_path_factory, sf_dir):
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from advanced_data_mining_and_big_data_analysis_spark.plans.mining import _DLH_H, _DLH_TAUS

    # one order per customer, so every customer sits at y = ln 2 and its
    # spend picks its x cell: _DLH_TAUS[0] customers in each of 24 cells
    cells, per = 24, _DLH_TAUS[0]
    prices = [round(math.exp(5.0 + (i + 0.5) * _DLH_H) - 1, 2) for i in range(cells) for _ in range(per)]
    t0 = dt.datetime(2024, 1, 1)
    rows = [(k, k, "O", p, t0, "1-URGENT") for k, p in enumerate(prices)]
    schema = pq.read_schema(f"{sf_dir}/orders.parquet").remove_metadata()
    d = tmp_path_factory.mktemp("line")
    pq.write_table(pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema), d / "orders.parquet")
    return str(d)


def _run(spark, name: str, d: str) -> None:
    QUERIES[name].fn(spark, d).write.format("noop").mode("overwrite").save()


def _changing_rounds(caplog) -> int:
    return sum(r.args[2] > 0 for r in caplog.records if r.name == FP.log.name)


@pytest.mark.parametrize(
    "name, data, table",
    [
        ("a0002_density_level_hierarchy", "line_dir", "orders"),
        ("a0008_kcore_peeling", "strip_dir", "events"),
        ("a0036_ktruss_edges", "strip_dir", "events"),
    ],
)
def test_multi_round_fixpoint_matches_oracle(name, data, table, spark, request, caplog):
    d = request.getfixturevalue(data)
    with caplog.at_level(logging.INFO, logger=FP.log.name):
        _, problems = oracle_check(spark, QUERIES[name], d)
    assert _changing_rounds(caplog) >= 2
    assert not problems, f"{name} on the synthetic {table}: {problems}"


@pytest.mark.parametrize(
    "module, const, name, data",
    [
        ("mining", "_DLH_ROUNDS", "a0002_density_level_hierarchy", "line_dir"),
        ("graph", "_KC_ROUNDS", "a0008_kcore_peeling", "strip_dir"),
        ("graph", "_KT_ROUNDS", "a0036_ktruss_edges", "strip_dir"),
        ("graph", "_MSF_ROUNDS", "a0043_boruvka_msf", "sf_dir"),
    ],
)
def test_budget_is_round_constant_plus_confirming_round(
    module, const, name, data, spark, request, monkeypatch, caplog
):
    d = request.getfixturevalue(data)
    with caplog.at_level(logging.INFO, logger=FP.log.name):
        _run(spark, name, d)
    changing = _changing_rounds(caplog)
    assert changing >= 2
    mod = importlib.import_module(PLANS + module)
    # as many rounds as change something: the confirming round fits
    monkeypatch.setattr(mod, const, changing)
    _run(spark, name, d)
    # one fewer: the last changing round uses up the budget
    monkeypatch.setattr(mod, const, changing - 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        _run(spark, name, d)
