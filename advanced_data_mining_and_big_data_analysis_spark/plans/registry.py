"""Declared-query registry.

Every operator the engine claims (SURVEY.md §2) ships as a named query:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus, where the
semantics are SQL-expressible, an equivalent ANSI-SQL oracle string that
DuckDB runs on the same parquet for the driver's correctness gate.

Canonicalization contract (FIXTURES.md):
- deterministic total ORDER BY on the output key in BOTH engines
  (the driver hash is order-insensitive, but determinism is free);
- every float output rounded to <= 6 decimals in BOTH engines, so the
  two engines' last-bit summation differences cannot leak into the hash;
- aggregate/computed columns aliased to the SAME name on both sides;
- DuckDB ``SUM(int)`` returns HUGEINT — always CAST to BIGINT in oracles.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    description: str


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None = None, description: str = "") -> Callable[[QueryFn], QueryFn]:
    """Register a declared query. Used as a decorator on the Spark fn."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, description=description)
        return fn

    return deco


def all_queries() -> dict[str, QueryDef]:
    """Import every plan module (side effect: registration) and return
    the full registry."""
    from . import (  # noqa: F401
        dedup_text,
        features,
        graph,
        mining,
        pipeline_ops,
        relational,
        sessions,
        similarity,
        sources,
        stats,
    )

    return dict(sorted(REGISTRY.items()))
