"""The shared oracle harness (used by bench.py, tools/ and tests).

Mirrors the driver's t2 gate: row count + column names + order-insensitive
value hash after canonicalization (FIXTURES.md rules: sort columns by name,
round floats to 6 decimals, sort rows, stringify). ``duck_catalog`` is the
one DuckDB view of a catalog directory, ``oracle_check`` the one verdict of
a declared query against its oracle, and ``DuckTimer`` the one capped
timer of oracle SQL.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
import time

import pandas as pd

# a first oracle run this slow is its own median (DuckDB has no JIT to warm)
DUCK_REPEAT_S = 2.0


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            # + 0.0 normalizes IEEE -0.0 to +0.0 so a ~1e-14 summation-order
            # residue that rounds to "negative zero" on one engine cannot
            # hash-diverge from "+0.0" on the other (astype(str) below would
            # render them "-0.0" vs "0.0").
            df[c] = df[c].round(6) + 0.0
        elif df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def value_hash(df: pd.DataFrame) -> str:
    body = df.astype(str).to_csv(index=False)
    return hashlib.sha256(body.encode()).hexdigest()[:16]


def _match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> tuple[dict, list[str]]:
    """The rows/schema/hash verdict of two result frames, and the mismatch
    descriptions (empty == match)."""
    s, o = canonical(spark_pdf), canonical(oracle_pdf)
    rows_match = len(s) == len(o)
    schema_match = list(s.columns) == list(o.columns)
    hash_match = schema_match and value_hash(s) == value_hash(o)
    problems: list[str] = []
    if not rows_match:
        problems.append(f"row count {len(s)} vs {len(o)}")
    if not schema_match:
        problems.append(f"columns {list(s.columns)} vs {list(o.columns)}")
    elif rows_match and not hash_match:
        neq = (s.astype(str) != o.astype(str)).any(axis=1)
        diff = pd.concat([s[neq].head(5), o[neq].head(5)], axis=1, keys=["spark", "oracle"])
        problems.append(f"value-hash mismatch, first differing rows:\n{diff}")
    verdict = {"rows_match": rows_match, "schema_match": schema_match, "hash_match": hash_match}
    return verdict, problems


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty == match)."""
    return _match(spark_pdf, oracle_pdf)[1]


def duck_catalog(sf_dir: str):
    """A DuckDB connection with one view per catalog table present in
    ``sf_dir`` — the oracle's side of the catalog."""
    import duckdb

    from .sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_check(spark, qd, sf_dir: str) -> tuple[dict, list[str]]:
    """Run a declared query and its oracle SQL on ``sf_dir``.

    Returns the verdict row (the per-query format of
    ``tools/check_oracle.py --json``) and the mismatch descriptions
    (empty == match). A failing side is recorded in ``err``, not raised;
    a query without an oracle is checked for rows only."""
    row = dict.fromkeys(("rows_match", "schema_match", "hash_match", "spark_rows", "oracle_rows"))
    try:
        sdf = qd.fn(spark, sf_dir).toPandas()
    except Exception as e:  # noqa: BLE001 - a failing query is a verdict
        return {**row, "err": str(e)[:500]}, [f"spark error: {e}"]
    row["spark_rows"] = len(sdf)
    if qd.oracle is None:
        return {**row, "err": None, "rows_only": True}, []
    try:
        with duck_catalog(sf_dir) as con:
            odf = con.execute(qd.oracle).df()
    except Exception as e:  # noqa: BLE001 - a failing oracle is a verdict
        return {**row, "err": str(e)[:500]}, [f"duckdb error: {e}"]
    verdict, problems = _match(sdf, odf)
    row.update(verdict, oracle_rows=len(odf))
    return {**row, "err": None}, problems


def _duck_ready() -> None:
    import duckdb  # noqa: F401 - the worker's imports happen outside the cap


def _duck_runs(sql: str, sf_dir: str, reps: int) -> float:
    """Median seconds of ``reps`` DuckDB runs of the oracle after a first
    run, or the first run alone when there are none or it takes
    DUCK_REPEAT_S or more."""
    times: list[float] = []
    with duck_catalog(sf_dir) as con:
        for _ in range(1 + reps):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            times.append(time.perf_counter() - t0)
            if times[0] >= DUCK_REPEAT_S:
                break
    warm = sorted(times[1:] or times)
    return round(warm[len(warm) // 2], 3)


class DuckTimer:
    """Times oracle SQL in a worker process that is killed once ``cap_s``
    pass: DuckDB does not stop every query when interrupted.

    ``time`` returns seconds, ``timed_out`` when the cap ran out (the
    next call starts a new worker), or an ``error:`` string for a
    failing oracle. The worker starts by spawn, which imports the
    caller's main module again: a calling script keeps its entry code
    under ``if __name__ == "__main__"``."""

    def __init__(self, cap_s: int):
        self.cap_s = cap_s
        self.timed_out = f">{cap_s} (did not finish)"
        self.pool = None

    def time(self, sql: str, sf_dir: str, reps: int = 0) -> float | str:
        try:
            if self.pool is None:
                self.pool = multiprocessing.get_context("spawn").Pool(1)
                self.pool.apply_async(_duck_ready).get(self.cap_s)
            return self.pool.apply_async(_duck_runs, (sql, sf_dir, reps)).get(self.cap_s)
        except multiprocessing.TimeoutError:
            self.close()
            return self.timed_out
        except Exception as e:  # noqa: BLE001 - a failing oracle is recorded, not fatal
            return f"error: {type(e).__name__}: {e}"[:200]

    def close(self) -> None:
        if self.pool is not None:
            self.pool.terminate()
            self.pool.join()
            self.pool = None

    def __enter__(self) -> DuckTimer:
        return self

    def __exit__(self, *exc) -> None:
        self.close()
