"""The fixpoint driver, with plain-Python steps (no Spark)."""

from __future__ import annotations

import logging
import pathlib

import pytest

from advanced_data_mining_and_big_data_analysis_spark.operators import fixpoint as FP

PKG = pathlib.Path(FP.__file__).resolve().parent.parent


def _countdown(calls: list[int]):
    """A step that halves its state and reports how much it moved."""

    def step(x: int) -> tuple[int, int]:
        calls.append(x)
        return x // 2, x - x // 2

    return step


def test_stops_at_first_round_that_changes_nothing():
    calls: list[int] = []
    # 8 -> 4 -> 2 -> 1 -> 0 changes 4, 2, 1, 1; the 5th round (0 -> 0)
    # changes nothing and is the last
    assert FP.fixpoint(8, _countdown(calls), 10, "halving") == 0
    assert calls == [8, 4, 2, 1, 0]


def test_converged_input_runs_one_round():
    calls: list[int] = []
    assert FP.fixpoint(0, _countdown(calls), 3, "halving") == 0
    assert calls == [0]


def test_raises_when_budget_runs_out():
    calls: list[int] = []
    with pytest.raises(RuntimeError, match=r"halving did not converge in 4 rounds \(1 rows still changing\)"):
        FP.fixpoint(8, _countdown(calls), 4, "halving")
    assert len(calls) == 4


def test_logs_one_record_per_round(caplog):
    with caplog.at_level(logging.INFO, logger=FP.log.name):
        FP.fixpoint(8, _countdown([]), 10, "halving")
    rounds = [r.args for r in caplog.records if r.name == FP.log.name]
    assert rounds == [("halving", 1, 4), ("halving", 2, 2), ("halving", 3, 1), ("halving", 4, 1), ("halving", 5, 0)]


def test_convergence_raise_lives_only_in_the_driver():
    hits = sorted(
        str(p.relative_to(PKG)) for p in PKG.rglob("*.py") if "did not converge" in p.read_text()
    )
    assert hits == ["operators/fixpoint.py"]
