"""One driver for every loop that runs until a round changes nothing.

Recursion on a dataflow engine (RaSQL, SIGMOD 2019; Pregelix, VLDB
2014) iterates a step until it reaches its fixpoint. Each caller here
supplies only the step; the round budget, the stop rule and the raise
live in ``fixpoint``. The round that changes nothing is the
verification: a caller counts its changed rows in the same job that
materializes the round's frame, so no separate check pass is needed.
"""

from __future__ import annotations

import logging
from typing import Callable, TypeVar

S = TypeVar("S")

log = logging.getLogger(__name__)


def fixpoint(state: S, step: Callable[[S], tuple[S, int]], max_rounds: int, what: str) -> S:
    """Run ``state, changed = step(state)`` until a round returns
    ``changed == 0`` and return that round's state. Each round is logged
    with its changed count (args ``(what, round, changed)``). Raises
    ``RuntimeError`` when no round within ``max_rounds`` changes nothing:
    a partial result is never returned."""
    changed = None
    for rnd in range(1, max_rounds + 1):
        state, changed = step(state)
        log.info("%s round %d: %d changed", what, rnd, changed)
        if changed == 0:
            return state
    raise RuntimeError(
        f"{what} did not converge in {max_rounds} rounds ({changed} rows still changing)"
    )
