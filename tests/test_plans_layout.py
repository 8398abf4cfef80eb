"""Layout rules for ``plans/``: one module per domain, each registered
through ``all_queries()``, and no private helper defined twice."""

from __future__ import annotations

import ast
import collections
import inspect
import re
from pathlib import Path

from advanced_data_mining_and_big_data_analysis_spark.plans import all_queries, registry

PLANS = Path(registry.__file__).parent
MODULES = sorted(p.stem for p in PLANS.glob("*.py") if p.stem not in ("__init__", "registry"))


def test_module_names_say_their_domain():
    bad = [m for m in MODULES if m.startswith("round") or re.search(r"\d$", m)]
    assert not bad, f"plans modules named by round or number: {bad}"


def test_every_module_is_imported_and_registers_queries():
    tree = ast.parse(inspect.getsource(registry.all_queries))
    imported = {a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom) for a in n.names}
    assert imported == set(MODULES)
    registering = {qd.fn.__module__.rsplit(".", 1)[1] for qd in all_queries().values()}
    assert registering == set(MODULES)


def test_query_count():
    assert len(all_queries()) == 314


def test_no_private_name_defined_twice():
    """A private helper or constant is defined once, in one module; other
    modules import it."""
    owners = collections.defaultdict(list)
    for m in MODULES:
        for node in ast.parse((PLANS / f"{m}.py").read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
            else:
                continue
            for name in names:
                if name.startswith("_"):
                    owners[name].append(m)
    twice = {name: ms for name, ms in owners.items() if len(ms) > 1}
    assert not twice, twice
