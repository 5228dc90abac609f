"""Static layout guards for the plan modules in ``plans/*.py``.

A module-level name bound twice is a silent override: every function
body that reads the name gets the last binding, whichever constant it
meant. Two families that share a module keep distinct names instead.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

import pytest

PLANS = Path(__file__).resolve().parent.parent / "sp500_stock_etl_spark" / "plans"


def _target_names(node: ast.AST):
    if isinstance(node, ast.Name):
        yield node.id
    elif isinstance(node, (ast.Tuple, ast.List)):
        for elt in node.elts:
            yield from _target_names(elt)
    elif isinstance(node, ast.Starred):
        yield from _target_names(node.value)


def module_bindings(tree: ast.Module) -> list[str]:
    """Names each top-level statement of ``tree`` binds, in order."""
    names: list[str] = []
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(stmt.name)
        elif isinstance(stmt, ast.Assign):
            for target in stmt.targets:
                names.extend(_target_names(target))
        elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
            names.extend(_target_names(stmt.target))
        elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
            for alias in stmt.names:
                names.append((alias.asname or alias.name).split(".")[0])
    return names


@pytest.mark.parametrize("path", sorted(PLANS.glob("*.py")), ids=lambda p: p.name)
def test_no_module_level_name_bound_twice(path):
    counts = Counter(module_bindings(ast.parse(path.read_text())))
    twice = sorted(name for name, n in counts.items() if n > 1)
    assert not twice, f"{path.name} binds {twice} more than once"
