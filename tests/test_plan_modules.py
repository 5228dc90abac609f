"""Static layout guards for the package modules.

A module-level name bound twice in a plan module (``plans/*.py``) is a
silent override: every function body that reads the name gets the last
binding, whichever constant it meant. Two families that share a module
keep distinct names instead.

A top-level function, class or constant that no code outside
``tests/`` refers to is an API only tests run; it goes, unless the
allowlist below says why a test needs it.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "sp500_stock_etl_spark"
PLANS = PACKAGE / "plans"

# Top-level names with no caller outside tests/ that stay, and why.
TEST_ONLY_ALLOWED = {
    "srp_band_rows": "reference layout tests/test_similarity_lsh.py checks "
    "the SRP query path against",
    "jpeg_corpus_pixel": "pixel oracle of tests/test_jpeg_codec.py",
    "EVENTS_RAW": "raw landing schema tests/test_streaming.py writes files with",
    "inertia": "k-means invariant tests/test_clustering.py checks",
    "validate_symbols": "the reference's extract_symbols stage "
    "(dags/sp500_dag.py.py:51-60)",
    "ObjectStoreSimBackend": "fake object store the commit-lock protocol "
    "tests run against",
    "__version__": "package version",
}


def _target_nodes(node: ast.AST):
    """The ``ast.Name`` nodes an assignment target binds."""
    if isinstance(node, ast.Name):
        yield node
    elif isinstance(node, (ast.Tuple, ast.List)):
        for elt in node.elts:
            yield from _target_nodes(elt)
    elif isinstance(node, ast.Starred):
        yield from _target_nodes(node.value)


def _target_names(node: ast.AST):
    return [n.id for n in _target_nodes(node)]


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


def _non_test_sources() -> list[Path]:
    """The package, the entry points, scripts/ and perfbench/'s
    non-test files."""
    files = sorted(PACKAGE.rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / "scripts").glob("*.py"))
    files += sorted(
        p for p in (ROOT / "perfbench").glob("*.py")
        if not p.name.startswith("test_")
    )
    return files


def _is_register(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    return name == "register"


def _definitions(tree: ast.Module):
    """(name, defining node) of each top-level function, class and
    constant, except functions registered with ``@register``."""
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not any(_is_register(d) for d in stmt.decorator_list):
                yield stmt.name, stmt
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
            for target in targets:
                for node in _target_nodes(target):
                    yield node.id, node


def _references(tree: ast.AST, skip: set[int]) -> Counter:
    """Names, attribute names and imported names used in ``tree``,
    leaving out the nodes in ``skip`` (the definitions themselves)."""
    refs: Counter = Counter()
    for node in ast.walk(tree):
        if id(node) in skip:
            continue
        if isinstance(node, ast.Name):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            refs[node.name.split(".")[-1]] += 1
    return refs


def test_no_top_level_name_only_tests_use():
    trees = {p: ast.parse(p.read_text()) for p in _non_test_sources()}
    defined: dict[str, list[str]] = {}
    refs: Counter = Counter()
    for path, tree in trees.items():
        skip = set()
        own: Counter = Counter()
        if path.is_relative_to(PACKAGE):
            for name, node in _definitions(tree):
                skip.add(id(node))
                defined.setdefault(name, []).append(str(path.relative_to(ROOT)))
                if not isinstance(node, ast.Name):
                    # A recursive call is part of the definition.
                    own[name] += _references(node, set())[name]
        refs += _references(tree, skip)
        refs -= own
    unused = sorted(
        f"{name} ({', '.join(where)})"
        for name, where in defined.items()
        if not refs[name] and name not in TEST_ONLY_ALLOWED
    )
    assert not unused, f"top-level names no non-test code refers to: {unused}"
    stale = sorted(name for name in TEST_ONLY_ALLOWED if refs[name])
    assert not stale, f"allowlisted names that now have callers: {stale}"


def _calls_named(tree: ast.AST, name: str):
    """Calls of ``name`` or ``<anything>.name`` in ``tree``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if getattr(f, "attr", None) == name or getattr(f, "id", None) == name:
                yield node


def test_one_temp_dir_helper():
    """Every scratch directory comes from ``caching.temp_dir``, which
    removes it at exit; a bare ``mkdtemp`` elsewhere leaks one
    directory per call."""
    calls = [
        str(path.relative_to(ROOT))
        for path in sorted(PACKAGE.rglob("*.py"))
        for _ in _calls_named(ast.parse(path.read_text()), "mkdtemp")
    ]
    assert calls == ["sp500_stock_etl_spark/caching.py"], calls


def _reads_parquet(call: ast.Call) -> bool:
    """Whether ``call`` is ``<…>.read<…>.parquet(…)``."""
    if getattr(call.func, "attr", None) != "parquet":
        return False
    node = call.func.value
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute) and node.attr == "read":
            return True
        node = node.value if isinstance(node, ast.Attribute) else node.func
    return False


def test_parquet_schema_inferred_only_in_readers():
    """A table's read schema is decided in ``io/readers.py``: taking
    ``.schema`` of a ``spark.read…parquet(…)`` anywhere else is a
    second inference, one footer-reading Spark job per call."""
    readers = PACKAGE / "io" / "readers.py"
    peeks = [
        f"{path.relative_to(ROOT)}:{node.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != readers
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute)
        and node.attr == "schema"
        and isinstance(node.value, ast.Call)
        and _reads_parquet(node.value)
    ]
    assert not peeks, f"parquet schema inferred outside io/readers.py: {peeks}"
