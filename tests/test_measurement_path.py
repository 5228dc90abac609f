"""Guards for the single measurement path.

1. Every ``scripts/<name>.py`` that product code, tests or README.md
   names exists: a docstring cites a tool a reader can run, or the
   committed evidence file the tool produced.
2. Product code reads only the deployment env vars. A switch that
   flips an operator's code path from the environment is a second
   configuration that tests and the benchmark do not cover; tests
   substitute module functions with ``monkeypatch`` instead.
"""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "sp500_stock_etl_spark"
DEPLOYMENT_ENV = {
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_LOCK_BACKEND",
}


def _py_files(root: Path) -> list[Path]:
    return sorted(root.rglob("*.py"))


def test_cited_scripts_exist():
    cited_from = [*_py_files(PKG), *_py_files(ROOT / "tests")]
    cited_from.append(ROOT / "README.md")
    missing = {
        f"{path.relative_to(ROOT)}: {rel}"
        for path in cited_from
        for rel in re.findall(r"scripts/\w+\.py", path.read_text())
        if not (ROOT / rel).is_file()
    }
    assert not missing, sorted(missing)


def test_product_reads_only_deployment_env():
    extra = {
        f"{path.relative_to(ROOT)}: {name}"
        for path in _py_files(PKG)
        for name in re.findall(r"SPARK_GRAFT_\w+", path.read_text())
        if name not in DEPLOYMENT_ENV
    }
    assert not extra, sorted(extra)
