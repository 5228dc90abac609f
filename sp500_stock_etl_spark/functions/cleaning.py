"""Cleansing / validation expressions (SURVEY.md §2.3 P1-P8, §2.10).

The reference's symbol validation (dags/sp500_dag.py.py:52-60):
trim → non-empty → len<=5 → ``s.replace('.','').replace('-','').isalnum()``.
Python ``isalnum()`` is Unicode-aware; the engine pins the ASCII class
``^[a-zA-Z0-9]+$`` for cross-engine determinism (SURVEY.md §2.3 P4).
replace-replace is kept (rather than translate) because DuckDB oracles
use the identical call shape.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

ASCII_ALNUM = "^[a-zA-Z0-9]+$"


def valid_symbol(col: Column) -> Column:
    """P3+P4: the reference's ticker-validity predicate on a trimmed
    string column."""
    stripped = F.replace(F.replace(col, F.lit("."), F.lit("")), F.lit("-"), F.lit(""))
    return (
        col.isNotNull()
        & (col != "")
        & (F.length(col) <= 5)
        & stripped.rlike(ASCII_ALNUM)
    )


def sql_valid_symbol(expr: str) -> str:
    """The same predicate as DuckDB SQL text."""
    stripped = f"replace(replace({expr}, '.', ''), '-', '')"
    return (
        f"({expr} IS NOT NULL AND {expr} <> '' AND length({expr}) <= 5 "
        f"AND regexp_matches({stripped}, '{ASCII_ALNUM}'))"
    )

