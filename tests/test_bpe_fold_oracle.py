"""The DuckDB-side BPE merge replay (plans/queries_corpus.py::
_sql_bpe_fold) must implement the exact greedy left-to-right fold the
Catalyst encoder uses. A plain string replace is NOT faithful (for a
run of 5+ identical symbols the non-overlapping scan pairs them
differently), so the list_reduce fold is property-pinned here against
a Python reference on random words and merge tables — no Spark
session needed, this is a DuckDB-vs-reference check."""

from __future__ import annotations

import random

import duckdb

from sp500_stock_etl_spark.plans.queries_corpus import (
    BPE_PRETRAINED_MERGES,
    _sql_bpe_fold,
)


def _py_fold(syms: list[str], left: str, right: str) -> list[str]:
    acc: list[str] = []
    for s in syms:
        if acc and acc[-1] == left and s == right:
            acc[-1] = acc[-1] + right
        else:
            acc.append(s)
    return acc


def _duck_encode(con, word: str, merges) -> list[str]:
    expr = (
        f"list_transform(generate_series(1, length('{word}')), "
        f"i -> '{word}'[i])"
    )
    for i, (le, ri) in enumerate(merges):
        src = expr if i == 0 else f"string_split({expr}, chr(31))"
        expr = _sql_bpe_fold(src, le, ri)
    return con.execute(f"select string_split({expr}, chr(31))").fetchone()[0]


def test_fold_matches_reference_on_random_words():
    con = duckdb.connect()
    rng = random.Random(7)
    merge_pool = [
        ("a", "a"), ("a", "b"), ("b", "a"), ("aa", "b"),
        ("b", "aab"), ("ab", "ab"), ("a", "ba"),
    ]
    for _ in range(400):
        w = "".join(rng.choice("ab") for _ in range(rng.randint(1, 10)))
        merges = merge_pool[: rng.randint(1, len(merge_pool))]
        syms = list(w)
        for le, ri in merges:
            syms = _py_fold(syms, le, ri)
        assert _duck_encode(con, w, merges) == syms, (w, merges)


def test_fold_matches_reference_on_pretrained_table():
    con = duckdb.connect()
    words = [
        "error", "order", "winner", "paraparapar", "lululu", "star",
        "part", "arrow", "inin", "stst", "x", "perror",
    ]
    for w in words:
        syms = list(w)
        for le, ri in BPE_PRETRAINED_MERGES:
            syms = _py_fold(syms, le, ri)
        assert _duck_encode(con, w, list(BPE_PRETRAINED_MERGES)) == syms, w


def test_odd_run_shows_replace_is_unfaithful():
    """Documents WHY the fold is a list_reduce, not a string replace:
    greedy folding of 'aaaaa' under merge (a,a) yields [aa, aa, a],
    while a separator-delimited non-overlapping replace would yield
    [aa, a, aa] — same merge count, different segmentation."""
    syms = _py_fold(list("aaaaa"), "a", "a")
    assert syms == ["aa", "aa", "a"]
    s = "|a|a|a|a|a|"
    replaced = s.replace("|a|a|", "|aa|")
    assert replaced == "|aa|a|aa|"  # the unfaithful segmentation
