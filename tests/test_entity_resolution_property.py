"""Property test for the deletion-neighborhood (FastSS) blocking in
entity resolution: on random short strings, the blocked+verified
pipeline must return EXACTLY the brute-force set of pairs at
Levenshtein distance <= 1 — the pigeonhole claim ("any dist<=1 pair
shares a delete-one variant") is what makes the r6 blocking rework
safe, so it gets its own adversarial pin beyond the registry oracle
(which only exercises the planted TPC-H shapes).
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from sp500_stock_etl_spark.plans.queries_dedup import resolve_entities_lev1

_NAMES = st.text(alphabet="abc", min_size=0, max_size=6)


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@settings(max_examples=20, deadline=None)
@given(st.lists(_NAMES, min_size=1, max_size=10))
def test_deletion_neighborhood_is_exact(spark, names):
    rows = [(i, n, 0, "SEG") for i, n in enumerate(names)]
    base = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, c_mktsegment string",
    )
    got = {
        (r["key_a"], r["key_b"], r["dist"])
        for r in resolve_entities_lev1(base).collect()
    }
    want = {
        (i, j, _lev(names[i], names[j]))
        for i in range(len(names))
        for j in range(i + 1, len(names))
        if _lev(names[i], names[j]) <= 1
    }
    assert got == want, (names, got ^ want)
