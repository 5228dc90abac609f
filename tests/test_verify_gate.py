"""The size-gated Jaccard verify (operators/dedup.py, r11): a
provably-bounded candidate set takes a zero-shuffle broadcast plan;
anything the gate cannot bound takes the spill-safe aggregate shape
(shape 3, the r10 OOM fix). Pins:

1. the two shapes are BIT-IDENTICAL on the same input;
2. the gate routes by the byte budget, so the prefix_jaccard-style
   unbounded candidate volume can never reach a broadcast build;
3. empty candidate sets are handled by both shapes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sp500_stock_etl_spark.operators import dedup as D

SHAPES = {"broadcast": True, "agg": False}


def _corpus(spark):
    rows = []
    for i in range(60):
        words = " ".join(f"w{(i * 7 + k) % 23}" for k in range(12))
        rows.append((i, words))
        if i % 5 == 0:  # planted near-dup
            rows.append((1000 + i, words + " tail"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shapes_bit_identical(spark, monkeypatch):
    docs = _corpus(spark)
    results = {}
    for shape, fast in SHAPES.items():
        monkeypatch.setattr(D, "_verify_size_gate", lambda p, s: fast)
        out = D.minhash_lsh_dedup(docs, "doc_id", "text")
        results[shape] = sorted(map(tuple, out.collect()))
    assert results["broadcast"] == results["agg"]
    assert len(results["agg"]) > 0, "fixture must produce near-dups"


def test_gate_routes_by_budget(spark, monkeypatch):
    docs = _corpus(spark)
    sh = D.with_shingles(docs, "doc_id", "text", 3)
    pairs = spark.createDataFrame(
        [(0, 1000), (5, 1005)], "doc_a long, doc_b long"
    )
    # A 1-byte budget can never admit a broadcast build.
    monkeypatch.setattr(D, "_verify_budget_bytes", lambda spark: 1.0)
    assert D._verify_size_gate(pairs, sh) is False
    # A huge budget admits this tiny candidate set.
    monkeypatch.setattr(D, "_verify_budget_bytes", lambda spark: 1e12)
    assert D._verify_size_gate(pairs, sh) is True


def test_empty_candidates_both_shapes(spark, monkeypatch):
    docs = _corpus(spark)
    sh = D.with_shingles(docs, "doc_id", "text", 3)
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    for fast in SHAPES.values():
        monkeypatch.setattr(D, "_verify_size_gate", lambda p, s: fast)
        out = D.jaccard_verify(empty, sh, 0.6)
        assert out.count() == 0
        assert out.columns == ["doc_a", "doc_b", "jaccard"]


def test_gate_decision_trail(spark):
    docs = _corpus(spark)
    D.LAST_GATE_DECISIONS.clear()
    D.minhash_lsh_dedup(docs, "doc_id", "text").count()
    assert len(D.LAST_GATE_DECISIONS) == 1
    rec = D.LAST_GATE_DECISIONS[0]
    assert {"n_pairs", "est_total", "budget", "fast"} <= set(rec)
    assert rec["fast"] is True  # tiny corpus must take the fast path


def test_jaccard_expr_matches_distinct_concat_union(spark):
    """r14: the verify's union is inclusion-exclusion
    (|A|+|B|-|A∩B|) instead of size(array_distinct(concat)). Pin the
    two expressions bit-identical on distinct-element arrays covering
    disjoint / partial / identical / subset overlaps — the full range
    the verify can see (with_shingles arrays are always distinct)."""
    rows = [
        (["a", "b", "c"], ["x", "y"]),          # disjoint
        (["a", "b", "c"], ["b", "c", "d"]),     # partial
        (["a", "b"], ["a", "b"]),               # identical
        (["a", "b", "c", "d"], ["b", "c"]),     # subset
        (["a"], ["a", "z", "q", "r"]),          # skewed sizes
    ]
    df = spark.createDataFrame(
        rows, "sh_a array<string>, sh_b array<string>"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    old_union = F.size(F.array_distinct(F.concat("sh_a", "sh_b"))).cast(
        "double"
    )
    got = df.select(
        D._jaccard_expr().alias("new"), (inter / old_union).alias("old")
    ).collect()
    for r in got:
        assert r["new"] == r["old"]  # bitwise (both exact doubles)
