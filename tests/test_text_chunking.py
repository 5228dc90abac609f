"""Chunking operator (operators/text_analysis.chunk_documents).

The oracle-checked registry queries cover chunking and the
token-segment boilerplate plans on the synthetic corpus; these tests
cover the chunk geometry edge cases on fabricated documents.
"""

from __future__ import annotations

import pytest

from sp500_stock_etl_spark.operators import text_analysis as TA


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_chunk_geometry_and_overlap(spark):
    # 10 tokens, size 4, stride 3 → starts 0,3,6,9 → lengths 4,4,4,1.
    text = " ".join(f"w{i}" for i in range(10))
    out = TA.chunk_documents(
        _docs(spark, [(1, text)]), chunk_tokens=4, stride=3
    ).collect()
    got = {(r.chunk_id, r.n_chunk_tokens, r.chunk_text) for r in out}
    assert got == {
        (0, 4, "w0 w1 w2 w3"),
        (1, 4, "w3 w4 w5 w6"),
        (2, 4, "w6 w7 w8 w9"),
        (3, 1, "w9"),
    }


def test_chunk_empty_and_whitespace_docs_yield_nothing(spark):
    out = TA.chunk_documents(
        _docs(spark, [(1, ""), (2, "   "), (3, "one")]), chunk_tokens=4, stride=4
    ).collect()
    assert {(r.doc_id, r.chunk_text) for r in out} == {(3, "one")}


def test_chunk_rejects_bad_geometry(spark):
    with pytest.raises(ValueError):
        TA.chunk_documents(_docs(spark, [(1, "a b")]), chunk_tokens=0, stride=4)
    with pytest.raises(ValueError):
        TA.chunk_documents(_docs(spark, [(1, "a b")]), chunk_tokens=4, stride=0)
