"""Exact-substring passage dedup (plans/queries_dedup.py::
dedup_exact_substring): the winnowed fingerprint selection is checked
against a brute-force Python reference, with the planted passage at
DIFFERENT offsets in the two docs — the offset-robustness that killed
the strided first cut (spans only matched when copies aligned modulo
the stride)."""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from sp500_stock_etl_spark.plans.queries_dedup import (
    _SPAN_W,
    _SPAN_WIN,
    winnowed_fingerprints,
)
from sp500_stock_etl_spark.plans.registry import all_queries


def _norm_tokens(text: str) -> list[str]:
    t = re.sub(r"\s+", " ", text.lower()).strip()
    return t.split(" ") if t else []


def _ref_fps(text: str) -> set[str]:
    toks = _norm_tokens(text)
    if len(toks) < _SPAN_W:
        return set()
    hs = [
        hashlib.md5(" ".join(toks[i : i + _SPAN_W]).encode()).hexdigest()
        for i in range(len(toks) - _SPAN_W + 1)
    ]
    if len(hs) < _SPAN_WIN:
        return {min(hs)}
    return {
        min(hs[w : w + _SPAN_WIN]) for w in range(len(hs) - _SPAN_WIN + 1)
    }


def test_winnowed_fps_match_reference_and_are_offset_robust(spark):
    # 24-token passage (>= W + WIN - 1 = 23 guarantees a shared
    # fingerprint) planted at offset 0 in doc 0 and offset 5 (NOT a
    # multiple of anything) in doc 2.
    passage = " ".join(f"tok{i}" for i in range(_SPAN_W + _SPAN_WIN))
    texts = {
        0: passage + " tailone tailtwo tailthree",
        1: "unrelated words here that never repeat anywhere at all "
           "plus more unique padding tokens making spans distinct "
           "alpha beta gamma delta epsilon zeta eta theta",
        2: "five lead words go here " + passage,
        3: "short doc",  # under span width -> no fingerprints
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    from sp500_stock_etl_spark.functions.text import tokens

    tokd = df.select("doc_id", tokens(F.col("text")).alias("toks"))
    got: dict[int, set[str]] = {}
    for r in winnowed_fingerprints(tokd).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for doc_id, text in texts.items():
        want = _ref_fps(text)
        assert got.get(doc_id, set()) == want, doc_id
    # Offset robustness: docs 0 and 2 share at least one fingerprint
    # despite the different offsets; doc 1 shares none.
    assert got[0] & got[2], "planted passage must fire across offsets"
    assert not (got[1] & (got[0] | got[2]))


def test_registered_query_runs_and_covers_all_docs(spark, sf_dir):
    q = all_queries()["dedup_exact_substring"]
    out = q.spark_fn(spark, sf_dir)
    from sp500_stock_etl_spark.io.readers import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()
    rows = out.collect()
    assert len(rows) == n_docs
    assert all(0 <= r["dup_bp"] <= 10000 for r in rows)


def test_winnowed_fps_property_random_corpora(spark):
    """Hypothesis-style randomized pinning (fixed seeds, deterministic):
    winnowed fingerprints over random small-vocabulary corpora must
    equal the Python reference for every doc — random token counts
    straddle the W and WIN boundaries (including the degenerate
    len(hs) < WIN single-fingerprint rule)."""
    import random

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(9)]  # small vocab -> natural repeats
    texts = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60)))
        for d in range(40)
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    from sp500_stock_etl_spark.functions.text import tokens

    tokd = df.select("doc_id", tokens(F.col("text")).alias("toks"))
    got: dict[int, set[str]] = {}
    for r in winnowed_fingerprints(tokd).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for doc_id, text in texts.items():
        want = _ref_fps(text)
        assert got.get(doc_id, set()) == want, (doc_id, text)
