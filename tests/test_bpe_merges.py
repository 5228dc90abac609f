"""BPE merge learning (operators/text_analysis.bpe_learn_merges) must
be EXACTLY the sequential Sennrich-style algorithm: the distributed
pair count + greedy left-to-right merge per round reproduces a pure
Python reference bit for bit, including tie-breaks ((count DESC,
left, right)) and overlap semantics ('aaa' + merge (a,a) -> [aa, a],
never [a, aa])."""

from __future__ import annotations

from collections import Counter

from sp500_stock_etl_spark.functions.text import norm_text  # noqa: F401
from sp500_stock_etl_spark.operators.text_analysis import bpe_learn_merges


def _reference_bpe(texts: list[str], k: int):
    vocab = Counter()
    for t in texts:
        for w in " ".join(t.lower().split()).split(" "):
            if w:
                vocab[w] += 1
    words = {w: list(w) for w in vocab}
    out = []
    for rank in range(k):
        pairs = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += vocab[w]
        if not pairs:
            break
        (l, r), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((rank, l, r, n))
        for w, syms in words.items():
            acc = []
            for s in syms:
                if acc and acc[-1] == l and s == r:
                    acc[-1] = l + r
                else:
                    acc.append(s)
            words[w] = acc
    return out


def _check(spark, texts, k):
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_learn_merges(df, k=k).collect()]
    assert got == _reference_bpe(texts, k)


def test_bpe_matches_reference_simple(spark):
    _check(spark, ["the cat sat on the mat", "the cat ate the rat"], 6)


def test_bpe_overlap_and_ties(spark):
    # 'aaaa' exercises greedy overlap; 'bc bd cd' forces count ties
    # that only the (left, right) lexicographic rule resolves.
    _check(spark, ["aaaa aaa aa", "bc bd cd bc bd cd"], 8)


def test_bpe_on_documents(spark, sf_dir):
    from sp500_stock_etl_spark.io.readers import load_table

    docs = load_table(spark, sf_dir, "documents").limit(100)
    texts = [r.text for r in docs.select("text").collect()]
    df = docs.select("doc_id", "text")
    got = [tuple(r) for r in bpe_learn_merges(df, k=5).collect()]
    assert got == _reference_bpe(texts, 5)


def _reference_encode(texts: list[str], merges: list[tuple[str, str]]):
    """Sequential Sennrich APPLY: char symbols per token, each merge
    replayed in rank order with the same greedy left-to-right fold."""
    import hashlib

    out = []
    for doc_id, t in enumerate(texts):
        toks = [w for w in " ".join(t.lower().split()).split(" ") if w]
        syms_per_tok = [list(w) for w in toks]
        for l, r in merges:
            nxt = []
            for syms in syms_per_tok:
                acc = []
                for s in syms:
                    if acc and acc[-1] == l and s == r:
                        acc[-1] = l + r
                    else:
                        acc.append(s)
                nxt.append(acc)
            syms_per_tok = nxt
        flat = [s for syms in syms_per_tok for s in syms]
        fp = hashlib.md5("\x1f".join(flat).encode("utf-8")).hexdigest()
        out.append((doc_id, len(toks), len(flat), fp))
    return out


def test_bpe_encode_roundtrip(spark):
    """Train on a corpus, encode the same corpus: the distributed
    fold-replay must equal the sequential reference encoder row for
    row (counts AND the symbol-sequence fingerprint)."""
    from sp500_stock_etl_spark.operators.text_analysis import bpe_encode

    texts = ["the cat sat on the mat", "the cat ate the rat", "aaaa aaa aa"]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    merges = [
        (r["left"], r["right"]) for r in bpe_learn_merges(df, k=6).collect()
    ]
    got = sorted(
        tuple(r) for r in bpe_encode(df, merges).collect()
    )
    assert got == sorted(_reference_encode(texts, merges))


def test_bpe_encode_on_documents(spark, sf_dir):
    from sp500_stock_etl_spark.io.readers import load_table
    from sp500_stock_etl_spark.operators.text_analysis import bpe_encode

    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(60)
    texts = [r.text for r in docs.select("text").collect()]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    merges = [
        (r["left"], r["right"]) for r in bpe_learn_merges(df, k=5).collect()
    ]
    got = sorted(tuple(r) for r in bpe_encode(df, merges).collect())
    assert got == sorted(_reference_encode(texts, merges))


def test_pretrained_merge_table_provenance(spark):
    """The literal BPE_PRETRAINED_MERGES baked into the registry query
    (plans/queries_corpus.py) must be exactly what the trainer learns from
    the sf0.001 documents corpus — pins the table's documented
    provenance so a testdata regeneration can't silently desync it."""
    from sp500_stock_etl_spark.io.readers import load_table
    from sp500_stock_etl_spark.plans.queries_corpus import (
        BPE_PRETRAINED_MERGES,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    learned = tuple(
        (r["left"], r["right"])
        for r in bpe_learn_merges(docs, "text", k=8).collect()
    )
    assert learned == BPE_PRETRAINED_MERGES
