"""Round-7 query extensions: the deterministic-init PQ encode twin
(closing the oracle-expressible half of the PQ family, r6 verdict
item 2), the incremental signature-store dedup workflow (item 3 — the
batch twin of streaming_corpus_dedup and the capstone use of the
bucketed layout), and two TPC-DS-shaped analytics (item 8: rollup x
ranking, cumulative-max channel cross-check).

Same contract as every other plans module: each query is registered
with a DuckDB oracle built from the SAME parameters, all terminal
columns aliased identically on both sides, arithmetic either integer
or pinned-order double so hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io.readers import load_table
from .registry import register

# ---------------------------------------------------------------------------
# embedding_pq_encode_init — product quantization with the
# DETERMINISTIC iters=0 codebook (init = the k lowest vec_ids'
# subvectors per subspace, pure SQL), so the ENCODE half of the PQ
# family is fully hash-checkable (r6 verdict: "only trained-codebook
# PQ stays rows-only"). Same code path as embedding_pq_codebooks
# (operators/similarity.py::pq_codebooks_encode) with the Lloyd loop
# skipped; the oracle recomputes every squared distance with the
# IDENTICAL left-to-right float fold (0.0-seeded prefix sum), so
# distances — and therefore argmin codes and the reconstruction
# error — are bit-equal.
# ---------------------------------------------------------------------------

_PQ_M = 4
_PQ_K = 8
_PQ_DIMS = 64
_PQ_SUB = _PQ_DIMS // _PQ_M

_PQ_INIT_ORACLE = f"""
WITH e AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
sub AS (
    SELECT vec_id, s.s AS s,
           list_slice(v, s.s * {_PQ_SUB} + 1, s.s * {_PQ_SUB} + {_PQ_SUB}) AS sv
    FROM e, (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s) s
),
seed AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, v
    FROM e ORDER BY vec_id LIMIT {_PQ_K}
),
seedsub AS (
    SELECT code, s.s AS s,
           list_slice(v, s.s * {_PQ_SUB} + 1, s.s * {_PQ_SUB} + {_PQ_SUB}) AS c
    FROM seed, (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s) s
),
dists AS (
    SELECT sub.vec_id, sub.s, seedsub.code,
           list_reduce(
               list_prepend(0.0, list_transform(
                   generate_series(1, {_PQ_SUB}),
                   i -> (sv[i] - c[i]) * (sv[i] - c[i]))),
               (a, b) -> a + b) AS d
    FROM sub JOIN seedsub USING (s)
),
best AS (
    SELECT vec_id, s, min(d) AS bd FROM dists GROUP BY 1, 2
),
codes AS (
    SELECT d.vec_id, d.s, b.bd, min(d.code) AS code
    FROM dists d
    JOIN best b ON d.vec_id = b.vec_id AND d.s = b.s AND d.d = b.bd
    GROUP BY 1, 2, 3
)
SELECT vec_id,
       CAST(max(CASE WHEN s = 0 THEN code END) AS INT) AS code_0,
       CAST(max(CASE WHEN s = 1 THEN code END) AS INT) AS code_1,
       CAST(max(CASE WHEN s = 2 THEN code END) AS INT) AS code_2,
       CAST(max(CASE WHEN s = 3 THEN code END) AS INT) AS code_3,
       ((max(CASE WHEN s = 0 THEN bd END)
         + max(CASE WHEN s = 1 THEN bd END))
         + max(CASE WHEN s = 2 THEN bd END))
         + max(CASE WHEN s = 3 THEN bd END) AS recon_sq_err
FROM codes
GROUP BY vec_id
"""


@register(
    "embedding_pq_encode_init",
    _PQ_INIT_ORACLE,
    doc="product-quantization ENCODE with the deterministic iters=0 "
    "codebook (init = k lowest ids' subvectors — pure SQL), making "
    "the encode half of the PQ family fully hash-checkable; the "
    "trained-codebook twin embedding_pq_codebooks stays rows-only "
    "(kmeans family) (r7, r6 verdict item 2)",
)
def q_embedding_pq_encode_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_codebooks_encode

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_codebooks_encode(
        emb, m=_PQ_M, k=_PQ_K, iters=0, dims=_PQ_DIMS
    )


# ---------------------------------------------------------------------------
# Incremental corpus refresh against a PERSISTED signature store (r6
# verdict item 3) — the 100 TB workflow the dedup family lacked: dedup
# a NEW document batch against an existing corpus WITHOUT rescanning
# the corpus. The store holds one (doc_id, band_key) row per LSH band
# (band_key = band_sig * bands + band — a single join/bucket column),
# written hash-bucketed on band_key (io/writers.write_bucketed_table):
# the store side of the candidate join streams bucket-to-bucket with
# no exchange while only the (small) new batch shuffles. Corpus TEXT
# is touched exactly twice: once when the store is (re)built — in
# production that write persists across refreshes and is NOT re-run —
# and once per refresh for the Jaccard verify of CANDIDATE docs only
# (a semi-join-pruned fetch, not a corpus scan). Survivor signatures
# append as a DELTA table (own path, overwrite mode → replay-
# idempotent; compact_parquet is the maintenance story for delta
# buildup). This is the batch twin of streaming_corpus_dedup and the
# capstone use of the §7.4 bucketed layout.
#
# Test-scale note: the driver query rebuilds the store each run so it
# is self-contained and session-idempotent; the incremental claim is
# the PLAN shape (store parquet joined, corpus text only in the
# pruned verify fetch), pinned in tests/test_incremental_dedup.py,
# and the 10x scale probe (corpus grows, refresh cost tracks the new
# batch + collisions — BASELINE.md §9).
# ---------------------------------------------------------------------------

_INC_NUM_HASHES, _INC_BANDS, _INC_NGRAM, _INC_JT = 12, 4, 3, 0.6
_INC_BUCKETS = 8


def _inc_band_key_rows(
    df: DataFrame | None = None, shingled: DataFrame | None = None
) -> DataFrame:
    """(doc_id, band_key) for a (doc_id, text) frame — the store row
    format. band_key = band_sig * bands + band packs the compound LSH
    bucket id into ONE int64 (band_sig < 3·2^32, bands=4 → < 2^35).
    Pass ``shingled`` to reuse an already-computed (and typically
    persisted) shingle frame instead of re-tokenizing ``df`` — the
    refresh pipeline feeds the SAME shingles to the signature pass
    and the Jaccard verify, exactly like minhash_lsh_dedup."""
    from ..operators.dedup import (
        _band_buckets,
        minhash_signature,
        with_shingles,
    )

    sh = (
        shingled
        if shingled is not None
        else with_shingles(df, "doc_id", "text", _INC_NGRAM)
    )
    bb = _band_buckets(
        minhash_signature(sh, _INC_NUM_HASHES), _INC_NUM_HASHES, _INC_BANDS
    )
    return bb.select(
        "doc_id",
        (F.col("band_sig") * _INC_BANDS + F.col("band")).alias("band_key"),
    )


def _inc_corpus_and_new(spark: SparkSession, sf_dir: str):
    """corpus = the documents table; new batch = the deterministic
    corrupted variants from the shared near-dup fixture (doc_id%5==0,
    first 80% of tokens, id offset +10M) — the 'new crawl' that
    contains near-dups of existing docs plus potential intra-batch
    dups."""
    from .queries_northstar import _docs_with_neardups, _NEARDUP_OFFSET

    both = _docs_with_neardups(spark, sf_dir)
    corpus = both.where(F.col("doc_id") < _NEARDUP_OFFSET)
    new = both.where(F.col("doc_id") >= _NEARDUP_OFFSET)
    return corpus, new, _NEARDUP_OFFSET


# One store directory per INVOCATION (r7-advice fix: a process-wide
# singleton only deduped within one process — every new bench/sweep/
# driver process left its mkdtemp behind, accumulating corpus-sized
# parquet stores in /tmp). Each invocation now gets a fresh dir with
# an atexit rmtree, so (a) nothing outlives the process, and (b) two
# concurrent invocations — the qps-probe serving mix runs these from
# 8 threads — never overwrite each other's files or catalog entries
# (table names carry the same per-invocation token).
_STORE_SEQ = __import__("itertools").count()


def _inc_store_ctx() -> tuple[str, str]:
    """(store_dir, per-invocation table-name token)."""
    import atexit
    import shutil
    import tempfile

    k = next(_STORE_SEQ)
    d = tempfile.mkdtemp(prefix=f"sg_sigstore_{k}_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d, str(k)


def _inc_build_store(
    spark: SparkSession, corpus: DataFrame, base_dir: str, tok: str
):
    """(Re)build the bucketed base store from the corpus. In
    production this write persists across refreshes and is NOT
    re-run; the registered queries rebuild it so each run is
    self-contained and session-idempotent."""
    from ..io.writers import write_bucketed_table

    write_bucketed_table(
        _inc_band_key_rows(corpus),
        f"sg_sigstore_base_{tok}",
        "band_key",
        n_buckets=_INC_BUCKETS,
        path=base_dir + "/base",
    )
    return spark.table(f"sg_sigstore_base_{tok}")


def _inc_refresh(store: DataFrame, new: DataFrame, corpus: DataFrame):
    """The REFRESH pipeline — the part a production run repeats per
    batch (timed at a 10x corpus in BASELINE.md §9): new-batch
    signatures, bucket join against the store, intra-batch self-join,
    candidate-pruned Jaccard verify. Returns (verified_pairs,
    new_bands). Shared by both registered queries."""
    from ..caching import track_persist
    from ..operators.dedup import jaccard_verify, with_shingles

    # One shingle pass feeds BOTH the signature computation and the
    # Jaccard verify (the minhash_lsh_dedup persistence pattern).
    new_sh = track_persist(with_shingles(new, "doc_id", "text", _INC_NGRAM))
    new_bands = track_persist(_inc_band_key_rows(shingled=new_sh))

    # --- Candidates: store x new (bucket join — store side unshuffled)
    # plus new x new (intra-batch dups).
    cand_cn = (
        store.alias("c")
        .join(new_bands.alias("n"), "band_key")
        .select(
            F.col("c.doc_id").alias("doc_a"),
            F.col("n.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    nb2 = new_bands.alias("x").join(new_bands.alias("y"), "band_key").where(
        F.col("x.doc_id") < F.col("y.doc_id")
    )
    cand_nn = nb2.select(
        F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
    ).distinct()
    cand = cand_cn.unionByName(cand_nn)

    # --- Verify: corpus shingles fetched ONLY for candidate docs
    # (semi-join prune — the targeted fetch, not a corpus scan).
    cand_corpus_ids = cand_cn.select(F.col("doc_a").alias("doc_id")).distinct()
    corpus_sh = with_shingles(
        corpus.join(cand_corpus_ids, "doc_id", "left_semi"),
        "doc_id",
        "text",
        _INC_NGRAM,
    )
    # PERSIST the verify's shingle frame (r11 serving fix): the verify
    # consumes it twice (both shingle fetches) and the size gate
    # samples it once — unpersisted, each consumer re-ran the semi
    # join's candidate subtree (a store x new bucket join per scan),
    # measured as the whole serving-throughput gap on the 8-thread
    # qps mix. Same pattern as minhash_lsh_dedup's shingled persist.
    verify_sh = track_persist(corpus_sh.unionByName(new_sh))
    verified = jaccard_verify(cand, verify_sh, _INC_JT)
    return verified, new_bands


def _inc_refresh_frames(spark: SparkSession, sf_dir: str):
    """Shared machinery for the two store queries: builds/loads the
    bucketed base store, runs the refresh pipeline, returns
    (verified_pairs, new_bands, neardup_offset, store_base_dir, tok).
    """
    corpus, new, offset = _inc_corpus_and_new(spark, sf_dir)
    base_dir, tok = _inc_store_ctx()
    store = _inc_build_store(spark, corpus, base_dir, tok)
    verified, new_bands = _inc_refresh(store, new, corpus)
    return verified, new_bands, offset, base_dir, tok


def _inc_refresh_oracle() -> str:
    """Batch LSH dedup of (corpus ∪ new) restricted to pairs that
    involve a new doc (doc_a < doc_b and new ids sit above the offset,
    so doc_b >= offset covers corpus x new AND new x new) — the exact
    ground truth the incremental path must reproduce."""
    from .queries_northstar import _NEARDUP_OFFSET, _sql_minhash_oracle

    return (
        f"SELECT * FROM ({_sql_minhash_oracle()}) v "
        f"WHERE doc_b >= {_NEARDUP_OFFSET}"
    )


def _inc_store_oracle() -> str:
    """Post-append store contents from first principles: band rows of
    (corpus ∪ surviving new docs), where survivors are new docs with
    no verified smaller-id partner."""
    from ..functions.text import sql_hash32, sql_tokens, sql_word_shingles
    from ..operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P
    from .queries_northstar import _NEARDUP_OFFSET, _sql_minhash_oracle

    rows = _INC_NUM_HASHES // _INC_BANDS
    mins = ",\n           ".join(
        f"list_aggregate(list_transform(hh, h -> (h * {MINHASH_A[i]} + "
        f"{MINHASH_B[i]}) % {MINHASH_P}), 'min') AS m{i}"
        for i in range(_INC_NUM_HASHES)
    )
    band_rows = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band, "
        + " + ".join(f"m{b * rows + r}" for r in range(rows))
        + " AS band_sig FROM s2"
        for b in range(_INC_BANDS)
    )
    return f"""
WITH verified AS (
    SELECT doc_b FROM ({_sql_minhash_oracle()}) v
    WHERE doc_b >= {_NEARDUP_OFFSET}
),
tokd2 AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
keep AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_NEARDUP_OFFSET} AS doc_id,
           array_to_string(
               list_slice(toks, 1,
                   greatest(3, CAST(floor(len(toks) * CAST(0.8 AS DOUBLE)) AS INT))),
               ' ') AS text
    FROM tokd2
    WHERE doc_id % 5 = 0
      AND doc_id + {_NEARDUP_OFFSET} NOT IN (SELECT doc_b FROM verified)
),
sh2 AS (
    SELECT doc_id, {sql_word_shingles('toks', _INC_NGRAM)} AS sh
    FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM keep) t
),
h2 AS (
    SELECT doc_id, list_transform(sh, s -> {sql_hash32('s')}) AS hh
    FROM sh2 WHERE len(sh) > 0
),
s2 AS (SELECT doc_id, {mins} FROM h2),
b2 AS (
{band_rows}
)
SELECT CAST(band AS INT) AS band,
       count(*) AS n_rows,
       count(DISTINCT doc_id) AS n_docs,
       CAST(sum(band_sig) AS BIGINT) AS sig_checksum
FROM b2
GROUP BY band
"""


@register(
    "dedup_incremental_refresh",
    _inc_refresh_oracle(),
    doc="incremental near-dup refresh: new batch LSH-joined against "
    "the persisted bucketed band-signature store (store side "
    "unshuffled; corpus text only in the semi-join-pruned verify "
    "fetch) + intra-batch self-join; oracle = full batch dedup of "
    "(corpus ∪ new) restricted to new-doc pairs (r7, r6 verdict "
    "item 3)",
)
def q_dedup_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    verified, _, _, _, _ = _inc_refresh_frames(spark, sf_dir)
    return verified


@register(
    "dedup_signature_store_roundtrip",
    _inc_store_oracle(),
    doc="signature-store write→append→read cycle: base store rebuilt, "
    "surviving new docs' band rows appended as an overwrite-mode "
    "delta table (replay-idempotent), then base ∪ delta read back "
    "and aggregated per band; oracle recomputes the post-append "
    "store from first principles (r7, r6 verdict item 3)",
)
def q_dedup_signature_store_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..io.writers import write_bucketed_table_atomic

    verified, new_bands, offset, base_dir, tok = _inc_refresh_frames(
        spark, sf_dir
    )

    # Keep-min survivor policy: a new doc is dropped iff it has a
    # verified partner with a smaller id (it is the doc_b of some
    # pair; cluster-level resolution is connected_components' job).
    dropped = verified.select(F.col("doc_b").alias("doc_id")).distinct()
    survivors = new_bands.join(dropped, "doc_id", "left_anti")

    # Delta append: own table + path, overwrite mode — replaying the
    # same batch overwrites the same delta (idempotent), never dupes.
    # Atomic variant (r9 verdict item 3): the delta lands in a
    # per-invocation staging dir and publishes via one rename, so no
    # two write jobs — not even a replay of this one — ever share a
    # FileOutputCommitter namespace.
    write_bucketed_table_atomic(
        survivors,
        f"sg_sigstore_delta_{tok}",
        "band_key",
        n_buckets=_INC_BUCKETS,
        path=base_dir + "/delta",
    )
    store_after = spark.table(f"sg_sigstore_base_{tok}").unionByName(
        spark.table(f"sg_sigstore_delta_{tok}")
    )
    return store_after.select(
        (F.col("band_key") % _INC_BANDS).cast("int").alias("band"),
        F.expr(f"band_key div {_INC_BANDS}").alias("band_sig"),
        "doc_id",
    ).groupBy("band").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("band_sig").cast("bigint").alias("sig_checksum"),
    )


# ---------------------------------------------------------------------------
# TPC-DS-shaped pair (r6 verdict item 8): the rollup x window and
# cumulative-max compositions the TPC-H 22 don't exercise. Portable
# SQL text is query and oracle, like the TPC-H batches.
# ---------------------------------------------------------------------------

# Q67 shape: grouped-rollup sales, then top-k by revenue WITHIN each
# p_mfgr partition — note the rollup SUBTOTAL row (p_brand IS NULL)
# deliberately competes inside its type partition, exactly as
# TPC-DS Q67's category subtotals do. The window is PARTITIONED
# (bounded fan-in per type at any scale); NULLS FIRST pins the one
# cross-engine divergence (Spark defaults NULLS FIRST on ASC, DuckDB
# NULLS LAST).
_TPCDS_Q67_SQL = """
WITH sales AS (
    SELECT p.p_type, p.p_brand,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY ROLLUP (p.p_type, p.p_brand)
),
ranked AS (
    SELECT p_type, p_brand, revenue, n_items,
           rank() OVER (
               PARTITION BY p_type
               ORDER BY revenue DESC, p_brand NULLS FIRST) AS rk
    FROM sales
)
SELECT p_type, p_brand, revenue, n_items, CAST(rk AS BIGINT) AS rk
FROM ranked
WHERE rk <= 3
"""


@register(
    "tpcds_q67_rollup_topk",
    _TPCDS_Q67_SQL,
    doc="TPC-DS Q67 shape: ROLLUP subtotals ranked inside each "
    "part-type partition (rollup x window composition); portable "
    "SQL text is query and oracle (r7, r6 verdict item 8)",
)
def q_tpcds_q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q67_SQL)


# Q51 shape: per-channel daily counts cumulated per user, stitched
# with a FULL OUTER join and null-filled via running MAX over the
# merged date spine — the exact Q51 device for "channel A's cumulative
# total overtakes channel B's". Integer counts end to end (no float
# ordering risk); every window is PARTITIONED BY user_id.
_TPCDS_Q51_SQL = """
WITH web AS (
    SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n
    FROM events WHERE event_type = 'view'
    GROUP BY user_id, CAST(ts AS DATE)
),
store AS (
    SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, CAST(ts AS DATE)
),
wcum AS (
    SELECT user_id, d,
           sum(n) OVER (PARTITION BY user_id ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cume
    FROM web
),
scum AS (
    SELECT user_id, d,
           sum(n) OVER (PARTITION BY user_id ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cume
    FROM store
),
j AS (
    SELECT coalesce(w.user_id, s.user_id) AS user_id,
           coalesce(w.d, s.d) AS d,
           w.cume AS wc, s.cume AS sc
    FROM wcum w FULL OUTER JOIN scum s
      ON w.user_id = s.user_id AND w.d = s.d
),
filled AS (
    SELECT user_id, d,
           max(wc) OVER (PARTITION BY user_id ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS web_cumulative,
           max(sc) OVER (PARTITION BY user_id ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS store_cumulative
    FROM j
)
SELECT user_id, d,
       CAST(web_cumulative AS BIGINT) AS web_cumulative,
       CAST(store_cumulative AS BIGINT) AS store_cumulative
FROM filled
WHERE web_cumulative > coalesce(store_cumulative, 0)
"""


@register(
    "tpcds_q51_cumulative_max",
    _TPCDS_Q51_SQL,
    doc="TPC-DS Q51 shape: per-channel cumulative sums stitched with "
    "a FULL OUTER date spine and null-filled by running MAX, keeping "
    "days where the web channel's running total leads; portable SQL "
    "text is query and oracle (r7, r6 verdict item 8)",
)
def q_tpcds_q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q51_SQL)


# ---------------------------------------------------------------------------
# Hybrid lexical + embedding dedup — dual-evidence near-dup detection:
# a pair is flagged only when the MinHash-LSH lexical pipeline AND the
# SRP-LSH embedding pipeline BOTH verify it (the production agreement
# filter that cuts either signal's false positives). Planted positives
# couple the two fixtures: corrupted text variants (doc_id%5==0, 80%
# tokens, +10M — the shared near-dup fixture) paired with perturbed
# embedding variants (same ids, last 4 of 64 dims zeroed — the
# SemDeDup planting pattern), so the same (orig, orig+10M) pairs fire
# in both modalities. Scale shape: each side is its own banded bucket
# join (no all-pairs anywhere); the agreement step is one equi-join on
# the pair key.
# ---------------------------------------------------------------------------

_HYB_COS = 0.9
_HYB_ZERO_FROM = 60  # dims >= this (0-based) zeroed in the variant


def _hybrid_oracle() -> str:
    from .queries_northstar import (
        _NEARDUP_OFFSET,
        _sql_any_band,
        _sql_band_cols,
        _sql_cosine,
        _sql_minhash_oracle,
    )

    zeroed = (
        f"list_transform(generate_series(1, len(embedding)), "
        f"i -> CASE WHEN i <= {_HYB_ZERO_FROM} THEN embedding[i] "
        f"ELSE CAST(0 AS FLOAT) END)"
    )
    return f"""
WITH ebase AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + {_NEARDUP_OFFSET} AS vec_id, {zeroed} AS embedding
    FROM embeddings WHERE vec_id % 5 = 0
),
esig AS (
    SELECT vec_id, embedding, {_sql_band_cols('embedding')} FROM ebase
),
epairs AS (
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           {_sql_cosine('a.embedding', 'b.embedding')} AS cosine_sc
    FROM esig a JOIN esig b
      ON ({_sql_any_band('a', 'b')}) AND a.vec_id < b.vec_id
    WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= {_HYB_COS}
)
SELECT l.doc_a, l.doc_b, l.jaccard, e.cosine_sc
FROM ({_sql_minhash_oracle()}) l
JOIN epairs e USING (doc_a, doc_b)
"""


@register(
    "corpus_doc_embedding_hybrid_dedup",
    _hybrid_oracle(),
    doc="dual-evidence near-dup: MinHash-LSH lexical pairs inner-"
    "joined with SRP-LSH embedding-cosine pairs on the pair key — "
    "both sides banded bucket joins, agreement filter cuts either "
    "signal's false positives (LLM-pipeline ext, r7)",
)
def q_hybrid_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D
    from ..operators import similarity as S
    from .queries_northstar import (
        _BANDS as _SRP_BANDS,
        _NEARDUP_OFFSET,
        _PLANES,
        _docs_with_neardups,
    )

    docs = _docs_with_neardups(spark, sf_dir)
    lex = D.minhash_lsh_dedup(
        docs, "doc_id", "text",
        ngram=_INC_NGRAM, num_hashes=_INC_NUM_HASHES,
        bands=_INC_BANDS, threshold=_INC_JT,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    variants = emb.where(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + _NEARDUP_OFFSET).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i < _HYB_ZERO_FROM, x).otherwise(
                F.lit(0).cast("float")
            ),
        ).alias("embedding"),
    )
    ebase = emb.select("vec_id", "embedding").unionByName(variants)
    epairs = S.cosine_neardup_pairs(
        ebase, threshold=_HYB_COS, planes=_PLANES, bands=_SRP_BANDS
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("cosine").alias("cosine_sc"),
    )
    return lex.join(epairs, ["doc_a", "doc_b"])


# ---------------------------------------------------------------------------
# Exact-substring (span) dedup — the training-data op from "Deduplicating
# Training Data Makes Language Models Better" (Lee et al. 2021): find
# REPEATED TOKEN PASSAGES across the corpus, not whole-document
# near-dups. The distributed replacement for the paper's suffix array
# is WINNOWING (Schleimer et al. 2003, the MOSS fingerprinter): hash
# every 16-token span at stride 1, then per window of 8 consecutive
# span hashes keep the minimum — a CONTENT-DEFINED selection, so two
# docs sharing a passage select the SAME fingerprints regardless of
# where the passage sits in each doc. (A strided first cut was
# offset-fragile — spans only matched when the copies aligned modulo
# the stride; the planted-passage test caught it.) A passage of
# >= W + WIN - 1 = 23 tokens is guaranteed to contribute at least one
# shared fingerprint. Scale shape: hashing and winnowing are pure
# map-side column work; then one explode to (doc_id, fingerprint)
# sites, one count shuffle, one join back, one per-doc reduce —
# linear in the token stream, never corpus². Output: per-doc
# fingerprint counts and the cross-doc duplicated fraction in basis
# points (intra-doc repetition is text_repetition_stats' job).
# ---------------------------------------------------------------------------

_SPAN_W, _SPAN_WIN = 16, 8


def _span_dedup_oracle() -> str:
    from ..functions.text import sql_tokens

    return f"""
WITH tokd AS (
    SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
),
hashed AS (
    SELECT doc_id,
           list_transform(
               generate_series(1, len(toks) - {_SPAN_W - 1}),
               i -> md5(array_to_string(
                   list_slice(toks, i, i + {_SPAN_W - 1}), ' '))) AS hs
    FROM tokd WHERE len(toks) >= {_SPAN_W}
),
winnowed AS (
    SELECT doc_id,
           CASE WHEN len(hs) >= {_SPAN_WIN} THEN
               list_distinct(list_transform(
                   generate_series(1, len(hs) - {_SPAN_WIN - 1}),
                   w -> list_aggregate(
                       list_slice(hs, w, w + {_SPAN_WIN - 1}), 'min')))
           ELSE [list_aggregate(hs, 'min')] END AS fps
    FROM hashed
),
sites AS (SELECT doc_id, unnest(fps) AS fp FROM winnowed),
freq AS (SELECT fp, count(*) AS n_docs FROM sites GROUP BY fp),
per_doc AS (
    SELECT s.doc_id,
           count(*) AS n_fp,
           sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS n_dup_fp
    FROM sites s JOIN freq f USING (fp)
    GROUP BY s.doc_id
)
SELECT t.doc_id,
       CAST(coalesce(p.n_fp, 0) AS BIGINT) AS n_fp,
       CAST(coalesce(p.n_dup_fp, 0) AS BIGINT) AS n_dup_fp,
       CAST(coalesce(p.n_dup_fp, 0) * 10000
            // greatest(coalesce(p.n_fp, 0), 1) AS BIGINT) AS dup_bp
FROM tokd t LEFT JOIN per_doc p USING (doc_id)
"""


def winnowed_fingerprints(tokd: DataFrame) -> DataFrame:
    """(doc_id, fp) winnowed span-fingerprint sites for a
    (doc_id, toks) frame — every 16-token span hashed at stride 1,
    window-of-8 minima kept, distinct per doc. The span-hash array is
    materialized as a real column BEFORE the winnow pass so each
    window min reads the computed attribute instead of re-deriving
    md5 chains through projection substitution (the with_shingles
    expression-blowup lesson).

    The input is round-robined up to core count first
    (``readers.ensure_parallelism`` — no-op at real scale): the
    stride-1 md5 pass over every 16-token span is by far this plan's
    CPU stage and otherwise runs in the test file's single scan task
    (r15 A/B: 2.47 -> 1.31 s at sf0.1,
    plans/r15/parallelism_ab.txt)."""
    from ..io.readers import ensure_parallelism

    tokd = ensure_parallelism(tokd)
    n = F.size("toks")
    hashed = tokd.where(n >= _SPAN_W).select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), n - (_SPAN_W - 1)),
            lambda i: F.md5(
                F.array_join(F.slice("toks", i, F.lit(_SPAN_W)), " ")
            ),
        ).alias("hs"),
    )
    m = F.size("hs")
    fps = F.when(
        m >= _SPAN_WIN,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), m - (_SPAN_WIN - 1)),
                lambda w: F.array_min(F.slice("hs", w, F.lit(_SPAN_WIN))),
            )
        ),
    ).otherwise(F.array(F.array_min("hs")))
    return hashed.select("doc_id", F.explode(fps).alias("fp"))


@register(
    "dedup_exact_substring",
    _span_dedup_oracle(),
    doc="exact-substring passage dedup (Lee et al. 2021 semantics via "
    "winnowing, Schleimer et al. 2003): stride-1 16-token span hashes, "
    "window-of-8 minima as content-defined fingerprints (offset-"
    "robust — a shared passage >= 23 tokens always fires), cross-doc "
    "site counts, per-doc duplicated fraction in basis points; "
    "map-side winnow + one count shuffle + one join, linear in the "
    "token stream (r7)",
)
def q_dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tokd = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    sites = winnowed_fingerprints(tokd)
    freq = sites.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        sites.join(freq, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.sum((F.col("n_docs") > 1).cast("int")).alias("n_dup_fp"),
        )
    )
    return tokd.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_fp", F.lit(0)).cast("bigint").alias("n_fp"),
        F.coalesce("n_dup_fp", F.lit(0)).cast("bigint").alias("n_dup_fp"),
        F.expr(
            "CAST(coalesce(n_dup_fp, 0) * 10000 "
            "div greatest(coalesce(n_fp, 0), 1) AS BIGINT)"
        ).alias("dup_bp"),
    )


# ---------------------------------------------------------------------------
# Deterministic k-means ASSIGNMENT twin — the kmeans family's
# hash-checkable half, mirroring embedding_pq_encode_init: centroids
# fixed to the k lowest vec_ids' vectors (iteration zero of the same
# deterministic-init policy clustering.kmeans_lloyd uses), assignment
# via the identical least((dist, cid)) argmin. The TRAINED twin
# (kmeans_embedding_clusters) stays rows-only; this pins the
# assignment kernel — distance fold, argmin, tie rule — bit-for-bit
# against SQL.
# ---------------------------------------------------------------------------

_KM_K = 8


def _kmeans_init_oracle() -> str:
    return f"""
WITH e AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
seed AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS c
    FROM e ORDER BY vec_id LIMIT {_KM_K}
),
dists AS (
    SELECT e.vec_id, seed.cid,
           list_reduce(
               list_prepend(0.0, list_transform(
                   generate_series(1, len(e.v)),
                   i -> (e.v[i] - c[i]) * (e.v[i] - c[i]))),
               (a, b) -> a + b) AS d
    FROM e CROSS JOIN seed
),
best AS (SELECT vec_id, min(d) AS bd FROM dists GROUP BY vec_id)
SELECT d.vec_id,
       CAST(min(d.cid) AS INT) AS cluster,
       b.bd AS sq_dist
FROM dists d JOIN best b ON d.vec_id = b.vec_id AND d.d = b.bd
GROUP BY d.vec_id, b.bd
"""


@register(
    "kmeans_assign_init",
    _kmeans_init_oracle(),
    doc="deterministic k-means assignment (centroids = k lowest ids' "
    "vectors, the trainer's iteration-zero policy): pins the distance "
    "fold, argmin and tie rule bit-for-bit against SQL; the trained "
    "twin kmeans_embedding_clusters stays rows-only (r7)",
)
def q_kmeans_assign_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import assign_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(_KM_K).collect()
    ]
    return assign_clusters(emb, seeds).select("vec_id", "cluster", "sq_dist")


# ---------------------------------------------------------------------------
# TPC-DS Q97 shape — channel-overlap census: distinct (user, day)
# activity per channel stitched with one FULL OUTER join, counted into
# both/left-only/right-only buckets. Exercises the set-reconciliation
# composition (distinct projections → full outer → conditional counts)
# none of the other TPC shapes touch. Portable SQL, query == oracle;
# the join key carries the day so the shuffle is (user, day)-wide,
# never user-wide.
# ---------------------------------------------------------------------------

_TPCDS_Q97_SQL = """
WITH web AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
    FROM events WHERE event_type = 'view'
),
store AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
    FROM events WHERE event_type = 'purchase'
)
SELECT CAST(sum(CASE WHEN w.user_id IS NOT NULL AND s.user_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS both_channels,
       CAST(sum(CASE WHEN w.user_id IS NOT NULL AND s.user_id IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS web_only,
       CAST(sum(CASE WHEN w.user_id IS NULL AND s.user_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS store_only
FROM web w FULL OUTER JOIN store s
  ON w.user_id = s.user_id AND w.d = s.d
"""


@register(
    "tpcds_q97_channel_overlap",
    _TPCDS_Q97_SQL,
    doc="TPC-DS Q97 shape: per-channel distinct (user, day) activity "
    "reconciled with one FULL OUTER join into both/web-only/"
    "store-only counts; portable SQL text is query and oracle (r7)",
)
def q_tpcds_q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q97_SQL)


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance — the ROLLUP twin of the
# signature-store refresh (and the materialized-view maintenance
# pattern every warehouse eventually needs): a stored daily rollup is
# advanced by ONE new day's partial aggregates without rescanning
# history. The stored rollup carries mergeable partials (count + sum
# as exact decimal), so the update is: aggregate ONLY the delta
# partition map-side → unionByName with the stored rollup → one
# re-aggregate over (day, event_type) — the same partial/final split
# Catalyst uses inside a single agg, made durable across runs. Oracle:
# the full recompute over all events, so any drift between
# "incremental" and "recompute" fails the hash. Test-scale device:
# the split is the LAST day of events as the delta (documented);
# in production the stored side is a partitioned table and the
# overwrite-by-partition writer (io/writers.py) makes the update
# idempotent.
# ---------------------------------------------------------------------------

_INC_AGG_ORACLE = """
SELECT CAST(ts AS DATE) AS day,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY CAST(ts AS DATE), event_type
"""


@register(
    "incremental_agg_maintenance",
    _INC_AGG_ORACLE,
    doc="materialized-rollup maintenance: the stored daily rollup "
    "(history, mergeable count/decimal-sum partials) is advanced by "
    "aggregating ONLY the newest day's delta and re-merging — no "
    "history rescan in the update path; oracle = full recompute over "
    "all events, so incremental==recompute is hash-enforced "
    "(warehouse ext, r7)",
)
def q_incremental_agg_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date").alias("day")

    # The stored rollup: everything before the last day (in production
    # this is the persisted table from the previous run, not a scan —
    # materialized here in-plan as the test-scale device).
    last_day = ev.agg(F.max(F.col("ts").cast("date")).alias("d"))
    hist = ev.join(F.broadcast(last_day)).where(
        F.col("ts").cast("date") < F.col("d")
    )
    stored = hist.groupBy(day, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_dec"),
    )

    # The update path: aggregate ONLY the delta partition, then merge
    # partials with the stored rollup (sum of counts, sum of decimal
    # sums — both mergeable, no history rescan).
    delta = ev.join(F.broadcast(last_day)).where(
        F.col("ts").cast("date") == F.col("d")
    )
    delta_agg = delta.groupBy(day, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_dec"),
    )
    merged = (
        stored.unionByName(delta_agg)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
        )
    )
    return merged


# ---------------------------------------------------------------------------
# TPC-DS batch 2 (r7 late): three more portable-SQL shapes with
# compositions the existing TPC set doesn't exercise — Q88's
# cross-joined scalar-subquery band counts, Q73's group-count range
# filter joined back to the dimension, Q93's self-derived returns
# adjustment. Query text == oracle text, like every TPC batch.
# ---------------------------------------------------------------------------

# Q88 shape: eight independent band counts as scalar subqueries
# cross-joined into ONE row (the classic dashboard "count grid").
# Bands = hour-of-day x value ranges over events. Each subquery is a
# self-contained filtered count; engines may share or re-scan — the
# SHAPE under test is scalar-subquery composition, not scan reuse.
_TPCDS_Q88_SQL = """
SELECT h1.n AS h8_low, h2.n AS h8_high,
       h3.n AS h12_low, h4.n AS h12_high,
       h5.n AS h16_low, h6.n AS h16_high,
       h7.n AS h20_low, h8.n AS h20_high
FROM (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 8 AND 11 AND value < 50) h1,
     (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 8 AND 11 AND value >= 50) h2,
     (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 12 AND 15 AND value < 50) h3,
     (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 12 AND 15 AND value >= 50) h4,
     (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 16 AND 19 AND value < 50) h5,
     (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 16 AND 19 AND value >= 50) h6,
     (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 20 AND 23 AND value < 50) h7,
     (SELECT count(*) AS n FROM events
      WHERE EXTRACT(HOUR FROM ts) BETWEEN 20 AND 23 AND value >= 50) h8
"""


@register(
    "tpcds_q88_multiband_counts",
    _TPCDS_Q88_SQL,
    doc="TPC-DS Q88 shape: eight filtered band counts as cross-joined "
    "scalar subqueries into one row (hour-of-day x value bands); "
    "portable SQL text is query and oracle (r7)",
)
def q_tpcds_q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q88_SQL)


# Q34/Q73 shape: per-group count filtered to a RANGE, then joined
# back to the dimension — "customers whose orders have 15..20 items".
# Distinct from Q13 (count histogram): the agg result is a FILTER and
# the output re-attaches dimension attributes.
_TPCDS_Q73_SQL = """
WITH big AS (
    SELECT l_orderkey, count(*) AS n_items
    FROM lineitem
    GROUP BY l_orderkey
    HAVING count(*) BETWEEN 6 AND 7
)
SELECT c.c_custkey, c.c_mktsegment, b.l_orderkey AS orderkey, b.n_items
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


@register(
    "tpcds_q73_basket_counts",
    _TPCDS_Q73_SQL,
    doc="TPC-DS Q73/Q34 shape: per-order item-count RANGE filter "
    "(HAVING BETWEEN) joined back through the fact to the customer "
    "dimension; portable SQL text is query and oracle (r7)",
)
def q_tpcds_q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q73_SQL)


# Q93 shape: net sales after a RETURNS adjustment — sales left-joined
# to the returns subset of themselves on the line key; matched rows
# net to zero quantity, unmatched keep theirs. Exact integer
# quantities + decimal money, so the hash is bitwise.
_TPCDS_Q93_SQL = """
WITH returns AS (
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_returnflag = 'R'
)
SELECT o.o_orderpriority,
       CAST(sum(CAST(s.l_quantity AS BIGINT)
                - CAST(coalesce(r.l_quantity, 0) AS BIGINT)) AS BIGINT)
           AS net_quantity,
       count(*) AS n_lines
FROM lineitem s
LEFT JOIN returns r
  ON s.l_orderkey = r.l_orderkey AND s.l_linenumber = r.l_linenumber
JOIN orders o ON s.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@register(
    "tpcds_q93_returns_adjusted",
    _TPCDS_Q93_SQL,
    doc="TPC-DS Q93 shape: sales left-joined to the returns subset on "
    "the line key, returned quantities netted out, grouped by order "
    "priority; portable SQL text is query and oracle (r7)",
)
def q_tpcds_q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_TPCDS_Q93_SQL)
