"""Vector similarity search and embedding workloads: brute-force and
SRP-LSH top-k, IVF with one and two probes, MinHash similarity join,
int8 and product quantization, and k-means clustering.

Oracles reuse the SRP/cosine and MinHash SQL builders of
queries_dedup, generated from the same parameters as the Spark plans
so signatures and candidate sets are exact-integer equal across
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import sql_hash32, sql_tokens, sql_word_shingles, tokens
from ..io.readers import load_table
from ..operators import dedup as D, similarity as S
from .queries_dedup import (
    BANDS,
    NGRAM,
    NUM_HASHES,
    PLANES,
    ROWS,
    SRP_BANDS,
    sql_any_band,
    sql_band_cols,
    sql_cosine,
)
from .registry import register


_BRUTE_TOPK_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 100 = 0
),
c AS (SELECT vec_id, embedding AS ce FROM embeddings),
scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           {sql_cosine('qe', 'ce')} AS cosine
    FROM q CROSS JOIN c
    WHERE q.query_id <> c.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
FROM ranked WHERE rank <= 10
"""


@register(
    "similarity_bruteforce_topk",
    _BRUTE_TOPK_ORACLE,
    doc="exact cosine top-10 per query vector, broadcast x corpus (north star)",
)
def q_sim_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.brute_force_topk(queries, emb, k=10)


# ---------------------------------------------------------------------------
# Similarity search, scale path: SRP-LSH bucketed top-k. Candidates are
# restricted to the query's signature bucket (cost ∝ collisions, not
# corpus size); exact cosine rank within the bucket. The oracle
# reproduces the md5-derived hyperplanes as SQL literals, so this
# APPROXIMATE operator still gets an exact oracle.
# ---------------------------------------------------------------------------

_LSH_TOPK_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qe, {sql_band_cols('embedding')}
    FROM embeddings WHERE vec_id % 100 = 0
),
c AS (
    SELECT vec_id, embedding AS ce, {sql_band_cols('embedding')}
    FROM embeddings
),
scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           {sql_cosine('qe', 'ce')} AS cosine
    FROM q JOIN c ON ({sql_any_band('q', 'c')})
    WHERE q.query_id <> c.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
FROM ranked WHERE rank <= 10
"""


@register(
    "similarity_lsh_topk",
    _LSH_TOPK_ORACLE,
    doc="approximate cosine top-10 via SRP-LSH buckets — the 100 TB ANN path "
    "(north star)",
)
def q_sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.lsh_topk(queries, emb, k=10, planes=PLANES, bands=SRP_BANDS)


# ---------------------------------------------------------------------------
# IVF-style top-k: coarse quantizer = the label column; probe scans
# only the query's cell. At scale the corpus is partitioned by label
# on disk → partition-pruned probes.
# ---------------------------------------------------------------------------

_IVF_TOPK_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qe, label
    FROM embeddings WHERE vec_id % 100 = 0
),
c AS (SELECT vec_id, embedding AS ce, label FROM embeddings),
scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           {sql_cosine('qe', 'ce')} AS cosine
    FROM q JOIN c ON q.label = c.label
    WHERE q.query_id <> c.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
FROM ranked WHERE rank <= 10
"""


@register(
    "similarity_ivf_topk",
    _IVF_TOPK_ORACLE,
    doc="IVF-style ANN: label column as coarse quantizer, partition-prunable "
    "probe (north star)",
)
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return S.ivf_topk(queries, emb, k=10)


# nprobe>1 recall knob: rank cells by cosine
# affinity to integer-quantized centroid DIRECTIONS (floor(x·2^20)
# elementwise sums — exact power-of-two quantize + exact BIGINT sums,
# so the centroid is bit-reproducible in DuckDB; cosine's scale
# invariance makes sum ≡ mean for ranking), probe the top-2 cells per
# query. An approximate operator with an exact oracle, like the SRP
# path above.
_IVF_NPROBE = 2

_IVF_NPROBE_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qe
    FROM embeddings WHERE vec_id % 100 = 0
),
cent AS (
    SELECT label, list(CAST(s AS DOUBLE) ORDER BY pos) AS cvec
    FROM (
        SELECT label, g.i AS pos,
               CAST(sum(CAST(floor(CAST(embedding[g.i] AS DOUBLE)
                                   * 1048576.0) AS BIGINT)) AS BIGINT) AS s
        FROM embeddings, generate_series(1, 64) AS g(i)
        GROUP BY label, g.i
    )
    GROUP BY label
),
affinity AS (
    SELECT q.query_id, cent.label,
           {sql_cosine('qe', 'cvec')} AS aff
    FROM q CROSS JOIN cent
),
probed AS (
    SELECT query_id, label FROM (
        SELECT query_id, label,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY aff DESC, label) AS rn
        FROM affinity
    ) WHERE rn <= {_IVF_NPROBE}
),
scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           {sql_cosine('qe', 'c.embedding')} AS cosine
    FROM q
    JOIN probed p ON q.query_id = p.query_id
    JOIN embeddings c ON c.label = p.label
    WHERE q.query_id <> c.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
FROM ranked WHERE rank <= 10
"""


@register(
    "similarity_ivf_topk_nprobe2",
    _IVF_NPROBE_ORACLE,
    doc="IVF ANN with nprobe=2: top-2 cells by centroid-direction cosine "
    "affinity per query — the recall/cost dial (north star)",
)
def q_sim_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_topk_nprobe(queries, emb, k=10, nprobe=_IVF_NPROBE)


# Iterative algorithm class (driver contract: non-SQL-expressible →
# rows-only check): Lloyd's k-means over the embedding column. Each
# iteration's input is the previous iteration's global state, which no
# single SQL statement expresses; invariants (inertia monotone,
# assignment self-consistency, determinism) are asserted in
# tests/test_clustering.py instead.
@register(
    "kmeans_embedding_clusters",
    None,
    doc="Lloyd's k-means (k=8, 3 iters, deterministic init/ties) over "
    "embeddings — the iterative-algorithm class; map-side assign + "
    "skinny-agg update (north star; invariants in tests/test_clustering.py)",
)
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, id_col="vec_id", k=8, iters=3)


# ---------------------------------------------------------------------------
# Approximate set-similarity JOIN (cross-corpus): corrupted probe docs
# (70% token prefixes of doc_id%7 originals, id +30M) matched back
# against the full corpus via LSH bucket intersection + exact-Jaccard
# verify. The "dedup the new crawl against the training corpus" op —
# candidates cost bucket collisions, never |Q|x|C|.
# ---------------------------------------------------------------------------

SIMJOIN_OFFSET = 30_000_000
SJ_THRESHOLD = 0.5


def sql_simjoin_oracle() -> str:
    from ..operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    mins = ",\n           ".join(
        f"list_aggregate(list_transform(hh, h -> (h * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P}), 'min') AS m{i}"
        for i in range(NUM_HASHES)
    )

    def band_rows(src: str) -> str:
        return "\n    UNION ALL\n".join(
            f"    SELECT doc_id, {b} AS band, "
            + " + ".join(f"m{b * ROWS + r}" for r in range(ROWS))
            + f" AS band_sig FROM {src}"
            for b in range(BANDS)
        )

    shingle_sign = """
{name}_shingled AS (
    SELECT doc_id, {sh} AS sh
    FROM (SELECT doc_id, {toks} AS toks FROM {base}) t
),
{name}_signed AS (
    SELECT doc_id, sh, {mins}
    FROM (SELECT doc_id, sh, list_transform(sh, s -> {h32}) AS hh
          FROM {name}_shingled WHERE len(sh) > 0) x
)"""

    def block(name: str, base: str) -> str:
        return shingle_sign.format(
            name=name,
            base=base,
            sh=sql_word_shingles("toks", NGRAM),
            toks=sql_tokens("text"),
            mins=mins,
            h32=sql_hash32("s"),
        )

    return f"""
WITH qtok AS (
    SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    WHERE doc_id % 7 = 0
),
qbase AS (
    -- CAST the fraction to DOUBLE: DuckDB parses 0.7 as DECIMAL
    -- (exact, 90*0.7 = 63) while Spark multiplies doubles
    -- (62.999... -> floor 62); the cast pins IEEE semantics on
    -- both engines.
    SELECT doc_id + {SIMJOIN_OFFSET} AS doc_id,
           array_to_string(
               list_slice(toks, 1,
                   greatest(3, CAST(floor(len(toks) * CAST(0.7 AS DOUBLE)) AS INT))),
               ' ') AS text
    FROM qtok
),
cbase AS (SELECT doc_id, text FROM documents),
{block('q', 'qbase')},
{block('c', 'cbase')},
qbands AS (
{band_rows('q_signed')}
),
cbands AS (
{band_rows('c_signed')}
),
cand AS (
    SELECT DISTINCT q.doc_id AS query_id, c.doc_id AS corpus_id
    FROM qbands q JOIN cbands c
      ON q.band = c.band AND q.band_sig = c.band_sig
)
SELECT cd.query_id, cd.corpus_id,
       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS jaccard
FROM cand cd
JOIN q_shingled sa ON sa.doc_id = cd.query_id
JOIN c_shingled sb ON sb.doc_id = cd.corpus_id
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= {SJ_THRESHOLD}
"""


@register(
    "similarity_join_corpus",
    sql_simjoin_oracle(),
    doc="approximate set-similarity JOIN: corrupted probes vs full corpus "
    "via LSH bucket intersection + Jaccard verify (north star — dedup "
    "the new crawl against the training corpus)",
)
def q_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tk = tokens(F.col("text"))
    keep_n = F.greatest(F.lit(3), F.floor(F.size(tk) * 0.7).cast("int"))
    probes = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + SIMJOIN_OFFSET).alias("doc_id"),
        F.array_join(F.slice(tk, F.lit(1), keep_n), " ").alias("text"),
    )
    return D.minhash_similarity_join(
        probes, docs, "doc_id", "text",
        ngram=NGRAM, num_hashes=NUM_HASHES, bands=BANDS,
        threshold=SJ_THRESHOLD,
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization: symmetric per-vector
# codes — the 100 TB embedding-storage transform (4× under float32).
# Lossy, yet bitwise-oracle-checkable: every step is elementwise
# double arithmetic in one pinned expression order.
# ---------------------------------------------------------------------------

_QUANTIZE_ORACLE = """
WITH scaled AS (
    SELECT vec_id, embedding,
           CASE WHEN list_max(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE)))) = 0.0
                THEN 1.0
                ELSE list_max(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE)))) END AS scale
    FROM embeddings
),
coded AS (
    SELECT vec_id, embedding, scale,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5) AS INT)
           ) AS q_embedding
    FROM scaled
)
SELECT vec_id, scale,
       array_to_string(q_embedding, ',') AS q_codes,
       list_max(
           list_transform(
               generate_series(1, len(embedding)),
               i -> abs(CAST(embedding[i] AS DOUBLE)
                        - CAST(q_embedding[i] AS DOUBLE) * scale / 127.0)
           )
       ) AS max_abs_err
FROM coded
"""


@register(
    "embedding_quantize_int8",
    _QUANTIZE_ORACLE,
    doc="symmetric per-vector int8 quantization of embeddings with "
    "self-reported reconstruction error — lossy transform, exact oracle "
    "(north star; codes final-projected to a joined string so the "
    "driver canonicalizer never sees a top-level array — swept "
    "registry-wide by tests/test_schema_audit.py)",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.quantize_embeddings_int8(emb)
    return out.select(
        "vec_id",
        "scale",
        F.array_join(
            F.transform("q_embedding", lambda c: c.cast("string")), ","
        ).alias("q_codes"),
        "max_abs_err",
    )


# ---------------------------------------------------------------------------
# Product quantization — the storage tier below int8 quantization:
# m=4 codebooks of k=8 centroids over 16-dim subspaces → 12 bits per
# vector. Training = 4 small deterministic Lloyd's jobs; encoding =
# one scan with literal-centroid argmins (no joins). Iterative +
# collect-based like k-means → rows-only; invariants in
# tests/test_clustering.py.
# ---------------------------------------------------------------------------


@register(
    "embedding_pq_codebooks",
    None,  # iterative kmeans-family: rows-only + invariant pytest
    doc="product quantization (4x16-dim subspaces, 8 centroids each): "
    "deterministic per-subspace Lloyd's + single-scan literal-centroid "
    "encode; codes+recon error per vector (ANN storage ext)",
)
def q_embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_codebooks_encode

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_codebooks_encode(emb)


# ---------------------------------------------------------------------------
# embedding_pq_encode_init — product quantization with the
# DETERMINISTIC iters=0 codebook (init = the k lowest vec_ids'
# subvectors per subspace, pure SQL), so the ENCODE half of the PQ
# family is fully hash-checkable (only trained-codebook PQ stays
# rows-only). Same code path as embedding_pq_codebooks
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
    "(kmeans family)",
)
def q_embedding_pq_encode_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_codebooks_encode

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_codebooks_encode(
        emb, m=_PQ_M, k=_PQ_K, iters=0, dims=_PQ_DIMS
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
    "twin kmeans_embedding_clusters stays rows-only",
)
def q_kmeans_assign_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import assign_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(_KM_K).collect()
    ]
    return assign_clusters(emb, seeds).select("vec_id", "cluster", "sq_dist")
