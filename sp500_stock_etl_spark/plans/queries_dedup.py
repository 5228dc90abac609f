"""Document and record deduplication: exact, MinHash + LSH, SimHash,
n-gram and prefix-filtered Jaccard, embedding-cosine, semantic
clusters, connected components, exact-substring spans, URL
canonicalization, the persisted signature store and its incremental
refresh, and entity resolution.

Each corpus query plants known duplicates/near-duplicates inside the
plan (documents ∪ deterministic corrupted variants) so the dedup
operators have real positives to find, and the DuckDB oracle
reconstructs the identical input — no fixtures, no RNG. All oracle SQL
is generated from the same parameters as the Spark plans; hashing is
the shared md5-derived 32-bit hash so signatures are exact-integer
equal across engines. The MinHash oracle builder, the near-dup
fixtures and the SRP/cosine SQL helpers live here and are imported by
the similarity, corpus and streaming modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.text import (
    norm_text,
    sql_hash32,
    sql_norm_text,
    sql_tokens,
    sql_word_shingles,
    tokens,
)
from ..io.readers import ensure_parallelism, load_table
from ..operators import dedup as D, similarity as S
from .registry import register


# ---------------------------------------------------------------------------
# Shared input builders: documents with planted duplicates.
# ---------------------------------------------------------------------------

NEARDUP_OFFSET = 10_000_000
_EXACT_OFFSET = 20_000_000


def docs_with_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ corrupted variants (first 80% of tokens, doc_id%5==0,
    id offset +10M) — deterministic near-duplicates."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tk = tokens(F.col("text"))
    keep_n = F.greatest(F.lit(3), F.floor(F.size(tk) * 0.8).cast("int"))
    corrupted = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + NEARDUP_OFFSET).alias("doc_id"),
        F.array_join(F.slice(tk, F.lit(1), keep_n), " ").alias("text"),
    )
    return docs.unionByName(corrupted)


_SQL_NEARDUP_BASE = f"""
tokd AS (
    SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
),
base AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {NEARDUP_OFFSET} AS doc_id,
           array_to_string(
               list_slice(toks, 1,
                   greatest(3, CAST(floor(len(toks) * CAST(0.8 AS DOUBLE)) AS INT))),
               ' ') AS text
    FROM tokd WHERE doc_id % 5 = 0
)
"""


def docs_with_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ verbatim copies (doc_id%3==0, id offset +20M)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + _EXACT_OFFSET).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


SQL_EXACT_BASE = f"""
base AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_EXACT_OFFSET} AS doc_id, text
    FROM documents WHERE doc_id % 3 = 0
)
"""


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on normalized text.
# ---------------------------------------------------------------------------

_EXACT_DEDUP_ORACLE = f"""
WITH {SQL_EXACT_BASE}
SELECT md5({sql_norm_text('text')}) AS text_hash,
       min(doc_id) AS kept_id,
       count(*) AS n_copies
FROM base
GROUP BY 1
"""


@register(
    "dedup_exact",
    _EXACT_DEDUP_ORACLE,
    doc="exact dedup via md5-hash groupBy; planted verbatim copies (north star)",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = docs_with_exact_dups(spark, sf_dir)
    return D.exact_dedup(base, "doc_id", "text")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (the hero dedup pipeline).
# ---------------------------------------------------------------------------

NUM_HASHES, BANDS, NGRAM, _JT = 12, 4, 3, 0.6
ROWS = NUM_HASHES // BANDS


def sql_minhash_oracle() -> str:
    from ..operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    mins = ",\n           ".join(
        f"list_aggregate(list_transform(hh, h -> (h * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P}), 'min') AS m{i}"
        for i in range(NUM_HASHES)
    )
    band_rows = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band, "
        + " + ".join(f"m{b * ROWS + r}" for r in range(ROWS))
        + " AS band_sig FROM signed"
        for b in range(BANDS)
    )
    return f"""
WITH {_SQL_NEARDUP_BASE},
shingled AS (
    SELECT doc_id, {sql_word_shingles('toks', NGRAM)} AS sh
    FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM base) t
),
hashed AS (
    SELECT doc_id, sh, list_transform(sh, s -> {sql_hash32('s')}) AS hh
    FROM shingled WHERE len(sh) > 0
),
signed AS (
    SELECT doc_id, sh,
           {mins}
    FROM hashed
),
bands AS (
{band_rows}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS jaccard
FROM cand c
JOIN shingled sa ON sa.doc_id = c.doc_a
JOIN shingled sb ON sb.doc_id = c.doc_b
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= {_JT}
"""


@register(
    "dedup_minhash_lsh",
    sql_minhash_oracle(),
    doc="MinHash+LSH near-dup: map-side signatures, banded buckets, Jaccard verify (north star)",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = docs_with_neardups(spark, sf_dir)
    return D.minhash_lsh_dedup(
        base, "doc_id", "text",
        ngram=NGRAM, num_hashes=NUM_HASHES, bands=BANDS, threshold=_JT,
    )


# ---------------------------------------------------------------------------
# SimHash near-dup: 32-bit signature, 8-bit chunk candidates,
# Hamming ≤ 3 verify.
# ---------------------------------------------------------------------------

_SIM_BITS, _SIM_CHUNKS, _MAX_HAMMING = 32, 4, 3


def _sql_simhash_oracle() -> str:
    votes = ",\n           ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(_SIM_BITS)
    )
    simhash = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(_SIM_BITS)
    )
    width = _SIM_BITS // _SIM_CHUNKS
    mask = (1 << width) - 1
    chunk_rows = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, simhash, {c} AS chunk, (simhash >> {c * width}) & {mask} AS val FROM sig"
        for c in range(_SIM_CHUNKS)
    )
    return f"""
WITH {_SQL_NEARDUP_BASE},
tok_exploded AS (
    SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM base
),
hashes AS (
    SELECT doc_id, {sql_hash32('tok')} AS h FROM tok_exploded
),
votes AS (
    SELECT doc_id,
           {votes}
    FROM hashes GROUP BY doc_id
),
sig AS (
    SELECT doc_id, {simhash} AS simhash FROM votes
),
chunks AS (
{chunk_rows}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM chunks a JOIN chunks b
  ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_MAX_HAMMING}
"""


@register(
    "dedup_simhash",
    _sql_simhash_oracle(),
    doc="SimHash near-dup: 32-bit signature + chunk-banded Hamming pairs (north star)",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = docs_with_neardups(spark, sf_dir)
    signed = D.simhash_signature(base, "doc_id", "text", bits=_SIM_BITS)
    return D.simhash_neardup_pairs(
        signed, max_hamming=_MAX_HAMMING, chunks=_SIM_CHUNKS, bits=_SIM_BITS
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard: exact inverted-index baseline with max-df cap.
# ---------------------------------------------------------------------------

_NJ_THRESHOLD, _NJ_MAXDF = 0.5, 50

_NGRAM_JACCARD_ORACLE = f"""
WITH {_SQL_NEARDUP_BASE},
shingled AS (
    SELECT doc_id, {sql_word_shingles('toks', NGRAM)} AS sh
    FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM base) t
),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM shingled),
exploded AS (SELECT doc_id, unnest(sh) AS shingle FROM shingled),
rare AS (
    SELECT shingle FROM exploded GROUP BY shingle HAVING count(*) <= {_NJ_MAXDF}
),
filtered AS (SELECT e.doc_id, e.shingle FROM exploded e JOIN rare r USING (shingle)),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM filtered a JOIN filtered b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b,
       CAST(s.shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - s.shared AS DOUBLE) AS jaccard
FROM shared s
JOIN sizes sa ON sa.doc_id = s.doc_a
JOIN sizes sb ON sb.doc_id = s.doc_b
WHERE CAST(s.shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - s.shared AS DOUBLE) >= {_NJ_THRESHOLD}
"""


@register(
    "dedup_ngram_jaccard",
    _NGRAM_JACCARD_ORACLE,
    doc="exact n-gram Jaccard near-dup via capped inverted index (north star)",
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = docs_with_neardups(spark, sf_dir)
    return D.ngram_jaccard_pairs(
        base, "doc_id", "text",
        ngram=NGRAM, threshold=_NJ_THRESHOLD, max_df=_NJ_MAXDF,
    )


# ---------------------------------------------------------------------------
# Similarity search: brute-force cosine top-k (baseline).
# ---------------------------------------------------------------------------

_SQL_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def sql_cosine(a: str, b: str) -> str:
    return (
        f"({_SQL_DOT.format(a=a, b=b)} / "
        f"(sqrt({_SQL_DOT.format(a=a, b=a)}) * sqrt({_SQL_DOT.format(a=b, b=b)})))"
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup with SRP-LSH bucketing — the scale path.
# Planted exact vector copies guarantee positives.
# ---------------------------------------------------------------------------

# Banded SRP layout: SRP_BANDS independent hash
# tables of PLANES sign bits each; band b uses global planes
# [b*PLANES, (b+1)*PLANES). The oracle reproduces every band
# signature from the same md5-derived hyperplane literals, and a pair
# is a candidate when ANY band matches — OR-join in SQL (fine for
# DuckDB at oracle scale), exploded (band, sig) equi-join in Spark
# (the scale shape). PLANES is pinned so the oracle text is static.
# Scale rule: r = ceil(log2(n / 64)) planes, clamped to [8, 24].
PLANES = 8
SRP_BANDS = 4
_VEC_OFFSET = 1_000_000


def _sql_proj(p: int, vec: str) -> str:
    from ..operators.similarity import hyperplane_weights

    lit = "[" + ", ".join(repr(w) for w in hyperplane_weights(p, 64)) + "]"
    return (
        f"list_sum(list_transform(generate_series(1, len({vec})), "
        f"i -> CAST({vec}[i] AS DOUBLE) * ({lit})[i]))"
    )


def _sql_srp_sig(vec: str, band: int = 0) -> str:
    return " + ".join(
        f"(CASE WHEN {_sql_proj(band * PLANES + i, vec)} > 0 "
        f"THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(PLANES)
    )


def sql_band_cols(vec: str) -> str:
    return ", ".join(
        f"{_sql_srp_sig(vec, b)} AS s{b}" for b in range(SRP_BANDS)
    )


def sql_any_band(a: str, b: str) -> str:
    return " OR ".join(f"{a}.s{i} = {b}.s{i}" for i in range(SRP_BANDS))


_COSINE_NEARDUP_ORACLE = f"""
WITH base AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + {_VEC_OFFSET} AS vec_id, embedding
    FROM embeddings WHERE vec_id % 10 = 0
),
sig AS (
    SELECT vec_id, embedding, {sql_band_cols('embedding')} FROM base
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {sql_cosine('a.embedding', 'b.embedding')} AS cosine
FROM sig a JOIN sig b ON ({sql_any_band('a', 'b')}) AND a.vec_id < b.vec_id
WHERE {sql_cosine('a.embedding', 'b.embedding')} >= 0.999
"""


@register(
    "dedup_embedding_cosine",
    _COSINE_NEARDUP_ORACLE,
    doc="embedding near-dup: SRP-LSH buckets + cosine>=0.999 verify (north star)",
)
def q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    copies = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + _VEC_OFFSET).alias("vec_id"), "embedding"
    )
    base = emb.select("vec_id", "embedding").unionByName(copies)
    return S.cosine_neardup_pairs(
        base, threshold=0.999, planes=PLANES, bands=SRP_BANDS
    )


# ---------------------------------------------------------------------------
# Prefix-filtered EXACT Jaccard join (AllPairs/PPJoin): the engineered
# exact path that retires the quadratic baseline. The oracle is the
# straight uncapped ground truth (full inverted-index join) — the
# prefix filter must reproduce it exactly or the hash fails, which is
# precisely the property that makes the filter safe to deploy.
# ---------------------------------------------------------------------------

_PJ_THRESHOLD = 0.5

_PREFIX_JACCARD_ORACLE = f"""
WITH {_SQL_NEARDUP_BASE},
shingled AS (
    SELECT doc_id, {sql_word_shingles('toks', NGRAM)} AS sh
    FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM base) t
),
sized AS (SELECT doc_id, sh, len(sh) AS n_sh FROM shingled WHERE len(sh) > 0),
exploded AS (SELECT doc_id, unnest(sh) AS shingle FROM sized),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM exploded a JOIN exploded b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b,
       CAST(s.shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - s.shared AS DOUBLE) AS jaccard
FROM shared s
JOIN sized sa ON sa.doc_id = s.doc_a
JOIN sized sb ON sb.doc_id = s.doc_b
WHERE CAST(s.shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - s.shared AS DOUBLE)
      >= {_PJ_THRESHOLD}
"""


@register(
    "dedup_prefix_jaccard",
    _PREFIX_JACCARD_ORACLE,
    doc="EXACT Jaccard near-dup join via AllPairs/PPJoin prefix filtering "
    "(rarest-first canonical order, index only |d|-ceil(t|d|)+1 shingles); "
    "oracle is the uncapped all-pairs ground truth, so the filter's "
    "exactness is hash-checked (north star)",
)
def q_dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ensure_parallelism: the shingle+index build is the CPU stage and
    # the test corpus is a single-row-group file (no-op at real scale).
    base = ensure_parallelism(docs_with_neardups(spark, sf_dir))
    return D.prefix_jaccard_pairs(
        base, "doc_id", "text", ngram=NGRAM, threshold=_PJ_THRESHOLD
    )


# ---------------------------------------------------------------------------
# Dedup-cluster resolution: pairs → components.
# The pair graph links orig → first copy → second copy as a CHAIN
# (consecutive ids within each fingerprint group), so min-label
# propagation genuinely has to walk diameter 2 — while the oracle can
# state the fixpoint directly (component = group-min over the
# fingerprint partition). An exact oracle for an iterative algorithm.
# ---------------------------------------------------------------------------

_CC_OFFSET_B, _CC_OFFSET_C = 20_000_000, 30_000_000

_CC_ORACLE = f"""
WITH base AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_CC_OFFSET_B} AS doc_id, text
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + {_CC_OFFSET_C} AS doc_id, text
    FROM documents WHERE doc_id % 6 = 0
),
fp AS (
    SELECT doc_id, md5({sql_norm_text('text')}) AS f FROM base
),
counted AS (
    SELECT doc_id,
           count(*) OVER (PARTITION BY f) AS c,
           min(doc_id) OVER (PARTITION BY f) AS m
    FROM fp
)
SELECT doc_id AS node, CAST(m AS BIGINT) AS component
FROM counted WHERE c >= 2
"""


@register(
    "dedup_connected_components",
    _CC_ORACLE,
    doc="dedup pairs -> clusters via min-label-propagation connected "
    "components (iterative class, like kmeans, but with an exact "
    "fixpoint oracle); chain edges force diameter-2 walks (north star)",
)
def q_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = (
        docs.unionByName(
            docs.where(F.col("doc_id") % 3 == 0).select(
                (F.col("doc_id") + _CC_OFFSET_B).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 6 == 0).select(
                (F.col("doc_id") + _CC_OFFSET_C).alias("doc_id"), "text"
            )
        )
    )
    fp = base.select("doc_id", F.md5(norm_text(F.col("text"))).alias("f"))
    w = W.partitionBy("f").orderBy("doc_id")
    edges = (
        fp.withColumn("nxt", F.lead("doc_id").over(w))
        .where(F.col("nxt").isNotNull())
        .select(F.col("doc_id").alias("src"), F.col("nxt").alias("dst"))
    )
    return D.connected_components(edges)


@register(
    "dedup_connected_components_star",
    _CC_ORACLE,  # same fixpoint, different algorithm — shared oracle
    doc="same cluster resolution via alternating large-star/small-star "
    "contraction (O(log^2) rounds — the deep-graph variant); sharing "
    "the propagation query's exact oracle cross-checks the two "
    "algorithms against each other (north star)",
)
def q_dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = (
        docs.unionByName(
            docs.where(F.col("doc_id") % 3 == 0).select(
                (F.col("doc_id") + _CC_OFFSET_B).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 6 == 0).select(
                (F.col("doc_id") + _CC_OFFSET_C).alias("doc_id"), "text"
            )
        )
    )
    fp = base.select("doc_id", F.md5(norm_text(F.col("text"))).alias("f"))
    w = W.partitionBy("f").orderBy("doc_id")
    edges = (
        fp.withColumn("nxt", F.lead("doc_id").over(w))
        .where(F.col("nxt").isNotNull())
        .select(F.col("doc_id").alias("src"), F.col("nxt").alias("dst"))
    )
    return D.connected_components_star(edges)


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup via cluster-then-prune (after Abbas et
# al. 2023, arXiv:2303.09540): restrict pairwise
# cosine comparison to members of the same semantic cell and drop
# every member with a higher id than some near-identical neighbor
# (cos >= tau). The cell is the embeddings' coarse `label` (the same
# deterministic cell the IVF index probes), so the quadratic work is
# per-cell, not corpus-wide: with k ~ sqrt(N) balanced cells the
# total comparison count is N^1.5, and each cell's pair set stays on
# one partition (shuffle key = label). Near-identical variants are
# planted (last 4 of 64 dims zeroed, id +40M, same cell) because the
# synthetic embeddings have no organic near-dups (within-cell max
# cosine 0.47); tau=0.9 catches exactly the planted ones. Verdict per
# vector: keep + diagnostics, the SemDeDup decision surface.
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.9
_SEMDEDUP_OFFSET = 40_000_000

_SEMDEDUP_BASE_SQL = f"""
base AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
    UNION ALL
    SELECT vec_id + {_SEMDEDUP_OFFSET}, label,
           list_transform(generate_series(1, len(embedding)),
                          i -> CASE WHEN i <= len(embedding) - 4
                                    THEN CAST(embedding[i] AS DOUBLE)
                                    ELSE 0.0 END)
    FROM embeddings WHERE vec_id % 10 = 0
)"""

# The quadratic stage scores each pair with ONE dot product over
# PRE-NORMALIZED vectors (x / sqrt(dot(v,v)) once per vector), not
# cosine per pair (dot + two norms = 3 folds/pair): ~3x less work in
# the only stage that scales with pair count. Re-evaluating the norm
# per element in SQL yields bitwise-identical doubles, so the two
# engines agree despite different evaluation counts.
_SEMDEDUP_ORACLE = f"""
WITH {_SEMDEDUP_BASE_SQL},
normed AS (
    SELECT vec_id, label,
           list_transform(v, x -> x / sqrt({_SQL_DOT.format(a='v', b='v')}))
               AS nv
    FROM base
),
pairs AS (
    SELECT b.vec_id AS vid, {_SQL_DOT.format(a='a.nv', b='b.nv')} AS c
    FROM normed a JOIN normed b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_SQL_DOT.format(a='a.nv', b='b.nv')} >= {_SEMDEDUP_TAU}
),
agg AS (
    SELECT vid, CAST(count(*) AS BIGINT) AS n_dups,
           max(c) AS max_dup_cosine
    FROM pairs GROUP BY vid
)
SELECT e.vec_id, e.label,
       coalesce(a.n_dups, 0) AS n_dups,
       a.max_dup_cosine AS max_dup_cosine,
       (a.vid IS NULL) AS keep
FROM base e LEFT JOIN agg a ON a.vid = e.vec_id
"""


@register(
    "dedup_semantic_clusters",
    _SEMDEDUP_ORACLE,
    doc="SemDeDup: within-cell pairwise cosine prune (keep lowest id "
    "per near-dup set, tau=0.9); quadratic work confined per cell, "
    "planted last-4-dims-zeroed variants are the positives "
    "(north star)",
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    to_d = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    base = emb.select("vec_id", "label", to_d.alias("v"))
    d = F.size(F.col("v"))
    variant = F.transform(
        F.col("v"),
        lambda v, i: F.when(i < d - 4, v).otherwise(F.lit(0.0)),
    )
    var = base.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + _SEMDEDUP_OFFSET).alias("vec_id"),
        "label",
        variant.alias("v"),
    )
    full = base.unionByName(var)
    # Normalize ONCE per vector (norm materialized as its own column
    # first — referencing the fold inside the transform lambda would
    # re-run it per element, the with_shingles expression trap), so
    # the per-pair score in the quadratic stage is a single dot.
    normed = full.withColumn("__n__", S.norm(F.col("v"))).select(
        "vec_id",
        "label",
        F.transform(F.col("v"), lambda x: x / F.col("__n__")).alias("nv"),
    )
    a = normed.select(
        F.col("vec_id").alias("a_id"), "label", F.col("nv").alias("av")
    )
    b = normed.select(
        F.col("vec_id").alias("vid"), "label", F.col("nv").alias("bv")
    )
    pairs = (
        a.join(b, "label")
        .where(F.col("a_id") < F.col("vid"))
        .select("vid", S.dot(F.col("av"), F.col("bv")).alias("c"))
        .where(F.col("c") >= _SEMDEDUP_TAU)
    )
    agg = pairs.groupBy("vid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        F.max("c").alias("max_dup_cosine"),
    )
    return full.join(
        agg, full.vec_id == agg.vid, "left"
    ).select(
        "vec_id",
        "label",
        F.coalesce("n_dups", F.lit(0).cast("bigint")).alias("n_dups"),
        "max_dup_cosine",
        F.col("vid").isNull().alias("keep"),
    )


# ---------------------------------------------------------------------------
# Incremental corpus refresh against a PERSISTED signature store —
# the 100 TB dedup workflow: dedup a NEW document batch against an existing corpus WITHOUT rescanning
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
# idempotent). This is the batch twin of streaming_corpus_dedup and the
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

    both = docs_with_neardups(spark, sf_dir)
    corpus = both.where(F.col("doc_id") < NEARDUP_OFFSET)
    new = both.where(F.col("doc_id") >= NEARDUP_OFFSET)
    return corpus, new, NEARDUP_OFFSET


# One store directory per INVOCATION (a process-wide singleton only
# deduped within one process — every new bench/sweep/driver process
# would leave its mkdtemp behind, accumulating corpus-sized parquet
# stores in /tmp). Each invocation gets a fresh ``temp_dir``, removed
# at exit, so (a) nothing outlives the process, and (b) two
# concurrent invocations — tests/test_incremental_dedup.py runs these
# from two threads — never overwrite each other's files or catalog entries
# (table names carry the same per-invocation token).
_STORE_SEQ = __import__("itertools").count()


def _inc_store_ctx() -> tuple[str, str]:
    """(store_dir, per-invocation table-name token)."""
    from ..caching import temp_dir

    k = next(_STORE_SEQ)
    return temp_dir(f"sg_sigstore_{k}_"), str(k)


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
    # PERSIST the verify's shingle frame: the verify
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

    return (
        f"SELECT * FROM ({sql_minhash_oracle()}) v "
        f"WHERE doc_b >= {NEARDUP_OFFSET}"
    )


def _inc_store_oracle() -> str:
    """Post-append store contents from first principles: band rows of
    (corpus ∪ surviving new docs), where survivors are new docs with
    no verified smaller-id partner."""
    from ..operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

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
    SELECT doc_b FROM ({sql_minhash_oracle()}) v
    WHERE doc_b >= {NEARDUP_OFFSET}
),
tokd2 AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
keep AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {NEARDUP_OFFSET} AS doc_id,
           array_to_string(
               list_slice(toks, 1,
                   greatest(3, CAST(floor(len(toks) * CAST(0.8 AS DOUBLE)) AS INT))),
               ' ') AS text
    FROM tokd2
    WHERE doc_id % 5 = 0
      AND doc_id + {NEARDUP_OFFSET} NOT IN (SELECT doc_b FROM verified)
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
    "(corpus ∪ new) restricted to new-doc pairs",
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
    "store from first principles",
)
def q_dedup_signature_store_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..io.writers import write_bucketed_table

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
    # The path and table name are per-invocation (_inc_store_ctx), so
    # no other write job shares the FileOutputCommitter namespace.
    write_bucketed_table(
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
    zeroed = (
        f"list_transform(generate_series(1, len(embedding)), "
        f"i -> CASE WHEN i <= {_HYB_ZERO_FROM} THEN embedding[i] "
        f"ELSE CAST(0 AS FLOAT) END)"
    )
    return f"""
WITH ebase AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + {NEARDUP_OFFSET} AS vec_id, {zeroed} AS embedding
    FROM embeddings WHERE vec_id % 5 = 0
),
esig AS (
    SELECT vec_id, embedding, {sql_band_cols('embedding')} FROM ebase
),
epairs AS (
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           {sql_cosine('a.embedding', 'b.embedding')} AS cosine_sc
    FROM esig a JOIN esig b
      ON ({sql_any_band('a', 'b')}) AND a.vec_id < b.vec_id
    WHERE {sql_cosine('a.embedding', 'b.embedding')} >= {_HYB_COS}
)
SELECT l.doc_a, l.doc_b, l.jaccard, e.cosine_sc
FROM ({sql_minhash_oracle()}) l
JOIN epairs e USING (doc_a, doc_b)
"""


@register(
    "corpus_doc_embedding_hybrid_dedup",
    _hybrid_oracle(),
    doc="dual-evidence near-dup: MinHash-LSH lexical pairs inner-"
    "joined with SRP-LSH embedding-cosine pairs on the pair key — "
    "both sides banded bucket joins, agreement filter cuts either "
    "signal's false positives (LLM-pipeline ext)",
)
def q_hybrid_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_with_neardups(spark, sf_dir)
    lex = D.minhash_lsh_dedup(
        docs, "doc_id", "text",
        ngram=_INC_NGRAM, num_hashes=_INC_NUM_HASHES,
        bands=_INC_BANDS, threshold=_INC_JT,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    variants = emb.where(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + NEARDUP_OFFSET).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i < _HYB_ZERO_FROM, x).otherwise(
                F.lit(0).cast("float")
            ),
        ).alias("embedding"),
    )
    ebase = emb.select("vec_id", "embedding").unionByName(variants)
    epairs = S.cosine_neardup_pairs(
        ebase, threshold=_HYB_COS, planes=PLANES, bands=SRP_BANDS
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
    (A/B: 2.47 -> 1.31 s at sf0.1, plans/r15/parallelism_ab.txt)."""

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
    "token stream",
)
def q_dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
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
# Entity resolution: blocking + fuzzy-score matching — the
# classic record-linkage shape. Dirty duplicates are planted
# deterministically (custkey%20==0 → copy at key+1M with one name
# character replaced, Levenshtein distance exactly 1); the MATCH
# DEFINITION (the oracle) is: same (nationkey, mktsegment) and
# Levenshtein <= 1. Organic near-matches (synthetic names differing
# in one digit) are part of the expected result — fuzzy matching
# SHOULD surface them.
#
# Candidate generation: joining all pairs within the (nationkey,
# mktsegment) block — only ~125 distinct values — would grow block
# sizes linearly with the corpus and pair counts quadratically
# (n²/125 at 100× data: a scale-killer). The plan blocks on the
# DELETION NEIGHBORHOOD instead (FastSS / SymSpell family): each name
# contributes {name} ∪ {name minus one char} as block keys, and any
# pair at Levenshtein distance <= 1 provably shares at least one key
# (substitution → the common deletion at the edited position;
# insert/delete → the shorter string itself; identity → the name).
# Exact recall with NEAR-UNIQUE key cardinality: bucket sizes track
# true-duplicate multiplicity, not corpus size, so candidate pairs
# grow ~linearly with the corpus (measured 10×: BASELINE.md §8
# "Entity resolution"). Cost is a length+1 key fan-out on the
# name column only — at 100 TB the plan is explode → one shuffle on
# the variant key → bounded bucket join → distinct pairs → exact
# Levenshtein verify; never a per-block all-pairs.
# ---------------------------------------------------------------------------

_ER_OFFSET = 1_000_000

_ER_ORACLE = f"""
WITH base AS (
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer
    UNION ALL
    SELECT c_custkey + {_ER_OFFSET},
           substr(c_name, 1, 9) || 'x' || substr(c_name, 11),
           c_nationkey, c_mktsegment
    FROM customer WHERE c_custkey % 20 = 0
)
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM base a JOIN base b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_mktsegment = b.c_mktsegment
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


def _er_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    dirty = cust.where(F.col("c_custkey") % 20 == 0).select(
        (F.col("c_custkey") + _ER_OFFSET).alias("c_custkey"),
        F.concat(
            F.substring("c_name", 1, 9), F.lit("x"), F.expr("substr(c_name, 11)")
        ).alias("c_name"),
        "c_nationkey",
        "c_mktsegment",
    )
    return cust.unionByName(dirty)


def er_candidate_pairs(base: DataFrame) -> DataFrame:
    """Candidate stage of deletion-neighborhood blocking: explode each
    record into {name} ∪ del1(name) variant keys, bucket-join on the
    variant, apply the cheap semantic equality filters, dedup pairs.
    The ~linear growth of THIS stage's candidate count with the corpus
    is the scale claim (exactly 10.0x pairs at 10x, BASELINE.md §8).

    The input is round-robined up to core count first
    (``readers.ensure_parallelism`` — no-op whenever the scan already
    yields >= cores splits, i.e. at any real scale): the length+1
    substring-variant explode is this stage's CPU work and otherwise
    runs in a single-row-group test file's one scan task (A/B: the
    registered query 2.21 -> 1.11 s at sf0.1, outputs identical;
    plans/r15/er_parallelism_ab.txt)."""

    base = ensure_parallelism(base)
    keyed = base.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.explode(
            F.array_union(
                F.array(F.col("c_name")),
                F.expr(
                    "transform(sequence(1, length(c_name)), i -> "
                    "concat(substring(c_name, 1, i-1), "
                    "substring(c_name, i+1, length(c_name))))"
                ),
            )
        ).alias("bkey"),
    )
    a = keyed.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
        "bkey",
    )
    b = keyed.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
        "bkey",
    )
    return (
        a.join(b, "bkey")
        .where(F.col("key_a") < F.col("key_b"))
        # Cheap semantic filters BEFORE the pair-dedup shuffle: a pair
        # colliding on several variants is deduped once, post-filter.
        .where(
            (F.col("nat_a") == F.col("nat_b"))
            & (F.col("seg_a") == F.col("seg_b"))
        )
        .select("key_a", "key_b", "name_a", "name_b")
        .distinct()
    )


def resolve_entities_lev1(base: DataFrame) -> DataFrame:
    """Exact Levenshtein<=1 record linkage via deletion-neighborhood
    blocking (see the section comment above): candidate pairs from
    ``er_candidate_pairs``, then the exact-distance verify. Input:
    columns c_custkey, c_name, c_nationkey, c_mktsegment. Output:
    (key_a, key_b, dist)."""
    dist = F.levenshtein("name_a", "name_b")
    return er_candidate_pairs(base).where(dist <= 1).select(
        "key_a", "key_b", dist.cast("int").alias("dist")
    )


@register(
    "entity_resolution_customers",
    _ER_ORACLE,
    doc="entity resolution: deletion-neighborhood (FastSS) blocking + "
    "integer Levenshtein<=1 verify; exact recall (any dist<=1 pair "
    "shares a delete-one variant), candidate volume ~linear in corpus "
    "(SURVEY §2.9 ext)",
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resolve_entities_lev1(_er_base(spark, sf_dir))


# ---------------------------------------------------------------------------
# URL canonicalization + dedup — the Common-Crawl-style first dedup
# pass: normalize scheme/host case, strip www./default port/index
# suffix/trailing slash/utm_* tracking params, then keep one doc per
# canonical URL. Messy URLs are planted in-plan from (doc_id, source)
# so both engines canonicalize the identical input; every transform
# is an RE2 regex that Spark and DuckDB evaluate identically. At
# 100 TB: pure map-side rewrites + ONE groupBy on the canonical key.
# ---------------------------------------------------------------------------

URL_SQL = """
    concat(
        CASE WHEN doc_id % 3 = 1 THEN 'HTTPS' ELSE 'https' END, '://',
        CASE WHEN doc_id % 4 = 0 THEN 'www.'
             WHEN doc_id % 4 = 1 THEN 'WWW.' ELSE '' END,
        source, '.example.org',
        CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
        '/p/', CAST(doc_id % 400 AS STRING),
        CASE WHEN doc_id % 6 = 0 THEN '/index.html' ELSE '' END,
        '?utm_campaign=c', CAST(doc_id % 7 AS STRING),
        '&item=', CAST(doc_id % 400 AS STRING), '&utm_source=feed')
"""

_URL_CANON_ORACLE = f"""
WITH raw AS (SELECT doc_id, {URL_SQL} AS url FROM documents),
parts AS (
    SELECT doc_id, url,
        lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        regexp_replace(regexp_replace(
            lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
            '^www\\.', ''), ':443$', '') AS host,
        regexp_replace(regexp_replace(
            regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
            '/index\\.html$', ''), '/+$', '') AS path,
        regexp_replace(regexp_replace(
            regexp_extract(url, '\\?([^#]*)', 1),
            '(^|&)utm_[^&]*', '', 'g'), '^&', '') AS q
    FROM raw
),
canon AS (
    SELECT doc_id,
           concat(scheme, '://', host, path,
                  CASE WHEN q <> '' THEN concat('?', q) ELSE '' END)
               AS canonical_url
    FROM parts
)
SELECT canonical_url, count(*) AS n_variants,
       min(doc_id) AS keeper_doc_id
FROM canon GROUP BY 1
"""


@register(
    "corpus_url_canonical_dedup",
    _URL_CANON_ORACLE,
    doc="URL canonicalization (lowercase scheme/host, strip www. / "
    ":443 / index.html / trailing slash / utm_* params) + keep-min "
    "dedup per canonical key; map-side RE2 rewrites, one groupBy "
    "(LLM-pipeline ext)",
)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    url = F.expr(URL_SQL)
    raw = docs.withColumn("url", url)
    scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1)),
            r"^www\.",
            "",
        ),
        r":443$",
        "",
    )
    path = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
            r"/index\.html$",
            "",
        ),
        r"/+$",
        "",
    )
    q = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract("url", r"\?([^#]*)", 1), r"(^|&)utm_[^&]*", ""
        ),
        r"^&",
        "",
    )
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )
    return (
        raw.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-aware dedup selection — every dedup query so far keeps the
# MIN-ID member per duplicate cluster; production pipelines keep the
# CLEANEST (C4/RefinedWeb keep-best policy). Planted variants: every
# 4th doc gets a whitespace-bloated copy (+21M) and every 8th an
# uppercased copy (+22M); normalization maps all three to one
# fingerprint cluster, and the keeper is chosen by LEAST JUNK
# (raw_len - normalized_len; the uppercase copy ties the original at
# 0 junk and loses on doc_id) — a policy the min-id rule gets wrong
# whenever the bloated copy has the lowest id. For near-dup clusters
# the same keep-best select runs on connected_components output
# instead of the fingerprint partition; the policy column is what
# this query pins.
# ---------------------------------------------------------------------------

_KB_OFFSET_WS, _KB_OFFSET_UC = 21_000_000, 22_000_000

_KEEP_BEST_ORACLE = f"""
WITH base AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_KB_OFFSET_WS} AS doc_id,
           replace(text, ' ', '   ') AS text
    FROM documents WHERE doc_id % 4 = 0
    UNION ALL
    SELECT doc_id + {_KB_OFFSET_UC} AS doc_id, upper(text) AS text
    FROM documents WHERE doc_id % 8 = 0
),
fp AS (
    SELECT doc_id, md5({sql_norm_text('text')}) AS f,
           CAST(len(text) - len({sql_norm_text('text')}) AS BIGINT) AS junk
    FROM base
),
ranked AS (
    SELECT doc_id, f, junk,
           count(*) OVER (PARTITION BY f) AS n_members,
           min(doc_id) OVER (PARTITION BY f) AS cluster_id,
           row_number() OVER (
               PARTITION BY f ORDER BY junk, doc_id) AS rn
    FROM fp
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       doc_id AS keeper_doc_id,
       CAST(n_members AS BIGINT) AS n_members,
       junk AS keeper_junk
FROM ranked WHERE rn = 1 AND n_members >= 2
"""


@register(
    "dedup_keep_best_quality",
    _KEEP_BEST_ORACLE,
    doc="quality-aware dedup selection (keep the CLEANEST cluster "
    "member by junk = raw_len - normalized_len, not the min id); "
    "planted whitespace-bloated and uppercased variants; one window "
    "over the cluster partition (LLM-pipeline policy ext)",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ws = docs.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + _KB_OFFSET_WS).alias("doc_id"),
        F.regexp_replace("text", " ", "   ").alias("text"),
    )
    uc = docs.where(F.col("doc_id") % 8 == 0).select(
        (F.col("doc_id") + _KB_OFFSET_UC).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),
    )
    base = docs.unionByName(ws).unionByName(uc)
    normed = norm_text(F.col("text"))
    fp = base.select(
        "doc_id",
        F.md5(normed).alias("f"),
        (F.length("text") - F.length(normed)).cast("bigint").alias("junk"),
    )
    wc = Window.partitionBy("f")
    wr = Window.partitionBy("f").orderBy("junk", "doc_id")
    return (
        fp.withColumn("n_members", F.count(F.lit(1)).over(wc))
        .withColumn("cluster_id", F.min("doc_id").over(wc))
        .withColumn("rn", F.row_number().over(wr))
        .where((F.col("rn") == 1) & (F.col("n_members") >= 2))
        .select(
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("junk").alias("keeper_junk"),
        )
    )
