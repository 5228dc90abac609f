"""Text-corpus curation for LLM pretraining data: quality statistics,
language ID, fingerprints, PII redaction, decontamination, chunking,
sequence packing, token budgets, sampling and mixtures, boilerplate
removal, unigram/bigram/TF-IDF statistics, BPE merges and encoding,
the quality classifier and the composed curation pipelines.

Same contract as every plans module: each query is registered with a
DuckDB oracle built from the SAME parameters, all terminal columns
aliased identically on both sides, arithmetic either integer or
pinned-order double so hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..caching import track_persist
from ..functions.text import (
    BPE_PATTERN,
    STOPWORDS,
    hash32,
    norm_text,
    sql_hash32,
    sql_norm_text,
    sql_tokens,
    sql_word_shingles,
    tokens,
)
from ..io.readers import ensure_parallelism, load_table
from ..operators import dedup as D, text_analysis as TA
from .queries_dedup import SQL_EXACT_BASE, URL_SQL, docs_with_exact_dups
from .registry import register


# ---------------------------------------------------------------------------
# Text quality stats — one map-side pass.
# ---------------------------------------------------------------------------


def _sql_text_stats() -> str:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH normed AS (
    SELECT doc_id, {sql_norm_text('text')} AS t FROM documents
),
tokd AS (
    SELECT doc_id, t, string_split(t, ' ') AS toks,
           length(t) AS n_chars_norm,
           length(regexp_replace(t, '[a-z0-9\\s]', '', 'g')) AS punct_count
    FROM normed
),
stats AS (
    SELECT doc_id,
           n_chars_norm,
           len(toks) AS n_tokens,
           len(regexp_extract_all(t, '{BPE_PATTERN}')) AS n_bpe_tokens,
           len(list_distinct(toks)) AS n_distinct,
           len(list_filter(toks, x -> x IN ({stop_list}))) AS stop_hits,
           punct_count
    FROM tokd
)
SELECT doc_id,
       CAST(n_chars_norm AS BIGINT) AS n_chars_norm,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
       CAST(n_chars_norm - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
       CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS type_token_ratio,
       CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
       CAST(punct_count AS BIGINT) AS punct_count,
       least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
           * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
           * (1.0 - least(CAST(punct_count AS DOUBLE) / 50.0, 1.0)) AS quality_score
FROM stats
"""


@register(
    "text_quality_stats",
    _sql_text_stats(),
    doc="per-doc quality metrics: tokens/BPE/TTR/stopword/punct/score (north star)",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TA.with_text_stats(docs, "text").select(
        "doc_id",
        "n_chars_norm",
        "n_tokens",
        "n_bpe_tokens",
        "avg_token_len",
        "type_token_ratio",
        "stopword_ratio",
        "punct_count",
        "quality_score",
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic → confusion matrix vs the labeled lang column.
# ---------------------------------------------------------------------------


def _sql_lang_id() -> str:
    hit_cols = ",\n           ".join(
        f"len(list_filter(toks, x -> x IN ({', '.join(chr(39) + w + chr(39) for w in words)}))) AS hits_{lang}"
        for lang, words in STOPWORDS.items()
    )
    langs = sorted(STOPWORDS)
    best = f"greatest({', '.join('hits_' + L for L in langs)})"
    case = " ".join(
        f"WHEN hits_{L} > 0 AND hits_{L} = {best} THEN '{L}'" for L in langs
    )
    return f"""
WITH tokd AS (
    SELECT doc_id, lang, {sql_tokens('text')} AS toks FROM documents
),
hits AS (
    SELECT doc_id, lang,
           {hit_cols}
    FROM tokd
)
SELECT lang AS labeled_lang,
       CASE {case} ELSE 'und' END AS lang_guess,
       count(*) AS n
FROM hits
GROUP BY 1, 2
"""


@register(
    "text_lang_id",
    _sql_lang_id(),
    doc="stopword-family language heuristic, confusion vs labels (north star)",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select(
        F.col("lang").alias("labeled_lang"), tokens(F.col("text")).alias("__toks__")
    )
    return (
        tokd.select(
            "labeled_lang",
            TA.lang_id_from_tokens(F.col("__toks__")).alias("lang_guess"),
        )
        .groupBy("labeled_lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: full + prefix md5 over normalized text;
# collision groups on the exact-dup corpus.
# ---------------------------------------------------------------------------

_FINGERPRINT_ORACLE = f"""
WITH {SQL_EXACT_BASE}
SELECT md5({sql_norm_text('text')}) AS fingerprint,
       md5(substr({sql_norm_text('text')}, 1, 64)) AS prefix_fingerprint,
       count(*) AS n_docs,
       min(doc_id) AS first_doc
FROM base
GROUP BY 1, 2
"""


@register(
    "doc_fingerprint",
    _FINGERPRINT_ORACLE,
    doc="content fingerprint (full + 64-char prefix) collision groups (north star)",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = docs_with_exact_dups(spark, sf_dir)
    return (
        base.select(
            "doc_id",
            TA.fingerprint(F.col("text")).alias("fingerprint"),
            TA.prefix_fingerprint(F.col("text"), 64).alias("prefix_fingerprint"),
        )
        .groupBy("fingerprint", "prefix_fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus curation capstone: the full training-data pipeline in ONE
# lazy plan — quality scoring + language ID (both map-side) → policy
# filter → exact dedup (hash-groupBy on the md5 fingerprint). The
# only shuffle in the whole pipeline is the final dedup groupBy; at
# 100 TB everything before it is embarrassingly parallel and the
# shuffle key is a 32-char hash, never the document text. Duplicate
# groups share a normalized text, so every derived stat is identical
# within a group — min() picks deterministic representatives.
# ---------------------------------------------------------------------------


def sql_corpus_curation() -> str:
    stop_en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    hit_cols = ",\n           ".join(
        f"len(list_filter(toks, x -> x IN ({', '.join(chr(39) + w + chr(39) for w in words)}))) AS hits_{lang}"
        for lang, words in STOPWORDS.items()
    )
    langs = sorted(STOPWORDS)
    best = f"greatest({', '.join('hits_' + L for L in langs)})"
    case = " ".join(
        f"WHEN hits_{L} > 0 AND hits_{L} = {best} THEN '{L}'" for L in langs
    )
    return f"""
WITH normed AS (
    SELECT doc_id, {sql_norm_text('text')} AS t FROM documents
),
tokd AS (
    SELECT doc_id, t, string_split(t, ' ') AS toks,
           length(t) AS n_chars_norm,
           length(regexp_replace(t, '[a-z0-9\\s]', '', 'g')) AS punct_count
    FROM normed
),
scored AS (
    SELECT doc_id, t,
           len(toks) AS n_tokens,
           least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
             * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
             * (1.0 - least(CAST(punct_count AS DOUBLE) / 50.0, 1.0)) AS quality_score,
           len(list_filter(toks, x -> x IN ({stop_en}))) AS stop_en_hits,
           {hit_cols}
    FROM tokd
),
kept AS (
    SELECT doc_id, t, n_tokens, quality_score,
           CASE {case} ELSE 'und' END AS lang_guess
    FROM scored
    WHERE n_tokens >= 10 AND quality_score > 0.1
)
SELECT md5(t) AS fingerprint,
       min(doc_id) AS kept_id,
       count(*) AS n_copies,
       min(lang_guess) AS lang_guess,
       min(n_tokens) AS n_tokens,
       min(quality_score) AS quality_score
FROM kept
GROUP BY md5(t)
"""


@register(
    "corpus_curation_pipeline",
    sql_corpus_curation(),
    doc="end-to-end training-data curation: quality score + lang-ID "
    "(map-side) -> policy filter -> exact dedup; ONE shuffle total, "
    "keyed on the md5 fingerprint (north star capstone)",
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = TA.with_text_stats(docs, "text")
    with_lang = scored.withColumn("lang_guess", TA.lang_id(F.col("text")))
    kept = with_lang.where(
        (F.col("n_tokens") >= 10) & (F.col("quality_score") > 0.1)
    )
    return (
        kept.select(
            F.md5(norm_text(F.col("text"))).alias("fingerprint"),
            "doc_id",
            "lang_guess",
            "n_tokens",
            "quality_score",
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("kept_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("lang_guess").alias("lang_guess"),
            F.min("n_tokens").alias("n_tokens"),
            F.min("quality_score").alias("quality_score"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus balancing: deterministic stratified subsample — per-language
# quotas filled in md5(doc_id) order. The training-data staple
# ("cap English at N docs, keep all low-resource languages") done so
# the sample is REPRODUCIBLE: hash order is a stable shuffle-free
# shuffle, unlike sampleBy's RNG, so reruns and engines agree exactly.
# At 100 TB this is one window over the lang partition — the same
# exchange a groupBy(lang) would pay, no extra pass.
# ---------------------------------------------------------------------------

_BALANCED_QUOTA = 60

_BALANCED_SAMPLE_ORACLE = f"""
SELECT doc_id, lang
FROM (
    SELECT doc_id, lang,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS rn
    FROM documents
) t
WHERE rn <= {_BALANCED_QUOTA}
"""


@register(
    "corpus_balanced_sample",
    _BALANCED_SAMPLE_ORACLE,
    doc="deterministic stratified subsample: per-language quota filled in "
    "md5(doc_id) order — reproducible corpus balancing, one window over "
    "the lang partition (north star)",
)
def q_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _BALANCED_QUOTA)
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# Dataset mixing: per-language keep-rates applied as a deterministic
# hash-threshold Bernoulli ("cap the dominant language at 25%, keep
# low-resource languages whole"). Same reproducibility argument as
# the balanced sample — pmod(hash32(doc), 1000) < rate‰ survives
# reruns, engine swaps, and partial re-ingests, unlike rand()-based
# sampling. Map-side only: a filter, no shuffle at any scale.
# ---------------------------------------------------------------------------

_MIX_RATES = {"en": 250, "de": 600, "fr": 600, "es": 800, "zh": 1000}

_MIX_ORACLE = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {sql_hash32("CAST(doc_id AS VARCHAR)", seed="mix")} % 1000 <
      CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_RATES.items())}
      ELSE 1000 END
"""


@register(
    "corpus_mix_sample",
    _MIX_ORACLE,
    doc="dataset-mixing weights as a deterministic hash-threshold "
    "Bernoulli per language; map-side filter, reproducible across "
    "reruns/engines (north star)",
)
def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(1000)
    for k, v in _MIX_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    keep = (
        F.pmod(hash32(F.col("doc_id").cast("string"), seed="mix"), F.lit(1000))
        < rate
    )
    return docs.where(keep).select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# PII redaction: regex scrubbing of emails / phone-shaped tokens —
# the privacy pass every training corpus runs before the tokenizer.
# Pure Catalyst (regexp_count/regexp_replace, no UDF), patterns chosen
# to behave identically under Java regex (Spark) and RE2 (DuckDB):
# character classes and bounded quantifiers only, no lookarounds.
# Positives are PLANTED deterministically in-plan (docs %4==0 get an
# email, %6==0 a phone), mirroring the dedup fixtures' pattern, and
# the redacted text is compared by md5 so the oracle checks the FULL
# transform, not just the counts.
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

_REDACT_ORACLE = f"""
WITH planted AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 4 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 6 = 0
                   THEN ' call ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-555-0199'
                   ELSE '' END AS text
    FROM documents
),
redacted AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS clean
    FROM planted
)
SELECT doc_id, n_emails, n_phones, md5(clean) AS redacted_md5
FROM redacted
"""


@register(
    "corpus_pii_redaction",
    _REDACT_ORACLE,
    doc="PII scrub (emails, phone-shaped tokens) as pure Catalyst "
    "regexp_count/regexp_replace over planted positives; the oracle "
    "md5-compares the fully redacted text, so the whole transform is "
    "hash-checked (north star)",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    email = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        F.col("doc_id") % 6 == 0,
        F.concat(
            F.lit(" call "),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-555-0199"),
        ),
    ).otherwise(F.lit(""))
    planted = docs.select(
        "doc_id", F.concat("text", email, phone).alias("text")
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return planted.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.md5(clean).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag training documents sharing any long
# n-gram with a held-out eval set — the pass that keeps test data out
# of the training corpus. Shape differs from the self-join dedups: the
# eval set is SMALL, so its n-gram index broadcasts and contamination
# detection is a broadcast semi-join on the training side's map-side
# shingles — no shuffle of the training corpus at any scale, cost is
# one scan. Eval set is derived deterministically in-plan (docs with
# doc_id % 50 == 0 play the benchmark).
# ---------------------------------------------------------------------------

_DECON_NGRAM = 8

_DECONTAMINATION_ORACLE = f"""
WITH eval_docs AS (
    SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    WHERE doc_id % 50 = 0
),
eval_grams AS (
    SELECT DISTINCT unnest({sql_word_shingles('toks', _DECON_NGRAM)}) AS gram
    FROM eval_docs
),
-- Planted contamination: every 9th training doc gets the first 12
-- tokens of one eval doc appended (guaranteed >= 5 shared 8-grams).
train_raw AS (
    SELECT t.doc_id,
           t.text || CASE WHEN t.doc_id % 9 = 0 AND e.doc_id IS NOT NULL
                          THEN ' ' || array_to_string(list_slice(e.toks, 1, 12), ' ')
                          ELSE '' END AS text
    FROM documents t
    LEFT JOIN eval_docs e ON e.doc_id = (t.doc_id % 10) * 50
    WHERE t.doc_id % 50 <> 0
),
train AS (
    SELECT doc_id, {sql_word_shingles('toks', _DECON_NGRAM)} AS grams
    FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM train_raw) t
),
flagged AS (
    SELECT tr.doc_id,
           CAST(count(*) AS BIGINT) AS n_shared_grams
    FROM (SELECT doc_id, unnest(grams) AS gram FROM train) tr
    JOIN eval_grams e ON tr.gram = e.gram
    GROUP BY tr.doc_id
)
SELECT doc_id, n_shared_grams FROM flagged
"""


def _planted_contamination(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(eval_grams, train_raw) of the planted-contamination setup the
    decontamination oracles' eval_grams / train_raw CTEs mirror: docs
    with doc_id % 50 == 0 play the eval set, and every 9th training doc
    gets the first 12 tokens of one eval doc appended."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_side = docs.where(F.col("doc_id") % 50 == 0)
    eval_docs = eval_side.select(
        F.col("doc_id").alias("eval_id"), tokens(F.col("text")).alias("toks")
    )
    eval_grams = (
        D.with_shingles(eval_side, "doc_id", "text", _DECON_NGRAM)
        .select(F.explode("shingles").alias("gram"))
        .distinct()
    )
    leak = F.when(
        (F.col("doc_id") % 9 == 0) & F.col("eval_id").isNotNull(),
        F.concat(F.lit(" "), F.array_join(F.slice("toks", 1, 12), " ")),
    ).otherwise(F.lit(""))
    train_raw = (
        docs.where(F.col("doc_id") % 50 != 0)
        .join(
            F.broadcast(eval_docs),
            (F.col("doc_id") % 10) * 50 == F.col("eval_id"),
            "left",
        )
        .select("doc_id", F.concat("text", leak).alias("text"))
    )
    return eval_grams, train_raw


@register(
    "corpus_decontamination",
    _DECONTAMINATION_ORACLE,
    doc="benchmark decontamination: training docs sharing any "
    f"{_DECON_NGRAM}-gram with the (broadcast-small) eval set, counted "
    "per doc — broadcast semi-join, zero training-corpus shuffle "
    "(north star)",
)
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    eval_grams, train_raw = _planted_contamination(spark, sf_dir)
    train = D.with_shingles(train_raw, "doc_id", "text", _DECON_NGRAM).select(
        "doc_id", F.explode("shingles").alias("gram")
    )
    return (
        train.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


# ---------------------------------------------------------------------------
# Corpus token budget: the first question of training-data work — how
# many tokens, distributed how? Docs bucketed by power-of-2 BPE-token
# count; per-bucket doc/token counts plus each bucket's share of the
# grand total (window over the one-row aggregate — no second scan).
# Map-side token counting (same BPE-ish pre-tokenizer as
# text_quality_stats) + one tiny shuffle on the bucket key.
# ---------------------------------------------------------------------------

_TOKEN_BUDGET_ORACLE = f"""
WITH counted AS (
    SELECT doc_id,
           len(regexp_extract_all({sql_norm_text('text')}, '{BPE_PATTERN}'))
               AS n_bpe
    FROM documents
),
bucketed AS (
    SELECT CAST(floor(log2(n_bpe + 1)) AS INT) AS bucket_log2, n_bpe
    FROM counted
)
SELECT bucket_log2,
       CAST(pow(CAST(2.0 AS DOUBLE), bucket_log2) AS BIGINT) AS bucket_min_tokens,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(n_bpe AS BIGINT)) AS BIGINT) AS bucket_tokens,
       CAST(sum(CAST(n_bpe AS BIGINT)) AS DOUBLE)
           / CAST(sum(sum(CAST(n_bpe AS BIGINT))) OVER () AS DOUBLE)
           AS token_share
FROM bucketed
GROUP BY bucket_log2
"""


@register(
    "corpus_token_budget",
    _TOKEN_BUDGET_ORACLE,
    doc="corpus token budget: docs bucketed by power-of-2 BPE-token count "
    "with per-bucket token totals and share-of-corpus (window over the "
    "aggregate, no second scan) — the 'how many tokens do we have' "
    "query (north star)",
)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import BPE_PATTERN as _BP

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_bpe = F.size(
        F.regexp_extract_all(norm_text(F.col("text")), F.lit(_BP), 0)
    ).cast("bigint")
    bucketed = docs.select(
        F.floor(F.log2(n_bpe + 1)).cast("int").alias("bucket_log2"),
        n_bpe.alias("n_bpe"),
    )
    from pyspark.sql import Window as W

    agg = bucketed.groupBy("bucket_log2").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe").alias("bucket_tokens"),
    )
    return agg.select(
        "bucket_log2",
        F.pow(F.lit(2.0), F.col("bucket_log2")).cast("bigint").alias(
            "bucket_min_tokens"
        ),
        "n_docs",
        "bucket_tokens",
        (
            F.col("bucket_tokens").cast("double")
            / F.sum("bucket_tokens").over(W.partitionBy()).cast("double")
        ).alias("token_share"),
    )


# ---------------------------------------------------------------------------
# Context-window chunking: fixed-token-budget
# chunks with strided overlap — the training-batch preparation step.
# One in-plan `sequence` + explode per doc; output rows ∝ corpus
# tokens / stride, the plan is pure map-side (PLANS.md). The oracle
# rebuilds every chunk with generate_series + list_slice.
# ---------------------------------------------------------------------------


def _sql_chunks(size: int, stride: int) -> str:
    """CTE text producing (doc_id, chunk_id, chunk list) at the given
    geometry over `documents` — mirrors operators/text_analysis.
    chunk_documents token for token."""
    return f"""
tokd AS (
    SELECT doc_id, string_split({sql_norm_text('text')}, ' ') AS toks
    FROM documents
    WHERE length({sql_norm_text('text')}) > 0
),
chunked AS (
    SELECT doc_id,
           CAST(s / {stride} AS BIGINT) AS chunk_id,
           list_slice(toks, s + 1, s + {size}) AS chunk
    FROM (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - 1, {stride})) AS s
        FROM tokd
    )
)"""


_CHUNKING_ORACLE = f"""
WITH {_sql_chunks(64, 48)}
SELECT doc_id, chunk_id,
       CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
       array_to_string(chunk, ' ') AS chunk_text,
       md5(array_to_string(chunk, ' ')) AS chunk_fingerprint
FROM chunked
"""


@register(
    "corpus_chunking",
    _CHUNKING_ORACLE,
    doc="context-window chunking: 64-token chunks, stride 48 (overlap 16) — "
    "training-batch prep, pure map-side sequence+explode (north star)",
)
def q_corpus_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TA.chunk_documents(docs, chunk_tokens=64, stride=48)


# ---------------------------------------------------------------------------
# Boilerplate segments: a non-overlapping 32-token
# segment recurring in >= 3 DISTINCT documents is boilerplate (the C4
# line-frequency rule, applied to token segments because the synthetic
# docs are single-line). Two md5-keyed shuffles; segment text never
# shuffles.
# ---------------------------------------------------------------------------

_BOILER_ORACLE = f"""
WITH {_sql_chunks(32, 32)},
segs AS (
    SELECT doc_id, md5(array_to_string(chunk, ' ')) AS seg_hash FROM chunked
),
seg_df AS (
    SELECT seg_hash, count(DISTINCT doc_id) AS seg_doc_freq
    FROM segs GROUP BY seg_hash
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN d.seg_doc_freq >= 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler_segments,
       CAST(sum(CASE WHEN d.seg_doc_freq >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS boiler_ratio
FROM segs s JOIN seg_df d USING (seg_hash)
GROUP BY s.doc_id
"""


@register(
    "corpus_boilerplate_segments",
    _BOILER_ORACLE,
    doc="boilerplate detection: 32-token segments recurring in >=3 distinct "
    "docs; per-doc boilerplate ratio (C4 rule on segments; north star)",
)
def q_corpus_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    segs = TA.chunk_documents(docs, chunk_tokens=32, stride=32).select(
        "doc_id", F.col("chunk_fingerprint").alias("seg_hash")
    )
    seg_df = segs.groupBy("seg_hash").agg(
        F.count_distinct("doc_id").alias("seg_doc_freq")
    )
    boiler = F.when(F.col("seg_doc_freq") >= 3, F.lit(1)).otherwise(F.lit(0))
    return (
        segs.join(seg_df, "seg_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum(boiler).cast("bigint").alias("n_boiler_segments"),
        )
        .withColumn(
            "boiler_ratio",
            F.col("n_boiler_segments").cast("double")
            / F.col("n_segments").cast("double"),
        )
    )


# ---------------------------------------------------------------------------
# Greedy sequence packing: docs → fixed-budget
# training sequences. The per-group fold is inherently sequential
# (each placement depends on the running fill), so the Spark side is
# the documented applyInPandas escape hatch; the oracle replays the
# identical fold as a DuckDB recursive CTE — an exact oracle for a
# non-window-expressible computation.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256

_PACKING_ORACLE = f"""
WITH RECURSIVE ordered AS (
    SELECT lang, doc_id, n,
           row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
    FROM (
        SELECT lang, doc_id,
               len(string_split({sql_norm_text('text')}, ' ')) AS n
        FROM documents
    )
),
packed AS (
    SELECT lang, doc_id, n, rn, 0 AS bin_id, n AS fill
    FROM ordered WHERE rn = 1
    UNION ALL
    SELECT o.lang, o.doc_id, o.n, o.rn,
           CASE WHEN p.fill + o.n > {_PACK_BUDGET}
                THEN p.bin_id + 1 ELSE p.bin_id END,
           CASE WHEN p.fill + o.n > {_PACK_BUDGET}
                THEN o.n ELSE p.fill + o.n END
    FROM packed p
    JOIN ordered o ON o.lang = p.lang AND o.rn = p.rn + 1
)
SELECT lang, doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(bin_id AS BIGINT) AS bin_id
FROM packed
"""


@register(
    "corpus_sequence_packing",
    _PACKING_ORACLE,
    doc="greedy fixed-budget sequence packing per language (applyInPandas "
    "sequential fold; recursive-CTE oracle) (north star)",
)
def q_corpus_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    return TA.pack_sequences(
        docs, group_col="lang", id_col="doc_id",
        weight_col="n_tokens", budget=_PACK_BUDGET,
    )


# ---------------------------------------------------------------------------
# Heavy hitters via Misra-Gries: the mergeable-sketch twin of
# token_frequency_topn.
# The raw estimates depend on the physical partitioning (legitimately
# — the sketch is defined per stream split), so they can never be
# hash-checked. The registered output is instead the sketch's
# CERTIFICATE: exact counts for a fixed vocabulary slice (top-32 by
# (count DESC, token) — a deterministic total order) plus integer
# invariant flags the sketch must satisfy under ANY partitioning —
# present-or-below-bound, never-overcounts, undercount <= its own
# reported bound. The oracle recomputes the exact slice and expects
# literal 1s: a broken sketch flips a flag and fails the hash. Raw
# estimates remain exposed through the operator and are bound-tested
# in tests/test_heavy_hitters.py.
# ---------------------------------------------------------------------------

_HH_SLICE = 32

_HEAVY_HITTERS_ORACLE = f"""
WITH toks AS (
    SELECT unnest({sql_tokens('text')}) AS token FROM documents
),
exact AS (
    SELECT token, count(*) AS exact_cnt
    FROM toks WHERE token <> '' GROUP BY token
)
SELECT token, exact_cnt,
       CAST(1 AS INT) AS sk_present_ok,
       CAST(1 AS INT) AS sk_no_overcount,
       CAST(1 AS INT) AS sk_within_bound
FROM exact
ORDER BY exact_cnt DESC, token
LIMIT {_HH_SLICE}
"""


@register(
    "token_heavy_hitters_sketch",
    _HEAVY_HITTERS_ORACLE,
    doc="Misra-Gries mergeable heavy-hitters over the token stream (k "
    "rows per partition instead of a vocabulary-wide shuffle), hash-"
    "certified in-query: output = exact counts of the deterministic "
    "top-32 slice + the sketch's partitioning-independent invariant "
    "flags, oracle expects all-ones (north star)",
)
def q_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    sk = TA.misra_gries_heavy_hitters(docs, "text", k=64).select(
        F.col("token").alias("sk_token"), "est_freq", "max_undercount"
    )
    exact = (
        docs.select(
            F.explode(F.split(norm_text(F.col("text")), " ")).alias("token")
        )
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    # TakeOrderedAndProject (distributed top-k, no global window task).
    top = exact.orderBy(F.col("exact_cnt").desc(), "token").limit(_HH_SLICE)
    # The global undercount bound is one scalar — broadcast it.
    bound = sk.agg(F.max("max_undercount").alias("bound"))
    return (
        top.join(sk, top.token == sk.sk_token, "left")
        .crossJoin(F.broadcast(bound))
        .select(
            "token",
            "exact_cnt",
            (
                F.col("est_freq").isNotNull()
                | (F.col("exact_cnt") <= F.col("bound"))
            ).cast("int").alias("sk_present_ok"),
            (F.coalesce("est_freq", F.lit(0)) <= F.col("exact_cnt"))
            .cast("int").alias("sk_no_overcount"),
            (
                F.col("exact_cnt") - F.coalesce("est_freq", F.lit(0))
                <= F.col("bound")
            ).cast("int").alias("sk_within_bound"),
        )
    )


# ---------------------------------------------------------------------------
# Training-batch build capstone: the full context-window
# path in ONE lazy plan — chunk (map-side) → exact-dedup chunks (one
# md5 groupBy; strided overlap makes repeated chunks common) → greedy
# pack survivors into fixed-budget sequences per language. Composes
# three operators; the oracle composes their SQL (chunk CTE + group-
# min dedup + recursive-CTE packing). Survivor = lowest (doc_id,
# chunk_id) per fingerprint, packing order = (doc_id, chunk_id) —
# every step totally ordered, so the emitted (lang, chunk, bin)
# assignment is bit-deterministic end to end.
# ---------------------------------------------------------------------------

_BUILD_BUDGET = 256

_TRAINING_BUILD_ORACLE = f"""
WITH RECURSIVE {_sql_chunks(64, 48)},
fp AS (
    SELECT c.doc_id, c.chunk_id, d.lang,
           CAST(len(c.chunk) AS BIGINT) AS n_tokens,
           md5(array_to_string(c.chunk, ' ')) AS f
    FROM chunked c JOIN documents d USING (doc_id)
),
survivors AS (
    SELECT doc_id, chunk_id, lang, n_tokens, f
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY f ORDER BY doc_id, chunk_id) AS rn
        FROM fp
    ) WHERE rn = 1
),
ordered AS (
    SELECT lang, doc_id, chunk_id, n_tokens,
           row_number() OVER (PARTITION BY lang ORDER BY doc_id, chunk_id) AS rn
    FROM survivors
),
packed AS (
    SELECT lang, doc_id, chunk_id, n_tokens, rn, 0 AS bin_id, n_tokens AS fill
    FROM ordered WHERE rn = 1
    UNION ALL
    SELECT o.lang, o.doc_id, o.chunk_id, o.n_tokens, o.rn,
           CASE WHEN p.fill + o.n_tokens > {_BUILD_BUDGET}
                THEN p.bin_id + 1 ELSE p.bin_id END,
           CASE WHEN p.fill + o.n_tokens > {_BUILD_BUDGET}
                THEN o.n_tokens ELSE p.fill + o.n_tokens END
    FROM packed p
    JOIN ordered o ON o.lang = p.lang AND o.rn = p.rn + 1
)
SELECT lang, doc_id, chunk_id, n_tokens, CAST(bin_id AS BIGINT) AS bin_id
FROM packed
"""


@register(
    "corpus_training_build",
    _TRAINING_BUILD_ORACLE,
    doc="capstone: chunk -> exact-dedup chunks -> greedy-pack survivors "
    "into fixed-budget sequences per language, one lazy plan; composed "
    "recursive-CTE oracle (north star)",
)
def q_corpus_training_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    chunks = TA.chunk_documents(
        docs.select("doc_id", "text"), chunk_tokens=64, stride=48
    ).join(docs.select("doc_id", "lang"), "doc_id")
    w = W.partitionBy("chunk_fingerprint").orderBy("doc_id", "chunk_id")
    survivors = (
        chunks.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("lang", "doc_id", "chunk_id", "n_chunk_tokens")
    )
    # pack_sequences orders by one id column; (doc_id, chunk_id) packs
    # into a single orderable key (chunk_id < 2^20 per doc by
    # construction: docs are far shorter than 2^20 strides).
    keyed = survivors.select(
        "lang",
        (F.col("doc_id") * F.lit(1 << 20) + F.col("chunk_id")).alias("__key__"),
        F.col("n_chunk_tokens").alias("n_tokens"),
    )
    packed = TA.pack_sequences(
        keyed, group_col="lang", id_col="__key__",
        weight_col="n_tokens", budget=_BUILD_BUDGET,
    )
    return packed.select(
        "lang",
        (F.col("__key__") / F.lit(1 << 20)).cast("bigint").alias("doc_id"),
        (F.col("__key__") % F.lit(1 << 20)).cast("bigint").alias("chunk_id"),
        "n_tokens",
        "bin_id",
    )


# ---------------------------------------------------------------------------
# Repetition stats: the Gopher/MassiveText repetition
# rule — the fraction of a document's token trigrams that are
# duplicates. Boilerplate-stuffed and looped generations score high;
# the companion keep-flag applies the published <=0.30 duplicate-
# trigram threshold. Entirely map-side higher-order array expressions
# (no explode, no shuffle): the trigram list never leaves its row.
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = f"""
WITH tokd AS (
    SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
),
tri AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           CASE WHEN len(toks) >= 3
                THEN list_transform(
                    generate_series(1, len(toks) - 2),
                    i -> concat_ws(' ', toks[CAST(i AS INT)],
                                   toks[CAST(i AS INT) + 1],
                                   toks[CAST(i AS INT) + 2]))
                ELSE [] END AS grams
    FROM tokd
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(len(grams) AS BIGINT) AS n_trigrams,
       CAST(len(grams) - len(list_distinct(grams)) AS BIGINT)
           AS n_dup_trigrams,
       CASE WHEN len(grams) > 0
            THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                 / CAST(len(grams) AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS dup_trigram_frac,
       CASE WHEN len(grams) > 0
            THEN (CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                  / CAST(len(grams) AS DOUBLE)) <= 0.30
            ELSE TRUE END AS passes_repetition_rule
FROM tri
"""


@register(
    "text_repetition_stats",
    _REPETITION_ORACLE,
    doc="Gopher-style repetition rule: duplicate-trigram fraction per doc "
    "+ <=0.30 keep flag; pure map-side array expressions, zero shuffle "
    "(north star)",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    d = docs.select("doc_id", toks.alias("toks"))
    n = F.size("toks")
    grams = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i.cast("int")),
                F.element_at(F.col("toks"), i.cast("int") + 1),
                F.element_at(F.col("toks"), i.cast("int") + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", n.alias("n_tokens"), grams.alias("grams"))
    n_tri = F.size("grams")
    n_dup = n_tri - F.size(F.array_distinct("grams"))
    frac = F.when(
        n_tri > 0, n_dup.cast("double") / n_tri.cast("double")
    ).otherwise(F.lit(0.0))
    return g.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        n_tri.cast("bigint").alias("n_trigrams"),
        n_dup.cast("bigint").alias("n_dup_trigrams"),
        frac.alias("dup_trigram_frac"),
        F.when(n_tri > 0, frac <= 0.30).otherwise(F.lit(True)).alias(
            "passes_repetition_rule"
        ),
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination: the same planted-
# contamination setup as corpus_decontamination, but the eval-gram
# membership test goes through a Catalyst-built Bloom filter
# (operators/joins.bloom_semi_prefilter) BEFORE the exact confirm
# join. Same final answer (Bloom has no false negatives), same
# oracle; what changes is the 100 TB posture — the broadcast is a
# fixed-size bitmap (n_bits/8 bytes) instead of the distinct-gram
# set, so the pattern survives an eval suite too large to broadcast
# exactly. False positives only cost confirm-join work.
# ---------------------------------------------------------------------------


@register(
    "corpus_decontamination_bloom",
    _DECONTAMINATION_ORACLE,
    doc="decontamination via Catalyst-built Bloom prefilter (fixed-size "
    "bitmap broadcast, map-side membership test, no false negatives) + "
    "exact confirm join — bitwise-identical result to the broadcast "
    "semi-join, proven by sharing its oracle (north star)",
)
def q_decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import bloom_semi_prefilter

    eval_grams, train_raw = _planted_contamination(spark, sf_dir)
    # Shingling+hashing is the CPU stage; a single-row-group test file
    # pins it to one task (readers.ensure_parallelism is a no-op
    # whenever the scan already yields >= cores splits).
    train = D.with_shingles(
        ensure_parallelism(train_raw), "doc_id", "text", _DECON_NGRAM
    ).select("doc_id", F.explode("shingles").alias("gram"))
    survivors = bloom_semi_prefilter(train, "gram", eval_grams, "gram")
    return (
        survivors.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


# ---------------------------------------------------------------------------
# Corpus unigram statistics: the two-pass global-
# statistic shape every corpus-level quality scorer needs — pass 1
# aggregates a corpus-wide token-frequency table (shuffle on token,
# output ~vocabulary-sized); pass 2 broadcasts it back over the
# corpus to score each document (OOV rate vs the top-V vocabulary,
# mean corpus frequency of the doc's tokens — a rare-token-heavy doc
# scores low, the unigram proxy for perplexity filtering). All
# arithmetic stays in exact BIGINTs until the two terminal divisions,
# so the oracle matches bitwise; vocabulary ties break on
# (count DESC, token ASC) identically in both engines.
# ---------------------------------------------------------------------------

_VOCAB_TOP = 16

_UNIGRAM_ORACLE = f"""
WITH tokd AS (
    SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM documents
),
freq AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tokd GROUP BY tok
),
total AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM freq),
vocab AS (
    SELECT tok, c,
           row_number() OVER (ORDER BY c DESC, tok) <= {_VOCAB_TOP}
               AS in_vocab
    FROM freq
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.in_vocab THEN 0 ELSE 1 END) AS BIGINT)
           AS n_oov,
       CAST(sum(CASE WHEN v.in_vocab THEN 0 ELSE 1 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS oov_rate,
       CAST(sum(v.c) AS BIGINT) AS sum_freq,
       CAST(sum(v.c) AS DOUBLE)
           / (CAST(count(*) AS BIGINT) * (SELECT t FROM total))
           AS mean_token_freq
FROM tokd d JOIN vocab v ON v.tok = d.tok
GROUP BY d.doc_id
"""


@register(
    "corpus_unigram_stats",
    _UNIGRAM_ORACLE,
    doc="two-pass corpus statistic: global token-frequency table "
    "(vocabulary-sized) broadcast back over the corpus — per-doc OOV "
    f"rate vs the top-{_VOCAB_TOP} vocabulary and mean token corpus "
    "frequency (unigram perplexity proxy); exact BIGINT arithmetic "
    "until the terminal divisions (north star)",
)
def q_corpus_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exploded = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    freq = exploded.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    vocab = freq.withColumn(
        "in_vocab",
        F.row_number().over(W.orderBy(F.col("c").desc(), F.col("tok")))
        <= _VOCAB_TOP,
    )
    total = freq.agg(F.sum("c").cast("bigint").alias("t"))
    n_oov = F.sum(F.when(F.col("in_vocab"), 0).otherwise(1)).cast("bigint")
    return (
        exploded.join(F.broadcast(vocab), "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            n_oov.alias("n_oov"),
            (
                n_oov.cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("oov_rate"),
            F.sum("c").cast("bigint").alias("sum_freq"),
            (
                F.sum("c").cast("double")
                / (
                    F.count(F.lit(1)).cast("bigint") * F.first("t")
                ).cast("double")
            ).alias("mean_token_freq"),
        )
    )


# ---------------------------------------------------------------------------
# Boilerplate REMOVAL with ordered reassembly: the step
# after detection (corpus_boilerplate_segments stops at flagging) —
# drop every 32-token segment recurring in >= 3 distinct documents and
# rebuild each document's cleaned text in original segment order, the
# C4/RefinedWeb line-dedup rewrite applied to token segments. A fixed
# 32-token banner is planted at the head of every doc_id%4==0 document
# (both engines build the identical input) so the rule provably fires.
#
# Scale shape: the recurring-segment set is BY DEFINITION the small
# minority of distinct segments (boilerplate = high doc-frequency), so
# it broadcasts; classification is then a map-side left join, and the
# only full-corpus shuffle is the doc_id reassembly groupBy — segment
# text never shuffles by hash. The doc-frequency pass itself shuffles
# md5 digests only. If the recurring set ever outgrew the broadcast
# threshold, the fallback is the plain shuffle join (same result, one
# extra corpus shuffle); the oracle is agnostic.
# ---------------------------------------------------------------------------

_BOILER_BANNER = " ".join(f"boiler{i % 7}" for i in range(32))

_BOILER_REWRITE_ORACLE = f"""
WITH src AS (
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0
                THEN '{_BOILER_BANNER} ' || text ELSE text END AS text
    FROM documents
),
tokd AS (
    SELECT doc_id, string_split({sql_norm_text('text')}, ' ') AS toks
    FROM src
    WHERE length({sql_norm_text('text')}) > 0
),
chunked AS (
    SELECT doc_id,
           CAST(s / 32 AS BIGINT) AS chunk_id,
           list_slice(toks, s + 1, s + 32) AS chunk
    FROM (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - 1, 32)) AS s
        FROM tokd
    )
),
segs AS (
    SELECT doc_id, chunk_id,
           array_to_string(chunk, ' ') AS seg_text,
           md5(array_to_string(chunk, ' ')) AS seg_hash,
           len(chunk) AS n_seg_tokens
    FROM chunked
),
freq AS (
    SELECT seg_hash, count(DISTINCT doc_id) AS f FROM segs GROUP BY seg_hash
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN q.f >= 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
       md5(coalesce(
           string_agg(CASE WHEN q.f < 3 THEN s.seg_text END, ' '
                      ORDER BY s.chunk_id),
           '')) AS clean_fingerprint,
       CAST(coalesce(
           sum(CASE WHEN q.f < 3 THEN s.n_seg_tokens END), 0) AS BIGINT)
           AS clean_n_tokens
FROM segs s JOIN freq q USING (seg_hash)
GROUP BY s.doc_id
"""


@register(
    "corpus_boilerplate_rewrite",
    _BOILER_REWRITE_ORACLE,
    doc="boilerplate REMOVAL: drop segments recurring in >=3 docs and "
    "reassemble each doc's cleaned text in segment order (C4/RefinedWeb "
    "rewrite step); recurring set broadcast, classification map-side, "
    "one reassembly shuffle (north star)",
)
def q_corpus_boilerplate_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(_BOILER_BANNER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    segs = TA.chunk_documents(src, chunk_tokens=32, stride=32).select(
        "doc_id",
        "chunk_id",
        F.col("chunk_text").alias("seg_text"),
        F.col("chunk_fingerprint").alias("seg_hash"),
        F.col("n_chunk_tokens").alias("n_seg_tokens"),
    )
    # Doc-frequency pass ships md5 digests only; the >=3 survivors are
    # the broadcastable boilerplate set (see block comment).
    boiler = (
        segs.groupBy("seg_hash")
        .agg(F.count_distinct("doc_id").alias("f"))
        .where(F.col("f") >= 3)
        .select("seg_hash")
        .withColumn("is_boiler", F.lit(True))
    )
    flagged = segs.join(F.broadcast(boiler), "seg_hash", "left")
    kept = F.col("is_boiler").isNull()
    kept_seg = F.when(kept, F.struct("chunk_id", "seg_text"))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum(F.when(kept, 0).otherwise(1)).cast("bigint").alias("n_dropped"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_seg)),
                    lambda x: x.seg_text,
                ),
                " ",
            )
        ).alias("clean_fingerprint"),
        F.coalesce(
            F.sum(F.when(kept, F.col("n_seg_tokens"))), F.lit(0)
        )
        .cast("bigint")
        .alias("clean_n_tokens"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document: the keyword-extraction
# / topic-tagging pass of a curation pipeline. Two global statistics
# (document count, per-token document frequency) broadcast back over
# the per-doc term frequencies; per-doc top-3 by a rank window.
# idf is integer-scaled (N*1000 div df) so scores stay in exact
# BIGINTs — ln() is deliberately avoided because libm parity across
# engines is not a contract worth betting a hash on. Ties break
# (score DESC, token ASC) identically in both engines. Scale: tf
# shuffles once on (doc_id, tok); df is vocabulary-sized → broadcast;
# the rank window re-uses the doc_id partitioning of the tf output.
# ---------------------------------------------------------------------------

_TFIDF_TOPN = 3

_TFIDF_ORACLE = f"""
WITH tokd AS (
    SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM documents
),
tf AS (
    SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
    FROM tokd GROUP BY doc_id, tok
),
df AS (
    SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM tokd GROUP BY tok
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.tok,
           tf.tf * ((SELECT n_docs FROM n) * 1000 // df.df) AS score
    FROM tf JOIN df USING (tok)
),
ranked AS (
    SELECT doc_id, tok, score,
           row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, tok
           ) AS rnk
    FROM scored
)
SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, tok,
       CAST(score AS BIGINT) AS score
FROM ranked WHERE rnk <= {_TFIDF_TOPN}
"""


@register(
    "corpus_tfidf_topterms",
    _TFIDF_ORACLE,
    doc=f"TF-IDF top-{_TFIDF_TOPN} terms per doc: integer-scaled idf "
    "(N*1000 div df — exact BIGINT scores, no libm parity bet), "
    "vocabulary-sized df broadcast, one (doc_id,tok) shuffle "
    "(north star)",
)
def q_corpus_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tokd = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tf = tokd.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = tokd.groupBy("tok").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            (F.col("tf") * F.expr("(n_docs * 1000) div df")).alias("score"),
        )
    )
    rnk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok"))
    )
    return (
        scored.withColumn("rnk", rnk)
        .where(F.col("rnk") <= _TFIDF_TOPN)
        .select(
            "doc_id",
            F.col("rnk").cast("int").alias("rnk"),
            "tok",
            F.col("score").cast("bigint").alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-K per-stratum sample: the distributed analogue
# of reservoir sampling, made deterministic — rank every doc inside
# its stratum by the engine-shared md5 hash of its id (a fixed random
# permutation) and keep the first K. Same guarantees as a reservoir
# (uniform without replacement, exact K per stratum) but
# reproducible, mergeable, and one window over the stratum
# partitioning. At 100 TB per-stratum TakeOrdered beats a global
# sort: only K rows per stratum survive the shuffle.
# ---------------------------------------------------------------------------

_RESERVOIR_K = 20

_RESERVOIR_ORACLE = f"""
WITH ranked AS (
    SELECT lang, doc_id, n_chars,
           {sql_hash32("CAST(doc_id AS VARCHAR)", "sample")} AS h,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY {sql_hash32("CAST(doc_id AS VARCHAR)", "sample")},
                        doc_id
           ) AS rnk
    FROM documents
)
SELECT lang, doc_id, n_chars, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_RESERVOIR_K}
"""


@register(
    "corpus_reservoir_sample",
    _RESERVOIR_ORACLE,
    doc=f"exact-{_RESERVOIR_K}-per-stratum deterministic sample "
    "(reservoir semantics via hash-rank window; uniform without "
    "replacement, reproducible across engines) (north star)",
)
def q_corpus_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    h = hash32(F.col("doc_id").cast("string"), "sample")
    rnk = F.row_number().over(
        W.partitionBy("lang").orderBy(h.asc(), F.col("doc_id"))
    )
    return (
        docs.withColumn("rnk", rnk)
        .where(F.col("rnk") <= _RESERVOIR_K)
        .select("lang", "doc_id", "n_chars", F.col("rnk").cast("bigint").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# Train/val/test split: deterministic hash-mod
# assignment (80/10/10 on the shared md5 hash — stable under corpus
# growth: a doc's split never changes when other docs arrive, unlike
# rank-based splits) + per-(split, lang) token accounting. Pure
# map-side assignment; one aggregation shuffle.
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = f"""
WITH assigned AS (
    SELECT doc_id, lang,
           len(string_split({sql_norm_text('text')}, ' ')) AS n_toks,
           {sql_hash32("CAST(doc_id AS VARCHAR)", "split")} % 100 AS bucket
    FROM documents
),
labeled AS (
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           n_toks
    FROM assigned
)
SELECT split, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens
FROM labeled
GROUP BY split, lang
"""


@register(
    "corpus_train_val_test_split",
    _SPLIT_ORACLE,
    doc="deterministic 80/10/10 train/val/test hash split (assignment "
    "stable under corpus growth) + per-(split,lang) token accounting "
    "(north star)",
)
def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    bucket = hash32(F.col("doc_id").cast("string"), "split") % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select(
            split.alias("split"),
            "lang",
            F.size(tokens(F.col("text"))).alias("n_toks"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge learning: tokenizer VOCABULARY TRAINING —
# the inherently iterative LLM-pipeline step (each merge changes what
# the next pair count sees). Distributed shape: per round one
# vocabulary-keyed pair-count shuffle + ONE collected row (the
# winning pair, the kmeans-centroid driver budget); symbol arrays
# never leave the cluster; greedy left-to-right merge is a Catalyst
# aggregate fold. Deterministic by construction (ties: count DESC,
# (left,right) ASC) but not SQL-expressible (iterated global argmax
# + rewrite), so it carries the rows-only driver check; exactness is
# pinned against a sequential Sennrich-style reference in
# tests/test_bpe_merges.py, overlap and tie cases included.
# ---------------------------------------------------------------------------


@register(
    "corpus_bpe_merges",
    None,  # iterative argmax+rewrite: exact-vs-reference pytest, rows-only
    doc="BPE tokenizer-vocabulary training: top-8 merges over the corpus "
    "(iterative pair-count + greedy in-plan merge; driver sees one row "
    "per round) (north star)",
)
def q_corpus_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TA.bpe_learn_merges(docs, "text", k=8)


# ---------------------------------------------------------------------------
# Corpus domain-mix report — the curation dashboard number: per
# (source, lang) doc counts, char/token totals, and corpus share in
# integer ppm (total broadcast back via a 1-row cross join, never a
# window over the whole corpus). Every figure integer-exact.
# ---------------------------------------------------------------------------

_DOMAIN_MIX_ORACLE = f"""
WITH per AS (
    SELECT source, lang, count(*) AS n_docs,
           sum(n_chars) AS total_chars,
           sum(len({sql_tokens('text')})) AS total_tokens
    FROM documents GROUP BY 1, 2
),
tot AS (SELECT sum(n_docs) AS n FROM per)
SELECT per.source, per.lang, per.n_docs,
       CAST(per.total_chars AS BIGINT) AS total_chars,
       CAST(per.total_tokens AS BIGINT) AS total_tokens,
       CAST(per.n_docs * 1000000 // tot.n AS BIGINT) AS share_ppm
FROM per, tot
"""


@register(
    "corpus_domain_mix_report",
    _DOMAIN_MIX_ORACLE,
    doc="per-(source, lang) corpus mix report: doc counts, char/token "
    "totals, integer-ppm share (broadcast 1-row total, no "
    "whole-corpus window) (LLM-pipeline reporting ext)",
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.size(tokens(F.col("text")))).cast("bigint").alias(
            "total_tokens"
        ),
    )
    tot = per.agg(F.sum("n_docs").alias("n"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        "total_tokens",
        F.expr("(n_docs * 1000000) div n").cast("bigint").alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# Bigram language-model counts — the n-gram LM building block: map-
# side bigram expansion (transform over the token array, no
# self-join), count per (w1, w2), integer-ppm conditional probability
# against the w1 total, top-3 continuations per w1. At 100 TB this is
# one shuffle on the bigram and one on w1 — the classic two-pass LM
# count job.
# ---------------------------------------------------------------------------

_LM_MIN_TOTAL = 50

_BIGRAM_ORACLE = f"""
WITH tokd AS (
    SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
),
bg AS (
    SELECT unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS s
    FROM tokd WHERE len(toks) >= 2
),
pairs AS (
    SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS c
    FROM bg GROUP BY 1, 2
),
tot AS (
    SELECT w1, sum(c) AS total FROM pairs GROUP BY 1
),
ranked AS (
    SELECT p.w1, p.w2, p.c, t.total,
           row_number() OVER (
               PARTITION BY p.w1 ORDER BY p.c DESC, p.w2) AS rnk
    FROM pairs p JOIN tot t USING (w1)
    WHERE t.total >= {_LM_MIN_TOTAL}
)
SELECT w1, w2, CAST(c AS BIGINT) AS c,
       CAST(total AS BIGINT) AS w1_total,
       CAST(c * 1000000 // total AS BIGINT) AS prob_ppm,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
"""


def _bigrams(tokd: DataFrame, *keep: str) -> DataFrame:
    """(*keep, w1, w2): one row per adjacent pair of each ``toks``
    array, expanded map-side; arrays under two tokens drop out."""
    return (
        tokd.where(F.size("toks") >= 2)
        .select(
            *keep,
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"
                )
            ).alias("s"),
        )
        .select(*keep, "s.w1", "s.w2")
    )


def _bigram_model(bg: DataFrame) -> DataFrame:
    """(w1, w2, c, total, ppm): count per bigram, count per w1, and
    the integer-ppm conditional probability c * 1e6 div total."""
    pairs = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    tot = pairs.groupBy("w1").agg(F.sum("c").alias("total"))
    return pairs.join(tot, "w1").withColumn(
        "ppm", F.expr("c * 1000000 div total").cast("bigint")
    )


@register(
    "corpus_bigram_lm",
    _BIGRAM_ORACLE,
    doc="bigram LM counts: map-side bigram expansion, (w1,w2) count + "
    "w1 totals, integer-ppm conditional probability, top-3 "
    "continuations per w1 (LLM-pipeline ext)",
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    bg = _bigrams(docs.select(tokens(F.col("text")).alias("toks")))
    w = Window.partitionBy("w1").orderBy(F.col("c").desc(), F.col("w2"))
    return (
        _bigram_model(bg)
        .where(F.col("total") >= _LM_MIN_TOTAL)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("c"),
            F.col("total").cast("bigint").alias("w1_total"),
            F.col("ppm").alias("prob_ppm"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# BPE encode (apply) — closes the tokenizer loop opened by
# corpus_bpe_merges (train). Encodes the corpus with a PRETRAINED
# 8-merge table (the tokenizer-shipping pattern: train once offline,
# apply everywhere) — learned once from the sf0.001 documents corpus
# by bpe_learn_merges and baked as a literal. With the merge table
# fixed, the k fold replays are deterministic SQL:
# the oracle replays the SAME merges as k composed CTE stages, each a
# DuckDB list_reduce implementing the identical greedy left-to-right
# fold, so the query is fully hash-checkable. Train-then-encode
# round-tripping stays exact vs the sequential reference in
# tests/test_bpe_merges.py (which also pins this fixed table's
# provenance).
# ---------------------------------------------------------------------------

# Learned from sf0.001 documents (k=8, 2026-08-14); merge 7 composes
# merge 6's output ('p' + 'ar'), exercising multi-char symbols.
BPE_PRETRAINED_MERGES: tuple[tuple[str, str], ...] = (
    ("e", "r"),
    ("o", "r"),
    ("i", "n"),
    ("o", "w"),
    ("s", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
)


def _sql_bpe_fold(list_expr: str, left: str, right: str) -> str:
    """One greedy merge replay as a DuckDB list_reduce over a symbol
    list, returning the chr(31)-joined symbol string. Same semantics
    as the Catalyst fold in operators/text_analysis.py::bpe_encode:
    merge when the accumulated string's LAST SYMBOL equals `left`
    (suffix check anchored on the separator) and the next symbol
    equals `right`."""
    le = left.replace("'", "''")
    ri = right.replace("'", "''")
    return (
        f"list_reduce({list_expr}, (acc, s) -> "
        f"CASE WHEN (acc = '{le}' OR ends_with(acc, chr(31) || '{le}')) "
        f"AND s = '{ri}' THEN acc || '{ri}' "
        f"ELSE acc || chr(31) || s END)"
    )


def _bpe_encode_oracle() -> str:
    stages = []
    prev = "syms"
    for i, (le, ri) in enumerate(BPE_PRETRAINED_MERGES):
        src = prev if i == 0 else f"string_split({prev}, chr(31))"
        stages.append(
            f"e{i} AS (SELECT w, {_sql_bpe_fold(src, le, ri)} AS enc{i} "
            f"FROM e{i - 1 if i else 'base'})"
        )
        prev = f"enc{i}"
    last = len(BPE_PRETRAINED_MERGES) - 1
    stage_sql = ",\n".join(stages)
    return f"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, len(toks)),
               i -> struct_pack(pos := i, w := toks[i]))) AS e
    FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents)
),
t2 AS (SELECT doc_id, e.pos AS pos, e.w AS w FROM tok WHERE length(e.w) > 0),
ebase AS (
    SELECT w, list_transform(generate_series(1, length(w)), i -> w[i]) AS syms
    FROM (SELECT DISTINCT w FROM t2)
),
{stage_sql},
encw AS (
    SELECT w, enc{last} AS enc,
           len(string_split(enc{last}, chr(31))) AS n_syms
    FROM e{last}
),
agg AS (
    SELECT t2.doc_id,
           count(*) AS n_tokens,
           sum(n_syms) AS n_symbols,
           md5(string_agg(enc, chr(31) ORDER BY pos)) AS sym_fp
    FROM t2 JOIN encw USING (w)
    GROUP BY t2.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(a.n_tokens, 0) AS INT) AS n_tokens,
       CAST(coalesce(a.n_symbols, 0) AS INT) AS n_symbols,
       coalesce(a.sym_fp, md5('')) AS sym_fp
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@register(
    "corpus_bpe_encode",
    _bpe_encode_oracle(),
    doc="BPE apply with a pretrained 8-merge table (literal; learned "
    "offline from sf0.001 docs — the train-once/apply-everywhere "
    "tokenizer pattern): vocabulary-level fold replay, zero shuffles "
    "in the encode path; oracle replays the same merges as 8 "
    "composed list_reduce CTE stages (LLM-pipeline tokenizer ext)",
)
def q_corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TA.bpe_encode(docs, list(BPE_PRETRAINED_MERGES), "text")


# ---------------------------------------------------------------------------
# LM-based quality scoring — the model-based filtering step (CCNet /
# Gopher style: score each document under a language model, bucket,
# keep the fluent tiers). The "model" is the corpus's own bigram
# table (self-scoring device at test scale; in production the counts
# come from a reference corpus and arrive as a join input — the plan
# is identical). Scoring is log-free integer arithmetic: a doc's
# score is the integer MEAN of its bigrams' conditional
# probabilities in ppm — a monotone fluency proxy with none of the
# libm (ln/exp) cross-engine parity risk perplexity would carry.
# Tiers = ntile(4) over the deterministic (score, doc_id) order.
# ---------------------------------------------------------------------------

_LM_SCORE_ORACLE = f"""
WITH tokd AS (
    SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
),
bg AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS s
    FROM tokd WHERE len(toks) >= 2
),
docbg AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bg),
pairs AS (
    SELECT w1, w2, count(*) AS c FROM docbg GROUP BY 1, 2
),
tot AS (SELECT w1, sum(c) AS total FROM pairs GROUP BY 1),
model AS (
    SELECT p.w1, p.w2, CAST(p.c * 1000000 // t.total AS BIGINT) AS ppm
    FROM pairs p JOIN tot t USING (w1)
),
scored AS (
    SELECT d.doc_id, count(*) AS n_bigrams,
           CAST(sum(m.ppm) // count(*) AS BIGINT) AS score_ppm
    FROM docbg d JOIN model m USING (w1, w2)
    GROUP BY d.doc_id
)
SELECT t.doc_id,
       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(s.score_ppm, 0) AS BIGINT) AS score_ppm,
       CAST(ntile(4) OVER (
           ORDER BY coalesce(s.score_ppm, 0), t.doc_id) AS BIGINT)
           AS quality_tier
FROM tokd t LEFT JOIN scored s USING (doc_id)
"""


@register(
    "corpus_lm_quality_score",
    _LM_SCORE_ORACLE,
    doc="LM-based quality filter (CCNet-style): score each doc by the "
    "integer-ppm mean of its bigrams' conditional probabilities "
    "(log-free fluency proxy, no libm parity risk), quartile tiers "
    "over the deterministic order (LLM-pipeline ext)",
)
def q_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tokd = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    # Read twice: model build + scoring.
    docbg = track_persist(_bigrams(tokd, "doc_id"))
    scored = (
        docbg.join(_bigram_model(docbg), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("sum(ppm) div count(1)").cast("bigint").alias("score_ppm"),
        )
    )
    # Tiering WITHOUT the single-task global ntile window: exact
    # global rank via range-sort + broadcast partition offsets
    # (operators/window_metrics.with_global_rank), then the bit-exact
    # ntile(4) bucket formula from the broadcast total count. Left
    # side is the raw doc-id frame, NOT tokd: the final join only
    # needs which docs exist, and joining through tokd re-tokenizes
    # every document a second time for nothing.
    from ..operators.window_metrics import ntile_from_rank, with_global_rank

    base = docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce("score_ppm", F.lit(0)).cast("bigint").alias("score_ppm"),
    )
    ranked = with_global_rank(base, ["score_ppm", "doc_id"])
    total = ranked.agg(F.count(F.lit(1)).cast("long").alias("__total__"))
    return ranked.join(F.broadcast(total)).select(
        "doc_id",
        "n_bigrams",
        "score_ppm",
        ntile_from_rank(F.col("global_rank"), F.col("__total__"), 4)
        .cast("bigint")
        .alias("quality_tier"),
    )


# ---------------------------------------------------------------------------
# Curation capstone v2 — composes the curation operators into one lazy
# plan, the way a production crawl-refresh job would run them:
# (1) canonical-URL dedup (keep the min doc per canonical key),
# (2) LM-quality scoring over the SURVIVORS (bigram integer-ppm mean,
#     built from the survivors themselves), drop the bottom quartile,
# (3) deterministic exact-K per-(source, lang) rebalance (hash-rank
#     window, same policy as corpus_reservoir_sample).
# Every stage is a shuffle on a real key (canonical URL, bigram, w1,
# stratum) — no all-pairs, no collects; the oracle composes the same
# three stages as CTEs, so the integration — not just each operator —
# is hash-checked.
# ---------------------------------------------------------------------------

_V2_KEEP_PER_STRATUM = 15

_CURATION_V2_ORACLE = f"""
WITH raw AS (
    SELECT doc_id, lang, source, text, {URL_SQL} AS url FROM documents
),
canon AS (
    SELECT doc_id, lang, source, text,
           concat(
               lower(regexp_extract(url, '^([A-Za-z]+)://', 1)), '://',
               regexp_replace(regexp_replace(
                   lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
                   '^www\\.', ''), ':443$', ''),
               regexp_replace(regexp_replace(
                   regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
                   '/index\\.html$', ''), '/+$', '')) AS ckey
    FROM raw
),
survivors AS (
    SELECT doc_id, lang, source, text FROM (
        SELECT *, row_number() OVER (
            PARTITION BY ckey ORDER BY doc_id) AS rn
        FROM canon
    ) WHERE rn = 1
),
tokd AS (
    SELECT doc_id, lang, source, {sql_tokens('text')} AS toks FROM survivors
),
bg AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS s
    FROM tokd WHERE len(toks) >= 2
),
docbg AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bg),
pairs AS (SELECT w1, w2, count(*) AS c FROM docbg GROUP BY 1, 2),
tot AS (SELECT w1, sum(c) AS total FROM pairs GROUP BY 1),
model AS (
    SELECT p.w1, p.w2, CAST(p.c * 1000000 // t.total AS BIGINT) AS ppm
    FROM pairs p JOIN tot t USING (w1)
),
scored AS (
    SELECT d.doc_id, CAST(sum(m.ppm) // count(*) AS BIGINT) AS score_ppm
    FROM docbg d JOIN model m USING (w1, w2) GROUP BY d.doc_id
),
tiered AS (
    SELECT t.doc_id, t.lang, t.source,
           coalesce(s.score_ppm, 0) AS score_ppm,
           ntile(4) OVER (ORDER BY coalesce(s.score_ppm, 0), t.doc_id)
               AS tier
    FROM tokd t LEFT JOIN scored s USING (doc_id)
),
kept AS (SELECT * FROM tiered WHERE tier >= 2),
ranked AS (
    SELECT doc_id, lang, source, score_ppm,
           row_number() OVER (
               PARTITION BY source, lang
               ORDER BY {sql_hash32("CAST(doc_id AS VARCHAR)", "cur2")},
                        doc_id) AS rnk
    FROM kept
)
SELECT doc_id, lang, source, CAST(score_ppm AS BIGINT) AS score_ppm,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_V2_KEEP_PER_STRATUM}
"""


@register(
    "corpus_curation_v2",
    _CURATION_V2_ORACLE,
    doc="curation capstone: canonical-URL dedup -> self-trained LM "
    "quality tiering (drop bottom quartile) -> deterministic exact-K "
    "per-(source, lang) rebalance, one lazy plan; composed-CTE oracle "
    "hash-checks the integration (LLM-pipeline capstone)",
)
def q_corpus_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    url = F.expr(URL_SQL)
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z]+)://", 1))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/?#]+)", 1)),
            r"^www\.",
            "",
        ),
        r":443$",
        "",
    )
    path = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
            r"/index\.html$",
            "",
        ),
        r"/+$",
        "",
    )
    ckey = F.concat(scheme, F.lit("://"), host, path)
    wdedup = Window.partitionBy("ckey").orderBy("doc_id")
    survivors = (
        docs.withColumn("ckey", ckey)
        .withColumn("rn", F.row_number().over(wdedup))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "text")
    )

    toks = tokens(F.col("text"))
    tokd = survivors.select("doc_id", "lang", "source", toks.alias("toks"))
    docbg = track_persist(_bigrams(tokd, "doc_id"))
    scored = (
        docbg.join(_bigram_model(docbg), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.expr("sum(ppm) div count(1)").cast("bigint").alias("score_ppm"))
    )
    # Join through the survivor id/stratum columns, not tokd — avoids
    # re-tokenizing every survivor just to carry (lang, source); and
    # tier via the distributed global-rank ntile, not the single-task
    # unpartitioned window (see corpus_lm_quality_score).
    from ..operators.window_metrics import ntile_from_rank, with_global_rank

    scored_docs = survivors.select("doc_id", "lang", "source").join(
        scored, "doc_id", "left"
    ).select(
        "doc_id",
        "lang",
        "source",
        F.coalesce("score_ppm", F.lit(0)).cast("bigint").alias("score_ppm"),
    )
    ranked = with_global_rank(scored_docs, ["score_ppm", "doc_id"])
    total = ranked.agg(F.count(F.lit(1)).cast("long").alias("__total__"))
    tiered = ranked.join(F.broadcast(total)).select(
        "doc_id",
        "lang",
        "source",
        "score_ppm",
        ntile_from_rank(F.col("global_rank"), F.col("__total__"), 4).alias(
            "tier"
        ),
    )
    kept = tiered.where(F.col("tier") >= 2)
    wr = Window.partitionBy("source", "lang").orderBy(
        hash32(F.col("doc_id").cast("string"), "cur2"), "doc_id"
    )
    return (
        kept.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= _V2_KEEP_PER_STRATUM)
        .select(
            "doc_id",
            "lang",
            "source",
            "score_ppm",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget fill per stratum — the mix-building step that runs
# AFTER quality filtering: each language gets a fixed token budget,
# filled greedily in quality order (longest-doc-first proxy here;
# any score column slots in) until the budget is exhausted. One
# PARTITIONED cumulative-sum window (per-lang — never the global
# single-task shape §12.2 closed); a doc is kept iff it STARTS within
# budget, so exactly one doc may straddle the boundary — the
# deterministic greedy-fill rule. Integer token counts throughout.
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 10_000

_BUDGET_FILL_ORACLE = f"""
WITH tokd AS (
    SELECT doc_id, lang,
           CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tokens
    FROM documents
),
cum AS (
    SELECT doc_id, lang, n_tokens,
           sum(n_tokens) OVER (
               PARTITION BY lang
               ORDER BY n_tokens DESC, doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
    FROM tokd
)
SELECT doc_id, lang, n_tokens, CAST(cum_before AS BIGINT) AS cum_before
FROM cum WHERE cum_before < {_BUDGET_TOKENS}
"""


@register(
    "corpus_budget_fill",
    _BUDGET_FILL_ORACLE,
    doc="per-language token-budget fill (greedy by quality order, one "
    "partitioned cumsum window — never the global single-task shape); "
    "keep iff the doc STARTS within budget (LLM-pipeline mix ext)",
)
def q_corpus_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    tokd = docs.select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_tokens").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tokd.withColumn(
            "cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
        .where(F.col("cum_before") < _BUDGET_TOKENS)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.col("cum_before").cast("bigint").alias("cum_before"),
        )
    )


# ---------------------------------------------------------------------------
# Decontamination by OVERLAP FRACTION — the published
# threshold rule (GPT-3 appendix C / common n-gram decontamination):
# a training doc is dropped only when the FRACTION of its n-grams
# shared with the eval set crosses a threshold, not on any single
# hit (the binary-hit variants are corpus_decontamination and its
# Bloom-prefiltered twin; this adds the per-doc denominator and the
# keep/drop decision). Same planted-contamination setup; all shares in
# integer basis points so the decision is exact in both engines. The
# eval-gram set broadcasts; the per-doc denominator is a map-side
# distinct inside the same shingle pass — no extra corpus shuffle.
# ---------------------------------------------------------------------------

_OVERLAP_DROP_BP = 1000  # drop if > 10% of the doc's grams are shared

_OVERLAP_SHINGLES = sql_word_shingles("toks", 8)

_DECON_OVERLAP_ORACLE = f"""
WITH eval_docs AS (
    SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    WHERE doc_id % 50 = 0
),
eval_grams AS (
    SELECT DISTINCT unnest({_OVERLAP_SHINGLES}) AS gram FROM eval_docs
),
train_raw AS (
    SELECT t.doc_id,
           t.text || CASE WHEN t.doc_id % 9 = 0 AND e.doc_id IS NOT NULL
                          THEN ' ' || array_to_string(list_slice(e.toks, 1, 12), ' ')
                          ELSE '' END AS text
    FROM documents t
    LEFT JOIN eval_docs e ON e.doc_id = (t.doc_id % 10) * 50
    WHERE t.doc_id % 50 <> 0
),
train AS (
    SELECT doc_id, unnest({_OVERLAP_SHINGLES}) AS gram
    FROM (SELECT doc_id, {sql_tokens('text')} AS toks FROM train_raw) t
),
per_doc AS (
    SELECT tr.doc_id,
           count(DISTINCT tr.gram) AS n_grams,
           count(DISTINCT CASE WHEN e.gram IS NOT NULL THEN tr.gram END)
               AS n_shared
    FROM train tr LEFT JOIN eval_grams e ON tr.gram = e.gram
    GROUP BY tr.doc_id
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(n_shared * 10000 // greatest(n_grams, 1) AS BIGINT)
           AS overlap_bp,
       (n_shared * 10000 // greatest(n_grams, 1)) > {_OVERLAP_DROP_BP}
           AS drop_doc
FROM per_doc
"""


@register(
    "corpus_decontamination_overlap",
    _DECON_OVERLAP_ORACLE,
    doc="decontamination by overlap FRACTION (GPT-3-style threshold "
    "rule): per-doc distinct-gram denominator + shared-gram count in "
    "one shingle pass, integer basis points, keep/drop verdict "
    "(LLM-pipeline ext)",
)
def q_decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    eval_grams, train_raw = _planted_contamination(spark, sf_dir)
    eval_grams = eval_grams.withColumn("__hit__", F.lit(1))
    train = D.with_shingles(
        train_raw, "doc_id", "text", _DECON_NGRAM
    ).select("doc_id", F.explode("shingles").alias("gram"))
    per_doc = (
        train.join(F.broadcast(eval_grams), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_grams"),
            F.countDistinct(
                F.when(F.col("__hit__").isNotNull(), F.col("gram"))
            ).alias("n_shared"),
        )
    )
    bp = F.expr("n_shared * 10000 div greatest(n_grams, 1)")
    return per_doc.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_shared").cast("bigint").alias("n_shared"),
        bp.cast("bigint").alias("overlap_bp"),
        (bp > _OVERLAP_DROP_BP).alias("drop_doc"),
    )


# ---------------------------------------------------------------------------
# Quality-CLASSIFIER inference (the fasttext-style filter of real
# pretraining pipelines, distinct from the heuristic composite in
# text_quality_stats): a trained logistic-regression model applied as
# PURE CATALYST EXPRESSIONS — the weights are literals in the plan,
# so inference is a map-side projection with whole-stage codegen, no
# UDF, no shuffle until nothing (per-doc output). All arithmetic is
# integer fixed-point (ppm features x micro-logit weights), so the
# DuckDB oracle replays it bit-for-bit with no float-order hazard;
# the sigmoid is a clamped piecewise-linear approximation computed on
# a shifted NON-NEGATIVE operand (Spark `div` truncates toward zero
# while DuckDB `//` floors — they only agree on non-negatives, so the
# clamp happens BEFORE the divide).
#
# Scale: per-doc map work, trivially 100 TB-safe; the model rides in
# the plan (no broadcast, no lookup join).
# ---------------------------------------------------------------------------

_QC_BIAS = -2_500_000  # micro-logits
_QC_W_TTR = 3          # per ppm of type-token ratio
_QC_W_STOP = 2         # per ppm of stopword ratio
_QC_W_PUNCT = -4       # per ppm of punct-per-char
_QC_W_LEN = 8_000      # per token, capped at 200


def _qc_stop_list() -> str:
    return ", ".join(f"'{w}'" for w in STOPWORDS["en"])


def _qc_scores_ctes(carry: str = "") -> str:
    """The classifier oracle's CTE chain ending in a ``scores``
    relation (doc_id{carry}, logit_micro, prob_ppm, keep) so dependent
    oracles (per-domain calibration) replay the IDENTICAL arithmetic;
    ``carry`` is an extra projected column list like ``, source``."""
    return f"""tokd AS (
    SELECT doc_id{carry}, {sql_norm_text('text')} AS t FROM documents
),
feats AS (
    SELECT doc_id{carry},
           len(string_split(t, ' ')) AS n_tokens,
           len(list_distinct(string_split(t, ' '))) AS n_distinct,
           len(list_filter(string_split(t, ' '),
                           x -> x IN ({_qc_stop_list()}))) AS stop_hits,
           length(regexp_replace(t, '[a-z0-9\\s]', '', 'g')) AS punct,
           length(t) AS n_chars
    FROM tokd
),
ppm AS (
    SELECT doc_id{carry}, n_tokens,
           1000000 * n_distinct // n_tokens AS ttr_ppm,
           1000000 * stop_hits // n_tokens AS stop_ppm,
           1000000 * punct // n_chars AS punct_ppm
    FROM feats WHERE n_tokens > 0 AND n_chars > 0
),
logits AS (
    SELECT doc_id{carry},
           CAST({_QC_BIAS}
                + {_QC_W_TTR} * ttr_ppm
                + {_QC_W_STOP} * stop_ppm
                + {_QC_W_PUNCT} * punct_ppm
                + {_QC_W_LEN} * least(n_tokens, 200) AS BIGINT) AS logit_micro
    FROM ppm
),
scores AS (
    SELECT doc_id{carry},
           logit_micro,
           CAST(greatest(0, least(8000000, logit_micro + 4000000)) // 8
                AS BIGINT) AS prob_ppm,
           CAST(CASE WHEN logit_micro >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM logits
)"""


QUALITY_CLASSIFIER_ORACLE = f"""
WITH {_qc_scores_ctes()}
SELECT doc_id, logit_micro, prob_ppm, keep FROM scores
"""


def classifier_scores(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """The classifier as a reusable STATELESS projection over any
    (doc_id, text) frame — batch or stream (it contains no aggregate,
    no window, no state), which is what lets the streaming twin reuse
    the identical Catalyst expressions AND the identical oracle.

    ``carry`` names extra input columns to pass through unchanged
    (e.g. the domain for per-domain calibration) — carrying them in
    the projection is free and avoids a corpus self-join later.
    """
    carry = tuple(carry)
    t = norm_text(F.col("text"))
    staged = docs.select(
        "doc_id",
        *carry,
        F.split(t, " ").alias("toks"),
        F.length(F.regexp_replace(t, r"[a-z0-9\s]", "")).cast("bigint").alias("punct"),
        F.length(t).cast("bigint").alias("n_chars"),
    )
    n_tokens = F.size("toks").cast("bigint")
    feats = staged.select(
        "doc_id",
        *carry,
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_distinct"),
        F.size(F.filter("toks", lambda x: x.isin(*STOPWORDS["en"])))
        .cast("bigint")
        .alias("stop_hits"),
        "punct",
        "n_chars",
    ).where((F.col("n_tokens") > 0) & (F.col("n_chars") > 0))
    # Integer ppm features, then the literal-weight dot product. `div`
    # (Spark) == `//` (DuckDB) here because every numerator is
    # non-negative; the sigmoid operand is clamped non-negative BEFORE
    # its divide for the same reason.
    ppm = feats.select(
        "doc_id",
        *carry,
        "n_tokens",
        F.expr("1000000 * n_distinct div n_tokens").alias("ttr_ppm"),
        F.expr("1000000 * stop_hits div n_tokens").alias("stop_ppm"),
        F.expr("1000000 * punct div n_chars").alias("punct_ppm"),
    )
    logit = (
        F.lit(_QC_BIAS).cast("bigint")
        + F.lit(_QC_W_TTR) * F.col("ttr_ppm")
        + F.lit(_QC_W_STOP) * F.col("stop_ppm")
        + F.lit(_QC_W_PUNCT) * F.col("punct_ppm")
        + F.lit(_QC_W_LEN) * F.least(F.col("n_tokens"), F.lit(200).cast("bigint"))
    ).cast("bigint")
    return (
        ppm.select("doc_id", *carry, logit.alias("logit_micro"))
        .withColumn(
            "_shifted",
            F.greatest(
                F.lit(0).cast("bigint"),
                F.least(
                    F.lit(8_000_000).cast("bigint"),
                    F.col("logit_micro") + F.lit(4_000_000),
                ),
            ),
        )
        .select(
            "doc_id",
            *carry,
            "logit_micro",
            F.expr("_shifted div 8").cast("bigint").alias("prob_ppm"),
            F.when(F.col("logit_micro") >= 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("keep"),
        )
    )


@register(
    "quality_classifier_inference",
    QUALITY_CLASSIFIER_ORACLE,
    doc="logistic-regression quality classifier applied as pure Catalyst "
    "expressions: literal trained weights x integer-ppm text features -> "
    "micro-logit, clamped piecewise-linear sigmoid (non-negative operand "
    "before the divide so Spark div == DuckDB //), keep decision; the "
    "fasttext-filter role of LLM pipelines as a map-side codegen "
    "projection, no UDF",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return classifier_scores(docs)


# ---------------------------------------------------------------------------
# Domain MIXTURE allocation with temperature flattening (the data-
# mixing step of multilingual/multi-source pretraining: sample domains
# proportional to count^alpha so small domains are up-weighted;
# alpha = 0.5 here, i.e. weight = floor(sqrt(count)), which both
# engines compute identically because IEEE sqrt is correctly rounded
# and every count is far below 2^50). The integer budget is then
# apportioned by the LARGEST-REMAINDER method: base = B*w // W,
# leftover seats go to the largest remainders (ties broken by source
# asc) — all integer arithmetic, so the allocation is exact and the
# oracle replays it bit-for-bit.
#
# Scale: the only full-corpus work is the per-source count (one
# partial-agg shuffle of #domains rows); everything after operates on
# DOMAIN cardinality (thousands at most), so the unpartitioned
# rank-over-remainders window is bounded by output size, not corpus
# size — same justification as the k-bounded kmeans collect.
# ---------------------------------------------------------------------------

_MIX_BUDGET = 10_000

_DOMAIN_MIXTURE_ORACLE = f"""
WITH counts AS (
    SELECT source, CAST(count(*) AS BIGINT) AS cnt
    FROM documents GROUP BY source
),
weights AS (
    SELECT source, cnt,
           CAST(floor(sqrt(CAST(cnt AS DOUBLE))) AS BIGINT) AS w
    FROM counts
),
tot AS (
    SELECT source, cnt, w, sum(w) OVER () AS tot_w FROM weights
),
seats AS (
    SELECT source, cnt, w,
           {_MIX_BUDGET} * w // tot_w AS base_alloc,
           {_MIX_BUDGET} * w % tot_w AS rem,
           {_MIX_BUDGET} - sum({_MIX_BUDGET} * w // tot_w) OVER () AS leftover
    FROM tot
),
ranked AS (
    SELECT source, cnt, w, base_alloc, leftover,
           row_number() OVER (ORDER BY rem DESC, source ASC) AS rnk
    FROM seats
)
SELECT source, cnt, w AS weight,
       CAST(base_alloc AS BIGINT) AS base_alloc,
       CAST(base_alloc + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked
"""


@register(
    "corpus_domain_mixture",
    _DOMAIN_MIXTURE_ORACLE,
    doc="temperature-flattened domain mixture allocation (weight = "
    "floor(sqrt(count)), i.e. alpha=0.5 sampling) apportioned over an "
    "integer budget by the largest-remainder method — the data-mixing "
    "step of a multi-source pretraining pipeline; corpus-scale work is "
    "one count shuffle, everything else is domain-cardinality",
)
def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("source")
    counts = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("cnt"))
    weights = counts.withColumn(
        "w", F.floor(F.sqrt(F.col("cnt").cast("double"))).cast("bigint")
    )
    # Domain-cardinality windows from here down (bounded by #sources).
    everything = Window.partitionBy()
    seats = weights.withColumn("tot_w", F.sum("w").over(everything)).select(
        "source",
        "cnt",
        "w",
        F.expr(f"{_MIX_BUDGET} * w div tot_w").alias("base_alloc"),
        (F.lit(_MIX_BUDGET) * F.col("w") % F.col("tot_w")).alias("rem"),
    )
    seats = seats.withColumn(
        "leftover", F.lit(_MIX_BUDGET) - F.sum("base_alloc").over(everything)
    )
    ranked = seats.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy().orderBy(F.desc("rem"), F.asc("source"))
        ),
    )
    return ranked.select(
        "source",
        "cnt",
        F.col("w").alias("weight"),
        F.col("base_alloc").cast("bigint").alias("base_alloc"),
        (
            F.col("base_alloc")
            + F.when(F.col("rnk") <= F.col("leftover"), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("alloc"),
    )


# ---------------------------------------------------------------------------
# Per-domain quality-THRESHOLD calibration (the step after classifier
# inference in a real pretraining pipeline: a single global cutoff
# over-prunes domains whose score distribution sits low — news prose
# scores differently from forum text — so the keep threshold is
# calibrated PER DOMAIN as an exact order statistic: the k-th smallest
# micro-logit with k = 3n/10 + 1, i.e. "drop the bottom ~30% of each
# domain"). Everything is integer: the scores are the classifier's
# fixed-point micro-logits and the threshold is an element of the
# score multiset, so the oracle replays it bit-for-bit.
#
# Scale: exact per-group order statistics need a per-domain sort —
# one window shuffle partitioned by domain (parallel across domains;
# a skewed mega-domain would switch to approx/sampled calibration,
# documented trade-off). The threshold relation is domain-cardinality,
# broadcast back; the final aggregate is #domains rows.
# ---------------------------------------------------------------------------

_QUALITY_CALIBRATION_ORACLE = f"""
WITH {_qc_scores_ctes(", source")},
ranked AS (
    SELECT source, doc_id, logit_micro, keep,
           row_number() OVER (PARTITION BY source
                              ORDER BY logit_micro, doc_id) AS rnk,
           count(*) OVER (PARTITION BY source) AS n
    FROM scores
),
thresholds AS (
    SELECT source, logit_micro AS threshold_micro
    FROM ranked WHERE rnk = 3 * n // 10 + 1
)
SELECT r.source AS domain,
       CAST(max(r.n) AS BIGINT) AS n_docs,
       CAST(max(t.threshold_micro) AS BIGINT) AS threshold_micro,
       CAST(sum(CASE WHEN r.logit_micro >= t.threshold_micro
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_cal,
       CAST(sum(r.keep) AS BIGINT) AS n_kept_model
FROM ranked r JOIN thresholds t ON r.source = t.source
GROUP BY r.source
"""


@register(
    "quality_threshold_calibration",
    _QUALITY_CALIBRATION_ORACLE,
    doc="per-domain calibration of the quality classifier's keep "
    "threshold: exact k-th-smallest micro-logit per domain (k = 3n/10 "
    "+ 1, deterministic doc_id tie-break), domain-cardinality threshold "
    "relation broadcast back, per-domain kept counts vs the global "
    "model cutoff; one per-domain window sort + one tiny aggregate",
)
def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scores = classifier_scores(docs, carry=("source",)).select(
        "doc_id", "source", "logit_micro", "keep"
    )
    ranked = scores.select(
        "source",
        "doc_id",
        "logit_micro",
        "keep",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.asc("logit_micro"), F.asc("doc_id")
            )
        )
        .alias("rnk"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    thresholds = ranked.where(F.col("rnk") == F.expr("3 * n div 10 + 1")).select(
        "source", F.col("logit_micro").alias("threshold_micro")
    )
    joined = ranked.join(F.broadcast(thresholds), "source")
    return joined.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.max("threshold_micro").cast("bigint").alias("threshold_micro"),
        F.sum(
            F.when(F.col("logit_micro") >= F.col("threshold_micro"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_kept_cal"),
        F.sum("keep").cast("bigint").alias("n_kept_model"),
    ).withColumnRenamed("source", "domain")
