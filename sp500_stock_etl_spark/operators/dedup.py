"""Deduplication operators (north star, BASELINE.json): exact,
MinHash+LSH, SimHash, n-gram Jaccard. Inputs are (id, text) frames;
all hashing is the md5-derived 32-bit hash shared with the DuckDB
oracles (functions/text.py).

Scale design (the point of each variant):

- **exact**: hash-groupBy on the normalized text (or its md5 — group
  on a 32-byte key instead of shipping full documents through the
  shuffle). One exchange.
- **minhash_lsh**: signatures are computed MAP-SIDE as array
  expressions over the shingle array — no shingle explode, no
  (doc × shingle) shuffle. The only exchange is (band, band_sig),
  i.e. `n_bands` small rows per doc; candidate pairs come from
  bucket self-joins and are verified with exact Jaccard on the
  shingle arrays. At 100 TB this is the textbook near-dup layout:
  cost ∝ docs + collisions, never ∝ docs².
- **simhash**: one 32-bit signature per doc (map-side aggregate over
  token hashes), banded into 8-bit chunks for candidate generation,
  verified by Hamming distance — cheapest near-dup filter.
- **ngram_jaccard**: the exact baseline — inverted index on shingles
  with a max-document-frequency cap (a shingle in >maxdf docs is
  stopword-like and only inflates candidate pairs), then pair counts.
  Quadratic in the worst case; kept as the verifier/baseline the LSH
  variants are measured against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..caching import (
    track_local_checkpoint,
    track_persist,
    unpersist_local_checkpoint,
)
from ..functions.text import hash32, norm_text, tokens, word_shingles
from ..io.readers import ensure_parallelism


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: canonical row per normalized text. Returns
    (text_hash, kept_id, n_copies). Grouping on md5 keeps the shuffle
    key 32 bytes regardless of document size."""
    return (
        df.select(
            F.md5(norm_text(F.col(text_col))).alias("text_hash"),
            F.col(id_col),
        )
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def with_shingles(
    df: DataFrame, id_col: str, text_col: str, ngram: int = 3
) -> DataFrame:
    """(id, shingles: array<string>) — distinct word n-grams, map-side.
    Documents with fewer than ``ngram`` tokens are dropped (their
    shingle set is empty by definition).

    Two expression-blowup traps are defused here, both with the same
    mechanism — Catalyst substitutes a column's FULL defining
    expression when it moves predicates/filters through projections,
    so an expensive computed column must never be what gets filtered
    or re-derived:

    1. Tokens are materialized as a column FIRST: passing the
       tokenizer expression tree into the shingle lambda would re-run
       the regex normalize+split for every element_at — O(tokens²)
       regex work per document (observed 15 s → 1 s on 6k docs).
    2. The emptiness filter is applied to the CHEAP token count here,
       not to ``size(shingles)`` by callers: a filter on the shingle
       array gets pushed below the projection with ``word_shingles``
       (and the tokenizer inside it) substituted wholesale — the same
       O(tokens²) regex blowup through the PushDownPredicates rule
       (observed 12 s → 1.5 s on 11k docs at sf0.1). The sibling trap
       via InferFiltersFromGenerate on explode(shingles) is excluded
       session-wide (session._RUNTIME_CONF)."""
    tokd = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks__")
    )
    return tokd.where(F.size("__toks__") >= ngram).select(
        "doc_id", word_shingles(F.col("__toks__"), ngram).alias("shingles")
    )


# Affine minhash family over the base 32-bit hash: h_i = (A_i*h + B_i) mod P.
# P is the first prime above 2^32; A_i stays < 2^21 so A_i*h < 2^53 —
# exact in int64 for Spark AND DuckDB (which errors on overflow).
MINHASH_P = 4294967311
MINHASH_A = [1000003, 1000033, 1000037, 1000039, 1000081, 1000099,
             1000117, 1000121, 1000133, 1000151, 1000159, 1000171,
             1000183, 1000187, 1000193, 1000199]
MINHASH_B = [769, 1543, 3079, 6151, 12289, 24593, 49157, 98317,
             196613, 393241, 786433, 1572869, 3145739, 6291469,
             12582917, 25165843]


def minhash_signature(
    shingled: DataFrame, num_hashes: int = 12
) -> DataFrame:
    """Attach sig: array<bigint> of length num_hashes, entirely
    map-side (no explode): ONE md5-derived base hash per shingle, then
    the affine family per hash index — md5 is ~50x the cost of the
    integer mix, so hashing once matters. Empty shingle sets dropped."""
    base_hashes = F.transform(F.col("shingles"), lambda s: hash32(s))

    # Factory closure, NOT a default-arg lambda: PySpark binds default
    # params of HOF lambdas as extra lambda-variable Columns.
    def _mixer(i: int):
        a, b = MINHASH_A[i], MINHASH_B[i]
        return lambda h: (h * a + b) % MINHASH_P

    sig = F.array(
        *[
            F.array_min(F.transform("__h__", _mixer(i)))
            for i in range(num_hashes)
        ]
    )
    # No size(shingles)>0 filter here: with_shingles guarantees
    # non-empty, and filtering a computed array re-derives it through
    # predicate pushdown (see with_shingles docstring).
    return (
        shingled.withColumn("__h__", base_hashes)
        .withColumn("sig", sig)
        .drop("__h__")
    )


def lsh_candidate_pairs(
    signed: DataFrame, num_hashes: int = 12, bands: int = 4
) -> DataFrame:
    """Band the signature (rows = num_hashes // bands per band; band
    signature = SUM of the band's minhashes — order-free, exact
    integer arithmetic) and self-join buckets → distinct candidate
    (doc_a < doc_b) pairs. The exchange is (band, band_sig): `bands`
    rows per doc."""
    # Persist (tracked — caching.release_caches() frees it after the
    # query's action): the self-join reads the bucket frame twice;
    # without the cache the whole shingle+signature subtree executes
    # twice. At warehouse scale this materialization is the signature
    # table. (Measured dead end, for the record: repartition(band,
    # band_sig) before the persist does NOT let the self-join elide
    # its exchanges under AQE — the re-planned join does not adopt the
    # InMemoryRelation's partitioning — and adds a shuffle of its own.)
    buckets = track_persist(_band_buckets(signed, num_hashes, bands))
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# Per-process observability trail for probes/tests: one record per
# gate evaluation — {n_pairs, est_row, est_total, budget, fast}.
LAST_GATE_DECISIONS: list[dict] = []


def _verify_budget_bytes(spark) -> float:
    """Byte budget of ``_verify_size_gate`` (derivation there)."""
    jvm_rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    heap = int(jvm_rt.maxMemory())
    cores = max(spark.sparkContext.defaultParallelism, 1)
    return heap * 0.6 / cores / 4


def _verify_size_gate(pairs: DataFrame, shingled: DataFrame) -> bool:
    """Decide whether the candidate set is PROVABLY small enough to
    broadcast (fast path) or must take the spill-safe aggregate shape.

    The estimate is deliberately pessimistic at every step:

    - per-row bytes = max(2 x sampled avg, sampled max) of the
      UnsafeRow-ish footprint (string bytes + 24/element + 80 fixed);
    - the WHOLE estimated build must fit in ONE task's conservative
      execution share (heap x 0.6 unified pool / parallelism) with a
      further /4 safety factor — i.e. we assume AQE could coalesce the
      relation into a single partition and still demand it fit with
      room to spare. Under the r10 OOM config (1 GiB heap, 16 threads)
      the budget is ~9.8 MB; prefix_jaccard at sf0.1 estimates ~300 MB
      and is routed to the aggregate shape, while the banded MinHash
      candidate sets (hundreds of pairs, <1 MB) take the fast path.

    Cluster note: in local mode Runtime.maxMemory IS the executor
    heap; on a real cluster this gate runs on the driver, where the
    same number bounds the broadcast-collect side — the stricter of
    the two constraints for a broadcast plan.
    """
    n_pairs = pairs.count()  # pairs is persisted by the caller
    if n_pairs == 0:
        return True
    row_bytes = (
        F.length(F.concat_ws(" ", "shingles"))
        + F.size("shingles") * 24
        + 80
    ).alias("b")
    sample = (
        shingled.orderBy(F.xxhash64("shingles"))
        .select(row_bytes)
        .limit(2048)
        .agg(F.avg("b").alias("avg"), F.max("b").alias("mx"))
        .first()
    )
    if sample is None or sample["avg"] is None:
        return False
    est_row = max(2.0 * float(sample["avg"]), float(sample["mx"]))
    est_total = n_pairs * est_row
    budget = _verify_budget_bytes(pairs.sparkSession)
    fast = est_total <= budget
    LAST_GATE_DECISIONS.append(
        {
            "n_pairs": n_pairs,
            "est_row": round(est_row, 1),
            "est_total": round(est_total, 1),
            "budget": round(budget, 1),
            "fast": fast,
        }
    )
    return fast


def _jaccard_expr(a: str = "sh_a", b: str = "sh_b"):
    """Exact Jaccard over two DISTINCT-element shingle arrays on one
    row: |A∩B| / (|A| + |B| − |A∩B|).

    r14 optimization (guide §1.2 step 2, per-task work): the previous
    form computed the union as ``size(array_distinct(concat(a, b)))``
    — a SECOND per-pair hash-set build over |A|+|B| strings on top of
    ``array_intersect``'s. ``with_shingles`` arrays are distinct by
    construction (``word_shingles`` applies ``array_distinct``), so
    inclusion-exclusion gives the identical integer:
    |A∪B| = |A| + |B| − |A∩B|. Counts are exact in double (< 2^31),
    and the final division consumes the same two doubles as before,
    so every jaccard value is BIT-IDENTICAL to the old expression —
    re-checked against the unchanged DuckDB oracles. The two
    ``size(array_intersect(...))`` occurrences collapse to one
    evaluation under codegen subexpression elimination."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (
        (F.size(a) + F.size(b) - inter).cast("double")
    )


def jaccard_verify(
    pairs: DataFrame, shingled: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard on the candidate pairs: |A∩B| / |A∪B| over the
    distinct-shingle arrays. Output (doc_a, doc_b, jaccard), one row
    per distinct candidate pair at or above the threshold.

    PRECONDITION (r14 ADVICE): ``shingled``'s shingle arrays must be
    DISTINCT-element (``with_shingles``/``word_shingles`` guarantees
    this by construction). The union is computed by inclusion-
    exclusion (|A|+|B|−|A∩B|, ``_jaccard_expr``), which is exact only
    for duplicate-free arrays; a caller passing duplicate-bearing
    arrays gets a silently deflated Jaccard (the pre-r14
    ``array_distinct(concat(...))`` form was duplicate-robust).

    Shape selection (r11, the r10 verdict's top item): a size gate
    (``_verify_size_gate``) routes a PROVABLY-bounded candidate set to
    a zero-shuffle broadcast plan — both shingle fetches become
    broadcast-hash joins with the candidate side as the broadcast
    relation, so the corpus never shuffles and the per-pair aggregate
    disappears entirely. Anything the gate cannot bound takes shape 3
    below, whose every operator degrades gracefully at any candidate
    volume. Measured at sf0.1: MinHash candidates (285 pairs) take the
    fast path; prefix_jaccard's 160k candidates (~300 MB of fat build,
    the reproduced r10 OOM) stay on shape 3.

    Shape history — shape 3 is the third design, and the first whose
    every operator degrades gracefully under memory pressure at any
    candidate volume:

    1. Sort-merge on the arrays (r8): spills ~12 GB per join at 30x —
       SMJ SORTS the fat side (whole-document shingle arrays), twice,
       and the sorted set is the CORPUS.
    2. Forced shuffle-hash with the candidate side as build (r9):
       fast (100x hybrid probe: 331→231 s), but ShuffledHashJoinExec's
       HashedRelation does NOT spill, and join 2's build carried one
       sh_a array per candidate — the r10 full sf0.1 sweep reproduced
       the predicted failure ("Can't acquire 16777216 bytes memory to
       build hash relation") under a default-memory 16-thread session.
    3. Now: no fat row ever enters a HASH BUILD. Both shingle fetches
       are shuffle-hash joins whose build side is the BARE PAIR KEYS
       (2 longs/row — bounded at any sane candidate count; the corpus
       arrays only ever STREAM through the exchanges, exactly as in
       shape 2). The fetched sides are then paired by a per-pair
       AGGREGATE over exactly two rows per candidate — an agg, unlike
       a hash-join build, falls back to sort-based spilling when
       memory is tight, and what it would sort is 2·|pairs| rows (the
       candidate set, small by the banding argument), never the
       corpus. The intersection stays the exact array_intersect over
       the paired arrays; the extra cost vs shape 2 is one exchange of
       2·|pairs| fat rows.

    (A fourth shape — explode to skinny (pair, shingle) rows and count
    shared shingles with a two-level agg, no fat row anywhere — was
    measured at ~2x the r9 wall at sf0.1 even with xxhash64-packed
    shingles: per-shingle row overhead swamps what it saves. Not worth
    it while candidates stay banded; revisit only if a workload breaks
    the candidate bound.)"""
    sa = shingled.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = shingled.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    # Both fetches consume the candidate set; without a persist the
    # candidate-generation subtree (typically an LSH bucket self-join)
    # executes twice. Tracked — released after the query's action.
    pairs = track_persist(pairs)

    if _verify_size_gate(pairs, shingled):
        # Fast path: ZERO-shuffle verify. The candidate side is the
        # broadcast relation in BOTH fetches, so the corpus arrays
        # stream map-side and never hit an exchange; the per-pair
        # aggregate is unnecessary because join 2's output already
        # carries (sh_a, sh_b) on one row. dropDuplicates keeps the
        # one-row-per-distinct-pair contract that shape 3's groupBy
        # provides for free (callers pass distinct pairs today; this
        # pins the contract for ones that might not).
        p = pairs.dropDuplicates(["doc_a", "doc_b"])
        xa_fast = F.broadcast(p).join(sa, "doc_a")
        fat = F.broadcast(xa_fast).join(sb, "doc_b")
        return fat.select(
            "doc_a", "doc_b", _jaccard_expr().alias("jaccard")
        ).where(F.col("jaccard") >= threshold)

    xa = (
        pairs.hint("shuffle_hash")
        .join(sa, "doc_a")
        .select(
            "doc_a", "doc_b", F.col("sh_a").alias("sh"), F.lit(1).alias("side")
        )
    )
    xb = (
        pairs.hint("shuffle_hash")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", F.col("sh_b").alias("sh"), F.lit(2).alias("side")
        )
    )
    paired = (
        xa.unionByName(xb)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first(
                F.when(F.col("side") == 1, F.col("sh")), ignorenulls=True
            ).alias("sh_a"),
            F.first(
                F.when(F.col("side") == 2, F.col("sh")), ignorenulls=True
            ).alias("sh_b"),
        )
        # Inner-join semantics of the old shape: a pair whose doc was
        # dropped by with_shingles (< ngram tokens) has one side null.
        .where(F.col("sh_a").isNotNull() & F.col("sh_b").isNotNull())
    )
    return paired.select(
        "doc_a", "doc_b", _jaccard_expr().alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.6,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature (map
    side) → banded buckets → candidate pairs → exact-Jaccard verify.

    The shingle frame is persisted (tracked for release after the
    terminal action): it feeds the signature pass once and the Jaccard
    verify twice; recomputing it means re-tokenizing and re-hashing
    the corpus three times.

    The input is round-robined up to core count first
    (``readers.ensure_parallelism`` — a no-op whenever the scan
    already yields >= cores splits, i.e. at any real scale): the
    tokenize + shingle + per-shingle md5 pass is the pipeline's CPU
    stage and otherwise inherits a single-row-group test file's
    1-task partitioning (r15 A/B, plans/r15/parallelism_ab.txt)."""
    shingled = track_persist(
        with_shingles(ensure_parallelism(df), id_col, text_col, ngram)
    )
    signed = minhash_signature(shingled, num_hashes)
    pairs = lsh_candidate_pairs(signed, num_hashes, bands)
    return jaccard_verify(pairs, shingled, threshold)


def simhash_signature(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """32-bit SimHash per doc, map-side: for each bit j, sum ±1 over
    token hashes (frequency-weighted); bit set iff the sum is
    positive. Returns (doc_id, simhash)."""
    def _voter(j: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    # Materialize token hashes once — each of the 32 bit aggregates
    # would otherwise re-run tokenize+md5 per row.
    # NULL / empty-token documents are excluded (mirrors
    # minhash_signature's size>0 guard): a NULL text would otherwise
    # coalesce every bit vote to -1 and yield simhash 0, while the
    # unnest-based SQL oracles drop such docs entirely.
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(tokens(F.col(text_col)), lambda t: hash32(t)).alias("__h__"),
    ).where(F.size("__h__") > 0)
    bit_votes = [
        F.aggregate(F.col("__h__"), F.lit(0), _voter(j)) for j in range(bits)
    ]
    simhash = sum(
        (
            F.when(bit_votes[j] > 0, F.lit(2**j).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
            for j in range(1, bits)
        ),
        F.when(bit_votes[0] > 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        ),
    )
    return hashed.select("doc_id", simhash.alias("simhash"))


def simhash_neardup_pairs(
    signed: DataFrame, max_hamming: int = 3, chunks: int = 4, bits: int = 32
) -> DataFrame:
    """Candidate pairs via equal 8-bit chunks (pigeonhole: hamming ≤ 3
    over 4 chunks → at least one chunk identical), verified with
    bit_count(xor). Output (doc_a, doc_b, hamming)."""
    width = bits // chunks
    mask = (1 << width) - 1
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright("simhash", c * width).bitwiseAND(F.lit(mask)).alias("val"),
            )
            for c in range(chunks)
        ]
    )
    buckets = signed.select(
        "doc_id", "simhash", F.explode(chunk_structs).alias("cc")
    ).select("doc_id", "simhash", "cc.chunk", "cc.val")
    a, b = buckets.alias("a"), buckets.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("bigint")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    threshold: float = 0.6,
    max_df: int = 50,
) -> DataFrame:
    """Exact near-dup baseline: inverted index on shingles with a
    max-document-frequency cap, pair counts, then Jaccard via
    |A|+|B|-shared. Output (doc_a, doc_b, jaccard)."""
    shingled = with_shingles(df, id_col, text_col, ngram)
    sizes = shingled.select("doc_id", F.size("shingles").alias("n_sh"))
    exploded = shingled.select("doc_id", F.explode("shingles").alias("shingle"))
    rare = (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("shingle")
    )
    filtered = exploded.join(rare, "shingle")
    a, b = filtered.alias("a"), filtered.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("shared")
    ).cast("double")
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _band_buckets(
    signed: DataFrame, num_hashes: int, bands: int, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, [*keep,] band, band_sig) — the LSH bucket table for a
    signed frame (band signature = order-free integer sum of the
    band's minhashes; exact in int64). `keep` carries extra columns
    through the explode (the streaming join needs the shingle array
    alongside each band row)."""
    rows = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                sum(
                    (F.element_at("sig", b * rows + r + 1) for r in range(1, rows)),
                    F.element_at("sig", b * rows + 1),
                ).alias("band_sig"),
            )
            for b in range(bands)
        ]
    )
    return signed.select(
        "doc_id", *keep, F.explode(band_structs).alias("bb")
    ).select("doc_id", *keep, "bb.band", "bb.band_sig")


def minhash_similarity_join(
    query_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Approximate SET-SIMILARITY JOIN (cross-corpus, not self-dedup):
    for each query document, the corpus documents with Jaccard >=
    threshold. Candidates come from LSH bucket intersection — each
    side shuffles only its (band, band_sig) rows, so the join cost
    tracks bucket collisions, never |Q| x |C|. The production shape
    for "dedup new crawl against existing training corpus".
    Output (query_id, corpus_id, jaccard).

    Exact-verify precondition (r14 ADVICE): shingle arrays are built
    here via ``with_shingles`` (distinct by construction), which the
    inclusion-exclusion union in ``_jaccard_expr`` requires — callers
    reusing ``_jaccard_expr`` on external shingled frames must
    guarantee distinct-element arrays or Jaccard deflates silently.

    Both sides are round-robined up to core count before the CPU-heavy
    shingle+hash pass (``ensure_parallelism`` — no-op at real scale;
    r15 A/B, plans/r15/parallelism_ab.txt)."""
    sq = track_persist(
        with_shingles(ensure_parallelism(query_df), id_col, text_col, ngram)
    )
    sc = track_persist(
        with_shingles(ensure_parallelism(corpus_df), id_col, text_col, ngram)
    )
    bq = _band_buckets(minhash_signature(sq, num_hashes), num_hashes, bands)
    bc = _band_buckets(minhash_signature(sc, num_hashes), num_hashes, bands)
    cand = (
        bq.alias("q")
        .join(
            bc.alias("c"),
            (F.col("q.band") == F.col("c.band"))
            & (F.col("q.band_sig") == F.col("c.band_sig")),
        )
        .select(
            F.col("q.doc_id").alias("query_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    sa = sq.select(F.col("doc_id").alias("query_id"), F.col("shingles").alias("sh_a"))
    sb = sc.select(F.col("doc_id").alias("corpus_id"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sa, "query_id")
        .join(sb, "corpus_id")
        .select("query_id", "corpus_id", _jaccard_expr().alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_similarity_join_stream(
    query_stream: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Streaming twin of minhash_similarity_join: continuously dedupe
    an ARRIVING document stream against a STATIC training corpus —
    the 24/7 version of "dedup the new crawl".

    Streaming shape: the stream side stays wholly map-side (shingle →
    signature → band explode), with the shingle array carried
    alongside each band row — a stream cannot re-join itself for the
    Jaccard verify without watermarked stream-stream state, so the
    bands× in-flight width buys zero extra state. Both joins are
    stream-static (stateless, re-planned per micro-batch); the only
    streaming state is the candidate-pair dropDuplicates, bounded
    under trigger(availableNow). A 24/7 deployment would swap it for
    dropDuplicatesWithinWatermark keyed the same way so pair state
    ages out at the horizon.

    Output (query_id, corpus_id, jaccard) — identical semantics to
    the batch operator, so the batch SQL oracle checks the stream
    end-to-end. Same exact-verify precondition as the batch operator:
    shingle arrays must be distinct-element (guaranteed here by
    ``with_shingles``) for ``_jaccard_expr``'s inclusion-exclusion
    union to be exact.
    """
    sq = minhash_signature(
        with_shingles(query_stream, id_col, text_col, ngram), num_hashes
    )
    bq = _band_buckets(sq, num_hashes, bands, keep=("shingles",))

    # Static corpus side only: a streaming frame's partitioning is the
    # stateful-plan floor's domain (_stream_shuffle_partitions), and
    # ensure_parallelism cannot inspect a streaming plan anyway.
    sc = track_persist(
        with_shingles(ensure_parallelism(corpus_df), id_col, text_col, ngram)
    )
    bc = _band_buckets(minhash_signature(sc, num_hashes), num_hashes, bands)

    cand = (
        bq.alias("q")
        .join(
            bc.alias("c"),
            (F.col("q.band") == F.col("c.band"))
            & (F.col("q.band_sig") == F.col("c.band_sig")),
        )
        .select(
            F.col("q.doc_id").alias("query_id"),
            F.col("c.doc_id").alias("corpus_id"),
            F.col("q.shingles").alias("sh_a"),
        )
        .dropDuplicates(["query_id", "corpus_id"])
    )
    sb = sc.select(
        F.col("doc_id").alias("corpus_id"), F.col("shingles").alias("sh_b")
    )
    return (
        cand.join(sb, "corpus_id")
        .select("query_id", "corpus_id", _jaccard_expr().alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT Jaccard near-dup join via prefix filtering (AllPairs /
    PPJoin): same results as the all-pairs baseline, without the
    quadratic candidate space and without the max-df cap's silent
    recall loss.

    The filter: order every document's shingles by one global canonical
    order (ascending document frequency, ties by shingle — rarest
    first), and index only the first ``|d| - ceil(t*|d|) + 1``. Two
    documents with Jaccard >= t MUST share at least one prefix shingle
    under any shared total order, so the candidate set is exact;
    rare-first ordering makes it small (candidates ∝ rare-shingle
    collisions, and frequent shingles never enter the index). Survivors
    are verified on the full shingle arrays.

    Scale shape: two index-build shuffles (df counts, per-doc window)
    + a self-join whose cost tracks prefix collisions — the engineered
    version of the exact baseline, not an approximation like MinHash.
    Output (doc_a, doc_b, jaccard).
    """
    from pyspark.sql import Window as W

    # All candidate filters run in integer per-mille arithmetic — the
    # prefix length included, since a float ceil(t*n) can land one above
    # the true integer product and silently shorten the prefix.
    t_millis = int(round(threshold * 1000))
    if abs(t_millis / 1000.0 - threshold) > 1e-12:
        raise ValueError(
            "threshold must have at most 3 decimal places, got "
            f"{threshold!r}"
        )

    shingled = track_persist(with_shingles(df, id_col, text_col, ngram))
    ex = shingled.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("shingle"),
    )
    freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    # Exact integer ceil(t*n) = (n*t_millis + 999) div 1000.
    prefix_len = F.expr(
        f"CAST(n_sh - ((n_sh * {t_millis} + 999) DIV 1000) + 1 AS INT)"
    )
    w = W.partitionBy("doc_id").orderBy("freq", "shingle")
    prefixes = (
        ex.join(freq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= prefix_len)
        .select("doc_id", "n_sh", "rn", "shingle")
    )
    # Candidate pruning — all three filters are EXACT (they only drop
    # pairs that provably cannot reach the threshold), in integer
    # per-mille arithmetic so no boundary is lost to float rounding:
    #
    # 1. length: jaccard >= t => |a∩b| >= t·max(|a|,|b|) and
    #    |a∩b| <= min, so min >= t·max;
    # 2. min-overlap: jaccard >= t  <=>  o >= t/(1+t)·(|a|+|b|)
    #    (o = |a∩b|; from o/(na+nb-o) >= t);
    # 3. position (PPJoin): a collision at prefix positions (i, j) of
    #    arrays sharing one canonical order bounds the overlap by
    #    1 + min(na-i, nb-j), which must still reach the min-overlap.
    a, b = prefixes.alias("a"), prefixes.alias("b")
    na, nb = F.col("a.n_sh"), F.col("b.n_sh")
    min_overlap_lhs = (
        (F.lit(1) + F.least(na - F.col("a.rn"), nb - F.col("b.rn")))
        * (1000 + t_millis)
    )
    len_ok = F.least(na, nb) * 1000 >= F.greatest(na, nb) * t_millis
    pos_ok = min_overlap_lhs >= (na + nb) * t_millis
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & len_ok
            & pos_ok,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return jaccard_verify(cand, shingled, threshold)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve dedup PAIRS into dedup CLUSTERS: connected components
    over the pair graph, component id = min node id. This is the step
    between pair generation (MinHash/SimHash/prefix-Jaccard/embedding
    buckets above) and the keep-one-per-cluster policy — pairs alone
    over-delete when A~B and B~C but A!~C.

    Algorithm: iterative min-label propagation (the iterative-
    algorithm class, like operators/clustering.kmeans_lloyd): each
    round every node takes min(own label, neighbors' labels); rounds
    needed = graph diameter, which for near-dup clusters is small. The
    per-round plan is one join + one groupBy on node ids (never
    payloads); the driver sees only the single convergence COUNT per
    round — no data is collected. Every round the label frame is
    eagerly localCheckpoint-ed: caching alone keeps the DATA but lets
    the logical plan nest one join deeper per round, and Catalyst
    re-analysis of that tower goes super-linear (measured: a 10-round
    path graph OOMs the driver without truncation). Lineage
    truncation, not caching, is what makes iterative DataFrame
    algorithms viable — on a cluster use checkpoint() to reliable
    storage for fault tolerance instead.

    Output: (node, component) for every node that appears in an edge.
    """
    sym = track_persist(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint()
    )
    prev_ckpt = labels  # previous round's checkpoint blocks (r5 advice:
    # each round's localCheckpoint lives OUTSIDE the track_persist
    # registry; without an explicit release, executor storage grows by
    # one label-frame per iteration)
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("comp").alias("nmin"))
        )
        step = (
            labels.join(neighbor_min, labels.node == F.col("a"), "left")
            .select(
                "node",
                F.col("comp").alias("old_comp"),
                F.least(
                    F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint()  # eager: truncates lineage, materializes once
        )
        changed = step.where(F.col("comp") != F.col("old_comp")).count()
        unpersist_local_checkpoint(prev_ckpt)  # step is materialized;
        # the previous round's blocks are dead weight from here on
        prev_ckpt = step
        labels = step.select("node", "comp")
        if changed == 0:
            break
    else:
        # Falling through with changed > 0 means some component's
        # diameter exceeds max_iter and the labels are WRONG (split
        # clusters) — on a production pair graph that is silent
        # over-retention with no signal. Fail loudly instead, like
        # misra_gries_heavy_hitters self-reports its undercount bound.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still changing): a component's "
            "diameter exceeds max_iter, so returned labels would split "
            "real clusters. Raise max_iter (rounds needed = graph "
            "diameter) or pre-contract obvious duplicates."
        )
    # The final checkpoint backs the returned frame; released with the
    # query's other caches once the caller's action completes.
    track_local_checkpoint(prev_ckpt)
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Deep-graph variant of connected_components: alternating
    LARGE-STAR / SMALL-STAR contraction — O(log^2 n) rounds instead of
    rounds = diameter. Same fixpoint (component id = min node id),
    heavier per round (two groupBy/join passes + an exact edge-set
    comparison vs propagation's one join), so the right pick ONLY when
    components can be deep or diameter is unknown. Measured on a
    100-hop chain: 9.1 s vs propagation's 22.4 s and near-FLAT in
    depth; on the shallow (diameter<=2) registry dedup graph it is
    ~2.3x SLOWER than propagation — which is why both exist and
    propagation stays the default for near-dup clusters.

    Algorithm: alternating LARGE-STAR / SMALL-STAR
    graph contraction (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond") instead of plain min-label propagation.
    Each round every node hangs its larger neighbors (large-star),
    then its smaller-or-equal neighborhood (small-star), off the
    minimum of its closed neighborhood; components contract toward
    star graphs centered on their minimum id in O(log^2 n) rounds —
    versus rounds = DIAMETER for plain propagation (the r5 scale
    probe measured 6.6x wall for a 10x deeper chain under the old
    algorithm; deep chains are exactly what pathological near-dup
    graphs produce). Per-round cost: two groupBy/join passes on id
    pairs only, plus one exact edge-set comparison (exceptAll) for
    convergence — no checksums, no collected data.

    Every round the edge frame is eagerly localCheckpoint-ed: caching
    alone keeps the DATA but lets the logical plan nest one join
    deeper per round, and Catalyst re-analysis of that tower goes
    super-linear (measured: a 10-round path graph OOMs the driver
    without truncation). Lineage truncation, not caching, is what
    makes iterative DataFrame algorithms viable — on a cluster use
    checkpoint() to reliable storage for fault tolerance instead.

    Output: (node, component) for every node that appears in an edge;
    component id = min node id, the same fixpoint the propagation
    algorithm reached (the registry query's recursive-CTE oracle is
    algorithm-independent).
    """
    nodes = track_persist(
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )

    def _star(cur: DataFrame, large: bool) -> DataFrame:
        sym = cur.union(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        nmin = sym.groupBy("u").agg(F.min("v").alias("nm"))
        withm = sym.join(nmin, "u").select(
            "u", "v", F.least(F.col("nm"), F.col("u")).alias("m")
        )
        if large:
            out = withm.where(F.col("v") > F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            )
        else:
            out = withm.where(F.col("v") <= F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            ).union(
                withm.select(
                    F.col("u").alias("a"), F.col("m").alias("b")
                ).distinct()
            )
        return (
            out.where(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
            )
            .distinct()
        )

    converged = False
    # r14: carry the previous round's edge count in a driver variable
    # instead of re-counting the (already materialized) old frame every
    # round — one fewer job per iteration (guide §1.2 step 1: don't
    # recompute what you already know). e is localCheckpoint-ed, so
    # count() was cheap but still a full job dispatch per round.
    e_count = e.count()
    for _ in range(max_iter):
        e_new = _star(_star(e, large=True), large=False).localCheckpoint()
        e_new_count = e_new.count()
        unchanged = (
            e_new_count == e_count
            and e_new.exceptAll(e).limit(1).count() == 0
        )
        e_count = e_new_count
        # The convergence comparison above is the LAST read of the old
        # round's edges — release its checkpoint blocks now (r5 advice:
        # these live outside the track_persist registry and otherwise
        # accumulate one edge-frame per round and per repeated call).
        unpersist_local_checkpoint(e)
        e = e_new
        if unchanged:
            converged = True
            break
    if not converged:
        # Stopping un-contracted means the labels below would split
        # real clusters — on a production pair graph that is silent
        # over-retention with no signal. Fail loudly instead, like
        # misra_gries_heavy_hitters self-reports its undercount bound.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "alternating star rounds: the graph is still contracting. "
            "Raise max_iter (rounds needed ~ log^2 of the largest "
            "component) or pre-contract obvious duplicates."
        )
    # The converged edge frame backs the returned labels; released
    # with the query's other caches once the caller's action completes.
    track_local_checkpoint(e)
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    lab = sym.groupBy("u").agg(F.min("v").alias("nm")).select(
        F.col("u").alias("node"),
        F.least(F.col("nm"), F.col("u")).alias("comp"),
    )
    return nodes.join(lab, "node", "left").select(
        "node", F.coalesce("comp", F.col("node")).alias("component")
    )
