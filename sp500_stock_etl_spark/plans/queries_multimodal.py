"""Multimodal-column queries (north star): binary payload plumbing
through Arrow-batched ``mapInPandas``.

The container-header parse is real for all three modalities (PNG IHDR
/ JPEG SOFn, RIFF/WAVE, MP4 mvhd+tkhd — operators/multimodal.py), and
the synthetic corpus embeds genuine headers, so the decode-facing
queries are fully oracle-checked: DuckDB recomputes the same header
facts arithmetically. A value mismatch means the byte-level header
construction or the parser is wrong. The codec-level step is
REAL for all three modalities end to end: PNG pixel decode (stdlib
zlib inflate + per-scanline unfilter → multimodal_resize_execute),
WAV PCM sample decode (header-located LE int16 body →
multimodal_pcm_chunk_execute), baseline JPEG decode (Annex-K Huffman
+ IDCT → multimodal_jpeg_decode_execute), and Motion-JPEG video
frames from a genuine AVI container (→
multimodal_mjpeg_frame_decode), each hash-checked against a DuckDB
arithmetic replay of the corpus formulas. The byte-histogram feature
is also hash-checked (hex-digit oracle); nothing in this family is
rows-only anymore. The metadata-only query stays fully native and
proves payload-column pruning does not change results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import multimodal as MM
from .registry import register

_N_MEDIA = 300

# The synthetic generator's parameters, mirrored in every oracle below
# (operators/multimodal.py::synthetic_media): image dims, WAV rate /
# channels / declared duration, MP4 duration / track dims.


# The byte histogram is hash-checked. The bucket counts are INTEGERS
# (byte >> 5), and every payload byte is arithmetically known — the
# container headers are fixed literals plus fixed-width computed
# words, the filler is unhex(repeat(md5(id), 4)). DuckDB rebuilds the
# payload as a HEX STRING (headers composed from the same byte
# constants the generator uses, imported not retyped; little-endian
# words byte-swapped in SQL) and buckets each byte WITHOUT unhex:
# byte >> 5 depends only on the byte's FIRST hex digit d (byte =
# 16*d + d2, d2 < 16 -> byte >> 5 = d // 2), so one strpos lookup
# per byte pair suffices. Long-format output, zero-count buckets
# filtered on both sides.


def _beh(e: str, n: int = 8) -> str:
    """BE hex of an integer SQL expr, fixed width n (DuckDB)."""
    return f"lpad(lower(hex(CAST({e} AS BIGINT))), {n}, '0')"


def _sw32(c: str) -> str:
    """Byte-swap an 8-char BE-hex column -> LE hex."""
    return (
        f"(substr({c},7,2)||substr({c},5,2)||substr({c},3,2)||substr({c},1,2))"
    )


def _sw16(c: str) -> str:
    return f"(substr({c},3,2)||substr({c},1,2))"


def _hex_const(b: bytes) -> str:
    return b.hex()


_DECODE_FEATURES_ORACLE = f"""
WITH m AS (
    SELECT range AS media_id, CAST(range % 3 AS INT) AS k
    FROM range({_N_MEDIA})
),
imgh AS (
    SELECT media_id,
           '{_hex_const(MM._PNG_PREFIX)}'
           || {_beh('16 + media_id % 240')}
           || {_beh('16 + (media_id * 7) % 240')}
           || '{_hex_const(MM._PNG_IHDR_TAIL)}' AS hdr
    FROM m WHERE k = 0
),
aud1 AS (
    SELECT media_id, rate, channels,
           (media_id % 117 + 3) * rate * channels * 2 AS data_size
    FROM (
        SELECT media_id,
               [8000, 16000, 44100][CAST((media_id // 3) % 3 AS INT) + 1]
                   AS rate,
               1 + media_id % 2 AS channels
        FROM m WHERE k = 1
    )
),
audh0 AS (
    SELECT media_id,
           {_beh('data_size + 36')} AS h_sz,
           {_beh('channels', 4)} AS h_ch,
           {_beh('rate')} AS h_rate,
           {_beh('rate * channels * 2')} AS h_brate,
           {_beh('channels * 2', 4)} AS h_ba,
           {_beh('data_size')} AS h_ds
    FROM aud1
),
audh AS (
    SELECT media_id,
           '{_hex_const(b"RIFF")}' || {_sw32('h_sz')}
           || '{_hex_const(b"WAVEfmt ")}'
           || '{_hex_const((16).to_bytes(4, "little"))}'
           || '{_hex_const((1).to_bytes(2, "little"))}'
           || {_sw16('h_ch')} || {_sw32('h_rate')} || {_sw32('h_brate')}
           || {_sw16('h_ba')}
           || '{_hex_const((16).to_bytes(2, "little"))}'
           || '{_hex_const(b"data")}' || {_sw32('h_ds')} AS hdr
    FROM audh0
),
vidh AS (
    SELECT media_id,
           '{_hex_const(MM._FTYP + MM._MOOV_HDR + MM._MVHD_PRE)}'
           || '{_hex_const((1000).to_bytes(4, "big"))}'
           || {_beh('(media_id * 37) % 57000 + 3000')}
           || '{_hex_const(MM._MVHD_TAIL + MM._TRAK_HDR + MM._TKHD_PRE)}'
           || {_beh('(media_id * 37) % 57000 + 3000')}
           || '{_hex_const(MM._TKHD_MID)}'
           || {_beh('(256 + (media_id % 16) * 16) * 65536')}
           || {_beh('(144 + ((media_id * 3) % 16) * 16) * 65536')} AS hdr
    FROM m WHERE k = 2
),
hx AS (
    SELECT media_id, 'image' AS kind,
           hdr || repeat(md5(CAST(media_id AS STRING)), 4) AS hs FROM imgh
    UNION ALL
    SELECT media_id, 'audio',
           hdr || repeat(md5(CAST(media_id AS STRING)), 4) FROM audh
    UNION ALL
    SELECT media_id, 'video',
           hdr || repeat(md5(CAST(media_id AS STRING)), 4) FROM vidh
),
b0 AS (
    SELECT media_id, kind, hs,
           CAST(unnest(range(length(hs) // 2)) AS BIGINT) AS i
    FROM hx
),
b AS (
    SELECT media_id, kind,
           (strpos('0123456789abcdef',
                   substr(hs, CAST(2 * i + 1 AS INT), 1)) - 1) // 2 AS bucket
    FROM b0
)
SELECT media_id, kind, CAST(bucket AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM b
GROUP BY media_id, kind, bucket
"""


@register(
    "multimodal_decode_features",
    _DECODE_FEATURES_ORACLE,
    doc="binary payload → 8-bucket byte-histogram feature via Arrow-"
    "batched mapInPandas, hash-checked end to end: integer "
    "bucket counts in long format vs a DuckDB arithmetic rebuild of "
    "every payload byte (header words + md5 filler) bucketed by "
    "first-hex-digit div 2 — no unhex, no decoder on the oracle side "
    "(north star)",
)
def q_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.synthetic_media(spark, _N_MEDIA)
    return (
        MM.decode_media(media)
        .select(
            "media_id",
            "kind",
            F.posexplode("byte_hist").alias("bucket", "cnt"),
        )
        .where(F.col("cnt") > 0)
        .select(
            "media_id", "kind", F.col("bucket").cast("int").alias("bucket"),
            "cnt",
        )
    )


_DECODE_DIMS_ORACLE = f"""
SELECT range AS media_id,
       'image' AS kind,
       CAST(16 + range % 240 AS INT) AS width,
       CAST(16 + (range * 7) % 240 AS INT) AS height,
       CAST(1 AS INT) AS n_frames
FROM range({_N_MEDIA})
WHERE range % 3 = 0
"""


@register(
    "multimodal_decode_dims",
    _DECODE_DIMS_ORACLE,
    doc="real PNG header parse through Arrow-batched mapInPandas, "
    "oracle-checked: DuckDB recomputes the embedded IHDR dimensions "
    "arithmetically (north star)",
)
def q_mm_decode_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.synthetic_media(spark, _N_MEDIA)
    return (
        MM.decode_media(media)
        .where(F.col("kind") == "image")
        .select("media_id", "kind", "width", "height", "n_frames")
    )


_VIDEO_DECODE_ORACLE = f"""
SELECT range AS media_id,
       CAST(256 + (range % 16) * 16 AS INT) AS width,
       CAST(144 + ((range * 3) % 16) * 16 AS INT) AS height,
       CAST((range * 37) % 57000 + 3000 AS INT) AS duration_ms,
       CAST((((range * 37) % 57000 + 3000) * 24) // 1000 AS INT) AS n_frames
FROM range({_N_MEDIA})
WHERE range % 3 = 2
"""


@register(
    "multimodal_video_decode",
    _VIDEO_DECODE_ORACLE,
    doc="real MP4 moov parse (mvhd timescale/duration + tkhd 16.16 track "
    "dims) through mapInPandas; DuckDB recomputes duration and the "
    "24fps frame count arithmetically (north star)",
)
def q_mm_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.synthetic_media(spark, _N_MEDIA)
    return (
        MM.decode_media(media)
        .where(F.col("kind") == "video")
        .select("media_id", "width", "height", "duration_ms", "n_frames")
    )


# Audio chunk plan: duration comes from the WAV header's DECLARED data
# size (the payload body is truncated — planning must not depend on
# byte counts), chunks of 10 s, last chunk clipped to the duration.
_AUDIO_CHUNKS_FULL_ORACLE = f"""
WITH audio AS (
    SELECT range AS media_id,
           [8000, 16000, 44100][CAST((range // 3) % 3 AS INT) + 1] AS sample_rate,
           CAST(1 + range % 2 AS INT) AS channels,
           CAST((range % 117 + 3) * 1000 AS INT) AS duration_ms
    FROM range({_N_MEDIA})
    WHERE range % 3 = 1
), chunks AS (
    SELECT media_id, sample_rate, channels, duration_ms,
           CAST(unnest(range((duration_ms + 9999) // 10000)) AS INT) AS chunk_idx
    FROM audio
)
SELECT media_id,
       CAST(sample_rate AS INT) AS sample_rate,
       channels,
       chunk_idx,
       chunk_idx * 10000 AS start_ms,
       least(chunk_idx * 10000 + 10000, duration_ms) AS end_ms
FROM chunks
"""


@register(
    "multimodal_audio_chunk_plan",
    _AUDIO_CHUNKS_FULL_ORACLE,
    doc="distributed-audio chunk plan from the RIFF/WAVE header alone "
    "(declared duration, truncated body): one row per 10s chunk — the "
    "100TB fan-out shape where planning reads byte-range prefixes and "
    "decode runs one-chunk-per-task (north star)",
)
def q_mm_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.synthetic_media(spark, _N_MEDIA)
    return MM.audio_chunk_plan(media, chunk_ms=10000).select(
        "media_id",
        "sample_rate",
        "channels",
        "chunk_idx",
        "start_ms",
        "end_ms",
    )


# Frame sampling is now oracle-checkable end-to-end: images contribute
# frame 0, videos every-8th frame of the mvhd-derived count, audio has
# no frames (n_frames = 0 → filtered).
_FRAME_SAMPLE_ORACLE = f"""
WITH vids AS (
    SELECT range AS media_id,
           CAST((((range * 37) % 57000 + 3000) * 24) // 1000 AS INT) AS n_frames
    FROM range({_N_MEDIA})
    WHERE range % 3 = 2
)
SELECT range AS media_id, 'image' AS kind, CAST(0 AS INT) AS frame_index
FROM range({_N_MEDIA}) WHERE range % 3 = 0
UNION ALL
SELECT media_id, 'video' AS kind,
       CAST(unnest(range(0, n_frames, 8)) AS INT) AS frame_index
FROM vids
"""


@register(
    "multimodal_frame_sample",
    _FRAME_SAMPLE_ORACLE,
    doc="frame sampling as explode(sequence(0, n_frames-1, k)) over decoded "
    "media — relational plumbing over the real header-derived frame "
    "counts, no UDF past the header parse (north star)",
)
def q_mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.synthetic_media(spark, _N_MEDIA)
    return MM.frame_sample(MM.decode_media(media), every_k=8)


# Metadata-only path: never touches the payload column — Catalyst
# prunes it at the source. The oracle reproduces the synthetic corpus
# arithmetically, proving the pruned plan computes the same answer.
_META_ORACLE = f"""
WITH media AS (
    SELECT range AS media_id,
           ['image', 'audio', 'video'][CAST(range % 3 AS INT) + 1] AS kind,
           -- 64 md5 filler bytes plus the genuine container header:
           -- PNG sig+IHDR = 33 B, WAV RIFF/fmt/data header = 44 B,
           -- MP4 ftyp(16)+moov(216) = 232 B
           octet_length(from_hex(repeat(md5(CAST(range AS VARCHAR)), 4)))
             + CASE range % 3 WHEN 0 THEN 33 WHEN 1 THEN 44 ELSE 232 END
             AS payload_bytes
    FROM range({_N_MEDIA})
)
SELECT kind,
       count(*) AS n,
       CAST(sum(CAST(payload_bytes AS BIGINT)) AS BIGINT) AS total_bytes
FROM media
GROUP BY kind
"""


@register(
    "multimodal_metadata_agg",
    _META_ORACLE,
    doc="metadata-only agg over the media table; payload column pruned at scan "
    "(north star; verify with explain → ReadSchema)",
)
def q_mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.synthetic_media(spark, _N_MEDIA)
    return media.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("payload").cast("bigint")).alias("total_bytes"),
    )


# ---------------------------------------------------------------------------
# Resize planning: the preprocessing pass every vision
# pipeline runs before decode — aspect-preserving target dimensions
# (max side 224, the standard vision-model input) computed from the
# REAL parsed PNG headers, in pure integer arithmetic so the plan is
# bit-checkable: scale_bp = 224*10000 div max(w,h) basis points,
# out_w/out_h = side * 224 div max(w,h) (floor; the max side lands
# exactly on 224). The pixel resample itself is the stubbed
# codec-level step per the multimodal contract — the PLAN (what a
# fleet of decode workers would execute) is the Spark-side
# deliverable, exactly like the audio chunk planner.
# ---------------------------------------------------------------------------

_RESIZE_TARGET = 224

_RESIZE_ORACLE = f"""
WITH img AS (
    SELECT range AS media_id,
           CAST(16 + range % 240 AS INT) AS width,
           CAST(16 + (range * 7) % 240 AS INT) AS height
    FROM range({_N_MEDIA})
    WHERE range % 3 = 0
)
SELECT media_id, width, height,
       CAST(width * {_RESIZE_TARGET} // greatest(width, height) AS INT)
           AS out_w,
       CAST(height * {_RESIZE_TARGET} // greatest(width, height) AS INT)
           AS out_h,
       CAST({_RESIZE_TARGET} * 10000 // greatest(width, height) AS BIGINT)
           AS scale_bp,
       CAST(CASE WHEN greatest(width, height) < {_RESIZE_TARGET}
                 THEN 1 ELSE 0 END AS INT) AS is_upscale
FROM img
"""


@register(
    "multimodal_resize_plan",
    _RESIZE_ORACLE,
    doc="aspect-preserving resize planning (max side 224) from REAL "
    "parsed PNG headers — integer-exact scale/output dims + upscale "
    "flag; header parse is pure-Catalyst substring/hex/conv (no "
    "Arrow hop — a planner reads 8 bytes per object, so at 100 TB the "
    "payload must never leave the JVM), the codec-level resample is "
    "multimodal_resize_execute's job (multimodal ext)",
)
def q_mm_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.synthetic_media(spark, _N_MEDIA).where(
        F.col("kind") == "image"
    )
    img = MM.png_header_dims(media)
    longest = F.greatest("width", "height")
    return img.select(
        "media_id",
        "width",
        "height",
        F.expr(f"CAST(width * {_RESIZE_TARGET} div greatest(width, height) AS INT)").alias("out_w"),
        F.expr(f"CAST(height * {_RESIZE_TARGET} div greatest(width, height) AS INT)").alias("out_h"),
        F.expr(f"CAST({_RESIZE_TARGET} * 10000 div greatest(width, height) AS BIGINT)").alias("scale_bp"),
        (longest < _RESIZE_TARGET).cast("int").alias("is_upscale"),
    )


# ---------------------------------------------------------------------------
# Resize EXECUTE: the codec-level step, real for PNG — stdlib zlib
# inflate + per-scanline unfilter (all five PNG filter types cycle
# through every image) + integer nearest-neighbor resample to the
# SAME aspect-preserving dims formula multimodal_resize_plan emits.
# The synthetic corpus writes genuine PNGs whose pixels follow a
# closed-form integer formula, so DuckDB recomputes the resampled
# channel checksums arithmetically WITHOUT a decoder: src index =
# (dst * src_dim) // out_dim, channel = formula(media_id, sx, sy).
# A mismatch convicts inflate, unfiltering, or resample indexing.
# Plan/execute mirrors the audio chunk planner contract: planning
# from headers upstream, this per-row CPU-bound map stage downstream
# (no shuffle; parallelism = task count at any scale).
# ---------------------------------------------------------------------------

_N_PNG = 48

_RESIZE_EXEC_ORACLE = f"""
WITH img AS (
    SELECT range AS media_id,
           16 + range % 48 AS w,
           16 + (range * 7) % 48 AS h
    FROM range({_N_PNG})
),
dims AS (
    SELECT media_id, w, h,
           w * {_RESIZE_TARGET} // greatest(w, h) AS ow,
           h * {_RESIZE_TARGET} // greatest(w, h) AS oh
    FROM img
),
xs AS (
    SELECT media_id, w, h, ow, oh,
           CAST(unnest(range(ow)) AS BIGINT) AS x
    FROM dims
),
px AS (
    SELECT media_id, w, h, ow, oh, x,
           CAST(unnest(range(oh)) AS BIGINT) AS y
    FROM xs
),
m AS (
    SELECT media_id, ow, oh,
           (x * w) // ow AS sx,
           (y * h) // oh AS sy
    FROM px
)
SELECT media_id,
       CAST(ow AS INT) AS out_w,
       CAST(oh AS INT) AS out_h,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum((media_id + 3 * sx + 7 * sy) % 256) AS BIGINT) AS sum_r,
       CAST(sum((2 * media_id + 5 * sx + sy) % 256) AS BIGINT) AS sum_g,
       CAST(sum((media_id + sx + 11 * sy) % 256) AS BIGINT) AS sum_b
FROM m
GROUP BY media_id, ow, oh
"""


@register(
    "multimodal_resize_execute",
    _RESIZE_EXEC_ORACLE,
    doc="REAL PNG pixel decode (stdlib zlib inflate + all-five-filter "
    "unfilter, CRC-verified, multi-IDAT) + integer nearest-neighbor "
    "resample to the resize plan's dims — per-image channel checksums "
    "recomputed arithmetically by DuckDB from the corpus pixel formula "
    "(multimodal execute stage)",
)
def q_mm_resize_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.synthetic_png_corpus(spark, _N_PNG)
    return MM.png_resize_execute(media, target=_RESIZE_TARGET)


# ---------------------------------------------------------------------------
# Audio chunk EXECUTE: the second modality made real,
# mirroring multimodal_resize_execute — complete PCM WAV bodies
# decoded sample-for-sample (np.frombuffer over the header-located
# data range), 700 ms chunks (deliberately NOT dividing the 1000 ms
# durations, so every file ends in a partial chunk clipped from
# header facts), integer count/sum/sum-of-squares per chunk. DuckDB
# replays the sample formula t -> ((id*13 + t*7) % 65536) - 32768
# arithmetically; a mismatch convicts the header walk, the byte
# range, the LE int16 decode, or the chunk clipping.
# ---------------------------------------------------------------------------

_N_WAV = 36
_PCM_CHUNK_MS = 700

_PCM_CHUNK_ORACLE = f"""
WITH a AS (
    SELECT range AS media_id,
           (range % 7 + 2) * 1000 AS dur_ms
    FROM range({_N_WAV})
),
c AS (
    SELECT media_id, dur_ms,
           CAST(unnest(range((dur_ms + {_PCM_CHUNK_MS} - 1) // {_PCM_CHUNK_MS}))
                AS BIGINT) AS chunk_idx
    FROM a
),
t AS (
    SELECT media_id, chunk_idx,
           CAST(unnest(range(chunk_idx * {_PCM_CHUNK_MS} * 8,
                             least((chunk_idx + 1) * {_PCM_CHUNK_MS}, dur_ms) * 8))
                AS BIGINT) AS ti
    FROM c
),
s AS (
    SELECT media_id, chunk_idx,
           ((media_id * 13 + ti * 7) % 65536) - 32768 AS v
    FROM t
)
SELECT media_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(v) AS BIGINT) AS sum_s,
       CAST(sum(v * v) AS BIGINT) AS sum_sq
FROM s
GROUP BY media_id, chunk_idx
"""


@register(
    "multimodal_pcm_chunk_execute",
    _PCM_CHUNK_ORACLE,
    doc="REAL WAV PCM sample decode (complete RIFF body, header-located "
    "data range, LE int16) folded into per-700ms-chunk integer "
    "count/sum/sum-of-squares — the RMS/loudness building blocks — "
    "with the partial last chunk clipped from header facts; DuckDB "
    "replays the sample formula arithmetically (audio execute stage; "
    "mirrors multimodal_resize_execute)",
)
def q_mm_pcm_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.synthetic_wav_corpus(spark, _N_WAV)
    return MM.wav_pcm_chunk_features(media, chunk_ms=_PCM_CHUNK_MS)


# ---------------------------------------------------------------------------
# JPEG decode EXECUTE: the third modality's codec
# made real — full baseline JPEG entropy decode (Annex-K Huffman
# tables, bit unstuffing, DC prediction, ZRL/EOB, restart markers)
# + dequant + float IDCT, per operators/multimodal.py. The corpus
# places coefficients only on the exact-cosine DCT bases (DC, (0,4),
# (4,0), (4,4); quant step 8), so every decoded pixel is the integer
#   128 + D + s4(y)*Fv + s4(x)*Fh + s4(x)*s4(y)*Fc,
# which DuckDB replays arithmetically with no decoder. Dims are
# always ODD (partial edge blocks must be cropped on every image),
# and every third image carries DRI/RSTn restart markers.
# ---------------------------------------------------------------------------

_N_JPEG = 40

_JPEG_EXEC_ORACLE = f"""
WITH img AS (
    SELECT range AS media_id,
           17 + 2 * ((range * 5) % 23) AS w,
           17 + 2 * ((range * 11) % 23) AS h
    FROM range({_N_JPEG})
),
xs AS (
    SELECT media_id, w, h, CAST(unnest(range(w)) AS BIGINT) AS x FROM img
),
px AS (
    SELECT media_id, w, h, x, CAST(unnest(range(h)) AS BIGINT) AS y FROM xs
),
c AS (
    SELECT media_id, w, h,
           x // 8 AS bx, y // 8 AS by,
           CASE WHEN x % 4 IN (0, 3) THEN 1 ELSE -1 END AS sx,
           CASE WHEN y % 4 IN (0, 3) THEN 1 ELSE -1 END AS sy
    FROM px
),
v AS (
    SELECT media_id, w, h,
           128 + (media_id + 3 * bx + 5 * by) % 33 - 16
               + sy * ((media_id + by) % 5 - 2)
               + sx * ((media_id + bx) % 5 - 2)
               + sx * sy * ((media_id + bx + by) % 3 - 1) AS lum
    FROM c
)
SELECT media_id,
       CAST(min(w) AS INT) AS width,
       CAST(min(h) AS INT) AS height,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(lum) AS BIGINT) AS sum_lum,
       CAST(sum(lum * lum) AS BIGINT) AS sum_sq
FROM v
GROUP BY media_id
"""


@register(
    "multimodal_jpeg_decode_execute",
    _JPEG_EXEC_ORACLE,
    doc="REAL baseline JPEG decode (Annex-K Huffman entropy decode, "
    "0xFF unstuffing, DC prediction, ZRL/EOB, DRI/RSTn restarts, "
    "dequant, full float IDCT, edge-block crop) over a corpus of "
    "genuine JPEG files whose pixels are closed-form (exact-cosine "
    "DCT positions under quant 8) — per-image integer luminance "
    "checksums replayed arithmetically by DuckDB with no decoder "
    "(multimodal execute stage)",
)
def q_mm_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.synthetic_jpeg_corpus(spark, _N_JPEG)
    return MM.jpeg_decode_features(media)


# ---------------------------------------------------------------------------
# MJPEG video frame decode EXECUTE: the video
# codec path made honestly real — Motion-JPEG in a genuine AVI/RIFF
# container (nested LIST walk, word-aligned 00dc frame chunks, idx1),
# every sampled frame fully decoded by the baseline-JPEG codec. Frame
# content varies per frame (seed = video*31 + 97*frame), so a
# frame-indexing bug cannot cancel in the checksums. Plan/execute
# mirrors the audio chunk planner: header facts (dims, fps, declared
# frame count) come from a prefix-readable header walk; the execute
# stage range-slices each sampled frame. H.264-in-MP4 remains the one
# library-bound gap.
# ---------------------------------------------------------------------------

_N_AVI = 12
_FRAME_K = 3

_MJPEG_EXEC_ORACLE = f"""
WITH vids AS (
    SELECT range AS video_id,
           17 + 2 * ((range * 3) % 23) AS w,
           17 + 2 * ((range * 7) % 23) AS h,
           6 + range % 5 AS nf
    FROM range({_N_AVI})
),
fr AS (
    SELECT video_id, w, h,
           CAST(unnest(range(0, nf, {_FRAME_K})) AS BIGINT) AS f
    FROM vids
),
xs AS (
    SELECT video_id, w, h, f, CAST(unnest(range(w)) AS BIGINT) AS x FROM fr
),
px AS (
    SELECT video_id, w, h, f, x, CAST(unnest(range(h)) AS BIGINT) AS y FROM xs
),
c AS (
    SELECT video_id, w, h, f,
           video_id * 31 + 97 * f AS s,
           x // 8 AS bx, y // 8 AS by,
           CASE WHEN x % 4 IN (0, 3) THEN 1 ELSE -1 END AS sx,
           CASE WHEN y % 4 IN (0, 3) THEN 1 ELSE -1 END AS sy
    FROM px
),
v AS (
    SELECT video_id, w, h, f,
           128 + (s + 3 * bx + 5 * by) % 33 - 16
               + sy * ((s + by) % 5 - 2)
               + sx * ((s + bx) % 5 - 2)
               + sx * sy * ((s + bx + by) % 3 - 1) AS lum
    FROM c
)
SELECT video_id,
       CAST(f AS INT) AS frame_index,
       CAST(min(w) AS INT) AS width,
       CAST(min(h) AS INT) AS height,
       CAST(sum(lum) AS BIGINT) AS sum_lum,
       CAST(sum(lum * lum) AS BIGINT) AS sum_sq
FROM v
GROUP BY video_id, f
"""


@register(
    "multimodal_mjpeg_frame_decode",
    _MJPEG_EXEC_ORACLE,
    doc="REAL Motion-JPEG video decode from a genuine AVI container: "
    "nested RIFF LIST walk (avih/strh/strf + word-aligned 00dc frame "
    "chunks) locates per-frame byte ranges, every 3rd frame is fully "
    "decoded by the baseline-JPEG codec (Huffman + IDCT), per-frame "
    "integer luminance checksums replayed arithmetically by DuckDB "
    "from the per-frame seed formula (video execute stage)",
)
def q_mm_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.synthetic_avi_corpus(spark, _N_AVI)
    return MM.mjpeg_frame_decode(media, every_k=_FRAME_K)


# ---------------------------------------------------------------------------
# IMA-ADPCM decode EXECUTE: the COMPRESSED-audio codec made
# real — 4-bit IMA ADPCM (WAV fmt 0x11) with the genuine
# predictor/step-index state walk, so every decoded sample depends on
# all prior nibbles in its block; a correct hash certifies the
# sequential state machine, not just byte addressing. The oracle is
# an INDEPENDENT second implementation of the decoder: a DuckDB
# recursive CTE (one row per block per step, 64 iterations) replaying
# the walk from the corpus's closed-form nibbles. The step/index
# tables are imported from operators/multimodal.py, not retyped —
# shared constants are the one input parity cannot check (pinned by
# the spec-shape test in tests/test_adpcm_codec.py instead).
# ---------------------------------------------------------------------------

_N_ADPCM = 30
_ADPCM_NIB = MM._ADPCM_NIBBLES
_ADPCM_STEPS_SQL = "[" + ", ".join(str(v) for v in MM.IMA_STEP_TABLE) + "]"
_ADPCM_IDXADJ_SQL = "[" + ", ".join(str(v) for v in MM.IMA_INDEX_TABLE) + "]"

_ADPCM_ORACLE = f"""
WITH RECURSIVE
files AS (
    SELECT range AS media_id, range % 4 + 2 AS n_blocks
    FROM range({_N_ADPCM})
),
blocks AS (
    SELECT media_id,
           CAST(unnest(range(n_blocks)) AS BIGINT) AS block_idx
    FROM files
),
init AS (
    SELECT media_id, block_idx,
           CAST(((media_id * 131 + block_idx * 71) % 65536) - 32768
                AS BIGINT) AS pred0,
           CAST((media_id * 3 + block_idx * 7) % 89 AS BIGINT) AS idx0
    FROM blocks
),
walk(media_id, block_idx, j, pred, idx, sum_s, sum_sq) AS (
    SELECT media_id, block_idx, CAST(0 AS BIGINT), pred0, idx0,
           pred0, pred0 * pred0
    FROM init
    UNION ALL
    SELECT media_id, block_idx, j + 1, new_pred,
           greatest(0, least(88,
               idx + ({_ADPCM_IDXADJ_SQL})[(nib % 8) + 1])),
           sum_s + new_pred, sum_sq + new_pred * new_pred
    FROM (
        SELECT media_id, block_idx, j, idx, sum_s, sum_sq, nib,
               greatest(-32768, least(32767,
                   pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END
               )) AS new_pred
        FROM (
            SELECT *,
                   step // 8
                   + CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END
                   + CASE WHEN (nib // 2) % 2 = 1 THEN step // 2 ELSE 0 END
                   + CASE WHEN (nib // 4) % 2 = 1 THEN step ELSE 0 END
                   AS diff
            FROM (
                SELECT *,
                       ({_ADPCM_STEPS_SQL})[idx + 1] AS step,
                       (media_id * 7 + block_idx * 5 + j * 3) % 16 AS nib
                FROM walk WHERE j < {_ADPCM_NIB}
            ) s1
        ) s2
    ) s3
)
SELECT media_id,
       CAST(block_idx AS INT) AS block_idx,
       CAST({_ADPCM_NIB} + 1 AS BIGINT) AS n_samples,
       CAST(sum_s AS BIGINT) AS sum_s,
       CAST(sum_sq AS BIGINT) AS sum_sq,
       CAST(pred AS BIGINT) AS end_pred,
       CAST(idx AS BIGINT) AS end_index
FROM walk WHERE j = {_ADPCM_NIB}
"""


@register(
    "multimodal_adpcm_decode_execute",
    _ADPCM_ORACLE,
    doc="REAL IMA-ADPCM compressed-audio decode (WAV fmt 0x11, genuine "
    "predictor/step-index table walk with both clamps, low-nibble-first "
    "unpacking) folded to per-block integer sums plus the FINAL "
    "predictor and step index — end-state columns make a mid-block "
    "slip uncancelable; the oracle re-implements the decoder as a "
    "DuckDB recursive CTE over the corpus's closed-form nibbles",
)
def q_mm_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.synthetic_adpcm_corpus(spark, _N_ADPCM)
    return MM.adpcm_block_features(media)
