"""Multimodal column plumbing (north star): image/audio/video as
opaque ``binary`` columns with typed metadata, processed with
Arrow-batched ``mapInPandas`` UDFs.

The container-header parse is real for ALL THREE modalities — pure
Python, no media library needed, so it runs in this container and is
oracle-checked end-to-end (the synthetic corpus embeds genuine
headers whose facts the DuckDB oracle recomputes arithmetically):

- image: PNG IHDR / JPEG SOFn → width, height;
- audio: RIFF/WAVE fmt+data chunks → sample rate, channels,
  header-declared duration (feeds audio_chunk_plan);
- video: MP4 mvhd (timescale/duration) + tkhd (track dims).

Since r8 the CODEC level is real for ALL THREE modalities, with zero
dependencies beyond the stdlib + numpy: PNG pixel decode (zlib
inflate + all-five-filter unfilter + CRC verify — encode_png/
decode_png below), WAV PCM sample decode (header-located LE int16
body — encode_wav_pcm/wav_pcm_chunk_features), baseline JPEG (full
Annex-K Huffman entropy decode + dequant + IDCT — encode_jpeg_gray/
decode_jpeg_gray), and Motion-JPEG video frames in a genuine AVI
container (encode_avi_mjpeg/avi_info/mjpeg_frame_decode). Only MP4
track payload decode (H.264 et al.) remains out of scope — that
genuinely needs codec libraries this container lacks; its planning
stages (frame sampling) are real and oracle-checked from headers.

Scale notes:
- binary payloads dominate row size → ``maxPartitionBytes`` (not row
  count) governs task sizing; metadata-only queries must NEVER read
  the payload column (parquet column pruning does this for free —
  keep payloads in their own column, never inside a struct with hot
  metadata);
- mapInPandas streams Arrow batches, so per-batch memory is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` — pinned
  session-wide in session.harden() (operators do not mutate shared
  session conf);
- decode is CPU-bound per row: it parallelizes perfectly, no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        # Raw integer bucket counts (byte >> 5) behind the normalized
        # feature — integer-exact, so the histogram is hash-checkable
        # against a DuckDB arithmetic replay of the payload bytes (r8).
        T.StructField("byte_hist", T.ArrayType(T.LongType())),
    ]
)

CHUNK_PLAN_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("start_ms", T.IntegerType()),
        T.StructField("end_ms", T.IntegerType()),
    ]
)

_VIDEO_FPS = 24

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# Signature + IHDR length (13) + "IHDR": the 16 bytes preceding the
# width/height words in every valid PNG.
_PNG_PREFIX = _PNG_SIG + b"\x00\x00\x00\x0dIHDR"
# bitdepth=8, colortype=2 (truecolor), compression/filter/interlace=0,
# then an (unchecked) zero CRC.
_PNG_IHDR_TAIL = b"\x08\x02\x00\x00\x00" + b"\x00\x00\x00\x00"


# MP4 literal scaffolding (sizes are fixed because every variable
# field is a fixed-width word): ftyp(16) then moov(216) = mvhd(108) +
# trak(100) = tkhd(92).
_FTYP = b"\x00\x00\x00\x10ftypisom\x00\x00\x00\x00"
_MOOV_HDR = b"\x00\x00\x00\xd8moov"  # 216
_MVHD_PRE = (
    b"\x00\x00\x00\x6cmvhd"  # size 108
    + b"\x00\x00\x00\x00"  # version 0 + flags
    + b"\x00\x00\x00\x00" * 2  # ctime, mtime
)
# rate 1.0 (16.16), volume 1.0 (8.8), 10 reserved, unity matrix,
# 6x4 predefined, next_track_id=2  => the fixed 80-byte mvhd tail.
_MVHD_TAIL = (
    b"\x00\x01\x00\x00" + b"\x01\x00" + b"\x00" * 10
    + b"\x00\x01\x00\x00" + b"\x00" * 12
    + b"\x00\x01\x00\x00" + b"\x00" * 12
    + b"\x40\x00\x00\x00"
    + b"\x00" * 24
    + b"\x00\x00\x00\x02"
)
_TRAK_HDR = b"\x00\x00\x00\x64trak"  # 100
_TKHD_PRE = (
    b"\x00\x00\x00\x5ctkhd"  # size 92
    + b"\x00\x00\x00\x07"  # version 0 + flags (enabled|in movie|in preview)
    + b"\x00\x00\x00\x00" * 2  # ctime, mtime
    + b"\x00\x00\x00\x01"  # track_id
    + b"\x00\x00\x00\x00"  # reserved
)
# reserved(8) + layer/alt-group/volume/reserved(8) + unity matrix(36)
_TKHD_MID = (
    b"\x00" * 8 + b"\x00" * 8
    + b"\x00\x01\x00\x00" + b"\x00" * 12
    + b"\x00\x01\x00\x00" + b"\x00" * 12
    + b"\x40\x00\x00\x00"
)


def _be32(c):
    return F.unhex(F.lpad(F.hex(c.cast("bigint")), 8, "0"))


def _le_bytes(c, n_hex: int):
    h = F.lpad(F.hex(c.cast("bigint")), n_hex, "0")
    pairs = [F.substring(h, i, 2) for i in range(n_hex - 1, 0, -2)]
    return F.unhex(F.concat(*pairs))


def _le16(c):
    return _le_bytes(c, 4)


def _le32(c):
    return _le_bytes(c, 8)


def synthetic_media(spark, n: int = 100) -> DataFrame:
    """Deterministic fake corpus standing in for a parquet blob table.
    ALL THREE kinds carry a GENUINE container header ahead of 64 md5
    filler bytes, so every decode path exercises a real format parse:

    - image (id % 3 == 0): PNG signature + IHDR,
      width = 16 + id % 240, height = 16 + (id*7) % 240;
    - audio (id % 3 == 1): RIFF/WAVE with a canonical PCM fmt chunk —
      sample_rate = [8000,16000,44100][(id//3) % 3],
      channels = 1 + id % 2, 16-bit; the data chunk DECLARES
      duration_sec = (id % 117) + 3 of samples but the body is
      truncated to the filler (the header-plus-prefix shape a
      planning pass reads — chunk math must come from the header,
      not the byte count);
    - video (id % 3 == 2): MP4 ftyp + moov(mvhd + trak/tkhd),
      timescale 1000, duration_ms = (id*37) % 57000 + 3000,
      width = 256 + (id % 16)*16, height = 144 + ((id*3) % 16)*16.
    """
    mid = F.col("media_id")
    filler = F.unhex(F.repeat(F.md5(mid.cast("string")), 4))

    img_width = (mid % 240 + 16).cast("bigint")
    img_height = ((mid * 7) % 240 + 16).cast("bigint")
    png = F.concat(
        F.lit(_PNG_PREFIX), _be32(img_width), _be32(img_height),
        F.lit(_PNG_IHDR_TAIL), filler,
    )

    rate = F.element_at(
        F.array(F.lit(8000), F.lit(16000), F.lit(44100)),
        (F.expr("media_id div 3") % 3 + 1).cast("int"),
    )
    channels = (mid % 2 + 1).cast("int")
    block_align = channels * 2
    byte_rate = rate * block_align
    duration_sec = (mid % 117 + 3).cast("bigint")
    data_size = duration_sec * byte_rate
    wav = F.concat(
        F.lit(b"RIFF"), _le32(data_size + 36), F.lit(b"WAVEfmt "),
        _le32(F.lit(16)), _le16(F.lit(1)), _le16(channels), _le32(rate),
        _le32(byte_rate), _le16(block_align), _le16(F.lit(16)),
        F.lit(b"data"), _le32(data_size), filler,
    )

    vid_dur_ms = ((mid * 37) % 57000 + 3000).cast("bigint")
    vid_w = (mid % 16 * 16 + 256).cast("bigint")
    vid_h = ((mid * 3) % 16 * 16 + 144).cast("bigint")
    mp4 = F.concat(
        F.lit(_FTYP), F.lit(_MOOV_HDR),
        F.lit(_MVHD_PRE), _be32(F.lit(1000)), _be32(vid_dur_ms),
        F.lit(_MVHD_TAIL),
        F.lit(_TRAK_HDR), F.lit(_TKHD_PRE), _be32(vid_dur_ms),
        F.lit(_TKHD_MID), _be32(vid_w * 65536), _be32(vid_h * 65536),
        filler,
    )

    return (
        spark.range(n)
        .select(
            F.col("id").alias("media_id"),
            F.element_at(
                F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("kind"),
            F.concat(F.lit("synthetic://media/"), F.col("id")).alias("source_uri"),
        )
        .withColumn(
            "payload",
            F.when(F.col("kind") == "image", png)
            .when(F.col("kind") == "audio", wav)
            .otherwise(mp4),
        )
        .select("media_id", "kind", "payload", "source_uri")
    )


def png_header_dims(media: DataFrame) -> DataFrame:
    """JVM-side PNG IHDR dimension parse: (media_id, width, height)
    for rows whose payload starts with the 8-byte PNG signature and an
    IHDR chunk — width/height are the big-endian u32s at byte offsets
    16..24, read with substring/hex/conv inside whole-stage codegen.

    This is the PLANNING-pass idiom at 100 TB: a resize/decode planner
    needs two integers per object, so the parse must stay in the JVM —
    no Arrow hop, no Python worker, payload bytes never leave the scan
    stage (contrast ``decode_media``, the feature-extraction path that
    genuinely needs Python). Non-PNG and too-short payloads are
    filtered out, mirroring ``png_dimensions``' None contract.
    """
    p = F.col("payload")

    def be32(pos: int):  # 1-based substring offset
        return F.conv(F.hex(F.substring(p, pos, 4)), 16, 10).cast("int")

    is_png = (F.substring(p, 1, 8) == F.lit(_PNG_SIG)) & (
        F.substring(p, 13, 4) == F.lit(b"IHDR")
    )
    return media.where(is_png).select(
        "media_id",
        be32(17).alias("width"),
        be32(21).alias("height"),
    )


def png_dimensions(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from a PNG IHDR, or None if not a PNG."""
    if len(payload) < 24 or not payload.startswith(_PNG_SIG):
        return None
    if payload[12:16] != b"IHDR":
        return None
    return (
        int.from_bytes(payload[16:20], "big"),
        int.from_bytes(payload[20:24], "big"),
    )


def jpeg_dimensions(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from the first JPEG SOFn segment, or None.

    Walks the marker stream: every segment between SOI and SOS is
    ``FF <marker> <len_hi> <len_lo> payload``; SOF0-SOF15 (except the
    DHT/DAC/RST family C4/C8/CC) carry ``precision(1) height(2)
    width(2)`` right after the length.
    """
    if len(payload) < 4 or payload[0:2] != b"\xff\xd8":
        return None
    i = 2
    n = len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            i += 2  # standalone markers carry no length
            continue
        seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > n:
                return None
            height = int.from_bytes(payload[i + 5 : i + 7], "big")
            width = int.from_bytes(payload[i + 7 : i + 9], "big")
            return (width, height)
        i += 2 + seg_len
    return None


def wav_info(payload: bytes) -> dict | None:
    """PCM WAV header facts, or None if not RIFF/WAVE.

    Walks the RIFF chunk list for ``fmt `` and ``data``. Sizes come
    from the HEADER fields, never from ``len(payload)`` — a planning
    pass reads only a byte-range prefix of the object, so the body may
    be truncated (or absent) and the math must still be right.
    """
    if len(payload) < 36 or payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    fmt = None
    data_size = None
    data_offset = None
    i = 12
    n = len(payload)
    while i + 8 <= n:
        cid = payload[i : i + 4]
        csz = int.from_bytes(payload[i + 4 : i + 8], "little")
        if cid == b"fmt " and i + 24 <= n:
            fmt = {
                "audio_format": int.from_bytes(payload[i + 8 : i + 10], "little"),
                "channels": int.from_bytes(payload[i + 10 : i + 12], "little"),
                "sample_rate": int.from_bytes(payload[i + 12 : i + 16], "little"),
                "byte_rate": int.from_bytes(payload[i + 16 : i + 20], "little"),
                "block_align": int.from_bytes(payload[i + 20 : i + 22], "little"),
                "bits_per_sample": int.from_bytes(payload[i + 22 : i + 24], "little"),
            }
        elif cid == b"data":
            data_size = csz
            data_offset = i + 8
        i += 8 + csz + (csz & 1)  # RIFF chunks are 2-byte aligned
    if fmt is None or data_size is None:
        return None
    if not fmt["block_align"] or not fmt["byte_rate"]:
        return None
    return {
        **fmt,
        "data_size": data_size,
        "data_offset": data_offset,
        "n_samples": data_size // fmt["block_align"],
        "duration_ms": data_size * 1000 // fmt["byte_rate"],
    }


def mp4_info(payload: bytes) -> dict | None:
    """Movie duration + track dimensions from an MP4 ``moov`` box
    (mvhd timescale/duration, first trak's tkhd width/height), or
    None. Handles mvhd/tkhd versions 0 and 1; only box headers are
    read, so a truncated body after ``moov`` is fine.
    """

    def walk(lo: int, hi: int):
        i = lo
        while i + 8 <= hi:
            size = int.from_bytes(payload[i : i + 4], "big")
            if size < 8:
                return
            yield payload[i + 4 : i + 8], i + 8, min(i + size, hi)
            i += size

    out: dict = {}
    for typ, lo, hi in walk(0, len(payload)):
        if typ != b"moov":
            continue
        for ctyp, clo, chi in walk(lo, hi):
            if ctyp == b"mvhd" and chi - clo >= 20:
                # v1 offsets run to clo+32; a truncated v1 box must be
                # rejected, not silently parsed from short slices.
                ver = payload[clo]
                if ver == 0:
                    out["timescale"] = int.from_bytes(payload[clo + 12 : clo + 16], "big")
                    out["duration"] = int.from_bytes(payload[clo + 16 : clo + 20], "big")
                elif chi - clo >= 32:
                    out["timescale"] = int.from_bytes(payload[clo + 20 : clo + 24], "big")
                    out["duration"] = int.from_bytes(payload[clo + 24 : clo + 32], "big")
            elif ctyp == b"trak" and "width" not in out:
                for ttyp, tlo, thi in walk(clo, chi):
                    if ttyp == b"tkhd" and thi - tlo >= 84:
                        ver = payload[tlo]
                        if ver != 0 and thi - tlo < 96:
                            continue  # truncated v1 tkhd
                        off = tlo + (76 if ver == 0 else 88)
                        out["width"] = int.from_bytes(payload[off : off + 4], "big") >> 16
                        out["height"] = int.from_bytes(payload[off + 4 : off + 8], "big") >> 16
    if "timescale" not in out or not out["timescale"]:
        return None
    out["duration_ms"] = out["duration"] * 1000 // out["timescale"]
    return out


def _decode_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Decode one Arrow batch.

    Every kind gets a REAL container-header parse: PNG/JPEG dims for
    images, WAV fmt/data for audio, MP4 mvhd/tkhd for video. Rows
    whose payload parses as none of these fall through to the
    deterministic fake (NOT a codec decode — see module doc).
    """
    out = []
    for media_id, kind, payload in zip(
        batch["media_id"], batch["kind"], batch["payload"]
    ):
        payload = bytes(payload) if payload is not None else b""
        w = h = frames = rate = dur = None
        if kind == "image":
            dims = png_dimensions(payload) or jpeg_dimensions(payload)
            if dims is not None:
                (w, h), frames, rate, dur = dims, 1, 0, 0
        elif kind == "audio":
            wav = wav_info(payload)
            if wav is not None:
                # Frames are a video concept; audio fans out through
                # audio_chunk_plan instead.
                w, h, frames = 0, 0, 0
                rate, dur = wav["sample_rate"], wav["duration_ms"]
        elif kind == "video":
            mp4 = mp4_info(payload)
            if mp4 is not None:
                w = mp4.get("width", 0)
                h = mp4.get("height", 0)
                dur = mp4["duration_ms"]
                frames = dur * _VIDEO_FPS // 1000
                rate = 0
        if w is None:
            # Deterministic fake for non-parseable payloads.
            w = 16 + payload[0] if len(payload) else 0
            h = 16 + payload[1] if len(payload) > 1 else 0
            frames = (
                1
                if kind == "image"
                else (1 + (payload[2] % 32) if len(payload) > 2 else 0)
            )
            rate = dur = 0
        # 8-dim feature = normalized byte-histogram buckets.
        buckets = [0] * 8
        for b in payload:
            buckets[b >> 5] += 1
        total = float(sum(buckets)) or 1.0
        out.append(
            (
                media_id, kind, w, h, frames, rate, dur,
                [b / total for b in buckets], list(buckets),
            )
        )
    return pd.DataFrame(
        out,
        columns=[
            "media_id", "kind", "width", "height", "n_frames",
            "sample_rate", "duration_ms", "feature", "byte_hist",
        ],
    )


def decode_media(media: DataFrame) -> DataFrame:
    """mapInPandas decode: Arrow-batched; batch sizing is governed by
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` pinned in
    session.harden() (no per-operator session-conf mutation)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _decode_batch(batch)

    return media.mapInPandas(gen, DECODED_SCHEMA)


def frame_sample(decoded: DataFrame, every_k: int = 8) -> DataFrame:
    """Frame sampling as relational plumbing: one row per kept frame
    index — explode over a sequence, no UDF needed."""
    return decoded.where(F.col("n_frames") > 0).select(
        "media_id",
        "kind",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_k))
        ).alias("frame_index"),
    )


def audio_chunk_plan(media: DataFrame, chunk_ms: int = 10000) -> DataFrame:
    """Chunk plan for distributed audio processing: one row per
    fixed-duration chunk, computed from the WAV HEADER alone.

    This is the 100 TB fan-out shape: the planning pass reads only a
    small byte-range prefix of each object (header fields give
    duration), emits (object, range) work units, and the heavy decode
    runs downstream one-chunk-per-task — so payload bytes are never
    shuffled and task size is bounded by chunk_ms, not by the longest
    file. The header parse is real; rows that do not parse as WAV are
    dropped (count them upstream via decode_media).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                wav = wav_info(bytes(payload) if payload is not None else b"")
                if wav is None:
                    continue
                dur = wav["duration_ms"]
                for idx in range(0, (dur + chunk_ms - 1) // chunk_ms):
                    start = idx * chunk_ms
                    rows.append(
                        (
                            media_id,
                            wav["sample_rate"],
                            wav["channels"],
                            idx,
                            start,
                            min(start + chunk_ms, dur),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "channels",
                    "chunk_idx", "start_ms", "end_ms",
                ],
            )

    return media.where(F.col("kind") == "audio").mapInPandas(
        gen, CHUNK_PLAN_SCHEMA
    )


# ---------------------------------------------------------------------------
# REAL PNG pixel codec (round-8, r7 verdict item 2): the multimodal
# contract's last fake — codec-level decode — made real for one
# modality end to end, with zero dependencies beyond the stdlib.
#
# Encoder and decoder implement the PNG spec directly (RFC 2083):
# 8-bit truecolor scanlines, all five filter types (None/Sub/Up/
# Average/Paeth), real zlib DEFLATE streams, real CRC-32 chunk
# trailers, multi-IDAT payloads. The synthetic corpus writes pixels
# from a closed-form integer formula, so a DuckDB oracle can
# recompute any pixel statistic arithmetically WITHOUT decoding —
# if inflate, unfiltering, or the resample indexing is wrong
# anywhere, the checksums diverge.
#
# Scale design: decode+resample is per-row CPU-bound map work — no
# shuffle, parallelism = task count, Arrow-batched like decode_media.
# At 100 TB the planning pass (multimodal_resize_plan) sizes the work
# from headers alone; THIS operator is the downstream execute stage
# each worker runs on its payload split.
# ---------------------------------------------------------------------------


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG filter type 4): nearest of left/up/upleft
    to the linear estimate a + b - c, ties left > up > upleft."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_scanline(ftype: int, raw: bytes, prev: bytes, bpp: int) -> bytes:
    """Apply PNG filter ``ftype`` to one raw scanline (encoder side)."""
    n = len(raw)
    out = bytearray(n)
    for i in range(n):
        left = raw[i - bpp] if i >= bpp else 0
        up = prev[i]
        upleft = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = left
        elif ftype == 2:
            pred = up
        elif ftype == 3:
            pred = (left + up) >> 1
        else:
            pred = _paeth(left, up, upleft)
        out[i] = (raw[i] - pred) & 0xFF
    return bytes(out)


def _unfilter_scanline(ftype: int, filt: bytes, prev: bytes, bpp: int) -> bytes:
    """Reverse one scanline filter (decoder side). Sequential in x by
    construction (Sub/Average/Paeth read the just-reconstructed left
    pixel) — per-scanline work, vectorizable across rows only for
    None/Up; correctness first, images are small per row."""
    n = len(filt)
    out = bytearray(n)
    for i in range(n):
        left = out[i - bpp] if i >= bpp else 0
        up = prev[i]
        upleft = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = left
        elif ftype == 2:
            pred = up
        elif ftype == 3:
            pred = (left + up) >> 1
        elif ftype == 4:
            pred = _paeth(left, up, upleft)
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[i] = (filt[i] + pred) & 0xFF
    return bytes(out)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        len(data).to_bytes(4, "big")
        + ctype
        + data
        + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def encode_png(width: int, height: int, rgb: bytes, filters=None) -> bytes:
    """Minimal REAL PNG encoder: 8-bit truecolor, real DEFLATE + CRCs.

    ``rgb`` is height*width*3 bytes row-major; ``filters`` optionally
    gives the filter type per scanline (default cycles 0..4 so every
    decoder path is exercised). The IDAT stream is split in two chunks
    to keep the multi-IDAT concat path honest.
    """
    import zlib

    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != w*h*3")
    stride = width * 3
    prev = bytes(stride)
    parts = []
    for y in range(height):
        raw = rgb[y * stride : (y + 1) * stride]
        ftype = (filters[y] if filters is not None else y) % 5
        parts.append(bytes([ftype]) + _filter_scanline(ftype, raw, prev, 3))
        prev = raw
    compressed = zlib.compress(b"".join(parts), level=6)
    mid = max(1, len(compressed) // 2)
    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + b"\x08\x02\x00\x00\x00"  # depth 8, truecolor, no interlace
    )
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", compressed[:mid])
        + _chunk(b"IDAT", compressed[mid:])
        + _chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """REAL PNG pixel decode: chunk walk → zlib inflate over the
    concatenated IDAT stream → per-scanline unfilter. Returns
    (width, height, rgb bytes h*w*3) or None if not an 8-bit
    truecolor PNG. CRCs are verified (a corrupt chunk raises)."""
    import zlib

    if len(payload) < 8 or not payload.startswith(_PNG_SIG):
        return None
    i = 8
    n = len(payload)
    width = height = None
    idat = []
    while i + 12 <= n:
        clen = int.from_bytes(payload[i : i + 4], "big")
        ctype = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + clen]
        if len(data) < clen:
            return None  # truncated (header-only synthetic payloads)
        crc = int.from_bytes(payload[i + 8 + clen : i + 12 + clen], "big")
        if ctype in (b"IHDR", b"IDAT") and crc:
            if (zlib.crc32(ctype + data) & 0xFFFFFFFF) != crc:
                raise ValueError(f"PNG CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            width = int.from_bytes(data[0:4], "big")
            height = int.from_bytes(data[4:8], "big")
            if data[8] != 8 or data[9] != 2 or data[12] != 0:
                return None  # only 8-bit truecolor non-interlaced
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        i += 12 + clen
    if width is None or not idat:
        return None
    raw = zlib.decompress(b"".join(idat))
    stride = width * 3
    if len(raw) != height * (1 + stride):
        raise ValueError("PNG decompressed size mismatch")
    rows = []
    prev = bytes(stride)
    for y in range(height):
        line = raw[y * (1 + stride) : (y + 1) * (1 + stride)]
        prev = _unfilter_scanline(line[0], line[1:], prev, 3)
        rows.append(prev)
    return width, height, b"".join(rows)


def _formula_pixels(media_id: int, width: int, height: int) -> bytes:
    import numpy as np

    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    r = (media_id + 3 * x + 7 * y) % 256
    g = (2 * media_id + 5 * x + y) % 256
    b = (media_id + x + 11 * y) % 256
    return np.stack([r, g, b], axis=2).astype(np.uint8).tobytes()


def png_corpus_dims(media_id: int) -> tuple[int, int]:
    """(width, height) of the synthetic PNG corpus image — mirrored by
    every oracle arithmetically."""
    return 16 + media_id % 48, 16 + (media_id * 7) % 48


def synthetic_png_corpus(spark, n: int = 48) -> DataFrame:
    """n REAL PNG files (media_id, payload): formula pixels, filter
    type cycling (media_id + y) % 5 per scanline so all five unfilter
    paths run on every image, real DEFLATE + CRCs throughout."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for media_id in batch["id"]:
                media_id = int(media_id)
                w, h = png_corpus_dims(media_id)
                rgb = _formula_pixels(media_id, w, h)
                filters = [(media_id + y) % 5 for y in range(h)]
                rows.append((media_id, encode_png(w, h, rgb, filters)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return spark.range(n).mapInPandas(gen, schema)


RESIZE_EXEC_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
    ]
)


def resize_nearest(rgb: bytes, w: int, h: int, out_w: int, out_h: int):
    """Integer nearest-neighbor resample: src = (dst * src_dim) div
    out_dim (floor) — the exact mapping the oracle replays in SQL."""
    import numpy as np

    img = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    sx = (np.arange(out_w, dtype=np.int64) * w) // out_w
    sy = (np.arange(out_h, dtype=np.int64) * h) // out_h
    return img[sy[:, None], sx[None, :], :]


def png_resize_execute(media: DataFrame, target: int = 224) -> DataFrame:
    """The EXECUTE stage of multimodal_resize_plan, on real pixels:
    decode (inflate + unfilter) → aspect-preserving nearest-neighbor
    resample to max side ``target`` (same integer dims formula as the
    plan) → per-image channel checksums. mapInPandas, shuffle-free."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                decoded = decode_png(
                    bytes(payload) if payload is not None else b""
                )
                if decoded is None:
                    continue
                w, h, rgb = decoded
                longest = max(w, h)
                out_w = w * target // longest
                out_h = h * target // longest
                out = resize_nearest(rgb, w, h, out_w, out_h)
                sums = out.astype(np.int64).sum(axis=(0, 1))
                rows.append(
                    (
                        int(media_id), out_w, out_h, out_w * out_h,
                        int(sums[0]), int(sums[1]), int(sums[2]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "out_w", "out_h", "n_px",
                    "sum_r", "sum_g", "sum_b",
                ],
            )

    return media.mapInPandas(gen, RESIZE_EXEC_SCHEMA)


# ---------------------------------------------------------------------------
# REAL WAV PCM sample decode (round-8): the audio twin of the PNG
# pixel codec — the second modality whose codec-level step is real.
# The synthetic corpus writes COMPLETE RIFF/WAVE files whose int16
# PCM samples follow a closed-form integer formula; the execute stage
# locates the data chunk from the parsed header (data_offset — a
# byte-range a production worker would range-GET), decodes the
# little-endian samples, and folds per-chunk integer features
# (count / sum / sum-of-squares — the exact building blocks of RMS
# and loudness) that DuckDB replays arithmetically without a decoder.
#
# Scale: identical to the PNG execute — per-row CPU-bound map work
# downstream of the header-only chunk PLANNER (audio_chunk_plan);
# chunk features are integers, so downstream aggregation is
# order-independent and shuffle-light.
# ---------------------------------------------------------------------------

_PCM_RATE = 8000  # samples/sec, mono 16-bit => 8 samples per ms exactly


def _formula_samples(media_id: int, n: int):
    """int16 sample t = ((media_id * 13 + t * 7) % 65536) - 32768."""
    import numpy as np

    t = np.arange(n, dtype=np.int64)
    return ((media_id * 13 + t * 7) % 65536) - 32768


def wav_corpus_duration_ms(media_id: int) -> int:
    return (media_id % 7 + 2) * 1000


def encode_wav_pcm(media_id: int) -> bytes:
    """A COMPLETE canonical PCM WAV (fmt + data, real body bytes)."""
    import numpy as np

    n = wav_corpus_duration_ms(media_id) * _PCM_RATE // 1000
    body = _formula_samples(media_id, n).astype("<i2").tobytes()
    data_size = len(body)
    hdr = (
        b"RIFF" + (36 + data_size).to_bytes(4, "little") + b"WAVEfmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")  # PCM
        + (1).to_bytes(2, "little")  # mono
        + _PCM_RATE.to_bytes(4, "little")
        + (_PCM_RATE * 2).to_bytes(4, "little")
        + (2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
        + b"data" + data_size.to_bytes(4, "little")
    )
    return hdr + body


def synthetic_wav_corpus(spark, n: int = 36) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame(
                [(int(i), encode_wav_pcm(int(i))) for i in batch["id"]],
                columns=["media_id", "payload"],
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return spark.range(n).mapInPandas(gen, schema)


PCM_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_s", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
    ]
)


def wav_pcm_chunk_features(media: DataFrame, chunk_ms: int = 700) -> DataFrame:
    """Chunked PCM decode+feature: real header walk (wav_info) gives
    the data byte range, np.frombuffer('<i2') decodes, per-chunk
    integer folds. A chunk_ms that doesn't divide the duration leaves
    a PARTIAL last chunk — clipped from the header facts, exactly as
    the chunk planner contract demands."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                payload = bytes(payload) if payload is not None else b""
                info = wav_info(payload)
                if info is None or info["audio_format"] != 1:
                    continue
                if info["bits_per_sample"] != 16 or info["channels"] != 1:
                    continue  # this execute stage handles mono 16-bit
                off, size = info["data_offset"], info["data_size"]
                if off is None or len(payload) < off + size:
                    continue  # truncated body: planner-only payload
                samples = np.frombuffer(
                    payload, dtype="<i2", count=size // 2, offset=off
                ).astype(np.int64)
                rate = info["sample_rate"]
                dur_ms = info["duration_ms"]
                spm = rate // 1000  # samples per ms (exact for PCM rates)
                n_chunks = (dur_ms + chunk_ms - 1) // chunk_ms
                for c in range(n_chunks):
                    lo = c * chunk_ms * spm
                    hi = min((c + 1) * chunk_ms, dur_ms) * spm
                    seg = samples[lo:hi]
                    rows.append(
                        (
                            int(media_id), c, int(seg.size),
                            int(seg.sum()), int((seg * seg).sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "chunk_idx", "n_samples", "sum_s", "sum_sq"],
            )

    return media.mapInPandas(gen, PCM_CHUNK_SCHEMA)


# ---------------------------------------------------------------------------
# REAL baseline JPEG codec (round-8 extension): the third modality's
# codec-level step made real — sequential baseline JPEG (ITU T.81),
# grayscale, with the standard Annex-K luminance Huffman tables, real
# canonical-code bit packing, 0xFF byte stuffing, DC difference
# prediction, AC run-length/ZRL/EOB coding, restart markers (DRI +
# RSTn with predictor reset), dequantization, de-zigzag, and a full
# float IDCT. Zero dependencies beyond numpy.
#
# Oracle trick (same contract as the PNG corpus): the synthetic
# corpus places nonzero coefficients ONLY at natural positions
# (0,0), (0,4), (4,0), (4,4) — the DCT bases whose cosines are all
# 1 or ±sqrt(2)/2 — with quant step 8 everywhere, so every decoded
# pixel is an EXACT integer: with quantized values D, Fh, Fv, Fc,
#   pixel(x, y) = 128 + D + s4(y)*Fv + s4(x)*Fh + s4(x)*s4(y)*Fc,
#   s4(t) = +1 if t % 4 in (0, 3) else -1.
# DuckDB replays that arithmetically with no decoder; a mismatch
# convicts the Huffman tables, the bit reader, the unstuffing, the
# predictor, the de-zigzag, the dequant, or the IDCT. The decoder
# itself is GENERAL (any baseline grayscale JPEG) — the corpus is
# special only so the ground truth is closed-form.
#
# Scale design: identical to the PNG/WAV execute stages — per-row
# CPU-bound map work behind Arrow-batched mapInPandas, no shuffle.
# ---------------------------------------------------------------------------

# Zigzag scan order: zigzag index -> (v, u) natural position. Even
# diagonals run bottom-left -> top-right (ascending u), odd ones the
# reverse — generated, not retyped, so it cannot be mistranscribed.
_JPEG_ZIGZAG = sorted(
    ((v, u) for v in range(8) for u in range(8)),
    key=lambda p: (p[0] + p[1], p[1] if (p[0] + p[1]) % 2 == 0 else p[0]),
)

# Annex K.3.1 luminance DC table: code lengths histogram + symbols.
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))

# Annex K.3.2 luminance AC table.
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _jpeg_build_codes(bits, vals):
    """Canonical Huffman codes: symbol -> (code, length)."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return codes


class _JpegBitWriter:
    """MSB-first bit packer with JPEG 0xFF -> 0xFF 0x00 stuffing."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.buf.append(self._acc)
                if self._acc == 0xFF:
                    self.buf.append(0x00)
                self._acc = 0
                self._n = 0

    def align(self) -> None:
        """Pad the current byte with 1-bits (spec fill bits)."""
        while self._n:
            self.write(1, 1)


def _jpeg_write_coef(writer, codes, value: int, run: int | None = None):
    """Emit one DC diff (run None) or AC (run, value) coefficient."""
    size = abs(value).bit_length()
    sym = size if run is None else ((run << 4) | size)
    code, length = codes[sym]
    writer.write(code, length)
    if size:
        writer.write(value if value > 0 else value + (1 << size) - 1, size)


def encode_jpeg_gray(
    width: int,
    height: int,
    blocks,
    qtable=None,
    restart_interval: int = 0,
) -> bytes:
    """Minimal REAL baseline JPEG encoder: grayscale, one scan.

    ``blocks`` is one 64-entry QUANTIZED coefficient list per 8x8
    block in natural (row-major v*8+u) order, blocks ordered
    (by, bx) row-major, ceil(h/8)*ceil(w/8) of them. Emits DQT,
    SOF0, DHT (Annex-K DC+AC), optional DRI, SOS, entropy-coded
    data with byte stuffing and RSTn markers, EOI.
    """
    qtable = qtable if qtable is not None else [8] * 64
    nbx = (width + 7) // 8
    nby = (height + 7) // 8
    if len(blocks) != nbx * nby:
        raise ValueError("block count != ceil(h/8)*ceil(w/8)")
    dc_codes = _jpeg_build_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_build_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT: Pq=0 (8-bit) Tq=0, values in zigzag order.
    zz_q = bytes(qtable[v * 8 + u] for v, u in _JPEG_ZIGZAG)
    out += b"\xff\xdb" + (2 + 1 + 64).to_bytes(2, "big") + b"\x00" + zz_q
    # SOF0: precision 8, 1 component (id 1, 1x1 sampling, qtable 0).
    out += (
        b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08"
        + height.to_bytes(2, "big") + width.to_bytes(2, "big")
        + b"\x01" + b"\x01\x11\x00"
    )
    # DHT: DC class 0 id 0, then AC class 1 id 0, one segment.
    dht = (
        b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    )
    out += b"\xff\xc4" + (2 + len(dht)).to_bytes(2, "big") + dht
    if restart_interval:
        out += b"\xff\xdd" + (4).to_bytes(2, "big")
        out += restart_interval.to_bytes(2, "big")
    # SOS: 1 component, DC/AC table 0, spectral 0..63, approx 0.
    out += (
        b"\xff\xda" + (8).to_bytes(2, "big") + b"\x01" + b"\x01\x00"
        + b"\x00\x3f\x00"
    )

    writer = _JpegBitWriter()
    pred = 0
    rst = 0
    for bi, block in enumerate(blocks):
        if restart_interval and bi and bi % restart_interval == 0:
            writer.align()
            writer.buf += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            pred = 0
        zz = [block[v * 8 + u] for v, u in _JPEG_ZIGZAG]
        _jpeg_write_coef(writer, dc_codes, zz[0] - pred)
        pred = zz[0]
        run = 0
        for k in range(1, 64):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[0xF0]  # ZRL
                writer.write(code, length)
                run -= 16
            _jpeg_write_coef(writer, ac_codes, zz[k], run)
            run = 0
        if run:
            code, length = ac_codes[0x00]  # EOB
            writer.write(code, length)
    writer.align()
    out += writer.buf + b"\xff\xd9"  # EOI
    return bytes(out)


class _JpegBitReader:
    """MSB-first bit reader with 0xFF 0x00 unstuffing; a bare marker
    byte mid-read is a bitstream error (restarts are consumed at
    block boundaries via expect_restart, never mid-symbol)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def read_bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG bitstream truncated")
            b = self.data[self.pos]
            if b == 0xFF:
                if self.pos + 1 >= len(self.data):
                    raise ValueError("JPEG bitstream truncated at 0xFF")
                nxt = self.data[self.pos + 1]
                if nxt != 0x00:
                    raise ValueError(
                        f"unexpected marker 0xFF{nxt:02x} inside scan"
                    )
                self.pos += 2
            else:
                self.pos += 1
            self._acc = b
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def expect_restart(self, rst: int) -> None:
        """Discard fill bits, consume the expected RSTn marker."""
        self._n = 0
        if (
            self.pos + 2 > len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + (rst & 7)
        ):
            raise ValueError("expected JPEG restart marker")
        self.pos += 2


def _jpeg_read_symbol(reader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(value: int, size: int) -> int:
    if size and value < (1 << (size - 1)):
        return value - (1 << size) + 1
    return value


def parse_jpeg_gray(payload: bytes):
    """Parse a baseline grayscale JPEG into QUANTIZED coefficients.

    Returns {width, height, qtable (natural order), blocks: list of
    64-int natural-order quantized coefficient lists, (by, bx)
    row-major} or None if not a baseline grayscale JPEG. Raises
    ValueError on a structurally-broken bitstream.
    """
    if len(payload) < 4 or payload[0:2] != b"\xff\xd8":
        return None
    qtables: dict[int, list[int]] = {}
    hufftabs: dict[tuple[int, int], dict] = {}
    width = height = None
    restart_interval = 0
    comp_q = 0
    i = 2
    n = len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            i += 2
            continue
        seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
        seg = payload[i + 4 : i + 2 + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("JPEG segment truncated")
        if marker == 0xDB:  # DQT (possibly several tables)
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 15
                if pq != 0:
                    return None  # only 8-bit tables
                tab = [0] * 64
                for k, (v, u) in enumerate(_JPEG_ZIGZAG):
                    tab[v * 8 + u] = seg[j + 1 + k]
                qtables[tq] = tab
                j += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 15
                bits = list(seg[j + 1 : j + 17])
                nv = sum(bits)
                vals = list(seg[j + 17 : j + 17 + nv])
                codes = _jpeg_build_codes(bits, vals)
                hufftabs[(tc, th)] = {
                    (length, code): sym for sym, (code, length) in codes.items()
                }
                j += 17 + nv
        elif marker == 0xC0:  # SOF0 baseline
            if seg[5] != 1:
                return None  # grayscale only
            height = int.from_bytes(seg[1:3], "big")
            width = int.from_bytes(seg[3:5], "big")
            comp_q = seg[8]
        elif 0xC1 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return None  # progressive/extended: not baseline-decodable here
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS: entropy-coded data follows
            dc_tab = hufftabs.get((0, seg[2] >> 4))
            ac_tab = hufftabs.get((1, seg[2] & 15))
            if width is None or dc_tab is None or ac_tab is None:
                return None
            qtable = qtables.get(comp_q)
            if qtable is None:
                return None
            reader = _JpegBitReader(payload, i + 2 + seg_len)
            nbx = (width + 7) // 8
            nby = (height + 7) // 8
            blocks = []
            pred = 0
            rst = 0
            for bi in range(nbx * nby):
                if restart_interval and bi and bi % restart_interval == 0:
                    reader.expect_restart(rst)
                    rst += 1
                    pred = 0
                zz = [0] * 64
                s = _jpeg_read_symbol(reader, dc_tab)
                pred += _jpeg_extend(reader.read_bits(s), s)
                zz[0] = pred
                k = 1
                while k < 64:
                    rs = _jpeg_read_symbol(reader, ac_tab)
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += rs >> 4
                    if k > 63:
                        raise ValueError("JPEG AC run past block end")
                    size = rs & 15
                    zz[k] = _jpeg_extend(reader.read_bits(size), size)
                    k += 1
                nat = [0] * 64
                for k, (v, u) in enumerate(_JPEG_ZIGZAG):
                    nat[v * 8 + u] = zz[k]
                blocks.append(nat)
            return {
                "width": width,
                "height": height,
                "qtable": qtable,
                "blocks": blocks,
            }
        i += 2 + seg_len
    return None


def _jpeg_idct_matrix():
    import numpy as np

    y = np.arange(8, dtype=np.float64)
    v = np.arange(8, dtype=np.float64)[:, None]
    a = 0.5 * np.cos((2 * y[None, :] + 1) * v * np.pi / 16)
    a[0, :] /= np.sqrt(2.0)
    return a


def decode_jpeg_gray(payload: bytes):
    """REAL baseline JPEG decode: entropy decode (parse_jpeg_gray) ->
    dequantize -> full 2-D float IDCT -> +128 level shift, round,
    clamp -> crop to SOF dims. Returns (width, height, uint8
    ndarray[h, w]) or None if not a baseline grayscale JPEG."""
    import numpy as np

    parsed = parse_jpeg_gray(payload)
    if parsed is None:
        return None
    w, h = parsed["width"], parsed["height"]
    q = np.array(parsed["qtable"], dtype=np.float64).reshape(8, 8)
    a = _jpeg_idct_matrix()
    nbx = (w + 7) // 8
    nby = (h + 7) // 8
    img = np.zeros((nby * 8, nbx * 8), dtype=np.uint8)
    for bi, nat in enumerate(parsed["blocks"]):
        coeff = np.array(nat, dtype=np.float64).reshape(8, 8) * q
        block = a.T @ coeff @ a + 128.0
        by, bx = divmod(bi, nbx)
        img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
            np.round(block), 0, 255
        ).astype(np.uint8)
    return w, h, img[:h, :w]


# --- synthetic JPEG corpus: closed-form-decodable content -----------------

# Natural-order positions whose DCT bases are exact under quant 8:
_JPEG_POS_DC = 0
_JPEG_POS_H4 = 0 * 8 + 4  # (v=0, u=4): varies with x
_JPEG_POS_V4 = 4 * 8 + 0  # (v=4, u=0): varies with y
_JPEG_POS_44 = 4 * 8 + 4


def jpeg_corpus_dims(media_id: int) -> tuple[int, int]:
    """Always ODD (17..61), so every image ends in partial edge
    blocks the decoder must crop."""
    return 17 + 2 * ((media_id * 5) % 23), 17 + 2 * ((media_id * 11) % 23)


def _jpeg_seed_block(seed: int, bx: int, by: int) -> list[int]:
    """Formula coefficients for one block, parameterized by an
    arbitrary seed (the JPEG corpus uses media_id; the MJPEG video
    corpus uses a per-frame seed)."""
    nat = [0] * 64
    nat[_JPEG_POS_DC] = (seed + 3 * bx + 5 * by) % 33 - 16
    nat[_JPEG_POS_H4] = (seed + bx) % 5 - 2
    nat[_JPEG_POS_V4] = (seed + by) % 5 - 2
    nat[_JPEG_POS_44] = (seed + bx + by) % 3 - 1
    return nat


def jpeg_seed_pixel(seed: int, x: int, y: int) -> int:
    """The closed-form ground truth every oracle replays."""
    bx, by = x // 8, y // 8
    sx = 1 if x % 4 in (0, 3) else -1
    sy = 1 if y % 4 in (0, 3) else -1
    return (
        128
        + (seed + 3 * bx + 5 * by) % 33 - 16
        + sy * ((seed + by) % 5 - 2)
        + sx * ((seed + bx) % 5 - 2)
        + sx * sy * ((seed + bx + by) % 3 - 1)
    )


def jpeg_corpus_pixel(media_id: int, x: int, y: int) -> int:
    return jpeg_seed_pixel(media_id, x, y)


def encode_jpeg_from_seed(seed: int, w: int, h: int, restart_interval: int = 0) -> bytes:
    """One formula-content baseline JPEG at arbitrary dims."""
    nbx, nby = (w + 7) // 8, (h + 7) // 8
    blocks = [
        _jpeg_seed_block(seed, bx, by)
        for by in range(nby)
        for bx in range(nbx)
    ]
    return encode_jpeg_gray(w, h, blocks, restart_interval=restart_interval)


def encode_jpeg_corpus(media_id: int) -> bytes:
    """One REAL baseline JPEG: formula coefficients, restart markers
    every 4 MCUs on every third image so the DRI/RSTn path runs."""
    w, h = jpeg_corpus_dims(media_id)
    ri = 4 if media_id % 3 == 0 else 0
    return encode_jpeg_from_seed(media_id, w, h, restart_interval=ri)


def synthetic_jpeg_corpus(spark, n: int = 40) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame(
                [(int(i), encode_jpeg_corpus(int(i))) for i in batch["id"]],
                columns=["media_id", "payload"],
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return spark.range(n).mapInPandas(gen, schema)


JPEG_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("sum_lum", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
    ]
)


def jpeg_decode_features(media: DataFrame) -> DataFrame:
    """The JPEG execute stage: full baseline decode per payload, then
    per-image integer luminance checksums. mapInPandas, shuffle-free;
    rows that do not parse as baseline grayscale JPEG are dropped."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                decoded = decode_jpeg_gray(
                    bytes(payload) if payload is not None else b""
                )
                if decoded is None:
                    continue
                w, h, img = decoded
                px = img.astype(np.int64)
                rows.append(
                    (
                        int(media_id), w, h, w * h,
                        int(px.sum()), int((px * px).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "n_px", "sum_lum", "sum_sq",
                ],
            )

    return media.mapInPandas(gen, JPEG_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# REAL Motion-JPEG video decode in an AVI container (round-8
# extension): with a real baseline-JPEG decoder in hand, one VIDEO
# codec path becomes honestly decodable with zero codec libraries —
# MJPG-in-AVI, where every frame is a complete baseline JPEG inside a
# '00dc' chunk of the RIFF 'movi' list. The writer emits a genuine
# AVI (RIFF/LIST nesting, avih + strh/strf stream headers, word-
# aligned frame chunks, idx1 index); the parser is a general nested
# RIFF LIST walk that reads header facts (dims, fps, frame count)
# AND locates each frame's byte range — so the planning stage (frame
# sampling from header facts) and the execute stage (range-sliced
# per-frame JPEG decode) mirror the audio chunk planner contract
# exactly. H.264-in-MP4 remains the one genuinely library-bound gap.
#
# Scale: identical to the other execute stages — per-row CPU-bound
# mapInPandas, no shuffle; at 100 TB the frame table (video, frame,
# byte-range) fans out one-frame-per-task after a header-only plan.
# ---------------------------------------------------------------------------


def _riff_chunk(cid: bytes, data: bytes) -> bytes:
    """One RIFF chunk with the mandatory word-alignment pad byte."""
    pad = b"\x00" if len(data) % 2 else b""
    return cid + len(data).to_bytes(4, "little") + data + pad


def _riff_list(ltype: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", ltype + body)


def encode_avi_mjpeg(width: int, height: int, frames: list[bytes],
                     fps: int = 24) -> bytes:
    """A REAL AVI file: RIFF('AVI ') > LIST(hdrl)(avih, LIST(strl)(
    strh 'vids'/'MJPG', strf BITMAPINFOHEADER)) + LIST(movi)(00dc
    frames, word-aligned) + idx1."""
    n = len(frames)
    usec_per_frame = 1_000_000 // fps
    max_bytes = max((len(f) for f in frames), default=0)
    avih = (
        usec_per_frame.to_bytes(4, "little")
        + (max_bytes * fps).to_bytes(4, "little")
        + (0).to_bytes(4, "little")          # padding granularity
        + (0x10).to_bytes(4, "little")       # AVIF_HASINDEX
        + n.to_bytes(4, "little")
        + (0).to_bytes(4, "little")          # initial frames
        + (1).to_bytes(4, "little")          # streams
        + max_bytes.to_bytes(4, "little")    # suggested buffer
        + width.to_bytes(4, "little")
        + height.to_bytes(4, "little")
        + b"\x00" * 16                       # reserved
    )
    strh = (
        b"vids" + b"MJPG"
        + (0).to_bytes(4, "little")          # flags
        + (0).to_bytes(4, "little")          # priority + language
        + (0).to_bytes(4, "little")          # initial frames
        + (1).to_bytes(4, "little")          # scale
        + fps.to_bytes(4, "little")          # rate (fps = rate/scale)
        + (0).to_bytes(4, "little")          # start
        + n.to_bytes(4, "little")            # length in frames
        + max_bytes.to_bytes(4, "little")
        + (0xFFFFFFFF).to_bytes(4, "little")  # quality: default
        + (0).to_bytes(4, "little")          # sample size
        + (0).to_bytes(2, "little") * 2      # rcFrame left, top
        + width.to_bytes(2, "little") + height.to_bytes(2, "little")
    )
    strf = (
        (40).to_bytes(4, "little")
        + width.to_bytes(4, "little") + height.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + b"MJPG"
        + (width * height * 3).to_bytes(4, "little")
        + (0).to_bytes(4, "little") * 4
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh)
                     + _riff_chunk(b"strf", strf)),
    )
    movi_body = b"".join(_riff_chunk(b"00dc", f) for f in frames)
    movi = _riff_list(b"movi", movi_body)
    # idx1: one entry per frame, offsets relative to the movi list's
    # 'movi' fourcc (the classic AVI 1.0 convention).
    idx_entries = []
    off = 4
    for f in frames:
        idx_entries.append(
            b"00dc" + (0x10).to_bytes(4, "little")  # AVIIF_KEYFRAME
            + off.to_bytes(4, "little") + len(f).to_bytes(4, "little")
        )
        off += 8 + len(f) + (len(f) % 2)
    idx1 = _riff_chunk(b"idx1", b"".join(idx_entries))
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + len(riff_body).to_bytes(4, "little") + riff_body


def avi_info(payload: bytes) -> dict | None:
    """Header facts + per-frame byte ranges from a RIFF AVI: nested
    LIST walk for avih/strh/strf, then the movi list's 00dc/00db
    chunks give (offset, size) per frame. Returns {width, height,
    fps, n_frames_declared, frames: [(abs_offset, size)]} or None if
    not an AVI. Frame ranges come from the CHUNK WALK (the idx1
    index is optional in the wild); declared counts come from the
    header, so a planner can run on a header-only prefix."""
    if len(payload) < 12 or payload[0:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    out: dict = {"frames": []}

    def walk(lo: int, hi: int) -> None:
        i = lo
        while i + 8 <= hi:
            cid = payload[i : i + 4]
            csz = int.from_bytes(payload[i + 4 : i + 8], "little")
            body_lo, body_hi = i + 8, min(i + 8 + csz, hi)
            if cid == b"LIST" and body_hi - body_lo >= 4:
                ltype = payload[body_lo : body_lo + 4]
                if ltype in (b"hdrl", b"strl", b"movi"):
                    walk(body_lo + 4, body_hi)
            elif cid == b"avih" and body_hi - body_lo >= 40:
                out["usec_per_frame"] = int.from_bytes(
                    payload[body_lo : body_lo + 4], "little")
                out["n_frames_declared"] = int.from_bytes(
                    payload[body_lo + 16 : body_lo + 20], "little")
                out["width"] = int.from_bytes(
                    payload[body_lo + 32 : body_lo + 36], "little")
                out["height"] = int.from_bytes(
                    payload[body_lo + 36 : body_lo + 40], "little")
            elif cid == b"strh" and body_hi - body_lo >= 32:
                if payload[body_lo : body_lo + 4] == b"vids":
                    out["handler"] = payload[body_lo + 4 : body_lo + 8]
                    scale = int.from_bytes(
                        payload[body_lo + 20 : body_lo + 24], "little")
                    rate = int.from_bytes(
                        payload[body_lo + 24 : body_lo + 28], "little")
                    if scale:
                        out["fps"] = rate // scale
            elif cid in (b"00dc", b"00db"):
                out["frames"].append((body_lo, csz))
            i += 8 + csz + (csz & 1)  # word alignment

    walk(12, len(payload))
    if "width" not in out:
        return None
    return out


AVI_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_lum", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
    ]
)


def avi_corpus_dims(video_id: int) -> tuple[int, int]:
    """Always odd, like the JPEG corpus: every frame has partial
    edge blocks."""
    return 17 + 2 * ((video_id * 3) % 23), 17 + 2 * ((video_id * 7) % 23)


def avi_corpus_n_frames(video_id: int) -> int:
    return 6 + video_id % 5


def avi_frame_seed(video_id: int, frame: int) -> int:
    """Per-frame formula seed — distinct content per frame so a
    frame-indexing bug cannot cancel out in the checksums."""
    return video_id * 31 + 97 * frame


def encode_avi_corpus(video_id: int) -> bytes:
    w, h = avi_corpus_dims(video_id)
    frames = [
        encode_jpeg_from_seed(avi_frame_seed(video_id, f), w, h)
        for f in range(avi_corpus_n_frames(video_id))
    ]
    return encode_avi_mjpeg(w, h, frames)


def synthetic_avi_corpus(spark, n: int = 12) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame(
                [(int(i), encode_avi_corpus(int(i))) for i in batch["id"]],
                columns=["video_id", "payload"],
            )

    schema = T.StructType(
        [
            T.StructField("video_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return spark.range(n).mapInPandas(gen, schema)


def mjpeg_frame_decode(media: DataFrame, every_k: int = 3) -> DataFrame:
    """The video execute stage: AVI chunk walk locates frame byte
    ranges, every k-th frame's JPEG is range-sliced and fully decoded
    (baseline Huffman + IDCT), per-frame integer luminance checksums
    out. mapInPandas, shuffle-free; non-AVI or non-MJPG payloads are
    dropped."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for video_id, payload in zip(batch["video_id"], batch["payload"]):
                payload = bytes(payload) if payload is not None else b""
                info = avi_info(payload)
                if info is None or info.get("handler") != b"MJPG":
                    continue
                for f in range(0, len(info["frames"]), every_k):
                    off, size = info["frames"][f]
                    decoded = decode_jpeg_gray(payload[off : off + size])
                    if decoded is None:
                        continue
                    w, h, img = decoded
                    px = img.astype(np.int64)
                    rows.append(
                        (
                            int(video_id), f, w, h,
                            int(px.sum()), int((px * px).sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "video_id", "frame_index", "width", "height",
                    "sum_lum", "sum_sq",
                ],
            )

    return media.mapInPandas(gen, AVI_FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# REAL IMA-ADPCM audio codec (round-8 extension): the COMPRESSED-audio
# twin of the PCM execute stage — 4-bit IMA ADPCM (the WAV fmt-0x11 /
# DVI4 scheme: public IMA spec, also RFC 3551 §4.5.1), decoded with
# the genuine predictor/step-index table walk. Unlike PCM, every
# output sample depends on ALL previous nibbles in its block (clamped
# integer state), so a correct hash certifies the sequential decode
# loop, not just byte addressing.
#
# Oracle contract: the corpus nibbles are a closed-form function of
# (media_id, block, position), and the DECODE is deterministic integer
# state — so DuckDB replays the identical walk with a RECURSIVE CTE
# (65 iterations, one row per block per step), an independent second
# implementation of the state machine. The step/index TABLES are
# imported by both sides from the constants below (not retyped), so
# parity convicts the walk, the clamps, the nibble unpacking, the
# block framing, and the WAV header math — a table transcription slip
# is the one shared input parity cannot see (pinned instead by the
# spec-shape test: 89 strictly-increasing steps, 7 .. 32767).
#
# Scale design: identical to the other execute stages — per-row
# CPU-bound map work behind Arrow-batched mapInPandas, no shuffle;
# block features are integers so downstream aggregation is
# order-independent.
# ---------------------------------------------------------------------------

# IMA ADPCM step-size table (89 entries) and index-adjust table —
# public spec constants shared by encoder, decoder, and oracle SQL.
IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]  # indexed by nibble & 7

_ADPCM_BLOCK_ALIGN = 36  # 4-byte block header + 32 nibble bytes
_ADPCM_NIBBLES = (_ADPCM_BLOCK_ALIGN - 4) * 2  # 64 -> 65 samples/block
_ADPCM_RATE = 8000


def adpcm_corpus_blocks(media_id: int) -> int:
    return media_id % 4 + 2


def _adpcm_nibble(media_id: int, block: int, j: int) -> int:
    """Corpus nibble formula — replayed literally by the oracle."""
    return (media_id * 7 + block * 5 + j * 3) % 16


def _adpcm_block_init(media_id: int, block: int) -> tuple[int, int]:
    pred = ((media_id * 131 + block * 71) % 65536) - 32768
    idx = (media_id * 3 + block * 7) % 89
    return pred, idx


def encode_wav_adpcm(media_id: int) -> bytes:
    """A COMPLETE IMA-ADPCM WAV: fmt (tag 0x11, cbSize=2 with
    samplesPerBlock), fact chunk, and block-structured data — each
    block a (predictor int16 LE, step index u8, reserved u8) header
    followed by packed nibbles, LOW nibble first per the spec."""
    n_blocks = adpcm_corpus_blocks(media_id)
    samples_per_block = _ADPCM_NIBBLES + 1
    blocks = bytearray()
    for b in range(n_blocks):
        pred, idx = _adpcm_block_init(media_id, b)
        blocks += pred.to_bytes(2, "little", signed=True)
        blocks += bytes([idx, 0])
        for byte_i in range(_ADPCM_BLOCK_ALIGN - 4):
            lo = _adpcm_nibble(media_id, b, 2 * byte_i)
            hi = _adpcm_nibble(media_id, b, 2 * byte_i + 1)
            blocks.append(lo | (hi << 4))
    data = bytes(blocks)
    byte_rate = _ADPCM_RATE * _ADPCM_BLOCK_ALIGN // samples_per_block
    fmt_body = (
        (0x11).to_bytes(2, "little")
        + (1).to_bytes(2, "little")  # mono
        + _ADPCM_RATE.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + _ADPCM_BLOCK_ALIGN.to_bytes(2, "little")
        + (4).to_bytes(2, "little")  # bits per (compressed) sample
        + (2).to_bytes(2, "little")  # cbSize
        + samples_per_block.to_bytes(2, "little")
    )
    fact = b"fact" + (4).to_bytes(4, "little") + (
        samples_per_block * n_blocks
    ).to_bytes(4, "little")
    riff_size = 4 + (8 + len(fmt_body)) + len(fact) + (8 + len(data))
    return (
        b"RIFF" + riff_size.to_bytes(4, "little") + b"WAVE"
        + b"fmt " + len(fmt_body).to_bytes(4, "little") + fmt_body
        + fact
        + b"data" + len(data).to_bytes(4, "little") + data
    )


def decode_adpcm_block(block: bytes) -> tuple[list[int], int]:
    """Decode ONE IMA-ADPCM block (general: any block size). Returns
    (samples, final step index) — samples start with the header
    sample, then one per nibble."""
    pred = int.from_bytes(block[0:2], "little", signed=True)
    idx = block[2]
    out = [pred]
    for byte in block[4:]:
        for nib in (byte & 0xF, byte >> 4):
            step = IMA_STEP_TABLE[idx]
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + IMA_INDEX_TABLE[nib & 7]))
            out.append(pred)
    return out, idx


def synthetic_adpcm_corpus(spark, n: int = 30) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame(
                [(int(i), encode_wav_adpcm(int(i))) for i in batch["id"]],
                columns=["media_id", "payload"],
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return spark.range(n).mapInPandas(gen, schema)


ADPCM_BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("block_idx", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_s", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
        T.StructField("end_pred", T.LongType()),
        T.StructField("end_index", T.LongType()),
    ]
)


def adpcm_block_features(media: DataFrame) -> DataFrame:
    """REAL compressed-audio decode: header walk locates the data
    range (fmt tag must be 0x11), each block_align-sized block is
    decoded with the full IMA state walk, and per-block integer
    features are emitted — sums certify every sample, end_pred /
    end_index certify the FINAL state (a mid-block slip cannot
    cancel out of both)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for media_id, payload in zip(batch["media_id"], batch["payload"]):
                payload = bytes(payload) if payload is not None else b""
                info = wav_info(payload)
                if info is None or info["audio_format"] != 0x11:
                    continue
                if info["channels"] != 1 or info["bits_per_sample"] != 4:
                    continue
                off, size, ba = (
                    info["data_offset"], info["data_size"], info["block_align"]
                )
                if off is None or len(payload) < off + size or ba <= 4:
                    continue
                for b in range(size // ba):
                    block = payload[off + b * ba : off + (b + 1) * ba]
                    samples, end_idx = decode_adpcm_block(block)
                    s = sum(samples)
                    sq = sum(v * v for v in samples)
                    rows.append(
                        (
                            int(media_id), b, len(samples),
                            int(s), int(sq), int(samples[-1]), int(end_idx),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "block_idx", "n_samples",
                    "sum_s", "sum_sq", "end_pred", "end_index",
                ],
            )

    return media.mapInPandas(gen, ADPCM_BLOCK_SCHEMA)
