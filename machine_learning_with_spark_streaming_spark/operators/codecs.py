"""Real pure-stdlib codecs for the multimodal decode path.

The container ships no PIL/opencv/ffmpeg, so the general
``decode_image``/``decode_audio`` entry points in operators/multimodal.py
stay gated for compressed formats — but two uncompressed formats are
fully parseable with the stdlib, and that makes the decode path *real*
rather than a deterministic fake:

- **BMP** (Windows bitmap, 24-bit uncompressed): ``struct``-parsed
  BITMAPFILEHEADER + BITMAPINFOHEADER, bottom-up BGR pixel rows with
  4-byte row padding.
- **WAV** (PCM 16-bit): the stdlib ``wave`` module over ``io.BytesIO``.

Both run inside the same Arrow ``mapInPandas`` plumbing as the fake
decoder (multimodal.py), so schema/partitioning/batch shape are
unchanged; the registered queries build a deterministic asset per
document row, round-trip it through the real encoder+decoder, and emit
pixel/sample statistics whose arithmetic the DuckDB oracle replays from
the source bytes — a hash check that the decode really inverts the
encode.

Reference parity: the reference streams CIFAR image batches as raw
pixel matrices (``/root/reference/Dataset/stream.py:75-134``); this
module is the decode step that turns container formats into those
matrices.
"""

from __future__ import annotations

import io
import struct
import wave
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from machine_learning_with_spark_streaming_spark.registry import register
from machine_learning_with_spark_streaming_spark.schemas import load_table
from machine_learning_with_spark_streaming_spark.streaming.tuning import start_and_await

# ------------------------------------------------------------------- BMP

_BMP_PIXEL_OFFSET = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER


def encode_bmp_gray(gray: bytes, width: int, height: int) -> bytes:
    """Encode grayscale bytes (row-major, top-down, len == width*height)
    as a 24-bit uncompressed BMP (each pixel B=G=R=gray value)."""
    if len(gray) != width * height:
        raise ValueError(f"need {width * height} bytes, got {len(gray)}")
    row_bytes = width * 3
    pad = (-row_bytes) % 4
    stride = row_bytes + pad
    file_size = _BMP_PIXEL_OFFSET + stride * height
    out = bytearray()
    out += struct.pack("<2sIHHI", b"BM", file_size, 0, 0, _BMP_PIXEL_OFFSET)
    out += struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, stride * height,
        2835, 2835, 0, 0,
    )
    for y in range(height - 1, -1, -1):  # bottom-up row order
        row = bytearray()
        for x in range(width):
            g = gray[y * width + x]
            row += bytes((g, g, g))
        out += row + b"\x00" * pad
    return bytes(out)


def _parse_bmp_header(payload: bytes) -> tuple[int, int, int, int, bool]:
    """Validate BMP headers; return (width, height, offset, stride,
    bottom_up). Raises ValueError on malformed input and
    NotImplementedError for variants (compressed, non-24-bit) the
    stdlib parser does not cover."""
    if len(payload) < _BMP_PIXEL_OFFSET:
        raise ValueError("truncated BMP: no room for headers")
    magic, _fsize, _r1, _r2, offset = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError(f"not a BMP (magic {magic!r})")
    (hdr_size, width, height, _planes, bpp, compression, _isize,
     _xppm, _yppm, _ncol, _nimp) = struct.unpack_from("<IiiHHIIiiII", payload, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    # width is parsed signed: a negative value would flip the stride
    # negative and let the truncation check below pass on garbage
    if width <= 0 or height == 0:
        raise ValueError(f"invalid BMP dimensions {width}x{height}")
    if offset < _BMP_PIXEL_OFFSET or offset > len(payload):
        raise ValueError(f"invalid pixel-array offset {offset}")
    if compression != 0:
        raise NotImplementedError(f"compressed BMP (method {compression})")
    if bpp != 24:
        raise NotImplementedError(f"only 24-bit BMP supported, got {bpp}")
    bottom_up = height > 0
    height = abs(height)
    row_bytes = width * 3
    stride = row_bytes + ((-row_bytes) % 4)
    if len(payload) < offset + stride * height:
        raise ValueError("truncated BMP: pixel array short")
    return width, height, offset, stride, bottom_up


def decode_bmp(payload: bytes) -> dict:
    """Parse a 24-bit uncompressed BMP; return dimensions + pixel stats."""
    width, height, offset, stride, bottom_up = _parse_bmp_header(payload)
    row_bytes = width * 3
    total = 0
    max_byte = 0
    for y in range(height):
        src_row = (height - 1 - y) if bottom_up else y
        start = offset + src_row * stride
        row = payload[start : start + row_bytes]  # exclude padding
        total += sum(row)
        if row:
            m = max(row)
            if m > max_byte:
                max_byte = m
    n_channel_bytes = row_bytes * height
    return {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "mean_pixel": (total / n_channel_bytes) if n_channel_bytes else 0.0,
        "max_pixel": max_byte,
    }


def decode_bmp_gray(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a 24-bit BMP to (width, height, row-major top-down
    grayscale bytes) taking the blue channel — exact for the grayscale
    images :func:`encode_bmp_gray` writes (B=G=R), and the standard
    single-channel view otherwise."""
    width, height, offset, stride, bottom_up = _parse_bmp_header(payload)
    out = bytearray(width * height)
    for y in range(height):
        src_row = (height - 1 - y) if bottom_up else y
        start = offset + src_row * stride
        for x in range(width):
            out[y * width + x] = payload[start + x * 3]
    return width, height, bytes(out)


def resize_nearest(
    gray: bytes, width: int, height: int, out_w: int, out_h: int
) -> bytes:
    """Nearest-neighbor resample of a row-major grayscale image — the
    canonical floor-index map ``src = floor(dst * in/out)`` (exact
    integer arithmetic, no float sampling grid)."""
    out = bytearray(out_w * out_h)
    for y in range(out_h):
        sy = y * height // out_h
        for x in range(out_w):
            out[y * out_w + x] = gray[sy * width + (x * width // out_w)]
    return bytes(out)


# ------------------------------------------------------------------- WAV


def encode_wav_pcm16(samples: list[int], frame_rate: int = 16000) -> bytes:
    """Encode mono 16-bit PCM samples with the stdlib ``wave`` writer."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(frame_rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_wav(payload: bytes) -> dict:
    """Parse a PCM WAV with the stdlib ``wave`` reader; sample stats."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        n_channels = w.getnchannels()
        sampwidth = w.getsampwidth()
        frame_rate = w.getframerate()
        n_frames = w.getnframes()
        raw = w.readframes(n_frames)
    if sampwidth != 2:
        raise NotImplementedError(f"only 16-bit PCM supported, got {sampwidth * 8}")
    samples = struct.unpack(f"<{n_frames * n_channels}h", raw)
    abs_samples = [abs(s) for s in samples]
    n = len(abs_samples)
    return {
        "n_channels": n_channels,
        "frame_rate": frame_rate,
        "n_frames": n_frames,
        "mean_abs_sample": (sum(abs_samples) / n) if n else 0.0,
        "max_abs_sample": max(abs_samples) if n else 0,
    }


def decode_wav_samples(payload: bytes) -> list[int]:
    """Decode a 16-bit PCM WAV to its interleaved sample values."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        n_channels = w.getnchannels()
        sampwidth = w.getsampwidth()
        n_frames = w.getnframes()
        raw = w.readframes(n_frames)
    if sampwidth != 2:
        raise NotImplementedError(f"only 16-bit PCM supported, got {sampwidth * 8}")
    return list(struct.unpack(f"<{n_frames * n_channels}h", raw))


# ------------------------------------------- registered round-trip queries

IMG_W = IMG_H = 8  # 8*3 row bytes % 4 == 0: no row padding in the fixture
_N_PIX = IMG_W * IMG_H
WAV_SAMPLES = 64
WAV_RATE = 16000

BMP_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", IntegerType()),
        StructField("mean_pixel", DoubleType()),
        StructField("max_pixel", IntegerType()),
    ]
)


def bmp_roundtrip_stats(docs: DataFrame) -> DataFrame:
    """Per image-kind document: derive an 8x8 grayscale from the first 64
    payload bytes (zero-padded), encode a real 24-bit BMP, decode it with
    the struct parser, emit the decoded stats. Arrow-batched; nothing
    leaves the executors."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                gray = bytes(payload)[:_N_PIX].ljust(_N_PIX, b"\x00")
                st = decode_bmp(encode_bmp_gray(gray, IMG_W, IMG_H))
                rows.append(
                    (aid, st["width"], st["height"], st["n_pixels"],
                     st["mean_pixel"], st["max_pixel"])
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in BMP_STATS_SCHEMA.fields]
            )

    # JVM-side HALF_UP round — Python round() is banker's and diverges
    # from the DuckDB oracle on exact ties
    return docs.mapInPandas(batches, BMP_STATS_SCHEMA).withColumn(
        "mean_pixel", F.round("mean_pixel", 6)
    )


WAV_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("n_channels", IntegerType()),
        StructField("frame_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("mean_abs_sample", DoubleType()),
        StructField("max_abs_sample", IntegerType()),
    ]
)


def wav_roundtrip_stats(docs: DataFrame) -> DataFrame:
    """Per audio-kind document: first 64 payload bytes (padded with 0x80
    = PCM silence) become centered 16-bit samples ``(b - 128) * 256``,
    written as a real WAV and decoded back with the stdlib reader."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload)[:WAV_SAMPLES].ljust(WAV_SAMPLES, b"\x80")
                samples = [(b - 128) * 256 for b in raw]
                st = decode_wav(encode_wav_pcm16(samples, WAV_RATE))
                rows.append(
                    (aid, st["n_channels"], st["frame_rate"], st["n_frames"],
                     st["mean_abs_sample"], st["max_abs_sample"])
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in WAV_STATS_SCHEMA.fields]
            )

    return docs.mapInPandas(batches, WAV_STATS_SCHEMA).withColumn(
        "mean_abs_sample", F.round("mean_abs_sample", 6)
    )


def _image_docs(spark, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select(F.col("doc_id").alias("asset_id"),
                F.encode("text", "UTF-8").alias("payload"))
    )


def _audio_docs(spark, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 1)
        .select(F.col("doc_id").alias("asset_id"),
                F.encode("text", "UTF-8").alias("payload"))
    )


# Byte extraction via hex pairs — same construction as multimodal.py's
# oracles, with hex() hoisted into a CTE column and the range bounded to
# the 64 bytes the fixture actually uses (padding bytes contribute 0 to
# the sum and never raise the max, so decoding them is pure waste).
# Sums are exact integers, so mean = sum / 2^6 is bit-identical across
# engines (division by a power of two is exact in IEEE doubles; the
# decoder's sum(BGR)/(3*64) correctly rounds to the same value).
def _head_cte(doc_filter: str, n_head: int) -> str:
    return f"""
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         least(octet_length(encode(text)), {n_head}) AS n
  FROM documents WHERE {doc_filter}
),
b AS (
  SELECT doc_id,
         list_transform(range(1, n + 1), i ->
           (strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1) * 16
           + strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1) AS head
  FROM h
)"""


_BMP_ORACLE = f"""
{_head_cte('doc_id % 3 = 0', _N_PIX)}
SELECT CAST(doc_id AS BIGINT) AS asset_id,
       {IMG_W} AS width, {IMG_H} AS height, {_N_PIX} AS n_pixels,
       round(CAST(coalesce(list_sum(head), 0) AS DOUBLE) / {_N_PIX}, 6)
         AS mean_pixel,
       CAST(greatest(coalesce(list_aggregate(head, 'max'), 0), 0) AS INT)
         AS max_pixel
FROM b ORDER BY asset_id
"""

_WAV_ORACLE = f"""
{_head_cte('doc_id % 3 = 1', WAV_SAMPLES)}
SELECT CAST(doc_id AS BIGINT) AS asset_id,
       1 AS n_channels, {WAV_RATE} AS frame_rate, {WAV_SAMPLES} AS n_frames,
       round(CAST(coalesce(list_sum(list_transform(head,
               x -> abs((x - 128) * 256))), 0) AS DOUBLE) / {WAV_SAMPLES}, 6)
         AS mean_abs_sample,
       CAST(greatest(coalesce(list_aggregate(list_transform(head,
               x -> abs((x - 128) * 256)), 'max'), 0), 0) AS INT)
         AS max_abs_sample
FROM b ORDER BY asset_id
"""


@register("mm_decode_bmp", oracle=_BMP_ORACLE)
def q_decode_bmp(spark, sf_dir):
    """Real BMP encode→decode round trip per image asset; the oracle
    recomputes the decoded pixel stats from the source bytes, proving
    the struct parser inverts the encoder."""
    return bmp_roundtrip_stats(_image_docs(spark, sf_dir)).orderBy("asset_id")


@register("mm_decode_wav", oracle=_WAV_ORACLE)
def q_decode_wav(spark, sf_dir):
    """Real WAV (stdlib ``wave``) encode→decode round trip per audio
    asset; sample statistics hash-checked against the source bytes."""
    return wav_roundtrip_stats(_audio_docs(spark, sf_dir)).orderBy("asset_id")


# ------------------------------------- pixel/sample processing queries

OUT_W = OUT_H = 4  # 8x8 -> 4x4: floor-index map picks even rows/cols

RESIZE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("mean_pixel", DoubleType()),
        StructField("checksum", LongType()),
    ]
)


def bmp_resize_stats(docs: DataFrame) -> DataFrame:
    """Per image asset: encode the 8x8 grayscale fixture as a real BMP,
    decode it back to pixels, nearest-neighbor downsample to 4x4, and
    emit the resized image's mean plus a position-weighted checksum
    ``sum(pixel[p] * (p+1))`` — a value that is wrong if any pixel lands
    at the wrong place, so the oracle checks the *geometry* of the
    resample, not just its histogram. Arrow-batched ``mapInPandas``;
    this is the thumbnail/preprocess step of an image-training pipeline
    in the exact plumbing a PIL-backed decoder would use."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                gray = bytes(payload)[:_N_PIX].ljust(_N_PIX, b"\x00")
                w, h, decoded = decode_bmp_gray(encode_bmp_gray(gray, IMG_W, IMG_H))
                small = resize_nearest(decoded, w, h, OUT_W, OUT_H)
                n = OUT_W * OUT_H
                rows.append(
                    (
                        aid,
                        OUT_W,
                        OUT_H,
                        sum(small) / n,
                        sum(px * (p + 1) for p, px in enumerate(small)),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZE_SCHEMA.fields])

    return docs.mapInPandas(batches, RESIZE_SCHEMA).withColumn(
        "mean_pixel", F.round("mean_pixel", 6)
    )


# Resized pixel p (0-based, row-major 4x4) samples source pixel
# (2*(p//4), 2*(p%4)) of the 8x8 image -> head index 16*(p//4) + 2*(p%4)
# (0-based); +1 for DuckDB's 1-based lists, with padding bytes = 0.
_RESIZED_LIST = (
    "list_transform(range(0, 16), p -> "
    "coalesce(head[CAST(16 * (p // 4) + 2 * (p % 4) + 1 AS INT)], 0))"
)

_RESIZE_ORACLE = f"""
{_head_cte('doc_id % 3 = 0', _N_PIX)}
SELECT CAST(doc_id AS BIGINT) AS asset_id,
       {OUT_W} AS out_width, {OUT_H} AS out_height,
       round(CAST(list_sum({_RESIZED_LIST}) AS DOUBLE) / {OUT_W * OUT_H}, 6)
         AS mean_pixel,
       CAST(list_sum(list_transform(range(0, 16), p ->
           coalesce(head[CAST(16 * (p // 4) + 2 * (p % 4) + 1 AS INT)], 0)
           * (p + 1))) AS BIGINT) AS checksum
FROM b ORDER BY asset_id
"""


@register("mm_resize_bmp", oracle=_RESIZE_ORACLE, bench=True)
def q_resize_bmp(spark, sf_dir):
    """Real decode -> nearest-neighbor resize over image assets; the
    position-weighted checksum proves every resized pixel came from the
    floor-index source location."""
    return bmp_resize_stats(_image_docs(spark, sf_dir)).orderBy("asset_id")


FRAME_LEN = 16  # 64 samples -> 4 RMS frames
SILENCE_RMS = 256.0

WAV_RMS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("rms", DoubleType()),
        StructField("peak", IntegerType()),
        StructField("is_silence", IntegerType()),
    ]
)


def wav_frame_rms(docs: DataFrame) -> DataFrame:
    """Per audio asset: real WAV round trip, then frame-level RMS energy
    (frames of FRAME_LEN samples) with peak and a silence flag — the
    voice-activity-detection front end of an audio pipeline, as a 1->N
    Arrow-batched expansion. All arithmetic is exact-integer until the
    final sqrt (sum of squares <= 16 * 32768^2 << 2^53), so the oracle
    reproduces the doubles bit-for-bit."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload)[:WAV_SAMPLES].ljust(WAV_SAMPLES, b"\x80")
                samples = decode_wav_samples(
                    encode_wav_pcm16([(b - 128) * 256 for b in raw], WAV_RATE)
                )
                for f in range(WAV_SAMPLES // FRAME_LEN):
                    frame = samples[f * FRAME_LEN : (f + 1) * FRAME_LEN]
                    rms = (sum(s * s for s in frame) / FRAME_LEN) ** 0.5
                    rows.append(
                        (
                            aid,
                            f,
                            rms,  # silence flag uses the raw value too
                            max(abs(s) for s in frame),
                            int(rms < SILENCE_RMS),
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in WAV_RMS_SCHEMA.fields])

    return docs.mapInPandas(batches, WAV_RMS_SCHEMA).withColumn(
        "rms", F.round("rms", 6)
    )


_WAV_RMS_ORACLE = f"""
{_head_cte('doc_id % 3 = 1', WAV_SAMPLES)},
frames AS (
  SELECT doc_id, CAST(f.f AS INT) AS frame_idx,
         list_transform(range(1, {FRAME_LEN} + 1), i ->
           (coalesce(head[CAST(f.f * {FRAME_LEN} + i AS INT)], 128) - 128) * 256)
           AS frame
  FROM b, LATERAL (SELECT unnest(range(0, {WAV_SAMPLES // FRAME_LEN}))
                   AS f) f
)
SELECT CAST(doc_id AS BIGINT) AS asset_id,
       frame_idx,
       round(sqrt(CAST(list_sum(list_transform(frame, s -> s * s))
                       AS DOUBLE) / {FRAME_LEN}), 6) AS rms,
       CAST(list_aggregate(list_transform(frame, s -> abs(s)), 'max') AS INT)
         AS peak,
       CAST(CASE WHEN sqrt(CAST(list_sum(list_transform(frame, s -> s * s))
                                AS DOUBLE) / {FRAME_LEN}) < {SILENCE_RMS}
                 THEN 1 ELSE 0 END AS INT) AS is_silence
FROM frames ORDER BY asset_id, frame_idx
"""


@register("mm_wav_frame_rms", oracle=_WAV_RMS_ORACLE, bench=True)
def q_wav_frame_rms(spark, sf_dir):
    """Frame-level RMS/peak/silence over real-decoded PCM samples (1->4
    expansion per audio asset); the oracle replays the energy math from
    the source bytes."""
    return wav_frame_rms(_audio_docs(spark, sf_dir)).orderBy(
        "asset_id", "frame_idx"
    )


# ------------------------------ pixel/sample downstream compositions

THUMB_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("thumb_sig", StringType()),
    ]
)


def bmp_thumb_signatures(docs: DataFrame) -> DataFrame:
    """Perceptual-dedup stand-in: real decode -> 4x4 nearest-neighbor
    thumbnail -> md5 over the decimal pixel string. Identical thumbnails
    mean identical sampled pixels — the exact-on-thumbnail form of
    image near-dup (a pHash would swap the signature function, keep the
    plumbing and the groupBy)."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                gray = bytes(payload)[:_N_PIX].ljust(_N_PIX, b"\x00")
                w, h, decoded = decode_bmp_gray(encode_bmp_gray(gray, IMG_W, IMG_H))
                small = resize_nearest(decoded, w, h, OUT_W, OUT_H)
                sig = hashlib.md5(" ".join(str(p) for p in small).encode()).hexdigest()
                rows.append((aid, sig))
            yield pd.DataFrame(rows, columns=[f.name for f in THUMB_SCHEMA.fields])

    return docs.mapInPandas(batches, THUMB_SCHEMA)


_IMAGE_DEDUP_ORACLE = f"""
{_head_cte('doc_id % 3 = 0', _N_PIX)},
thumbs AS (
  SELECT doc_id,
         md5(array_to_string({_RESIZED_LIST}, ' ')) AS thumb_sig
  FROM b
  UNION ALL
  SELECT doc_id + 500000 AS doc_id,
         md5(array_to_string({_RESIZED_LIST}, ' ')) AS thumb_sig
  FROM b WHERE doc_id < 30
)
SELECT thumb_sig,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS keeper_id
FROM thumbs
GROUP BY 1 HAVING count(*) > 1
ORDER BY keeper_id
"""


@register("mm_image_dedup", oracle=_IMAGE_DEDUP_ORACLE, bench=True)
def q_image_dedup(spark, sf_dir):
    """Duplicate-image groups by thumbnail hash over the image assets
    plus 10 injected re-uploads (asset_id + 500000): every injected copy
    must land in a group with its original, and organically colliding
    thumbnails group too. The shuffle moves 16-byte signatures, never
    pixels — the image-dedup scale shape."""
    base = _image_docs(spark, sf_dir)
    copies = base.filter(F.col("asset_id") < 30).select(
        (F.col("asset_id") + 500000).alias("asset_id"), "payload"
    )
    sigs = bmp_thumb_signatures(base.unionByName(copies))
    return (
        sigs.groupBy("thumb_sig")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("asset_id").alias("keeper_id"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("keeper_id")
    )


def speech_segments(docs: DataFrame) -> DataFrame:
    """Voice-activity segments: consecutive non-silent RMS frames merged
    into (seg_start, seg_end) islands per asset — the gaps-and-islands
    window over the decoded frame table (grp = frame_idx - row_number
    per asset). Output keeps exact-integer stats only (no float
    re-aggregation, so cross-engine hashing stays bit-stable)."""
    from pyspark.sql import Window

    frames = wav_frame_rms(docs).filter(F.col("is_silence") == 0)
    w = Window.partitionBy("asset_id").orderBy("frame_idx")
    grp = (F.col("frame_idx") - F.row_number().over(w)).alias("__grp")
    return (
        frames.select("asset_id", "frame_idx", "peak", grp)
        .groupBy("asset_id", "__grp")
        .agg(
            F.min("frame_idx").alias("seg_start"),
            F.max("frame_idx").alias("seg_end"),
            F.count(F.lit(1)).cast("int").alias("n_frames"),
            F.max("peak").alias("max_peak"),
        )
        .drop("__grp")
    )


_SEGMENTS_ORACLE = f"""
{_head_cte('doc_id % 3 = 1', WAV_SAMPLES)},
frames AS (
  SELECT doc_id, CAST(f.f AS INT) AS frame_idx,
         list_transform(range(1, {FRAME_LEN} + 1), i ->
           (coalesce(head[CAST(f.f * {FRAME_LEN} + i AS INT)], 128) - 128) * 256)
           AS frame
  FROM b, LATERAL (SELECT unnest(range(0, {WAV_SAMPLES // FRAME_LEN}))
                   AS f) f
),
scored AS (
  SELECT doc_id, frame_idx,
         CAST(list_aggregate(list_transform(frame, s -> abs(s)), 'max') AS INT)
           AS peak,
         sqrt(CAST(list_sum(list_transform(frame, s -> s * s))
                   AS DOUBLE) / {FRAME_LEN}) AS rms
  FROM frames
),
voiced AS (
  SELECT doc_id, frame_idx, peak,
         frame_idx - row_number() OVER (PARTITION BY doc_id
                                        ORDER BY frame_idx) AS grp
  FROM scored WHERE rms >= {SILENCE_RMS}
)
SELECT CAST(doc_id AS BIGINT) AS asset_id,
       CAST(min(frame_idx) AS INT) AS seg_start,
       CAST(max(frame_idx) AS INT) AS seg_end,
       CAST(count(*) AS INT) AS n_frames,
       max(peak) AS max_peak
FROM voiced GROUP BY doc_id, grp
ORDER BY asset_id, seg_start
"""


@register("mm_speech_segments", oracle=_SEGMENTS_ORACLE)
def q_speech_segments(spark, sf_dir):
    """Non-silent frame islands per audio asset (the VAD segment
    extraction step); oracle replays decode -> frame RMS -> islands."""
    return speech_segments(_audio_docs(spark, sf_dir)).orderBy(
        "asset_id", "seg_start"
    )


# -------------------------------------------- perceptual near-dup (dHash)

DHASH_ROW_BITS = IMG_W - 1          # 7 adjacent comparisons per row
DHASH_BITS = IMG_H * DHASH_ROW_BITS  # 56 — fits a signed BIGINT
DHASH_BANDS = 4
DHASH_BAND_BITS = 14                # 4 x 14-bit bands; 16k values/band
DHASH_MAX_HAMMING = 2

DHASH_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("dhash", LongType()),
    ]
)


def bmp_dhash_signatures(docs: DataFrame) -> DataFrame:
    """Real decode -> 56-bit row-wise difference hash (bit k set iff
    pixel (r,c) > pixel (r,c+1), k = r*7+c): the mean-free perceptual
    signature, so a single edited pixel flips at most its two adjacent
    comparison bits — unlike the exact thumbnail md5
    (:func:`bmp_thumb_signatures`), which any one-pixel edit escapes
    entirely. Arrow-batched ``mapInPandas``; shuffle carries 8-byte
    signatures, never pixels."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                gray = bytes(payload)[:_N_PIX].ljust(_N_PIX, b"\x00")
                _, _, px = decode_bmp_gray(encode_bmp_gray(gray, IMG_W, IMG_H))
                dh = 0
                for r in range(IMG_H):
                    for c in range(DHASH_ROW_BITS):
                        if px[r * IMG_W + c] > px[r * IMG_W + c + 1]:
                            dh |= 1 << (r * DHASH_ROW_BITS + c)
                rows.append((aid, dh))
            yield pd.DataFrame(rows, columns=[f.name for f in DHASH_SCHEMA.fields])

    return docs.mapInPandas(batches, DHASH_SCHEMA)


def dhash_bands(sigs: DataFrame, n_bands: int, band_bits: int) -> DataFrame:
    """Explode ``(asset_id, dhash)`` into ``(asset_id, dhash, band,
    val)`` band rows — the LSH index layout shared by the batch join
    (:func:`banded_hamming_pairs`) and the streaming ingest probe."""
    mask = (1 << band_bits) - 1
    return sigs.select(
        "asset_id",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"shiftright(dhash, {band_bits * b}) & {mask}"
                        ).alias("val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(
        "asset_id",
        "dhash",
        F.col("bv.band").alias("band"),
        F.col("bv.val").alias("val"),
    )


def banded_hamming_pairs(
    sigs: DataFrame,
    n_bands: int,
    band_bits: int,
    max_hamming: int,
) -> DataFrame:
    """Banded-signature near-dup join over integer signatures: split
    the signature into ``n_bands`` x ``band_bits`` bands, equi-join
    assets sharing any band value, verify candidates with one
    ``bit_count(a ^ b)``. With ``max_hamming < n_bands`` at least one
    band survives every qualifying flip set, so the LSH is EXACT (every
    true pair is a candidate), not probabilistic. Never all-pairs:
    candidates are bounded by band-bucket occupancy (2^band_bits values
    per band; widen bands to hold occupancy O(1) as the corpus grows)."""
    bands = dhash_bands(sigs, n_bands, band_bits)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("asset_a"),
            F.col("b.asset_id").alias("asset_b"),
            F.col("a.dhash").alias("dh_a"),
            F.col("b.dhash").alias("dh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.expr("bit_count(dh_a ^ dh_b)").cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("asset_a", "asset_b", "hamming")
    )


def image_near_dup_pairs(
    sigs: DataFrame, max_hamming: int = DHASH_MAX_HAMMING
) -> DataFrame:
    """Image instance of :func:`banded_hamming_pairs`: 56-bit dHash as
    4 x 14-bit bands (Hamming <= 2 keeps >= 2 bands intact)."""
    return banded_hamming_pairs(
        sigs, DHASH_BANDS, DHASH_BAND_BITS, max_hamming
    )


_DHASH_LIST = (
    "CAST(list_sum(list_transform(range(0, 56), k -> "
    "CASE WHEN coalesce(head[CAST((k // 7) * 8 + (k % 7) + 1 AS INT)], 0) "
    "        > coalesce(head[CAST((k // 7) * 8 + (k % 7) + 2 AS INT)], 0) "
    "THEN 1::BIGINT << k ELSE 0 END)) AS BIGINT)"
)

_IMAGE_NEAR_DUP_ORACLE = f"""
{_head_cte('doc_id % 3 = 0', _N_PIX)},
allb AS (
  SELECT doc_id, head FROM b
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, list_concat([126], head[2:]) AS head
  FROM b WHERE doc_id < 60
),
dh AS (SELECT doc_id AS asset_id, {_DHASH_LIST} AS dhash FROM allb),
bands AS (
  SELECT asset_id, dhash, g.b AS band,
         (dhash >> CAST(14 * g.b AS INT)) & 16383 AS val
  FROM dh, (SELECT unnest(range(4)) AS b) g
),
cand AS (
  SELECT DISTINCT a.asset_id AS asset_a, c.asset_id AS asset_b,
         a.dhash AS dh_a, c.dhash AS dh_b
  FROM bands a JOIN bands c
    ON a.band = c.band AND a.val = c.val AND a.asset_id < c.asset_id
)
SELECT CAST(asset_a AS BIGINT) AS asset_a,
       CAST(asset_b AS BIGINT) AS asset_b,
       CAST(bit_count(xor(dh_a, dh_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(dh_a, dh_b)) <= 2
ORDER BY 1, 2
"""


@register("mm_image_near_dup", oracle=_IMAGE_NEAR_DUP_ORACLE, bench=True)
def q_image_near_dup(spark, sf_dir):
    """Perceptual image near-dup over the image assets plus injected
    one-pixel edits (asset_id + 500000, first payload byte replaced by
    0x7E): every injected edit lands within Hamming 1 of its original
    through the banded join, which exact thumbnail dedup
    (mm_image_dedup) cannot see. Organic sub-threshold pairs surface
    too — deterministically on both engines."""
    base = _image_docs(spark, sf_dir)
    copies = base.filter(F.col("asset_id") < 60).select(
        (F.col("asset_id") + 500000).alias("asset_id"),
        F.concat(
            F.lit(bytes([126])), F.expr("substring(payload, 2)")
        ).alias("payload"),
    )
    sigs = bmp_dhash_signatures(base.unionByName(copies))
    return image_near_dup_pairs(sigs).orderBy("asset_a", "asset_b")


# -------------------------------------------- audio near-dup (sample dHash)

WAV_DHASH_BITS = WAV_SAMPLES - 1  # 63 adjacent-sample comparisons
WAV_DHASH_BANDS = 3
WAV_DHASH_BAND_BITS = 21          # 3 x 21-bit bands; Hamming<=2 exact


def wav_dhash_signatures(docs: DataFrame) -> DataFrame:
    """Acoustic difference hash through the REAL WAV codec: encode the
    fixture samples as 16-bit PCM, decode them back, set bit k iff
    sample k > sample k+1 (63 bits over the 64-sample clip). Like the
    image dHash this is level-free — re-gained (amplitude-scaled) or
    lightly edited audio keeps most comparison bits, which an exact
    checksum loses entirely."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload)[:WAV_SAMPLES].ljust(WAV_SAMPLES, b"\x80")
                samples = [(b - 128) * 256 for b in raw]
                dec = decode_wav_samples(encode_wav_pcm16(samples, WAV_RATE))
                dh = 0
                for k in range(WAV_DHASH_BITS):
                    if dec[k] > dec[k + 1]:
                        dh |= 1 << k
                rows.append((aid, dh))
            yield pd.DataFrame(rows, columns=[f.name for f in DHASH_SCHEMA.fields])

    return docs.mapInPandas(batches, DHASH_SCHEMA)


# (b-128)*256 is strictly monotone in the byte value, so sample_k >
# sample_{k+1} iff byte_k > byte_{k+1} — the oracle replays the
# comparisons on head bytes directly (padding byte = 0x80 -> sample 0).
_WAV_DHASH_LIST = (
    "CAST(list_sum(list_transform(range(0, 63), k -> "
    "CASE WHEN coalesce(head[CAST(k + 1 AS INT)], 128) "
    "        > coalesce(head[CAST(k + 2 AS INT)], 128) "
    "THEN 1::BIGINT << k ELSE 0 END)) AS BIGINT)"
)

_AUDIO_NEAR_DUP_ORACLE = f"""
{_head_cte('doc_id % 3 = 1', WAV_SAMPLES)},
allb AS (
  SELECT doc_id, head FROM b
  UNION ALL
  SELECT doc_id + 600000 AS doc_id, list_concat([126], head[2:]) AS head
  FROM b WHERE doc_id < 60
),
dh AS (SELECT doc_id AS asset_id, {_WAV_DHASH_LIST} AS dhash FROM allb),
bands AS (
  SELECT asset_id, dhash, g.b AS band,
         (dhash >> CAST(21 * g.b AS INT)) & 2097151 AS val
  FROM dh, (SELECT unnest(range(3)) AS b) g
),
cand AS (
  SELECT DISTINCT a.asset_id AS asset_a, c.asset_id AS asset_b,
         a.dhash AS dh_a, c.dhash AS dh_b
  FROM bands a JOIN bands c
    ON a.band = c.band AND a.val = c.val AND a.asset_id < c.asset_id
)
SELECT CAST(asset_a AS BIGINT) AS asset_a,
       CAST(asset_b AS BIGINT) AS asset_b,
       CAST(bit_count(xor(dh_a, dh_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(dh_a, dh_b)) <= 2
ORDER BY 1, 2
"""


@register("mm_audio_near_dup", oracle=_AUDIO_NEAR_DUP_ORACLE, bench=True)
def q_audio_near_dup(spark, sf_dir):
    """Acoustic near-dup over the audio assets plus injected one-sample
    edits (asset_id + 600000, first byte -> 0x7E): each edit flips at
    most one comparison bit, so the 3 x 21-bit banded join must pair it
    with its original — the audio leg of the perceptual-dedup family."""
    base = _audio_docs(spark, sf_dir)
    copies = base.filter(F.col("asset_id") < 60).select(
        (F.col("asset_id") + 600000).alias("asset_id"),
        F.concat(
            F.lit(bytes([126])), F.expr("substring(payload, 2)")
        ).alias("payload"),
    )
    sigs = wav_dhash_signatures(base.unionByName(copies))
    return banded_hamming_pairs(
        sigs, WAV_DHASH_BANDS, WAV_DHASH_BAND_BITS, DHASH_MAX_HAMMING
    ).orderBy("asset_a", "asset_b")


# -------------------------------- streaming perceptual dedup at ingest

_NEAR_DUP_STREAM_ORACLE = f"""
{_head_cte('doc_id % 3 = 0', _N_PIX)},
allb AS (
  SELECT doc_id, head FROM b
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, list_concat([126], head[2:]) AS head
  FROM b WHERE doc_id < 60
),
dh AS (SELECT doc_id AS asset_id, {_DHASH_LIST} AS dhash FROM allb),
bands AS (
  SELECT asset_id, dhash, g.b AS band,
         (dhash >> CAST(14 * g.b AS INT)) & 16383 AS val
  FROM dh, (SELECT unnest(range(4)) AS b) g
),
cand AS (
  SELECT DISTINCT a.asset_id AS asset_a, c.asset_id AS asset_b,
         a.dhash AS dh_a, c.dhash AS dh_b
  FROM bands a JOIN bands c
    ON a.band = c.band AND a.val = c.val AND a.asset_id < c.asset_id
),
hits AS (
  SELECT asset_b AS asset_id, min(asset_a) AS match_id
  FROM cand WHERE bit_count(xor(dh_a, dh_b)) <= 2
  GROUP BY 1
)
SELECT CAST(h.asset_id AS BIGINT) AS asset_id,
       CAST(h.match_id AS BIGINT) AS match_id,
       CAST(bit_count(xor(d1.dhash, d2.dhash)) AS INT) AS hamming
FROM hits h
JOIN dh d1 ON d1.asset_id = h.asset_id
JOIN dh d2 ON d2.asset_id = h.match_id
ORDER BY 1
"""


_NEAR_DUP_IDX_SCHEMA = "asset_id long, dhash long, band int, val long, batch_id long"
_NEAR_DUP_OUT_SCHEMA = "asset_id long, match_id long, hamming int, batch_id long"


def near_dup_ingest_sink(spark, idx_dir: str, out_dir: str):
    """Build the perceptual-ingest foreachBatch sink: initializes the
    (empty, partitioned) band-index and detections dirs and returns the
    per-batch function. Shared by the registered 4-batch run and the
    checkpoint-restart test.

    Initialization only runs when a dir doesn't exist yet: a real
    restart (new process, existing checkpoint + data dirs) must be able
    to re-invoke the factory without an errorifexists throw — and must
    NOT overwrite, which would wipe the accumulated band index."""
    import os as _os

    if not _os.path.isdir(idx_dir):
        spark.createDataFrame([], _NEAR_DUP_IDX_SCHEMA).write.partitionBy(
            "batch_id"
        ).parquet(idx_dir)
    if not _os.path.isdir(out_dir):
        spark.createDataFrame([], _NEAR_DUP_OUT_SCHEMA).write.partitionBy(
            "batch_id"
        ).parquet(out_dir)

    def sink(batch_df, batch_id):
        # exactly-once: both sinks write into their own batch_id=N
        # partition via dynamic overwrite (the
        # foreach_batch_append_idempotent pattern), so a crash-retried
        # batch replaces its own output instead of double-appending
        # duplicate detections/index rows
        ss = batch_df.sparkSession
        sigs = bmp_dhash_signatures(batch_df).localCheckpoint(eager=True)
        bands = dhash_bands(sigs, DHASH_BANDS, DHASH_BAND_BITS)
        # explicit schema: before the first batch the partitioned dir
        # holds no files, so inference would fail. The probe EXCLUDES
        # this batch's own partition (a crash-retried batch would
        # otherwise see its own half-written bands) and keeps only
        # strictly-earlier assets (ingest order is ascending ids), so a
        # retry can never self-pair or double-report.
        index = (
            ss.read.schema(_NEAR_DUP_IDX_SCHEMA)
            .parquet(idx_dir)
            .filter(F.col("batch_id") != batch_id)
        )
        cross = (
            bands.alias("n")
            .join(
                index.alias("o"),
                (F.col("n.band") == F.col("o.band"))
                & (F.col("n.val") == F.col("o.val"))
                & (F.col("o.asset_id") < F.col("n.asset_id")),
            )
            .select(
                F.col("o.asset_id").alias("asset_a"),
                F.col("n.asset_id").alias("asset_b"),
                F.col("o.dhash").alias("dh_a"),
                F.col("n.dhash").alias("dh_b"),
            )
            .distinct()
        )
        within = (
            bands.alias("a")
            .join(
                bands.alias("c"),
                (F.col("a.band") == F.col("c.band"))
                & (F.col("a.val") == F.col("c.val"))
                & (F.col("a.asset_id") < F.col("c.asset_id")),
            )
            .select(
                F.col("a.asset_id").alias("asset_a"),
                F.col("c.asset_id").alias("asset_b"),
                F.col("a.dhash").alias("dh_a"),
                F.col("c.dhash").alias("dh_b"),
            )
            .distinct()
        )
        pairs = (
            cross.unionByName(within)
            .withColumn("hamming", F.expr("bit_count(dh_a ^ dh_b)").cast("int"))
            .filter(F.col("hamming") <= DHASH_MAX_HAMMING)
        )
        hits = pairs.groupBy(F.col("asset_b").alias("asset_id")).agg(
            F.min("asset_a").alias("match_id")
        )
        det = (
            hits.join(sigs.alias("s1"), hits.asset_id == F.col("s1.asset_id"))
            .join(
                sigs.unionByName(
                    ss.read.schema(_NEAR_DUP_IDX_SCHEMA).parquet(idx_dir)
                    .filter(F.col("batch_id") != batch_id)
                    .select("asset_id", "dhash")
                    .distinct()
                ).alias("s2"),
                hits.match_id == F.col("s2.asset_id"),
            )
            .select(
                hits.asset_id,
                hits.match_id,
                F.expr("bit_count(s1.dhash ^ s2.dhash)").cast("int").alias(
                    "hamming"
                ),
            )
            .localCheckpoint(eager=True)
        )
        prev = ss.conf.get("spark.sql.sources.partitionOverwriteMode")
        ss.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            det.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).partitionBy("batch_id").parquet(out_dir)
            bands.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).partitionBy("batch_id").parquet(idx_dir)
        finally:
            ss.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return sink


@register("s11_image_near_dup_stream", oracle=_NEAR_DUP_STREAM_ORACLE)
def q_image_near_dup_stream(spark, sf_dir):
    """Perceptual dedup AT INGEST as a REAL 4-micro-batch foreachBatch
    loop: each batch real-decodes its images to dHashes, probes the
    band index accumulated by all previous batches (plus its own
    in-batch pairs), emits one detection per near-duplicate new asset
    (its min earlier match), and appends its own bands. Because the
    band arithmetic is exact for Hamming <= 2, batching is invisible:
    the streamed detections must equal the whole-corpus batch pairs —
    which is what the oracle computes. The index stores 8-byte
    signatures; pixels never leave their ingest batch."""
    import shutil
    import tempfile
    import uuid

    from machine_learning_with_spark_streaming_spark.streaming.examples import (
        stage_ordered_files,
    )

    base = _image_docs(spark, sf_dir)
    copies = base.filter(F.col("asset_id") < 60).select(
        (F.col("asset_id") + 500000).alias("asset_id"),
        F.concat(
            F.lit(bytes([126])), F.expr("substring(payload, 2)")
        ).alias("payload"),
    )
    mid = base.agg((F.max("asset_id") / 2).cast("long")).first()[0] or 0
    parts = [
        base.filter(F.col("asset_id") <= mid),
        base.filter(F.col("asset_id") > mid),
        copies.filter(F.col("asset_id") <= 500000 + 30),
        copies.filter(F.col("asset_id") > 500000 + 30),
    ]
    work = tempfile.mkdtemp(prefix="mlwss_neardupstream_")
    stage = f"{work}/stage"
    stage_ordered_files(parts, stage)
    idx_dir, out_dir = f"{work}/band_index", f"{work}/detections"
    sink = near_dup_ingest_sink(spark, idx_dir, out_dir)
    stream = (
        spark.readStream.schema("asset_id bigint, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{work}/ckpt_{uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
    )
    start_and_await(q, spark)
    det = (
        spark.read.schema(
            "asset_id long, match_id long, hamming int, batch_id long"
        )
        .parquet(out_dir)
        .select("asset_id", "match_id", "hamming")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return det.orderBy("asset_id")
