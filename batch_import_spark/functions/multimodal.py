"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns with a typed metadata
struct; decode and feature extraction run as Arrow-batched kernels
over ``mapInPandas``. PNG (8-bit), WAV (PCM16) and baseline JPEG
decode is REAL — implemented from scratch on
stdlib zlib/wave/numpy (functions/codecs.py, codecs_jpeg.py),
magic-byte sniffed, with integer pixel/sample statistics exact
enough for closed-form cross-engine verification (JPEG via
constant-block fixtures, which round-trip bit-exactly under all-ones
quant tables). Formats that genuinely need external codec libraries
(MP4/H.264, progressive JPEG, ...) keep the documented stub:
``decode_media`` produces a deterministic fake so the Spark-side
contract (schema, batching, partition sizing) stays exercised.

Scale notes: binary payloads dominate partition size — callers should
size ``spark.sql.files.maxPartitionBytes`` down (payload-aware) and
keep ``spark.sql.execution.arrow.maxRecordsPerBatch`` small so a batch
of decoded frames fits executor memory.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from batch_import_spark.session import local_frame

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = "media_id long, kind string, n_bytes int, sha256 string, feature array<float>"

_FEATURE_DIM = 16


def synthesize_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table (fixture generator)."""
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        h = hashlib.sha256(f"5:{i}".encode()).digest()
        kind = kinds[i % 3]
        rows.append(
            (
                i,
                kind,
                bytes(h * ((64 + i) // len(h) + 1))[: 64 + i],
                ("application/octet-stream", 32 + i % 64, 32 + (i * 7) % 64, 1000 + i),
            )
        )
    return local_frame(spark, rows, MEDIA_SCHEMA)


def decode_media(payload: bytes) -> np.ndarray:
    """Decode a media payload to a (N, channels) float array.

    REAL decode for PNG (stdlib zlib inflate + unfilter), WAV PCM16
    (stdlib wave) and baseline JPEG (from-scratch Huffman + dequant +
    IDCT, functions/codecs_jpeg.py) — sniffed by magic bytes, no
    PIL/ffmpeg needed. Remaining formats (MP4/H.264, progressive
    JPEG, ...) need external codecs: a deterministic fake derived from
    the payload bytes keeps downstream shape/typing exercised.
    """
    import wave

    from batch_import_spark.functions.codecs import png_decode, wav_decode
    from batch_import_spark.functions.codecs_jpeg import jpeg_decode

    if payload[:2] == b"\xff\xd8":
        try:
            px = jpeg_decode(payload)
            return px.reshape(-1, px.shape[2]).astype(np.float32)
        except (ValueError, IndexError, KeyError, struct.error):
            # ValueError = progressive/arithmetic/...; the rest =
            # truncated/corrupt payloads with a valid magic, where the
            # byte indexing and Huffman table lookups fail mid-stream —
            # both must reach the documented stub path, not crash the
            # Arrow task (ADVICE r04)
            pass
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        try:
            px = png_decode(payload)
            return px.reshape(-1, px.shape[2]).astype(np.float32)
        except (ValueError, IndexError, KeyError, struct.error):
            # in-format but unsupported payload (interlaced / paletted /
            # 16-bit PNG) falls through to the fake path,
            # same as formats with no native codec
            pass
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        try:
            arr, _rate = wav_decode(payload)
            return (arr.astype(np.float32) / 32768.0).reshape(-1, arr.shape[1])
        except (ValueError, EOFError, wave.Error):
            pass  # non-PCM16 / truncated WAV → stub path
    if not payload:
        return np.zeros(_FEATURE_DIM, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
    pad = (-len(arr)) % _FEATURE_DIM
    if pad:
        arr = np.pad(arr, (0, pad))
    return arr.reshape(-1, _FEATURE_DIM)


def extract_features(media: DataFrame) -> DataFrame:
    """media table → per-item feature vector (Arrow-batched kernel)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, shas, sizes = [], [], []
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                shas.append(hashlib.sha256(b).hexdigest())
                sizes.append(len(b))
                decoded = decode_media(b)
                feats.append(decoded.mean(axis=0).astype(np.float32).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": sizes,
                    "sha256": shas,
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


# --- real codecs (see functions/codecs.py, codecs_jpeg.py) ----------------
#
# PNG (8-bit gray/RGB/RGBA), WAV (PCM16) and baseline JPEG (gray /
# 4:4:4 / 4:2:0) decode for real here; MP4/H.264 keeps the stub path
# above (a video codec genuinely needs ffmpeg-class libraries).

PNG_MEDIA_SCHEMA = "media_id long, payload binary"


def synthesize_png_media(spark, n: int = 24) -> DataFrame:
    """Real PNG fixtures: item i is an (8+i%5) × (10+i%7) RGB image
    with pixel value (x·7 + y·3 + c·11 + i) mod 256 — integer formula,
    so any engine can recompute decoded statistics closed-form."""
    from batch_import_spark.functions.codecs import png_encode

    rows = []
    for i in range(n):
        h, w = 8 + i % 5, 10 + i % 7
        y, x, c = np.meshgrid(
            np.arange(h), np.arange(w), np.arange(3), indexing="ij"
        )
        px = ((x * 7 + y * 3 + c * 11 + i) % 256).astype(np.uint8)
        rows.append((i, bytearray(png_encode(px))))
    return local_frame(spark, rows, PNG_MEDIA_SCHEMA)


def synthesize_wav_media(spark, n: int = 24) -> DataFrame:
    """Real PCM16 WAV fixtures: item i has 400+10·i mono samples with
    sample_j = ((j·37 + i·101) mod 65536) − 32768 at 8000+i Hz."""
    from batch_import_spark.functions.codecs import wav_encode

    rows = []
    for i in range(n):
        j = np.arange(400 + 10 * i)
        s = ((j * 37 + i * 101) % 65536 - 32768).astype(np.int16)
        rows.append((i, bytearray(wav_encode(s, 8000 + i))))
    return local_frame(spark, rows, PNG_MEDIA_SCHEMA)


def synthesize_jpeg_media(spark, n: int = 24) -> DataFrame:
    """Real baseline JPEG fixtures: item i is a grid of (2+i%3) ×
    (3+i%2) constant 8×8 blocks, block (by,bx) holding R=G=B value
    (bx·7 + by·3 + i·5) mod 256, encoded 4:4:4 for even i and 4:2:0
    for odd i with all-ones quant tables — the exact-round-trip
    regime (codecs_jpeg.py docstring), so decoded channel sums are
    closed-form: sum over blocks of 64·v."""
    from batch_import_spark.functions.codecs_jpeg import jpeg_encode

    rows = []
    for i in range(n):
        by, bx = 2 + i % 3, 3 + i % 2
        blocks = (
            np.arange(bx)[None, :] * 7 + np.arange(by)[:, None] * 3 + i * 5
        ) % 256
        px = np.repeat(np.repeat(blocks.astype(np.uint8), 8, 0), 8, 1)
        px3 = np.stack([px, px, px], axis=-1)
        rows.append(
            (i, bytearray(jpeg_encode(px3, "444" if i % 2 == 0 else "420")))
        )
    return local_frame(spark, rows, PNG_MEDIA_SCHEMA)


IMAGE_STATS_SCHEMA = (
    "media_id long, width int, height int, r_sum long, g_sum long, b_sum long"
)


def _decode_any_image(b: bytes) -> np.ndarray:
    """Magic-sniffing dispatch to the native PNG/JPEG decoders."""
    from batch_import_spark.functions.codecs import png_decode
    from batch_import_spark.functions.codecs_jpeg import jpeg_decode

    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return png_decode(b)
    if b[:2] == b"\xff\xd8":
        return jpeg_decode(b)
    raise ValueError("not a PNG or JPEG payload")


def decode_image_stats(media: DataFrame) -> DataFrame:
    """REAL image decode (Arrow-batched): parse the actual bytes (PNG:
    inflate + unfilter; JPEG: Huffman + dequant + IDCT), emit
    per-channel integer pixel sums — exact, so the driver oracle can
    verify the decode against the generative formula without any
    codec."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "width", "height", "r_sum", "g_sum", "b_sum")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = _decode_any_image(bytes(payload)).astype(np.int64)
                h, w, _ = px.shape
                sums = px.reshape(-1, px.shape[2]).sum(axis=0)
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["r_sum"].append(int(sums[0]))
                out["g_sum"].append(int(sums[1] if len(sums) > 1 else sums[0]))
                out["b_sum"].append(int(sums[2] if len(sums) > 2 else sums[0]))
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=IMAGE_STATS_SCHEMA)


AUDIO_STATS_SCHEMA = (
    "media_id long, n_samples long, sample_rate int, "
    "sum_samples long, min_sample int, max_sample int"
)


def decode_audio_stats(media: DataFrame) -> DataFrame:
    """REAL WAV PCM16 decode (Arrow-batched): exact integer sample
    statistics for closed-form verification."""
    from batch_import_spark.functions.codecs import wav_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                k: []
                for k in (
                    "media_id", "n_samples", "sample_rate",
                    "sum_samples", "min_sample", "max_sample",
                )
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                arr, rate = wav_decode(bytes(payload))
                out["media_id"].append(mid)
                out["n_samples"].append(arr.shape[0])
                out["sample_rate"].append(rate)
                out["sum_samples"].append(int(arr.astype(np.int64).sum()))
                out["min_sample"].append(int(arr.min()))
                out["max_sample"].append(int(arr.max()))
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=AUDIO_STATS_SCHEMA)
