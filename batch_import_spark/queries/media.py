"""Media queries over synthesized fixtures: Arrow feature
extraction and the real PNG/JPEG/WAV decoders, with closed-form
formula oracles."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from batch_import_spark.functions.multimodal import (
    decode_audio_stats,
    decode_image_stats,
    extract_features,
    synthesize_jpeg_media,
    synthesize_media,
    synthesize_png_media,
    synthesize_wav_media,
)
from batch_import_spark.queries.common import query


def _multimodal_features(spark, sf):
    feats = extract_features(synthesize_media(spark, n=48))
    # project the array<float> feature to a scalar signature: the
    # correctness check canonicalizes rows by sorting every column, and raw
    # arrays are unhashable there (r01 crash); the rounded concat is
    # deterministic and just as discriminative for a rows-only check
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "sha256",
        F.concat_ws(
            ",", F.transform(F.col("feature"), lambda x: F.format_string("%.3f", x))
        ).alias("feature_sig"),
    )


def _multimodal_oracle_sql() -> str:
    """Closed-form oracle for the deterministic media fixture.

    ``synthesize_media(seed=5, n=48)`` is fully specified: payload_i =
    sha256(b"5:i") digest repeated and truncated to 64+i bytes. The
    payload hex and its sha256 are inlined as VALUES (DuckDB 1.0's
    ``sha256()`` only accepts VARCHAR, so it cannot hash arbitrary
    bytes itself); DuckDB independently recomputes ``n_bytes`` and the
    16 strided byte-means of the stub decode (mean over positions
    k ≡ j mod 16 with zero padding to a multiple of 16 — exactly
    ``decode_media``'s reshape(-1,16).mean(axis=0)). %.3f formatting
    of the float32 mean vs DuckDB's exact double agrees for every
    fixture value (denominators 4..7 never land on a .0005 boundary).
    """
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(48):
        h = hashlib.sha256(f"5:{i}".encode()).digest()
        payload = bytes(h * ((64 + i) // len(h) + 1))[: 64 + i]
        rows.append(
            f"({i}, '{kinds[i % 3]}', '{payload.hex()}', "
            f"'{hashlib.sha256(payload).hexdigest()}')"
        )
    values = ",\n  ".join(rows)
    return f"""
WITH src(media_id, kind, hx, sha256) AS (VALUES
  {values}
),
b AS (
  SELECT media_id, kind, hx, sha256,
         CAST(length(hx) / 2 AS INT) AS n_bytes,
         CAST(ceil(length(hx) / 2.0 / 16) AS INT) AS denom
  FROM src
)
SELECT CAST(media_id AS BIGINT) AS media_id, kind, n_bytes, sha256,
  array_to_string(
    [printf('%.3f',
       list_sum([CASE WHEN k % 16 = j
                      THEN CAST(('0x' || substr(hx, 2 * k + 1, 2)) AS INT)
                      ELSE 0 END
                 FOR k IN generate_series(0, n_bytes - 1)])
       / CAST(denom AS DOUBLE))
     FOR j IN generate_series(0, 15)], ',') AS feature_sig
FROM b
"""
query("multimodal_features", _multimodal_features, _multimodal_oracle_sql())


def _media_decode_png(spark, sf):
    """REAL PNG decode (functions/codecs.py — stdlib zlib inflate +
    per-row unfilter, all five filter types exercised by the encoder):
    the fixture pixels follow (x·7+y·3+c·11+id) mod 256, so the DuckDB
    oracle recomputes the decoded channel sums closed-form with no
    codec at all. Exact integer equality = the decoder is right."""
    return decode_image_stats(synthesize_png_media(spark, n=24))


_MEDIA_PNG_SQL = """
WITH ids AS (
  SELECT i AS media_id, CAST(8 + i % 5 AS BIGINT) AS h,
         CAST(10 + i % 7 AS BIGINT) AS w
  FROM range(24) t(i)
),
ys AS (SELECT media_id, h, w, UNNEST(generate_series(0, h - 1)) AS y FROM ids),
xs AS (SELECT media_id, h, w, y, UNNEST(generate_series(0, w - 1)) AS x FROM ys)
SELECT media_id, CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
       CAST(SUM((x * 7 + y * 3 + media_id) % 256) AS BIGINT) AS r_sum,
       CAST(SUM((x * 7 + y * 3 + 11 + media_id) % 256) AS BIGINT) AS g_sum,
       CAST(SUM((x * 7 + y * 3 + 22 + media_id) % 256) AS BIGINT) AS b_sum
FROM xs GROUP BY media_id
"""
query("media_decode_png", _media_decode_png, _MEDIA_PNG_SQL)


def _media_decode_jpeg(spark, sf):
    """REAL baseline JPEG decode (functions/codecs_jpeg.py — from-
    scratch segment parse, canonical Huffman, dequant, 8×8 IDCT,
    4:2:0 chroma upsampling, YCbCr→RGB). The fixtures are constant-
    block R=G=B images under all-ones quant tables — the bit-exact
    round-trip regime — so the DuckDB oracle recomputes the decoded
    channel sums closed-form from the block formula with no codec.
    Exact integer equality = the decoder is right (alternating 4:4:4
    and 4:2:0 fixtures exercise both MCU layouts)."""
    return decode_image_stats(synthesize_jpeg_media(spark, n=24))


_MEDIA_JPEG_SQL = """
WITH ids AS (
  SELECT i AS media_id, CAST(2 + i % 3 AS BIGINT) AS nby,
         CAST(3 + i % 2 AS BIGINT) AS nbx
  FROM range(24) t(i)
),
bys AS (SELECT media_id, nby, nbx, UNNEST(generate_series(0, nby - 1)) AS by FROM ids),
bxs AS (SELECT media_id, nby, nbx, by, UNNEST(generate_series(0, nbx - 1)) AS bx FROM bys)
SELECT media_id, CAST(MAX(nbx) * 8 AS INT) AS width, CAST(MAX(nby) * 8 AS INT) AS height,
       CAST(SUM(64 * ((bx * 7 + by * 3 + media_id * 5) % 256)) AS BIGINT) AS r_sum,
       CAST(SUM(64 * ((bx * 7 + by * 3 + media_id * 5) % 256)) AS BIGINT) AS g_sum,
       CAST(SUM(64 * ((bx * 7 + by * 3 + media_id * 5) % 256)) AS BIGINT) AS b_sum
FROM bxs GROUP BY media_id
"""
query("media_decode_jpeg", _media_decode_jpeg, _MEDIA_JPEG_SQL)


def _media_decode_wav(spark, sf):
    """REAL WAV PCM16 decode (stdlib wave): fixture sample_j =
    ((j·37 + id·101) mod 65536) − 32768; the oracle recomputes the
    exact integer sample statistics from the formula."""
    return decode_audio_stats(synthesize_wav_media(spark, n=24))


_MEDIA_WAV_SQL = """
WITH ids AS (
  SELECT i AS media_id, CAST(400 + 10 * i AS BIGINT) AS n FROM range(24) t(i)
),
js AS (SELECT media_id, n, UNNEST(generate_series(0, n - 1)) AS j FROM ids),
s AS (SELECT media_id, n, (j * 37 + media_id * 101) % 65536 - 32768 AS v FROM js)
SELECT media_id, CAST(MAX(n) AS BIGINT) AS n_samples,
       CAST(8000 + media_id AS INT) AS sample_rate,
       CAST(SUM(v) AS BIGINT) AS sum_samples,
       CAST(MIN(v) AS INT) AS min_sample,
       CAST(MAX(v) AS INT) AS max_sample
FROM s GROUP BY media_id
"""
query("media_decode_wav", _media_decode_wav, _MEDIA_WAV_SQL)
