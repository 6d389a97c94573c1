"""From-scratch baseline JPEG codec (functions/codecs_jpeg.py).

Exactness strategy: constant-8×8-block images under all-ones quant
tables round-trip bit-exactly (single integral DC coefficient per
block), giving closed-form oracles; arbitrary images are covered by
tight tolerance round trips (the AC / chroma-subsampling paths).
"""

import numpy as np
import pytest

from batch_import_spark.functions.codecs_jpeg import jpeg_decode, jpeg_encode


def _block_image(nby: int, nbx: int, seed: int) -> np.ndarray:
    blocks = (
        np.arange(nbx)[None, :] * 7 + np.arange(nby)[:, None] * 3 + seed * 5
    ) % 256
    return np.repeat(np.repeat(blocks.astype(np.uint8), 8, 0), 8, 1)


def test_gray_constant_blocks_exact():
    px = _block_image(3, 4, 1)
    dec = jpeg_decode(jpeg_encode(px))
    assert dec.shape == (24, 32, 1)
    assert np.array_equal(dec[:, :, 0], px)


@pytest.mark.parametrize("sub", ["444", "420"])
def test_color_constant_blocks_exact(sub):
    """R=G=B constant blocks are exact through the full color path:
    Y=v and Cb=Cr=128 exactly, for both MCU layouts."""
    px = _block_image(2, 3, 9)
    px3 = np.stack([px, px, px], axis=-1)
    dec = jpeg_decode(jpeg_encode(px3, sub))
    assert dec.shape == (16, 24, 3)
    assert np.array_equal(dec, px3)


def test_random_gray_near_lossless():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (19, 26), dtype=np.uint8)  # non-8-multiple
    dec = jpeg_decode(jpeg_encode(px))[:, :, 0]
    assert dec.shape == px.shape  # MCU padding cropped
    assert np.abs(dec.astype(int) - px.astype(int)).max() <= 2


def test_random_color_444_tolerance():
    rng = np.random.default_rng(4)
    px = rng.integers(0, 256, (17, 21, 3), dtype=np.uint8)
    dec = jpeg_decode(jpeg_encode(px, "444"))
    # YCbCr round trip + IDCT rounding: a few counts of error max
    assert np.abs(dec.astype(int) - px.astype(int)).max() <= 6


def test_decoder_dequantizes_by_the_dqt_table():
    # the encoder writes all-ones tables; a table of 2s in the file
    # doubles every coefficient, so a constant block v decodes to
    # 128 + 2 * (v - 128)
    px = np.full((8, 16), 120, np.uint8)
    px[:, 8:] = 140
    data = bytearray(jpeg_encode(px))
    i = data.find(b"\xff\xdb") + 5  # marker, length, Pq/Tq
    data[i : i + 64] = bytes([2] * 64)
    dec = jpeg_decode(bytes(data))[:, :, 0]
    assert (dec[:, :8] == 112).all() and (dec[:, 8:] == 152).all()


def test_rejects_progressive_and_non_jpeg():
    data = bytearray(jpeg_encode(_block_image(2, 3, 0)))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC2  # SOF0 → SOF2 (progressive)
    with pytest.raises(ValueError, match="baseline only"):
        jpeg_decode(bytes(data))
    with pytest.raises(ValueError, match="not a JPEG"):
        jpeg_decode(b"\x89PNG not jpeg")


def test_decode_media_sniffs_jpeg():
    from batch_import_spark.functions.multimodal import decode_media

    px = _block_image(2, 3, 7)
    arr = decode_media(jpeg_encode(np.stack([px, px, px], -1), "444"))
    assert arr.shape == (16 * 24, 3)
    assert float(arr[0, 0]) == float(px[0, 0])


def test_decode_media_falls_back_on_progressive():
    """An in-format-but-unsupported JPEG uses the deterministic-fake
    path instead of propagating (ADVICE round-3 discipline)."""
    from batch_import_spark.functions.multimodal import decode_media

    data = bytearray(jpeg_encode(_block_image(2, 3, 0)))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC2
    arr = decode_media(bytes(data))  # no raise
    assert arr.ndim == 2 and arr.shape[1] == 16


def test_decode_media_falls_back_on_truncated_and_corrupt():
    """ADVICE r04: a truncated or bit-flipped payload with a valid
    JPEG magic raises IndexError/struct.error/KeyError from the byte
    indexing and Huffman table lookups — decode_media must
    take the deterministic-fake path, not crash the Arrow task."""
    from batch_import_spark.functions.multimodal import decode_media

    good = jpeg_encode(_block_image(2, 3, 0))
    for payload in (
        good[: len(good) // 3],          # truncated mid-stream
        good[:4],                        # magic + almost nothing
        b"\xff\xd8\xff\xe0\x00\x02",     # empty APP0, no SOF/SOS
        good[:20] + bytes(30),           # zeroed tables → bad lookups
    ):
        arr = decode_media(payload)
        assert arr.ndim == 2 and arr.shape[1] == 16


def test_spark_jpeg_stats_match_formula(spark):
    """decode_image_stats (Arrow-batched) over the JPEG fixtures equals
    the closed-form block-formula sums — the driver oracle's claim."""
    from batch_import_spark.functions.multimodal import (
        decode_image_stats,
        synthesize_jpeg_media,
    )

    got = {
        r["media_id"]: r
        for r in decode_image_stats(synthesize_jpeg_media(spark, n=12)).collect()
    }
    for i in range(12):
        nby, nbx = 2 + i % 3, 3 + i % 2
        expect = sum(
            64 * ((bx * 7 + by * 3 + i * 5) % 256)
            for by in range(nby)
            for bx in range(nbx)
        )
        r = got[i]
        assert (r["width"], r["height"]) == (nbx * 8, nby * 8)
        assert r["r_sum"] == r["g_sum"] == r["b_sum"] == expect
