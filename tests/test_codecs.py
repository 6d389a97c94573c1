"""PNG/WAV codecs (functions/codecs.py) — stdlib-only real decode."""

import struct
import zlib

import numpy as np
import pytest

from batch_import_spark.functions.codecs import (
    _PNG_SIG,
    _chunk,
    png_decode,
    png_encode,
    wav_decode,
    wav_encode,
)


def _pattern(h, w, ch, seed=0):
    y, x, c = np.meshgrid(
        np.arange(h), np.arange(w), np.arange(ch), indexing="ij"
    )
    return ((x * 7 + y * 3 + c * 11 + seed) % 256).astype(np.uint8)


@pytest.mark.parametrize("ch", [1, 3, 4])
def test_png_round_trip_all_filters(ch):
    """Encoder cycles filters 0-4 per row; >=5 rows exercises every
    unfilter branch; exact pixel recovery required."""
    px = _pattern(9, 13, ch, seed=5)
    data = png_encode(px)
    out = png_decode(data)
    assert out.shape == (9, 13, ch)
    assert np.array_equal(out, px.reshape(9, 13, ch))


def test_png_rejects_non_png():
    with pytest.raises(ValueError, match="not a PNG"):
        png_decode(b"garbage bytes")


def test_png_decode_zero_filter_only():
    px = _pattern(4, 4, 3)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(4))
    data = (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(png_decode(data), px)


def test_wav_round_trip_mono_and_stereo():
    mono = (np.arange(500) * 37 % 65536 - 32768).astype(np.int16)
    data = wav_encode(mono, 8000)
    arr, rate = wav_decode(data)
    assert rate == 8000 and arr.shape == (500, 1)
    assert np.array_equal(arr[:, 0], mono)

    stereo = np.stack([mono, -1 - mono], axis=1).astype(np.int16)
    arr2, _ = wav_decode(wav_encode(stereo, 44100))
    assert arr2.shape == (500, 2)
    assert np.array_equal(arr2, stereo)


def test_wav_rejects_non_wav():
    with pytest.raises(ValueError, match="not a WAV"):
        wav_decode(b"RIFFxxxxJUNK" + b"\x00" * 32)


def test_decode_media_sniffs_real_formats():
    """decode_media routes PNG/WAV payloads through the REAL decoders
    (magic-byte sniff), keeping the fake only for unknown formats."""
    from batch_import_spark.functions.multimodal import decode_media

    px = _pattern(5, 6, 3)
    out = decode_media(png_encode(px))
    assert out.shape == (30, 3)
    assert np.array_equal(out.astype(np.uint8).reshape(5, 6, 3), px)

    mono = (np.arange(100) * 7 % 65536 - 32768).astype(np.int16)
    a = decode_media(wav_encode(mono, 8000))
    assert a.shape == (100, 1)
    assert np.allclose(a[:, 0], mono / 32768.0)

    # an undecodable JPEG-magic payload takes the fake: 16 byte columns
    assert decode_media(b"\xff\xd8\xff jpeg-ish").shape == (1, 16)
