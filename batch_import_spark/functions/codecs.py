"""Real media codecs on the standard library — no PIL/ffmpeg needed.

PNG (non-interlaced, 8-bit gray/RGB/RGBA) and WAV (PCM16) are both
fully decodable with stdlib ``zlib``/``wave`` plus numpy: this module
implements them from scratch so the multimodal operators decode REAL
bytes, not a fake. JPEG/MP4/etc. genuinely need external codecs and
keep the documented stub path in functions/multimodal.py.

The encoders exist for fixtures and tests: ``png_encode`` writes all
five PNG row filters (cycling per row) so a round trip exercises
every unfilter branch of the decoder; ``wav_encode`` writes PCM16
RIFF. Fixture media generated from integer formulas make decoded
statistics closed-form — the driver oracle recomputes them in SQL
without any codec (see __spark_entry__ media queries).
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_COLOR_CHANNELS = {0: 1, 2: 3, 6: 4}  # gray, RGB, RGBA


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _filter_row(ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Apply PNG filter ``ftype`` to ``row`` (uint8) given the prior
    scanline ``prev``; returns the filtered bytes."""
    r = row.astype(np.int16)
    a = np.concatenate([np.zeros(bpp, np.int16), r[:-bpp]])
    b = prev.astype(np.int16)
    c = np.concatenate([np.zeros(bpp, np.int16), b[:-bpp]])
    if ftype == 0:
        out = r
    elif ftype == 1:
        out = r - a
    elif ftype == 2:
        out = r - b
    elif ftype == 3:
        out = r - (a + b) // 2
    else:  # 4: Paeth
        p = a + b - c
        pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
        pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
        out = r - pred
    return (out % 256).astype(np.uint8)


def _unfilter_row(ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Invert a PNG row filter in place-order (left-to-right scan —
    the sub/average/Paeth filters reference already-reconstructed
    bytes of the same row)."""
    out = row.astype(np.int16)
    prev16 = prev.astype(np.int16)
    if ftype == 0:
        pass
    elif ftype == 2:
        out = (out + prev16) % 256
    else:
        # sequential dependency on the reconstructed left neighbor
        rec = np.zeros(len(out), np.int16)
        for i in range(len(out)):
            a = rec[i - bpp] if i >= bpp else 0
            b = prev16[i]
            c = prev16[i - bpp] if i >= bpp else 0
            if ftype == 1:
                pred = a
            elif ftype == 3:
                pred = (a + b) // 2
            else:  # 4
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            rec[i] = (out[i] + pred) % 256
        out = rec
    return (out % 256).astype(np.uint8)


def png_encode(pixels: np.ndarray) -> bytes:
    """Encode an (H, W), (H, W, 3) or (H, W, 4) uint8 array as PNG.
    Rows rotate through all five row filters so decoders get
    full-path coverage."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    color_type = {1: 0, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = bytearray()
    prev = np.zeros(w * ch, np.uint8)
    for y in range(h):
        row = px[y].reshape(-1)
        f = y % 5
        raw.append(f)
        raw.extend(_filter_row(f, row, prev, ch).tobytes())
        prev = row
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> np.ndarray:
    """Decode a non-interlaced 8-bit gray/RGB/RGBA PNG to an
    (H, W, channels) uint8 array. Raises ValueError on anything else
    (interlaced, paletted, 16-bit → the caller's stub path)."""
    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    pos, w = len(_PNG_SIG), 0
    h = bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    if bit_depth != 8 or color_type not in _COLOR_CHANNELS or interlace:
        raise ValueError(
            f"unsupported PNG (depth={bit_depth}, color={color_type}, "
            f"interlace={interlace}) — needs a full codec library"
        )
    ch = _COLOR_CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("corrupt PNG scanline data")
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    for y in range(h):
        off = y * (stride + 1)
        ftype = raw[off]
        row = np.frombuffer(raw, np.uint8, stride, off + 1)
        prev = _unfilter_row(ftype, row, prev, ch)
        out[y] = prev
    return out.reshape(h, w, ch)


def wav_encode(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Encode an int16 (N,) or (N, channels) array as a PCM16 WAV."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(s.shape[1])
        wv.setsampwidth(2)
        wv.setframerate(sample_rate)
        wv.writeframes(s.tobytes())
    return buf.getvalue()


def wav_decode(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM16 WAV to ((N, channels) int16 array, sample_rate).
    Raises ValueError for non-PCM16 (the caller's stub path)."""
    if not (data[:4] == b"RIFF" and data[8:12] == b"WAVE"):
        raise ValueError("not a WAV")
    with wave.open(io.BytesIO(data), "rb") as wv:
        if wv.getsampwidth() != 2:
            raise ValueError("only PCM16 WAV supported without codecs")
        n, ch = wv.getnframes(), wv.getnchannels()
        raw = wv.readframes(n)
        rate = wv.getframerate()
    arr = np.frombuffer(raw, dtype="<i2").reshape(n, ch)
    return arr, rate
