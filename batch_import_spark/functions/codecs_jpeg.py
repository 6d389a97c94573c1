"""Baseline JPEG (JFIF) codec from scratch — numpy + stdlib only.

Round-3 shipped real PNG/WAV codecs (functions/codecs.py); this module
completes the image side with baseline sequential DCT JPEG per the
public ITU-T T.81 spec: segment parsing (SOI/APPn/DQT/SOF0/DHT/DRI/
SOS/RSTn/EOI), canonical Huffman entropy decode with byte-unstuffing,
DC-differential + run-length AC coefficient decode, dequantization,
inverse zigzag, 8×8 IDCT, chroma upsampling for sampling factors in
{1, 2}, and YCbCr→RGB conversion. The encoder exists for fixtures and
round-trip tests (grayscale, 4:4:4 and 4:2:0 color) and uses simple
self-designed fixed-length canonical Huffman tables (12 DC symbols at
4 bits, 162 AC symbols at 8 bits) — valid DHT content that exercises
the decoder's general table machinery without reproducing the Annex K
byte tables; compression ratio is irrelevant for fixtures.

Exactness contract for oracles: JPEG is lossy, but an image made of
CONSTANT 8×8 blocks survives the round trip bit-exactly when the
quantization tables are all ones — a constant block's DCT has a single
integral DC coefficient 8·(v−128) and zero ACs, so quantize → Huffman
→ dequantize → IDCT reproduces v exactly (and with R=G=B inputs the
YCbCr transform is exact too: Y=v, Cb=Cr=128). Fixture images built
from an integer block formula therefore have closed-form decoded
statistics that a SQL oracle can recompute with no codec — the same
discipline as the PNG formula fixtures. Non-constant images are
covered by tolerance-based pytest round trips (AC path, both
subsamplings).

Out of scope (→ ValueError → the caller's documented stub path):
progressive (SOF2), arithmetic coding, 12-bit precision, 4-component
CMYK, hierarchical. Reference analog: none — the reference engine
(jexp/batch-import) has no media handling at all; this is a
training-data-pipeline requirement.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag scan order: ZIGZAG[k] = flat index (8*row+col) of the k-th
# coefficient in scan order, generated by walking the anti-diagonals
# (public T.81 Figure 5 order).


def _make_zigzag() -> list[int]:
    order = []
    for s in range(15):  # anti-diagonal index r+c
        rng = range(s + 1) if s % 2 else range(s, -1, -1)
        for r in rng:
            c = s - r
            if r < 8 and c < 8:
                order.append(r * 8 + c)
    return order


ZIGZAG = _make_zigzag()
UNZIGZAG = [0] * 64
for _k, _v in enumerate(ZIGZAG):
    UNZIGZAG[_v] = _k

# orthonormal 8-point DCT-II basis: C[u, x] = c(u)/2 · cos((2x+1)uπ/16)
_C = np.zeros((8, 8))
for _u in range(8):
    cu = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _C[_u, _x] = 0.5 * cu * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _fdct(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


def _idct(coef: np.ndarray) -> np.ndarray:
    return _C.T @ coef @ _C


# --- fixture Huffman tables (self-designed, fixed-length canonical) --------
# DC: 12 category symbols, all 4-bit codes (12 ≤ 15 — the all-ones
# code stays unused, as T.81's table builder requires).
# AC: 162 run/size symbols, all 8-bit codes (162 ≤ 255).
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
_AC_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_AC_BITS = [0] * 7 + [len(_AC_VALS)] + [0] * 8


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) from a DHT BITS/HUFFVAL pair (canonical
    code assignment per T.81 Annex C)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _build_decode(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → symbol for the decoder."""
    return {(ln, code): sym for sym, (code, ln) in _build_codes(bits, vals).items()}


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.buf.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        while self.n:
            self.write(1, 1)  # pad with 1-bits to a byte boundary


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment, removing
    0xFF00 stuffing; any other marker inside the stream is an error
    (restarts are consumed explicitly via ``restart``)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _load(self) -> None:
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                raise ValueError(f"unexpected marker 0xFF{nxt:02X} in entropy data")
        self.acc = b
        self.n = 8

    def read_bit(self) -> int:
        if self.n == 0:
            self._load()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self, expect: int) -> None:
        """Byte-align and consume the RSTn marker at a restart point."""
        self.n = 0
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != 0xD0 + expect:
            raise ValueError("missing restart marker")
        self.pos += 2


def _huff_decode(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | reader.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _receive_extend(reader: _BitReader, s: int) -> int:
    if s == 0:
        return 0
    v = reader.read_bits(s)
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = px[..., 0].astype(float), px[..., 1].astype(float), px[..., 2].astype(float)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.clip(np.round(np.stack([y, cb, cr], axis=-1)), 0, 255)


def _ycbcr_to_rgb(planes: np.ndarray) -> np.ndarray:
    y, cb, cr = planes[..., 0], planes[..., 1] - 128.0, planes[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def jpeg_encode(pixels: np.ndarray, subsampling: str = "444") -> bytes:
    """Encode an (H, W) grayscale or (H, W, 3) RGB uint8 array as a
    baseline JFIF JPEG. Every component uses the all-ones quant table,
    so constant-block images round-trip exactly (module docstring).
    ``subsampling``: "444" or "420" (color only)."""
    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    if not gray and px.shape[2] != 3:
        raise ValueError("jpeg_encode takes (H,W) gray or (H,W,3) RGB")
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    h, w = px.shape[:2]
    q = np.ones(64, dtype=np.int64)
    q2 = q.reshape(8, 8)

    if gray:
        planes = [px.astype(float) - 128.0]
        samp = [(1, 1)]
    else:
        ycc = _rgb_to_ycbcr(px)
        yp, cbp, crp = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if subsampling == "420":
            # pad to even dims, then 2×2 block mean for chroma
            pe_h, pe_w = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            def _pad_even(p):
                return np.pad(p, ((0, pe_h - h), (0, pe_w - w)), mode="edge")
            cbs = _pad_even(cbp).reshape(pe_h // 2, 2, pe_w // 2, 2).mean(axis=(1, 3))
            crs = _pad_even(crp).reshape(pe_h // 2, 2, pe_w // 2, 2).mean(axis=(1, 3))
            planes = [yp - 128.0, np.round(cbs) - 128.0, np.round(crs) - 128.0]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [yp - 128.0, cbp - 128.0, crp - 128.0]
            samp = [(1, 1), (1, 1), (1, 1)]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # pad each plane to its MCU-aligned size by edge replication
    padded = []
    for p, (sh, sv) in zip(planes, samp):
        ph, pw = mcuy * sv * 8, mcux * sh * 8
        padded.append(
            np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")
        )

    dc_codes = _build_codes(_DC_BITS, _DC_VALS)
    ac_codes = _build_codes(_AC_BITS, _AC_VALS)
    bw = _BitWriter()
    dc_pred = [0] * len(planes)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (p, (sh, sv)) in enumerate(zip(padded, samp)):
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        block = p[y0 : y0 + 8, x0 : x0 + 8]
                        coef = np.round(_fdct(block) / q2).astype(np.int64)
                        zz = coef.reshape(-1)[ZIGZAG]
                        diff = int(zz[0]) - dc_pred[ci]
                        dc_pred[ci] = int(zz[0])
                        s = _category(diff)
                        code, ln = dc_codes[s]
                        bw.write(code, ln)
                        if s:
                            bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
                        run = 0
                        for k in range(1, 64):
                            # baseline AC categories stop at 10 (|v| ≤
                            # 1023); with all-ones quant an adversarial
                            # block can hit ±1024 — clamp (lossy, like
                            # any real encoder's quality floor)
                            v = max(-1023, min(1023, int(zz[k])))
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, ln = ac_codes[0xF0]
                                bw.write(code, ln)
                                run -= 16
                            s = _category(v)
                            code, ln = ac_codes[(run << 4) | s]
                            bw.write(code, ln)
                            bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                            run = 0
                        if run:
                            code, ln = ac_codes[0x00]  # EOB
                            bw.write(code, ln)
    bw.flush()

    def _dht(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
        return bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)

    ncomp = len(planes)
    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    qzz = q[ZIGZAG]  # DQT stores the table in zigzag order
    out += _seg(0xDB, bytes([0x00]) + bytes(int(x) for x in qzz))
    if ncomp == 3:
        out += _seg(0xDB, bytes([0x01]) + bytes(int(x) for x in qzz))
    sof = bytearray(struct.pack(">BHHB", 8, h, w, ncomp))
    for ci in range(ncomp):
        sh, sv = samp[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, 0 if ci == 0 else 1])
    out += _seg(0xC0, bytes(sof))
    out += _seg(0xC4, _dht(0, 0, _DC_BITS, _DC_VALS) + _dht(1, 0, _AC_BITS, _AC_VALS))
    if ncomp == 3:
        out += _seg(
            0xC4, _dht(0, 1, _DC_BITS, _DC_VALS) + _dht(1, 1, _AC_BITS, _AC_VALS)
        )
    sos = bytearray([ncomp])
    for ci in range(ncomp):
        tid = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, bytes(sos))
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def jpeg_decode(data: bytes) -> np.ndarray:
    """Decode a baseline sequential JFIF JPEG to an (H, W, 1|3) uint8
    array (3-component scans come back as RGB). Raises ValueError on
    progressive/arithmetic/12-bit/4-component inputs — the caller's
    documented stub path."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    scan = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        body = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (may hold several tables)
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                zz = np.frombuffer(body, np.uint8, 64, b + 1).astype(np.int64)
                nat = np.zeros(64, np.int64)
                nat[ZIGZAG] = zz  # natural[ZIGZAG[k]] = zigzag[k]
                qtabs[tq] = nat
                b += 65
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(f"unsupported SOF type 0xFF{marker:02X} (baseline only)")
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if nc not in (1, 3):
                raise ValueError(f"unsupported component count {nc}")
            for ci in range(nc):
                cid, sf, tq = body[6 + 3 * ci : 9 + 3 * ci]
                sh, sv = sf >> 4, sf & 0x0F
                if sh not in (1, 2) or sv not in (1, 2):
                    raise ValueError(f"unsupported sampling factors {sh}x{sv}")
                comps.append({"id": cid, "h": sh, "v": sv, "tq": tq})
        elif marker == 0xC4:  # DHT (may hold several tables)
            b = 0
            while b < len(body):
                cls, tid = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1 : b + 17])
                nv = sum(bits)
                vals = list(body[b + 17 : b + 17 + nv])
                htabs[(cls, tid)] = _build_decode(bits, vals)
                b += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — entropy data follows the header
            ns = body[0]
            scan = []
            for si in range(ns):
                cid, tids = body[1 + 2 * si], body[2 + 2 * si]
                (ci,) = [i for i, c in enumerate(comps) if c["id"] == cid]
                scan.append((ci, tids >> 4, tids & 0x0F))
            pos += seglen
            break
        pos += seglen
    if scan is None or not comps:
        raise ValueError("no SOS/SOF found")

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = [
        np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), np.float64) for c in comps
    ]
    reader = _BitReader(data, pos)
    dc_pred = [0] * len(comps)
    n_rst = 0
    for mi in range(mcuy * mcux):
        if restart_interval and mi and mi % restart_interval == 0:
            reader.restart(n_rst % 8)
            n_rst += 1
            dc_pred = [0] * len(comps)
        my, mx = divmod(mi, mcux)
        for ci, dc_id, ac_id in scan:
            c = comps[ci]
            q = qtabs[c["tq"]]
            dct = htabs[(0, dc_id)]
            act = htabs[(1, ac_id)]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    zz = np.zeros(64, np.int64)
                    s = _huff_decode(reader, dct)
                    dc_pred[ci] += _receive_extend(reader, s)
                    zz[0] = dc_pred[ci]
                    k = 1
                    while k < 64:
                        rs = _huff_decode(reader, act)
                        if rs == 0x00:  # EOB
                            break
                        if rs == 0xF0:  # ZRL
                            k += 16
                            continue
                        k += rs >> 4
                        if k > 63:
                            raise ValueError("AC coefficient index overflow")
                        zz[k] = _receive_extend(reader, rs & 0x0F)
                        k += 1
                    coef = np.zeros(64, np.float64)
                    coef[ZIGZAG] = (zz * q[ZIGZAG]).astype(np.float64)
                    block = _idct(coef.reshape(8, 8)) + 128.0
                    y0 = (my * c["v"] + by) * 8
                    x0 = (mx * c["h"] + bx) * 8
                    planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block

    up = []
    for p, c in zip(planes, comps):
        rp = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        up.append(rp[:h, :w])
    if len(up) == 1:
        return np.clip(np.round(up[0]), 0, 255).astype(np.uint8)[:, :, None]
    return _ycbcr_to_rgb(np.stack(up, axis=-1))
