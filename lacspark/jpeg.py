"""Baseline JPEG codec in pure numpy — no PIL, no external codec.

Closes the multimodal scope gap (reference-free: JPEG is the one
image format `spark/multimodal.py` previously refused): a
from-scratch implementation of ITU-T T.81 BASELINE sequential JPEG —
8-bit samples, Huffman entropy coding, any sampling factors on
decode (4:4:4 / 4:2:2 / 4:2:0), restart markers, JFIF framing.
Progressive / arithmetic / 12-bit variants raise NotImplementedError
(honest scope, same policy as the PNG/BMP codecs).

The ENCODER emits 4:4:4 with the Annex K example quantization tables
(quality-scaled by the libjpeg 5000/q | 200-2q convention) and the
Annex K typical Huffman tables; both table sets are written into the
stream (DQT/DHT), and the DECODER always parses its tables from the
stream — so encode→decode round trips are self-consistent by
construction, and third-party baseline JPEGs decode with whatever
tables they carry.

Everything is vectorized numpy where it counts: the 2-D DCT/IDCT is
two 8×8 matrix multiplies applied to ALL blocks of a component at
once (einsum), quantization/zigzag are array ops; only the entropy
coding is a per-symbol python loop (inherent to Huffman).  Used by
``multimodal.decode_image`` / ``encode_jpeg`` inside Arrow-batched
Python passes — the Spark plumbing is unchanged, this swaps a raise for a
real decode.
"""

from __future__ import annotations

import struct

import numpy as np

# ITU-T T.81 Annex K.1/K.2 example quantization tables (row-major)
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32).reshape(8, 8)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32).reshape(8, 8)

# zigzag scan order: ZIGZAG[i] = (row, col) of the i-th coefficient
def _zigzag_order() -> np.ndarray:
    idx = []
    for s in range(15):
        rng = range(max(0, s - 7), min(s, 7) + 1)
        diag = [(s - j, j) for j in rng]     # (s,0) … (0,s): upward
        # even diagonals run upward, odd ones downward (T.81 fig. 5)
        idx.extend(diag if s % 2 == 0 else diag[::-1])
    return np.array([r * 8 + c for r, c in idx], dtype=np.int64)


ZZ = _zigzag_order()            # flat index per zigzag position
UNZZ = np.argsort(ZZ)           # zigzag position per flat index

# Annex K.3 typical Huffman tables: (BITS[1..16], HUFFVAL)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]

# orthonormal 8-point DCT-II matrix: forward F = C @ B @ C.T
_C = np.array([[(np.sqrt(1 / 8) if k == 0 else np.sqrt(2 / 8))
                * np.cos((2 * n + 1) * k * np.pi / 16)
                for n in range(8)] for k in range(8)])


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) by canonical assignment (T.81 C.2)."""
    out, code, i = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[i]] = (code, ln)
            code += 1
            i += 1
        code <<= 1
    return out


def _scaled_quant(table: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * s + 50) // 100, 1, 255).astype(np.int32)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
        return bytes(self.buf)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _blocks(plane: np.ndarray) -> np.ndarray:
    """HxW (multiple of 8) → [n_blocks, 8, 8] in raster block order."""
    h, w = plane.shape
    return (plane.reshape(h // 8, 8, w // 8, 8)
            .transpose(0, 2, 1, 3).reshape(-1, 8, 8))


def _plane_blocks(plane: np.ndarray, q: np.ndarray, bh: int,
                  bw_: int) -> np.ndarray:
    """Level-shift, 2-D DCT, quantize, zigzag every 8×8 block of a
    padded plane → [bh, bw, 64] int32 in block-grid order."""
    blocks = _blocks(plane - 128.0)
    coefs = np.einsum("kn,bnm,lm->bkl", _C, blocks, _C)
    quant = np.round(coefs / q).astype(np.int32)
    return quant.reshape(bh, bw_, 64)[:, :, ZZ]


def encode_jpeg(img: np.ndarray, quality: int = 90,
                subsampling: str = "444") -> bytes:
    """HxWx3 (or HxW grayscale) uint8 → baseline JFIF bytes.

    ``subsampling``: "444" (one block per component per MCU) or
    "420" (2×2 luma blocks per 16×16 MCU, chroma box-filtered 2:1
    in both axes — the common real-world JPEG layout)."""
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    h, w = img.shape[:2]
    r, g, b = (img[:, :, i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    qt = [_scaled_quant(QUANT_LUMA, quality),
          _scaled_quant(QUANT_CHROMA, quality)]
    luma_hv = (1, 1) if subsampling == "444" else (2, 2)
    hmax, vmax = luma_hv
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # luma padded to the MCU grid; chroma box-filtered then padded
    ph, pw = mcuy * vmax * 8, mcux * hmax * 8
    y_p = np.pad(y, ((0, ph - h), (0, pw - w)), mode="edge")
    if subsampling == "420":
        def down(p):
            pp = np.pad(p, ((0, h % 2), (0, w % 2)), mode="edge")
            return (pp[0::2, 0::2] + pp[0::2, 1::2]
                    + pp[1::2, 0::2] + pp[1::2, 1::2]) / 4.0
        cb, cr = down(cb), down(cr)
    ch, cw = cb.shape
    cb_p = np.pad(cb, ((0, mcuy * 8 - ch), (0, mcux * 8 - cw)),
                  mode="edge")
    cr_p = np.pad(cr, ((0, mcuy * 8 - ch), (0, mcux * 8 - cw)),
                  mode="edge")
    # (block grid, sampling h, sampling v, quant/huff table index)
    planes = [
        (_plane_blocks(y_p, qt[0], mcuy * vmax, mcux * hmax),
         hmax, vmax, 0),
        (_plane_blocks(cb_p, qt[1], mcuy, mcux), 1, 1, 1),
        (_plane_blocks(cr_p, qt[1], mcuy, mcux), 1, 1, 1),
    ]

    dc_tabs = [_huff_codes(DC_LUMA_BITS, DC_LUMA_VALS),
               _huff_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)]
    ac_tabs = [_huff_codes(AC_LUMA_BITS, AC_LUMA_VALS),
               _huff_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)]
    bw = _BitWriter()
    pred = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (grid, hi, vi, ti) in enumerate(planes):
                for by in range(vi):
                    for bx in range(hi):
                        zz = grid[my * vi + by, mx * hi + bx]
                        _encode_block(bw, zz, ci, ti, pred,
                                      dc_tabs, ac_tabs)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")                       # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for ti, q in enumerate(qt):                        # DQT (zigzag order)
        out += seg(0xFFDB, bytes([ti]) +
                   bytes(int(v) for v in q.reshape(-1)[ZZ]))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, (grid, hi, vi, ti) in enumerate(planes):  # SOF0
        sof += bytes([cid + 1, (hi << 4) | vi, ti])
    out += seg(0xFFC0, sof)
    for tc, th, bits, vals in ((0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
                               (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
                               (1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
                               (1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)):
        out += seg(0xFFC4, bytes([(tc << 4) | th]) + bytes(bits)
                   + bytes(vals))
    sos = bytes([3])
    for cid in range(3):
        td = 0 if cid == 0 else 1
        sos += bytes([cid + 1, (td << 4) | td])
    sos += bytes([0, 63, 0])
    out += seg(0xFFDA, sos)
    out += bw.flush()
    out += b"\xff\xd9"                                 # EOI
    return bytes(out)


def _encode_block(bw: "_BitWriter", zz: np.ndarray, ci: int, ti: int,
                  pred: list[int], dc_tabs, ac_tabs) -> None:
    diff = int(zz[0]) - pred[ci]
    pred[ci] = int(zz[0])
    t = _category(diff)
    code, ln = dc_tabs[ti][t]
    bw.write(code, ln)
    if t:
        bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
    run = 0
    nz = np.flatnonzero(zz[1:])
    last = nz[-1] + 1 if nz.size else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tabs[ti][0xF0]   # ZRL
            bw.write(code, ln)
            run -= 16
        t = _category(v)
        code, ln = ac_tabs[ti][(run << 4) | t]
        bw.write(code, ln)
        bw.write(v if v > 0 else v + (1 << t) - 1, t)
        run = 0
    if last < 63:
        code, ln = ac_tabs[ti][0x00]       # EOB
        bw.write(code, ln)


class _BitReader:
    """Entropy-segment reader: unstuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                self.acc = (self.acc << 8) & 0xFFFFFFFF
                self.nbits += 8
                continue
            byte = d[self.pos]
            if byte == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:   # RST — handled by caller
                    self.marker = nxt
                    self.acc = (self.acc << 8) & 0xFFFFFFFF
                    self.nbits += 8
                    continue
                else:                        # EOI / next segment
                    self.marker = nxt
                    self.acc = (self.acc << 8) & 0xFFFFFFFF
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.acc = ((self.acc << 8) | byte) & 0xFFFFFFFFFF
            self.nbits += 8

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v

    def restart(self) -> None:
        """Align to byte and consume the RST marker."""
        self.nbits = 0
        self.acc = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                self.marker = None
                return
            self.pos += 1


class _HuffDecoder:
    def __init__(self, bits: list[int], vals: list[int]) -> None:
        # (length → {code: symbol}); max 16 lookups per symbol
        self.by_len: list[dict[int, int]] = [{} for _ in range(17)]
        code, i = 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                self.by_len[ln][code] = vals[i]
                code += 1
                i += 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | br.bits(1)
            sym = self.by_len[ln].get(code)
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in entropy stream")


def _extend(v: int, t: int) -> int:
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JFIF/JPEG bytes → HxWx3 uint8 (grayscale replicated)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffDecoder] = {}
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    while pos < len(payload):
        if payload[pos] != 0xFF:
            pos += 1
            continue
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker — skip the run so marker is never read as 0xFF
        # (which would parse a bogus segment length; ADVICE r5)
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(payload):
            break
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack_from(">H", payload, pos)
        body = payload[pos + 2: pos + seglen]
        pos += seglen
        if marker == 0xDB:                     # DQT
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0xF
                if pq:
                    raise NotImplementedError("16-bit quant tables")
                tab = np.zeros(64, dtype=np.int32)
                tab[ZZ] = np.frombuffer(body[b + 1: b + 65],
                                        dtype=np.uint8)
                qt[tq] = tab.reshape(8, 8)
                b += 65
        elif marker == 0xC4:                   # DHT
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0xF
                bits = list(body[b + 1: b + 17])
                n = sum(bits)
                vals = list(body[b + 17: b + 17 + n])
                huff[(tc, th)] = _HuffDecoder(bits, vals)
                b += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit baseline JPEG")
            for c in range(nc):
                cid, hv, tq = body[6 + c * 3: 9 + c * 3]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF,
                              "tq": tq})
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "progressive/extended JPEG — baseline only")
        elif marker == 0xDD:                   # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:                   # SOS → entropy data
            ns = body[0]
            scan = []
            for c in range(ns):
                cs, tdta = body[1 + c * 2: 3 + c * 2]
                comp = next(x for x in comps if x["id"] == cs)
                comp["td"], comp["ta"] = tdta >> 4, tdta & 0xF
                scan.append(comp)
            hmax = max(c["h"] for c in scan)
            vmax = max(c["v"] for c in scan)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            for c in scan:
                bw_ = mcux * c["h"]
                bh_ = mcuy * c["v"]
                c["coef"] = np.zeros((bh_ * 8, bw_ * 8), dtype=np.float64)
                c["pred"] = 0
            br = _BitReader(payload, pos)
            n_mcu = mcux * mcuy
            for m in range(n_mcu):
                if restart_interval and m and m % restart_interval == 0:
                    br.restart()
                    for c in scan:
                        c["pred"] = 0
                my, mx = divmod(m, mcux)
                for c in scan:
                    dct = huff[(0, c["td"])]
                    act = huff[(1, c["ta"])]
                    q = qt[c["tq"]]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            zz = np.zeros(64, dtype=np.int32)
                            t = dct.decode(br)
                            d = _extend(br.bits(t), t) if t else 0
                            c["pred"] += d
                            zz[0] = c["pred"]
                            k = 1
                            while k <= 63:
                                rs = act.decode(br)
                                r, t = rs >> 4, rs & 0xF
                                if rs == 0x00:
                                    break
                                if rs == 0xF0:
                                    k += 16
                                    continue
                                k += r
                                if k > 63:
                                    raise ValueError("AC index overflow")
                                zz[k] = _extend(br.bits(t), t)
                                k += 1
                            blk = np.zeros(64, dtype=np.float64)
                            blk[ZZ] = zz
                            blk = blk.reshape(8, 8) * q
                            pix = _C.T @ blk @ _C
                            y0 = (my * c["v"] + by) * 8
                            x0 = (mx * c["h"] + bx) * 8
                            c["coef"][y0:y0 + 8, x0:x0 + 8] = pix
            planes = []
            for c in scan:
                p = c["coef"] + 128.0
                p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                              hmax // c["h"], axis=1)
                planes.append(p[:h, :w])
            if len(planes) == 1:
                gray = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
                return np.stack([gray] * 3, axis=-1)
            y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
            r = y + 1.402 * cr
            g = y - 0.344136 * cb - 0.714136 * cr
            b = y + 1.772 * cb
            return np.clip(np.round(np.stack([r, g, b], axis=-1)),
                           0, 255).astype(np.uint8)
    raise ValueError("no SOS segment — truncated JPEG")
