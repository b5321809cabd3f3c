"""Baseline grayscale JPEG (ITU T.81) codec in pure Python + numpy.

The DCT is an 8x8 matrix product, Huffman is integer table work, and the
marker stream is a chunk walk, so none of it needs a codec library. The
scope is what the mm8 catalog query produces:

- DECODE: baseline sequential DCT (SOF0/SOF1), 8-bit, Huffman entropy
  coding, one component at 1x1 sampling. Quant + Huffman tables are
  read from the payload's own DQT/DHT segments (never assumed), so
  output depends only on the payload. Progressive (SOF2), colour frames,
  non-1x1 sampling, restart intervals (DRI), arithmetic coding,
  12-bit, lossless and hierarchical streams raise
  ``NotImplementedError``; malformed streams raise ``ValueError``.
- ENCODE (asset synthesis + round-trip tests): grayscale baseline via
  :func:`encode_jpeg`, with the Annex-K example luminance quant table
  (quality-scaled) and Huffman tables written into DQT/DHT so any
  conformant decoder reads them.

JPEG is LOSSY: round-trips are near, not exact, so unlike mm3/mm5/mm7
an oracle cannot re-derive pixels in SQL. The mm8 catalog query instead
emits tolerance booleans (the ap1 pattern) whose thresholds carry a
wide measured margin, plus exact dims.

Public spec: ITU-T T.81 (1992); tables from its Annex K examples.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# shared constant tables
# ---------------------------------------------------------------------------

# zigzag scan order as (u, v) pairs: even diagonals run bottom-left to
# top-right, odd ones the reverse (T.81 figure 5)
ZIGZAG: list[tuple[int, int]] = []
for _s in range(15):
    _us = [u for u in range(8) if 0 <= _s - u < 8]
    if _s % 2 == 0:
        _us.reverse()
    ZIGZAG += [(u, _s - u) for u in _us]
_ZZ_U = np.array([u for u, _ in ZIGZAG])
_ZZ_V = np.array([v for _, v in ZIGZAG])

# orthonormal DCT-II basis: T @ block @ T.T == the T.81 FDCT
_DCT_T = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _c = np.sqrt(1.0 / 8.0) if _u == 0 else np.sqrt(2.0 / 8.0)
        _DCT_T[_u, _x] = _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)

# Annex K.1 example luminance quantization table (natural order)
QUANT_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
])

# Annex K.3 example luminance Huffman tables: (bits[1..16], huffval)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
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


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length) for a canonical Huffman table (T.81
    C.2): codes of each length assigned in huffval order."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> value, the inverse mapping for the decoder."""
    out: dict[tuple[int, int], int] = {}
    for v, (code, length) in _canonical_codes(bits, vals).items():
        out[(length, code)] = v
    return out


# ---------------------------------------------------------------------------
# bit I/O (MSB-first, 0xFF byte stuffing per T.81 F.1.2.3)
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # stuffing

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("JPEG: entropy data exhausted")
        byte = self.data[self.pos]
        self.pos += 1
        if byte == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("JPEG: dangling 0xFF in entropy data")
            nxt = self.data[self.pos]
            if nxt != 0x00:
                # with no restart intervals, a marker can only follow
                # the last block
                raise ValueError(f"JPEG: marker 0x{nxt:02x} inside scan data")
            self.pos += 1  # stuffed byte
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _huff_decode(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("JPEG: invalid Huffman code")


def _extend(r: int, size: int) -> int:
    """T.81 F.12: map `size` raw bits to a signed coefficient."""
    if size == 0:
        return 0
    return r if r >= (1 << (size - 1)) else r - (1 << size) + 1


def _size_cat(v: int) -> int:
    return int(abs(v)).bit_length()


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _scale_quant(table: np.ndarray, quality: int) -> np.ndarray:
    """IJG-style quality scaling of an example table (public formula:
    scale = 5000/q below 50, else 200 - 2q)."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (table * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int64)


def _encode_block(
    block: np.ndarray,
    quant_zz: np.ndarray,
    prev_dc: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    w: _BitWriter,
) -> int:
    coeffs = _DCT_T @ (block.astype(np.float64) - 128.0) @ _DCT_T.T
    zz = np.round(coeffs[_ZZ_U, _ZZ_V] / quant_zz).astype(np.int64)
    # DC: difference, size category + amplitude
    diff = int(zz[0]) - prev_dc
    size = _size_cat(diff)
    code, length = dc_codes[size]
    w.write(code, length)
    if size:
        amp = diff if diff >= 0 else diff + (1 << size) - 1
        w.write(amp, size)
    # AC: run-length / size pairs
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            zrl, zl = ac_codes[0xF0]
            w.write(zrl, zl)
            run -= 16
        size = _size_cat(v)
        code, length = ac_codes[(run << 4) | size]
        w.write(code, length)
        amp = v if v >= 0 else v + (1 << size) - 1
        w.write(amp, size)
        run = 0
    if run:
        eob, el = ac_codes[0x00]
        w.write(eob, el)
    return int(zz[0])


def _segment(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body


def encode_jpeg(img: np.ndarray, quality: int = 75) -> bytes:
    """Baseline sequential grayscale JPEG encoder ([H,W] or [H,W,1]).
    Deterministic: fixed tables (written into DQT/DHT), float64 DCT,
    ``np.round`` quantization. Colour input raises
    ``NotImplementedError``."""
    if img.ndim == 3 and img.shape[2] == 1:
        img = img[:, :, 0]
    elif img.ndim != 2:
        raise NotImplementedError(
            f"encode_jpeg writes grayscale only, got shape {img.shape}"
        )
    h, wd = img.shape
    if h <= 0 or wd <= 0 or h > 65535 or wd > 65535:
        raise ValueError(f"invalid image dimensions {h}x{wd}")
    blocks_y, blocks_x = (h + 7) // 8, (wd + 7) // 8
    # edge-pad to whole 8x8 blocks
    plane = np.pad(
        img.astype(np.float64),
        ((0, blocks_y * 8 - h), (0, blocks_x * 8 - wd)),
        mode="edge",
    )
    qz = _scale_quant(QUANT_LUMA, quality)[_ZZ_U, _ZZ_V]
    dc_codes = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_codes = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + bytes([0, 0])
    out = bytearray(b"\xff\xd8")  # SOI
    out += _segment(0xE0, app0)
    out += _segment(0xDB, bytes([0]) + bytes(int(x) for x in qz))  # zigzag order
    # SOF0: 8-bit, one component (id 1, 1x1 sampling, quant table 0)
    out += _segment(0xC0, bytes([8]) + struct.pack(">HH", h, wd) + bytes([1, 1, 0x11, 0]))
    out += _segment(0xC4, bytes([0x00]) + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
    out += _segment(0xC4, bytes([0x10]) + bytes(AC_LUMA_BITS) + bytes(AC_LUMA_VALS))
    out += _segment(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))  # SOS
    w = _BitWriter()
    prev_dc = 0
    for by in range(blocks_y):
        for bx in range(blocks_x):
            block = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            prev_dc = _encode_block(block, qz, prev_dc, dc_codes, ac_codes, w)
    out += w.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline sequential grayscale JPEG decode -> H×W×1 uint8. Tables
    come from the payload's own DQT/DHT segments. Raises
    ``NotImplementedError`` for the variants the module doc lists and
    ``ValueError`` for malformed data."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict[tuple[int, int], int]] = {}
    huff_ac: dict[int, dict[tuple[int, int], int]] = {}
    frame = None
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"JPEG: expected marker at {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI without a scan
            break
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seg_len]
        if len(body) != seg_len - 2:
            raise ValueError("JPEG: truncated segment")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                if p + 65 > len(body):
                    raise ValueError("JPEG: truncated DQT segment")
                quant[tq] = np.frombuffer(
                    body[p + 1 : p + 65], dtype=np.uint8
                ).astype(np.int64)
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                cls, tid = body[p] >> 4, body[p] & 0x0F
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                vals = list(body[p + 17 : p + 17 + n])
                if len(bits) != 16 or len(vals) != n:
                    raise ValueError("JPEG: truncated DHT segment")
                table = _decode_table(bits, vals)
                (huff_dc if cls == 0 else huff_ac)[tid] = table
                p += 17 + n
        elif marker in (0xC0, 0xC1):  # baseline / extended sequential
            if len(body) < 6:
                raise ValueError("JPEG: truncated SOF segment")
            prec = body[0]
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG")
            h, wd = struct.unpack_from(">HH", body, 1)
            ncomp = body[5]
            if ncomp != 1:
                raise NotImplementedError(
                    f"{ncomp}-component JPEG not supported (grayscale only)"
                )
            if len(body) < 9:
                raise ValueError("JPEG: truncated SOF segment")
            cid, hv, tq = body[6:9]
            if hv != 0x11:
                raise NotImplementedError(
                    f"sampling factors {hv >> 4}x{hv & 0x0F} not supported "
                    "(1x1 only)"
                )
            frame = (h, wd, cid, tq)
        elif marker == 0xC2:
            raise NotImplementedError("progressive (SOF2) JPEG not supported")
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "arithmetic/lossless/hierarchical JPEG not supported"
            )
        elif marker == 0xDD:  # DRI: a zero interval means no restarts
            if len(body) < 2:
                raise ValueError("JPEG: truncated DRI segment")
            if struct.unpack_from(">H", body, 0)[0]:
                raise NotImplementedError(
                    "JPEG restart intervals (DRI) not supported"
                )
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG: SOS before SOF")
            if not body or len(body) < 1 + 2 * body[0]:
                raise ValueError("JPEG: truncated SOS segment")
            scan = [
                (body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0x0F)
                for i in range(body[0])
            ]
            return _decode_scan(
                payload, pos + 2 + seg_len, frame, quant, huff_dc, huff_ac, scan
            )
        # APPn/COM/etc: skip
        pos += 2 + seg_len
    raise ValueError("JPEG: no scan data found")


def _decode_scan(
    payload: bytes,
    pos: int,
    frame: tuple[int, int, int, int],
    quant: dict[int, np.ndarray],
    huff_dc: dict,
    huff_ac: dict,
    scan: list[tuple[int, int, int]],
) -> np.ndarray:
    h, wd, cid, tq = frame
    if h <= 0 or wd <= 0:
        raise ValueError(f"invalid JPEG dimensions {h}x{wd}")
    match = [s for s in scan if s[0] == cid]
    if not match:
        raise ValueError(f"JPEG: component {cid} missing from scan")
    _, td, ta = match[0]
    if tq not in quant or td not in huff_dc or ta not in huff_ac:
        raise ValueError("JPEG: scan references undefined table")
    qt, dct, act = quant[tq], huff_dc[td], huff_ac[ta]
    blocks_y, blocks_x = (h + 7) // 8, (wd + 7) // 8
    plane = np.zeros((blocks_y * 8, blocks_x * 8), dtype=np.float64)
    reader = _BitReader(payload, pos)
    dc = 0
    for by in range(blocks_y):
        for bx in range(blocks_x):
            zz = np.zeros(64, dtype=np.int64)
            size = _huff_decode(reader, dct)
            dc += _extend(reader.bits(size), size)
            zz[0] = dc
            k = 1
            while k < 64:
                rs = _huff_decode(reader, act)
                run, size = rs >> 4, rs & 0x0F
                if size == 0:
                    if run == 15:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                k += run
                if k > 63:
                    raise ValueError("JPEG: AC run past block end")
                zz[k] = _extend(reader.bits(size), size)
                k += 1
            coeffs = np.zeros((8, 8), dtype=np.float64)
            coeffs[_ZZ_U, _ZZ_V] = zz * qt
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                _DCT_T.T @ coeffs @ _DCT_T + 128.0
            )
    return np.clip(np.round(plane[:h, :wd]), 0, 255).astype(np.uint8)[:, :, None]
