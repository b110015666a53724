"""Baseline-sequential JPEG codec (ITU-T T.81), stdlib + numpy only.

This module implements the public spec directly — no codec library
is used:

  * encoder: YCbCr planes -> level shift -> 8x8 forward DCT (float64
    basis-matrix form) -> quantize (round) -> zigzag -> DC-difference
    + AC run-length Huffman coding with the Annex K table set ->
    byte-stuffed entropy stream wrapped in SOI/DQT/SOF0/DHT/SOS/EOI
    markers. 4:2:0 (Y 2x2, chroma 1x1) and 4:4:4 layouts, plus
    single-component grayscale.
  * decoder: full marker/segment walk, DQT/DHT/SOF0/SOS parse,
    canonical Huffman decode, dequantize, dezigzag, inverse DCT,
    chroma upsample (sample replication), YCbCr->RGB with
    floor(x+0.5) rounding and [0,255] clamp.

Everything unsupported raises ValueError NAMING the variant —
progressive (SOF2), arithmetic coding, 12-bit precision, restart
intervals (DRI), unknown markers — the same loud-failure posture as
the PNG codec: a payload this decoder cannot fully honor must never
half-decode.

JPEG is lossy in general, so the oracle strategy differs from PNG's:
the driver certificate feeds BLOCK-CONSTANT images, for which the
float DCT/quantize/IDCT chain is EXACTLY invertible (a constant 8x8
block has one nonzero coefficient, DC = 8*(v-128), an exact small
integer in float64; the ~1e-13 float residue in every AC term rounds
to 0), so decode(encode(x)) == x bit-for-bit and a SQL oracle can
recompute the expected pixels. For arbitrary images the pair is
near-lossless at quantizer 1 (|error| <= 2 from the two rounding
steps), pinned by a pytest property.

Reference parity note: the reference stack (see
/root/reference/scripts/extract_load.py) stores media as opaque
blobs and has no decode anywhere; this is north-star K5 surface.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# spec constants
# --------------------------------------------------------------------------

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K Huffman table set (T.81 Tables K.3-K.6): (BITS[1..16], HUFFVAL).
DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
    ],
)
AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# 8x8 DCT-II basis matrix M: forward F = M f M^T, inverse f = M^T F M.
_x = np.arange(8)
_DCT_M = np.cos((2 * _x[None, :] + 1) * _x[:, None] * np.pi / 16) / 2.0
_DCT_M[0, :] /= np.sqrt(2.0)


def _round_half_up(a):
    """Deterministic round (ties toward +inf) — numpy's rint is
    banker's; both sides of every oracle use floor(x + 0.5)."""
    return np.floor(a + 0.5).astype(np.int64)


# --------------------------------------------------------------------------
# Huffman code construction (T.81 Annex C)
# --------------------------------------------------------------------------

def _build_codes(bits, huffval):
    """(BITS, HUFFVAL) -> {symbol: (code, length)} in canonical order."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decode(bits, huffval):
    """(BITS, HUFFVAL) -> (maxcode, mincode, valptr, huffval) — the
    T.81 F.15/F.16 DECODE tables.

    The previous form was {(length, code): symbol}, probed once per
    BIT with a tuple-hash dict lookup — 75% of the decode kernel's
    time in the profile (1.4 M `bit()` calls + 1.4 M dict gets for a
    handful of images). The canonical arrays give the same answer
    with three integer ops per bit. Equivalence for EVERY (BITS,
    HUFFVAL) — including corrupt-DHT garbage, where the flip-fuzz
    test demands identical accept/reject behavior: codes assigned at
    length L are exactly the consecutive values mincode[L]..maxcode[L]
    (the dict's keys), and the extracted code after L bits is always
    ≥ mincode[L] (induction: ext_L = 2·ext_{L-1}+b with ext_{L-1} >
    maxcode[L-1], and the counter doubles alongside), so the
    maxcode test matches precisely the dict's membership test."""
    maxcode = [-1] * 17
    mincode = [0] * 17
    valptr = [0] * 17
    code = 0
    k = 0
    for length in range(1, 17):
        mincode[length] = code
        valptr[length] = k
        n = bits[length - 1]
        if n:
            code += n
            k += n
            maxcode[length] = code - 1
        code <<= 1
    return (maxcode, mincode, valptr, list(huffval))


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG: entropy stream ended early")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG: dangling 0xFF")
            m = self.data[self.pos]
            if m == 0x00:
                self.pos += 1  # stuffed byte
            else:
                # a real marker inside the scan — baseline without
                # restarts never has one before the data is complete
                raise ValueError(
                    f"unexpected marker 0xFF{m:02X} in entropy stream"
                )
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bits(self, length: int) -> int:
        while self.n < length:
            self._fill()
        self.n -= length
        v = (self.acc >> self.n) & ((1 << length) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def bit(self) -> int:
        return self.bits(1)


def _extend(v: int, s: int) -> int:
    """T.81 F.12 EXTEND: s-bit magnitude -> signed value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _size_of(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


# --------------------------------------------------------------------------
# encoder
# --------------------------------------------------------------------------

def _fdct_quant(block: np.ndarray, q: np.ndarray) -> np.ndarray:
    """8x8 spatial (uint8) -> quantized coefficient block (int64)."""
    f = block.astype(np.float64) - 128.0
    coef = _DCT_M @ f @ _DCT_M.T
    return _round_half_up(coef / q)


def _encode_block(w: _BitWriter, coef: np.ndarray, pred: int,
                  dc_codes, ac_codes) -> int:
    zz = coef.reshape(-1)[ZIGZAG]
    diff = int(zz[0]) - pred
    s = _size_of(diff)
    code, length = dc_codes[s]
    w.write(code, length)
    if s:
        w.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            if k > last_nz:
                code, length = ac_codes[0x00]  # EOB
                w.write(code, length)
                break
            run += 1
            if run == 16:
                code, length = ac_codes[0xF0]  # ZRL
                w.write(code, length)
                run = 0
            continue
        s = _size_of(v)
        code, length = ac_codes[(run << 4) | s]
        w.write(code, length)
        w.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    return int(zz[0])


def jpeg_encode_baseline(y: np.ndarray, cb: np.ndarray | None = None,
                         cr: np.ndarray | None = None) -> bytes:
    """Encode YCbCr planes (uint8) as a baseline-sequential JPEG with
    all-ones quantizers. Layouts: grayscale (cb/cr None); 4:4:4
    (chroma same shape as y); 4:2:0 (chroma exactly half each axis).
    Plane dims must be multiples of the block/MCU grid (8 for
    grayscale/4:4:4, 16 for the 4:2:0 luma) — this encoder exists to
    manufacture real payloads for the decode certificate, not to pad
    arbitrary images."""
    y = np.asarray(y, dtype=np.uint8)
    h, w = y.shape
    gray = cb is None
    if gray:
        if h % 8 or w % 8:
            raise ValueError("grayscale dims must be multiples of 8")
        comps = [(1, 1, 1, 0, [y])]
        hmax = vmax = 1
    else:
        cb = np.asarray(cb, dtype=np.uint8)
        cr = np.asarray(cr, dtype=np.uint8)
        if cr.shape != cb.shape:
            # loud-failure posture: numpy slicing
            # would silently crop a mismatched cr to the cb grid
            raise ValueError(
                f"cr shape {cr.shape} != cb shape {cb.shape}"
            )
        if cb.shape == (h, w):
            if h % 8 or w % 8:
                raise ValueError("4:4:4 dims must be multiples of 8")
            comps = [(1, 1, 1, 0, [y]), (2, 1, 1, 1, [cb]),
                     (3, 1, 1, 1, [cr])]
            hmax = vmax = 1
        elif cb.shape == (h // 2, w // 2):
            if h % 16 or w % 16:
                raise ValueError("4:2:0 luma dims must be multiples of 16")
            comps = [(1, 2, 2, 0, [y]), (2, 1, 1, 1, [cb]),
                     (3, 1, 1, 1, [cr])]
            hmax = vmax = 2
        else:
            raise ValueError(
                f"chroma shape {cb.shape} matches neither 4:4:4 nor "
                f"4:2:0 for luma {(h, w)}"
            )

    out = bytearray(b"\xff\xd8")  # SOI
    ones = bytes([1] * 64)  # quantizer 1 everywhere (zigzag order)
    for tq in (0, 1) if not gray else (0,):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq) + ones
    nf = 1 if gray else 3
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nf, 8, h, w, nf)
    for cid, ch, cv, tq, _ in comps:
        out += struct.pack(">BBB", cid, (ch << 4) | cv, tq)
    tables = [(0x00, DC_LUM), (0x10, AC_LUM)]
    if not gray:
        tables += [(0x01, DC_CHR), (0x11, AC_CHR)]
    for tid, (bits, vals) in tables:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tid)
        out += bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nf, nf)
    for cid, *_ in comps:
        out += struct.pack(">BB", cid, 0x00 if cid == 1 else 0x11)
    out += b"\x00\x3f\x00"  # Ss/Se/AhAl (baseline)

    q = np.ones((8, 8), dtype=np.float64)
    dc_l, ac_l = _build_codes(*DC_LUM), _build_codes(*AC_LUM)
    dc_c, ac_c = _build_codes(*DC_CHR), _build_codes(*AC_CHR)
    writer = _BitWriter()
    preds = {cid: 0 for cid, *_ in comps}
    mcus_y = h // (8 * vmax)
    mcus_x = w // (8 * hmax)
    planes = {1: y, 2: cb, 3: cr}
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for cid, ch, cv, _tq, _ in comps:
                plane = planes[cid]
                dc_t, ac_t = (dc_l, ac_l) if cid == 1 else (dc_c, ac_c)
                for by in range(cv):
                    for bx in range(ch):
                        py = (my * cv + by) * 8
                        px = (mx * ch + bx) * 8
                        block = plane[py : py + 8, px : px + 8]
                        coef = _fdct_quant(block, q)
                        preds[cid] = _encode_block(
                            writer, coef, preds[cid], dc_t, ac_t
                        )
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------

_SOF_UNSUPPORTED = {
    0xC1: "extended sequential (SOF1)",
    0xC2: "progressive (SOF2)",
    0xC3: "lossless (SOF3)",
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic sequential (SOF9)",
    0xCA: "arithmetic progressive (SOF10)",
    0xCB: "arithmetic lossless (SOF11)",
    0xCD: "differential arithmetic sequential (SOF13)",
    0xCE: "differential arithmetic progressive (SOF14)",
    0xCF: "differential arithmetic lossless (SOF15)",
}


def jpeg_decode_baseline(b: bytes) -> np.ndarray:
    """Decode a baseline-sequential JPEG. Returns uint8 pixels:
    (h, w, 3) RGB for 3-component YCbCr files, (h, w) for grayscale.
    Raises ValueError, naming the variant, for everything outside
    baseline 8-bit without restart markers; structural corruption
    that lands as an out-of-range length/index in the segment walk is
    translated to ValueError at this boundary so callers see ONE
    loud-failure type (the corruption-posture pytest flips every
    byte)."""
    try:
        return _jpeg_decode_impl(bytes(b))
    except (IndexError, KeyError, struct.error) as exc:
        raise ValueError(f"corrupt JPEG structure: {exc!r}") from exc


def _jpeg_decode_impl(b: bytes) -> np.ndarray:
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI marker")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    scan = None
    while True:
        if pos + 4 > len(b):
            raise ValueError("truncated JPEG: segment header")
        if b[pos] != 0xFF:
            raise ValueError(f"bad marker byte 0x{b[pos]:02X} at {pos}")
        marker = b[pos + 1]
        pos += 2
        if marker == 0xD9:
            raise ValueError("JPEG EOI before scan data")
        (seg_len,) = struct.unpack(">H", b[pos : pos + 2])
        seg = b[pos + 2 : pos + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("truncated JPEG: segment body")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                if pq != 0:
                    raise ValueError("unsupported JPEG: 16-bit quantizer")
                qt[tq] = np.frombuffer(
                    seg[i + 1 : i + 65], dtype=np.uint8
                ).astype(np.float64)
                i += 65
        elif marker == 0xC0:  # SOF0 baseline
            prec, fh, fw, nf = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError(f"unsupported JPEG: {prec}-bit precision")
            if nf not in (1, 3):
                raise ValueError(f"unsupported JPEG: {nf} components")
            comps = []
            for c in range(nf):
                cid, hv, tq = struct.unpack(
                    ">BBB", seg[6 + 3 * c : 9 + 3 * c]
                )
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (fh, fw, comps)
        elif marker in _SOF_UNSUPPORTED:
            raise ValueError(f"unsupported JPEG: {_SOF_UNSUPPORTED[marker]}")
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                if len(bits) != 16 or i + 17 + n > len(seg):
                    raise ValueError("corrupt JPEG DHT segment")
                vals = list(seg[i + 17 : i + 17 + n])
                huff[(tc, th)] = _build_decode(bits, vals)
                i += 17 + n
        elif marker == 0xDD:
            raise ValueError("unsupported JPEG: restart interval (DRI)")
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            stables = []
            for c in range(ns):
                cs, tda = seg[1 + 2 * c], seg[2 + 2 * c]
                stables.append((cs, tda >> 4, tda & 0xF))
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            if (ss, se, ahal) != (0, 63, 0):
                raise ValueError(
                    "unsupported JPEG: non-baseline spectral selection"
                )
            scan = stables
            pos += seg_len
            break
        elif 0xE0 <= marker <= 0xEF or marker == 0xFE:
            pass  # APPn / COM: metadata, skipped
        else:
            raise ValueError(f"unsupported JPEG marker 0xFF{marker:02X}")
        pos += seg_len
    if frame is None:
        raise ValueError("JPEG scan before SOF0 frame header")
    fh, fw, comps = frame
    if len(scan) != len(comps):
        raise ValueError("JPEG scan/frame component count mismatch")

    hmax = max(ch for _, ch, _, _ in comps)
    vmax = max(cv for _, _, cv, _ in comps)
    ok_411 = all((ch, cv) == (1, 1) for _, ch, cv, _ in comps)
    ok_420 = (
        len(comps) == 3
        and (comps[0][1], comps[0][2]) == (2, 2)
        and all((c[1], c[2]) == (1, 1) for c in comps[1:])
    )
    if not (ok_411 or ok_420):
        raise ValueError(
            "unsupported JPEG sampling "
            f"{[(c[1], c[2]) for c in comps]}; this decoder covers "
            "4:4:4, 4:2:0 and grayscale"
        )

    mcus_x = -(-fw // (8 * hmax))
    mcus_y = -(-fh // (8 * vmax))
    planes = {}
    for cid, ch, cv, _tq in comps:
        planes[cid] = np.zeros((mcus_y * cv * 8, mcus_x * ch * 8), np.int64)

    reader = _BitReader(b, pos)
    preds = {cid: 0 for cid, *_ in comps}
    scan_tables = {cs: (td, ta) for cs, td, ta in scan}
    for cid, *_ in comps:
        if cid not in scan_tables:
            raise ValueError(
                f"JPEG scan missing frame component id {cid}"
            )

    def decode_block(dc_table, ac_table):
        # plain-int zigzag buffer + inlined EXTEND: per-element numpy stores and the _extend call
        # were measurable at ~3.4 k blocks/image; arithmetic is
        # unchanged (same ints, same error paths).
        zz = [0] * 64
        s = _decode_symbol(reader, dc_table)
        if s > 11:
            raise ValueError(f"invalid JPEG DC size {s}")
        if s:
            v = reader.bits(s)
            zz[0] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        k = 1
        while k < 64:
            rs = _decode_symbol(reader, ac_table)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if rs == 0x00:
                    break  # EOB
                if rs == 0xF0:
                    k += 16  # ZRL
                    continue
                raise ValueError(f"invalid JPEG AC symbol 0x{rs:02X}")
            k += r
            if k > 63:
                raise ValueError("JPEG AC run past block end")
            v = reader.bits(s)
            zz[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
            k += 1
        return zz

    for my in range(mcus_y):
        for mx in range(mcus_x):
            for cid, ch, cv, tq in comps:
                if tq not in qt:
                    raise ValueError(f"JPEG missing quant table {tq}")
                td, ta = scan_tables[cid]
                dc_table = huff.get((0, td))
                ac_table = huff.get((1, ta))
                if dc_table is None or ac_table is None:
                    raise ValueError("JPEG missing Huffman table")
                for by in range(cv):
                    for bx in range(ch):
                        zz = decode_block(dc_table, ac_table)
                        preds[cid] += zz[0]
                        zz[0] = preds[cid]
                        # dequantize in zigzag order (the DQT segment
                        # stores the table zigzagged), then scatter to
                        # natural order
                        deq = np.array(zz, dtype=np.float64) * qt[tq]
                        coef = np.zeros(64, dtype=np.float64)
                        coef[ZIGZAG] = deq
                        block = _DCT_M.T @ coef.reshape(8, 8) @ _DCT_M
                        px = np.clip(
                            _round_half_up(block + 128.0), 0, 255
                        )
                        py0 = (my * cv + by) * 8
                        px0 = (mx * ch + bx) * 8
                        planes[cid][py0 : py0 + 8, px0 : px0 + 8] = px

    # trailer: optional 0xFF fill bytes, then EOI (T.81 B.1.1.2)
    tail = b[reader.pos :]
    k = 0
    while k + 1 < len(tail) and tail[k] == 0xFF and tail[k + 1] == 0xFF:
        k += 1
    if tail[k : k + 2] != b"\xff\xd9":
        raise ValueError("JPEG missing EOI after scan")

    out_planes = []
    for cid, ch, cv, _tq in comps:
        p = planes[cid]
        # crop to this component's true extent, then upsample by
        # sample replication to the full frame grid
        cw = -(-fw * ch // hmax)
        chh = -(-fh * cv // vmax)
        p = p[:chh, :cw]
        p = np.repeat(np.repeat(p, vmax // cv, axis=0), hmax // ch, axis=1)
        out_planes.append(p[:fh, :fw])
    if len(out_planes) == 1:
        return out_planes[0].astype(np.uint8)
    y, cb, cr = (pl.astype(np.float64) for pl in out_planes)
    r = np.clip(_round_half_up(y + 1.402 * (cr - 128.0)), 0, 255)
    g = np.clip(
        _round_half_up(
            y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        ),
        0,
        255,
    )
    bl = np.clip(_round_half_up(y + 1.772 * (cb - 128.0)), 0, 255)
    return np.stack([r, g, bl], axis=2).astype(np.uint8)


def _decode_symbol(reader: _BitReader, table: tuple) -> int:
    """T.81 F.16 DECODE over the canonical-array tables, with the
    bit extraction inlined (the per-bit `bits(1)` call + tuple-dict
    probe was the decode kernel's hot spot). The byte-fill discipline (stuffing, marker, and
    truncation errors) is untouched: `_fill` is still the only code
    that advances the byte cursor."""
    maxcode, mincode, valptr, huffval = table
    acc = reader.acc
    n = reader.n
    code = 0
    for length in range(1, 17):
        if n == 0:
            reader.acc = acc
            reader.n = n
            reader._fill()
            acc = reader.acc
            n = reader.n
        n -= 1
        code = (code << 1) | ((acc >> n) & 1)
        acc &= (1 << n) - 1
        if code <= maxcode[length]:
            reader.acc = acc
            reader.n = n
            return huffval[valptr[length] + (code - mincode[length])]
    reader.acc = acc
    reader.n = n
    raise ValueError("invalid JPEG Huffman code")
