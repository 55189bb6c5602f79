"""Baseline JPEG (ITU-T T.81) grayscale codec — stdlib-only, from the
public spec, following the repo's PNG playbook (multimodal.py's
``png_pixel_rows``): the container/entropy machinery is REAL and
general (marker walk, DQT/DHT parse, canonical Huffman decode, MSB-first
bitstream with 0xFF00 byte-stuffing, DC-difference prediction, AC
run/size RLE with EOB/ZRL, zigzag de-ordering, dequantization, full
2-D IDCT), and the VALUE ORACLE pins the DC-only tier where the IDCT
output is a closed-form expression the SQL twin reproduces bit-exactly
(a DC-only block's IDCT accumulates exactly one nonzero term, so no
float-summation ambiguity exists; AC blocks are covered by pytest
round-trips against an independent IDCT).

Encoder notes: the DHT segments carry CUSTOM canonical tables (all DC
categories at code length 4, all 162 AC run/size symbols at length 8) —
JPEG files embed their Huffman tables, so any conformant decoder reads
these fixtures; Annex K's optimized tables are an efficiency choice,
not a conformance requirement.  Quantization is 8-bit, single table,
single 8-bit grayscale component (SOF0, 1:1 sampling).

Scale shape: both directions are per-row byte work behind Arrow-batched
``io.flat_map`` — map-only scans, no shuffle, the multimodal plumbing
contract of SURVEY.md §2.12.
"""

from __future__ import annotations

import math
import struct

__all__ = [
    "encode_jpeg_gray",
    "jpeg_gray_pixels",
    "jpeg_gray_stats",
    "DC_IDCT_SCALE",
]


def _zigzag() -> list[int]:
    """Standard zigzag scan order: position i in the stream maps to
    raster index ZZ[i] (u*8+v traversal by anti-diagonals)."""
    order = []
    for d in range(15):
        rng = range(max(0, d - 7), min(d, 7) + 1)
        diag = [(d - j, j) for j in rng]
        if d % 2 == 0:
            diag.reverse()
        order.extend(r * 8 + c for r, c in diag)
    return order


_ZZ = _zigzag()

#: DC Huffman spec: all 12 categories at code length 4 (canonical).
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
#: AC Huffman spec: EOB, ZRL and every (run 0-15, size 1-10) at length 8.
_AC_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_AC_BITS = [0] * 16
_AC_BITS[7] = len(_AC_VALS)  # all codes length 8

#: The exact double the DC-only IDCT multiplies a dequantized DC by:
#: one nonzero term c(0)·c(0)·F, then the final ·0.25 — embedded into
#: the SQL oracle verbatim so the boundary is bit-identical.
_C0 = 1.0 / math.sqrt(2.0)
DC_IDCT_SCALE = (_C0 * _C0) * 0.25


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length), canonical assignment per T.81 C.2."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-fill per spec F.1.2.3
        return bytes(self.out)


def _category(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


def _extend_bits(v: int, cat: int) -> int:
    """Value → the `cat` extra bits the spec appends after the symbol."""
    return v if v >= 0 else v + (1 << cat) - 1


def encode_jpeg_gray(
    blocks: list[list[int]],
    width: int,
    height: int,
    quant: list[int] | None = None,
) -> bytes:
    """Encode quantized-coefficient ``blocks`` (each 64 ints, ZIGZAG
    order, index 0 = DC) as a baseline grayscale JFIF-less JPEG.
    ``len(blocks)`` must equal ceil(w/8)·ceil(h/8), raster MCU order."""
    quant = quant or [16] * 64
    if len(quant) != 64:
        raise ValueError("quant table must have 64 entries")
    need = -(-width // 8) * (-(-height // 8))
    if len(blocks) != need:
        raise ValueError(f"need {need} blocks for {width}x{height}")
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(quant)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, height, width, 1)
    out += bytes([1, 0x11, 0])  # comp id 1, 1x1 sampling, quant table 0
    for cls, bits, vals in ((0, _DC_BITS, _DC_VALS), (1, _AC_BITS, _AC_VALS)):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
        out += bytes([cls << 4]) + bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])

    w = _BitWriter()
    pred = 0
    for blk in blocks:
        if len(blk) != 64:
            raise ValueError("each block carries 64 zigzag coefficients")
        diff = blk[0] - pred
        pred = blk[0]
        cat = _category(diff)
        code, ln = dc_codes[cat]
        w.put(code, ln)
        if cat:
            w.put(_extend_bits(diff, cat), cat)
        k = 1
        while k < 64:
            run = 0
            while k < 64 and blk[k] == 0:
                run += 1
                k += 1
            if k == 64:
                code, ln = ac_codes[0x00]  # EOB
                w.put(code, ln)
                break
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                w.put(code, ln)
                run -= 16
            v = blk[k]
            cat = _category(v)
            if cat > 10:
                raise ValueError(f"AC coefficient {v} out of baseline range")
            code, ln = ac_codes[(run << 4) | cat]
            w.put(code, ln)
            w.put(_extend_bits(v, cat), cat)
            k += 1
    out += w.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker inside entropy data")
                self.pos += 1  # skip stuffed 0x00
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _build_decode(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → symbol for canonical tables."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _read_symbol(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.bit()
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid Huffman code in JPEG stream")


def _extend(v: int, cat: int) -> int:
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


#: cos((2x+1)·u·π/16) table, the one float source both IDCT passes use.
_COS = [[math.cos((2 * x + 1) * u * math.pi / 16.0) for u in range(8)] for x in range(8)]
_CU = [_C0] + [1.0] * 7


def _idct_block(coef: list[int]) -> list[int]:
    """Direct 2-D IDCT + level shift + floor(x+0.5) + clamp, over a
    raster-order dequantized 8×8 block.  Zero coefficients contribute
    exact-zero terms, so a DC-only block's output is EXACTLY
    floor(DC_IDCT_SCALE·dcq + 0.5) + 128 — the oracle contract."""
    out = []
    for y in range(8):
        for x in range(8):
            acc = 0.0
            for u in range(8):
                for v in range(8):
                    f = coef[u * 8 + v]
                    if f:
                        acc += (
                            ((_CU[u] * _CU[v]) * f)
                            * _COS[y][u]
                        ) * _COS[x][v]
            s = int(math.floor(acc * 0.25 + 0.5)) + 128
            out.append(0 if s < 0 else 255 if s > 255 else s)
    return out


def jpeg_gray_pixels(data: bytes) -> tuple[int, int, list[list[int]]]:
    """Decode a baseline single-component JPEG: returns (width, height,
    rows) with rows cropped to the declared dimensions."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    quant: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    width = height = 0
    comp_q = 0
    dc_id = ac_id = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            raise ValueError("EOI before SOS")
        seglen = struct.unpack(">H", data[pos : pos + 2])[0]
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT — possibly several tables
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                if pq != 0:
                    raise ValueError("only 8-bit quant tables supported")
                quant[tq] = list(seg[i + 1 : i + 65])
                i += 65
        elif marker == 0xC4:  # DHT — possibly several tables
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                huff[(cls, tid)] = _build_decode(bits, vals)
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            precision, height, width, ncomp = struct.unpack(">BHHB", seg[:6])
            if precision != 8 or ncomp != 1:
                raise ValueError("only 8-bit single-component baseline supported")
            comp_q = seg[8]
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError(f"unsupported SOF type 0x{marker:02x}")
        elif marker == 0xDA:  # SOS — entropy data follows
            dc_id, ac_id = seg[2] >> 4, seg[2] & 0xF
            pos += seglen
            break
        pos += seglen
    else:
        raise ValueError("no SOS segment")
    if not width or comp_q not in quant:
        raise ValueError("missing SOF0/DQT before SOS")
    q = quant[comp_q]
    dc_table, ac_table = huff[(0, dc_id)], huff[(1, ac_id)]

    r = _BitReader(data[pos:])
    bw, bh = -(-width // 8), -(-height // 8)
    rows = [[0] * width for _ in range(height)]
    pred = 0
    for by in range(bh):
        for bx in range(bw):
            zz = [0] * 64
            cat = _read_symbol(r, dc_table)
            diff = _extend(r.bits(cat), cat) if cat else 0
            pred += diff
            zz[0] = pred
            k = 1
            while k < 64:
                sym = _read_symbol(r, ac_table)
                if sym == 0x00:  # EOB
                    break
                if sym == 0xF0:  # ZRL
                    k += 16
                    continue
                run, size = sym >> 4, sym & 0xF
                k += run
                if k > 63:
                    raise ValueError("AC run past end of block")
                zz[k] = _extend(r.bits(size), size)
                k += 1
            coef = [0] * 64
            for i, pos_r in enumerate(_ZZ):
                coef[pos_r] = zz[i] * q[i]
            px = _idct_block(coef)
            for y in range(8):
                yy = by * 8 + y
                if yy >= height:
                    break
                for x in range(8):
                    xx = bx * 8 + x
                    if xx < width:
                        rows[yy][xx] = px[y * 8 + x]
    return width, height, rows


def jpeg_gray_stats(data: bytes) -> dict:
    """(width, height, n_pixels, sum_gray, min_gray, max_gray) — the
    reduce the registry query value-oracles."""
    w, h, rows = jpeg_gray_pixels(data)
    flat = [v for row in rows for v in row]
    return {
        "width": w,
        "height": h,
        "n_pixels": len(flat),
        "sum_gray": sum(flat),
        "min_gray": min(flat),
        "max_gray": max(flat),
    }
