"""Pure-numpy baseline JPEG codec (grayscale, sequential DCT, JFIF).

Retires the round-1 fake-lossy stub: the container has no PIL/libjpeg,
so the entropy coding is implemented directly from the public JPEG
specification (ITU-T T.81) — standard Annex K luminance quantization
and Huffman tables, zigzag scan, DC DPCM, AC run-length coding, byte
stuffing. Output is a spec-valid single-component JFIF file (decodable
by any standard JPEG decoder); ``decode_jpeg`` parses DQT/SOF0/DHT/SOS
from the stream itself, so the two sides share no hidden state.

Scope: 8-bit grayscale baseline (the engine's kernel consumes a mono
mixdown anyway — multi-channel inputs are mixed via ``to_gray``
upstream, mirroring the reference's stereo→mono,
/root/reference/rp_extract.py:477-481). The block DCT/quantization is
vectorized over all blocks; only the entropy loop is per-coefficient,
which is fine inside Arrow-batched fixture synthesis.
"""

from __future__ import annotations

import numpy as np

# ---- Annex K tables -------------------------------------------------

STD_LUMA_QUANT = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)

DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))

AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
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

_ZZ = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])


def _dct8() -> np.ndarray:
    k = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    d = np.cos(np.pi * (2 * x + 1) * k / 16.0) * 0.5
    d[0] *= 1.0 / np.sqrt(2.0)
    return d


_D8 = _dct8()


def quant_table(quality: int) -> np.ndarray:
    """IJG quality scaling of the Annex K luminance table."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (STD_LUMA_QUANT * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) from the (BITS, HUFFVAL) spec lists."""
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


_DC_CODES = _canonical_codes(DC_BITS, DC_VALS)
_AC_CODES = _canonical_codes(AC_BITS, AC_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s
        return bytes(self.out)


def _pack_scan_bits(codes: "list[int]", lens: "list[int]") -> bytes:
    """MSB-first bit packing of (code, length) symbol pairs with
    trailing-1 padding to a byte boundary and 0xFF byte stuffing —
    byte-identical to streaming the pairs through ``_BitWriter`` and
    flushing, but vectorized (one bit-expansion + np.packbits instead
    of a Python loop per symbol)."""
    if not codes:
        return b""
    c = np.asarray(codes, dtype=np.int64)
    ln = np.asarray(lens, dtype=np.int64)
    total = int(ln.sum())
    pad = (-total) % 8
    if pad:
        c = np.append(c, (1 << pad) - 1)
        ln = np.append(ln, pad)
        total += pad
    offs = np.cumsum(ln) - ln
    rep_c = np.repeat(c, ln)
    idx = np.arange(total, dtype=np.int64) - np.repeat(offs, ln)
    shift = np.repeat(ln, ln) - 1 - idx
    bits = ((rep_c >> shift) & 1).astype(np.uint8)
    by = np.packbits(bits)
    ff = np.flatnonzero(by == 0xFF)
    if ff.size:
        by = np.insert(by, ff + 1, 0)
    return by.tobytes()


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _amplitude(v: int, size: int) -> int:
    # negative amplitudes are stored as v - 1 in `size` bits (T.81 F1.2.1)
    return v if v >= 0 else v + (1 << size) - 1


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def encode_jpeg(pixels: np.ndarray, quality: int = 95) -> bytes:
    """Encode 2-D uint8 grayscale to a baseline JFIF JPEG."""
    if pixels.dtype != np.uint8 or pixels.ndim != 2:
        raise ValueError("encode_jpeg expects 2-D uint8 pixels")
    h, w = pixels.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    q = quant_table(quality)

    ph = (-h) % 8
    pw = (-w) % 8
    img = np.pad(pixels, ((0, ph), (0, pw)), mode="edge").astype(np.float64) - 128.0
    H, W = img.shape
    blocks = img.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)
    coef = np.einsum("ij,abjk,lk->abil", _D8, blocks, _D8)
    quant = np.round(coef / q).astype(np.int32)
    zz = quant.reshape(-1, 64)[:, _ZZ]  # row-major block order

    # collect (code, length) symbol pairs, then pack the whole scan in
    # one vectorized pass (round 6: the per-symbol _BitWriter.write
    # loop dominated encode time; _pack_scan_bits produces the
    # identical byte stream — same MSB-first order, same 1-padding,
    # same 0xFF byte stuffing)
    codes: list[int] = []
    lens: list[int] = []
    prev_dc = 0
    for blk in zz:
        dc = int(blk[0])
        diff = dc - prev_dc
        prev_dc = dc
        s = _category(diff)
        code, length = _DC_CODES[s]
        codes.append(code)
        lens.append(length)
        if s:
            codes.append(_amplitude(diff, s))
            lens.append(s)
        run = 0
        last_nz = np.flatnonzero(blk[1:])
        end = (last_nz[-1] + 1) if last_nz.size else 0
        for i in range(1, end + 1):
            v = int(blk[i])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = _AC_CODES[0xF0]  # ZRL
                codes.append(code)
                lens.append(length)
                run -= 16
            s = _category(v)
            code, length = _AC_CODES[(run << 4) | s]
            codes.append(code)
            lens.append(length)
            codes.append(_amplitude(v, s))
            lens.append(s)
            run = 0
        if end < 63:
            code, length = _AC_CODES[0x00]  # EOB
            codes.append(code)
            lens.append(length)
    scan = _pack_scan_bits(codes, lens)

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, bytes([0x00]) + bytes(int(x) for x in q.flatten()[_ZZ]))
    out += _seg(
        0xC0,
        bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),
    )
    out += _seg(0xC4, bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS))
    out += _seg(0xC4, bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS))
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# decode LUTs: peek 16 bits -> (symbol, code length). Built once per
# distinct (bits, vals) table and cached — the standard tables hit the
# cache on every decode call.
_LUT_CACHE: dict[bytes, list[tuple[int, int]]] = {}


def _decode_table(bits: list[int], vals: list[int]) -> list[tuple[int, int]]:
    key = bytes(bits) + bytes(vals)
    lut = _LUT_CACHE.get(key)
    if lut is not None:
        return lut
    lut = [(-1, 0)] * 65536
    for sym, (code, length) in _canonical_codes(bits, vals).items():
        base = code << (16 - length)
        for suffix in range(1 << (16 - length)):
            lut[base | suffix] = (sym, length)
    _LUT_CACHE[key] = lut
    return lut


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline single-component JPEG produced by
    ``encode_jpeg`` (or any grayscale baseline encoder without restart
    markers). Tables are parsed from the stream."""
    try:
        return _decode_jpeg(data)
    except (IndexError, KeyError) as e:
        # out-of-range segment reads / missing tables on corrupt input
        raise ValueError(f"truncated or corrupt JPEG: {e!r}") from e


def _decode_jpeg(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[int, list[tuple[int, int]]] = {}
    h = w = None
    comp_q = 0
    scan_start = None
    dc_id = ac_id = 0
    while pos < len(data) - 1:
        if data[pos] != 0xFF:
            raise ValueError("marker desync")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        seglen = int.from_bytes(data[pos + 2:pos + 4], "big")
        body = data[pos + 4:pos + 2 + seglen]
        if marker == 0xDB:
            i = 0
            while i < len(body):
                prec_id = body[i]
                if prec_id >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                t = np.zeros(64, dtype=np.int32)
                t[_ZZ] = np.frombuffer(body[i + 1:i + 65], dtype=np.uint8)
                qtables[prec_id & 0x0F] = t.reshape(8, 8)
                i += 65
        elif marker == 0xC0:
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            if body[5] != 1:
                raise ValueError("only single-component (grayscale) JPEG")
            comp_q = body[8]
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline sequential JPEG supported")
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tc_th = body[i]
                bits = list(body[i + 1:i + 17])
                n = sum(bits)
                vals = list(body[i + 17:i + 17 + n])
                htables[tc_th] = _decode_table(bits, vals)
                i += 17 + n
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:
            dc_id = body[2] >> 4
            ac_id = body[2] & 0x0F
            scan_start = pos + 2 + seglen
            break
        pos += 2 + seglen
    if scan_start is None or h is None:
        raise ValueError("truncated JPEG (no SOS/SOF)")
    q = qtables[comp_q]
    dct = htables[0x00 | dc_id]
    act = htables[0x10 | ac_id]

    H = (h + 7) // 8 * 8
    W = (w + 7) // 8 * 8
    n_blocks = (H // 8) * (W // 8)

    # unstuff the scan once: inside entropy data every 0xFF is followed
    # by 0x00, so the first 0xFF followed by non-zero is a marker
    scan = data[scan_start:]
    m = 0
    while True:
        m = scan.find(0xFF, m)
        if m < 0 or m + 1 >= len(scan) or scan[m + 1] != 0x00:
            break
        m += 2
    end = m if m >= 0 else len(scan)
    buf = scan[:end].replace(b"\xff\x00", b"\xff") + b"\xff\xff"  # 1-pad tail

    # inlined bit loop with the 16-bit LUTs (hot path: the per-symbol
    # Python is ~5x cheaper than a per-bit reader)
    flat_idx: list[int] = []
    flat_val: list[int] = []
    acc = 0
    nbits = 0
    pos = 0
    prev_dc = 0
    blen = len(buf)
    for b in range(n_blocks):
        base = b << 6
        while nbits < 16:
            if pos >= blen:
                raise ValueError("truncated JPEG scan")
            acc = ((acc << 8) | buf[pos]) & 0xFFFFFF
            pos += 1
            nbits += 8
        s, length = dct[(acc >> (nbits - 16)) & 0xFFFF]
        if s < 0 or s > 15:
            # s > 15 only arises from a corrupt DHT segment
            raise ValueError("invalid Huffman code in JPEG scan")
        nbits -= length
        if s:
            while nbits < s:
                acc = ((acc << 8) | buf[pos]) & 0xFFFFFF
                pos += 1
                nbits += 8
            v = (acc >> (nbits - s)) & ((1 << s) - 1)
            nbits -= s
            prev_dc += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        flat_idx.append(base)
        flat_val.append(prev_dc)
        k = 1
        while k < 64:
            while nbits < 16:
                if pos >= blen:
                    raise ValueError("truncated JPEG scan")
                acc = ((acc << 8) | buf[pos]) & 0xFFFFFF
                pos += 1
                nbits += 8
            sym, length = act[(acc >> (nbits - 16)) & 0xFFFF]
            if sym < 0:
                raise ValueError("invalid Huffman code in JPEG scan")
            nbits -= length
            if sym == 0x00:  # EOB
                break
            s = sym & 0x0F
            if s == 0:
                if sym != 0xF0:
                    raise ValueError("invalid AC symbol")
                k += 16  # ZRL
                continue
            k += sym >> 4
            if k > 63:
                raise ValueError("AC run overflow")
            while nbits < s:
                acc = ((acc << 8) | buf[pos]) & 0xFFFFFF
                pos += 1
                nbits += 8
            v = (acc >> (nbits - s)) & ((1 << s) - 1)
            nbits -= s
            flat_idx.append(base + k)
            flat_val.append(v if v >= (1 << (s - 1)) else v - (1 << s) + 1)
            k += 1
    zz = np.zeros(n_blocks * 64, dtype=np.int32)
    try:
        zz[flat_idx] = flat_val
    except OverflowError as e:  # corrupt DC ladder overran int32
        raise ValueError(f"corrupt JPEG coefficients: {e}") from e
    zz = zz.reshape(n_blocks, 64)

    blocks = np.zeros((n_blocks, 64), dtype=np.float64)
    blocks[:, _ZZ] = zz
    blocks = blocks.reshape(n_blocks, 8, 8) * q
    spatial = np.einsum("ji,ajk,kl->ail", _D8, blocks, _D8)
    img = (
        spatial.reshape(H // 8, W // 8, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(H, W)
    )
    return np.clip(np.round(img + 128.0), 0, 255).astype(np.uint8)[:h, :w]
