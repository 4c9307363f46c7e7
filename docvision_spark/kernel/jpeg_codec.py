"""Pure-numpy baseline JPEG codec (ITU-T T.81 baseline sequential DCT).

The reference accepts any cv2-readable image (src/docvision/core/parser.py:
554-563 cv2.imread), and real crawl <img> payloads are overwhelmingly JPEG —
round-2 verdict named this the biggest remaining capability gap. No
cv2/PIL/libjpeg exists in this container, so both sides are from scratch:

  decode — baseline sequential (SOF0) AND progressive (SOF2: spectral
           selection + successive approximation, DC/AC refinement scans,
           EOB runs), 8-bit, 1 (gray) or 3 (YCbCr) components, arbitrary
           1..2 sampling factors (4:4:4 / 4:2:2 / 4:2:0), DRI restart
           intervals, multiple DQT/DHT segments. Arithmetic coding,
           12-bit and CMYK are rejected with a typed error (they land in
           the media `error` column, never a task failure).
  encode — Annex K quant tables scaled by libjpeg's quality curve, Annex K
           huffman tables, 4:4:4 / 4:2:0 / grayscale. Deterministic
           (integer quality scaling, float64 DCT with fixed rounding), used
           by synthesize_media and the round-trip tests.

All DCT math is float64 with half-up rounding at the final uint8 clamp, so
outputs are bit-stable across runs and partitions (feature rows feed
hash-compared oracles). The IDCT is the separable 8x8 basis-matrix product
applied to ALL blocks of a component in one einsum — no per-pixel Python.
The entropy decoder is a per-symbol loop (inherently serial bitstream), fed
through a 16-bit prefix lookup table so each symbol is one dict-free step.
"""

from __future__ import annotations

import struct

import numpy as np

from docvision_spark.kernel.image_codec import ImageDecodeError

# ---------------------------------------------------------------- constants

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.int64)

# Annex K.1 luminance / chrominance quantization tables (quality 50 base)
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int64)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int64)

# Annex K.3 typical huffman tables: (bits[1..16], values)
HUFF_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                list(range(12)))
HUFF_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                  list(range(12)))
HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

# 8x8 DCT-II basis matrix: C[u, x] = a(u) cos((2x+1)u pi / 16)
_C = np.zeros((8, 8), dtype=np.float64)
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _C[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _fdct_blocks(blocks: np.ndarray) -> np.ndarray:
    """Forward DCT over (N, 8, 8) float64 blocks: C . B . C^T."""
    return np.einsum("ux,nxy,vy->nuv", _C, blocks, _C, optimize=True)


def _idct_blocks(coeffs: np.ndarray) -> np.ndarray:
    """Inverse DCT over (N, 8, 8) float64 coefficient blocks: C^T . X . C
    (the pattern's index roles already transpose — pass C itself)."""
    return np.einsum("ux,nuv,vy->nxy", _C, coeffs, _C, optimize=True)


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality curve: 50 -> table as-is, 100 -> all ones."""
    quality = min(100, max(1, int(quality)))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (table * s + 50) // 100
    return np.clip(q, 1, 255)


# ------------------------------------------------------------------- encoder

_CATEGORY_CACHE: dict[int, tuple[int, int]] = {}


def _category(v: int) -> tuple[int, int]:
    """(size, amplitude bits) for a DC diff / AC coefficient (F.1.2.1.1)."""
    got = _CATEGORY_CACHE.get(v)
    if got is not None:
        return got
    a = abs(v)
    size = a.bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    _CATEGORY_CACHE[v] = (size, bits)
    return size, bits


def _build_encode_table(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per C.2 canonical code assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:          # byte stuffing (B.1.1.5)
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            b = ((self.acc << pad) | ((1 << pad) - 1)) & 0xFF  # 1-pad
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
            self.acc = self.nbits = 0
        return bytes(self.buf)


def _encode_block(w: _BitWriter, coeffs: np.ndarray, pred: int,
                  dc_tab: dict, ac_tab: dict) -> int:
    """Huffman-encode one zigzagged int block; returns the new DC predictor."""
    zz = coeffs[ZIGZAG]
    dc = int(zz[0])
    size, bits = _category(dc - pred)
    code, ln = dc_tab[size]
    w.write(code, ln)
    if size:
        w.write(bits, size)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]       # ZRL
            w.write(code, ln)
            run -= 16
        size, bits = _category(v)
        code, ln = ac_tab[(run << 4) | size]
        w.write(code, ln)
        w.write(bits, size)
        run = 0
    if last_nz < 63:
        code, ln = ac_tab[0x00]           # EOB
        w.write(code, ln)
    return dc


def _build_fixed_table(lengths: dict[int, int]) -> tuple[list[int], list[int]]:
    """Canonical (bits, values) from {symbol: code length} — used for the
    progressive AC table, which needs EOBn/refinement symbols the Annex K
    tables lack. Kraft inequality asserted (sum 2^-len <= 1)."""
    assert sum(2.0 ** -ln for ln in lengths.values()) <= 1.0
    bits = [0] * 16
    values: list[int] = []
    for sym, ln in sorted(lengths.items(), key=lambda kv: (kv[1], kv[0])):
        bits[ln - 1] += 1
        values.append(sym)
    return bits, values


def _progressive_ac_lengths() -> dict[int, int]:
    """Fixed-length assignment for every symbol a progressive AC scan can
    emit: (run<<4|size) size 1..10, EOBn (r<<4, r<15), ZRL. Short codes for
    the overwhelmingly-common symbols; compression is secondary to having a
    COMPLETE deterministic table."""
    lengths: dict[int, int] = {0x00: 3, 0x01: 4, 0x11: 4}
    for r in range(16):
        s = (r << 4) | 1
        if s not in lengths:
            lengths[s] = 6          # newly-significant (refine) / size-1
    for r in range(1, 15):
        lengths[r << 4] = 8         # EOBn
    lengths[0xF0] = 8               # ZRL
    for r in range(16):
        for s in range(2, 11):
            lengths.setdefault((r << 4) | s, 12)
    return lengths


PROG_AC_TABLE = _build_fixed_table(_progressive_ac_lengths())


def _component_blocks(plane: np.ndarray, bw: int, bh: int) -> np.ndarray:
    """Edge-replicate plane to (8*bh, 8*bw) and split into (bh*bw, 8, 8)
    blocks in raster order."""
    h, w = plane.shape
    padded = np.empty((bh * 8, bw * 8), dtype=np.float64)
    padded[:h, :w] = plane
    if bw * 8 > w:
        padded[:h, w:] = plane[:, -1:]
    if bh * 8 > h:
        padded[h:, :] = padded[h - 1:h, :]
    return (padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
                  .reshape(bh * bw, 8, 8))


def _rgb_to_ycbcr(rgb: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return y, cb, cr


def _marker(tag: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, tag, len(body) + 2) + body


def _dqt_segment(qid: int, table: np.ndarray) -> bytes:
    return _marker(0xDB, bytes([qid]) + bytes(int(v) for v in table[ZIGZAG]))


def _dht_segment(cls: int, tid: int, bits: list[int], values: list[int]) -> bytes:
    return _marker(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(values))


def encode_jpeg(arr: np.ndarray, quality: int = 85,
                subsample: str = "444", restart_interval: int = 0,
                progressive: bool = False) -> bytes:
    """Encode (H, W) gray or (H, W, 3) uint8 RGB as JFIF JPEG — baseline
    sequential (SOF0) or, with progressive=True, progressive (SOF2) with a
    4-phase scan script exercising BOTH progressive mechanisms: DC first at
    Al=1 + DC refinement, then per-component AC spectral-selection first
    scans at Al=1 (EOB-run coded) + AC successive-approximation refinement.

    subsample: '444' (no chroma subsampling) or '420' (2x2 on Y). Gray
    input always encodes single-component. restart_interval > 0 emits a DRI
    segment and RSTn markers every N MCUs (baseline only — ignored for
    progressive). Deterministic for fixed input."""
    arr = np.asarray(arr, dtype=np.uint8)
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError(f"encode_jpeg: bad shape {arr.shape}")
    if subsample not in ("444", "420"):
        raise ValueError(f"encode_jpeg: bad subsample {subsample}")
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("encode_jpeg: zero dimension")
    ql = _quality_scale(QUANT_LUMA, quality)
    qc = _quality_scale(QUANT_CHROMA, quality)
    dc_l = _build_encode_table(*HUFF_DC_LUMA)
    ac_l = _build_encode_table(*HUFF_AC_LUMA)
    dc_c = _build_encode_table(*HUFF_DC_CHROMA)
    ac_c = _build_encode_table(*HUFF_AC_CHROMA)

    if gray:
        planes = [arr.astype(np.float64)]
        samp = [(1, 1)]
        qtabs = [ql]
    else:
        y, cb, cr = _rgb_to_ycbcr(arr)
        if subsample == "420":
            # box-average 2x2 chroma (pad odd edges by replication first)
            def down2(p: np.ndarray) -> np.ndarray:
                ph = p if p.shape[0] % 2 == 0 else np.vstack([p, p[-1:]])
                ph = ph if ph.shape[1] % 2 == 0 else np.hstack([ph, ph[:, -1:]])
                return (ph[0::2, 0::2] + ph[0::2, 1::2]
                        + ph[1::2, 0::2] + ph[1::2, 1::2]) / 4.0
            planes = [y, down2(cb), down2(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        qtabs = [ql, qc, qc]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # per-component quantized blocks in raster order
    comp_blocks: list[np.ndarray] = []
    comp_bw: list[int] = []
    for plane, (sh, sv), qt in zip(planes, samp, qtabs):
        bw, bh = mcus_x * sh, mcus_y * sv
        blocks = _component_blocks(plane - 128.0, bw, bh)
        coeffs = _fdct_blocks(blocks)
        qmat = qt.reshape(8, 8).astype(np.float64)
        quant = np.round(coeffs / qmat).astype(np.int64)
        comp_blocks.append(quant.reshape(bh, bw, 64))
        comp_bw.append(bw)

    out = bytearray(b"\xFF\xD8")                       # SOI
    out += _marker(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _dqt_segment(0, ql)
    if not gray:
        out += _dqt_segment(1, qc)
    sof = bytearray(struct.pack(">BHHB", 8, h, w, len(planes)))
    for ci, (sh, sv) in enumerate(samp):
        sof += bytes([ci + 1, (sh << 4) | sv, 0 if ci == 0 else 1])
    out += _marker(0xC2 if progressive else 0xC0, bytes(sof))
    out += _dht_segment(0, 0, *HUFF_DC_LUMA)
    if not gray:
        out += _dht_segment(0, 1, *HUFF_DC_CHROMA)
    if progressive:
        out += _dht_segment(1, 0, *PROG_AC_TABLE)
    else:
        out += _dht_segment(1, 0, *HUFF_AC_LUMA)
        if not gray:
            out += _dht_segment(1, 1, *HUFF_AC_CHROMA)

    if progressive:
        out += _encode_progressive_scans(comp_blocks, samp, mcus_x, mcus_y,
                                         dc_l, dc_c, w, h)
    else:
        if restart_interval:
            out += _marker(0xDD, struct.pack(">H", restart_interval))
        scan = bytearray()
        wtr = _BitWriter()
        preds = [0] * len(planes)
        mcu_count = 0
        rst = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                    scan += wtr.flush()
                    scan += bytes([0xFF, 0xD0 + rst])
                    rst = (rst + 1) % 8
                    wtr = _BitWriter()
                    preds = [0] * len(planes)
                for ci, (sh, sv) in enumerate(samp):
                    dct_t = dc_l if ci == 0 else dc_c
                    ac_t = ac_l if ci == 0 else ac_c
                    for by in range(sv):
                        for bx in range(sh):
                            blk = comp_blocks[ci][my * sv + by, mx * sh + bx]
                            preds[ci] = _encode_block(wtr, blk, preds[ci],
                                                      dct_t, ac_t)
                mcu_count += 1
        scan += wtr.flush()
        sos = bytearray([len(planes)])
        for ci in range(len(planes)):
            sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
        sos += b"\x00\x3F\x00"
        out += _marker(0xDA, bytes(sos))               # SOS
        out += bytes(scan)
    out += b"\xFF\xD9"                                 # EOI
    return bytes(out)


def _sos_header(comp_ids: list[int], td_ta: list[tuple[int, int]],
                ss: int, se: int, ah: int, al: int) -> bytes:
    sos = bytearray([len(comp_ids)])
    for cid, (td, ta) in zip(comp_ids, td_ta):
        sos += bytes([cid, (td << 4) | ta])
    sos += bytes([ss, se, (ah << 4) | al])
    return _marker(0xDA, bytes(sos))


def _trunc_shift(v: int, al: int) -> int:
    """T.81 point transform for AC: |v| >> Al with sign restored
    (truncation toward zero, NOT arithmetic shift)."""
    return -((-v) >> al) if v < 0 else v >> al


def _encode_progressive_scans(comp_blocks: list[np.ndarray], samp: list,
                              mcus_x: int, mcus_y: int,
                              dc_l: dict, dc_c: dict,
                              w: int, h: int) -> bytes:
    """4-phase progressive scan script (see encode_jpeg docstring). DC uses
    arithmetic shift (T.81 G.1.2.1); AC uses toward-zero truncation."""
    nc = len(comp_blocks)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    ac_tab = _build_encode_table(*PROG_AC_TABLE)
    out = bytearray()

    def mcu_blocks(ci: int):
        """Non-interleaved scan order: the component's TRUE block grid in
        RASTER order (T.81 A.2.2) — NOT MCU order, which differs whenever
        the component is super-sampled (Y in 4:2:0)."""
        sh, sv = samp[ci]
        cw = -(-(w * sh) // hmax)
        ch = -(-(h * sv) // vmax)
        for by in range(-(-ch // 8)):
            for bx in range(-(-cw // 8)):
                yield comp_blocks[ci][by, bx]

    # --- scan 1: DC first, interleaved, Ah=0 Al=1 (arithmetic shift)
    out += _sos_header(list(range(1, nc + 1)),
                       [(0 if i == 0 else 1, 0) for i in range(nc)],
                       0, 0, 0, 1)
    wtr = _BitWriter()
    preds = [0] * nc
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in range(nc):
                sh, sv = samp[ci]
                tab = dc_l if ci == 0 else dc_c
                for by in range(sv):
                    for bx in range(sh):
                        dc = int(comp_blocks[ci][my * sv + by, mx * sh + bx][0]) >> 1
                        size, bits = _category(dc - preds[ci])
                        code, ln = tab[size]
                        wtr.write(code, ln)
                        if size:
                            wtr.write(bits, size)
                        preds[ci] = dc
    out += wtr.flush()

    # --- scan 2: DC refinement, interleaved, Ah=1 Al=0 (raw LSB per block)
    out += _sos_header(list(range(1, nc + 1)), [(0, 0)] * nc, 0, 0, 1, 0)
    wtr = _BitWriter()
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in range(nc):
                sh, sv = samp[ci]
                for by in range(sv):
                    for bx in range(sh):
                        wtr.write(int(comp_blocks[ci][my * sv + by,
                                                      mx * sh + bx][0]) & 1, 1)
    out += wtr.flush()

    # --- per component: AC first scan, Ss=1 Se=63, Ah=0 Al=1
    for ci in range(nc):
        out += _sos_header([ci + 1], [(0, 0)], 1, 63, 0, 1)
        wtr = _BitWriter()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun > 0:
                r = eobrun.bit_length() - 1
                code, ln = ac_tab[r << 4]
                wtr.write(code, ln)
                if r:
                    wtr.write(eobrun - (1 << r), r)
                eobrun = 0

        for blk in mcu_blocks(ci):
            zz = blk[ZIGZAG]
            vals = [_trunc_shift(int(zz[k]), 1) for k in range(1, 64)]
            last = max((i for i, v in enumerate(vals) if v), default=-1)
            if last < 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            run = 0
            for v in vals[:last + 1]:
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_tab[0xF0]
                    wtr.write(code, ln)
                    run -= 16
                size, bits = _category(v)
                code, ln = ac_tab[(run << 4) | size]
                wtr.write(code, ln)
                wtr.write(bits, size)
                run = 0
            if last < 62:
                eobrun += 1
        flush_eob()
        out += wtr.flush()

    # --- per component: AC refinement, Ss=1 Se=63, Ah=1 Al=0
    for ci in range(nc):
        out += _sos_header([ci + 1], [(0, 0)], 1, 63, 1, 0)
        wtr = _BitWriter()
        eobrun = 0
        pending: list[int] = []   # correction bits riding the next EOBn

        def flush_eob_refine():
            nonlocal eobrun, pending
            if eobrun > 0:
                r = eobrun.bit_length() - 1
                code, ln = ac_tab[r << 4]
                wtr.write(code, ln)
                if r:
                    wtr.write(eobrun - (1 << r), r)
                for b in pending:
                    wtr.write(b, 1)
                eobrun = 0
                pending = []

        for blk in mcu_blocks(ci):
            zz = [int(v) for v in blk[ZIGZAG]]
            # t = |v| at Al=0; t==1 -> newly significant, t>1 -> correction
            ts = [abs(zz[k]) for k in range(1, 64)]
            last_new = max((i for i, t in enumerate(ts) if t == 1), default=-1)
            if last_new < 0:
                # EOB block: whole-band correction bits ride the run
                eobrun += 1
                pending.extend(t & 1 for t in ts if t > 1)
                if eobrun == 0x7FFF:
                    flush_eob_refine()
                continue
            flush_eob_refine()
            run = 0
            br: list[int] = []
            for i in range(last_new + 1):
                t = ts[i]
                if t == 0:
                    run += 1
                    continue
                # ZRL check BEFORE the correction-bit branch (libjpeg
                # ordering): the decoder's post-ZRL walk consumes
                # correction bits only up to the 16th zero, so a pending
                # long run must be split before buffering further bits
                while run > 15:
                    code, ln = ac_tab[0xF0]
                    wtr.write(code, ln)
                    for b in br:
                        wtr.write(b, 1)
                    br = []
                    run -= 16
                if t > 1:
                    br.append(t & 1)
                    continue
                code, ln = ac_tab[(run << 4) | 1]
                wtr.write(code, ln)
                wtr.write(1 if zz[1 + i] > 0 else 0, 1)
                for b in br:
                    wtr.write(b, 1)
                br = []
                run = 0
            if last_new < 62:
                # trailing EOB joins the run; tail correction bits buffered
                eobrun += 1
                pending.extend(t & 1 for t in ts[last_new + 1:] if t > 1)
        flush_eob_refine()
        out += wtr.flush()

    return bytes(out)


# ------------------------------------------------------------------- decoder

class _HuffTable:
    """16-bit prefix lookup: peek 16 bits -> (symbol, code length)."""

    __slots__ = ("lookup_sym", "lookup_len")

    def __init__(self, bits: list[int], values: bytes | list[int]) -> None:
        self.lookup_sym = np.zeros(1 << 16, dtype=np.int16)
        self.lookup_len = np.zeros(1 << 16, dtype=np.uint8)
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                if k >= len(values):
                    raise ImageDecodeError("jpeg: bad DHT counts")
                lo = code << (16 - length)
                hi = (code + 1) << (16 - length)
                self.lookup_sym[lo:hi] = values[k]
                self.lookup_len[lo:hi] = length
                code += 1
                k += 1
            if code > (1 << length):
                raise ImageDecodeError("jpeg: overfull huffman table")
            code <<= 1


class _BitReader:
    """MSB-first reader over the entropy-coded segment. 0xFF00 destuffing;
    a bare 0xFFxx marker ends the segment (restart handled by caller)."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 48:
            if self.pos >= len(self.data):
                self.acc = (self.acc << 8) | 0  # zero-pad past the end
                self.nbits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                    self.acc = (self.acc << 8) | 0xFF
                    self.nbits += 8
                    continue
                # a real marker: feed zeros (scan is over; caller detects)
                self.acc = self.acc << 8
                self.nbits += 8
                continue
            self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def peek16(self) -> int:
        if self.nbits < 16:
            self._fill()
        return (self.acc >> (self.nbits - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.skip(n)
        return v

    def read_symbol(self, table: _HuffTable) -> int:
        p = self.peek16()
        ln = table.lookup_len[p]
        if ln == 0:
            raise ImageDecodeError("jpeg: invalid huffman code")
        self.skip(int(ln))
        return int(table.lookup_sym[p])

    def align_to_marker(self) -> None:
        """Drop buffered bits and move pos past any stuffing to the next
        0xFF marker byte (used at restart intervals)."""
        self.acc = 0
        self.nbits = 0
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and self.data[self.pos + 1] != 0x00:
                return
            self.pos += 1


def _extend(v: int, size: int) -> int:
    """F.2.2.1 sign extension of `size`-bit amplitude bits."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


class _Component:
    """Per-component decode state: geometry + the coefficient store that
    progressive scans accumulate into."""

    __slots__ = ("cid", "sh", "sv", "qid", "store", "bw_true", "bh_true",
                 "pred")

    def __init__(self, cid: int, sh: int, sv: int, qid: int,
                 mcus_x: int, mcus_y: int, w: int, h: int,
                 hmax: int, vmax: int) -> None:
        self.cid, self.sh, self.sv, self.qid = cid, sh, sv, qid
        self.store = np.zeros((mcus_y * sv, mcus_x * sh, 64), dtype=np.int64)
        # true (non-MCU-padded) block grid — non-interleaved scans cover
        # exactly this many blocks (T.81 A.2.2)
        cw = -(-w * sh // hmax)
        ch = -(-h * sv // vmax)
        self.bw_true = -(-cw // 8)
        self.bh_true = -(-ch // 8)
        self.pred = 0


def _decode_block_full(rdr: _BitReader, blk: np.ndarray, comp: _Component,
                       dct: _HuffTable, act: _HuffTable) -> None:
    """Baseline: DC diff + all 63 AC of one block in one pass."""
    s = rdr.read_symbol(dct)
    if s > 11:
        raise ImageDecodeError("jpeg: bad DC size")
    comp.pred += _extend(rdr.read_bits(s), s)
    blk[0] = comp.pred
    k = 1
    while k < 64:
        rs = rdr.read_symbol(act)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16          # ZRL
                continue
            break                # EOB
        k += r
        if k > 63:
            raise ImageDecodeError("jpeg: AC run past block")
        blk[ZIGZAG[k]] = _extend(rdr.read_bits(s), s)
        k += 1


def _decode_scan(data: bytes, pos: int, comps_in_scan: list,
                 htsel: list, htables: dict, restart_interval: int,
                 progressive: bool, mcus_x: int, mcus_y: int,
                 ss: int, se: int, ah: int, al: int) -> int:
    """Decode one entropy-coded scan into the components' stores; returns
    the byte offset just past the scan's data. Implements T.81 F.2 (baseline)
    and G.2 (progressive spectral selection + successive approximation)."""
    rdr = _BitReader(data, pos)
    eobrun = 0
    for c in comps_in_scan:
        c.pred = 0

    def tables(i: int) -> tuple[_HuffTable | None, _HuffTable | None]:
        dc_id, ac_id = htsel[i]
        dct = htables.get((0, dc_id))
        act = htables.get((1, ac_id))
        return dct, act

    # per-unit decode dispatch
    def dc_first(blk: np.ndarray, comp: _Component, dct: _HuffTable) -> None:
        s = rdr.read_symbol(dct)
        if s > 11:
            raise ImageDecodeError("jpeg: bad DC size")
        comp.pred += _extend(rdr.read_bits(s), s)
        blk[0] = comp.pred << al

    def dc_refine(blk: np.ndarray) -> None:
        if rdr.read_bits(1):
            blk[0] |= 1 << al

    def ac_first(blk: np.ndarray, act: _HuffTable) -> None:
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = rdr.read_symbol(act)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:
                    k += 16          # ZRL
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += rdr.read_bits(r)
                break                # EOBn: this block done
            k += r
            if k > se:
                raise ImageDecodeError("jpeg: AC run past band")
            blk[ZIGZAG[k]] = _extend(rdr.read_bits(s), s) << al
            k += 1

    p1, m1 = 1 << al, -(1 << al)

    def _refine_nonzero(blk: np.ndarray, k: int) -> None:
        zk = ZIGZAG[k]
        if rdr.read_bits(1) and (blk[zk] & p1) == 0:
            blk[zk] += p1 if blk[zk] >= 0 else m1

    def ac_refine(blk: np.ndarray, act: _HuffTable) -> None:
        # G.1.2.3 correction-bit refinement (libjpeg decode_mcu_AC_refine
        # control flow: EOBRUN includes the current block's tail)
        nonlocal eobrun
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = rdr.read_symbol(act)
                r, s = rs >> 4, rs & 0x0F
                newval = 0
                if s == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += rdr.read_bits(r)
                        break        # tail handled by the eobrun block below
                    # ZRL: advance over 16 zero-history positions
                else:
                    if s != 1:
                        raise ImageDecodeError("jpeg: bad refine size")
                    newval = p1 if rdr.read_bits(1) else m1
                while k <= se:
                    zk = ZIGZAG[k]
                    if blk[zk] != 0:
                        _refine_nonzero(blk, k)
                    else:
                        r -= 1
                        if r < 0:
                            break
                    k += 1
                if newval and k <= se:
                    blk[ZIGZAG[k]] = newval
                k += 1
        if eobrun > 0:
            while k <= se:
                if blk[ZIGZAG[k]] != 0:
                    _refine_nonzero(blk, k)
                k += 1
            eobrun -= 1

    def decode_unit(unit_blocks: list) -> None:
        # unit_blocks: (blk, comp, scan_idx) triples for one MCU / block
        for blk, comp, i in unit_blocks:
            dct, act = tables(i)
            if not progressive:
                if dct is None or act is None:
                    raise ImageDecodeError("jpeg: missing huffman table")
                _decode_block_full(rdr, blk, comp, dct, act)
            elif ss == 0 and ah == 0:
                if dct is None:
                    raise ImageDecodeError("jpeg: missing huffman table")
                dc_first(blk, comp, dct)
            elif ss == 0:
                dc_refine(blk)
            elif ah == 0:
                if act is None:
                    raise ImageDecodeError("jpeg: missing huffman table")
                ac_first(blk, act)
            else:
                if act is None:
                    raise ImageDecodeError("jpeg: missing huffman table")
                ac_refine(blk, act)

    def restart(unit_no: int) -> None:
        nonlocal eobrun
        if restart_interval and unit_no and unit_no % restart_interval == 0:
            rdr.align_to_marker()
            if (rdr.pos + 1 < len(rdr.data) and rdr.data[rdr.pos] == 0xFF
                    and 0xD0 <= rdr.data[rdr.pos + 1] <= 0xD7):
                rdr.pos += 2
            for c in comps_in_scan:
                c.pred = 0
            eobrun = 0

    if len(comps_in_scan) == 1:
        # non-interleaved: the component's TRUE block grid, raster order
        comp = comps_in_scan[0]
        unit = 0
        for by in range(comp.bh_true):
            for bx in range(comp.bw_true):
                restart(unit)
                decode_unit([(comp.store[by, bx], comp, 0)])
                unit += 1
    else:
        if progressive and ss != 0:
            raise ImageDecodeError("jpeg: interleaved progressive AC scan")
        unit = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                restart(unit)
                blocks = []
                for i, comp in enumerate(comps_in_scan):
                    for by in range(comp.sv):
                        for bx in range(comp.sh):
                            blocks.append((
                                comp.store[my * comp.sv + by,
                                           mx * comp.sh + bx], comp, i))
                decode_unit(blocks)
                unit += 1

    rdr.align_to_marker()
    return min(rdr.pos, len(data))


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline-sequential OR progressive (SOF2: spectral selection
    + successive approximation) JPEG to (H, W, 3) uint8 RGB (grayscale
    replicated). Raises ImageDecodeError for arithmetic-coded, 12-bit,
    lossless and hierarchical streams and malformed data."""
    if data[:2] != b"\xFF\xD8":
        raise ImageDecodeError("jpeg: bad SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffTable] = {}
    frame = None          # (h, w, [Component])
    progressive = False
    restart_interval = 0
    mcus_x = mcus_y = 0
    scans_decoded = 0

    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ImageDecodeError("jpeg: marker expected")
        tag = data[pos + 1]
        if tag in (0x01,) or 0xD0 <= tag <= 0xD7:   # TEM / RSTn: no body
            pos += 2
            continue
        if tag == 0xD9:                              # EOI
            break
        if pos + 4 > len(data):
            break
        seglen = struct.unpack(">H", data[pos + 2:pos + 4])[0]
        body = data[pos + 4:pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ImageDecodeError("jpeg: truncated segment")
        if tag == 0xDB:                              # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                if pq != 0:
                    raise ImageDecodeError("jpeg: 16-bit quant table")
                tbl = np.frombuffer(body[p + 1:p + 65], dtype=np.uint8)
                if tbl.size != 64:
                    raise ImageDecodeError("jpeg: short quant table")
                full = np.zeros(64, dtype=np.int64)
                full[ZIGZAG] = tbl
                qtables[tq] = full
                p += 65
        elif tag == 0xC4:                            # DHT
            p = 0
            while p + 17 <= len(body):
                cls, tid = body[p] >> 4, body[p] & 0x0F
                bits = list(body[p + 1:p + 17])
                n = sum(bits)
                vals = body[p + 17:p + 17 + n]
                if len(vals) != n:
                    raise ImageDecodeError("jpeg: short huffman table")
                htables[(cls, tid)] = _HuffTable(bits, vals)
                p += 17 + n
        elif tag in (0xC0, 0xC1, 0xC2):              # SOF0/1 baseline, SOF2
            progressive = tag == 0xC2
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ImageDecodeError(f"jpeg: {prec}-bit not supported")
            if nc not in (1, 3):
                raise ImageDecodeError(f"jpeg: {nc}-component not supported")
            raw = []
            for i in range(nc):
                cid, hv, qid = body[6 + 3 * i:9 + 3 * i]
                sh, sv = hv >> 4, hv & 0x0F
                if not (1 <= sh <= 2 and 1 <= sv <= 2):
                    raise ImageDecodeError(f"jpeg: sampling {sh}x{sv} not supported")
                raw.append((cid, sh, sv, qid))
            if h == 0 or w == 0:
                raise ImageDecodeError("jpeg: zero dimension")
            hmax = max(r[1] for r in raw)
            vmax = max(r[2] for r in raw)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            comps = [_Component(cid, sh, sv, qid, mcus_x, mcus_y,
                                w, h, hmax, vmax)
                     for cid, sh, sv, qid in raw]
            frame = (h, w, hmax, vmax, comps)
        elif tag in (0xC3, 0xC5, 0xC6, 0xC7,
                     0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ImageDecodeError(
                "jpeg: arithmetic/lossless/hierarchical coding not supported")
        elif tag == 0xDD:                            # DRI
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif tag == 0xDA:                            # SOS
            if frame is None:
                raise ImageDecodeError("jpeg: SOS before SOF")
            ns = body[0]
            if len(body) < 1 + 2 * ns + 3:
                raise ImageDecodeError("jpeg: short SOS")
            by_cid = {c.cid: c for c in frame[4]}
            comps_in_scan = []
            htsel = []
            for i in range(ns):
                cs, tt = body[1 + 2 * i:3 + 2 * i]
                if cs not in by_cid:
                    raise ImageDecodeError("jpeg: scan references unknown component")
                comps_in_scan.append(by_cid[cs])
                htsel.append((tt >> 4, tt & 0x0F))
            sp = body[1 + 2 * ns:4 + 2 * ns]
            ss_, se_, ah_, al_ = sp[0], sp[1], sp[2] >> 4, sp[2] & 0x0F
            if not progressive:
                ss_, se_, ah_, al_ = 0, 63, 0, 0
            elif not (ss_ <= se_ <= 63 and (ss_ > 0 or se_ == 0)):
                raise ImageDecodeError("jpeg: bad spectral range")
            pos = _decode_scan(data, pos + 2 + seglen, comps_in_scan,
                               htsel, htables, restart_interval,
                               progressive, mcus_x, mcus_y,
                               ss_, se_, ah_, al_)
            scans_decoded += 1
            continue
        pos += 2 + seglen

    if frame is None or scans_decoded == 0:
        raise ImageDecodeError("jpeg: missing SOF/SOS")
    h, w, hmax, vmax, comps = frame

    # dequantize + IDCT per component (all blocks at once), then upsample
    planes = []
    for comp in comps:
        if comp.qid not in qtables:
            raise ImageDecodeError("jpeg: missing quant table")
        qt = qtables[comp.qid]
        store = comp.store
        bh, bw = store.shape[0], store.shape[1]
        coeffs = (store.reshape(-1, 64) * qt).reshape(-1, 8, 8).astype(np.float64)
        spatial = _idct_blocks(coeffs) + 128.0
        plane = (spatial.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3)
                        .reshape(bh * 8, bw * 8))
        if comp.sh < hmax or comp.sv < vmax:
            plane = np.repeat(np.repeat(plane, vmax // comp.sv, axis=0),
                              hmax // comp.sh, axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        g = np.clip(np.floor(planes[0] + 0.5), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = planes
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)
