"""Lossy VP8 still-image codec — RFC 6386 intra-only keyframe decode plus
a bitstream-conformant encoder for corpus planting.

From-scratch implementation of the public RFC 6386 decode pipeline for
the case a WebP still image is: ONE intra-only keyframe. Implements the
boolean (arithmetic) decoder, uncompressed + compressed frame headers
(segmentation, loop-filter and quantizer syntax included), keyframe
intra mode coding, DCT token decoding with the coefficient-band /
nonzero-context schedule, dequantization, the normative integer inverse
DCT/WHT, all 16x16 / chroma / 4x4 intra predictors, and the normal loop
filter. A frame that selects the simple loop filter at a nonzero level
raises ImageDecodeError rather than decoding to wrong pixels (the corpus
encoder writes the normal type only). The reference reads these
via cv2/libwebp (reference core/parser.py:554-563); neither is available
here, so the pixel path is built from the spec.

VERIFICATION STATUS (same honesty contract as kernel/vp8l_codec.py —
no libwebp, no real-world lossy WebP file, and no RFC text exist in this
sandbox to cross-check against):

- Pinned by construction or test: bitstream layout, start code, bool
  decoder arithmetic, token/mode tree shapes, coefficient bands, zigzag,
  category extra-bit bases, the dc/ac dequant lookup tables (transcribed,
  head/tail pinned in tests), IDCT constants (20091/35468), WHT, the
  BT.601 fixed-point color transforms.
- UNVERIFIABLE OFFLINE and therefore deliberately NEUTRAL (128): the
  1056-entry default coefficient probability table, the coefficient
  update-flag probability table, and the 900-entry keyframe 4x4-mode
  context table. These constants are empirical — a from-memory
  transcription would be silently wrong, so instead of guessing, this
  codec declares neutral probabilities. Probabilities affect ONLY
  entropy-coding efficiency, never decoded values, WHEN encoder and
  decoder agree — this pair agrees, so every stream this encoder plants
  decodes bit-exactly, and all structural syntax matches the RFC. A
  stream from a spec-default encoder (e.g. libwebp) would parse
  structurally but mis-decode tokens wherever the true table differs;
  swapping in the RFC tables is a drop-in data change in this section.

The encoder derives its forward DCT/WHT by numerically inverting the
normative integer inverse transforms (the forward transform is not
normative in VP8 — only the inverse is), tracks the decoder-exact
reconstruction for intra prediction, and emits filter level 0.
"""

from __future__ import annotations

import struct

import numpy as np

from docvision_spark.kernel.image_codec import ImageDecodeError

__all__ = ["vp8_decode", "vp8_encode", "webp_encode_lossy"]

VP8_MAX_PIXELS = 16 * 1024 * 1024  # same budget as the VP8L decoder

# ---------------------------------------------------------------------------
# tables (see VERIFICATION STATUS above)
# ---------------------------------------------------------------------------

# token enums
ZERO, ONE, TWO, THREE, FOUR = 0, 1, 2, 3, 4
CAT1, CAT2, CAT3, CAT4, CAT5, CAT6 = 5, 6, 7, 8, 9, 10
EOB = 11

# vpx tree convention: entries <= 0 are leaves (value = -entry), positive
# entries are node indices; prob for node i is probs[i >> 1]
COEF_TREE = (
    -EOB, 2,
    -ZERO, 4,
    -ONE, 6,
    8, 12,
    -TWO, 10,
    -THREE, -FOUR,
    14, 16,
    -CAT1, -CAT2,
    18, 20,
    -CAT3, -CAT4,
    -CAT5, -CAT6,
)

# category extra-bit probabilities + value bases (RFC 6386 §13.2)
CAT_PROBS = {
    CAT1: (159,),
    CAT2: (165, 145),
    CAT3: (173, 148, 140),
    CAT4: (176, 155, 140, 135),
    CAT5: (180, 157, 141, 134, 130),
    CAT6: (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
}
CAT_BASE = {CAT1: 5, CAT2: 7, CAT3: 11, CAT4: 19, CAT5: 35, CAT6: 67}

COEF_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

# 16x16 / chroma modes
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4
KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
KF_YMODE_PROBS = (145, 156, 163, 128)
UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
KF_UV_MODE_PROBS = (142, 114, 183)

# 4x4 modes
(B_DC, B_TM, B_VE, B_HE, B_LD, B_RD, B_VR, B_VL, B_HD, B_HU) = range(10)
BMODE_TREE = (
    -B_DC, 2,
    -B_TM, 4,
    -B_VE, 6,
    8, 12,
    -B_HE, 10,
    -B_RD, -B_VR,
    -B_LD, 14,
    -B_VL, 16,
    -B_HD, -B_HU,
)
# keyframe 4x4-mode context probabilities: NEUTRAL (see header docstring)
KF_BMODE_PROBS = tuple(tuple((128,) * 9 for _ in range(10))
                       for _ in range(10))

# default DCT token probabilities [plane 0..3][band 0..7][ctx 0..2][11]:
# NEUTRAL (see header docstring)
DEFAULT_COEF_PROBS = tuple(
    tuple(tuple((128,) * 11 for _ in range(3)) for _ in range(8))
    for _ in range(4))
# coefficient-probability update flags' probabilities: NEUTRAL-HIGH (255
# makes the all-defaults flag vector nearly free, matching the spec's
# intent that updates are rare)
COEF_UPDATE_PROB = 255

# dequantization lookups (RFC 6386 §14.1), indexed by clamped q index
DC_QLOOKUP = (
    4, 5, 6, 7, 8, 9, 10, 10, 11, 12, 13, 14, 15, 16, 17, 17,
    18, 19, 20, 20, 21, 21, 22, 22, 23, 23, 24, 25, 25, 26, 27, 28,
    29, 30, 31, 32, 33, 34, 35, 36, 37, 37, 38, 39, 40, 41, 42, 43,
    44, 45, 46, 46, 47, 48, 49, 50, 51, 52, 53, 54, 55, 56, 57, 58,
    59, 60, 61, 62, 63, 64, 65, 66, 67, 68, 69, 70, 71, 72, 73, 74,
    75, 76, 76, 77, 78, 79, 80, 81, 82, 83, 84, 85, 86, 87, 88, 89,
    91, 93, 95, 96, 98, 100, 101, 102, 104, 106, 108, 110, 112, 114,
    116, 118, 122, 124, 126, 128, 130, 132, 134, 136, 138, 140, 143,
    145, 148, 151, 154, 157,
)
AC_QLOOKUP = (
    4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19,
    20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35,
    36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47, 48, 49, 50, 51,
    52, 53, 54, 55, 56, 57, 58, 60, 62, 64, 66, 68, 70, 72, 74, 76,
    78, 80, 82, 84, 86, 88, 90, 92, 94, 96, 98, 100, 102, 104, 106,
    108, 110, 112, 114, 116, 119, 122, 125, 128, 131, 134, 137, 140,
    143, 146, 149, 152, 155, 158, 161, 164, 167, 170, 173, 177, 181,
    185, 189, 193, 197, 201, 205, 209, 213, 217, 221, 225, 229, 234,
    239, 245, 249, 254, 259, 264, 269, 274, 279, 284,
)


# ---------------------------------------------------------------------------
# boolean coder (RFC 6386 §7 / Appendix A)
# ---------------------------------------------------------------------------


class BoolDecoder:
    __slots__ = ("data", "pos", "value", "range", "bit_count")

    def __init__(self, data: bytes):
        self.data = data
        b0 = data[0] if len(data) > 0 else 0
        b1 = data[1] if len(data) > 1 else 0
        self.value = (b0 << 8) | b1
        self.pos = 2
        self.range = 255
        self.bit_count = 0

    def get(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            ret = 1
            self.range -= split
            self.value -= big
        else:
            ret = 0
            self.range = split
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                if self.pos < len(self.data):
                    self.value |= self.data[self.pos]
                    self.pos += 1
        return ret

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get(128)
        return v

    def signed(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.get(128) else v

    def tree(self, tree, probs) -> int:
        i = 0
        while True:
            i = tree[i + self.get(probs[i >> 1])]
            if i <= 0:
                return -i


class BoolEncoder:
    """Exact-interval arithmetic encoder producing streams the RFC bool
    decoder reads back verbatim: `low` is kept as an arbitrary-precision
    integer mirroring the decoder's renormalization, and the final code
    word is low << 16 (the decoder preloads 16 bits at init). O(n^2/64)
    in output bits from the bigint shifts — fine at corpus image sizes."""

    __slots__ = ("low", "range", "nbits")

    def __init__(self):
        self.low = 0
        self.range = 255
        self.nbits = 0

    def put(self, bit: int, prob: int) -> None:
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.low += split
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.low <<= 1
            self.range <<= 1
            self.nbits += 1

    def put_literal(self, v: int, n: int) -> None:
        for k in range(n - 1, -1, -1):
            self.put((v >> k) & 1, 128)

    def put_signed(self, v: int, n: int) -> None:
        self.put_literal(abs(v), n)
        self.put(1 if v < 0 else 0, 128)

    def put_tree(self, tree, probs, value: int) -> None:
        # walk the tree to the leaf, recording branch bits
        path = []

        def walk(i: int) -> bool:
            for b in (0, 1):
                j = tree[i + b]
                if j <= 0:
                    if -j == value:
                        path.append((i, b))
                        return True
                elif walk(j):
                    path.append((i, b))
                    return True
            return False

        if not walk(0):
            raise ValueError(f"value {value} not in tree")
        for i, b in reversed(path):
            self.put(b, probs[i >> 1])

    def tobytes(self) -> bytes:
        # decoder invariant: value = S_k - (low_k << 8) where S_k is the
        # integer of the first 16+k stream bits; any final S in
        # [low << 8, (low + range) << 8) replays every decision, and
        # low < 255 * 2^nbits keeps low << 8 inside the 16+nbits window
        total_bits = self.nbits + 16
        code = self.low << 8
        pad = (-total_bits) % 8
        code <<= pad
        return code.to_bytes((total_bits + pad) // 8, "big")


# ---------------------------------------------------------------------------
# transforms (RFC 6386 §14.3-14.4) — normative inverses
# ---------------------------------------------------------------------------

_C1 = 20091  # sqrt(2)*cos(pi/8) - 1, Q16
_C2 = 35468  # sqrt(2)*sin(pi/8), Q16


def idct4x4(block: np.ndarray) -> np.ndarray:
    """Normative integer inverse DCT of a 4x4 coefficient block."""
    ip = block.astype(np.int64).reshape(4, 4)
    tmp = np.empty((4, 4), dtype=np.int64)
    for c in range(4):
        a1 = ip[0, c] + ip[2, c]
        b1 = ip[0, c] - ip[2, c]
        t1 = (ip[1, c] * _C2) >> 16
        t2 = ip[3, c] + ((ip[3, c] * _C1) >> 16)
        c1 = t1 - t2
        t1 = ip[1, c] + ((ip[1, c] * _C1) >> 16)
        t2 = (ip[3, c] * _C2) >> 16
        d1 = t1 + t2
        tmp[0, c] = a1 + d1
        tmp[3, c] = a1 - d1
        tmp[1, c] = b1 + c1
        tmp[2, c] = b1 - c1
    out = np.empty((4, 4), dtype=np.int64)
    for r in range(4):
        a1 = tmp[r, 0] + tmp[r, 2]
        b1 = tmp[r, 0] - tmp[r, 2]
        t1 = (tmp[r, 1] * _C2) >> 16
        t2 = tmp[r, 3] + ((tmp[r, 3] * _C1) >> 16)
        c1 = t1 - t2
        t1 = tmp[r, 1] + ((tmp[r, 1] * _C1) >> 16)
        t2 = (tmp[r, 3] * _C2) >> 16
        d1 = t1 + t2
        out[r, 0] = (a1 + d1 + 4) >> 3
        out[r, 3] = (a1 - d1 + 4) >> 3
        out[r, 1] = (b1 + c1 + 4) >> 3
        out[r, 2] = (b1 - c1 + 4) >> 3
    return out


def iwht4x4(block: np.ndarray) -> np.ndarray:
    """Normative inverse Walsh-Hadamard (Y2 DC) transform."""
    ip = block.astype(np.int64).reshape(4, 4)
    tmp = np.empty((4, 4), dtype=np.int64)
    for c in range(4):
        a1 = ip[0, c] + ip[3, c]
        b1 = ip[1, c] + ip[2, c]
        c1 = ip[1, c] - ip[2, c]
        d1 = ip[0, c] - ip[3, c]
        tmp[0, c] = a1 + b1
        tmp[1, c] = c1 + d1
        tmp[2, c] = a1 - b1
        tmp[3, c] = d1 - c1
    out = np.empty((4, 4), dtype=np.int64)
    for r in range(4):
        a1 = tmp[r, 0] + tmp[r, 3]
        b1 = tmp[r, 1] + tmp[r, 2]
        c1 = tmp[r, 1] - tmp[r, 2]
        d1 = tmp[r, 0] - tmp[r, 3]
        out[r, 0] = (a1 + b1 + 3) >> 3
        out[r, 1] = (c1 + d1 + 3) >> 3
        out[r, 2] = (a1 - b1 + 3) >> 3
        out[r, 3] = (d1 - c1 + 3) >> 3
    return out


# ---------------------------------------------------------------------------
# intra prediction (RFC 6386 §12) — edge convention: rows above the frame
# read 127, columns left of the frame read 129 (both encoder and decoder
# in this module use the same convention, so planted streams are exact)
# ---------------------------------------------------------------------------


def _pred_dc(above, left, have_a, have_l, size):
    if have_a and have_l:
        return (int(above[:size].sum()) + int(left[:size].sum())
                + size) >> (size.bit_length())
    if have_a:
        return (int(above[:size].sum()) + size // 2) >> (size.bit_length() - 1)
    if have_l:
        return (int(left[:size].sum()) + size // 2) >> (size.bit_length() - 1)
    return 128


def predict_block(mode, above, left, corner, have_a, have_l, size):
    """16x16 / 8x8 whole-block predictor -> (size, size) int array."""
    if mode == DC_PRED:
        return np.full((size, size), _pred_dc(above, left, have_a,
                                              have_l, size), dtype=np.int64)
    if mode == V_PRED:
        return np.tile(above[:size].astype(np.int64), (size, 1))
    if mode == H_PRED:
        return np.tile(left[:size].astype(np.int64)[:, None], (1, size))
    # TM_PRED
    a = above[:size].astype(np.int64)[None, :]
    l0 = left[:size].astype(np.int64)[:, None]
    return np.clip(l0 + a - int(corner), 0, 255)


def predict_b(mode, a, al, l, ar):
    """4x4 sub-block predictor. a: above[4], ar: above-right[4], l:
    left[4], al: above-left corner. Returns (4,4) int64."""
    a = a.astype(np.int64)
    ar = ar.astype(np.int64)
    l = l.astype(np.int64)
    al = int(al)
    e = np.concatenate(([al], a, ar))  # e[0]=corner, e[1..8] above row
    out = np.empty((4, 4), dtype=np.int64)
    if mode == B_DC:
        out[:] = (int(a.sum()) + int(l.sum()) + 4) >> 3
    elif mode == B_TM:
        out[:] = np.clip(l[:, None] + a[None, :] - al, 0, 255)
    elif mode == B_VE:
        row = (e[0:4] + 2 * e[1:5] + e[2:6] + 2) >> 2
        out[:] = row[None, :]
    elif mode == B_HE:
        col = np.array([
            (al + 2 * l[0] + l[1] + 2) >> 2,
            (l[0] + 2 * l[1] + l[2] + 2) >> 2,
            (l[1] + 2 * l[2] + l[3] + 2) >> 2,
            (l[2] + 2 * l[3] + l[3] + 2) >> 2], dtype=np.int64)
        out[:] = col[:, None]
    elif mode == B_LD:
        p = np.concatenate((a, ar))
        d = np.empty(7, dtype=np.int64)
        for i in range(6):
            d[i] = (p[i] + 2 * p[i + 1] + p[i + 2] + 2) >> 2
        d[6] = (p[6] + 3 * p[7] + 2) >> 2
        for r in range(4):
            out[r] = d[r:r + 4]
    elif mode == B_RD:
        p = np.concatenate((l[::-1], [al], a))  # p[4]=corner
        d = np.empty(7, dtype=np.int64)
        for i in range(7):
            d[i] = (p[i] + 2 * p[i + 1] + p[i + 2] + 2) >> 2
        for r in range(4):
            out[r] = d[3 - r:7 - r]
    elif mode == B_VR:
        p = np.concatenate((l[::-1], [al], a))  # [L3,L2,L1,L0,X,A0..A3]
        h0 = (p[4:8] + p[5:9] + 1) >> 1         # (X+A0)/2, (A0+A1)/2, ...
        h1 = np.empty(6, dtype=np.int64)        # 3-tap diagonals
        for i in range(6):
            h1[i] = (p[i + 1] + 2 * p[i + 2] + p[i + 3] + 2) >> 2
        # h1 = [(L2+2L1+L0),(L1+2L0+X),(L0+2X+A0),(X+2A0+A1),
        #       (A0+2A1+A2),(A1+2A2+A3)] each +2 >> 2
        out[0] = h0
        out[1] = h1[2:6]
        out[2] = (h1[1], h0[0], h0[1], h0[2])
        out[3] = (h1[0], h1[2], h1[3], h1[4])
    elif mode == B_VL:
        p = np.concatenate((a, ar))
        h0 = (p[0:4] + p[1:5] + 1) >> 1
        h1 = (p[0:4] + 2 * p[1:5] + p[2:6] + 2) >> 2
        out[0] = h0
        out[1] = h1
        out[2, :3] = h0[1:]
        out[2, 3] = (p[4] + 2 * p[5] + p[6] + 2) >> 2
        out[3, :3] = h1[1:]
        out[3, 3] = (p[5] + 2 * p[6] + p[7] + 2) >> 2
    elif mode == B_HD:
        p = np.concatenate((l[::-1], [al], a))  # p[0..3]=l3..l0,p[4]=al
        h0 = (p[0:4] + p[1:5] + 1) >> 1          # half-pel down left edge
        h1 = np.empty(6, dtype=np.int64)
        for i in range(6):
            h1[i] = (p[i] + 2 * p[i + 1] + p[i + 2] + 2) >> 2
        out[3] = (h0[0], h1[0], h0[1], h1[1])
        out[2] = (h0[1], h1[1], h0[2], h1[2])
        out[1] = (h0[2], h1[2], h0[3], h1[3])
        out[0] = (h0[3], h1[3], h1[4], h1[5])
    else:  # B_HU
        h0 = (l[0:3] + l[1:4] + 1) >> 1
        h1 = np.empty(3, dtype=np.int64)
        h1[0] = (l[0] + 2 * l[1] + l[2] + 2) >> 2
        h1[1] = (l[1] + 2 * l[2] + l[3] + 2) >> 2
        h1[2] = (l[2] + 3 * l[3] + 2) >> 2
        out[0] = (h0[0], h1[0], h0[1], h1[1])
        out[1] = (h0[1], h1[1], h0[2], h1[2])
        out[2] = (h0[2], h1[2], l[3], l[3])
        out[3] = l[3]
    return out


# ---------------------------------------------------------------------------
# loop filter (RFC 6386 §15)
# ---------------------------------------------------------------------------


def _s(v):
    return v - 128  # u8 -> signed


def _u(v):
    return int(np.clip(v + 128, 0, 255))


def _c7(v):
    return max(-128, min(127, v))


def _common_adjust(use_outer, pix, idx, stride):
    p1, p0, q0, q1 = (_s(int(pix[idx - 2 * stride])),
                      _s(int(pix[idx - stride])),
                      _s(int(pix[idx])), _s(int(pix[idx + stride])))
    a = _c7((_c7(p1 - q1) if use_outer else 0) + 3 * (q0 - p0))
    f = _c7(a + 4) >> 3
    e = _c7(a + 3) >> 3
    pix[idx] = _u(q0 - f)
    pix[idx - stride] = _u(p0 + e)
    return f


def _normal_mask(pix, idx, stride, interior, edge):
    vals = [int(pix[idx + k * stride]) for k in range(-4, 4)]
    p3, p2, p1, p0, q0, q1, q2, q3 = vals
    return (abs(p0 - q0) * 2 + abs(p1 - q1) // 2 <= edge
            and abs(p3 - p2) <= interior and abs(p2 - p1) <= interior
            and abs(p1 - p0) <= interior and abs(q1 - q0) <= interior
            and abs(q2 - q1) <= interior and abs(q3 - q2) <= interior)


def _hev(pix, idx, stride, thresh):
    return (abs(int(pix[idx - 2 * stride]) - int(pix[idx - stride]))
            > thresh
            or abs(int(pix[idx + stride]) - int(pix[idx])) > thresh)


def _subblock_filter(pix, idx, stride, hev_t, interior, edge):
    if not _normal_mask(pix, idx, stride, interior, edge):
        return
    hv = _hev(pix, idx, stride, hev_t)
    f = _common_adjust(hv, pix, idx, stride)
    if not hv:
        a = (f + 1) >> 1
        pix[idx + stride] = _u(_s(int(pix[idx + stride])) - a)
        pix[idx - 2 * stride] = _u(_s(int(pix[idx - 2 * stride])) + a)


def _mbedge_filter(pix, idx, stride, hev_t, interior, edge):
    if not _normal_mask(pix, idx, stride, interior, edge):
        return
    if _hev(pix, idx, stride, hev_t):
        _common_adjust(True, pix, idx, stride)
        return
    p2, p1, p0 = (_s(int(pix[idx - 3 * stride])),
                  _s(int(pix[idx - 2 * stride])),
                  _s(int(pix[idx - stride])))
    q0, q1, q2 = (_s(int(pix[idx])), _s(int(pix[idx + stride])),
                  _s(int(pix[idx + 2 * stride])))
    w = _c7(_c7(p1 - q1) + 3 * (q0 - p0))
    a = (27 * w + 63) >> 7
    pix[idx] = _u(q0 - a)
    pix[idx - stride] = _u(p0 + a)
    a = (18 * w + 63) >> 7
    pix[idx + stride] = _u(q1 - a)
    pix[idx - 2 * stride] = _u(p1 + a)
    a = (9 * w + 63) >> 7
    pix[idx + 2 * stride] = _u(q2 - a)
    pix[idx - 3 * stride] = _u(p2 + a)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _Hdr:
    pass


def _parse_headers(data: bytes) -> _Hdr:
    if len(data) < 10:
        raise ImageDecodeError("vp8: truncated")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    h = _Hdr()
    h.keyframe = not (tag & 1)
    h.version = (tag >> 1) & 7
    h.show = (tag >> 4) & 1
    h.part1_size = tag >> 5
    if not h.keyframe:
        raise ImageDecodeError("vp8: not a keyframe (still images are)")
    if data[3:6] != b"\x9d\x01\x2a":
        raise ImageDecodeError("vp8: bad start code")
    (wv,) = struct.unpack("<H", data[6:8])
    (hv,) = struct.unpack("<H", data[8:10])
    h.width, h.xscale = wv & 0x3FFF, wv >> 14
    h.height, h.yscale = hv & 0x3FFF, hv >> 14
    if h.width == 0 or h.height == 0:
        raise ImageDecodeError("vp8: zero dimension")
    if h.width * h.height > VP8_MAX_PIXELS:
        raise ImageDecodeError(f"vp8: {h.width}x{h.height} exceeds "
                               "pixel budget")
    if 10 + h.part1_size > len(data):
        raise ImageDecodeError("vp8: first partition past EOF")
    return h


def vp8_decode(data: bytes) -> np.ndarray:
    """Decode a 'VP8 ' chunk body (one intra keyframe) to (H, W, 3) uint8
    RGB."""
    h = _parse_headers(data)
    bd = BoolDecoder(data[10:10 + h.part1_size])
    bd.get(128)  # color space
    bd.get(128)  # clamping type

    # segmentation syntax (transmitted probs -> fully decodable)
    seg_enabled = bd.get(128)
    seg_update_map = 0
    seg_tree_probs = [255, 255, 255]
    seg_q = [0, 0, 0, 0]
    seg_q_abs = 0
    seg_lf = [0, 0, 0, 0]
    if seg_enabled:
        seg_update_map = bd.get(128)
        update_data = bd.get(128)
        if update_data:
            seg_q_abs = bd.get(128)
            for i in range(4):
                if bd.get(128):
                    seg_q[i] = bd.signed(7)
            for i in range(4):
                if bd.get(128):
                    seg_lf[i] = bd.signed(6)
        if seg_update_map:
            for i in range(3):
                if bd.get(128):
                    seg_tree_probs[i] = bd.literal(8)

    simple_filter = bd.get(128)
    filter_level = bd.literal(6)
    if simple_filter and filter_level:
        raise ImageDecodeError("vp8: simple loop filter unsupported")
    sharpness = bd.literal(3)
    if bd.get(128):  # loop filter adj enable
        if bd.get(128):  # mode/ref delta update
            for _ in range(8):
                if bd.get(128):
                    bd.signed(6)  # ref/mode deltas: inter-frame machinery

    n_parts = 1 << bd.literal(2)
    yac_qi = bd.literal(7)
    deltas = []
    for _ in range(5):  # ydc, y2dc, y2ac, uvdc, uvac
        deltas.append(bd.signed(4) if bd.get(128) else 0)
    ydc_d, y2dc_d, y2ac_d, uvdc_d, uvac_d = deltas
    bd.get(128)  # refresh entropy probs (keyframe: no-op)

    # coefficient probability updates
    probs = [[[list(DEFAULT_COEF_PROBS[i][j][k]) for k in range(3)]
              for j in range(8)] for i in range(4)]
    for i in range(4):
        for j in range(8):
            for k in range(3):
                for t in range(11):
                    if bd.get(COEF_UPDATE_PROB):
                        probs[i][j][k][t] = bd.literal(8)
    mb_no_skip = bd.get(128)
    prob_skip = bd.literal(8) if mb_no_skip else 0

    mb_w = (h.width + 15) // 16
    mb_h = (h.height + 15) // 16

    # token partitions
    tp_start = 10 + h.part1_size
    sizes = []
    pos = tp_start + 3 * (n_parts - 1)
    for i in range(n_parts - 1):
        off = tp_start + 3 * i
        if off + 3 > len(data):
            raise ImageDecodeError("vp8: partition table past EOF")
        sizes.append(int.from_bytes(data[off:off + 3], "little"))
    parts = []
    for i in range(n_parts):
        if i < n_parts - 1:
            end = pos + sizes[i]
            if end > len(data):
                raise ImageDecodeError("vp8: partition past EOF")
            parts.append(BoolDecoder(data[pos:end]))
            pos = end
        else:
            parts.append(BoolDecoder(data[pos:]))

    # per-MB mode parse (all MBs, first partition) ---------------------
    def q_index(seg_id):
        qi = yac_qi
        if seg_enabled:
            qi = seg_q[seg_id] if seg_q_abs else qi + seg_q[seg_id]
        return max(0, min(127, qi))

    def quants(seg_id):
        qi = q_index(seg_id)

        def cl(d):
            return max(0, min(127, qi + d))

        y_dc = DC_QLOOKUP[cl(ydc_d)]
        y_ac = AC_QLOOKUP[qi]
        y2_dc = DC_QLOOKUP[cl(y2dc_d)] * 2
        y2_ac = AC_QLOOKUP[cl(y2ac_d)] * 155 // 100
        y2_ac = max(8, y2_ac)
        uv_dc = min(132, DC_QLOOKUP[cl(uvdc_d)])
        uv_ac = AC_QLOOKUP[cl(uvac_d)]
        return y_dc, y_ac, y2_dc, y2_ac, uv_dc, uv_ac

    mbs = []
    above_bmodes = [[B_DC] * 4 for _ in range(mb_w)]
    left_bmodes = [B_DC] * 4
    for my in range(mb_h):
        left_bmodes = [B_DC] * 4
        for mx in range(mb_w):
            seg_id = 0
            if seg_enabled and seg_update_map:
                # segment id tree: ((0,1),(2,3)) with transmitted probs
                if bd.get(seg_tree_probs[0]):
                    seg_id = 2 + bd.get(seg_tree_probs[2])
                else:
                    seg_id = bd.get(seg_tree_probs[1])
            skip = bd.get(prob_skip) if mb_no_skip else 0
            ymode = bd.tree(KF_YMODE_TREE, KF_YMODE_PROBS)
            bmodes = [B_DC] * 16
            if ymode == B_PRED:
                for sb in range(16):
                    r, c = sb // 4, sb % 4
                    above_m = (above_bmodes[mx][c] if r == 0
                               else bmodes[sb - 4])
                    left_m = left_bmodes[r] if c == 0 else bmodes[sb - 1]
                    bmodes[sb] = bd.tree(BMODE_TREE,
                                         KF_BMODE_PROBS[above_m][left_m])
            else:
                # implied 4x4 modes for context of later B_PRED MBs
                implied = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE,
                           TM_PRED: B_TM}[ymode]
                bmodes = [implied] * 16
            above_bmodes[mx] = bmodes[12:16]
            left_bmodes = [bmodes[3], bmodes[7], bmodes[11], bmodes[15]]
            uvmode = bd.tree(UV_MODE_TREE, KF_UV_MODE_PROBS)
            mbs.append((seg_id, skip, ymode, bmodes, uvmode))

    # residual decode --------------------------------------------------
    def read_coeffs(bdp, plane, ctx, probs_p, first):
        coeffs = np.zeros(16, dtype=np.int64)
        c = first
        skip_eob = False
        while c < 16:
            p = probs_p[COEF_BANDS[c]][ctx]
            if skip_eob:
                i = 2  # cannot code EOB right after a zero
            else:
                i = 0
            while True:
                i = COEF_TREE[i + bdp.get(p[i >> 1])]
                if i <= 0:
                    break
            tok = -i
            if tok == EOB:
                break
            if tok == ZERO:
                ctx = 0
                skip_eob = True
                c += 1
                continue
            skip_eob = False
            if tok <= FOUR:
                val = tok
            else:
                extra = 0
                for pb in CAT_PROBS[tok]:
                    extra = (extra << 1) | bdp.get(pb)
                val = CAT_BASE[tok] + extra
            if bdp.get(128):
                val = -val
            coeffs[ZIGZAG[c]] = val
            ctx = 1 if abs(val) == 1 else 2
            c += 1
        return coeffs

    W, H = mb_w * 16, mb_h * 16
    Y = np.empty((H, W), dtype=np.uint8)
    U = np.empty((H // 2, W // 2), dtype=np.uint8)
    V = np.empty((H // 2, W // 2), dtype=np.uint8)

    # nonzero contexts: above per MB column (4Y,2U,2V,1Y2), left per row
    above_nz = [[0] * 9 for _ in range(mb_w)]
    mb_coeff_flags = [False] * (mb_w * mb_h)

    for my in range(mb_h):
        left_nz = [0] * 9
        bdp = parts[my % n_parts]
        for mx in range(mb_w):
            seg_id, skip, ymode, bmodes, uvmode = mbs[my * mb_w + mx]
            y_dc, y_ac, y2_dc, y2_ac, uv_dc, uv_ac = quants(seg_id)
            has_y2 = ymode != B_PRED
            yblocks = [np.zeros(16, dtype=np.int64) for _ in range(16)]
            ublocks = [np.zeros(16, dtype=np.int64) for _ in range(4)]
            vblocks = [np.zeros(16, dtype=np.int64) for _ in range(4)]
            y2 = np.zeros(16, dtype=np.int64)
            any_coeff = False
            if not skip:
                if has_y2:
                    ctx = above_nz[mx][8] + left_nz[8]
                    y2 = read_coeffs(bdp, 1, ctx, probs[1], 0)
                    nz = int(y2.any())
                    above_nz[mx][8] = left_nz[8] = nz
                    any_coeff |= bool(nz)
                plane = 0 if has_y2 else 3
                first = 1 if has_y2 else 0
                for sb in range(16):
                    r, c = sb // 4, sb % 4
                    ctx = above_nz[mx][c] + left_nz[r]
                    co = read_coeffs(bdp, plane, ctx, probs[plane], first)
                    nz = int(co.any())
                    above_nz[mx][c] = left_nz[r] = nz
                    any_coeff |= bool(nz)
                    yblocks[sb] = co
                for pi, blocks, ar in ((2, ublocks, 4), (2, vblocks, 6)):
                    for sb in range(4):
                        r, c = sb // 2, sb % 2
                        ctx = above_nz[mx][ar + c] + left_nz[ar + r]
                        co = read_coeffs(bdp, 2, ctx, probs[2], 0)
                        nz = int(co.any())
                        above_nz[mx][ar + c] = left_nz[ar + r] = nz
                        any_coeff |= bool(nz)
                        blocks[sb] = co
            else:
                above_nz[mx] = [0] * 9
                for i in range(9):
                    left_nz[i] = 0
            mb_coeff_flags[my * mb_w + mx] = any_coeff or ymode == B_PRED

            # dequant + reconstruct ------------------------------------
            if has_y2:
                y2 = y2.copy()
                y2[0] *= y2_dc
                y2[1:] *= y2_ac
                wht = iwht4x4(y2)
            x0, y0 = mx * 16, my * 16
            have_a, have_l = my > 0, mx > 0
            if has_y2:
                above = (Y[y0 - 1, x0:x0 + 16] if have_a
                         else np.full(16, 127, dtype=np.int64))
                left = (Y[y0:y0 + 16, x0 - 1] if have_l
                        else np.full(16, 129, dtype=np.int64))
                corner = (int(Y[y0 - 1, x0 - 1]) if have_a and have_l
                          else (127 if have_a else 129))
                pred = predict_block(ymode, np.asarray(above),
                                     np.asarray(left), corner,
                                     have_a, have_l, 16)
                rec = pred.copy()
                for sb in range(16):
                    r, c = sb // 4, sb % 4
                    co = yblocks[sb].copy()
                    co[0] = wht[r, c]
                    co[1:] *= y_ac
                    res = idct4x4(co)
                    rec[r * 4:r * 4 + 4, c * 4:c * 4 + 4] += res
                Y[y0:y0 + 16, x0:x0 + 16] = np.clip(rec, 0, 255)
            else:
                # B_PRED: per-sub-block predict+reconstruct in order
                for sb in range(16):
                    r, c = sb // 4, sb % 4
                    py, px = y0 + r * 4, x0 + c * 4
                    a = (Y[py - 1, px:px + 4].astype(np.int64) if py > 0
                         else np.full(4, 127, dtype=np.int64))
                    if py > 0:
                        if px + 8 <= W and (r == 0 or c < 3):
                            ar = Y[py - 1, px + 4:px + 8].astype(np.int64)
                            if r > 0 and c == 3:
                                # below-right of above MB: replicate last
                                ar = np.full(4, int(a[3]), dtype=np.int64)
                        else:
                            ar = np.full(4, int(a[3]), dtype=np.int64)
                    else:
                        ar = np.full(4, 127, dtype=np.int64)
                    lf = (Y[py:py + 4, px - 1].astype(np.int64) if px > 0
                          else np.full(4, 129, dtype=np.int64))
                    al = (int(Y[py - 1, px - 1]) if py > 0 and px > 0
                          else (127 if py > 0 else 129))
                    pred = predict_b(bmodes[sb], a, al, lf, ar)
                    co = yblocks[sb].copy()
                    co[0] *= y_dc
                    co[1:] *= y_ac
                    rec = pred + idct4x4(co)
                    Y[py:py + 4, px:px + 4] = np.clip(rec, 0, 255)
            # chroma
            cx0, cy0 = mx * 8, my * 8
            for plane_arr, blocks in ((U, ublocks), (V, vblocks)):
                above = (plane_arr[cy0 - 1, cx0:cx0 + 8] if have_a
                         else np.full(8, 127, dtype=np.int64))
                left = (plane_arr[cy0:cy0 + 8, cx0 - 1] if have_l
                        else np.full(8, 129, dtype=np.int64))
                corner = (int(plane_arr[cy0 - 1, cx0 - 1])
                          if have_a and have_l
                          else (127 if have_a else 129))
                pred = predict_block(uvmode, np.asarray(above),
                                     np.asarray(left), corner,
                                     have_a, have_l, 8)
                rec = pred.copy()
                for sb in range(4):
                    r, c = sb // 2, sb % 2
                    co = blocks[sb].copy()
                    co[0] *= uv_dc
                    co[1:] *= uv_ac
                    rec[r * 4:r * 4 + 4, c * 4:c * 4 + 4] += idct4x4(co)
                plane_arr[cy0:cy0 + 8, cx0:cx0 + 8] = np.clip(rec, 0, 255)

    # loop filter ------------------------------------------------------
    if filter_level:
        _loop_filter(Y, U, V, mbs, mb_coeff_flags, mb_w, mb_h,
                     filter_level, sharpness, seg_enabled, seg_lf,
                     seg_q_abs)

    # crop + YUV420 -> RGB (BT.601 fixed point)
    Y = Y[:h.height, :h.width].astype(np.int64)
    Uf = U.repeat(2, axis=0).repeat(2, axis=1)[:h.height, :h.width] \
          .astype(np.int64)
    Vf = V.repeat(2, axis=0).repeat(2, axis=1)[:h.height, :h.width] \
          .astype(np.int64)
    cy = 298 * (Y - 16)
    d = Uf - 128
    e = Vf - 128
    r = (cy + 409 * e + 128) >> 8
    g = (cy - 100 * d - 208 * e + 128) >> 8
    b = (cy + 516 * d + 128) >> 8
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def _loop_filter(Y, U, V, mbs, coeff_flags, mb_w, mb_h, level, sharp,
                 seg_enabled, seg_lf, seg_lf_abs):
    H, W = Y.shape
    for my in range(mb_h):
        for mx in range(mb_w):
            seg_id, skip, ymode, _bm, _uv = mbs[my * mb_w + mx]
            lvl = level
            if seg_enabled:
                lvl = seg_lf[seg_id] if seg_lf_abs else lvl + seg_lf[seg_id]
            lvl = max(0, min(63, lvl))
            if lvl == 0:
                continue
            interior = lvl
            if sharp:
                interior >>= 2 if sharp > 4 else 1
                interior = min(interior, 9 - sharp)
            interior = max(1, interior)
            mb_lim = (lvl + 2) * 2 + interior
            sb_lim = lvl * 2 + interior
            hev_t = 2 if lvl >= 40 else (1 if lvl >= 15 else 0)
            inner = coeff_flags[my * mb_w + mx]
            yf = Y.reshape(-1)
            for plane, base_x, base_y, size, stride_img in (
                    (yf, mx * 16, my * 16, 16, W),
                    (U.reshape(-1), mx * 8, my * 8, 8, W // 2),
                    (V.reshape(-1), mx * 8, my * 8, 8, W // 2)):
                # vertical MB edge (left)
                if mx > 0:
                    for r in range(size):
                        idx = (base_y + r) * stride_img + base_x
                        _mbedge_filter(plane, idx, 1, hev_t, interior,
                                       mb_lim)
                if inner:
                    for c in range(4, size, 4):
                        for r in range(size):
                            idx = (base_y + r) * stride_img + base_x + c
                            _subblock_filter(plane, idx, 1, hev_t,
                                             interior, sb_lim)
                # horizontal MB edge (top)
                if my > 0:
                    for c in range(size):
                        idx = base_y * stride_img + base_x + c
                        _mbedge_filter(plane, idx, stride_img, hev_t,
                                       interior, mb_lim)
                if inner:
                    for r in range(4, size, 4):
                        for c in range(size):
                            idx = (base_y + r) * stride_img + base_x + c
                            _subblock_filter(plane, idx, stride_img,
                                             hev_t, interior, sb_lim)


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _inverse_matrix(transform) -> np.ndarray:
    """Numerically invert the float-linearized normative inverse
    transform: forward = inv(M) where M[i][j] = float_inverse(e_j)[i]."""
    m = np.empty((16, 16))
    for j in range(16):
        e = np.zeros(16)
        e[j] = 1024.0
        m[:, j] = transform(e).reshape(-1) / 1024.0
    return np.linalg.inv(m)


def _fidct(block):
    ip = np.asarray(block, dtype=np.float64).reshape(4, 4)
    c1 = _C1 / 65536.0
    c2 = _C2 / 65536.0
    tmp = np.empty((4, 4))
    for c in range(4):
        a1 = ip[0, c] + ip[2, c]
        b1 = ip[0, c] - ip[2, c]
        cc = ip[1, c] * c2 - ip[3, c] * (1 + c1)
        dd = ip[1, c] * (1 + c1) + ip[3, c] * c2
        tmp[0, c] = a1 + dd
        tmp[3, c] = a1 - dd
        tmp[1, c] = b1 + cc
        tmp[2, c] = b1 - cc
    out = np.empty((4, 4))
    for r in range(4):
        a1 = tmp[r, 0] + tmp[r, 2]
        b1 = tmp[r, 0] - tmp[r, 2]
        cc = tmp[r, 1] * c2 - tmp[r, 3] * (1 + c1)
        dd = tmp[r, 1] * (1 + c1) + tmp[r, 3] * c2
        out[r, 0] = (a1 + dd) / 8
        out[r, 3] = (a1 - dd) / 8
        out[r, 1] = (b1 + cc) / 8
        out[r, 2] = (b1 - cc) / 8
    return out


def _fiwht(block):
    ip = np.asarray(block, dtype=np.float64).reshape(4, 4)
    tmp = np.empty((4, 4))
    for c in range(4):
        a1 = ip[0, c] + ip[3, c]
        b1 = ip[1, c] + ip[2, c]
        c1 = ip[1, c] - ip[2, c]
        d1 = ip[0, c] - ip[3, c]
        tmp[0, c] = a1 + b1
        tmp[1, c] = c1 + d1
        tmp[2, c] = a1 - b1
        tmp[3, c] = d1 - c1
    out = np.empty((4, 4))
    for r in range(4):
        a1 = tmp[r, 0] + tmp[r, 3]
        b1 = tmp[r, 1] + tmp[r, 2]
        c1 = tmp[r, 1] - tmp[r, 2]
        d1 = tmp[r, 0] - tmp[r, 3]
        out[r, 0] = (a1 + b1) / 8
        out[r, 1] = (c1 + d1) / 8
        out[r, 2] = (a1 - b1) / 8
        out[r, 3] = (d1 - c1) / 8
    return out


_FDCT_M = None
_FWHT_M = None


def _fdct(res: np.ndarray) -> np.ndarray:
    global _FDCT_M
    if _FDCT_M is None:
        _FDCT_M = _inverse_matrix(_fidct)
    return _FDCT_M @ res.reshape(-1).astype(np.float64)


def _fwht(res: np.ndarray) -> np.ndarray:
    global _FWHT_M
    if _FWHT_M is None:
        _FWHT_M = _inverse_matrix(_fiwht)
    return _FWHT_M @ res.reshape(-1).astype(np.float64)


def _quantize(fcoef: np.ndarray, dcq: int, acq: int) -> np.ndarray:
    q = np.empty(16, dtype=np.int64)
    q[0] = int(round(fcoef[0] / dcq))
    q[1:] = np.round(fcoef[1:] / acq).astype(np.int64)
    return np.clip(q, -2000, 2000)  # CAT6 ceiling is 67 + 2^11 - 1


def _write_coeffs(be, coeffs, plane, ctx, probs_p, first) -> int:
    """Token-encode one dequant-domain level block; returns nonzero flag.
    Mirrors read_coeffs exactly (EOB-after-zero rule included)."""
    zz = [coeffs[ZIGZAG[c]] for c in range(16)]
    last = -1
    for c in range(first, 16):
        if zz[c]:
            last = c
    c = first
    skip_eob = False
    while c < 16:
        p = probs_p[COEF_BANDS[c]][ctx]
        if c > last:
            if not skip_eob:
                _put_token(be, p, EOB)
            else:
                # cannot code EOB right after a zero: but this state is
                # unreachable (we stop emitting zeros once past `last`)
                raise AssertionError("EOB after zero")
            break
        v = int(zz[c])
        if v == 0:
            _put_token(be, p, ZERO, skip_eob)
            ctx = 0
            skip_eob = True
            c += 1
            continue
        tok = _value_token(abs(v))
        _put_token(be, p, tok, skip_eob)
        skip_eob = False
        if tok > FOUR:
            extra = abs(v) - CAT_BASE[tok]
            for k, pb in enumerate(CAT_PROBS[tok]):
                bit = (extra >> (len(CAT_PROBS[tok]) - 1 - k)) & 1
                be.put(bit, pb)
        be.put(1 if v < 0 else 0, 128)
        ctx = 1 if abs(v) == 1 else 2
        c += 1
    return int(last >= first)


def _value_token(v: int) -> int:
    if v <= 4:
        return v
    for tok in (CAT1, CAT2, CAT3, CAT4, CAT5):
        if v < CAT_BASE[tok] + (1 << len(CAT_PROBS[tok])):
            if v >= CAT_BASE[tok]:
                return tok
    return CAT6


def _put_token(be, probs, tok, skip_eob=False):
    i = 2 if skip_eob else 0
    path = []

    def walk(i0):
        for b in (0, 1):
            j = COEF_TREE[i0 + b]
            if j <= 0:
                if -j == tok:
                    path.append((i0, b))
                    return True
            elif walk(j):
                path.append((i0, b))
                return True
        return False

    if not walk(i):
        raise ValueError(f"token {tok} unreachable")
    for i0, b in reversed(path):
        be.put(b, probs[i0 >> 1])


def vp8_encode(rgb: np.ndarray, qi: int = 24, filter_level: int = 0) -> bytes:
    """Encode an (H, W, 3) uint8 RGB image as one VP8 intra keyframe
    ('VP8 ' chunk body). 16x16 modes only (DC/V/H/TM by SAD), single
    token partition, no segmentation. filter_level > 0 turns on the
    decoder's deblocking pass; in-frame intra prediction always uses
    UNFILTERED reconstruction (per spec), so the encoder needs no filter
    tracking — the filter only smooths the displayed output."""
    rgb = np.asarray(rgb, dtype=np.int64)
    ih, iw = rgb.shape[:2]
    if iw >= 1 << 14 or ih >= 1 << 14:
        raise ValueError("vp8: dimension too large")
    # RGB -> YUV420 (BT.601 fixed point)
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    Yp = ((66 * r + 129 * g + 25 * b + 128) >> 8) + 16
    Up = ((-38 * r - 74 * g + 112 * b + 128) >> 8) + 128
    Vp = ((112 * r - 94 * g - 18 * b + 128) >> 8) + 128
    mb_w, mb_h = (iw + 15) // 16, (ih + 15) // 16
    W, H = mb_w * 16, mb_h * 16

    def pad(p, h, w):
        out = np.empty((h, w), dtype=np.int64)
        ph, pw = p.shape
        out[:ph, :pw] = p
        out[ph:, :pw] = p[ph - 1:ph, :]
        out[:, pw:] = out[:, pw - 1:pw]
        return out

    Yp = pad(Yp, H, W)
    U4 = pad((Up[0::2, 0::2] + Up[0::2, 1::2] + Up[1::2, 0::2]
              + Up[1::2, 1::2] + 2) >> 2
             if ih % 2 == 0 and iw % 2 == 0 else
             Up[::2, ::2], H // 2, W // 2)
    V4 = pad((Vp[0::2, 0::2] + Vp[0::2, 1::2] + Vp[1::2, 0::2]
              + Vp[1::2, 1::2] + 2) >> 2
             if ih % 2 == 0 and iw % 2 == 0 else
             Vp[::2, ::2], H // 2, W // 2)

    qi = max(0, min(127, qi))
    y_dc = DC_QLOOKUP[qi]
    y_ac = AC_QLOOKUP[qi]
    y2_dc = DC_QLOOKUP[qi] * 2
    y2_ac = max(8, AC_QLOOKUP[qi] * 155 // 100)
    uv_dc = min(132, DC_QLOOKUP[qi])
    uv_ac = AC_QLOOKUP[qi]

    recY = np.zeros((H, W), dtype=np.uint8)
    recU = np.zeros((H // 2, W // 2), dtype=np.uint8)
    recV = np.zeros((H // 2, W // 2), dtype=np.uint8)

    probs = DEFAULT_COEF_PROBS
    be_modes = BoolEncoder()
    be_tok = BoolEncoder()

    # header bits (first partition prefix)
    be_modes.put(0, 128)  # color space
    be_modes.put(0, 128)  # clamping
    be_modes.put(0, 128)  # segmentation disabled
    be_modes.put(0, 128)  # filter type
    be_modes.put_literal(max(0, min(63, filter_level)), 6)
    be_modes.put_literal(0, 3)   # sharpness
    be_modes.put(0, 128)  # lf adj disabled
    be_modes.put_literal(0, 2)   # 1 token partition
    be_modes.put_literal(qi, 7)
    for _ in range(5):
        be_modes.put(0, 128)     # no quant deltas
    be_modes.put(1, 128)  # refresh entropy
    for _ in range(4 * 8 * 3 * 11):
        be_modes.put(0, COEF_UPDATE_PROB)  # keep default coef probs
    be_modes.put(0, 128)  # mb_no_coeff_skip disabled

    above_nz = [[0] * 9 for _ in range(mb_w)]
    for my in range(mb_h):
        left_nz = [0] * 9
        for mx in range(mb_w):
            x0, y0 = mx * 16, my * 16
            src = Yp[y0:y0 + 16, x0:x0 + 16]
            have_a, have_l = my > 0, mx > 0
            above = (recY[y0 - 1, x0:x0 + 16].astype(np.int64) if have_a
                     else np.full(16, 127, dtype=np.int64))
            left = (recY[y0:y0 + 16, x0 - 1].astype(np.int64) if have_l
                    else np.full(16, 129, dtype=np.int64))
            corner = (int(recY[y0 - 1, x0 - 1]) if have_a and have_l
                      else (127 if have_a else 129))
            best, best_sad, best_pred = DC_PRED, None, None
            for mode in (DC_PRED, V_PRED, H_PRED, TM_PRED):
                pr = predict_block(mode, above, left, corner,
                                   have_a, have_l, 16)
                sad = int(np.abs(src - pr).sum())
                if best_sad is None or sad < best_sad:
                    best, best_sad, best_pred = mode, sad, pr
            ymode, pred = best, best_pred
            res = src - pred
            # forward transform: 16 DCT blocks; DCs -> WHT -> Y2
            qblocks = []
            dcs = np.empty((4, 4))
            for sb in range(16):
                rr, cc = sb // 4, sb % 4
                f = _fdct(res[rr * 4:rr * 4 + 4, cc * 4:cc * 4 + 4])
                dcs[rr, cc] = f[0]
                qb = np.round(f / y_ac).astype(np.int64)
                qb[0] = 0
                qblocks.append(np.clip(qb, -2000, 2000))
            f2 = _fwht(dcs)
            q2 = np.empty(16, dtype=np.int64)
            q2[0] = int(round(f2[0] / y2_dc))
            q2[1:] = np.round(f2[1:] / y2_ac).astype(np.int64)
            q2 = np.clip(q2, -2000, 2000)

            # chroma
            cx0, cy0 = mx * 8, my * 8
            uvq = []
            uvpred = []
            for plane_src, plane_rec in ((U4, recU), (V4, recV)):
                csrc = plane_src[cy0:cy0 + 8, cx0:cx0 + 8]
                cab = (plane_rec[cy0 - 1, cx0:cx0 + 8].astype(np.int64)
                       if have_a else np.full(8, 127, dtype=np.int64))
                clf = (plane_rec[cy0:cy0 + 8, cx0 - 1].astype(np.int64)
                       if have_l else np.full(8, 129, dtype=np.int64))
                ccr = (int(plane_rec[cy0 - 1, cx0 - 1])
                       if have_a and have_l else (127 if have_a else 129))
                uvpred.append((csrc, cab, clf, ccr))
            # choose ONE uv mode for both planes by total SAD
            best_uv, best_sad = DC_PRED, None
            for mode in (DC_PRED, V_PRED, H_PRED, TM_PRED):
                sad = 0
                for csrc, cab, clf, ccr in uvpred:
                    pr = predict_block(mode, cab, clf, ccr,
                                       have_a, have_l, 8)
                    sad += int(np.abs(csrc - pr).sum())
                if best_sad is None or sad < best_sad:
                    best_uv, best_sad = mode, sad
            for csrc, cab, clf, ccr in uvpred:
                pr = predict_block(best_uv, cab, clf, ccr,
                                   have_a, have_l, 8)
                cres = csrc - pr
                qs = []
                for sb in range(4):
                    rr, cc = sb // 2, sb % 2
                    f = _fdct(cres[rr * 4:rr * 4 + 4, cc * 4:cc * 4 + 4])
                    qb = _quantize(f, uv_dc, uv_ac)
                    qs.append(qb)
                uvq.append((pr, qs))

            # mode bits
            be_modes.put_tree(KF_YMODE_TREE, KF_YMODE_PROBS, ymode)
            be_modes.put_tree(UV_MODE_TREE, KF_UV_MODE_PROBS, best_uv)

            # token bits (same schedule as the decoder)
            ctx = above_nz[mx][8] + left_nz[8]
            nz = _write_coeffs(be_tok, q2, 1, ctx, probs[1], 0)
            above_nz[mx][8] = left_nz[8] = nz
            for sb in range(16):
                rr, cc = sb // 4, sb % 4
                ctx = above_nz[mx][cc] + left_nz[rr]
                nz = _write_coeffs(be_tok, qblocks[sb], 0, ctx,
                                   probs[0], 1)
                above_nz[mx][cc] = left_nz[rr] = nz
            for pi, (pr, qs) in enumerate(uvq):
                ar = 4 if pi == 0 else 6
                for sb in range(4):
                    rr, cc = sb // 2, sb % 2
                    ctx = above_nz[mx][ar + cc] + left_nz[ar + rr]
                    nz = _write_coeffs(be_tok, qs[sb], 2, ctx,
                                       probs[2], 0)
                    above_nz[mx][ar + cc] = left_nz[ar + rr] = nz

            # reconstruct (decoder-exact) for neighbor prediction
            q2d = q2.copy()
            q2d[0] *= y2_dc
            q2d[1:] *= y2_ac
            wht = iwht4x4(q2d)
            rec = pred.copy()
            for sb in range(16):
                rr, cc = sb // 4, sb % 4
                co = qblocks[sb].copy()
                co[0] = wht[rr, cc]
                co[1:] *= y_ac
                rec[rr * 4:rr * 4 + 4, cc * 4:cc * 4 + 4] += idct4x4(co)
            recY[y0:y0 + 16, x0:x0 + 16] = np.clip(rec, 0, 255)
            for (pr, qs), plane_rec in zip(uvq, (recU, recV)):
                rec = pr.copy()
                for sb in range(4):
                    rr, cc = sb // 2, sb % 2
                    co = qs[sb].copy()
                    co[0] *= uv_dc
                    co[1:] *= uv_ac
                    rec[rr * 4:rr * 4 + 4,
                        cc * 4:cc * 4 + 4] += idct4x4(co)
                plane_rec[cy0:cy0 + 8, cx0:cx0 + 8] = np.clip(rec, 0, 255)

    part1 = be_modes.tobytes()
    part2 = be_tok.tobytes()
    if len(part1) >= 1 << 19:
        raise ValueError("vp8: first partition exceeds 19-bit size field")
    tag = (0 | (0 << 1) | (1 << 4) | (len(part1) << 5))
    head = bytes((tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF))
    head += b"\x9d\x01\x2a"
    head += struct.pack("<H", iw)
    head += struct.pack("<H", ih)
    return head + part1 + part2


def webp_encode_lossy(rgb: np.ndarray, qi: int = 24) -> bytes:
    """RIFF WebP container around one VP8 intra keyframe."""
    body = vp8_encode(rgb, qi=qi)
    chunk = b"VP8 " + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
