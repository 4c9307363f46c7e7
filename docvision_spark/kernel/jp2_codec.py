"""JPEG 2000 (ITU-T T.800) codestream codec — reversible 5/3 subset.

PDF `/JPXDecode` image XObjects carry JPEG 2000 payloads (raw codestream
or JP2 box format). The reference rasterizes such pages via fitz and OCRs
the pixels (reference processing/image.py:62-108); here a from-scratch
decoder turns the embedded raster into the grayscale array the media
feature path consumes, and a subset encoder plants deterministic test
payloads in the synthetic corpus.

Decoder scope (typed `Jp2Error` outside it, never a wrong answer):
single tile at origin, 8-bit unsigned components, reversible 5/3
transform with no quantization (SQcd style 0), default code-block style
(no bypass/termall/segmentation symbols), one precinct per resolution
(the default 2^15 precincts; explicit precinct grids that stay single
are accepted), LRCP/RLCP/RPCL progression, any number of layers and
decomposition levels, optional SOP/EPH markers, optional reversible
multi-component transform (RCT). That covers the scanner/archival
profile `/JPXDecode` streams overwhelmingly use; 9/7 irreversible and
multi-tile files raise.

Faithfulness notes (house policy, same as kernel/vp8_codec.py): the
EBCOT context partition (zero-coding Table D.1 incl. the HL sum_h/sum_v
interchange, sign Table D.3, refinement Table D.4), the initial context
states {ZC0: 4, RL: 3, UNI: 46}, and the tier-2 codeword tables are
transcribed from the spec's published listings; they cannot be
re-derived offline. `tests/test_jp2_codec.py` pins them and the
encoder/decoder pair round-trips bit-exactly (reversible 5/3 means
decode(encode(img)) == img exactly), so a transcription slip surfaces
as a self-inconsistency rather than silently.

Pure-Python EBCOT is bit-serial; `MAX_PIXELS` caps decode work so a
crafted giant image degrades to a typed error row instead of stalling
an executor task (same budget discipline as kernel/vp8l_codec.py).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from docvision_spark.kernel.mq_coder import MqDecoder, MqEncoder


class Jp2Error(ValueError):
    """Malformed or out-of-subset JPEG 2000 payload."""


# Pure-Python bit-serial EBCOT decodes ~1 Mbit/s; this caps a crafted
# raster's task stall the same way jbig2_codec caps its MQ pixel loop
# (256k px there — here each pixel costs ~3 passes x bitplanes).
MAX_PIXELS = 1 << 18

_SOC = 0xFF4F
_SIZ = 0xFF51
_COD = 0xFF52
_COC = 0xFF53
_QCD = 0xFF5C
_QCC = 0xFF5D
_RGN = 0xFF5E
_POC = 0xFF5F
_PPM = 0xFF60
_PPT = 0xFF61
_SOT = 0xFF90
_SOP = 0xFF91
_EPH = 0xFF92
_SOD = 0xFF93
_EOC = 0xFFD9

_JP2_SIG = b"\x00\x00\x00\x0cjP  \r\n\x87\n"

# Context indices: 0-8 zero coding, 9-13 sign, 14-16 refinement,
# 17 run-length, 18 uniform.  Initial states per T.800 Table D.7.
_CX_RL = 17
_CX_UNI = 18
_N_CTX = 19


def _fresh_contexts() -> list:
    ctx = [[0, 0] for _ in range(_N_CTX)]
    ctx[0][0] = 4       # zero-coding context 0
    ctx[_CX_RL][0] = 3
    ctx[_CX_UNI][0] = 46
    return ctx


def _zc_ctx(nh: int, nv: int, nd: int, orient: int) -> int:
    """Zero-coding context (T.800 Table D.1). orient: 0 LL/LH, 1 HL
    (sum_h/sum_v interchanged), 2 HH (diagonal-driven column)."""
    if orient == 2:
        if nd >= 3:
            return 8
        if nd == 2:
            return 7 if nh + nv else 6
        hv = nh + nv
        if nd == 1:
            return 5 if hv >= 2 else 4 if hv == 1 else 3
        return 2 if hv >= 2 else 1 if hv == 1 else 0
    if orient == 1:
        nh, nv = nv, nh
    if nh == 2:
        return 8
    if nh == 1:
        return 7 if nv else 6 if nd else 5
    if nv == 2:
        return 4
    if nv == 1:
        return 3
    return 2 if nd >= 2 else 1 if nd == 1 else 0


def _sc_ctx(hc: int, vc: int) -> tuple:
    """Sign context + XOR bit (T.800 Table D.3); hc/vc in {-1, 0, 1}."""
    if hc == 1:
        return (13, 0) if vc == 1 else (12, 0) if vc == 0 else (11, 0)
    if hc == 0:
        return (10, 0) if vc == 1 else (9, 0) if vc == 0 else (10, 1)
    return (11, 1) if vc == 1 else (12, 1) if vc == 0 else (13, 1)


# ---------------------------------------------------------------------------
# Tag trees (T.800 B.10.2)

class _TagTree:
    """Quad-tree coder for per-code-block inclusion / zero-bitplane
    counts. Decoder and encoder share node state layout so incremental
    threshold queries consume/emit matching bit sequences."""

    def __init__(self, w: int, h: int):
        self.dims = []
        while True:
            self.dims.append((w, h))
            if w == 1 and h == 1:
                break
            w, h = (w + 1) // 2, (h + 1) // 2
        # levels[0] = leaves; each node = [value, low, known]
        self.levels = [
            [[0, 0, False] for _ in range(w_ * h_)] for (w_, h_) in self.dims
        ]

    def set_values(self, vals) -> None:
        """Encoder side: leaf values + min-reduction up the tree."""
        w, h = self.dims[0]
        for i, v in enumerate(vals):
            self.levels[0][i][0] = v
        for lvl in range(1, len(self.dims)):
            cw, ch = self.dims[lvl]
            pw, ph = self.dims[lvl - 1]
            for y in range(ch):
                for x in range(cw):
                    best = None
                    for dy in (0, 1):
                        for dx in (0, 1):
                            px, py = 2 * x + dx, 2 * y + dy
                            if px < pw and py < ph:
                                v = self.levels[lvl - 1][py * pw + px][0]
                                best = v if best is None else min(best, v)
                    self.levels[lvl][y * cw + x][0] = best or 0 \
                        if best is not None else 0

    def _path(self, x: int, y: int) -> list:
        out = []
        for lvl, (w_, _h) in enumerate(self.dims):
            out.append(self.levels[lvl][(y >> lvl) * w_ + (x >> lvl)])
        out.reverse()  # root first
        return out

    def decode(self, x: int, y: int, threshold: int, getbit) -> bool:
        """True iff leaf value known to be < threshold."""
        low = 0
        node = None
        for node in self._path(x, y):
            if node[1] < low:
                node[1] = low
            while not node[2] and node[1] < threshold:
                if getbit():
                    node[2] = True
                else:
                    node[1] += 1
            low = node[1]
        return node[2] and node[1] < threshold

    def encode(self, x: int, y: int, threshold: int, putbit) -> None:
        low = 0
        for node in self._path(x, y):
            if node[1] < low:
                node[1] = low
            while not node[2] and node[1] < threshold:
                if node[1] == node[0]:
                    putbit(1)
                    node[2] = True
                else:
                    putbit(0)
                    node[1] += 1
            low = node[1]


# ---------------------------------------------------------------------------
# Packet-header bit IO (B.10.1 — 0xFF stuffing: a byte following 0xFF
# carries 7 bits; a header never ends on an unconsumed stuff byte)

class _HdrReader:
    def __init__(self, data: bytes, pos: int):
        self.data, self.pos = data, pos
        self.buf = 0
        self.ct = 0
        self.prev = 0

    def bit(self) -> int:
        if self.ct == 0:
            if self.pos >= len(self.data):
                raise Jp2Error("truncated packet header")
            b = self.data[self.pos]
            self.pos += 1
            if self.prev == 0xFF:
                if b > 0x7F:
                    raise Jp2Error("invalid stuffing in packet header")
                self.ct = 7
            else:
                self.ct = 8
            self.buf = b
            self.prev = b
        self.ct -= 1
        return (self.buf >> self.ct) & 1

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align(self) -> int:
        """End of header: byte-align, consuming a trailing stuff byte."""
        self.ct = 0
        if self.prev == 0xFF:
            if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                self.pos += 1
        return self.pos


class _HdrWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.ct = 8

    def bit(self, b: int) -> None:
        self.buf = (self.buf << 1) | (b & 1)
        self.ct -= 1
        if self.ct == 0:
            self.out.append(self.buf)
            self.ct = 7 if self.buf == 0xFF else 8
            self.buf = 0

    def write(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bit((v >> i) & 1)

    def flush(self) -> bytes:
        full = 8 if not self.out or self.out[-1] != 0xFF else 7
        if self.ct != full:
            self.out.append(self.buf << (self.ct if full == 8 else self.ct))
        if self.out and self.out[-1] == 0xFF:
            self.out.append(0x00)
        return bytes(self.out)


def _read_npasses(bit) -> int:
    if not bit():
        return 1
    if not bit():
        return 2
    v = (bit() << 1) | bit()
    if v < 3:
        return 3 + v
    v = 0
    for _ in range(5):
        v = (v << 1) | bit()
    if v < 31:
        return 6 + v
    v = 0
    for _ in range(7):
        v = (v << 1) | bit()
    return 37 + v


def _write_npasses(w: _HdrWriter, n: int) -> None:
    if n == 1:
        w.bit(0)
    elif n == 2:
        w.bit(1)
        w.bit(0)
    elif n <= 5:
        w.write(0b11, 2)
        w.write(n - 3, 2)
    elif n <= 36:
        w.write(0b1111, 4)
        w.write(n - 6, 5)
    else:
        w.write(0b111111111, 9)
        w.write(n - 37, 7)


# ---------------------------------------------------------------------------
# EBCOT tier-1 (T.800 Annex D) — stripe-scanned bitplane coding

def _t1_decode(w: int, h: int, mb: int, zb: int, npasses: int,
               data: bytes, orient: int) -> list:
    """Decode one code-block; returns flat list of signed ints (row
    major). Truncated pass counts leave lower bitplanes zero."""
    nplanes = mb - zb
    n = w * h
    vals = [0] * n
    if nplanes <= 0 or npasses <= 0:
        return vals
    if nplanes > 31:
        raise Jp2Error("implausible bitplane count")
    mq = MqDecoder(data)
    ctx = _fresh_contexts()
    sig = [0] * n
    vis = [0] * n
    ref = [0] * n
    sgn = [0] * n
    dec = mq.decode

    def nbr_counts(x: int, y: int, i: int) -> tuple:
        nh = nv = nd = 0
        left = x > 0
        right = x < w - 1
        if left and sig[i - 1]:
            nh += 1
        if right and sig[i + 1]:
            nh += 1
        if y > 0:
            if sig[i - w]:
                nv += 1
            if left and sig[i - w - 1]:
                nd += 1
            if right and sig[i - w + 1]:
                nd += 1
        if y < h - 1:
            if sig[i + w]:
                nv += 1
            if left and sig[i + w - 1]:
                nd += 1
            if right and sig[i + w + 1]:
                nd += 1
        return nh, nv, nd

    def sign_decode(x: int, y: int, i: int) -> int:
        hc = vc = 0
        if x > 0 and sig[i - 1]:
            hc += -1 if sgn[i - 1] else 1
        if x < w - 1 and sig[i + 1]:
            hc += -1 if sgn[i + 1] else 1
        if y > 0 and sig[i - w]:
            vc += -1 if sgn[i - w] else 1
        if y < h - 1 and sig[i + w]:
            vc += -1 if sgn[i + w] else 1
        hc = 1 if hc > 0 else -1 if hc < 0 else 0
        vc = 1 if vc > 0 else -1 if vc < 0 else 0
        cx, xb = _sc_ctx(hc, vc)
        return dec(ctx[cx]) ^ xb

    total = 3 * nplanes - 2
    npasses = min(npasses, total)
    pass_i = 0
    for p in range(nplanes - 1, -1, -1):
        bitval = 1 << p
        first_plane = p == nplanes - 1
        # --- significance propagation pass ---
        if not first_plane and pass_i < npasses:
            for y0 in range(0, h, 4):
                y1 = min(y0 + 4, h)
                for x in range(w):
                    for y in range(y0, y1):
                        i = y * w + x
                        if sig[i]:
                            continue
                        nh, nv, nd = nbr_counts(x, y, i)
                        if nh + nv + nd == 0:
                            continue
                        vis[i] = 1
                        if dec(ctx[_zc_ctx(nh, nv, nd, orient)]):
                            sgn[i] = sign_decode(x, y, i)
                            sig[i] = 1
                            vals[i] = bitval
            pass_i += 1
        # --- magnitude refinement pass ---
        if not first_plane and pass_i < npasses:
            for y0 in range(0, h, 4):
                y1 = min(y0 + 4, h)
                for x in range(w):
                    for y in range(y0, y1):
                        i = y * w + x
                        if not sig[i] or vis[i]:
                            continue
                        if ref[i]:
                            cx = 16
                        else:
                            nh, nv, nd = nbr_counts(x, y, i)
                            cx = 15 if nh + nv + nd else 14
                        if dec(ctx[cx]):
                            vals[i] |= bitval
                        ref[i] = 1
            pass_i += 1
        # --- cleanup pass ---
        if pass_i < npasses:
            for y0 in range(0, h, 4):
                y1 = min(y0 + 4, h)
                full = y1 - y0 == 4
                for x in range(w):
                    y = y0
                    if full:
                        run_ok = True
                        for yy in range(y0, y1):
                            i = yy * w + x
                            if sig[i] or vis[i]:
                                run_ok = False
                                break
                            nh, nv, nd = nbr_counts(x, yy, i)
                            if nh + nv + nd:
                                run_ok = False
                                break
                        if run_ok:
                            if not dec(ctx[_CX_RL]):
                                continue  # all four stay insignificant
                            k = (dec(ctx[_CX_UNI]) << 1) | dec(ctx[_CX_UNI])
                            y = y0 + k
                            i = y * w + x
                            sgn[i] = sign_decode(x, y, i)
                            sig[i] = 1
                            vals[i] = bitval
                            y += 1
                    for yy in range(y, y1):
                        i = yy * w + x
                        if sig[i] or vis[i]:
                            continue
                        nh, nv, nd = nbr_counts(x, yy, i)
                        if dec(ctx[_zc_ctx(nh, nv, nd, orient)]):
                            sgn[i] = sign_decode(x, yy, i)
                            sig[i] = 1
                            vals[i] = bitval
            pass_i += 1
        for i in range(n):
            vis[i] = 0
        if pass_i >= npasses:
            break
    for i in range(n):
        if sgn[i]:
            vals[i] = -vals[i]
    return vals


def _t1_encode(block, mb: int, orient: int):
    """Encode one code-block (2D int array). Returns (zb, npasses,
    codeword bytes) or None when the block is entirely zero."""
    h, w = block.shape
    n = w * h
    vals = [int(v) for v in block.ravel()]
    maxmag = max((abs(v) for v in vals), default=0)
    if maxmag == 0:
        return None
    nb = maxmag.bit_length()
    if nb > mb:
        raise Jp2Error("band exponent too small for data")
    zb = mb - nb
    nplanes = nb
    mq = MqEncoder()
    ctx = _fresh_contexts()
    sig = [0] * n
    vis = [0] * n
    ref = [0] * n
    sgn = [1 if v < 0 else 0 for v in vals]
    mag = [abs(v) for v in vals]
    enc = mq.encode

    def nbr_counts(x: int, y: int, i: int) -> tuple:
        nh = nv = nd = 0
        left = x > 0
        right = x < w - 1
        if left and sig[i - 1]:
            nh += 1
        if right and sig[i + 1]:
            nh += 1
        if y > 0:
            if sig[i - w]:
                nv += 1
            if left and sig[i - w - 1]:
                nd += 1
            if right and sig[i - w + 1]:
                nd += 1
        if y < h - 1:
            if sig[i + w]:
                nv += 1
            if left and sig[i + w - 1]:
                nd += 1
            if right and sig[i + w + 1]:
                nd += 1
        return nh, nv, nd

    def sign_encode(x: int, y: int, i: int) -> None:
        hc = vc = 0
        if x > 0 and sig[i - 1]:
            hc += -1 if sgn[i - 1] else 1
        if x < w - 1 and sig[i + 1]:
            hc += -1 if sgn[i + 1] else 1
        if y > 0 and sig[i - w]:
            vc += -1 if sgn[i - w] else 1
        if y < h - 1 and sig[i + w]:
            vc += -1 if sgn[i + w] else 1
        hc = 1 if hc > 0 else -1 if hc < 0 else 0
        vc = 1 if vc > 0 else -1 if vc < 0 else 0
        cx, xb = _sc_ctx(hc, vc)
        enc(ctx[cx], sgn[i] ^ xb)

    npasses = 0
    for p in range(nplanes - 1, -1, -1):
        first_plane = p == nplanes - 1
        # --- significance propagation ---
        if not first_plane:
            for y0 in range(0, h, 4):
                y1 = min(y0 + 4, h)
                for x in range(w):
                    for y in range(y0, y1):
                        i = y * w + x
                        if sig[i]:
                            continue
                        nh, nv, nd = nbr_counts(x, y, i)
                        if nh + nv + nd == 0:
                            continue
                        vis[i] = 1
                        bit = (mag[i] >> p) & 1
                        enc(ctx[_zc_ctx(nh, nv, nd, orient)], bit)
                        if bit:
                            sig[i] = 1
                            sign_encode(x, y, i)
            npasses += 1
        # --- magnitude refinement ---
        if not first_plane:
            for y0 in range(0, h, 4):
                y1 = min(y0 + 4, h)
                for x in range(w):
                    for y in range(y0, y1):
                        i = y * w + x
                        if not sig[i] or vis[i]:
                            continue
                        if ref[i]:
                            cx = 16
                        else:
                            nh, nv, nd = nbr_counts(x, y, i)
                            cx = 15 if nh + nv + nd else 14
                        enc(ctx[cx], (mag[i] >> p) & 1)
                        ref[i] = 1
            npasses += 1
        # --- cleanup ---
        for y0 in range(0, h, 4):
            y1 = min(y0 + 4, h)
            full = y1 - y0 == 4
            for x in range(w):
                y = y0
                if full:
                    run_ok = True
                    for yy in range(y0, y1):
                        i = yy * w + x
                        if sig[i] or vis[i]:
                            run_ok = False
                            break
                        nh, nv, nd = nbr_counts(x, yy, i)
                        if nh + nv + nd:
                            run_ok = False
                            break
                    if run_ok:
                        k = next((yy - y0 for yy in range(y0, y1)
                                  if (mag[yy * w + x] >> p) & 1), None)
                        if k is None:
                            enc(ctx[_CX_RL], 0)
                            continue
                        enc(ctx[_CX_RL], 1)
                        enc(ctx[_CX_UNI], (k >> 1) & 1)
                        enc(ctx[_CX_UNI], k & 1)
                        y = y0 + k
                        i = y * w + x
                        sig[i] = 1
                        sign_encode(x, y, i)
                        y += 1
                for yy in range(y, y1):
                    i = yy * w + x
                    if sig[i] or vis[i]:
                        continue
                    nh, nv, nd = nbr_counts(x, yy, i)
                    bit = (mag[i] >> p) & 1
                    enc(ctx[_zc_ctx(nh, nv, nd, orient)], bit)
                    if bit:
                        sig[i] = 1
                        sign_encode(x, yy, i)
        npasses += 1
        for i in range(n):
            vis[i] = 0
    return zb, npasses, mq.flush()


# ---------------------------------------------------------------------------
# 5/3 reversible DWT (T.800 Annex F), whole-point symmetric extension

def _fwd53_1d(x):
    n = x.shape[-1]
    if n == 1:
        return x.copy(), x[..., :0].copy()
    xe = x[..., 0::2]
    xo = x[..., 1::2]
    ne, no = xe.shape[-1], xo.shape[-1]
    # x[2i+2] with mirror at the right edge
    xe_r = xe[..., 1:] if ne > no else xe[..., 1:ne]
    if xe_r.shape[-1] < no:  # even length: x[n] mirrors to x[n-2]
        xe_r = np.concatenate([xe_r, xe[..., -1:]], axis=-1)
    d = xo - ((xe[..., :no] + xe_r) >> 1)
    d_l = np.concatenate([d[..., :1], d], axis=-1)   # d[-1] = d[0]
    d_r = d_l[..., 1:]
    if d_r.shape[-1] < ne:  # odd length: d[ne-1] mirrors to d[ne-2]
        d_r = np.concatenate([d_r, d[..., -1:]], axis=-1)
    s = xe + ((d_l[..., :ne] + d_r + 2) >> 2)
    return s, d


def _inv53_1d(s, d):
    ne, no = s.shape[-1], d.shape[-1]
    n = ne + no
    if n == 1:
        return s.copy()
    d_l = np.concatenate([d[..., :1], d], axis=-1)
    d_r = d_l[..., 1:]
    if d_r.shape[-1] < ne:
        d_r = np.concatenate([d_r, d[..., -1:]], axis=-1)
    xe = s - ((d_l[..., :ne] + d_r + 2) >> 2)
    xe_r = xe[..., 1:]
    if xe_r.shape[-1] < no:
        xe_r = np.concatenate([xe_r, xe[..., -1:]], axis=-1)
    xo = d + ((xe[..., :no] + xe_r) >> 1)
    out = np.empty(s.shape[:-1] + (n,), dtype=s.dtype)
    out[..., 0::2] = xe
    out[..., 1::2] = xo
    return out


def _fwd53_2d(a):
    """One split: returns (LL, HL, LH, HH). Horizontal then vertical."""
    l_, h_ = _fwd53_1d(a)                      # along rows (x)
    ll, lh = _fwd53_1d(np.ascontiguousarray(l_.T))
    hl, hh = _fwd53_1d(np.ascontiguousarray(h_.T))
    return ll.T, hl.T, lh.T, hh.T


def _inv53_2d(ll, hl, lh, hh):
    l_ = _inv53_1d(np.ascontiguousarray(ll.T),
                   np.ascontiguousarray(lh.T)).T
    h_ = _inv53_1d(np.ascontiguousarray(hl.T),
                   np.ascontiguousarray(hh.T)).T
    return _inv53_1d(np.ascontiguousarray(l_), np.ascontiguousarray(h_))


def _band_layout(w: int, h: int, nl: int) -> list:
    """Per-resolution band list: res 0 = [("LL", w, h)]; res r>0 =
    [("HL", ...), ("LH", ...), ("HH", ...)] at decomposition level
    nl - r + 1. Zero image/tile offsets assumed (enforced at SIZ)."""
    dims = [(w, h)]
    for _ in range(nl):
        pw, ph = dims[-1]
        dims.append(((pw + 1) // 2, (ph + 1) // 2))
    out = [[("LL", dims[nl][0], dims[nl][1])]]
    for r in range(1, nl + 1):
        d = nl - r + 1
        pw, ph = dims[d - 1]
        lw, lh_ = (pw + 1) // 2, (ph + 1) // 2
        hw, hh_ = pw - lw, ph - lh_
        out.append([("HL", hw, lh_), ("LH", lw, hh_), ("HH", hw, hh_)])
    return out


_ORIENT = {"LL": 0, "LH": 0, "HL": 1, "HH": 2}


class _CodeBlock:
    __slots__ = ("x", "y", "w", "h", "included", "zb", "lblock",
                 "npasses", "data")

    def __init__(self, x, y, w, h):
        self.x, self.y, self.w, self.h = x, y, w, h
        self.included = False
        self.zb = 0
        self.lblock = 3
        self.npasses = 0
        self.data = b""


class _Band:
    __slots__ = ("name", "w", "h", "mb", "ncx", "ncy", "cbs",
                 "incl_tree", "zb_tree")

    def __init__(self, name, w, h, mb, cbw, cbh):
        self.name, self.w, self.h, self.mb = name, w, h, mb
        # a zero-area band has NO code-blocks (real codestreams emit
        # nothing for it), not a degenerate 1x1 grid
        self.ncx = (w + cbw - 1) // cbw if w > 0 and h > 0 else 0
        self.ncy = (h + cbh - 1) // cbh if w > 0 and h > 0 else 0
        self.cbs = []
        for cy in range(self.ncy):
            for cx in range(self.ncx):
                x0, y0 = cx * cbw, cy * cbh
                self.cbs.append(_CodeBlock(
                    x0, y0, min(cbw, w - x0), min(cbh, h - y0)))
        self.incl_tree = _TagTree(max(1, self.ncx), max(1, self.ncy))
        self.zb_tree = _TagTree(max(1, self.ncx), max(1, self.ncy))


def _packet_order(prog: int, nlayers: int, nres: int, ncomp: int) -> list:
    """(layer, res, comp) sequence for single-precinct codestreams."""
    out = []
    if prog == 0:  # LRCP
        for l in range(nlayers):
            for r in range(nres):
                for c in range(ncomp):
                    out.append((l, r, c))
    elif prog == 1:  # RLCP
        for r in range(nres):
            for l in range(nlayers):
                for c in range(ncomp):
                    out.append((l, r, c))
    elif prog == 2:  # RPCL
        for r in range(nres):
            for c in range(ncomp):
                for l in range(nlayers):
                    out.append((l, r, c))
    else:
        raise Jp2Error(f"unsupported progression order {prog}")
    return out


# ---------------------------------------------------------------------------
# Decoder

def _u16(b, i):
    return struct.unpack_from(">H", b, i)[0]


def _u32(b, i):
    return struct.unpack_from(">I", b, i)[0]


def _find_codestream(data: bytes) -> bytes:
    if data[:4] == b"\xff\x4f\xff\x51":
        return data
    if not data.startswith(_JP2_SIG):
        raise Jp2Error("not a JPEG 2000 payload")
    pos = 0
    while pos + 8 <= len(data):
        ln = _u32(data, pos)
        btype = data[pos + 4:pos + 8]
        body_off = pos + 8
        min_len = 8
        if ln == 1:
            if pos + 16 > len(data):
                break
            ln = struct.unpack_from(">Q", data, pos + 8)[0]
            body_off = pos + 16
            min_len = 16  # XLBox length includes its 16-byte header
        elif ln == 0:
            ln = len(data) - pos
        if ln < min_len or pos + ln > len(data):
            raise Jp2Error("malformed JP2 box")
        if btype == b"jp2c":
            return data[body_off:pos + ln]
        pos += ln
    raise Jp2Error("no jp2c codestream box")


def decode_jp2(data: bytes):
    """Decode to a (H, W) uint8 array (1 component) or (H, W, C) for
    multi-component images. Raises Jp2Error outside the subset."""
    try:
        return _decode_jp2(data)
    except (IndexError, struct.error, ValueError) as e:
        if isinstance(e, Jp2Error):
            raise
        # truncated marker segments etc: total rejection, never a crash
        raise Jp2Error(f"malformed codestream: {e}") from e


def _decode_jp2(data: bytes):
    cs = _find_codestream(data)
    if len(cs) < 4 or _u16(cs, 0) != _SOC:
        raise Jp2Error("missing SOC")
    pos = 2
    siz = cod = qcd = None
    tile_body = bytearray()
    n = len(cs)
    while pos + 2 <= n:
        mk = _u16(cs, pos)
        if mk == _EOC:
            break
        if mk == _SOT:
            if pos + 12 > n:
                raise Jp2Error("truncated SOT")
            lsot = _u16(cs, pos + 2)
            isot = _u16(cs, pos + 4)
            psot = _u32(cs, pos + 6)
            if isot != 0:
                raise Jp2Error("multi-tile codestream unsupported")
            tp_end = pos + psot if psot else n
            if tp_end > n:
                raise Jp2Error("SOT Psot overruns codestream")
            # walk tile-part header markers to SOD
            q = pos + 2 + lsot
            while q + 2 <= tp_end:
                tmk = _u16(cs, q)
                if tmk == _SOD:
                    tile_body += cs[q + 2:tp_end]
                    break
                if tmk == _PPT:
                    raise Jp2Error("packed packet headers unsupported")
                if tmk in (_COD, _COC, _QCD, _QCC, _POC, _RGN):
                    # tile-specific coding-parameter overrides: skipping
                    # them would decode with main-header params — wrong
                    # pixels, not a typed error — so reject instead
                    raise Jp2Error(
                        f"tile-part coding marker 0x{tmk:04x} unsupported")
                if q + 4 > tp_end:
                    raise Jp2Error("truncated tile-part header")
                q += 2 + _u16(cs, q + 2)
            else:
                raise Jp2Error("tile part without SOD")
            pos = tp_end
            continue
        if pos + 4 > n:
            raise Jp2Error("truncated marker segment")
        lm = _u16(cs, pos + 2)
        seg = cs[pos + 4:pos + 2 + lm]
        if mk == _SIZ:
            siz = seg
        elif mk == _COD:
            cod = seg
        elif mk == _QCD:
            qcd = seg
        elif mk in (_COC, _QCC, _POC, _PPM, _RGN):
            raise Jp2Error(f"unsupported marker 0x{mk:04x}")
        # COM/TLM/PLM/CRG and unknown informational markers: skip
        pos += 2 + lm
    if siz is None or cod is None or qcd is None:
        raise Jp2Error("missing SIZ/COD/QCD")

    # --- SIZ ---
    xsiz, ysiz = _u32(siz, 2), _u32(siz, 6)
    xo, yo = _u32(siz, 10), _u32(siz, 14)
    xt, yt = _u32(siz, 18), _u32(siz, 22)
    xto, yto = _u32(siz, 26), _u32(siz, 30)
    ncomp = _u16(siz, 34)
    if xo or yo or xto or yto:
        raise Jp2Error("nonzero image/tile offsets unsupported")
    if xt < xsiz or yt < ysiz:
        raise Jp2Error("multi-tile image unsupported")
    if not (0 < xsiz and 0 < ysiz):
        raise Jp2Error("empty image")
    if xsiz * ysiz > MAX_PIXELS:
        raise Jp2Error(f"pixel budget exceeded ({xsiz}x{ysiz})")
    if ncomp < 1 or ncomp > 4:
        raise Jp2Error(f"unsupported component count {ncomp}")
    for c in range(ncomp):
        ssiz = siz[36 + 3 * c]
        xr, yr = siz[37 + 3 * c], siz[38 + 3 * c]
        if ssiz != 7:
            raise Jp2Error("only 8-bit unsigned components supported")
        if xr != 1 or yr != 1:
            raise Jp2Error("component subsampling unsupported")

    # --- COD ---
    scod = cod[0]
    prog = cod[1]
    nlayers = _u16(cod, 2)
    mct = cod[4]
    nl = cod[5]
    cbw = 1 << (2 + (cod[6] & 0x0F))
    cbh = 1 << (2 + (cod[7] & 0x0F))
    if cbw * cbh > 4096:
        raise Jp2Error("code-block exceeds 4096 samples")
    cbstyle = cod[8]
    transform = cod[9]
    has_sop = bool(scod & 0x02)
    has_eph = bool(scod & 0x04)
    if cbstyle != 0:
        raise Jp2Error(f"unsupported code-block style 0x{cbstyle:02x}")
    if transform != 1:
        raise Jp2Error("irreversible 9/7 transform unsupported")
    if nlayers < 1 or nl > 32:
        raise Jp2Error("implausible COD parameters")
    if scod & 0x01:
        # explicit precinct sizes: accept only grids that stay single
        for r in range(nl + 1):
            pp = cod[10 + r]
            ppx, ppy = pp & 0x0F, pp >> 4
            rw = (xsiz + (1 << (nl - r)) - 1) >> (nl - r) if r else \
                (xsiz + (1 << nl) - 1) >> nl
            rh = (ysiz + (1 << (nl - r)) - 1) >> (nl - r) if r else \
                (ysiz + (1 << nl) - 1) >> nl
            if (1 << ppx) < rw or (1 << ppy) < rh:
                raise Jp2Error("multi-precinct codestream unsupported")

    # --- QCD ---
    sqcd = qcd[0]
    if sqcd & 0x1F:
        raise Jp2Error("quantized (lossy) codestream unsupported")
    guard = sqcd >> 5
    exps = [b >> 3 for b in qcd[1:]]
    layout = _band_layout(xsiz, ysiz, nl)
    nbands = 1 + 3 * nl
    if len(exps) < nbands:
        raise Jp2Error("QCD exponent list too short")

    # --- band/code-block structures per component ---
    comps = []
    for _c in range(ncomp):
        res = []
        bi = 0
        for r, bands in enumerate(layout):
            row = []
            for (name, bw, bh) in bands:
                mb = exps[bi] + guard - 1
                bi += 1
                row.append(_Band(name, bw, bh, mb, cbw, cbh))
            res.append(row)
        comps.append(res)

    # --- tier-2: walk packets ---
    body = bytes(tile_body)
    pos = 0
    for (layer, r, c) in _packet_order(prog, nlayers, nl + 1, ncomp):
        if has_sop and body[pos:pos + 2] == b"\xff\x91":
            pos += 6
        rd = _HdrReader(body, pos)
        contributions = []
        if rd.bit():
            for band in comps[c][r]:
                for idx, cb in enumerate(band.cbs):
                    cbx, cby = idx % band.ncx, idx // band.ncx
                    if cb.included:
                        inc = rd.bit()
                    else:
                        inc = band.incl_tree.decode(
                            cbx, cby, layer + 1, rd.bit)
                    if not inc:
                        continue
                    if not cb.included:
                        t = 1
                        while not band.zb_tree.decode(cbx, cby, t, rd.bit):
                            t += 1
                        cb.zb = t - 1
                        cb.included = True
                    npasses = _read_npasses(rd.bit)
                    while rd.bit():
                        cb.lblock += 1
                    nbits = cb.lblock + int(math.floor(math.log2(npasses)))
                    if nbits > 32:
                        raise Jp2Error("implausible segment length")
                    seglen = rd.read(nbits)
                    contributions.append((cb, npasses, seglen))
        pos = rd.align()
        if has_eph:
            if body[pos:pos + 2] != b"\xff\x92":
                raise Jp2Error("missing EPH")
            pos += 2
        for cb, npasses, seglen in contributions:
            if pos + seglen > len(body):
                raise Jp2Error("packet body overruns tile data")
            cb.data += body[pos:pos + seglen]
            cb.npasses += npasses
            pos += seglen

    # --- tier-1 + inverse DWT per component ---
    out_comps = []
    for c in range(ncomp):
        planes = []
        for r, bands in enumerate(comps[c]):
            row = []
            for band in bands:
                arr = np.zeros((band.h, band.w), dtype=np.int32)
                orient = _ORIENT[band.name]
                for cb in band.cbs:
                    if not cb.included or cb.npasses == 0:
                        continue
                    vals = _t1_decode(cb.w, cb.h, band.mb, cb.zb,
                                      cb.npasses, cb.data, orient)
                    arr[cb.y:cb.y + cb.h, cb.x:cb.x + cb.w] = np.asarray(
                        vals, dtype=np.int32).reshape(cb.h, cb.w)
                row.append(arr)
            planes.append(row)
        ll = planes[0][0]
        for r in range(1, nl + 1):
            hl, lh, hh = planes[r]
            ll = _inv53_2d(ll, hl, lh, hh)
        out_comps.append(ll)

    if mct == 1 and ncomp >= 3:
        y0, y1, y2 = (a.astype(np.int64) for a in out_comps[:3])
        g = y0 - ((y1 + y2) >> 2)
        r_ = y2 + g
        b_ = y1 + g
        out_comps[0], out_comps[1], out_comps[2] = r_, g, b_

    imgs = [np.clip(a + 128, 0, 255).astype(np.uint8) for a in out_comps]
    if ncomp == 1:
        return imgs[0]
    return np.stack(imgs, axis=-1)


# ---------------------------------------------------------------------------
# Encoder (planting subset: 1 component, 1 layer, LRCP, all passes)

def encode_jp2(img, levels: int = 2, cb_exp: int = 6,
               wrap: bool = False, layers: int = 1,
               sop: bool = False, eph: bool = False) -> bytes:
    """Encode a (H, W) grayscale or (H, W, 3) RGB uint8 array as a
    reversible JPEG 2000 codestream (`wrap=True` adds the JP2 box
    format). RGB goes through the reversible color transform (RCT,
    MCT=1). decode_jp2(encode_jp2(a)) round-trips exactly — 5/3 with
    no quantization is lossless.

    `layers > 1` splits every code-block's passes across quality layers
    (first layer gets the first pass, the rest arrive in the last
    layer; intermediate layers are empty contributions) — with no
    inter-pass termination the codeword segment may split at any byte
    boundary, since decoders concatenate a block's per-layer segments
    before tier-1. Exists to exercise the multi-layer tier-2 path."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        comps = [img.astype(np.int32) - 128]
        mct = 0
    elif img.ndim == 3 and img.shape[2] == 3:
        r_ = img[:, :, 0].astype(np.int32) - 128
        g_ = img[:, :, 1].astype(np.int32) - 128
        b_ = img[:, :, 2].astype(np.int32) - 128
        # T.800 G.2 reversible color transform (exact inverse in decode)
        comps = [(r_ + 2 * g_ + b_) >> 2, b_ - g_, r_ - g_]
        mct = 1
    else:
        raise Jp2Error("encoder expects (H, W) or (H, W, 3) uint8")
    if img.size == 0:
        raise Jp2Error("encoder expects a non-empty array")
    h, w = img.shape[:2]
    ncomp = len(comps)
    nl = max(0, min(int(levels), 6))
    cbw = cbh = 1 << cb_exp
    guard = 2

    # forward DWT per component
    layout = _band_layout(w, h, nl)
    comp_band_data = []
    for a in comps:
        planes = []
        ll = a
        for _d in range(nl):
            ll, hl, lh, hh = _fwd53_2d(ll)
            planes.append((hl, lh, hh))
        band_data = {(0, "LL"): ll}
        for r in range(1, nl + 1):
            hl, lh, hh = planes[nl - r]
            band_data[(r, "HL")] = hl
            band_data[(r, "LH")] = lh
            band_data[(r, "HH")] = hh
        comp_band_data.append(band_data)

    # per-band exponents: QCD covers every component (no QCC), so take
    # the max dynamic range across components per band
    exps = []
    for r, bands in enumerate(layout):
        for (name, bw, bh) in bands:
            maxmag = 0
            for band_data in comp_band_data:
                data = band_data[(r, name)]
                assert data.shape == (bh, bw), (name, data.shape, (bh, bw))
                if data.size:
                    maxmag = max(maxmag, int(np.abs(data).max()))
            nbits = max(1, maxmag.bit_length())
            exps.append(max(1, nbits - guard + 1))

    # tier-1 encode all code-blocks; per-(comp, band) tag trees
    nlayers = max(1, min(int(layers), 16))
    comp_bands = []
    for c in range(ncomp):
        bands_struct = []
        ei = 0
        for r, bands in enumerate(layout):
            row = []
            for (name, bw, bh) in bands:
                mb = exps[ei] + guard - 1
                ei += 1
                data = comp_band_data[c][(r, name)]
                band = _Band(name, bw, bh, mb, cbw, cbh)
                incl_vals = []
                zb_vals = []
                for cb in band.cbs:
                    blk = data[cb.y:cb.y + cb.h, cb.x:cb.x + cb.w]
                    res = _t1_encode(blk, band.mb, _ORIENT[band.name])
                    if res is None:
                        incl_vals.append(nlayers)  # >= every threshold
                        zb_vals.append(0)
                    else:
                        cb.zb, cb.npasses, cb.data = res
                        incl_vals.append(0)   # included in first layer
                        zb_vals.append(cb.zb)
                band.incl_tree.set_values(incl_vals)
                band.zb_tree.set_values(zb_vals)
                row.append(band)
            bands_struct.append(row)
        comp_bands.append(bands_struct)

    def _layer_contribs(cb) -> list:
        """Per-layer (npasses, bytes) splits for one code-block."""
        if not cb.npasses:
            return [None] * nlayers
        if nlayers == 1 or cb.npasses == 1:
            return [(cb.npasses, cb.data)] + [None] * (nlayers - 1)
        split = len(cb.data) // 2
        out = [(1, cb.data[:split])] + [None] * (nlayers - 2)
        out.append((cb.npasses - 1, cb.data[split:]))
        return out

    # tier-2: one packet per (layer, resolution, component) — LRCP
    body = bytearray()
    nsop = 0
    for l in range(nlayers):
        for r in range(nl + 1):
            for c in range(ncomp):
                if sop:  # B.10.4 resync marker before each packet
                    body += struct.pack(">HHH", _SOP, 4, nsop & 0xFFFF)
                    nsop += 1
                wtr = _HdrWriter()
                contribs = []
                for band in comp_bands[c][r]:
                    for idx, cb in enumerate(band.cbs):
                        lc = (_layer_contribs(cb)[l]
                              if cb.npasses else None)
                        contribs.append((band, idx, cb, lc))
                if not any(lc for _b, _i, _cb, lc in contribs):
                    wtr.bit(0)
                    body += wtr.flush()
                    if eph:
                        body += struct.pack(">H", _EPH)
                    continue
                wtr.bit(1)
                packet_data = bytearray()
                for band, idx, cb, lc in contribs:
                    cbx, cby = idx % band.ncx, idx // band.ncx
                    if cb.included:
                        wtr.bit(1 if lc else 0)
                    else:
                        band.incl_tree.encode(cbx, cby, l + 1, wtr.bit)
                    if not lc:
                        continue
                    if not cb.included:
                        cb.included = True
                        t = 1
                        while True:
                            band.zb_tree.encode(cbx, cby, t, wtr.bit)
                            if cb.zb < t:
                                break
                            t += 1
                    npass_l, data_l = lc
                    _write_npasses(wtr, npass_l)
                    nbits = cb.lblock + int(
                        math.floor(math.log2(npass_l)))
                    while len(data_l) >= (1 << nbits):
                        wtr.bit(1)
                        cb.lblock += 1
                        nbits += 1
                    wtr.bit(0)
                    wtr.write(len(data_l), nbits)
                    packet_data += data_l
                body += wtr.flush()
                if eph:
                    body += struct.pack(">H", _EPH)
                body += packet_data

    # markers
    out = bytearray()
    out += struct.pack(">H", _SOC)
    siz = struct.pack(">HIIIIIIIIH", 0, w, h, 0, 0, w, h, 0, 0, ncomp)
    siz += bytes([7, 1, 1]) * ncomp
    out += struct.pack(">HH", _SIZ, 2 + len(siz)) + siz
    spcod = bytes([nl, cb_exp - 2, cb_exp - 2, 0, 1])
    scod = (0x02 if sop else 0) | (0x04 if eph else 0)
    cod = (bytes([scod, 0]) + struct.pack(">H", nlayers)
           + bytes([mct]) + spcod)
    out += struct.pack(">HH", _COD, 2 + len(cod)) + cod
    qcd = bytes([guard << 5]) + bytes(e << 3 for e in exps)
    out += struct.pack(">HH", _QCD, 2 + len(qcd)) + qcd
    psot = 12 + 2 + len(body)
    out += struct.pack(">HHHIBB", _SOT, 10, 0, psot, 0, 1)
    out += struct.pack(">H", _SOD) + body
    out += struct.pack(">H", _EOC)
    cs = bytes(out)
    return _wrap_jp2(cs, w, h, ncomp) if wrap else cs


def _wrap_jp2(cs: bytes, w: int, h: int, ncomp: int = 1) -> bytes:
    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", b"jp2 " + struct.pack(">I", 0) + b"jp2 ")
    ihdr = box(b"ihdr", struct.pack(">IIHBBBB", h, w, ncomp, 7, 7, 0, 0))
    enum_cs = 16 if ncomp == 3 else 17  # sRGB / greyscale
    colr = box(b"colr", bytes([1, 0, 0]) + struct.pack(">I", enum_cs))
    jp2h = box(b"jp2h", ihdr + colr)
    return _JP2_SIG + ftyp + jp2h + box(b"jp2c", cs)
