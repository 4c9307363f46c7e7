"""Image codec correctness: PNG/BMP/PNM roundtrips (all PNG filters),
resize determinism, perceptual-hash invariants, and the Spark-side
multimodal operators (features, thumbnails, near-dup pairs)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from docvision_spark.kernel.image_codec import (
    ImageDecodeError, ahash64, decode_bmp, decode_image, decode_png,
    decode_pnm, dhash64, encode_png, luma_stats, resize_bilinear,
    resize_nearest, to_gray,
)

RNG = np.random.default_rng(2026)


def _rand(shape):
    return RNG.integers(0, 256, size=shape, dtype=np.uint8)


# ------------------------------------------------------------------- PNG ----

@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("shape", [(11, 7), (11, 7, 3), (11, 7, 4)])
def test_png_roundtrip_all_filters(filter_type, shape):
    arr = _rand(shape)
    dec = decode_png(encode_png(arr, filter_type=filter_type))
    if arr.ndim == 2:
        exp = np.repeat(arr[:, :, None], 3, axis=2)
    elif arr.shape[2] == 4:
        exp = arr[:, :, :3]
    else:
        exp = arr
    assert dec.shape == exp.shape and (dec == exp).all()


def test_png_1x1_and_wide():
    for shape in [(1, 1, 3), (1, 300, 3), (300, 1, 3)]:
        arr = _rand(shape)
        assert (decode_png(encode_png(arr)) == arr).all()


def test_png_palette():
    # hand-build a palette (color type 3) PNG: 2x2, 3 palette entries
    import zlib
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    idx = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 0])  # 2 rows, filter 0
    from docvision_spark.kernel.image_codec import PNG_SIG, _chunk
    png = (PNG_SIG
           + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
           + _chunk(b"PLTE", pal)
           + _chunk(b"IDAT", zlib.compress(idx))
           + _chunk(b"IEND", b""))
    out = decode_png(png)
    assert out.shape == (2, 2, 3)
    assert tuple(out[0, 0]) == (255, 0, 0) and tuple(out[0, 1]) == (0, 255, 0)
    assert tuple(out[1, 0]) == (0, 0, 255)


def test_png_rejects_garbage_and_truncation():
    with pytest.raises(ImageDecodeError):
        decode_png(b"\x89PNG\r\n\x1a\n garbage after signature")
    good = encode_png(_rand((8, 8, 3)))
    with pytest.raises(ImageDecodeError):
        decode_png(good[:40])


# ------------------------------------------------------------------- BMP ----

def _make_bmp(img: np.ndarray, topdown: bool = False, bpp: int = 24) -> bytes:
    h, w = img.shape[:2]
    nb = bpp // 8
    stride = (w * nb + 3) & ~3
    rows = b""
    order = range(h) if topdown else range(h - 1, -1, -1)
    for y in order:
        if bpp == 24:
            row = img[y][:, [2, 1, 0]].tobytes()
        else:  # 32: BGRA
            bgra = np.concatenate(
                [img[y][:, [2, 1, 0]], np.full((w, 1), 255, np.uint8)], axis=1)
            row = bgra.tobytes()
        rows += row + b"\x00" * (stride - len(row))
    hh = -h if topdown else h
    info = struct.pack("<IiiHHIIiiII", 40, w, hh, 1, bpp, 0, len(rows),
                       2835, 2835, 0, 0)
    return (b"BM" + struct.pack("<IHHI", 14 + 40 + len(rows), 0, 0, 54)
            + info + rows)


@pytest.mark.parametrize("topdown", [False, True])
@pytest.mark.parametrize("bpp", [24, 32])
def test_bmp_roundtrip(topdown, bpp):
    img = _rand((5, 7, 3))
    assert (decode_bmp(_make_bmp(img, topdown=topdown, bpp=bpp)) == img).all()


def test_bmp_rejects_bad():
    with pytest.raises(ImageDecodeError):
        decode_bmp(b"BM" + b"\x00" * 60)  # bpp 0
    with pytest.raises(ImageDecodeError):
        decode_bmp(b"notbmp")


# ------------------------------------------------------------------- PNM ----

def test_pnm_gray_and_rgb_with_comments():
    gray = _rand((4, 6))
    p5 = b"P5\n# a comment\n6 4\n255\n" + gray.tobytes()
    assert (decode_pnm(p5) == np.repeat(gray[:, :, None], 3, 2)).all()
    rgb = _rand((3, 5, 3))
    assert (decode_pnm(b"P6 5 3 255\n" + rgb.tobytes()) == rgb).all()
    with pytest.raises(ImageDecodeError):
        decode_pnm(b"P6 5 3 255\n" + rgb.tobytes()[:-1])  # truncated


def test_decode_image_dispatch():
    from docvision_spark.kernel.image_codec import encode_gif

    img = _rand((6, 6, 3))
    assert decode_image(encode_png(img))[1] == "png"
    assert decode_image(_make_bmp(img))[1] == "bmp"
    assert decode_image(b"P6 6 6 255\n" + img.tobytes())[1] == "pnm"
    assert decode_image(encode_gif(img))[1] == "gif"
    with pytest.raises(ImageDecodeError):
        decode_image(b"\xff\xd8\xff jpeg needs a DCT decoder")


def test_decode_image_jp2():
    from docvision_spark.kernel.jp2_codec import encode_jp2

    img = _rand((24, 18, 3))
    # raw codestream and JP2 box format both dispatch; RGB is lossless
    for wrap in (False, True):
        out, fmt = decode_image(encode_jp2(img, levels=2, wrap=wrap))
        assert fmt == "jp2" and (out == img).all()
    # grayscale decodes to a stacked-RGB array like the other gray paths
    gray = _rand((15, 11))
    out, fmt = decode_image(encode_jp2(gray, levels=1))
    assert fmt == "jp2" and out.shape == (15, 11, 3)
    assert (out[:, :, 0] == gray).all() and (out[:, :, 1] == gray).all()
    # corrupt codestream -> typed ImageDecodeError, not Jp2Error
    with pytest.raises(ImageDecodeError, match="jp2"):
        decode_image(b"\xff\x4f\xff\x51" + b"\x00" * 16)


# ------------------------------------------------------------------- GIF ----

@pytest.mark.parametrize("interlace", [False, True])
@pytest.mark.parametrize("shape", [(9, 13), (1, 1), (64, 48)])
def test_gif_palette_roundtrip(shape, interlace):
    from docvision_spark.kernel.image_codec import decode_gif, encode_gif

    pal8 = _rand((8, 3))
    img = pal8[RNG.integers(0, 8, size=shape)]
    dec = decode_gif(encode_gif(img, interlace=interlace))
    assert dec.shape == img.shape and (dec == img).all()


def test_gif_quantizes_beyond_256_colors_to_exact_luma():
    from docvision_spark.kernel.image_codec import decode_gif, encode_gif

    big = _rand((20, 30, 3))
    dec = decode_gif(encode_gif(big))
    g = to_gray(big)
    assert (dec[:, :, 0] == g).all() and (dec[:, :, 2] == g).all()
    # luma-quantized GIF keeps the BT.601 plane exactly -> dhash invariant
    assert dhash64(dec) == dhash64(np.repeat(g[:, :, None], 3, axis=2))


def test_gif_lzw_code_growth_and_table_reset():
    from docvision_spark.kernel.image_codec import decode_gif, encode_gif

    noise = RNG.integers(0, 256, size=(200, 200), dtype=np.uint8)
    rgb = np.repeat(noise[:, :, None], 3, axis=2)  # 256 colors: exact path
    assert (decode_gif(encode_gif(rgb)) == rgb).all()


def test_gif_rejects_garbage():
    from docvision_spark.kernel.image_codec import decode_gif

    for bad in (b"GIF89a" + b"\x00" * 5, b"notgif", b"GIF89a" + b"\x00" * 20):
        with pytest.raises(ImageDecodeError):
            decode_gif(bad)


# ------------------------------------------------------------- transforms ---

def test_to_gray_bt601_integer():
    rgb = np.zeros((1, 3, 3), np.uint8)
    rgb[0, 0] = (255, 0, 0)
    rgb[0, 1] = (0, 255, 0)
    rgb[0, 2] = (0, 0, 255)
    g = to_gray(rgb)
    assert g[0, 0] == 255 * 299 // 1000
    assert g[0, 1] == 255 * 587 // 1000
    assert g[0, 2] == 255 * 114 // 1000


def test_resize_identity_and_downscale():
    img = _rand((16, 16, 3))
    assert (resize_bilinear(img, 16, 16) == img).all()
    assert (resize_nearest(img, 16, 16) == img).all()
    small = resize_bilinear(img, 4, 4)
    assert small.shape == (4, 4, 3)
    # 2x constant image stays constant under any resize
    const = np.full((10, 10, 3), 77, np.uint8)
    assert (resize_bilinear(const, 3, 7) == 77).all()


def test_resize_deterministic_across_calls():
    img = _rand((33, 21, 3))
    a = resize_bilinear(img, 8, 8)
    b = resize_bilinear(img.copy(), 8, 8)
    assert (a == b).all()


# ------------------------------------------------------------------ hashes --

def test_perceptual_hash_invariants():
    from docvision_spark.functions.multimodal import make_synthetic_image

    img_bytes = make_synthetic_image(42, 64, 48)
    rgb, _ = decode_image(img_bytes)
    d0, a0 = dhash64(rgb), ahash64(rgb)
    assert -(1 << 63) <= d0 < (1 << 63)  # signed-long range (Spark LongType)

    # same seed re-synthesized -> identical bytes, identical hashes
    rgb2, _ = decode_image(make_synthetic_image(42, 64, 48))
    assert dhash64(rgb2) == d0 and ahash64(rgb2) == a0

    # small noise -> small dhash hamming; different seed -> large
    noisy, _ = decode_image(make_synthetic_image(42, 64, 48, noise=4))
    other, _ = decode_image(make_synthetic_image(43, 64, 48))
    ham = lambda x, y: bin((x ^ y) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(d0, dhash64(noisy)) <= 8
    assert ham(d0, dhash64(other)) >= 12


def test_luma_stats_rounding():
    const = np.full((4, 4, 3), 100, np.uint8)
    mean, std = luma_stats(const)
    assert mean == 100.0 and std == 0.0  # (299+587+114)*100//1000 = 100


# ---------------------------------------------------------------- Spark -----

@pytest.mark.spark
def test_media_features_and_thumbnails(spark):
    from docvision_spark.functions.multimodal import (
        MEDIA_SCHEMA, extract_media_features, make_synthetic_image,
        resize_images)

    rows = [(i, "image", make_synthetic_image(i, 48, 32)) for i in range(8)]
    rows.append((99, "image", b"\xff\xd8 jpeg unsupported"))
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)

    feats = {r["media_id"]: r for r in extract_media_features(df).collect()}
    for i in range(8):
        assert feats[i]["format"] == "png"
        assert feats[i]["width"] == 48 and feats[i]["height"] == 32
        assert feats[i]["mean_luma"] is not None and feats[i]["dhash"] is not None
    assert feats[99]["error"] and "ImageDecodeError" in feats[99]["error"]

    thumbs = {r["media_id"]: r for r in resize_images(df, max_side=16).collect()}
    assert thumbs[0]["thumb_w"] == 16 and thumbs[0]["thumb_h"] == 11
    rgb, fmt = decode_image(bytes(thumbs[0]["thumb"]))
    assert fmt == "png" and rgb.shape == (11, 16, 3)
    assert thumbs[99]["error"] is not None


@pytest.mark.spark
def test_image_dup_pairs_planted(spark):
    from docvision_spark.functions.multimodal import (
        MEDIA_SCHEMA, extract_media_features, image_dup_pairs,
        make_synthetic_image)

    rows = [(i, "image", make_synthetic_image(i, 64, 48)) for i in range(10)]
    # plant near-dups: 100/101 are noisy twins of 0 and 1
    rows.append((100, "image", make_synthetic_image(0, 64, 48, noise=3)))
    rows.append((101, "image", make_synthetic_image(1, 64, 48, noise=3)))
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_media_features(df)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_dup_pairs(feats, max_hamming=8).collect()}
    assert (0, 100) in pairs and (1, 101) in pairs
    # distinct-seed images must NOT pair
    for (a, b) in pairs:
        assert (a, b) in ((0, 100), (1, 101)), f"false positive pair {(a, b)}"


# ------------------------------------------------------------- AV codec -----

def test_wav_roundtrip_and_features():
    from docvision_spark.kernel.av_codec import (
        decode_wav, encode_wav, wav_features)

    rate = 8000
    t = np.arange(4000) / rate
    sig = 0.5 * np.sin(2 * np.pi * 440 * t)
    x, r = decode_wav(encode_wav(sig, rate))
    assert r == rate and x.shape == (4000, 1)
    assert np.max(np.abs(x[:, 0] - sig)) < 1e-4
    f = wav_features(x, r)
    assert f["duration_s"] == 0.5 and 0.34 < f["rms"] < 0.36
    # stereo keeps channel count
    st, _ = decode_wav(encode_wav(np.stack([sig, -sig], axis=1), rate))
    assert st.shape == (4000, 2)


def test_y4m_roundtrip_and_motion():
    from docvision_spark.kernel.av_codec import (
        decode_y4m, encode_y4m, y4m_features)

    frames = RNG.integers(0, 256, size=(4, 24, 32), dtype=np.uint8)
    dec, fps = decode_y4m(encode_y4m(frames, fps=10))
    assert fps == 10.0 and (dec == frames).all()
    f = y4m_features(dec, fps)
    assert f["n_frames"] == 4 and f["duration_s"] == 0.4
    const = np.full((3, 8, 8), 50, np.uint8)
    assert y4m_features(const, 25.0)["motion"] == 0.0


def test_mp3_header_walk():
    from docvision_spark.kernel.av_codec import (
        AvDecodeError, encode_mp3_stub, mp3_stream_info)

    info = mp3_stream_info(encode_mp3_stub(7, n_frames=38))
    assert info["n_frames"] == 38 and info["sample_rate"] == 44100
    assert abs(info["duration_s"] - 38 * 1152 / 44100) < 0.01
    assert info["version"] == "MPEG-1" and info["layer"] == 3
    # other bitrate/rate combinations roundtrip through the tables
    for br, rate in ((320, 48000), (64, 32000), (40, 44100)):
        i2 = mp3_stream_info(encode_mp3_stub(1, 10, br, rate))
        assert (i2["n_frames"], i2["bitrate_kbps"], i2["sample_rate"]) == \
            (10, br, rate)
    # resync over leading junk (dirty crawl payloads)
    d = encode_mp3_stub(3, n_frames=5)
    assert mp3_stream_info(b"\x00" * 150 + d)["n_frames"] == 5
    # truncated mid-frame: counts only complete header positions, no raise
    assert mp3_stream_info(d[: len(d) - 40])["n_frames"] >= 4
    with pytest.raises(AvDecodeError):
        mp3_stream_info(b"definitely not audio bytes" * 8)


def test_webp_header_walk():
    from docvision_spark.kernel.image_codec import (
        ImageDecodeError, encode_webp_stub, webp_info)

    for lossless, fmt in ((True, "vp8-lossless"), (False, "vp8-lossy")):
        wi = webp_info(encode_webp_stub(3, 321, 203, lossless))
        assert wi["format"] == fmt
        assert (wi["width"], wi["height"]) == (321, 203)
        assert not wi["alpha"] and not wi["animated"]
    with pytest.raises(ImageDecodeError):
        webp_info(b"RIFF\x10\x00\x00\x00WAVEnotwebp!")
    with pytest.raises(ImageDecodeError):
        webp_info(b"RIFF\x04\x00\x00\x00WEBP")  # no image chunk


def test_mp4_box_walk():
    from docvision_spark.kernel.av_codec import (
        AvDecodeError, encode_mp4_stub, mp4_stream_info)

    info = mp4_stream_info(encode_mp4_stub(5, duration_s=3.25,
                                           width=320, height=240))
    assert info["duration_s"] == 3.25
    assert (info["width"], info["height"]) == (320, 240)
    assert info["n_tracks"] == 1 and info["track_kinds"] == ["vide"]
    assert info["brand"] == "isom"
    # truncated moov: the box walk stops cleanly at the boundary
    d = encode_mp4_stub(1)
    with pytest.raises(AvDecodeError):
        mp4_stream_info(d[:20])  # ftyp only, no mvhd
    with pytest.raises(AvDecodeError):
        mp4_stream_info(b"\x00\x00\x00\x08free" + b"x" * 50)  # no ftyp


def test_av_decode_rejects_garbage():
    from docvision_spark.kernel.av_codec import (
        AvDecodeError, decode_wav, decode_y4m)

    for bad in (b"RIFFxxxxWAVE", b"RIFF" + b"\x00" * 60, b"notwav"):
        with pytest.raises(AvDecodeError):
            decode_wav(bad)
    for bad in (b"YUV4MPEG2 W0 H0\n", b"YUV4MPEG2 W4 H4 F25:1\nFRAME\nxx", b"nope"):
        with pytest.raises(AvDecodeError):
            decode_y4m(bad)


@pytest.mark.spark
def test_media_features_real_av(spark):
    from docvision_spark.functions.multimodal import (
        MEDIA_SCHEMA, extract_media_features, make_synthetic_audio,
        make_synthetic_video)

    rows = [
        (1, "audio", make_synthetic_audio(1)),
        (2, "video", make_synthetic_video(2, n_frames=4)),
    ]
    out = {r["media_id"]: r for r in extract_media_features(
        spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    assert out[1]["format"] == "wav" and out[1]["rms"] > 0
    assert out[1]["sample_rate"] == 8000 and out[1]["duration_s"] == 0.25
    assert out[2]["format"] == "y4m" and out[2]["n_frames"] == 4
    assert out[2]["motion"] > 0 and out[2]["width"] == 32
    assert out[1]["error"] is None and out[2]["error"] is None


def _raw_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib as _z
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", _z.crc32(ctype + body) & 0xFFFFFFFF))


def test_png_adam7_interlaced_decodes():
    """Adam7: the test builds the seven passes with independent numpy
    slicing (filter type 0 rows) and the decoder must reassemble the
    exact source image — pass geometry and ordering are pinned against
    the spec grid, not against the decoder's own tables."""
    import struct
    import zlib as _z

    import numpy as np

    from docvision_spark.kernel.image_codec import PNG_SIG, decode_png

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (13, 11, 3), dtype=np.uint8)
    passes = ((0, 0, 8, 8), (0, 4, 8, 8), (4, 0, 8, 4), (0, 2, 4, 4),
              (2, 0, 4, 2), (0, 1, 2, 2), (1, 0, 2, 1))
    raw = bytearray()
    for ys, xs, ystep, xstep in passes:
        sub = img[ys::ystep, xs::xstep]
        if sub.size == 0:
            continue
        for y in range(sub.shape[0]):
            raw += b"\x00" + sub[y].tobytes()
    ihdr = struct.pack(">IIBBBBB", 11, 13, 8, 2, 0, 0, 1)
    png = (PNG_SIG + _raw_chunk(b"IHDR", ihdr)
           + _raw_chunk(b"IDAT", _z.compress(bytes(raw)))
           + _raw_chunk(b"IEND", b""))
    assert np.array_equal(decode_png(png), img)


def test_png_sub_byte_and_16bit_depths():
    """1-bit gray scales to 0/255; 4-bit palette indices unpack MSB-first;
    16-bit gray keeps the high byte."""
    import struct
    import zlib as _z

    import numpy as np

    from docvision_spark.kernel.image_codec import PNG_SIG, decode_png

    # 1-bit gray, 10x2: alternating bits
    rows = b"\x00" + bytes([0b10110100, 0b01000000]) \
         + b"\x00" + bytes([0b11111111, 0b11000000])
    ihdr = struct.pack(">IIBBBBB", 10, 2, 1, 0, 0, 0, 0)
    png = (PNG_SIG + _raw_chunk(b"IHDR", ihdr)
           + _raw_chunk(b"IDAT", _z.compress(rows))
           + _raw_chunk(b"IEND", b""))
    out = decode_png(png)
    assert out.shape == (2, 10, 3)
    assert list(out[0, :, 0]) == [255, 0, 255, 255, 0, 255, 0, 0, 0, 255]
    assert (out[1, :, 0] == 255).all()

    # 4-bit palette, 3x1: indices 2, 0, 1
    plte = bytes([10, 10, 10, 200, 0, 0, 0, 200, 0])
    ihdr = struct.pack(">IIBBBBB", 3, 1, 4, 3, 0, 0, 0)
    row = b"\x00" + bytes([0x20, 0x10])
    png = (PNG_SIG + _raw_chunk(b"IHDR", ihdr) + _raw_chunk(b"PLTE", plte)
           + _raw_chunk(b"IDAT", _z.compress(row))
           + _raw_chunk(b"IEND", b""))
    out = decode_png(png)
    assert [tuple(p) for p in out[0]] == [(0, 200, 0), (10, 10, 10),
                                         (200, 0, 0)]

    # 16-bit gray, 2x1: 0x1234 -> 0x12, 0xFF00 -> 0xFF
    ihdr = struct.pack(">IIBBBBB", 2, 1, 16, 0, 0, 0, 0)
    row = b"\x00" + bytes([0x12, 0x34, 0xFF, 0x00])
    png = (PNG_SIG + _raw_chunk(b"IHDR", ihdr)
           + _raw_chunk(b"IDAT", _z.compress(row))
           + _raw_chunk(b"IEND", b""))
    out = decode_png(png)
    assert list(out[0, :, 0]) == [0x12, 0xFF]


def test_bmp_low_bpp_and_rle():
    """1/4-bit palette BMPs unpack MSB-first; RLE8/RLE4 honor encoded
    runs, absolute (word-aligned) runs, end-of-line and end-of-bitmap
    escapes."""
    import struct

    import numpy as np

    from docvision_spark.kernel.image_codec import decode_bmp

    def hdr(w, h, bpp, comp, ncolors, datalen):
        off = 14 + 40 + 4 * ncolors
        return (b"BM" + struct.pack("<IHHI", off + datalen, 0, 0, off)
                + struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, comp,
                              datalen, 0, 0, ncolors, 0))

    pal = b"".join(bytes([b, g, r, 0]) for r, g, b in
                   [(10, 20, 30), (200, 0, 0), (0, 200, 0), (0, 0, 200)])

    # 1-bit, 10x2 (stride 4): row bits index palette 0/1
    px = bytes([0b10110100, 0, 0, 0]) + bytes([0b11111111, 0b11000000, 0, 0])
    bmp = hdr(10, 2, 1, 0, 4, len(px)) + pal + px
    out = decode_bmp(bmp)
    assert out.shape == (2, 10, 3)
    # bottom-up: file row 0 is image row 1
    assert [tuple(p) for p in out[1][:4]] == [
        (200, 0, 0), (10, 20, 30), (200, 0, 0), (200, 0, 0)]
    assert all(tuple(p) == (200, 0, 0) for p in out[0])

    # 4-bit uncompressed, 3x1: indices 2, 0, 1
    px = bytes([0x20, 0x10, 0, 0])
    out = decode_bmp(hdr(3, 1, 4, 0, 4, len(px)) + pal + px)
    assert [tuple(p) for p in out[0]] == [(0, 200, 0), (10, 20, 30),
                                         (200, 0, 0)]

    # RLE8, 6x2: row0 = 3x idx1 + absolute run [2,3,0] (n>=3, word-
    # aligned with a pad byte); row1 = 6x idx2
    rle = bytes([3, 1, 0, 3, 2, 3, 0, 0,   # 3 encoded + absolute(3)+pad
                 0, 0,                     # EOL
                 6, 2, 0, 1])              # row1 + EOB
    out = decode_bmp(hdr(6, 2, 8, 1, 4, len(rle)) + pal + rle)
    assert [tuple(p) for p in out[1]] == [
        (200, 0, 0)] * 3 + [(0, 200, 0), (0, 0, 200), (10, 20, 30)]
    assert all(tuple(p) == (0, 200, 0) for p in out[0])

    # RLE4, 5x1: encoded run of 5 alternating idx 1,2
    rle = bytes([5, 0x12, 0, 1])
    out = decode_bmp(hdr(5, 1, 4, 2, 4, len(rle)) + pal + rle)
    assert [tuple(p) for p in out[0]] == [
        (200, 0, 0), (0, 200, 0), (200, 0, 0), (0, 200, 0), (200, 0, 0)]


def test_gif_frame_count():
    import numpy as np

    from docvision_spark.kernel.image_codec import (decode_gif, encode_gif,
                                                    gif_frame_count)

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    g1 = encode_gif(img)
    assert gif_frame_count(g1) == 1
    # two-frame animation: duplicate the image section before the trailer
    section = g1[13 + 768:-1]  # after header+256-entry GCT, before 0x3B
    g2 = g1[:-1] + section + b"\x3b"
    assert gif_frame_count(g2) == 2
    # first frame still decodes
    assert decode_gif(g2).shape == (8, 8, 3)


# ------------------------------------------------------------------ ICO ----

def test_ico_roundtrip_both_inner_families():
    from docvision_spark.kernel.image_codec import decode_ico, encode_ico

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)
    small = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    for inner in ("png", "bmp"):
        ico = encode_ico([small, img], inner=inner)
        # best-entry selection: largest area wins regardless of order
        assert np.array_equal(decode_ico(ico), img), inner
    # CUR (type 2) container decodes the same way
    cur = encode_ico([img], inner="bmp", cursor=True)
    assert np.array_equal(decode_ico(cur), img)


def test_ico_dispatch_and_errors():
    from docvision_spark.kernel.image_codec import (ImageDecodeError,
                                                    decode_ico, decode_image,
                                                    encode_ico)

    img = np.full((8, 8, 3), 77, dtype=np.uint8)
    rgb, fmt = decode_image(encode_ico([img]))
    assert fmt == "ico" and np.array_equal(rgb, img)
    with pytest.raises(ImageDecodeError):
        decode_ico(b"\x00\x00\x01\x00\x01\x00")  # directory truncated
    with pytest.raises(ImageDecodeError):
        decode_ico(b"\x01\x00\x01\x00\x01\x00" + b"\x00" * 16)  # reserved!=0
    # entry pointing past the payload
    bad = bytearray(encode_ico([img]))
    struct.pack_into("<I", bad, 6 + 12, 1 << 30)
    with pytest.raises(ImageDecodeError):
        decode_ico(bytes(bad))
    # compressed DIB entries are invalid inside ICO
    hdr = struct.pack("<IiiHHIIiiII", 40, 4, 8, 1, 8, 1, 0, 0, 0, 0, 0)
    blob = hdr + b"\x00" * 64
    payload = (struct.pack("<HHH", 0, 1, 1)
               + struct.pack("<BBBBHHII", 4, 4, 0, 0, 1, 8, len(blob), 22)
               + blob)
    with pytest.raises(ImageDecodeError):
        decode_ico(payload)


def test_ico_bmp_inner_ignores_and_mask_and_uses_palette_offsets():
    # 256x256 sentinel encoding: width/height bytes of 0 mean 256
    from docvision_spark.kernel.image_codec import decode_ico, encode_ico

    big = np.zeros((256, 256, 3), dtype=np.uint8)
    big[0, 0] = (1, 2, 3)
    ico = encode_ico([big], inner="png")
    assert ico[6] == 0 and ico[7] == 0  # 256 encodes as 0
    out = decode_ico(ico)
    assert out.shape == (256, 256, 3) and tuple(out[0, 0]) == (1, 2, 3)


# ----------------------------------------------------------------- APNG ----

def test_apng_frame_count_and_still_decode():
    from docvision_spark.kernel.image_codec import (ImageDecodeError,
                                                    decode_png, encode_apng,
                                                    encode_png,
                                                    png_frame_count)

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(12, 20, 3), dtype=np.uint8)
    ap = encode_apng(img, n_frames=4)
    assert png_frame_count(ap) == 4
    # the default image still decodes as a normal PNG (fcTL/fdAT skipped)
    assert np.array_equal(decode_png(ap), img)
    assert png_frame_count(encode_png(img)) == 1
    with pytest.raises(ImageDecodeError):
        png_frame_count(b"nope")
    # acTL declaring zero frames is invalid
    bad = bytearray(ap)
    pos = bad.find(b"acTL")
    struct.pack_into(">I", bad, pos + 4, 0)
    with pytest.raises(ImageDecodeError):
        png_frame_count(bytes(bad))
