"""System codec bindings (`pipeline/native_codecs.py`), the decode
ladder's only decoders for PNG, GIF, JPEG, WebP, TIFF, AVIF, HEIC and
SVG.

Strategy: fixtures come from independent encoder twins (the PNG, GIF,
JPEG and TIFF writers in test_analysis_multimodal.py / test_tiff.py)
or from the system libraries' own encoders. Lossless formats must
decode to the source pixels exactly; JPEG is held to the IDCT
tolerance against the twin's reconstruction and lossy WebP to a
tolerance against the source. Totality fuzz: no exception may escape
on any mutation or truncation.

Every test is skipped wholesale if the corresponding library (or gcc
for the JPEG shim) is missing — each codec is optional, and its
format falls to the digest stub without it.
"""
from __future__ import annotations

import numpy as np
import pytest

from opencosmo_spark.pipeline import native_codecs as nc

from test_analysis_multimodal import (
    _LADDER_NAMES,
    _assert_idct_close,
    _make_gif,
    _make_jpeg,
    _make_png,
    _make_png_adam7,
    _needs,
)
from test_tiff import _img, make_tiff


def _png_rgb(px):
    return _make_png(px, 2, [0, 1, 2, 3, 4])


# ------------------------------------------------------------ PNG


@_needs("png")
def test_png_native_bit_exact_rgb_and_palette():
    rng = np.random.default_rng(5)
    for mode in ("rgb", "gray", "palette"):
        if mode == "rgb":
            px = rng.integers(0, 256, (21, 13, 3)).astype(np.uint8)
            data, want = _png_rgb(px), px
        elif mode == "gray":
            px = rng.integers(0, 256, (9, 17, 1)).astype(np.uint8)
            data, want = _make_png(px, 0, [0, 2]), np.repeat(px, 3, 2)
        else:
            pal = rng.integers(0, 256, (7, 3)).astype(np.uint8)
            idx = rng.integers(0, 7, (11, 6, 1)).astype(np.uint8)
            data = _make_png(idx, 3, [0, 1], palette=pal)
            want = pal[idx[..., 0]]
        nat = nc.decode_png_native(data)
        assert nat is not None, mode
        np.testing.assert_array_equal(nat, want, err_msg=mode)


@_needs("png")
def test_png_native_interlaced_bit_exact():
    rng = np.random.default_rng(6)
    px = rng.integers(0, 256, (15, 11, 3)).astype(np.uint8)
    data = _make_png_adam7(px, 2, [0, 1, 2])
    nat = nc.decode_png_native(data)
    np.testing.assert_array_equal(nat, px)


@_needs("png")
def test_png_native_16bit_through_ladder():
    """A hand-built 16-bit RGB PNG (no encoder twin involved) decodes
    natively to the nearest 8-bit value of each sample, and the decode
    ladder lands on the same pixels under the png-native tier."""
    import struct
    import zlib

    from opencosmo_spark.pipeline.multimodal import _decode_via_ladder

    def chunk(t, b):
        return (
            struct.pack(">I", len(b)) + t + b
            + struct.pack(">I", zlib.crc32(t + b))
        )

    rng = np.random.default_rng(21)
    h, w = 9, 7
    px16 = rng.integers(0, 65536, (h, w, 3)).astype(">u2")
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + px16[y].tobytes() for y in range(h))
    data = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    want = ((px16.astype(np.uint32) * 255 + 32767) // 65535).astype(np.uint8)
    np.testing.assert_array_equal(nc.decode_png_native(data), want)
    arr, name = _decode_via_ladder(data)
    assert name == "png-native"
    np.testing.assert_array_equal(arr, want)


# ------------------------------------------------------------ GIF


@_needs("gif")
def test_gif_native_bit_exact_incl_interlace():
    rng = np.random.default_rng(7)
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    for interlace in (False, True):
        idx = rng.integers(0, 16, (17, 23)).astype(np.uint8)
        data = _make_gif(idx, pal, interlace=interlace)
        nat = nc.decode_gif_native(data)
        assert nat is not None
        np.testing.assert_array_equal(nat, pal[idx])


# ----------------------------------------------------------- JPEG


@_needs("jpeg")
def test_jpeg_native_within_idct_tolerance():
    """Full-range noise (coefficients far from the smooth fixtures)
    through libjpeg stays within the IDCT tolerance of the twin's
    exact reconstruction, with and without chroma subsampling."""
    rng = np.random.default_rng(8)
    for subsample in (False, True):
        img = rng.integers(0, 256, (24, 33, 3)).astype(np.uint8)
        data, expect = _make_jpeg(img, subsample=subsample)
        _assert_idct_close(nc.decode_jpeg_native(data), expect)


@_needs("jpeg")
def test_jpeg_native_gray():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    data, expect = _make_jpeg(img, gray=True)
    _assert_idct_close(nc.decode_jpeg_native(data), expect)


# ----------------------------------------------------------- TIFF


@_needs("tiff")
def test_tiff_native_bit_exact_across_variants():
    rng = np.random.default_rng(10)
    rgb = _img(16, 20, 3, 3)
    gray = rng.integers(0, 256, (12, 9)).astype(np.uint8)
    pal = rng.integers(0, 256, (256, 3)).astype(np.uint8)
    idx = rng.integers(0, 256, (12, 9)).astype(np.uint8)
    bilevel = rng.integers(0, 2, (12, 9)).astype(np.uint8)
    def g3(a):
        return np.repeat(a[:, :, None], 3, 2)

    cases = [
        (make_tiff(rgb), rgb),
        (make_tiff(rgb, comp=32773), rgb),
        (make_tiff(rgb, comp=5), rgb),
        (make_tiff(gray), g3(gray)),
        (make_tiff(rgb, bo=">"), rgb),
        (make_tiff(gray, bits=16), g3(gray)),  # 16->8 keeps the high byte
        (make_tiff(gray, photo=0), g3(255 - gray)),  # white-is-zero
        (make_tiff(idx, photo=3, palette=pal), pal[idx]),
        (make_tiff(bilevel, bits=1), g3(bilevel * 255)),
        (make_tiff(rgb, comp=5, predictor=2), rgb),
    ]
    for i, (data, want) in enumerate(cases):
        nat = nc.decode_tiff_native(data)
        assert nat is not None, i
        np.testing.assert_array_equal(nat, want, err_msg=str(i))


# ----------------------------------------------------------- WebP


@_needs("webp")
def test_webp_native_lossless_bit_exact():
    import ctypes

    lw = ctypes.CDLL("libwebp.so.7")
    lw.WebPEncodeLosslessRGB.restype = ctypes.c_size_t
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (20, 30, 3)).astype(np.uint8)
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = lw.WebPEncodeLosslessRGB(
        np.ascontiguousarray(img).tobytes(), 30, 20, 90,
        ctypes.byref(out),
    )
    assert n > 0
    data = ctypes.string_at(out, n)
    lw.WebPFree(out)
    nat = nc.decode_webp_native(data)
    assert nat is not None
    np.testing.assert_array_equal(nat, img)


@_needs("webp")
def test_webp_native_lossy_decodes():
    import ctypes

    lw = ctypes.CDLL("libwebp.so.7")
    lw.WebPEncodeRGB.restype = ctypes.c_size_t
    rng = np.random.default_rng(12)
    yy, xx = np.mgrid[0:32, 0:48]
    img = np.stack(
        [xx * 255 // 47, yy * 255 // 31, (xx + yy) * 255 // 78], 2
    ).astype(np.uint8)
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = lw.WebPEncodeRGB(
        np.ascontiguousarray(img).tobytes(), 48, 32, 48 * 3,
        ctypes.c_float(90.0), ctypes.byref(out),
    )
    assert n > 0
    data = ctypes.string_at(out, n)
    lw.WebPFree(out)
    nat = nc.decode_webp_native(data)
    assert nat is not None and nat.shape == (32, 48, 3)
    # structural sanity vs the source: a plane swap / wrong matrix /
    # wrong upsampler lands far outside lossy tolerance on a gradient
    d = np.abs(nat.astype(int) - img.astype(int))
    assert d.mean() < 8 and d.max() < 64, (d.mean(), d.max())


# ------------------------------------------------------- totality


def test_native_totality_mutation_sweep():
    """No native decoder may raise (or abort the process!) on any
    mutated or truncated payload. This is THE test that the libjpeg
    setjmp shim and the error-code paths of the other bindings
    actually hold."""
    rng = np.random.default_rng(13)
    rgb = _img(12, 14, 3, 4)
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, (12, 14)).astype(np.uint8)
    seeds = [
        make_tiff(rgb),
        _png_rgb(rgb),
        _make_gif(idx, pal),
        _make_jpeg(rgb)[0],
    ]
    fns = [
        nc.decode_tiff_native, nc.decode_png_native,
        nc.decode_gif_native, nc.decode_jpeg_native,
        nc.decode_webp_native,
    ]
    for data in seeds:
        for trial in range(40):
            mut = bytearray(data)
            for _ in range(int(rng.integers(1, 6))):
                mut[int(rng.integers(0, len(mut)))] = int(
                    rng.integers(0, 256)
                )
            for fn in fns:
                fn(bytes(mut))  # must not raise
        for cut in range(0, len(data), max(1, len(data) // 24)):
            for fn in fns:
                fn(data[:cut])
    for fn in fns:
        assert fn(b"") is None and fn(None) is None


# --------------------------------------------------------- ladder


def test_image_ladder_native_first():
    """One ladder: every loadable system codec, then the pure-python
    decoders for the formats no system codec covers."""
    from opencosmo_spark.pipeline.multimodal import _image_ladder

    names = [n for n, _, _ in _image_ladder()]
    native = [n for n, _, _ in nc.native_image_ladder()]
    assert names == native + ["bmp", "pnm", "ico"]


@pytest.mark.skipif(
    not _LADDER_NAMES, reason="no native codecs in this environment"
)
def test_auto_mode_prefers_native_in_spark(spark):
    """End-to-end: decoder_report shows native rows, and lossless
    formats featurize exactly like their source pixels."""
    from opencosmo_spark.pipeline.multimodal import (
        _pixel_features,
        decode_image_features,
        decoder_report,
    )

    rgb = _img(16, 20, 3, 3)
    rows = [
        ("a", make_tiff(rgb), "image/tiff"),
        ("b", _png_rgb(rgb), "image/png"),
        ("c", b"not an image at all", "application/octet-stream"),
    ]
    df = spark.createDataFrame(
        rows, "media_id string, payload binary, mime string"
    )
    auto = (
        decode_image_features(df, feature_dim=16)
        .toPandas()
        .set_index("media_id")
    )
    want = _pixel_features(rgb, 16)
    for key, fmt in (("a", "tiff"), ("b", "png")):
        if f"{fmt}-native" in _LADDER_NAMES:
            assert auto.loc[key].decoder == f"{fmt}-native"
            # lossless: identical pixels -> features
            np.testing.assert_allclose(
                auto.loc[key].features, want, atol=1e-6
            )
    assert auto.loc["c"].decoder == "stub-sha256"
    rep = decoder_report(
        decode_image_features(df, feature_dim=8)
    ).toPandas()
    assert any(rep.decoder.str.endswith("-native"))


# ------------------------------------------------------------ AVIF


def _avif_encode(img: np.ndarray) -> bytes:
    """Encode RGB via libavif itself — the oracle and the fixture
    generator in one."""
    import ctypes

    got = nc._avif()
    assert got is not None
    la, rgb_cls = got

    class _RWData(ctypes.Structure):
        _fields_ = [
            ("data", ctypes.POINTER(ctypes.c_uint8)),
            ("size", ctypes.c_size_t),
        ]

    h, w, _ = img.shape
    la.avifImageCreate.restype = ctypes.c_void_p
    la.avifEncoderCreate.restype = ctypes.c_void_p
    la.avifEncoderDestroy.argtypes = [ctypes.c_void_p]
    image = la.avifImageCreate(w, h, 8, 1)  # YUV444
    rgb = rgb_cls()
    la.avifRGBImageSetDefaults(ctypes.byref(rgb), ctypes.c_void_p(image))
    rgb.format = 0  # RGB
    buf = np.ascontiguousarray(img)
    rgb.pixels = buf.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8))
    rgb.rowBytes = w * 3
    assert la.avifImageRGBToYUV(
        ctypes.c_void_p(image), ctypes.byref(rgb)
    ) == 0
    enc = la.avifEncoderCreate()
    out = _RWData()
    assert la.avifEncoderWrite(
        ctypes.c_void_p(enc), ctypes.c_void_p(image), ctypes.byref(out)
    ) == 0
    data = ctypes.string_at(out.data, out.size)
    la.avifRWDataFree(ctypes.byref(out))
    la.avifEncoderDestroy(enc)
    la.avifImageDestroy(ctypes.c_void_p(image))
    return data


@_needs("avif")
def test_avif_native_roundtrip_and_meta():
    """libavif encode -> decode_avif_native: near-lossless on a
    smooth gradient (AV1 default quality, YUV444), exact dims; the
    header-meta tier reads the ispe box without decoding."""
    h, w = 40, 56
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [xx * 255 // (w - 1), yy * 255 // (h - 1),
         (xx + yy) * 255 // (h + w - 2)], 2
    ).astype(np.uint8)
    data = _avif_encode(img)
    assert data[4:12] == b"ftypavif"
    arr = nc.decode_avif_native(data)
    assert arr is not None and arr.shape == (h, w, 3)
    d = np.abs(arr.astype(int) - img.astype(int))
    assert d.max() <= 8 and d.mean() < 2.0, (d.max(), d.mean())

    from opencosmo_spark.pipeline.multimodal import _image_header_meta

    assert _image_header_meta(data) == ("avif", w, h)


@_needs("avif")
def test_avif_native_totality():
    h = w = 16
    img = np.random.default_rng(17).integers(0, 256, (h, w, 3)).astype(
        np.uint8
    )
    data = _avif_encode(img)
    rng = np.random.default_rng(18)
    for _ in range(40):
        mut = bytearray(data)
        for _ in range(int(rng.integers(1, 6))):
            mut[int(rng.integers(0, len(mut)))] = int(
                rng.integers(0, 256)
            )
        nc.decode_avif_native(bytes(mut))  # must not raise/abort
    for cut in range(0, len(data), max(1, len(data) // 24)):
        nc.decode_avif_native(data[:cut])
    assert nc.decode_avif_native(b"") is None
    assert nc.decode_avif_native(None) is None


@_needs("avif")
def test_avif_in_auto_ladder(spark):
    img = np.random.default_rng(19).integers(
        0, 200, (24, 24, 3)
    ).astype(np.uint8)
    data = _avif_encode(img)
    from opencosmo_spark.pipeline.multimodal import decode_image_features

    df = spark.createDataFrame(
        [("a", data)], "media_id string, payload binary"
    )
    row = decode_image_features(df, feature_dim=8).toPandas().iloc[0]
    assert row.decoder == "avif-native"


@_needs("jpeg")
def test_jpeg_native_progressive():
    from test_analysis_multimodal import _make_jpeg_progressive

    rng = np.random.default_rng(20)
    img = rng.integers(0, 256, (24, 17, 3)).astype(np.uint8)
    data, expect = _make_jpeg_progressive(img)
    _assert_idct_close(nc.decode_jpeg_native(data), expect)


@_needs("gif")
def test_gif_native_local_color_table():
    """An image block carrying its own LOCAL color table must decode
    through that table (fixture hand-packs a clear-per-symbol LZW
    stream so the code width never grows)."""
    from test_analysis_multimodal import _gif_pack_codes

    rng = np.random.default_rng(7)
    h, w = 6, 5
    idx = rng.integers(0, 4, (h, w)).astype(np.uint8)
    gpal = np.zeros((4, 3), np.uint8)  # global: all black decoy
    lpal = rng.integers(0, 256, (4, 3)).astype(np.uint8)
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | 0x01, 0, 0]) + bytes(gpal.reshape(-1))
    out += (b"\x2c" + b"\x00\x00\x00\x00"
            + w.to_bytes(2, "little") + h.to_bytes(2, "little"))
    out += bytes([0x80 | 0x01]) + bytes(lpal.reshape(-1))
    mcs = 2
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    stream = []
    for v in idx.reshape(-1).tolist():
        stream += [clear, int(v)]
    stream.append(eoi)
    packed = _gif_pack_codes(stream, mcs + 1)
    out += bytes([mcs]) + bytes([len(packed)]) + packed + b"\x00\x3b"
    data = bytes(out)
    want = lpal[idx]
    nat = nc.decode_gif_native(data)
    assert nat is not None and np.array_equal(nat, want)


@_needs("gif")
def test_gif_native_partial_canvas_first_frame():
    """A first frame smaller than the logical screen and offset into
    it decodes at its own size: an 8x8 screen holding a 4x3 frame at
    (2, 1) gives palette[indices] of shape (3, 4)."""
    from test_analysis_multimodal import _gif_pack_codes

    rng = np.random.default_rng(17)
    h, w = 3, 4
    idx = rng.integers(0, 4, (h, w)).astype(np.uint8)
    pal = rng.integers(0, 256, (4, 3)).astype(np.uint8)
    out = bytearray(b"GIF89a")
    out += (8).to_bytes(2, "little") + (8).to_bytes(2, "little")
    out += bytes([0x80 | 0x01, 0, 0]) + bytes(pal.reshape(-1))
    out += (b"\x2c" + (2).to_bytes(2, "little") + (1).to_bytes(2, "little")
            + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00")
    mcs = 2
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    stream = []
    for v in idx.reshape(-1).tolist():
        stream += [clear, int(v)]
    stream.append(eoi)
    packed = _gif_pack_codes(stream, mcs + 1)
    out += bytes([mcs]) + bytes([len(packed)]) + packed + b"\x00\x3b"
    np.testing.assert_array_equal(nc.decode_gif_native(bytes(out)), pal[idx])


# ------------------------------------------------------------ HEIC


def _heic_encode(img: np.ndarray) -> bytes:
    """Encode via libheif/x265 — fixture generator and oracle."""
    import ctypes
    import os
    import tempfile

    lh = nc._heif()
    assert lh is not None
    lh.heif_image_create.restype = nc._HeifError
    lh.heif_image_add_plane.restype = nc._HeifError
    lh.heif_image_get_plane.restype = ctypes.POINTER(ctypes.c_uint8)
    lh.heif_context_get_encoder_for_format.restype = nc._HeifError
    lh.heif_context_encode_image.restype = nc._HeifError
    lh.heif_context_write_to_file.restype = nc._HeifError

    h, w, _ = img.shape
    ctx = lh.heif_context_alloc()
    him = ctypes.c_void_p()
    assert lh.heif_image_create(
        w, h, 1, 10, ctypes.byref(him)
    ).code == 0
    assert lh.heif_image_add_plane(
        ctypes.c_void_p(him.value), 10, w, h, 8
    ).code == 0
    stride = ctypes.c_int()
    p = lh.heif_image_get_plane(
        ctypes.c_void_p(him.value), 10, ctypes.byref(stride)
    )
    buf = np.ascontiguousarray(img)
    for y in range(h):
        ctypes.memmove(
            ctypes.addressof(p.contents) + y * stride.value,
            buf[y].ctypes.data, w * 3,
        )
    enc = ctypes.c_void_p()
    assert lh.heif_context_get_encoder_for_format(
        ctypes.c_void_p(ctx), 1, ctypes.byref(enc)
    ).code == 0
    oh = ctypes.c_void_p()
    assert lh.heif_context_encode_image(
        ctypes.c_void_p(ctx), ctypes.c_void_p(him.value), enc, None,
        ctypes.byref(oh),
    ).code == 0
    fd, path = tempfile.mkstemp(suffix=".heic")
    os.close(fd)
    try:
        assert lh.heif_context_write_to_file(
            ctypes.c_void_p(ctx), path.encode()
        ).code == 0
        data = open(path, "rb").read()
    finally:
        os.unlink(path)
        lh.heif_context_free(ctypes.c_void_p(ctx))
    return data


@_needs("heic")
def test_heic_native_roundtrip_and_meta():
    h, w = 40, 56
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [xx * 255 // (w - 1), yy * 255 // (h - 1),
         (xx + yy) * 255 // (h + w - 2)], 2
    ).astype(np.uint8)
    data = _heic_encode(img)
    assert data[4:12] == b"ftypheic"
    arr = nc.decode_heif_native(data)
    assert arr is not None and arr.shape == (h, w, 3)
    d = np.abs(arr.astype(int) - img.astype(int))
    assert d.max() <= 24 and d.mean() < 4.0, (d.max(), d.mean())

    from opencosmo_spark.pipeline.multimodal import _image_header_meta

    assert _image_header_meta(data) == ("heic", w, h)


@_needs("heic")
def test_heic_native_totality_and_ladder(spark):
    img = np.random.default_rng(23).integers(
        0, 200, (16, 16, 3)
    ).astype(np.uint8)
    data = _heic_encode(img)
    rng = np.random.default_rng(24)
    for _ in range(40):
        mut = bytearray(data)
        for _ in range(int(rng.integers(1, 6))):
            mut[int(rng.integers(0, len(mut)))] = int(
                rng.integers(0, 256)
            )
        nc.decode_heif_native(bytes(mut))
    for cut in range(0, len(data), max(1, len(data) // 24)):
        nc.decode_heif_native(data[:cut])
    assert nc.decode_heif_native(b"") is None

    from opencosmo_spark.pipeline.multimodal import decode_image_features

    df = spark.createDataFrame(
        [("a", data)], "media_id string, payload binary"
    )
    row = decode_image_features(df, feature_dim=8).toPandas().iloc[0]
    assert row.decoder == "heic-native"


# ------------------------------------------------------------- SVG


@_needs("svg")
def test_svg_native_rasterizes_known_shapes():
    """A two-color document rasterizes to exactly its fill colors at
    the intrinsic size (librsvg+cairo; premultiplied-BGRA converted
    back to straight RGB)."""
    svg = (
        b'<svg xmlns="http://www.w3.org/2000/svg" width="60" '
        b'height="40"><rect width="60" height="40" fill="#204080"/>'
        b'<circle cx="30" cy="20" r="12" fill="#ff8000"/></svg>'
    )
    arr = nc.decode_svg_native(svg)
    assert arr is not None and arr.shape == (40, 60, 3)
    np.testing.assert_array_equal(arr[20, 30], [255, 128, 0])
    np.testing.assert_array_equal(arr[0, 0], [32, 64, 128])

    # svgz: same document gzipped
    import gzip

    arr2 = nc.decode_svg_native(gzip.compress(svg))
    assert arr2 is not None
    np.testing.assert_array_equal(arr, arr2)

    from opencosmo_spark.pipeline.multimodal import _decode_via_ladder

    got, name = _decode_via_ladder(svg)
    assert name == "svg-native" and np.array_equal(got, arr)


@_needs("svg")
def test_svg_native_totality_and_gates():
    assert nc.decode_svg_native(b"") is None
    assert nc.decode_svg_native(None) is None
    assert nc.decode_svg_native(b"<html><body>hi</body></html>") is None
    assert nc.decode_svg_native(b"<svg") is None  # truncated
    # oversized intrinsic dims decline instead of allocating
    huge = (
        b'<svg xmlns="http://www.w3.org/2000/svg" width="999999" '
        b'height="999999"/>'
    )
    assert nc.decode_svg_native(huge) is None
    # mutation sweep over a valid doc
    svg = (
        b'<svg xmlns="http://www.w3.org/2000/svg" width="20" '
        b'height="20"><rect width="20" height="20" fill="red"/></svg>'
    )
    rng = np.random.default_rng(29)
    for _ in range(40):
        mut = bytearray(svg)
        for _ in range(int(rng.integers(1, 5))):
            mut[int(rng.integers(0, len(mut)))] = int(
                rng.integers(0, 256)
            )
        nc.decode_svg_native(bytes(mut))  # must not raise


def test_svg_header_meta():
    from opencosmo_spark.pipeline.multimodal import _image_header_meta

    assert _image_header_meta(
        b'<svg xmlns="http://www.w3.org/2000/svg" width="60" '
        b'height="40"></svg>'
    ) == ("svg", 60, 40)
    assert _image_header_meta(
        b'<?xml version="1.0"?>\n<svg xmlns="x" '
        b'viewBox="0 0 120 80"></svg>'
    ) == ("svg", 120, 80)
    # percent/em sizes and non-SVG XML decline honestly
    assert _image_header_meta(
        b'<svg width="50%" height="10em"></svg>'
    ) is None
    assert _image_header_meta(b"<html><body>x</body></html>") is None


# -------------------------------------------------------- thumbnail


def test_resize_pixels_exact_box_means():
    from opencosmo_spark.pipeline.multimodal import resize_pixels

    rng = np.random.default_rng(31)
    arr = rng.integers(0, 256, (32, 48, 3)).astype(np.uint8)
    out = resize_pixels(arr, 24)  # exactly 2x: box means are blocks
    assert out.shape == (16, 24, 3)
    want = np.rint(
        arr.reshape(16, 2, 24, 2, 3).mean(axis=(1, 3))
    ).astype(np.uint8)
    np.testing.assert_array_equal(out, want)
    # never upscales
    small = rng.integers(0, 256, (10, 8, 3)).astype(np.uint8)
    assert resize_pixels(small, 256) is small
    # non-integer ratio: sums preserved within rounding
    odd = resize_pixels(arr, 19)
    assert odd.shape == (13, 19, 3)
    assert abs(float(odd.mean()) - float(arr.mean())) < 2.0


@_needs("png")
def test_encode_png_roundtrips_through_ladder():
    from opencosmo_spark.pipeline.multimodal import (
        _decode_via_ladder,
        encode_png,
    )

    rng = np.random.default_rng(32)
    arr = rng.integers(0, 256, (9, 13, 3)).astype(np.uint8)
    got, name = _decode_via_ladder(encode_png(arr))
    assert name == "png-native"
    np.testing.assert_array_equal(got, arr)


@_needs("tiff")
@_needs("png")
def test_image_thumbnail_operator(spark):
    from opencosmo_spark.pipeline.multimodal import image_thumbnail

    rgb = _img(64, 96, 3, 33)
    rows = [
        ("a", make_tiff(rgb)),
        ("b", b"not an image"),
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    out = image_thumbnail(df, max_side=32).toPandas().set_index(
        "media_id"
    )
    a = out.loc["a"]
    assert (a.thumb_width, a.thumb_height) == (32, 21)
    assert a.decoder == "tiff-native"
    # the thumbnail is a decodable lossless PNG of the resized pixels
    from opencosmo_spark.pipeline.multimodal import resize_pixels

    np.testing.assert_array_equal(
        nc.decode_png_native(bytes(a.thumb_payload)),
        resize_pixels(rgb, 32),
    )
    b = out.loc["b"]
    assert b.thumb_payload is None and b.decoder == "stub"


@_needs("jpeg")
def test_jpeg_native_arithmetic_coding():
    """Arithmetic-coded JPEG decodes through the shim, and — entropy
    coding being lossless over the same quantized coefficients —
    reconstructs IDENTICALLY to the huffman encoding of the same
    image. Fixture generated in-container
    by the shim's own encoder."""
    rng = np.random.default_rng(35)
    img = rng.integers(0, 256, (24, 32, 3)).astype(np.uint8)
    huff = nc.encode_jpeg_native(img, quality=85)
    arith = nc.encode_jpeg_native(img, quality=85, arithmetic=True)
    arith_prog = nc.encode_jpeg_native(
        img, quality=85, arithmetic=True, progressive=True
    )
    assert huff and arith and arith_prog
    assert len(arith) < len(huff)  # arithmetic compresses tighter
    base = nc.decode_jpeg_native(huff)
    for data in (arith, arith_prog):
        got = nc.decode_jpeg_native(data)
        assert got is not None
        np.testing.assert_array_equal(got, base)
    # header-meta still reads dims (SOF9/SOF10 markers)
    from opencosmo_spark.pipeline.multimodal import _image_header_meta

    assert _image_header_meta(arith) == ("jpeg", 32, 24)


# --------------------------------------------------- audio resample


def test_resample_pcm_band_limited_exact():
    from opencosmo_spark.pipeline.multimodal import resample_pcm

    # a full-period band-limited sine survives up- AND downsample to
    # float precision (FFT resample is exact there)
    n, cycles = 4410, 100  # 1 kHz at 44.1 kHz for 0.1 s
    t = np.arange(n)
    sig = np.sin(2 * np.pi * cycles * t / n).astype(np.float64)
    down = resample_pcm(sig, 44100, 16000)
    assert len(down) == 1600
    td = np.arange(1600)
    want = np.sin(2 * np.pi * cycles * td / 1600)
    np.testing.assert_allclose(down, want, atol=1e-6)
    # identity when rates match
    same = resample_pcm(sig, 44100, 44100)
    np.testing.assert_allclose(same, sig, atol=1e-7)
    # downsample is anti-aliased: content above the new Nyquist dies
    hf = np.sin(2 * np.pi * 2000 * t / n)  # 20 kHz at 44.1 kHz
    gone = resample_pcm(hf, 44100, 16000)
    assert float(np.abs(gone).max()) < 1e-6


def test_encode_wav_pcm16_roundtrip():
    from opencosmo_spark.pipeline.multimodal import (
        _decode_wav,
        encode_wav_pcm16,
    )

    rng = np.random.default_rng(41)
    sig = (rng.uniform(-1, 1, 500) * 0.9).astype(np.float64)
    data = encode_wav_pcm16(sig, 16000)
    got = _decode_wav(data)
    assert got is not None
    mono, rate = got
    assert rate == 16000 and len(mono) == 500
    np.testing.assert_allclose(mono, sig, atol=0.51 / 32768)


def test_audio_resample_operator(spark):
    from opencosmo_spark.pipeline.multimodal import (
        _decode_wav,
        audio_resample,
        encode_wav_pcm16,
    )

    n, cycles = 4410, 100
    t = np.arange(n)
    sig = 0.5 * np.sin(2 * np.pi * cycles * t / n)
    src = encode_wav_pcm16(sig, 44100)
    df = spark.createDataFrame(
        [("a", src), ("b", b"junk")],
        "media_id string, payload binary",
    )
    out = audio_resample(df, target_rate=16000).toPandas().set_index(
        "media_id"
    )
    a = out.loc["a"]
    assert (a.audio_rate, a.audio_n_samples, a.decoder) == (
        16000, 1600, "wav",
    )
    mono, rate = _decode_wav(bytes(a.audio_payload))
    assert rate == 16000
    want = 0.5 * np.sin(2 * np.pi * cycles * np.arange(1600) / 1600)
    np.testing.assert_allclose(mono, want, atol=2.0 / 32767)
    b = out.loc["b"]
    assert b.audio_payload is None and b.decoder == "stub"
