"""Lossy WebP (VP8) decode through the system libwebp
(``native_codecs.decode_webp_native``).

libwebp is both the encoder that produces real VP8 keyframe
bitstreams from test images and the reference its direct
``WebPDecodeRGB`` output provides: the decode ladder must hand back
exactly those pixels across awkward geometries (cropped macroblocks,
1x1, single-row frames), stay near the source, unwrap VP8X and
animation containers, and degrade junk to None without raising."""

from __future__ import annotations

import ctypes

import numpy as np
import pytest

from opencosmo_spark.pipeline.multimodal import _decode_via_ladder
from opencosmo_spark.pipeline.native_codecs import decode_webp_native

from test_analysis_multimodal import _needs

try:
    _LW = ctypes.CDLL("libwebp.so.7")
    _LW.WebPEncodeRGB.restype = ctypes.c_size_t
    _LW.WebPDecodeRGB.restype = ctypes.POINTER(ctypes.c_uint8)
except OSError:  # pragma: no cover - oracle not installed
    _LW = None

pytestmark = [
    pytest.mark.skipif(
        _LW is None, reason="libwebp shared library not available"
    ),
    _needs("webp"),
]


def lw_encode(img: np.ndarray, quality: float) -> bytes:
    h, w, _ = img.shape
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = _LW.WebPEncodeRGB(
        np.ascontiguousarray(img).tobytes(), w, h, w * 3,
        ctypes.c_float(quality), ctypes.byref(out),
    )
    assert n > 0
    data = ctypes.string_at(out, n)
    _LW.WebPFree(out)
    return data


def lw_decode_rgb(data: bytes) -> np.ndarray:
    W = ctypes.c_int()
    H = ctypes.c_int()
    p = _LW.WebPDecodeRGB(
        data, ctypes.c_size_t(len(data)), ctypes.byref(W), ctypes.byref(H)
    )
    assert p
    rgb = np.ctypeslib.as_array(p, (H.value, W.value, 3)).copy()
    _LW.WebPFree(p)
    return rgb


def riff(*chunks: bytes) -> bytes:
    body = b"WEBP" + b"".join(chunks)
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def vp8x(w: int, h: int, flags: int = 0) -> bytes:
    """VP8X header chunk: flags, 3 reserved bytes, canvas size."""
    return (
        b"VP8X" + (10).to_bytes(4, "little") + bytes([flags, 0, 0, 0])
        + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
    )


def make_image(h, w, kind, rng):
    if kind == "noise":
        return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    if kind == "grad":
        img = np.zeros((h, w, 3), np.uint8)
        img[:, :, 0] = np.linspace(0, 255, w, dtype=np.uint8)[None, :]
        img[:, :, 1] = np.linspace(0, 255, h, dtype=np.uint8)[:, None]
        img[:, :, 2] = 64
        return img
    if kind == "blocks":
        base = rng.integers(0, 256, (max(1, h // 8), max(1, w // 8), 3))
        img = np.kron(base, np.ones((8, 8, 1))).astype(np.uint8)[:h, :w]
        if img.shape[:2] != (h, w):
            img = np.pad(
                img, ((0, h - img.shape[0]), (0, w - img.shape[1]), (0, 0)),
                mode="edge",
            )
        return img
    # mix: noise over a gradient — exercises B_PRED and skip together
    return (
        rng.integers(0, 256, (h, w, 3)).astype(float) * 0.5
        + np.linspace(0, 255, w)[None, :, None] * 0.5
    ).astype(np.uint8)


@pytest.mark.parametrize(
    "h,w,q,kind",
    [
        (16, 16, 75, "noise"),    # single MB, heavy coefficients
        (17, 13, 50, "noise"),    # crop on both axes
        (15, 15, 100, "noise"),   # B_PRED-dominated, minimal quant
        (64, 48, 90, "grad"),     # smooth: skip MBs + DC/TM modes
        (33, 65, 10, "mix"),      # coarse quant, strong loop filter
        (128, 96, 75, "mix"),     # multi-row contexts + above-right
        (80, 112, 0, "grad"),     # q=0 extreme
        (100, 100, 30, "blocks"), # hard edges: mbedge filter + hev
        (24, 200, 85, "blocks"),  # wide: right-edge replication rule
        (1, 1, 75, "noise"),      # minimum frame
        (3, 300, 45, "grad"),     # single-pixel-row MBs
        (160, 160, 60, "mix"),    # larger sweep case
    ],
)
def test_vp8_matches_libwebp_bit_exact(h, w, q, kind):
    """Decode libwebp-encoded lossy frames through the ladder and
    require EXACT RGB equality with libwebp's own decode — the
    wrapper must not crop, pad or re-stride any geometry, including
    segmentation- and filter-heavy qualities."""
    rng = np.random.default_rng(h * 1000 + w * 10 + q)
    img = make_image(h, w, kind, rng)
    data = lw_encode(img, q)
    rgb, name = _decode_via_ladder(data)
    assert name == "webp-native" and rgb.shape == (h, w, 3)
    np.testing.assert_array_equal(rgb, lw_decode_rgb(data))


def test_vp8_through_container_and_ladder(spark):
    """The VP8 chunk decodes plain, VP8X-wrapped, and as the first ANMF
    animation frame; the result is close to the source; the Spark
    decode ladder stamps lossy rows with the 'webp-native' tier."""
    rng = np.random.default_rng(7)
    img = make_image(40, 56, "mix", rng)
    data = lw_encode(img, 80)
    rgb = decode_webp_native(data)
    assert rgb is not None and rgb.shape == (40, 56, 3)
    # close to the source (lossy, so tolerance: mean abs error small)
    assert np.abs(rgb.astype(int) - img.astype(int)).mean() < 24

    chunk = data[12:]
    wrapped = riff(vp8x(56, 40), chunk)
    np.testing.assert_array_equal(decode_webp_native(wrapped), rgb)

    # first ANMF frame of an animation
    anmf_body = b"\x00" * 16 + chunk
    anmf = b"ANMF" + len(anmf_body).to_bytes(4, "little") + anmf_body
    anim = b"ANIM" + (6).to_bytes(4, "little") + b"\x00" * 6
    animated = riff(vp8x(56, 40, flags=0x02), anim, anmf)
    np.testing.assert_array_equal(decode_webp_native(animated), rgb)

    from opencosmo_spark.pipeline.multimodal import decode_image_features

    df = spark.createDataFrame(
        [("a", data), ("b", b"RIFF\x10\x00\x00\x00WEBPVP8 junk")],
        "media_id string, payload binary",
    )
    out = decode_image_features(df).toPandas().set_index("media_id")
    assert out.loc["a"].decoder == "webp-native"
    assert out.loc["b"].decoder == "stub-sha256"


def test_vp8_fuzz_total(subtests=None):
    """Byte mutations of a valid lossy WebP never raise out of
    decode_webp_native — junk degrades to None (or decodes to some
    array when the mutation lands in pixel data)."""
    rng = np.random.default_rng(3)
    img = make_image(32, 32, "mix", rng)
    data = bytearray(lw_encode(img, 60))
    for trial in range(400):
        mut = bytearray(data)
        for _ in range(rng.integers(1, 6)):
            mut[rng.integers(0, len(mut))] = rng.integers(0, 256)
        out = decode_webp_native(bytes(mut))
        assert out is None or (
            isinstance(out, np.ndarray) and out.dtype == np.uint8
        )
    # truncations
    for cut in range(0, len(data), 7):
        out = decode_webp_native(bytes(data[:cut]))
        assert out is None or isinstance(out, np.ndarray)


def test_malformed_vp8_degrades():
    """Structured junk in a VP8 chunk — too short, an interframe, a bad
    start code, an absurd declared size — decodes to None."""
    big = (
        b"\x00\x00\x00\x9d\x01\x2a"
        + (0x3FFF).to_bytes(2, "little")
        + (0x3FFF).to_bytes(2, "little")
    )
    for frame in (
        b"\x00" * 4,
        b"\x01\x00\x00\x9d\x01\x2a" + b"\x00" * 8,  # interframe
        b"\x00\x00\x00\x9d\x01\x2b" + b"\x00" * 8,  # bad start code
        big,
    ):
        chunk = b"VP8 " + len(frame).to_bytes(4, "little") + frame
        assert decode_webp_native(riff(chunk)) is None, frame
