"""Per-format image decode throughput of the system codec bindings
(``native_codecs.py``) that the image decode ladder runs.

Generates payloads with the tests' independent encoder twins (PNG/
GIF/TIFF/JPEG), libwebp (WebP lossy + lossless), libavif, libheif and
an SVG of random circles at two pixel scales, times each decoder on
its own payloads, and prints a markdown table of MB/s (payload bytes)
and MPx/s (decoded pixels). Run:

    python tools/decode_probe.py

No Spark involved — the ladder decoders are plain functions; the
mapInPandas wrapper adds only Arrow batching around them.
"""
from __future__ import annotations

import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from opencosmo_spark.pipeline import native_codecs as nc  # noqa: E402


def _payloads(h, w, seed=7):
    """(format, payload, npixels) fixtures at one scale: half smooth
    gradient (realistic compressibility), half noise (worst case)."""
    import ctypes

    from test_analysis_multimodal import _make_gif, _make_jpeg, _make_png
    from test_tiff import make_tiff

    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    grad = np.stack(
        [(xx * 255 // max(w - 1, 1)), (yy * 255 // max(h - 1, 1)),
         ((xx + yy) * 255 // max(h + w - 2, 1))], axis=2
    ).astype(np.uint8)
    noise = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    half = np.where(np.arange(w)[None, :, None] < w // 2, grad, noise)

    out = []
    out.append(("png", _make_png(half, 2, [0, 1, 2, 3, 4]), h * w))
    pal_img = (half[:, :, 0] >> 4).astype(np.uint8)
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    out.append(("gif", _make_gif(pal_img, pal), h * w))
    out.append(("tiff", make_tiff(half, comp=5), h * w))
    out.append(("jpeg", _make_jpeg(half)[0], h * w))
    try:
        lw = ctypes.CDLL("libwebp.so.7")
        lw.WebPEncodeRGB.restype = ctypes.c_size_t
        lw.WebPEncodeLosslessRGB.restype = ctypes.c_size_t
        buf = ctypes.POINTER(ctypes.c_uint8)()
        n = lw.WebPEncodeRGB(
            np.ascontiguousarray(half).tobytes(), w, h, w * 3,
            ctypes.c_float(75.0), ctypes.byref(buf),
        )
        out.append(("webp-lossy", ctypes.string_at(buf, n), h * w))
        lw.WebPFree(buf)
        buf = ctypes.POINTER(ctypes.c_uint8)()
        n = lw.WebPEncodeLosslessRGB(
            np.ascontiguousarray(half).tobytes(), w, h, w * 3,
            ctypes.byref(buf),
        )
        out.append(("webp-lossless", ctypes.string_at(buf, n), h * w))
        lw.WebPFree(buf)
    except OSError:
        pass
    try:
        sys.path.insert(0, os.path.join(REPO, "tests"))
        from test_native_codecs import _avif_encode, _heic_encode

        out.append(("avif", _avif_encode(half), h * w))
        out.append(("heic", _heic_encode(half), h * w))
    except Exception:  # noqa: BLE001 - libs absent: skip the rows
        pass
    shapes = "".join(
        f'<circle cx="{int(rng.integers(0, w))}" '
        f'cy="{int(rng.integers(0, h))}" r="{int(rng.integers(2, 9))}" '
        f'fill="#{int(rng.integers(0, 1 << 24)):06x}"/>'
        for _ in range(64)
    )
    svg = (
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{w}" '
        f'height="{h}">{shapes}</svg>'
    ).encode()
    out.append(("svg", svg, h * w))
    return out


DECODERS = {
    "png": nc.decode_png_native,
    "gif": nc.decode_gif_native,
    "tiff": nc.decode_tiff_native,
    "jpeg": nc.decode_jpeg_native,
    "webp-lossy": nc.decode_webp_native,
    "webp-lossless": nc.decode_webp_native,
    "avif": nc.decode_avif_native,
    "heic": nc.decode_heif_native,
    "svg": nc.decode_svg_native,
}


def _rate(fn, payload, npx, budget_s=2.0):
    """(MB/s, MPx/s) — repeat until the time budget is spent."""
    t0 = time.perf_counter()
    if fn(payload) is None:
        return None
    once = time.perf_counter() - t0
    reps = max(1, int(budget_s / max(once, 1e-6)))
    reps = min(reps, 2000)
    t0 = time.perf_counter()
    for _ in range(reps):
        fn(payload)
    dt = (time.perf_counter() - t0) / reps
    return len(payload) / dt / 1e6, npx / dt / 1e6


def main():
    scales = [(64, 64), (512, 512)]
    print("| format | scale | bytes | MB/s | MPx/s |")
    print("|---|---|---|---|---|")
    for h, w in scales:
        for fmt, payload, npx in _payloads(h, w):
            n = _rate(DECODERS[fmt], payload, npx)
            nm = f"{n[0]:.1f}" if n else "—"
            npix = f"{n[1]:.1f}" if n else "—"
            print(f"| {fmt} | {h}x{w} | {len(payload)} | {nm} | {npix} |")


if __name__ == "__main__":
    main()
