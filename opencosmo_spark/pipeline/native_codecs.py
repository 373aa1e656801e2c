"""ctypes bindings to the system image codecs — the decode ladder's
only decoders for PNG, GIF, JPEG, WebP, TIFF, AVIF, HEIC and SVG.

``multimodal._IMAGE_LADDER`` keeps pure-python decoders only for the
formats no system codec covers (BMP, PNM, ICO). The battle-tested C
codecs that ship in this container decode at 100+ MB/s/core; at crawl
scale that is the difference between decode being free and decode
being the job. This module binds them with **totality as the
contract**: every function returns an ``(h, w, 3) uint8`` array or
``None``; no exception, no abort, no stderr spam escapes a worker. A
host without a library (or without gcc for the JPEG shim) simply
lacks that format: ``native_image_ladder()`` omits it and its
payloads fall to the digest stub, counted by ``decoder_report``.

Per-codec safety notes (the reason each binding looks the way it
does):

- **JPEG** (`libjpeg.so.62`): libjpeg reports errors by calling
  ``error_exit`` which must ``longjmp`` (the default calls
  ``exit()``!). A ctypes callback cannot longjmp, so the decode goes
  through a ~60-line C shim (``_jpeg_shim.c``) holding the
  ``jmp_buf``, compiled lazily with the system gcc. No gcc / no
  header → tier silently unavailable.
- **PNG** (`libpng16.so.16`): the libpng *simplified API*
  (``png_image_begin_read_from_memory``) catches internal longjmps
  itself and returns 0 on error — ctypes-safe. We read RGBA and drop
  alpha in numpy (libpng would otherwise composite onto a
  background). 16-bit samples are read with the 16BIT_sRGB flag so
  they scale to 8 bits as ``(v * 255 + 32767) // 65535`` instead of
  being treated as linear light.
- **TIFF** (`libtiff.so.6`): plain error-code API; handlers are
  nulled once to silence stderr. Decode via ``TIFFOpen`` on a tmpfs
  spool file + ``TIFFReadRGBAImageOriented`` with ``stopOnError=1``
  (a corrupt strip declines rather than returning half-garbage
  pixels).
- **GIF** (`libgif.so.7`): ``DGifOpen`` with a read callback +
  ``DGifSlurp``; error-code API. Struct layouts are giflib 5.x
  (verified empirically in the tests against the encoder twin). The
  first frame is returned at its own size, interlaced rasters
  deinterlaced; a frame offset into the logical screen is not
  composited onto it.
- **WebP** (`libwebp.so.7`): ``WebPDecodeRGB`` returns NULL on any
  error — the easy one. It refuses animations, so an animated WebP's
  first frame is re-wrapped as a still image first.
- **AVIF / HEIC / SVG** (`libavif`+dav1d, `libheif`+libde265,
  `librsvg`+cairo). AVIF declares only the version-gated avifRGBImage
  struct; HEIC crosses only the public heif_error; SVG uses GError
  out-params. All three validate by in-container encode->decode
  round-trips (the same libraries encode) plus mutation/truncation
  totality sweeps.

Reproducibility note: lossless formats decode to the source pixels
exactly. JPEG and lossy-WebP RGB is whatever the node's libjpeg /
libwebp build produces; the JPEG spec allows IDCT tolerance and
upsamplers differ, so those pixels may differ by a few LSBs between
hosts with different library builds.

Scale posture: libraries are dlopen'd once per python worker and
cached; the shim compiles once per node into a content-hash-keyed
/tmp path (atomic rename, racing workers converge). Payload bytes
stay row-local; ``_MAX_SAMPLES`` is the one image-size cap the whole
decode ladder refuses oversized images at.
"""
from __future__ import annotations

import ctypes
import os
import subprocess
import tempfile
import threading

import numpy as np

# the decode ladder's size cap in samples (h * w * channels)
_MAX_SAMPLES = 50_000_000
_MAX_PIXELS = _MAX_SAMPLES // 3

_LOCK = threading.Lock()
_CACHE: dict[str, object] = {}


def _lib(name: str):
    """dlopen + cache; None (cached) when unavailable."""
    with _LOCK:
        if name in _CACHE:
            return _CACHE[name]
        try:
            lib = ctypes.CDLL(name)
        except OSError:
            lib = None
        _CACHE[name] = lib
        return lib


# ---------------------------------------------------------------- JPEG

_SHIM_SRC = os.path.join(os.path.dirname(__file__), "_jpeg_shim.c")


def _compile_shim() -> str | None:
    """Compile _jpeg_shim.c into a content-hash-keyed /tmp path.

    Concurrent workers compile into unique temp names and atomically
    rename onto the shared path — last writer wins with identical
    bytes, so the race is benign."""
    import hashlib

    try:
        src = open(_SHIM_SRC, "rb").read()
    except OSError:
        return None
    key = hashlib.sha256(src).hexdigest()[:16]
    out = os.path.join(
        tempfile.gettempdir(), f"ocs_jpeg_shim_{key}.so"
    )
    if os.path.exists(out):
        return out
    tmp = out + f".build{os.getpid()}"
    try:
        proc = subprocess.run(
            ["gcc", "-O2", "-shared", "-fPIC", _SHIM_SRC,
             "-o", tmp, "-ljpeg"],
            capture_output=True, timeout=120,
        )
        if proc.returncode != 0:
            return None
        os.replace(tmp, out)
        return out
    except (OSError, subprocess.SubprocessError):
        return None
    finally:
        if os.path.exists(tmp):
            try:
                os.unlink(tmp)
            except OSError:
                pass


def _jpeg_shim():
    with _LOCK:
        if "jpeg_shim" in _CACHE:
            return _CACHE["jpeg_shim"]
    path = _compile_shim()
    shim = None
    if path is not None:
        try:
            shim = ctypes.CDLL(path)
            shim.ocs_jpeg_decode_rgb.restype = ctypes.POINTER(
                ctypes.c_uint8
            )
            shim.ocs_jpeg_decode_rgb.argtypes = [
                ctypes.c_char_p, ctypes.c_ulong, ctypes.c_ulong,
                ctypes.POINTER(ctypes.c_int),
                ctypes.POINTER(ctypes.c_int),
            ]
            shim.ocs_shim_free.restype = None
            shim.ocs_shim_free.argtypes = [ctypes.c_void_p]
        except OSError:
            shim = None
    with _LOCK:
        _CACHE["jpeg_shim"] = shim
    return shim


def encode_jpeg_native(
    img: np.ndarray, quality: int = 85,
    arithmetic: bool = False, progressive: bool = False,
) -> bytes | None:
    """JPEG-encode an (h, w, 3) uint8 array through the shim — the
    fixture generator that lets the ARITHMETIC decode path be proven
    in-container, and the encoder the throughput probe uses. None
    when the shim/gcc is unavailable."""
    shim = _jpeg_shim()
    if shim is None:
        return None
    if not hasattr(shim, "_enc_ready"):
        shim.ocs_jpeg_encode_rgb.restype = ctypes.POINTER(
            ctypes.c_uint8
        )
        shim.ocs_jpeg_encode_rgb.argtypes = [
            ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
            ctypes.c_int, ctypes.c_int, ctypes.POINTER(ctypes.c_ulong),
        ]
        shim._enc_ready = True
    h, w, _ = img.shape
    n = ctypes.c_ulong(0)
    buf = shim.ocs_jpeg_encode_rgb(
        np.ascontiguousarray(img).tobytes(), w, h, quality,
        int(arithmetic), int(progressive), ctypes.byref(n),
    )
    if not buf:
        return None
    try:
        return ctypes.string_at(buf, n.value)
    finally:
        shim.ocs_shim_free(ctypes.cast(buf, ctypes.c_void_p))


def decode_jpeg_native(data: bytes | None) -> np.ndarray | None:
    if not data or len(data) < 4 or data[:2] != b"\xff\xd8":
        return None
    shim = _jpeg_shim()
    if shim is None:
        return None
    w = ctypes.c_int(0)
    h = ctypes.c_int(0)
    buf = shim.ocs_jpeg_decode_rgb(
        data, len(data), _MAX_PIXELS, ctypes.byref(w), ctypes.byref(h)
    )
    if not buf:
        return None
    try:
        arr = np.ctypeslib.as_array(
            buf, shape=(h.value, w.value, 3)
        ).copy()
    finally:
        shim.ocs_shim_free(
            ctypes.cast(buf, ctypes.c_void_p)
        )
    return arr


# ---------------------------------------------------------------- WebP


def _webp_first_frame(data: bytes) -> bytes | None:
    """An animated WebP's first ANMF frame re-wrapped as a still
    RIFF/WEBP around its VP8/VP8L chunk (``WebPDecodeRGB`` refuses
    animations); any other payload comes back unchanged."""
    if data[12:16] != b"VP8X" or len(data) < 21 or not data[20] & 0x02:
        return data
    pos = 12
    while pos + 8 <= len(data):
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        if data[pos : pos + 4] == b"ANMF":
            # sub-chunks follow the 16-byte frame header
            p, end = pos + 24, min(pos + 8 + size, len(data))
            while p + 8 <= end:
                n = int.from_bytes(data[p + 4 : p + 8], "little")
                if data[p : p + 4] in (b"VP8 ", b"VP8L"):
                    chunk = data[p : p + 8 + n] + b"\x00" * (n & 1)
                    return (
                        b"RIFF" + (4 + len(chunk)).to_bytes(4, "little")
                        + b"WEBP" + chunk
                    )
                p += 8 + n + (n & 1)
            return None
        pos += 8 + size + (size & 1)
    return None


def decode_webp_native(data: bytes | None) -> np.ndarray | None:
    if (
        not data or len(data) < 16
        or data[:4] != b"RIFF" or data[8:12] != b"WEBP"
    ):
        return None
    data = _webp_first_frame(data)
    if data is None:
        return None
    lw = _lib("libwebp.so.7")
    if lw is None:
        return None
    lw.WebPGetInfo.restype = ctypes.c_int
    lw.WebPDecodeRGB.restype = ctypes.POINTER(ctypes.c_uint8)
    lw.WebPFree.restype = None
    lw.WebPFree.argtypes = [ctypes.c_void_p]
    w = ctypes.c_int(0)
    h = ctypes.c_int(0)
    if not lw.WebPGetInfo(
        data, ctypes.c_size_t(len(data)),
        ctypes.byref(w), ctypes.byref(h),
    ):
        return None
    if w.value <= 0 or h.value <= 0 or w.value * h.value > _MAX_PIXELS:
        return None
    buf = lw.WebPDecodeRGB(
        data, ctypes.c_size_t(len(data)),
        ctypes.byref(w), ctypes.byref(h),
    )
    if not buf:
        return None
    try:
        arr = np.ctypeslib.as_array(
            buf, shape=(h.value, w.value, 3)
        ).copy()
    finally:
        lw.WebPFree(ctypes.cast(buf, ctypes.c_void_p))
    return arr


# ----------------------------------------------------------------- PNG


class _PngImage(ctypes.Structure):
    # libpng 1.6 simplified-API control struct (png.h: png_image)
    _fields_ = [
        ("opaque", ctypes.c_void_p),
        ("version", ctypes.c_uint32),
        ("width", ctypes.c_uint32),
        ("height", ctypes.c_uint32),
        ("format", ctypes.c_uint32),
        ("flags", ctypes.c_uint32),
        ("colormap_entries", ctypes.c_uint32),
        ("warning_or_error", ctypes.c_uint32),
        ("message", ctypes.c_char * 64),
    ]


_PNG_IMAGE_VERSION = 1
_PNG_FORMAT_RGBA = 0x03  # FLAG_ALPHA | FLAG_COLOR
# 16-bit samples are sRGB-encoded, not linear: scale them to 8 bits
# instead of gamma-encoding them
_PNG_IMAGE_FLAG_16BIT_sRGB = 0x04


def decode_png_native(data: bytes | None) -> np.ndarray | None:
    if not data or len(data) < 26 or data[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    lp = _lib("libpng16.so.16")
    if lp is None:
        return None
    lp.png_image_begin_read_from_memory.restype = ctypes.c_int
    lp.png_image_finish_read.restype = ctypes.c_int
    lp.png_image_free.restype = None
    img = _PngImage()
    img.version = _PNG_IMAGE_VERSION
    if not lp.png_image_begin_read_from_memory(
        ctypes.byref(img), data, ctypes.c_size_t(len(data))
    ):
        lp.png_image_free(ctypes.byref(img))
        return None
    w, h = img.width, img.height
    if w <= 0 or h <= 0 or w * h > _MAX_PIXELS:
        lp.png_image_free(ctypes.byref(img))
        return None
    # read RGBA and drop alpha ourselves: asking libpng for RGB would
    # composite alpha onto a background, which the rest of the ladder
    # does not do
    img.format = _PNG_FORMAT_RGBA
    img.flags |= _PNG_IMAGE_FLAG_16BIT_sRGB
    buf = np.empty((h, w, 4), dtype=np.uint8)
    ok = lp.png_image_finish_read(
        ctypes.byref(img), None,
        buf.ctypes.data_as(ctypes.c_void_p), 0, None,
    )
    if not ok:
        lp.png_image_free(ctypes.byref(img))
        return None
    return buf[:, :, :3].copy()


# ---------------------------------------------------------------- TIFF

_TIFF_HANDLERS_CLEARED = False


def decode_tiff_native(data: bytes | None) -> np.ndarray | None:
    global _TIFF_HANDLERS_CLEARED
    if not data or len(data) < 8 or data[:4] not in (
        b"II*\x00", b"MM\x00*"
    ):
        return None
    lt = _lib("libtiff.so.6")
    if lt is None:
        return None
    lt.TIFFOpen.restype = ctypes.c_void_p
    lt.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
    lt.TIFFClose.restype = None
    lt.TIFFClose.argtypes = [ctypes.c_void_p]
    lt.TIFFReadRGBAImageOriented.restype = ctypes.c_int
    with _LOCK:
        if not _TIFF_HANDLERS_CLEARED:
            lt.TIFFSetErrorHandler.restype = ctypes.c_void_p
            lt.TIFFSetWarningHandler.restype = ctypes.c_void_p
            lt.TIFFSetErrorHandler(None)
            lt.TIFFSetWarningHandler(None)
            _TIFF_HANDLERS_CLEARED = True
    # spool to tmpfs: TIFFOpen wants a path; /dev/shm is memory-backed
    spool_dir = "/dev/shm" if os.path.isdir("/dev/shm") else None
    fd, path = tempfile.mkstemp(suffix=".tif", dir=spool_dir)
    try:
        os.write(fd, data)
        os.close(fd)
        tif = lt.TIFFOpen(path.encode(), b"rm")
        if not tif:
            return None
        try:
            w = ctypes.c_uint32(0)
            h = ctypes.c_uint32(0)
            # TIFFGetField is varargs; tag ids 256/257 per TIFF 6.0
            if not lt.TIFFGetField(
                ctypes.c_void_p(tif), ctypes.c_uint32(256),
                ctypes.byref(w),
            ) or not lt.TIFFGetField(
                ctypes.c_void_p(tif), ctypes.c_uint32(257),
                ctypes.byref(h),
            ):
                return None
            if (
                w.value <= 0 or h.value <= 0
                or w.value * h.value > _MAX_PIXELS
            ):
                return None
            raster = np.empty(h.value * w.value, dtype=np.uint32)
            ok = lt.TIFFReadRGBAImageOriented(
                ctypes.c_void_p(tif), w, h,
                raster.ctypes.data_as(ctypes.c_void_p),
                ctypes.c_int(1),  # ORIENTATION_TOPLEFT
                ctypes.c_int(1),  # stopOnError: decline, don't guess
            )
            if not ok:
                return None
        finally:
            lt.TIFFClose(ctypes.c_void_p(tif))
    except OSError:
        return None
    finally:
        try:
            os.unlink(path)
        except OSError:
            pass
    # packed ABGR words: little-endian byte order is R, G, B, A
    rgba = raster.view(np.uint8).reshape(h.value, w.value, 4)
    return rgba[:, :, :3].copy()


# ----------------------------------------------------------------- GIF
# giflib 5.x public structs (gif_lib.h); GifWord is int

class _GifColorType(ctypes.Structure):
    _fields_ = [
        ("Red", ctypes.c_ubyte),
        ("Green", ctypes.c_ubyte),
        ("Blue", ctypes.c_ubyte),
    ]


class _ColorMapObject(ctypes.Structure):
    _fields_ = [
        ("ColorCount", ctypes.c_int),
        ("BitsPerPixel", ctypes.c_int),
        ("SortFlag", ctypes.c_bool),
        ("Colors", ctypes.POINTER(_GifColorType)),
    ]


class _GifImageDesc(ctypes.Structure):
    _fields_ = [
        ("Left", ctypes.c_int),
        ("Top", ctypes.c_int),
        ("Width", ctypes.c_int),
        ("Height", ctypes.c_int),
        ("Interlace", ctypes.c_bool),
        ("ColorMap", ctypes.POINTER(_ColorMapObject)),
    ]


class _SavedImage(ctypes.Structure):
    _fields_ = [
        ("ImageDesc", _GifImageDesc),
        ("RasterBits", ctypes.POINTER(ctypes.c_ubyte)),
        ("ExtensionBlockCount", ctypes.c_int),
        ("ExtensionBlocks", ctypes.c_void_p),
    ]


class _GifFileType(ctypes.Structure):
    _fields_ = [
        ("SWidth", ctypes.c_int),
        ("SHeight", ctypes.c_int),
        ("SColorResolution", ctypes.c_int),
        ("SBackGroundColor", ctypes.c_int),
        ("AspectByte", ctypes.c_ubyte),
        ("SColorMap", ctypes.POINTER(_ColorMapObject)),
        ("ImageCount", ctypes.c_int),
        ("Image", _GifImageDesc),
        ("SavedImages", ctypes.POINTER(_SavedImage)),
        ("ExtensionBlockCount", ctypes.c_int),
        ("ExtensionBlocks", ctypes.c_void_p),
        ("Error", ctypes.c_int),
        ("UserData", ctypes.c_void_p),
        ("Private", ctypes.c_void_p),
    ]


_GIF_INPUT_FUNC = ctypes.CFUNCTYPE(
    ctypes.c_int, ctypes.c_void_p,
    ctypes.POINTER(ctypes.c_ubyte), ctypes.c_int,
)


def decode_gif_native(data: bytes | None) -> np.ndarray | None:
    if not data or len(data) < 13 or data[:6] not in (
        b"GIF87a", b"GIF89a"
    ):
        return None
    lg = _lib("libgif.so.7")
    if lg is None:
        return None
    lg.DGifOpen.restype = ctypes.POINTER(_GifFileType)
    lg.DGifOpenFileName.restype = ctypes.POINTER(_GifFileType)
    lg.DGifOpenFileName.argtypes = [
        ctypes.c_char_p, ctypes.POINTER(ctypes.c_int),
    ]
    lg.DGifSlurp.restype = ctypes.c_int
    lg.DGifCloseFile.restype = ctypes.c_int

    err = ctypes.c_int(0)
    # tmpfs spool + DGifOpenFileName: the read-callback path crosses
    # back into python once per ~255-byte sub-block, which dominated
    # decode time (measured: the spool path is ~3x faster)
    spool_dir = "/dev/shm" if os.path.isdir("/dev/shm") else None
    spool = None
    try:
        fd, spool = tempfile.mkstemp(suffix=".gif", dir=spool_dir)
        os.write(fd, data)
        os.close(fd)
        gp = lg.DGifOpenFileName(spool.encode(), ctypes.byref(err))
    except OSError:
        gp = None
    if not gp:
        # no writable tmp dir: fall back to the in-memory callback
        pos = [0]

        def _read(_gif, buf, count):
            chunk = data[pos[0] : pos[0] + count]
            pos[0] += len(chunk)
            if chunk:
                ctypes.memmove(buf, chunk, len(chunk))
            return len(chunk)

        cb = _GIF_INPUT_FUNC(_read)
        gp = lg.DGifOpen(None, cb, ctypes.byref(err))
        if not gp:
            if spool is not None:
                try:
                    os.unlink(spool)
                except OSError:
                    pass
            return None
    try:
        if lg.DGifSlurp(gp) != 1:
            return None
        g = gp.contents
        if g.ImageCount < 1 or not g.SavedImages:
            return None
        first = g.SavedImages[0]
        desc = first.ImageDesc
        w, h = desc.Width, desc.Height
        if (
            w <= 0 or h <= 0 or w * h > _MAX_PIXELS
            or not first.RasterBits
        ):
            return None
        cmap = desc.ColorMap if desc.ColorMap else g.SColorMap
        if not cmap:
            return None
        cm = cmap.contents
        ncol = cm.ColorCount
        if ncol <= 0 or ncol > 256 or not cm.Colors:
            return None
        pal = np.ctypeslib.as_array(
            ctypes.cast(cm.Colors, ctypes.POINTER(ctypes.c_ubyte)),
            shape=(ncol * 3,),
        ).reshape(ncol, 3).copy()
        # DGifSlurp deinterlaces into row order itself (giflib 5.x
        # dgif_lib.c writes each interlace pass at its target rows)
        idx = np.ctypeslib.as_array(
            first.RasterBits, shape=(h * w,)
        ).reshape(h, w).copy()
    finally:
        lg.DGifCloseFile(gp, ctypes.byref(err))
        if spool is not None:
            try:
                os.unlink(spool)
            except OSError:
                pass
    if int(idx.max(initial=0)) >= ncol:
        return None
    return pal[idx]


# ---------------------------------------------------------------- AVIF
# libavif ships in this container (with dav1d/gav1 underneath);
# without it AVIF falls to the digest stub. Structs are version-gated
# — avifRGBImage grew a maxThreads field at 1.0 — and validated
# empirically by an encode->decode round-trip in the tests (libavif
# encodes too).

_AVIF_RGB_COMMON = [
    ("width", ctypes.c_uint32),
    ("height", ctypes.c_uint32),
    ("depth", ctypes.c_uint32),
    ("format", ctypes.c_int),
    ("chromaUpsampling", ctypes.c_int),
    ("chromaDownsampling", ctypes.c_int),
    ("avoidLibYUV", ctypes.c_int),
    ("ignoreAlpha", ctypes.c_int),
    ("alphaPremultiplied", ctypes.c_int),
    ("isFloat", ctypes.c_int),
]


class _AvifRGB011(ctypes.Structure):  # libavif 0.11.x
    _fields_ = _AVIF_RGB_COMMON + [
        ("pixels", ctypes.POINTER(ctypes.c_uint8)),
        ("rowBytes", ctypes.c_uint32),
    ]


class _AvifRGB10(ctypes.Structure):  # libavif 1.x
    _fields_ = _AVIF_RGB_COMMON + [
        ("maxThreads", ctypes.c_int),
        ("pixels", ctypes.POINTER(ctypes.c_uint8)),
        ("rowBytes", ctypes.c_uint32),
    ]


def _avif():
    """(lib, rgb_struct) or None — version-gated so an unknown struct
    layout declines instead of corrupting memory."""
    with _LOCK:
        if "avif" in _CACHE:
            return _CACHE["avif"]
    got = None
    la = _lib("libavif.so.15") or _lib("libavif.so.16")
    if la is not None:
        try:
            la.avifVersion.restype = ctypes.c_char_p
            ver = la.avifVersion().decode()
            if ver.startswith("0.11."):
                got = (la, _AvifRGB011)
            elif ver.startswith("1."):
                got = (la, _AvifRGB10)
        except (OSError, AttributeError):
            got = None
    if got is not None:
        la = got[0]
        la.avifImageCreateEmpty.restype = ctypes.c_void_p
        la.avifDecoderCreate.restype = ctypes.c_void_p
        la.avifImageDestroy.argtypes = [ctypes.c_void_p]
        la.avifDecoderDestroy.argtypes = [ctypes.c_void_p]
        la.avifDecoderReadMemory.restype = ctypes.c_int
        la.avifImageYUVToRGB.restype = ctypes.c_int
    with _LOCK:
        _CACHE["avif"] = got
    return got


def _is_avif(data: bytes) -> bool:
    return (
        len(data) > 16
        and data[4:8] == b"ftyp"
        and data[8:12] in (b"avif", b"avis")
    )


def decode_avif_native(data: bytes | None) -> np.ndarray | None:
    if not data or not _is_avif(data):
        return None
    got = _avif()
    if got is None:
        return None
    la, rgb_cls = got
    image = la.avifImageCreateEmpty()
    if not image:
        return None
    try:
        dec = la.avifDecoderCreate()
        if not dec:
            return None
        try:
            res = la.avifDecoderReadMemory(
                ctypes.c_void_p(dec), ctypes.c_void_p(image),
                data, ctypes.c_size_t(len(data)),
            )
        finally:
            la.avifDecoderDestroy(dec)
        if res != 0:  # AVIF_RESULT_OK
            return None
        rgb = rgb_cls()
        la.avifRGBImageSetDefaults(
            ctypes.byref(rgb), ctypes.c_void_p(image)
        )
        w, h = rgb.width, rgb.height
        if w <= 0 or h <= 0 or w * h > _MAX_PIXELS:
            return None
        rgb.format = 0  # AVIF_RGB_FORMAT_RGB
        rgb.depth = 8
        la.avifRGBImageAllocatePixels(ctypes.byref(rgb))
        if not rgb.pixels or rgb.rowBytes < w * 3:
            return None
        try:
            if la.avifImageYUVToRGB(
                ctypes.c_void_p(image), ctypes.byref(rgb)
            ) != 0:
                return None
            arr = (
                np.ctypeslib.as_array(
                    rgb.pixels, shape=(h, rgb.rowBytes)
                )[:, : w * 3]
                .reshape(h, w, 3)
                .copy()
            )
        finally:
            la.avifRGBImageFreePixels(ctypes.byref(rgb))
        return arr
    finally:
        la.avifImageDestroy(image)


# ---------------------------------------------------------------- HEIF
# libheif + libde265 ship here: HEIC (the default iPhone photo format)
# decodes through a fully OPAQUE-handle C API — the only struct
# crossing the boundary is heif_error, which is part of the stable
# public API (code/subcode/message, returned by value).

class _HeifError(ctypes.Structure):
    _fields_ = [
        ("code", ctypes.c_int),
        ("subcode", ctypes.c_int),
        ("message", ctypes.c_char_p),
    ]


_HEIC_BRANDS = (
    b"heic", b"heix", b"hevc", b"heim", b"heis", b"hevm", b"hevs",
    b"mif1", b"msf1",
)
_HEIF_CHANNEL_INTERLEAVED = 10
_HEIF_COLORSPACE_RGB = 1
_HEIF_CHROMA_INTERLEAVED_RGB = 10


def _heif():
    with _LOCK:
        if "heif" in _CACHE:
            return _CACHE["heif"]
    lh = _lib("libheif.so.1")
    if lh is not None:
        try:
            lh.heif_context_alloc.restype = ctypes.c_void_p
            lh.heif_context_free.argtypes = [ctypes.c_void_p]
            lh.heif_context_read_from_memory.restype = _HeifError
            lh.heif_context_get_primary_image_handle.restype = _HeifError
            lh.heif_decode_image.restype = _HeifError
            lh.heif_image_handle_get_width.restype = ctypes.c_int
            lh.heif_image_handle_get_height.restype = ctypes.c_int
            lh.heif_image_get_plane_readonly.restype = ctypes.POINTER(
                ctypes.c_uint8
            )
        except AttributeError:
            lh = None
    with _LOCK:
        _CACHE["heif"] = lh
    return lh


def _is_heic(data: bytes) -> bool:
    return (
        len(data) > 16
        and data[4:8] == b"ftyp"
        and data[8:12] in _HEIC_BRANDS
    )


def decode_heif_native(data: bytes | None) -> np.ndarray | None:
    if not data or not _is_heic(data):
        return None
    lh = _heif()
    if lh is None:
        return None
    ctx = lh.heif_context_alloc()
    if not ctx:
        return None
    hdl = ctypes.c_void_p()
    img = ctypes.c_void_p()
    try:
        if lh.heif_context_read_from_memory(
            ctypes.c_void_p(ctx), data, ctypes.c_size_t(len(data)), None
        ).code != 0:
            return None
        if lh.heif_context_get_primary_image_handle(
            ctypes.c_void_p(ctx), ctypes.byref(hdl)
        ).code != 0:
            return None
        w = lh.heif_image_handle_get_width(hdl)
        h = lh.heif_image_handle_get_height(hdl)
        if w <= 0 or h <= 0 or w * h > _MAX_PIXELS:
            return None
        if lh.heif_decode_image(
            hdl, ctypes.byref(img), _HEIF_COLORSPACE_RGB,
            _HEIF_CHROMA_INTERLEAVED_RGB, None,
        ).code != 0:
            return None
        stride = ctypes.c_int(0)
        p = lh.heif_image_get_plane_readonly(
            ctypes.c_void_p(img.value), _HEIF_CHANNEL_INTERLEAVED,
            ctypes.byref(stride),
        )
        if not p or stride.value < w * 3:
            return None
        return (
            np.ctypeslib.as_array(p, shape=(h, stride.value))[:, : w * 3]
            .reshape(h, w, 3)
            .copy()
        )
    finally:
        if img.value:
            lh.heif_image_release(ctypes.c_void_p(img.value))
        if hdl.value:
            lh.heif_image_handle_release(hdl)
        lh.heif_context_free(ctypes.c_void_p(ctx))


# ----------------------------------------------------------------- SVG
# librsvg + cairo ship here (Rust-backed parser, GError out-params —
# total by construction: junk returns a NULL handle). SVG is a text
# format no pixel tier ever covered; rasterizing at intrinsic size
# turns crawl vector assets (logos, figures, icons) into real pixels
# for features/dHash instead of digest stubs.


class _RsvgRect(ctypes.Structure):
    _fields_ = [
        ("x", ctypes.c_double),
        ("y", ctypes.c_double),
        ("width", ctypes.c_double),
        ("height", ctypes.c_double),
    ]


def _rsvg():
    with _LOCK:
        if "rsvg" in _CACHE:
            return _CACHE["rsvg"]
    got = None
    rs = _lib("librsvg-2.so.2")
    ca = _lib("libcairo.so.2")
    go = _lib("libgobject-2.0.so.0")
    gl = _lib("libglib-2.0.so.0")
    if None not in (rs, ca, go, gl):
        try:
            rs.rsvg_handle_new_from_data.restype = ctypes.c_void_p
            rs.rsvg_handle_get_intrinsic_size_in_pixels.restype = (
                ctypes.c_int
            )
            rs.rsvg_handle_render_document.restype = ctypes.c_int
            ca.cairo_image_surface_create.restype = ctypes.c_void_p
            ca.cairo_create.restype = ctypes.c_void_p
            ca.cairo_image_surface_get_data.restype = ctypes.POINTER(
                ctypes.c_uint8
            )
            ca.cairo_image_surface_get_stride.restype = ctypes.c_int
            gl.g_error_free.restype = None
            gl.g_error_free.argtypes = [ctypes.c_void_p]
            got = (rs, ca, go, gl)
        except AttributeError:
            got = None
    with _LOCK:
        _CACHE["rsvg"] = got
    return got


_SVG_DEFAULT_PX = 512  # viewport when the document has no intrinsic size


def _looks_like_svg(data: bytes) -> bool:
    head = data[:4096].lstrip(b"\xef\xbb\xbf \t\r\n")
    if not head.startswith((b"<?xml", b"<svg", b"<!DOCTYPE svg", b"<!--")):
        return False
    return b"<svg" in data[:4096]


def decode_svg_native(data: bytes | None) -> np.ndarray | None:
    if not data or len(data) < 8:
        return None
    if data[:2] == b"\x1f\x8b":  # svgz
        import gzip

        try:
            data = gzip.decompress(data[: 16 << 20])
        except OSError:
            return None
    if not _looks_like_svg(data):
        return None
    got = _rsvg()
    if got is None:
        return None
    rs, ca, go, gl = got
    err = ctypes.c_void_p()
    h = rs.rsvg_handle_new_from_data(
        data, ctypes.c_size_t(len(data)), ctypes.byref(err)
    )
    if not h:
        if err.value:
            # one GError per malformed payload would be a slow leak
            # in a long-lived worker at crawl scale
            gl.g_error_free(err)
        return None
    surf = cr = None
    try:
        wd = ctypes.c_double(0)
        hd = ctypes.c_double(0)
        ok = rs.rsvg_handle_get_intrinsic_size_in_pixels(
            ctypes.c_void_p(h), ctypes.byref(wd), ctypes.byref(hd)
        )
        w = int(round(wd.value)) if ok and wd.value > 0 else _SVG_DEFAULT_PX
        ht = int(round(hd.value)) if ok and hd.value > 0 else _SVG_DEFAULT_PX
        if w <= 0 or ht <= 0 or w * ht > _MAX_PIXELS:
            return None
        surf = ca.cairo_image_surface_create(0, w, ht)  # ARGB32
        cr = ca.cairo_create(ctypes.c_void_p(surf))
        vp = _RsvgRect(0.0, 0.0, float(w), float(ht))
        err2 = ctypes.c_void_p()
        if not rs.rsvg_handle_render_document(
            ctypes.c_void_p(h), ctypes.c_void_p(cr),
            ctypes.byref(vp), ctypes.byref(err2),
        ):
            if err2.value:
                gl.g_error_free(err2)
            return None
        ca.cairo_surface_flush(ctypes.c_void_p(surf))
        p = ca.cairo_image_surface_get_data(ctypes.c_void_p(surf))
        stride = ca.cairo_image_surface_get_stride(ctypes.c_void_p(surf))
        if not p or stride < w * 4:
            return None
        raw = np.ctypeslib.as_array(p, shape=(ht, stride))[
            :, : w * 4
        ].reshape(ht, w, 4).copy()
    finally:
        if cr:
            ca.cairo_destroy(ctypes.c_void_p(cr))
        if surf:
            ca.cairo_surface_destroy(ctypes.c_void_p(surf))
        go.g_object_unref(ctypes.c_void_p(h))
    # cairo ARGB32 is PREMULTIPLIED BGRA (little-endian): un-multiply
    # so dropping alpha keeps true colors (the ladder's convention)
    b, g, r, a = (raw[:, :, i].astype(np.uint32) for i in range(4))
    rgb = np.stack([r, g, b], axis=2)
    an = np.maximum(a, 1)[:, :, None]
    rgb = np.minimum((rgb * 255 + an // 2) // an, 255).astype(np.uint8)
    rgb[a == 0] = 0
    return rgb


# --------------------------------------------------------------- ladder


def native_image_ladder() -> tuple:
    """(decoder-column value, fn, coverage) rows for the codecs whose
    libraries are actually loadable here — probed once per worker.
    Each fn sniffs magic bytes first, so a miss costs a few
    comparisons."""
    with _LOCK:
        if "ladder" in _CACHE:
            return _CACHE["ladder"]
    rows = []
    if _lib("libpng16.so.16") is not None:
        rows.append((
            "png-native", decode_png_native,
            "PNG via system libpng16 (simplified API, RGBA read, "
            "alpha dropped)",
        ))
    if _lib("libgif.so.7") is not None:
        rows.append((
            "gif-native", decode_gif_native,
            "GIF first frame via system giflib 5 (at the frame's own "
            "size, interlaced rasters deinterlaced)",
        ))
    if _jpeg_shim() is not None:
        rows.append((
            "jpeg-native", decode_jpeg_native,
            "JPEG via system libjpeg through the setjmp-safe C shim "
            "(baseline + progressive + arithmetic — the arithmetic "
            "path is proven by the shim's own encoder: huffman and "
            "arithmetic codings of one image reconstruct identically)",
        ))
    if _lib("libwebp.so.7") is not None:
        rows.append((
            "webp-native", decode_webp_native,
            "WebP lossless + lossy (first frame of animations) via "
            "system libwebp",
        ))
    if _lib("libtiff.so.6") is not None:
        rows.append((
            "tiff-native", decode_tiff_native,
            "TIFF via system libtiff RGBA reader (strict stopOnError)",
        ))
    if _avif() is not None:
        rows.append((
            "avif-native", decode_avif_native,
            "AVIF via system libavif/dav1d",
        ))
    if _heif() is not None:
        rows.append((
            "heic-native", decode_heif_native,
            "HEIC/HEIF via system libheif/libde265 (iPhone photos)",
        ))
    if _rsvg() is not None:
        rows.append((
            "svg-native", decode_svg_native,
            "SVG/SVGZ rasterized at intrinsic size via system "
            "librsvg + cairo (vector assets; new real coverage)",
        ))
    ladder = tuple(rows)
    with _LOCK:
        _CACHE["ladder"] = ladder
    return ladder
