"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata, processed by Arrow-batched Pandas UDFs.

Images decode through one ladder: the system C codecs bound in
``native_codecs.py``, then the pure-python BMP/PNM/ICO parsers here;
audio through the pure-python WAV/FLAC/AIFF/AU decoders. A payload no
decoder takes gets a clearly-marked deterministic digest fake, and the
``decoder`` column says which path each row took.

At 100 TB: binary payloads dominate partition size — keep
``spark.sql.files.maxPartitionBytes`` small for media tables, or store
payloads as object-store URIs and fetch inside ``mapInPandas`` so
shuffles move metadata only.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from .native_codecs import _MAX_SAMPLES, decode_png_native, native_image_ladder

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

try:  # pragma: no cover - not present in this image
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


def _fake_decode(payload: bytes, out_dim: int) -> np.ndarray:
    """Deterministic stand-in for a real codec: a repeatable float
    vector derived from the payload digest. NOT a real decode."""
    h = hashlib.sha256(payload or b"").digest()
    seed = int.from_bytes(h[:8], "little")
    rng = np.random.default_rng(seed)
    return rng.standard_normal(out_dim).astype(np.float32)


def _decode_bmp(data: bytes) -> np.ndarray | None:
    """Pure-python decode of an uncompressed 24-bit BMP (the one
    format parseable without any codec library): returns an (h, w, 3)
    uint8 RGB array, or None when the payload is not such a BMP.
    BITMAPINFOHEADER layout per the public Windows BMP spec."""
    if data is None or len(data) < 54 or data[:2] != b"BM":
        return None
    pixel_offset = int.from_bytes(data[10:14], "little")
    width = int.from_bytes(data[18:22], "little", signed=True)
    height = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    compression = int.from_bytes(data[30:34], "little")
    if bpp != 24 or compression != 0 or width <= 0 or height == 0:
        return None
    bottom_up = height > 0
    h = abs(height)
    row_size = ((width * 3 + 3) // 4) * 4  # rows pad to 4 bytes
    if pixel_offset + row_size * h > len(data):
        return None
    arr = np.frombuffer(
        data, np.uint8, count=row_size * h, offset=pixel_offset
    ).reshape(h, row_size)
    arr = arr[:, : width * 3].reshape(h, width, 3)[..., ::-1]  # BGR -> RGB
    if bottom_up:
        arr = arr[::-1]
    return arr


def _decode_pnm(data: bytes) -> np.ndarray | None:
    """Pure-python decode of binary PNM (P5 grayscale PGM / P6 RGB
    PPM, maxval <= 255 — the netpbm formats, public spec, even
    simpler than BMP): returns an (h, w, 3) uint8 RGB array
    (grayscale replicated across channels), or None when the payload
    is not such a PNM. Header is whitespace-tokenized with
    ``#``-comment lines allowed, per the spec."""
    if data is None or len(data) < 10 or data[:1] != b"P" or data[1:2] not in b"56":
        return None
    is_rgb = data[1:2] == b"6"
    pos, tokens = 2, []
    while len(tokens) < 3 and pos < len(data):
        c = data[pos : pos + 1]
        if c == b"#":  # comment to end of line
            while pos < len(data) and data[pos : pos + 1] not in b"\r\n":
                pos += 1
        elif c.isspace():
            pos += 1
        elif c.isdigit():
            start = pos
            while pos < len(data) and data[pos : pos + 1].isdigit():
                pos += 1
            tokens.append(int(data[start:pos]))
        else:
            return None
    if len(tokens) < 3:
        return None
    width, height, maxval = tokens
    # exactly ONE whitespace byte separates the header from raster data
    if width <= 0 or height <= 0 or not 0 < maxval <= 255:
        return None
    if pos >= len(data) or not data[pos : pos + 1].isspace():
        return None
    pos += 1
    nch = 3 if is_rgb else 1
    need = width * height * nch
    if pos + need > len(data):
        return None
    arr = np.frombuffer(data, np.uint8, count=need, offset=pos).reshape(
        height, width, nch
    )
    if maxval != 255:  # spec: sample values scale against maxval
        arr = (arr.astype(np.float32) * (255.0 / maxval)).round().astype(np.uint8)
    if not is_rgb:
        arr = np.repeat(arr, 3, axis=2)
    return arr


def resize_pixels(arr: np.ndarray, max_side: int) -> np.ndarray:
    """Area-average downscale of an (h, w, 3) uint8 array so the
    longer side is ``max_side`` (aspect preserved; never upscales).
    Integral-image implementation: exact box means for ANY ratio, no
    per-pixel python loop — the right filter for large thumbnail
    reductions (bilinear aliases badly past ~2x)."""
    h, w, _ = arr.shape
    scale = max_side / max(h, w)
    if scale >= 1.0:
        return arr
    th = max(1, int(round(h * scale)))
    tw = max(1, int(round(w * scale)))
    # integral image in float64: sums over any rectangle in O(1)
    ii = np.zeros((h + 1, w + 1, 3), np.float64)
    ii[1:, 1:] = np.cumsum(np.cumsum(arr, axis=0, dtype=np.float64), axis=1)
    ys = np.linspace(0, h, th + 1)
    xs = np.linspace(0, w, tw + 1)
    y0, y1 = np.floor(ys[:-1]).astype(int), np.ceil(ys[1:]).astype(int)
    x0, x1 = np.floor(xs[:-1]).astype(int), np.ceil(xs[1:]).astype(int)
    area = ((y1 - y0)[:, None] * (x1 - x0)[None, :]).astype(np.float64)
    out = (
        ii[y1][:, x1] - ii[y1][:, x0] - ii[y0][:, x1] + ii[y0][:, x0]
    ) / area[:, :, None]
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def encode_png(arr: np.ndarray) -> bytes:
    """Minimal stdlib PNG encoder (8-bit RGB, filter 0, one zlib
    IDAT) — lossless, so thumbnail round-trips are exact in tests and
    the output feeds the same decode ladder downstream."""
    import struct
    import zlib

    h, w, _ = arr.shape

    def chunk(t, b):
        return (
            struct.pack(">I", len(b)) + t + b
            + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def image_thumbnail(
    df: DataFrame,
    payload_col: str = "payload",
    max_side: int = 256,
) -> DataFrame:
    """Thumbnail every image payload: decode through the ladder,
    area-average downscale so the longer side is ``max_side`` (never
    upscale), and re-encode as lossless PNG into ``thumb_payload`` with
    ``thumb_width``/``thumb_height``/``decoder`` alongside.
    Undecodable payloads get NULL thumbnails and the ``stub``
    decoder marker — total, no null-handling burden downstream.

    The 100 TB posture matches the rest of the media surface: one
    Arrow-batched ``mapInPandas``, payload bytes never shuffle, output
    thumbnails are a bounded fraction of input size. This is the
    'resize' stage of the decode/feature/resize/frame-sample quartet;
    compose with ``media_near_dedup`` (thumbnails hash like their
    sources) or ship the thumbnail column straight to training."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("thumb_payload", T.BinaryType()),
            T.StructField("thumb_width", T.IntegerType()),
            T.StructField("thumb_height", T.IntegerType()),
            T.StructField("decoder", T.StringType()),
        ]
    )

    def one(p):
        arr, name = _decode_via_ladder(p if p is not None else b"")
        if arr is None:
            return None, None, None, "stub"
        small = resize_pixels(arr, max_side)
        return (
            encode_png(small), small.shape[1], small.shape[0], name,
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            got = [one(p) for p in pdf[payload_col]]
            pdf["thumb_payload"] = [g[0] for g in got]
            pdf["thumb_width"] = [g[1] for g in got]
            pdf["thumb_height"] = [g[2] for g in got]
            pdf["decoder"] = [g[3] for g in got]
            yield pdf

    return df.mapInPandas(run, out_schema)


def _pixel_features(arr: np.ndarray, out_dim: int) -> np.ndarray:
    """Real features from decoded pixels: overall channel means plus a
    g x g block-mean grid (the 'resize -> channel-mean' path), scaled
    to [0, 1], zero-padded/truncated to ``out_dim``."""
    g = max(1, int((out_dim / 3.0) ** 0.5))
    h, w, _ = arr.shape
    ys = np.linspace(0, h, g + 1).astype(int)
    xs = np.linspace(0, w, g + 1).astype(int)
    blocks = [
        arr[
            ys[i] : max(ys[i + 1], ys[i] + 1),
            xs[j] : max(xs[j + 1], xs[j] + 1),
        ]
        .reshape(-1, 3)
        .mean(axis=0)
        for i in range(g)
        for j in range(g)
    ]
    feat = (
        np.concatenate([arr.reshape(-1, 3).mean(axis=0), np.concatenate(blocks)])
        / 255.0
    ).astype(np.float32)
    out = np.zeros(out_dim, np.float32)
    out[: min(out_dim, len(feat))] = feat[:out_dim]
    return out


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """256-entry mu-law and A-law expansion tables (ITU-T G.711) as
    float32 in [-1, 1] — the telephony codings speech corpora ship."""
    mu = np.zeros(256, np.float32)
    al = np.zeros(256, np.float32)
    for c in range(256):
        u = ~c & 0xFF
        exp = (u >> 4) & 7
        mant = u & 0x0F
        mag = (((mant << 3) + 0x84) << exp) - 0x84
        mu[c] = (-mag if u & 0x80 else mag) / 32768.0
        a = c ^ 0x55
        exp = (a >> 4) & 7
        mant = a & 0x0F
        mag = (mant << 4) + 8 if exp == 0 else ((mant << 4) + 0x108) << (
            exp - 1
        )
        # A-law sign convention is INVERTED vs mu-law: bit 7 set (after
        # the 0x55 toggle) means POSITIVE (G.711 alaw2linear)
        al[c] = (mag if a & 0x80 else -mag) / 32768.0
    return mu, al


_MULAW_TABLE, _ALAW_TABLE = _g711_tables()

# IMA ADPCM (DVI4 / WAVE format 0x11) tables — public, from the IMA
# Recommended Practices for Enhancing Digital Audio Compatibility
_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
], dtype=np.int32)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)

# Microsoft ADPCM (WAVE format 0x02) adaptation table and the 7
# standard predictor coefficient pairs (public RIFF/WAVE spec)
_MS_ADAPT = np.array([
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230,
], dtype=np.int32)
_MS_COEFS = ((256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
             (460, -208), (392, -232))


def _ima_decode_blocks(blocks: np.ndarray, nch: int) -> np.ndarray:
    """Vectorized-across-blocks IMA ADPCM: ``blocks`` is (nblocks,
    block_align) uint8. Returns (nblocks, samples_per_block, nch)
    int16-range int32. Per channel: a 4-byte header (predictor i16le,
    step index, reserved), then nibble data in interleaved 4-byte
    channel groups, low nibble first."""
    nb, balign = blocks.shape
    hdr = blocks[:, : 4 * nch].reshape(nb, nch, 4).astype(np.int32)
    pred = (hdr[:, :, 0] | (hdr[:, :, 1] << 8)).astype(np.int32)
    pred = np.where(pred & 0x8000, pred - 0x10000, pred)
    index = np.clip(hdr[:, :, 2], 0, 88)
    body = blocks[:, 4 * nch :]
    ngroups = body.shape[1] // (4 * nch)
    body = body[:, : ngroups * 4 * nch].reshape(nb, ngroups, nch, 4)
    # low nibble first, then high, within each byte
    nibbles = np.stack([body & 0x0F, body >> 4], axis=-1).reshape(
        nb, ngroups, nch, 8
    )
    # per-channel sample stream: (nb, nch, ngroups*8)
    stream = nibbles.transpose(0, 2, 1, 3).reshape(nb, nch, -1)
    nsamp = stream.shape[2]
    out = np.empty((nb, nch, nsamp + 1), dtype=np.int32)
    out[:, :, 0] = pred
    for i in range(nsamp):
        n = stream[:, :, i].astype(np.int32)
        step = _IMA_STEPS[index]
        diff = step >> 3
        diff += np.where(n & 1, step >> 2, 0)
        diff += np.where(n & 2, step >> 1, 0)
        diff += np.where(n & 4, step, 0)
        pred = np.where(n & 8, pred - diff, pred + diff)
        pred = np.clip(pred, -32768, 32767)
        index = np.clip(index + _IMA_INDEX[n & 7], 0, 88)
        out[:, :, i + 1] = pred
    return out.transpose(0, 2, 1)  # (nb, samples, nch)


def _ms_adpcm_decode_blocks(
    blocks: np.ndarray, nch: int, coefs: np.ndarray
) -> np.ndarray:
    """Vectorized-across-blocks Microsoft ADPCM: ``blocks`` is
    (nblocks, block_align) uint8. Block header per the RIFF spec:
    per-channel predictor index, per-channel initial delta i16le,
    per-channel sample1 i16le, per-channel sample2 i16le (sample2 is
    the OLDER sample and is emitted first); then 4-bit signed nibbles,
    high nibble first, channels alternating per nibble."""
    nb, balign = blocks.shape

    def i16(at):
        v = (blocks[:, at] | (blocks[:, at + 1].astype(np.int32) << 8))
        return np.where(v & 0x8000, v - 0x10000, v).astype(np.int32)

    pred_idx = np.clip(blocks[:, 0:nch].astype(np.int32), 0,
                       len(coefs) - 1)
    c1 = coefs[pred_idx, 0]  # (nb, nch)
    c2 = coefs[pred_idx, 1]
    delta = np.stack([i16(nch + 2 * c) for c in range(nch)], axis=1)
    s1 = np.stack([i16(3 * nch + 2 * c) for c in range(nch)], axis=1)
    s2 = np.stack([i16(5 * nch + 2 * c) for c in range(nch)], axis=1)
    body = blocks[:, 7 * nch :]
    # high nibble first within each byte; channels alternate per nibble
    nibbles = np.stack([body >> 4, body & 0x0F], axis=-1).reshape(nb, -1)
    nsteps = nibbles.shape[1] // nch
    nibbles = nibbles[:, : nsteps * nch].reshape(nb, nsteps, nch)
    out = np.empty((nb, nsteps + 2, nch), dtype=np.int32)
    out[:, 0, :] = s2
    out[:, 1, :] = s1
    # int64 state: s*c sums overflow int32 exactly at the corner
    # (coefficients of -32768 with full-scale samples), and corrupt
    # streams can grow delta geometrically before the floor clamps it
    s1 = s1.astype(np.int64)
    s2 = s2.astype(np.int64)
    c1 = c1.astype(np.int64)
    c2 = c2.astype(np.int64)
    delta = np.clip(delta.astype(np.int64), 16, 1 << 28)
    for i in range(nsteps):
        n = nibbles[:, i, :].astype(np.int64)
        signed = np.where(n & 8, n - 16, n)
        pred = ((s1 * c1 + s2 * c2) >> 8) + signed * delta
        pred = np.clip(pred, -32768, 32767)
        s2 = s1
        s1 = pred
        delta = np.clip((_MS_ADAPT[n] * delta) >> 8, 16, 1 << 28)
        out[:, i + 2, :] = pred
    return out


def _decode_wav_adpcm(
    code: int, nch: int, rate: int, fmt_body: bytes, raw: bytes, fact,
    extensible: bool = False,
) -> tuple[np.ndarray, int] | None:
    """Block-based ADPCM data-chunk decode for ``_decode_wav``:
    Microsoft ADPCM (code 2, custom coefficient sets honored) and
    IMA/DVI ADPCM (code 0x11). Blocks are independent, so the decode
    vectorizes ACROSS blocks — the python loop is over nibbles within
    a block only.

    ``extensible`` marks a code remapped from WAVE_FORMAT_EXTENSIBLE:
    there ``fmt_body[20:22]`` is the low word of dwChannelMask, NOT a
    coefficient count, so the custom-table read is skipped and the
    standard ``_MS_COEFS`` apply."""
    if len(fmt_body) < 20:
        return None
    balign = int.from_bytes(fmt_body[12:14], "little")
    spb = int.from_bytes(fmt_body[18:20], "little")
    if code == 0x11:
        hdr_bytes = 4 * nch
        decode = lambda b: _ima_decode_blocks(b, nch)  # noqa: E731
    else:
        hdr_bytes = 7 * nch
        ncoef = int.from_bytes(fmt_body[20:22], "little") if (
            not extensible and len(fmt_body) >= 22
        ) else 0
        if ncoef and len(fmt_body) >= 22 + 4 * ncoef:
            coefs = np.frombuffer(
                fmt_body[22 : 22 + 4 * ncoef], "<i2"
            ).astype(np.int32).reshape(ncoef, 2)
        else:
            coefs = np.array(_MS_COEFS, dtype=np.int32)
        decode = lambda b: _ms_adpcm_decode_blocks(b, nch, coefs)  # noqa: E731
    if balign <= hdr_bytes or spb < 1:
        return None
    nfull = len(raw) // balign
    parts = []
    if nfull:
        blocks = np.frombuffer(
            raw[: nfull * balign], np.uint8
        ).reshape(nfull, balign)
        parts.append(decode(blocks)[:, :spb, :].reshape(-1, nch))
    tail = raw[nfull * balign :]
    if len(tail) > hdr_bytes:
        tb = np.frombuffer(tail, np.uint8).reshape(1, -1)
        parts.append(decode(tb)[0, :spb, :])
    if not parts:
        return None
    samples = np.concatenate(parts, axis=0)
    if fact:
        samples = samples[:fact]
    if len(samples) == 0:
        return None
    mono = samples.mean(axis=1).astype(np.float32) / 32768.0
    return mono, rate


def _f80(b: bytes) -> float:
    """80-bit IEEE 754 extended float (the AIFF sample-rate field):
    1 sign, 15 exponent, 64 explicit-integer-bit mantissa."""
    if len(b) < 10:
        return 0.0
    sign = -1.0 if b[0] & 0x80 else 1.0
    exp = ((b[0] & 0x7F) << 8) | b[1]
    mant = int.from_bytes(b[2:10], "big")
    if exp == 0 and mant == 0:
        return 0.0
    if exp == 0x7FFF:  # inf/nan
        return 0.0
    # corrupt exponents overflow float64 (sample rates are < 2^31;
    # anything bigger is junk and must DECLINE, not raise)
    if not 16383 - 63 <= exp <= 16383 + 63:
        return 0.0
    return sign * mant * 2.0 ** (exp - 16383 - 63)


def _decode_aiff(data: bytes) -> tuple[np.ndarray, int] | None:
    """AIFF / AIFF-C (public Apple EA-IFF-85 spec): big-endian PCM
    8/16/24/32-bit, plus the AIFF-C codings that need no codec —
    'NONE' (BE), 'sowt' (LE 16-bit), 'ulaw'/'alaw' (G.711), 'fl32'/
    'fl64' (IEEE floats). Returns the `_decode_wav` convention or
    None."""
    if (
        data is None
        or len(data) < 24
        or data[:4] != b"FORM"
        or data[8:12] not in (b"AIFF", b"AIFC")
    ):
        return None
    is_aifc = data[8:12] == b"AIFC"
    pos, comm, ssnd = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "big")
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"COMM" and len(body) >= 18:
            comp = body[18:22] if is_aifc and len(body) >= 22 else b"NONE"
            comm = (
                int.from_bytes(body[0:2], "big"),  # channels
                int.from_bytes(body[2:6], "big"),  # sample frames
                int.from_bytes(body[6:8], "big"),  # bits
                _f80(body[8:18]),
                comp,
            )
        elif cid == b"SSND" and len(body) >= 8:
            off = int.from_bytes(body[0:4], "big")
            ssnd = body[8 + off :]
        pos += 8 + size + (size & 1)  # chunks pad to even length
    if comm is None or ssnd is None:
        return None
    nch, nframes, bits, fr, comp = comm
    rate = int(round(fr))
    if nch < 1 or rate <= 0:
        return None
    if comp in (b"NONE", b"none"):
        if bits not in (8, 16, 24, 32):
            return None
        step = bits // 8
        raw = ssnd[: len(ssnd) - (len(ssnd) % step)]
        if bits == 8:
            samples = np.frombuffer(raw, np.int8).astype(
                np.float32
            ) / 128.0
        elif bits == 16:
            samples = np.frombuffer(raw, ">i2").astype(
                np.float32
            ) / 32768.0
        elif bits == 24:
            b3 = np.frombuffer(raw, np.uint8).reshape(-1, 3)
            v = (
                (b3[:, 0].astype(np.int32) << 16)
                | (b3[:, 1].astype(np.int32) << 8)
                | b3[:, 2].astype(np.int32)
            )
            v = np.where(v & 0x800000, v - (1 << 24), v)
            samples = v.astype(np.float32) / 8388608.0
        else:
            samples = (
                np.frombuffer(raw, ">i4").astype(np.float64)
                / 2147483648.0
            ).astype(np.float32)
    elif comp == b"sowt":  # little-endian 16-bit PCM (Mac convention)
        raw = ssnd[: len(ssnd) - (len(ssnd) % 2)]
        samples = np.frombuffer(raw, "<i2").astype(np.float32) / 32768.0
    elif comp in (b"ulaw", b"ULAW"):
        samples = _MULAW_TABLE[np.frombuffer(ssnd, np.uint8)]
    elif comp in (b"alaw", b"ALAW"):
        samples = _ALAW_TABLE[np.frombuffer(ssnd, np.uint8)]
    elif comp == b"fl32":
        raw = ssnd[: len(ssnd) - (len(ssnd) % 4)]
        samples = np.clip(
            np.frombuffer(raw, ">f4").astype(np.float32), -1.0, 1.0
        )
    elif comp == b"fl64":
        raw = ssnd[: len(ssnd) - (len(ssnd) % 8)]
        samples = np.clip(np.frombuffer(raw, ">f8"), -1.0, 1.0).astype(
            np.float32
        )
    else:
        return None  # a genuinely compressed AIFF-C coding
    n = (len(samples) // nch) * nch
    if n == 0:
        return None
    mono = samples[:n].reshape(-1, nch).mean(axis=1)
    if nframes:
        mono = mono[:nframes]
    return mono, rate


_AU_ENCODINGS = {
    1: ("mulaw", 1), 2: ("i1", 1), 3: (">i2", 2), 4: ("be24", 3),
    5: (">i4", 4), 6: (">f4", 4), 7: (">f8", 8), 27: ("alaw", 1),
}


def _decode_au(data: bytes) -> tuple[np.ndarray, int] | None:
    """Sun/NeXT .au/.snd (public header layout): mu-law/A-law and
    big-endian signed PCM 8/16/24/32-bit and float 32/64 — the
    coding of many older speech corpora. Returns the `_decode_wav`
    convention or None."""
    if data is None or len(data) < 28 or data[:4] != b".snd":
        return None
    off = int.from_bytes(data[4:8], "big")
    dsize = int.from_bytes(data[8:12], "big")
    enc = int.from_bytes(data[12:16], "big")
    rate = int.from_bytes(data[16:20], "big")
    nch = int.from_bytes(data[20:24], "big")
    if enc not in _AU_ENCODINGS or rate <= 0 or not 1 <= nch <= 8:
        return None
    if off < 24 or off > len(data):
        return None
    raw = data[off:]
    if dsize != 0xFFFFFFFF:  # ~0 = unknown length
        raw = raw[:dsize]
    kind, step = _AU_ENCODINGS[enc]
    raw = raw[: len(raw) - (len(raw) % step)]
    if kind == "mulaw":
        samples = _MULAW_TABLE[np.frombuffer(raw, np.uint8)]
    elif kind == "alaw":
        samples = _ALAW_TABLE[np.frombuffer(raw, np.uint8)]
    elif kind == "i1":
        samples = np.frombuffer(raw, np.int8).astype(np.float32) / 128.0
    elif kind == "be24":
        b3 = np.frombuffer(raw, np.uint8).reshape(-1, 3)
        v = (
            (b3[:, 0].astype(np.int32) << 16)
            | (b3[:, 1].astype(np.int32) << 8)
            | b3[:, 2].astype(np.int32)
        )
        v = np.where(v & 0x800000, v - (1 << 24), v)
        samples = v.astype(np.float32) / 8388608.0
    elif kind == ">i2":
        samples = np.frombuffer(raw, ">i2").astype(np.float32) / 32768.0
    elif kind == ">i4":
        samples = (
            np.frombuffer(raw, ">i4").astype(np.float64) / 2147483648.0
        ).astype(np.float32)
    else:
        samples = np.clip(
            np.frombuffer(raw, kind).astype(np.float32), -1.0, 1.0
        )
    n = (len(samples) // nch) * nch
    if n == 0:
        return None
    return samples[:n].reshape(-1, nch).mean(axis=1), rate


def _decode_wav(data: bytes) -> tuple[np.ndarray, int] | None:
    """Pure-python decode of RIFF/WAVE (public RIFF + G.711 + IMA
    specs) — PCM (code 1: 8/16/24-bit), IEEE float (code 3: 32/64-bit),
    A-law (code 6), mu-law (code 7), Microsoft ADPCM (code 2) and IMA/
    DVI ADPCM (code 0x11), plus WAVE_FORMAT_EXTENSIBLE (0xFFFE, real
    code from the subformat GUID), any channel count: returns ``(mono
    float32 samples in [-1, 1], sample_rate)`` or None when the
    payload is not such a WAV. Channels are mixed down by mean.
    """
    if data is None or len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos, fmt, raw, fmt_body, fact = 12, None, None, b"", None
    extensible = False
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            code = int.from_bytes(body[0:2], "little")
            if code == 0xFFFE and len(body) >= 26:
                # EXTENSIBLE: the real code leads the subformat GUID
                code = int.from_bytes(body[24:26], "little")
                extensible = True
            fmt_body = body
            fmt = (
                code,
                int.from_bytes(body[2:4], "little"),  # channels
                int.from_bytes(body[4:8], "little"),  # sample rate
                int.from_bytes(body[14:16], "little"),  # bits/sample
            )
        elif cid == b"fact" and len(body) >= 4:
            fact = int.from_bytes(body[0:4], "little")
        elif cid == b"data":
            raw = body
        pos += 8 + size + (size & 1)  # chunks pad to even length
    if fmt is None or raw is None:
        return None
    code, nch, rate, bits = fmt
    if code in (2, 0x11):
        if bits != 4 or nch < 1 or nch > 8 or rate <= 0:
            return None
        return _decode_wav_adpcm(
            code, nch, rate, fmt_body, raw, fact, extensible=extensible
        )
    ok = (
        (code == 1 and bits in (8, 16, 24))
        or (code == 3 and bits in (32, 64))
        or (code in (6, 7) and bits == 8)
    )
    if not ok or nch < 1 or rate <= 0:
        return None
    # a truncated data chunk may end mid-sample — trim, don't crash
    bstep = bits // 8
    raw = raw[: len(raw) - (len(raw) % bstep)]
    if code == 7:
        samples = _MULAW_TABLE[np.frombuffer(raw, np.uint8)]
    elif code == 6:
        samples = _ALAW_TABLE[np.frombuffer(raw, np.uint8)]
    elif code == 3:
        dt = "<f4" if bits == 32 else "<f8"
        samples = np.clip(
            np.frombuffer(raw, dt).astype(np.float32), -1.0, 1.0
        )
    elif bits == 16:
        samples = np.frombuffer(raw, "<i2").astype(np.float32) / 32768.0
    elif bits == 24:
        b3 = np.frombuffer(raw, np.uint8).reshape(-1, 3)
        v = (
            b3[:, 0].astype(np.int32)
            | (b3[:, 1].astype(np.int32) << 8)
            | (b3[:, 2].astype(np.int32) << 16)
        )
        v = np.where(v & 0x800000, v - (1 << 24), v)
        samples = v.astype(np.float32) / 8388608.0
    else:
        samples = (np.frombuffer(raw, np.uint8).astype(np.float32) - 128.0) / 128.0
    n = (len(samples) // nch) * nch
    if n == 0:
        return None
    mono = samples[:n].reshape(-1, nch).mean(axis=1)
    return mono, rate


# --- MPEG audio (mp3) frame-header metadata — NO PCM decode ---------
# ISO/IEC 11172-3 frame-header layout (public spec). Walking the
# frame chain gives duration/bitrate/rate/channels for both CBR and
# VBR files without a codec library, which is all crawl-audio triage
# (dedup by duration+digest, sampling, stats) needs; the PCM decode
# itself stays honestly gated.

# bitrate tables in kbps, indexed [version-group][layer][idx];
# version-group 0 = MPEG1, 1 = MPEG2/2.5
_MP3_BITRATES = {
    (0, 1): (0, 32, 64, 96, 128, 160, 192, 224,
             256, 288, 320, 352, 384, 416, 448),
    (0, 2): (0, 32, 48, 56, 64, 80, 96, 112,
             128, 160, 192, 224, 256, 320, 384),
    (0, 3): (0, 32, 40, 48, 56, 64, 80, 96,
             112, 128, 160, 192, 224, 256, 320),
    (1, 1): (0, 32, 48, 56, 64, 80, 96, 112,
             128, 144, 160, 176, 192, 224, 256),
    (1, 2): (0, 8, 16, 24, 32, 40, 48, 56,
             64, 80, 96, 112, 128, 144, 160),
    (1, 3): (0, 8, 16, 24, 32, 40, 48, 56,
             64, 80, 96, 112, 128, 144, 160),
}
# sample-rate tables by version bits (00=MPEG2.5, 10=MPEG2, 11=MPEG1)
_MP3_RATES = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}


def _mp3_parse_header(data: bytes, p: int):
    """Parse one MPEG audio frame header at offset ``p``. Returns
    ``(frame_bytes, samples_per_frame, sample_rate, channels)`` or
    None if the 4 bytes are not a valid header."""
    if p + 4 > len(data) or data[p] != 0xFF or (data[p + 1] & 0xE0) != 0xE0:
        return None
    ver_bits = (data[p + 1] >> 3) & 3  # 0=2.5, 1=resv, 2=MPEG2, 3=MPEG1
    layer_bits = (data[p + 1] >> 1) & 3  # 0=resv, 1=III, 2=II, 3=I
    if ver_bits == 1 or layer_bits == 0:
        return None
    layer = 4 - layer_bits  # 1, 2, 3
    br_idx = (data[p + 2] >> 4) & 15
    sr_idx = (data[p + 2] >> 2) & 3
    if br_idx in (0, 15) or sr_idx == 3:  # free-format / invalid
        return None
    vgroup = 0 if ver_bits == 3 else 1
    bitrate = _MP3_BITRATES[(vgroup, layer)][br_idx] * 1000
    rate = _MP3_RATES[ver_bits][sr_idx]
    padding = (data[p + 2] >> 1) & 1
    channels = 1 if ((data[p + 3] >> 6) & 3) == 3 else 2
    if layer == 1:
        spf = 384
        frame = (12 * bitrate // rate + padding) * 4
    else:
        # Layer III halves the frame at MPEG2/2.5 (576 samples)
        spf = 1152 if (layer == 2 or vgroup == 0) else 576
        frame = spf // 8 * bitrate // rate + padding
    if frame < 4:
        return None
    return frame, spf, rate, channels, bitrate


def _mp3_metadata(data: bytes) -> tuple[int, int, int, int, int] | None:
    """Walk the MPEG audio frame chain: returns ``(sample_rate,
    channels, n_frames, n_samples, bitrate_bps_avg)`` or None when the
    payload is not MPEG audio. Requires >= 2 chained valid frames so a
    random 0xFFEx byte pair can't false-sync; skips a leading ID3v2
    tag (syncsafe size) and tolerates trailing junk / ID3v1 'TAG'."""
    if data is None or len(data) < 8:
        return None
    p = 0
    if data[:3] == b"ID3" and len(data) > 10:
        size = (
            (data[6] & 0x7F) << 21
            | (data[7] & 0x7F) << 14
            | (data[8] & 0x7F) << 7
            | (data[9] & 0x7F)
        )
        p = 10 + size
    first = _mp3_parse_header(data, p)
    if first is None:
        return None
    n_frames = 0
    n_samples = 0
    bit_sum = 0
    rate, channels = first[2], first[3]
    while True:
        got = _mp3_parse_header(data, p)
        if got is None:
            break
        frame, spf, r, ch, br = got
        if r != rate:  # rate can't change mid-stream in real files
            break
        n_frames += 1
        n_samples += spf
        bit_sum += br
        p += frame
        if p >= len(data):
            break
    if n_frames < 2:
        return None
    return rate, channels, n_frames, n_samples, bit_sum // n_frames


def _mp3_meta_uniform(data: bytes):
    got = _mp3_metadata(data)
    if got is None:
        return None
    rate, channels, _n_frames, n_samples, _bps = got
    return rate, channels, n_samples


def _flac_metadata(data: bytes):
    """FLAC STREAMINFO parse (the mandatory first metadata block of
    the public FLAC format): ``(sample_rate, channels, n_samples)``
    without decoding any audio frames. Tolerates the crawl-common
    non-standard leading ID3v2 tag before the marker."""
    if data is None or len(data) < 42:
        return None
    if data[:3] == b"ID3":
        from .flac import _skip_id3v2

        data = _skip_id3v2(data)
    if len(data) < 42 or data[:4] != b"fLaC":
        return None
    p = 4
    while p + 4 <= len(data):
        hdr = data[p]
        size = int.from_bytes(data[p + 1 : p + 4], "big")
        if (hdr & 0x7F) == 0:  # STREAMINFO
            block = data[p + 4 : p + 4 + size]
            if len(block) < 18:
                return None
            v = int.from_bytes(block[10:18], "big")
            rate = v >> 44
            channels = ((v >> 41) & 7) + 1
            total = v & ((1 << 36) - 1)
            if rate == 0:
                return None
            # total == 0 is the spec's UNKNOWN-length sentinel
            # (streamed/live captures): report NULL samples, not a
            # fake 0 ms duration
            return rate, channels, (total if total else None)
        if hdr & 0x80:  # last-block flag and no STREAMINFO seen
            return None
        p += 4 + size
    return None


def _ogg_metadata(data: bytes):
    """Ogg container parse (RFC 3533 pages) for Vorbis and Opus
    streams: sample rate and channels from the identification packet
    on the first page, duration from the LAST page's granule position
    (PCM sample count for Vorbis; 48 kHz ticks minus pre-skip for
    Opus). No audio decode."""
    if data is None or len(data) < 58 or data[:4] != b"OggS":
        return None
    nseg = data[26]
    body = data[27 + nseg :]
    if body.startswith(b"\x01vorbis") and len(body) >= 16:
        channels = body[11]
        rate = int.from_bytes(body[12:16], "little")
        pre_skip = 0
    elif body.startswith(b"OpusHead") and len(body) >= 12:
        channels = body[9]
        pre_skip = int.from_bytes(body[10:12], "little")
        rate = 48000  # Opus always decodes at 48 kHz
    elif body.startswith(b"\x7fFLAC") and len(body) >= 35 and body[
        9:13
    ] == b"fLaC":
        # FLAC-to-Ogg mapping: the native STREAMINFO sits at byte 17
        # of the first packet (after 'fLaC' + 4-byte block header);
        # its packed rate/channels field is 10 bytes in
        v = int.from_bytes(body[27:35], "big")
        rate = v >> 44
        channels = ((v >> 41) & 7) + 1
        pre_skip = 0
    else:
        return None
    if rate == 0 or channels == 0:
        return None
    # find the last VALID page header: 'OggS' can occur inside
    # compressed packet bytes, so require the version-0 byte and a
    # complete 27-byte header before trusting a granule
    end = len(data)
    last = -1
    while True:
        last = data.rfind(b"OggS", 0, end)
        if last < 0:
            return None
        if last + 27 <= len(data) and data[last + 4] == 0:
            break
        end = last
    granule = int.from_bytes(data[last + 6 : last + 14], "little")
    if granule >= (1 << 62):  # -1 marker / corrupt
        return None
    n_samples = max(0, granule - pre_skip)
    return rate, channels, n_samples


def _decode_ico(data: bytes) -> np.ndarray | None:
    """ICO/CUR (the public Windows icon layout, the favicon format):
    picks the largest directory entry and decodes it — embedded PNG
    via ``decode_png_native``, or a headerless DIB (BITMAPINFOHEADER
    with doubled height for the AND mask) at 32-bit BGRA (alpha
    dropped), 24-bit BGR, or 8/4/1-bit palette. Returns (h, w, 3)
    uint8 or None."""
    if data is None or len(data) < 22:
        return None
    if data[0:2] != b"\x00\x00" or data[2:4] not in (
        b"\x01\x00", b"\x02\x00"
    ):
        return None
    count = int.from_bytes(data[4:6], "little")
    if not 1 <= count <= 64 or 6 + 16 * count > len(data):
        return None
    best = None
    for i in range(count):
        e = 6 + 16 * i
        w = data[e] or 256
        h = data[e + 1] or 256
        size = int.from_bytes(data[e + 8 : e + 12], "little")
        off = int.from_bytes(data[e + 12 : e + 16], "little")
        if off + size > len(data) or size < 8:
            continue
        if best is None or w * h > best[0] * best[1]:
            best = (w, h, off, size)
    if best is None:
        return None
    w, h, off, size = best
    img = data[off : off + size]
    if img[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_native(img)
    # headerless DIB: BITMAPINFOHEADER, height covers XOR + AND masks
    if len(img) < 40 or int.from_bytes(img[0:4], "little") != 40:
        return None
    bw = int.from_bytes(img[4:8], "little", signed=True)
    bh = int.from_bytes(img[8:12], "little", signed=True) // 2
    bpp = int.from_bytes(img[14:16], "little")
    comp = int.from_bytes(img[16:20], "little")
    nclr = int.from_bytes(img[32:36], "little")
    if comp != 0 or bw != w or bh != h or bpp not in (1, 4, 8, 24, 32):
        return None
    if w * h * 3 > _MAX_SAMPLES:
        return None
    pal = None
    at = 40
    if bpp <= 8:
        ncolors = nclr or (1 << bpp)
        pal_raw = img[at : at + 4 * ncolors]
        if len(pal_raw) < 4 * ncolors:  # truncated DIB palette
            return None
        pal = np.frombuffer(pal_raw, np.uint8).reshape(-1, 4)
        at += 4 * ncolors
    stride = ((w * bpp + 31) // 32) * 4
    need = stride * h
    if at + need > len(img):
        return None
    rows = np.frombuffer(img[at : at + need], np.uint8).reshape(
        h, stride
    )[::-1]  # bottom-up
    if bpp == 32:
        px = rows.reshape(h, stride // 4, 4)[:, :w, :]
        return px[:, :, [2, 1, 0]].copy()  # BGRA -> RGB
    if bpp == 24:
        px = rows[:, : w * 3].reshape(h, w, 3)
        return px[:, :, ::-1].copy()
    if bpp == 8:
        idx = rows[:, :w]
    else:
        bits_row = np.unpackbits(rows, axis=1)
        if bpp == 1:
            idx = bits_row[:, :w]
        else:  # 4-bit: regroup nibbles
            nib = bits_row.reshape(h, -1, 4)
            idx = (
                nib[:, :, 0] * 8 + nib[:, :, 1] * 4
                + nib[:, :, 2] * 2 + nib[:, :, 3]
            )[:, :w]
    if pal is None or idx.max() >= len(pal):
        return None
    return pal[idx][:, :, [2, 1, 0]].copy()  # palette is BGRX


def _tiff_ifd(data: bytes):
    """Parse the first IFD: returns (tags dict, byteorder) or None.
    Array values resolve through their offsets; value types byte/
    short/long only (what the baseline tags use)."""
    if len(data) < 8 or data[:2] not in (b"II", b"MM"):
        return None
    bo = "<" if data[:2] == b"II" else ">"
    import struct as _struct

    if _struct.unpack(bo + "H", data[2:4])[0] != 42:
        return None
    ifd_at = _struct.unpack(bo + "I", data[4:8])[0]
    if ifd_at + 2 > len(data):
        return None
    count = _struct.unpack(bo + "H", data[ifd_at : ifd_at + 2])[0]
    if count > 4096:
        return None
    sizes = {1: 1, 3: 2, 4: 4}
    fmts = {1: "B", 3: "H", 4: "I"}
    tags = {}
    for i in range(count):
        e = ifd_at + 2 + 12 * i
        if e + 12 > len(data):
            return None
        tag, typ, cnt = _struct.unpack(bo + "HHI", data[e : e + 8])
        if typ not in sizes or cnt == 0 or cnt > 1_000_000:
            continue
        total = sizes[typ] * cnt
        if total <= 4:
            raw = data[e + 8 : e + 8 + total]
        else:
            off = _struct.unpack(bo + "I", data[e + 8 : e + 12])[0]
            if off + total > len(data):
                return None
            raw = data[off : off + total]
        vals = _struct.unpack(bo + str(cnt) + fmts[typ], raw)
        tags[tag] = vals
    return tags, bo


# ---------------------------------------------------------------------------
# Decode ladders — the single source of truth for which formats decode
# with a REAL built-in codec. The decode loops iterate these tables and
# the require_real_codec gate messages are generated from them, so the
# gate text can never drift from actual coverage again (round-11 bug:
# the hand-written message still claimed PNG/BMP/PNM-only after the
# JPEG/GIF/16-bit-PNG decoders landed).
# ---------------------------------------------------------------------------

# (decoder column value, decode fn, human-readable coverage) in attempt
# order. Each fn takes bytes and returns an (h, w, 3) uint8 array or
# None to pass the payload down the ladder. These are the formats no
# system codec covers; PNG/GIF/JPEG/WebP/TIFF/AVIF/HEIC/SVG decode
# through ``native_image_ladder()`` ahead of them.
_IMAGE_LADDER: tuple = (
    ("bmp", _decode_bmp, "uncompressed 24-bit BMP"),
    ("pnm", _decode_pnm, "binary PGM/PPM"),
    ("ico", _decode_ico,
     "ICO/CUR favicons: largest entry, embedded PNG or 1/4/8/24/"
     "32-bit DIB"),
)


def _decode_flac_safe(data: bytes):
    """Ladder wrapper for the native FLAC frame decoder
    (``pipeline/flac.py``, RFC 9639): full PCM — constant/verbatim/
    fixed/LPC subframes, Rice and Rice2 residuals incl. escape
    partitions, all stereo decorrelations, wasted bits, CRC-verified.
    Bit-exact round-trips against the independently written encoder
    twin in tests/test_flac.py. Malformed payloads (or metadata-only
    shells with no frames) return None and fall to the flac-meta
    tier."""
    from .flac import decode_flac

    return decode_flac(data)


# audio twin: fn returns (mono float array, rate) or None
_AUDIO_LADDER: tuple = (
    ("wav", _decode_wav,
     "RIFF/WAVE PCM 8/16/24-bit, IEEE float, G.711 mu-law/A-law, "
     "IMA + Microsoft ADPCM, EXTENSIBLE"),
    ("flac", _decode_flac_safe,
     "FLAC native frames (RFC 9639): fixed + LPC prediction, "
     "Rice/Rice2 residuals incl. escapes, left/right/mid-side "
     "decorrelation, wasted bits, 8-32 bit, CRC-verified; also "
     "ID3v2-prefixed files and FLAC-in-Ogg (.oga)"),
    ("aiff", _decode_aiff,
     "AIFF/AIFF-C big-endian PCM 8/16/24/32-bit, sowt, G.711 "
     "ulaw/alaw, fl32/fl64"),
    ("au", _decode_au,
     "Sun/NeXT .au mu-law/A-law + big-endian PCM 8-32-bit and "
     "float 32/64"),
)

# metadata-only tier: real container parse, no PCM — each fn returns
# (sample_rate, channels, n_samples) or None; the decoder column gets
# the tier name so decoder_report separates it from both real decodes
# and the digest stub
_AUDIO_META_LADDER: tuple = (
    ("mp3-meta", _mp3_meta_uniform,
     "MPEG audio (mp3) frame headers: duration/bitrate/sample-rate/"
     "channels, no PCM"),
    ("flac-meta", _flac_metadata,
     "FLAC STREAMINFO: sample-rate/channels/total-samples, no PCM"),
    ("ogg-meta", _ogg_metadata,
     "Ogg Vorbis/Opus/FLAC pages: rate/channels from the ident "
     "packet, duration from the last granule, no PCM"),
)


def _ladder_coverage(ladder) -> str:
    return "; ".join(desc for _, _, desc in ladder)


def _image_ladder() -> tuple:
    """The decode-attempt sequence: the system C codecs whose shared
    libraries load here (``native_codecs.py``), then the pure-python
    decoders for the formats no system codec covers."""
    return native_image_ladder() + _IMAGE_LADDER


def _decode_via_ladder(p: bytes) -> tuple[np.ndarray | None, str | None]:
    """Run ``p`` down the ladder; (pixels, tier-name) or (None, None).
    Every decoder call is exception-guarded — one corrupt payload must
    never crash a task."""
    for name, dec, _ in _image_ladder():
        try:
            arr = dec(p)
        except Exception:  # noqa: BLE001 - fall down the ladder
            arr = None
        if arr is not None:
            return arr, name
    return None, None


def resample_pcm(
    mono: np.ndarray, src_rate: int, dst_rate: int
) -> np.ndarray:
    """Band-limited sample-rate conversion of a mono float signal:
    rfft -> truncate/zero-pad the spectrum -> irfft, with amplitude
    rescale. Exact for band-limited content (a full-period sine
    round-trips to float precision), properly ANTI-ALIASED on
    downsample — the aliasing linear interpolation would introduce is
    precisely what a training corpus must not bake in. O(n log n) per
    payload, row-local."""
    if src_rate == dst_rate or len(mono) == 0:
        return np.asarray(mono, np.float32)
    n = len(mono)
    m = max(1, int(round(n * dst_rate / src_rate)))
    spec = np.fft.rfft(np.asarray(mono, np.float64))
    out_bins = m // 2 + 1
    new = np.zeros(out_bins, dtype=complex)
    k = min(len(spec), out_bins)
    new[:k] = spec[:k]
    out = np.fft.irfft(new, m) * (m / n)
    return out.astype(np.float32)


def encode_wav_pcm16(mono: np.ndarray, rate: int) -> bytes:
    """Minimal RIFF/WAVE writer: mono 16-bit PCM — the interchange
    format every trainer/loader reads, decodable by this module's own
    ``_decode_wav`` (round-trip tested)."""
    import struct as _struct

    x = np.asarray(mono, np.float64)
    # *32768 then clamp: matches _decode_wav's /32768 convention, so
    # round-trips err by at most half an LSB
    pcm = np.clip(
        np.round(x * 32768.0), -32768, 32767
    ).astype("<i2").tobytes()
    fmt = _struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(pcm).to_bytes(4, "little") + pcm
    if len(pcm) % 2:
        chunks += b"\x00"
    return (
        b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE"
        + chunks
    )


def audio_resample(
    df: DataFrame,
    payload_col: str = "payload",
    target_rate: int = 16000,
) -> DataFrame:
    """Normalize every audio payload to mono ``target_rate`` PCM16 WAV
    — the audio analog of ``image_thumbnail`` and the prep step ASR/
    audio-LM training needs (uniform sample rate, uniform container).
    Decode through the real-PCM ladder (WAV incl. ADPCM/G.711, FLAC,
    AIFF, au), band-limited FFT resample, re-encode with the stdlib
    writer. Undecodable payloads (or metadata-only formats — mp3/ogg
    have no PCM tier) get NULL output and the ``stub`` marker.

    Appended: ``audio_payload`` (binary WAV), ``audio_rate`` (int),
    ``audio_n_samples`` (long), ``decoder`` (string). One
    Arrow-batched ``mapInPandas``; payloads never shuffle."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("audio_payload", T.BinaryType()),
            T.StructField("audio_rate", T.IntegerType()),
            T.StructField("audio_n_samples", T.LongType()),
            T.StructField("decoder", T.StringType()),
        ]
    )

    def one(p):
        p = p if p is not None else b""
        for name, dec, _ in _AUDIO_LADDER:
            try:
                got = dec(p)
            except Exception:  # noqa: BLE001 - fall down the ladder
                got = None
            if got is not None:
                mono, rate = got
                if rate <= 0 or len(mono) == 0:
                    continue
                out = resample_pcm(mono, int(rate), target_rate)
                return (
                    encode_wav_pcm16(out, target_rate),
                    target_rate,
                    len(out),
                    name,
                )
        return None, None, None, "stub"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            got = [one(p) for p in pdf[payload_col]]
            pdf["audio_payload"] = [g[0] for g in got]
            pdf["audio_rate"] = [g[1] for g in got]
            pdf["audio_n_samples"] = [g[2] for g in got]
            pdf["decoder"] = [g[3] for g in got]
            yield pdf

    return df.mapInPandas(run, out_schema)


def decode_audio_features(
    df: DataFrame,
    payload_col: str = "payload",
    require_real_codec: bool = False,
) -> DataFrame:
    """Attach audio signal features. Decode ladder per row: REAL PCM
    decodes first — the built-in pure-python RIFF/WAVE parser (PCM
    8/16/24-bit, IEEE float, G.711 mu-law/A-law, EXTENSIBLE; 'wav'),
    then the native FLAC frame decoder (``pipeline/flac.py``, RFC
    9639 — fixed/LPC prediction, Rice residuals, stereo
    decorrelation, CRC-verified; 'flac') — both give real
    rate/duration/RMS/zero-crossing/peak with no dependency; else
    the METADATA tiers — mp3 frame-header walk ('mp3-meta'), FLAC
    STREAMINFO for frame-less or oversized/corrupt files
    ('flac-meta'), Ogg Vorbis/Opus page parse ('ogg-meta') — REAL
    sample_rate/n_samples/duration from the container, but
    rms/zcr/peak stay NULL because signal stats need PCM; enough for
    crawl-audio triage: dedup by duration+digest, sampling, stats;
    else the deterministic digest fake ('stub-sha256'). The
    ``decoder`` column records which path each row took.

    Appended columns: sample_rate (int), n_samples (long),
    audio_duration_ms (long), rms (double), zcr (double — fraction of
    sign changes), peak (double), decoder (string).

    ``require_real_codec=True`` raises: the remaining compressed
    formats (mp3, ogg) need a codec library that is not installed
    here.
    """
    if require_real_codec:
        raise NotImplementedError(
            "general audio decoding needs a codec library not installed "
            "here (formats that decode without one: "
            f"{_ladder_coverage(_AUDIO_LADDER)}; metadata-only: "
            f"{_ladder_coverage(_AUDIO_META_LADDER)})"
        )
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("audio_duration_ms", T.LongType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("zcr", T.DoubleType()),
            T.StructField("peak", T.DoubleType()),
            T.StructField("decoder", T.StringType()),
        ]
    )

    def decode_one(p: bytes | None):
        for codec, fn, _ in _AUDIO_LADDER:
            try:
                got = fn(p)
            except Exception:  # noqa: BLE001 - any dirty payload -> next
                got = None
            if got is None:
                continue
            mono, rate = got
            m64 = mono.astype(np.float64)  # stats in f64: f32 sums drift
            n = len(m64)
            signs = np.signbit(m64)
            zc = int(np.count_nonzero(signs[1:] != signs[:-1]))
            return (
                rate,
                n,
                int(n * 1000 / rate),
                float(np.sqrt(np.mean(m64 * m64))),
                float(zc / max(n - 1, 1)),
                float(np.max(np.abs(m64))),
                codec,
            )
        for tier, meta_fn, _ in _AUDIO_META_LADDER:
            try:
                meta = meta_fn(p)
            except Exception:  # noqa: BLE001 - dirty payload -> next
                meta = None
            if meta is not None:
                # metadata-only tier: real rate/duration from the
                # container, but signal stats need PCM — they stay
                # NULL so a consumer can't mistake them for
                # measurements
                rate, _channels, n_samples = meta
                return (
                    rate,
                    n_samples,
                    # n_samples None = container says UNKNOWN length
                    (int(n_samples * 1000 / rate)
                     if n_samples is not None else None),
                    None,
                    None,
                    None,
                    tier,
                )
        fake = _fake_decode(p or b"", 4)
        return (
            0,
            0,
            0,
            float(abs(fake[0])),
            float(abs(fake[1])) % 1.0,
            float(abs(fake[2])),
            "stub-sha256",
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "sample_rate",
            "n_samples",
            "audio_duration_ms",
            "rms",
            "zcr",
            "peak",
            "decoder",
        ]
        for pdf in batches:
            decoded = [decode_one(p) for p in pdf[payload_col]]
            for i, c in enumerate(cols):
                pdf[c] = [d[i] for d in decoded]
            yield pdf

    return df.mapInPandas(run, out_schema)


def _spectral_stats(
    mono: np.ndarray,
    rate: int,
    n_fft: int,
    hop: int,
    n_bands: int,
    rolloff_frac: float,
) -> tuple[float, float, float, float, list[float]]:
    """Frame-averaged spectral features of a mono signal: Hann-window
    power spectra per frame, then centroid / bandwidth / rolloff /
    flatness (the librosa-standard definitions, computed directly
    from the numpy spectra) and ``n_bands`` geometrically-spaced
    band log-energies (a mel-like coarse spectrum)."""
    x = mono.astype(np.float64)
    if len(x) < n_fft:
        x = np.pad(x, (0, n_fft - len(x)))
    n_frames = 1 + (len(x) - n_fft) // hop
    idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
    frames = x[idx] * np.hanning(n_fft)[None, :]
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    freqs = np.fft.rfftfreq(n_fft, d=1.0 / rate)
    ptot = power.sum(axis=1)
    ok = ptot > 0
    if not ok.any():
        return 0.0, 0.0, 0.0, 1.0, [0.0] * n_bands
    p = power[ok]
    pt = ptot[ok]
    centroid = (p * freqs[None, :]).sum(axis=1) / pt
    bandwidth = np.sqrt(
        (p * (freqs[None, :] - centroid[:, None]) ** 2).sum(axis=1) / pt
    )
    cum = np.cumsum(p, axis=1)
    roll_idx = np.argmax(
        cum >= rolloff_frac * pt[:, None], axis=1
    )
    rolloff = freqs[roll_idx]
    # flatness: geometric/arithmetic mean of the power spectrum
    flat = np.exp(np.mean(np.log(p + 1e-12), axis=1)) / (
        np.mean(p, axis=1) + 1e-12
    )
    # geometric band edges from 50 Hz to Nyquist; band energy in log1p
    edges = np.geomspace(50.0, rate / 2.0, n_bands + 1)
    band = np.digitize(freqs, edges) - 1
    energies = []
    for b in range(n_bands):
        sel = band == b
        energies.append(
            float(np.log1p(p[:, sel].sum(axis=1).mean())) if sel.any()
            else 0.0
        )
    return (
        float(centroid.mean()),
        float(bandwidth.mean()),
        float(rolloff.mean()),
        float(flat.mean()),
        energies,
    )


def audio_spectral_features(
    df: DataFrame,
    payload_col: str = "payload",
    n_fft: int = 1024,
    hop: int = 512,
    n_bands: int = 16,
    rolloff_frac: float = 0.85,
) -> DataFrame:
    """Attach framewise spectral features — the audio analogue of the
    image block-grid features, for quality gating and coarse
    similarity over an audio corpus: ``spectral_centroid`` /
    ``spectral_bandwidth`` / ``spectral_rolloff`` (Hz),
    ``spectral_flatness`` (0 = pure tone, →1 = white noise) and
    ``band_energies`` (``n_bands`` geometric-band log-energies, a
    mel-like coarse spectrum usable as an embedding).

    Decode ladder per row as in ``decode_audio_features``: the real
    PCM decoders — RIFF/WAVE ('wav') and native FLAC ('flac') — with
    genuine numpy FFT frames, else the deterministic digest stub
    ('stub-sha256', zero features). Arrow-batched ``mapInPandas`` —
    the FFT is numpy C per batch, the payload bytes never shuffle
    (the operator appends columns in place)."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("spectral_centroid", T.DoubleType()),
            T.StructField("spectral_bandwidth", T.DoubleType()),
            T.StructField("spectral_rolloff", T.DoubleType()),
            T.StructField("spectral_flatness", T.DoubleType()),
            T.StructField("band_energies", T.ArrayType(T.DoubleType())),
            T.StructField("decoder", T.StringType()),
        ]
    )

    def one(p: bytes | None):
        for codec, fn, _ in _AUDIO_LADDER:
            try:
                got = fn(p)
            except Exception:  # noqa: BLE001 - any dirty payload -> next
                got = None
            if got is None:
                continue
            mono, rate = got
            c, b, r, f, e = _spectral_stats(
                mono, rate, n_fft, hop, n_bands, rolloff_frac
            )
            return (c, b, r, f, e, codec)
        return (0.0, 0.0, 0.0, 0.0, [0.0] * n_bands, "stub-sha256")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "spectral_centroid",
            "spectral_bandwidth",
            "spectral_rolloff",
            "spectral_flatness",
            "band_energies",
            "decoder",
        ]
        for pdf in batches:
            decoded = [one(p) for p in pdf[payload_col]]
            for i, c in enumerate(cols):
                pdf[c] = [d[i] for d in decoded]
            yield pdf

    return df.mapInPandas(run, out_schema)


def decode_image_features(
    df: DataFrame,
    payload_col: str = "payload",
    feature_dim: int = 64,
    require_real_codec: bool = False,
) -> DataFrame:
    """Attach an image feature vector column.

    Decode ladder, per row: PIL when installed ('pil'); else the
    system C codecs via ctypes where their libraries load
    ('png-native', 'gif-native', 'jpeg-native', 'webp-native',
    'tiff-native', 'avif-native', 'heic-native', 'svg-native' — see
    ``native_codecs.py``); else the pure-python parsers for the
    formats no system codec covers — 24-bit BMP ('bmp'), binary
    PGM/PPM ('pnm') and ICO/CUR favicons ('ico') — all real
    channel-mean/block-grid features over the actual pixels; else the
    deterministic digest fake ('stub-sha256').
    The ``decoder`` column records which path each row took;
    ``decoder_report`` turns it into the per-format real-vs-stub
    ledger for the dataset card.

    ``require_real_codec=True`` keeps the strict contract: formats
    outside the ladder would silently stub, so it raises unless PIL is
    importable.
    """
    if require_real_codec and not _HAVE_PIL:
        raise NotImplementedError(
            "general image decoding requires PIL, which is not installed "
            "here (formats that decode without it: "
            f"{_ladder_coverage(_image_ladder())})"
        )
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("features", T.ArrayType(T.FloatType())),
            T.StructField("decoder", T.StringType()),
        ]
    )

    def decode_one(p: bytes | None) -> tuple[list[float], str]:
        p = p if p is not None else b""
        if _HAVE_PIL:  # pragma: no cover - not present in this image
            import io

            try:
                img = np.asarray(Image.open(io.BytesIO(p)).convert("RGB"))
                return _pixel_features(img, feature_dim).tolist(), "pil"
            except Exception:  # noqa: BLE001 - fall through the ladder
                pass
        arr, name = _decode_via_ladder(p)
        if arr is not None:
            return _pixel_features(arr, feature_dim).tolist(), name
        return _fake_decode(p, feature_dim).tolist(), "stub-sha256"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode_one(p) for p in pdf[payload_col]]
            pdf["features"] = [f for f, _ in decoded]
            pdf["decoder"] = [d for _, d in decoded]
            yield pdf

    return df.mapInPandas(run, out_schema)


def _mp4_boxes(data: bytes, start: int, end: int):
    """Yield ``(box_type, payload_start, payload_end)`` for the
    ISO-BMFF boxes in ``data[start:end]``."""
    p = start
    while p + 8 <= end:
        size = int.from_bytes(data[p : p + 4], "big")
        btype = data[p + 4 : p + 8]
        body_at = p + 8
        if size == 1:  # 64-bit largesize
            if p + 16 > end:
                return
            size = int.from_bytes(data[p + 8 : p + 16], "big")
            body_at = p + 16
        elif size == 0:  # box extends to EOF
            size = end - p
        if size < 8 or p + size > end:
            return
        yield btype, body_at, p + size
        p += size


def _mp4_metadata(data: bytes | None):
    """ISO-BMFF (mp4/mov/m4a/3gp) metadata without any codec:
    ``(duration_ms, width, height, has_video, has_audio)`` from the
    moov/mvhd, trak/tkhd, and trak/mdia/hdlr boxes. Returns None when
    the payload is not BMFF (no ftyp/moov structure)."""
    if data is None or len(data) < 16:
        return None
    top = list(_mp4_boxes(data, 0, len(data)))
    if not top or top[0][0] != b"ftyp":
        return None
    # NULL, not fake 0: a missing mvhd or zero timescale means the
    # container does not state a duration (fragmented mp4, live), and
    # a consumer must be able to tell that from a genuine 0-length
    # clip — same posture as the FLAC n_samples==0 sentinel.
    duration_ms = None
    width = height = 0
    has_video = has_audio = False
    for btype, b0, b1 in top:
        if btype != b"moov":
            continue
        for ctype, c0, c1 in _mp4_boxes(data, b0, b1):
            if ctype == b"mvhd" and c1 - c0 >= 20:
                ver = data[c0]
                if ver == 1 and c1 - c0 >= 32:
                    scale = int.from_bytes(data[c0 + 20 : c0 + 24], "big")
                    dur = int.from_bytes(data[c0 + 24 : c0 + 32], "big")
                else:
                    scale = int.from_bytes(data[c0 + 12 : c0 + 16], "big")
                    dur = int.from_bytes(data[c0 + 16 : c0 + 20], "big")
                if scale:
                    duration_ms = dur * 1000 // scale
            elif ctype == b"trak":
                for ttype, t0, t1 in _mp4_boxes(data, c0, c1):
                    if ttype == b"tkhd":
                        ver = data[t0]
                        off = 88 if ver == 1 else 76
                        if t1 - t0 >= off + 8:
                            w = int.from_bytes(
                                data[t0 + off : t0 + off + 4], "big"
                            ) >> 16  # 16.16 fixed point
                            h = int.from_bytes(
                                data[t0 + off + 4 : t0 + off + 8], "big"
                            ) >> 16
                            width = max(width, w)
                            height = max(height, h)
                    elif ttype == b"mdia":
                        for mtype, m0, m1 in _mp4_boxes(data, t0, t1):
                            if mtype == b"hdlr" and m1 - m0 >= 12:
                                handler = data[m0 + 8 : m0 + 12]
                                if handler == b"vide":
                                    has_video = True
                                elif handler == b"soun":
                                    has_audio = True
        return duration_ms, width, height, has_video, has_audio
    return None


def _ebml_vint(data: bytes, p: int, keep_marker: bool):
    """One EBML variable-length integer at ``p``: returns
    ``(value, next_pos)`` or None. Element IDs keep the length-marker
    bit (``keep_marker=True``); sizes strip it."""
    if p >= len(data):
        return None
    first = data[p]
    if first == 0:
        return None
    length = 8 - first.bit_length() + 1
    if p + length > len(data):
        return None
    if keep_marker:
        v = int.from_bytes(data[p : p + length], "big")
    else:
        v = first & ((1 << (8 - length)) - 1)
        for i in range(1, length):
            v = (v << 8) | data[p + i]
        if v == (1 << (7 * length)) - 1:
            # all-ones = UNKNOWN size (streaming/live Segments):
            # clamp to the enclosing end at the walk
            v = 1 << 62
    return v, p + length


def _ebml_walk(data: bytes, p: int, end: int):
    """Yield ``(element_id, body_start, body_end)`` over one EBML
    level."""
    while p < end:
        got = _ebml_vint(data, p, keep_marker=True)
        if got is None:
            return
        eid, p = got
        got = _ebml_vint(data, p, keep_marker=False)
        if got is None:
            return
        size, p = got
        body_end = min(end, p + size)
        yield eid, p, body_end
        p = body_end


def _webm_metadata(data: bytes | None):
    """Matroska/WebM metadata via an EBML walk — no codec:
    ``(duration_ms, width, height, has_video, has_audio)``. Duration =
    Info.Duration (float ticks) x Info.TimecodeScale (ns per tick,
    default 1e6); dimensions from the first video TrackEntry. Returns
    None when the payload is not EBML."""
    if data is None or len(data) < 8 or data[:4] != b"\x1a\x45\xdf\xa3":
        return None
    segment = None
    for eid, b0, b1 in _ebml_walk(data, 0, len(data)):
        if eid == 0x18538067:  # Segment
            segment = (b0, b1)
            break
    if segment is None:
        return None
    # NULL, not fake 0: live/streamed WebM legitimately omits
    # Info.Duration — distinguish "unknown" from a real 0-length clip.
    duration_ms = None
    width = height = 0
    has_video = has_audio = False
    scale_ns = 1_000_000
    dur_ticks = None
    for eid, b0, b1 in _ebml_walk(data, segment[0], segment[1]):
        if eid == 0x1549A966:  # Info
            for iid, i0, i1 in _ebml_walk(data, b0, b1):
                if iid == 0x2AD7B1:  # TimecodeScale
                    scale_ns = int.from_bytes(data[i0:i1], "big")
                elif iid == 0x4489:  # Duration: 4- or 8-byte float
                    import struct

                    if i1 - i0 == 4:
                        dur_ticks = struct.unpack(">f", data[i0:i1])[0]
                    elif i1 - i0 == 8:
                        dur_ticks = struct.unpack(">d", data[i0:i1])[0]
        elif eid == 0x1654AE6B:  # Tracks
            for tid, t0, t1 in _ebml_walk(data, b0, b1):
                if tid != 0xAE:  # TrackEntry
                    continue
                ttype = 0
                vw = vh = 0
                for fid, f0, f1 in _ebml_walk(data, t0, t1):
                    if fid == 0x83:  # TrackType
                        ttype = data[f0] if f1 > f0 else 0
                    elif fid == 0xE0:  # Video
                        for vid_, v0, v1 in _ebml_walk(data, f0, f1):
                            if vid_ == 0xB0:
                                vw = int.from_bytes(data[v0:v1], "big")
                            elif vid_ == 0xBA:
                                vh = int.from_bytes(data[v0:v1], "big")
                if ttype == 1:
                    has_video = True
                    width = max(width, vw)
                    height = max(height, vh)
                elif ttype == 2:
                    has_audio = True
    if dur_ticks is not None and scale_ns > 0:
        duration_ms = int(dur_ticks * scale_ns / 1_000_000)
    return duration_ms, width, height, has_video, has_audio


def video_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Attach container-parsed video metadata columns —
    ``vid_format`` ('mp4' / 'webm' or NULL), ``vid_duration_ms``,
    ``vid_width``, ``vid_height``, ``vid_has_video``,
    ``vid_has_audio`` — without any
    codec (ISO-BMFF box walk: mvhd duration, tkhd dimensions, hdlr
    track types; Matroska/WebM EBML walk: Info duration x
    TimecodeScale, video TrackEntry dimensions, track kinds). The
    video twin of the audio/image metadata tiers;
    ``vid_duration_ms`` feeds ``sample_video_frames``'s
    ``duration_ms`` contract directly, so frame-sampling plumbing
    runs on real crawl mp4/webm payloads. One Arrow-batched pass,
    payload bytes never shuffle."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("vid_format", T.StringType()),
            T.StructField("vid_duration_ms", T.LongType()),
            T.StructField("vid_width", T.IntegerType()),
            T.StructField("vid_height", T.IntegerType()),
            T.StructField("vid_has_video", T.BooleanType()),
            T.StructField("vid_has_audio", T.BooleanType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            fmts = []
            for p in pdf[payload_col]:
                m = None
                fmt = None
                for name, fn in (("mp4", _mp4_metadata),
                                 ("webm", _webm_metadata)):
                    try:
                        m = fn(p)
                    except Exception:  # noqa: BLE001 - dirty payload
                        m = None
                    if m is not None:
                        fmt = name
                        break
                metas.append(m)
                fmts.append(fmt)
            pdf["vid_format"] = fmts
            pdf["vid_duration_ms"] = [m[0] if m else None for m in metas]
            pdf["vid_width"] = [m[1] if m else None for m in metas]
            pdf["vid_height"] = [m[2] if m else None for m in metas]
            pdf["vid_has_video"] = [m[3] if m else None for m in metas]
            pdf["vid_has_audio"] = [m[4] if m else None for m in metas]
            yield pdf

    return df.mapInPandas(run, out_schema)


def sample_video_frames(
    df: DataFrame,
    every_ms: int = 1000,
    payload_col: str = "payload",
) -> DataFrame:
    """Explode each video row into frame rows at a fixed sampling rate:
    one input row -> N output rows (media_id, frame_idx, t_ms,
    frame_payload).

    The frame-index fan-out is pure JVM — sequence + explode, so the
    row explosion shuffles nothing through Python — and ONLY the
    per-frame decode call crosses into an Arrow-batched pandas UDF
    (here a sha256 marker standing in for the codec; a real decoder
    drops into the same one-call-per-frame slot).
    """
    n = F.greatest(
        F.lit(1),
        F.floor(
            F.coalesce(F.col("duration_ms"), F.lit(0)) / F.lit(int(every_ms))
        ).cast("int"),
    )
    frames = df.select(
        "media_id",
        F.col(payload_col).alias("__payload"),
        F.explode(F.sequence(F.lit(0), n - 1)).alias("frame_idx"),
    ).withColumn("t_ms", (F.col("frame_idx").cast("long")) * F.lit(int(every_ms)))

    @F.pandas_udf(T.BinaryType())
    def frame_decode(payload: pd.Series, idx: pd.Series) -> pd.Series:
        # stub frame payload: digest-derived marker bytes; the real
        # codec call would replace exactly this expression
        return pd.Series(
            [
                hashlib.sha256(
                    (p or b"") + int(i).to_bytes(4, "little")
                ).digest()[:16]
                for p, i in zip(payload, idx)
            ]
        )

    return frames.select(
        "media_id",
        "frame_idx",
        "t_ms",
        frame_decode(F.col("__payload"), F.col("frame_idx")).alias(
            "frame_payload"
        ),
    )


# --- subtitle-track text extraction (zero codec work) ----------------

def _mp4_sample_table(data: bytes, stbl0: int, stbl1: int):
    """Resolve the stbl sample tables to per-sample (offset, size)
    file positions plus stts deltas. Returns (offsets_sizes, deltas)
    or None when a required table is missing/inconsistent."""
    stts = stsc = stsz = stco = None
    co64 = False
    for btype, b0, b1 in _mp4_boxes(data, stbl0, stbl1):
        if btype == b"stts":
            stts = (b0, b1)
        elif btype == b"stsc":
            stsc = (b0, b1)
        elif btype == b"stsz":
            stsz = (b0, b1)
        elif btype in (b"stco", b"co64"):
            stco = (b0, b1)
            co64 = btype == b"co64"
    if not (stts and stsc and stsz and stco):
        return None
    b0, b1 = stsz
    uniform = int.from_bytes(data[b0 + 4 : b0 + 8], "big")
    n = int.from_bytes(data[b0 + 8 : b0 + 12], "big")
    if n == 0 or n > 100_000:
        return None
    if uniform:
        sizes = [uniform] * n
    else:
        if b0 + 12 + 4 * n > b1:
            return None
        sizes = [
            int.from_bytes(data[b0 + 12 + 4 * i : b0 + 16 + 4 * i], "big")
            for i in range(n)
        ]
    b0, b1 = stco
    nch = int.from_bytes(data[b0 + 4 : b0 + 8], "big")
    step = 8 if co64 else 4
    if nch == 0 or b0 + 8 + step * nch > b1:
        return None
    chunk_offs = [
        int.from_bytes(
            data[b0 + 8 + step * i : b0 + 8 + step * (i + 1)], "big"
        )
        for i in range(nch)
    ]
    b0, b1 = stsc
    nsc = int.from_bytes(data[b0 + 4 : b0 + 8], "big")
    if b0 + 8 + 12 * nsc > b1:
        return None
    runs = [
        (
            int.from_bytes(data[b0 + 8 + 12 * i : b0 + 12 + 12 * i], "big"),
            int.from_bytes(data[b0 + 12 + 12 * i : b0 + 16 + 12 * i], "big"),
        )
        for i in range(nsc)
    ]
    spc_of = []
    for ci in range(1, nch + 1):
        spc = 1
        for first, cnt in runs:
            if first <= ci:
                spc = cnt
            else:
                break
        spc_of.append(spc)
    pos = []
    si = 0
    for ci in range(nch):
        off = chunk_offs[ci]
        for _ in range(spc_of[ci]):
            if si >= n:
                break
            pos.append((off, sizes[si]))
            off += sizes[si]
            si += 1
    if len(pos) < n:
        return None
    b0, b1 = stts
    ne = int.from_bytes(data[b0 + 4 : b0 + 8], "big")
    if b0 + 8 + 8 * ne > b1:
        return None
    deltas = []
    for i in range(ne):
        cnt = int.from_bytes(data[b0 + 8 + 8 * i : b0 + 12 + 8 * i], "big")
        d = int.from_bytes(data[b0 + 12 + 8 * i : b0 + 16 + 8 * i], "big")
        if cnt > n:
            return None
        deltas.extend([d] * cnt)
    if len(deltas) < n:
        deltas.extend([0] * (n - len(deltas)))
    return pos[:n], deltas[:n]


def _mp4_subtitles(data: bytes | None):
    """Timed-text cues from ISO-BMFF subtitle tracks (3GPP ``tx3g``,
    handler 'text'/'sbtl'/'subt'): walk the track's sample tables
    (stts/stsc/stsz/stco) to the mdat sample bytes — each tx3g sample
    is a 2-byte big-endian length + UTF-8 text. Returns
    ``[(t_start_ms, t_end_ms, text)]`` (gaps are empty samples and
    are skipped), ``[]`` for BMFF without subtitle cues, or None when
    the payload is not BMFF."""
    if data is None or len(data) < 16:
        return None
    top = list(_mp4_boxes(data, 0, len(data)))
    if not top or top[0][0] != b"ftyp":
        return None
    cues = []
    for btype, b0, b1 in top:
        if btype != b"moov":
            continue
        for ctype, c0, c1 in _mp4_boxes(data, b0, b1):
            if ctype != b"trak":
                continue
            handler = b""
            scale = 0
            stbl = None
            fmt = b""
            for ttype, t0, t1 in _mp4_boxes(data, c0, c1):
                if ttype != b"mdia":
                    continue
                for mtype, m0, m1 in _mp4_boxes(data, t0, t1):
                    if mtype == b"hdlr" and m1 - m0 >= 12:
                        handler = data[m0 + 8 : m0 + 12]
                    elif mtype == b"mdhd" and m1 - m0 >= 20:
                        ver = data[m0]
                        at = m0 + (20 if ver == 1 else 12)
                        scale = int.from_bytes(data[at : at + 4], "big")
                    elif mtype == b"minf":
                        for ntype, n0, n1 in _mp4_boxes(data, m0, m1):
                            if ntype == b"stbl":
                                stbl = (n0, n1)
                                for xtype, x0, x1 in _mp4_boxes(
                                    data, n0, n1
                                ):
                                    if xtype == b"stsd" and x1 - x0 >= 16:
                                        fmt = data[x0 + 12 : x0 + 16]
            if handler not in (b"text", b"sbtl", b"subt") and \
                    fmt != b"tx3g":
                continue
            if stbl is None or scale == 0:
                continue
            tab = _mp4_sample_table(data, *stbl)
            if tab is None:
                continue
            pos, deltas = tab
            t = 0
            for (off, size), d in zip(pos, deltas):
                t0ms = t * 1000 // scale
                t += d
                t1ms = t * 1000 // scale
                if size < 2 or off + size > len(data):
                    continue
                ln = int.from_bytes(data[off : off + 2], "big")
                if ln == 0 or ln > size - 2:
                    continue
                try:
                    text = data[off + 2 : off + 2 + ln].decode("utf-8")
                except UnicodeDecodeError:
                    continue
                if text.strip():
                    cues.append((t0ms, t1ms, text))
        return cues
    return None


def _webm_subtitles(data: bytes | None):
    """Timed-text cues from Matroska/WebM ``S_TEXT/UTF8`` subtitle
    tracks (TrackType 0x11): Cluster walk — Timecode + BlockGroup
    (Block + BlockDuration) or SimpleBlock for the subtitle track
    number, payload is the UTF-8 cue text. Times in ms via
    TimecodeScale (default 1e6 ns/tick). Returns cue list / [] /
    None exactly like ``_mp4_subtitles``."""
    if data is None or len(data) < 8 or data[:4] != b"\x1a\x45\xdf\xa3":
        return None
    segment = None
    for eid, b0, b1 in _ebml_walk(data, 0, len(data)):
        if eid == 0x18538067:
            segment = (b0, b1)
            break
    if segment is None:
        return None
    scale_ns = 1_000_000
    sub_track = None
    clusters = []
    for eid, b0, b1 in _ebml_walk(data, segment[0], segment[1]):
        if eid == 0x1549A966:  # Info
            for iid, i0, i1 in _ebml_walk(data, b0, b1):
                if iid == 0x2AD7B1:
                    scale_ns = int.from_bytes(data[i0:i1], "big")
        elif eid == 0x1654AE6B:  # Tracks
            for tid, t0, t1 in _ebml_walk(data, b0, b1):
                if tid != 0xAE:
                    continue
                num = ttype = 0
                codec = b""
                for fid, f0, f1 in _ebml_walk(data, t0, t1):
                    if fid == 0xD7:
                        num = int.from_bytes(data[f0:f1], "big")
                    elif fid == 0x83:
                        ttype = data[f0] if f1 > f0 else 0
                    elif fid == 0x86:
                        codec = data[f0:f1]
                if ttype == 0x11 and codec.startswith(b"S_TEXT"):
                    sub_track = num
        elif eid == 0x1F43B675:  # Cluster
            clusters.append((b0, b1))
    if sub_track is None:
        return []

    def block_cue(p0, p1, tc, dur_ticks):
        got = _ebml_vint(data, p0, False)
        if got is None:
            return None
        tnum, p = got
        if tnum != sub_track or p + 3 > p1:
            return None
        rel = int.from_bytes(data[p : p + 2], "big", signed=True)
        flags = data[p + 2]
        if flags & 0x06:  # laced: never used for subtitles
            return None
        try:
            text = data[p + 3 : p1].decode("utf-8")
        except UnicodeDecodeError:
            return None
        if not text.strip():
            return None
        t0ms = (tc + rel) * scale_ns // 1_000_000
        t1ms = (tc + rel + (dur_ticks or 0)) * scale_ns // 1_000_000
        return (t0ms, t1ms if dur_ticks else t0ms, text)

    cues = []
    for b0, b1 in clusters:
        tc = 0
        for eid, e0, e1 in _ebml_walk(data, b0, b1):
            if eid == 0xE7:  # Timecode
                tc = int.from_bytes(data[e0:e1], "big")
            elif eid == 0xA3:  # SimpleBlock
                cue = block_cue(e0, e1, tc, 0)
                if cue:
                    cues.append(cue)
            elif eid == 0xA0:  # BlockGroup
                blk = None
                dur = 0
                for gid, g0, g1 in _ebml_walk(data, e0, e1):
                    if gid == 0xA1:
                        blk = (g0, g1)
                    elif gid == 0x9B:
                        dur = int.from_bytes(data[g0:g1], "big")
                if blk:
                    cue = block_cue(blk[0], blk[1], tc, dur)
                    if cue:
                        cues.append(cue)
    return cues


def video_subtitles(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Subtitle text from crawl video WITHOUT any codec work: mp4
    ``tx3g`` sample-table walk + WebM ``S_TEXT/UTF8`` cluster walk.
    One output row per cue — ``(media_id, sub_format, cue_idx,
    t_start_ms, t_end_ms, text)`` — and, so the ledger stays honest,
    exactly one row with NULL cue fields for every input file that
    yielded no cues (``sub_format`` still says whether the container
    parsed: 'mp4'/'webm'/NULL). ``text`` concatenated per media_id
    feeds ``curate_corpus`` the way ``pdf_to_documents`` does for
    PDFs. One Arrow-batched pass; payload bytes never shuffle."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType()),
            T.StructField("sub_format", T.StringType()),
            T.StructField("cue_idx", T.IntegerType()),
            T.StructField("t_start_ms", T.LongType()),
            T.StructField("t_end_ms", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                fmt = None
                cues = None
                for name, fn in (("mp4", _mp4_subtitles),
                                 ("webm", _webm_subtitles)):
                    try:
                        cues = fn(p)
                    except Exception:  # noqa: BLE001 - dirty payload
                        cues = None
                    if cues is not None:
                        fmt = name
                        break
                if not cues:
                    rows.append((mid, fmt, None, None, None, None))
                    continue
                for k, (t0, t1, text) in enumerate(cues):
                    rows.append((mid, fmt, k, t0, t1, text))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sub_format", "cue_idx",
                    "t_start_ms", "t_end_ms", "text",
                ],
            )

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def media_digest_groups(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-digest duplicate report — fully REAL (no codec needed):
    sha2 over the binary payload; one row per distinct payload with
    (sha256, keep_id = smallest id, n_copies). Pure JVM (one shuffle
    keyed by digest); at 100 TB hash at ingest and store the digest
    column so re-dedup never re-reads payloads."""
    digest = F.sha2(F.col(payload_col), 256)
    w = df.select(F.col(id_col), digest.alias("sha256"))
    groups = w.groupBy("sha256").agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return groups


def media_exact_dedup(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Exact byte-identical media dedup, df-in/df-out (same semantics
    as ``dedup_by_clusters``): keep the smallest-id row per distinct
    payload, return the surviving rows with their full schema. The
    per-digest report is ``media_digest_groups``."""
    keep = media_digest_groups(df, payload_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def decoder_report(
    decoded: DataFrame,
    mime_col: str = "mime",
    decoder_col: str = "decoder",
) -> DataFrame:
    """Per-format decode accounting for the dataset card: one row per
    (mime, decoder) with ``n`` and ``frac_of_mime`` — the honest
    ledger of which formats decoded with a REAL codec vs fell to the
    digest stub (e.g. ``image/jpeg -> stub-sha256 1.0`` in an
    environment without PIL). Feed it ``decode_image_features`` /
    ``decode_audio_features`` output; one groupBy + one broadcastable
    per-mime total join, payload bytes untouched."""
    per = decoded.groupBy(mime_col, decoder_col).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = decoded.groupBy(mime_col).agg(F.count(F.lit(1)).alias("__t"))
    return (
        per.join(F.broadcast(tot), mime_col)
        .select(
            mime_col,
            decoder_col,
            "n",
            F.round(F.col("n") / F.col("__t"), 6).alias("frac_of_mime"),
        )
        .orderBy(mime_col, decoder_col)
    )


def _heif_primary_ispe(data: bytes) -> tuple[int, int] | None:
    """(width, height) of a HEIF/AVIF file's PRIMARY item: walk
    meta -> {pitm, iprp/{ipco, ipma}}, then follow the primary item's
    ipma associations (1-based indices into ipco's ordered property
    boxes) to ITS ispe. Falls back to the first ispe when the
    association tables are absent/malformed."""
    meta = None
    for btype, b0, b1 in _mp4_boxes(data, 0, len(data)):
        if btype == b"meta":
            meta = (b0 + 4, b1)  # FullBox: skip version/flags
            break
    if meta is None:
        return None
    pitm_id = None
    ipco_props: list[tuple[bytes, int, int]] = []
    ipma_assoc: dict[int, list[int]] = {}
    first_ispe = None
    for btype, b0, b1 in _mp4_boxes(data, meta[0], meta[1]):
        if btype == b"pitm" and b1 - b0 >= 6:
            ver = data[b0]
            if ver == 0:
                pitm_id = int.from_bytes(data[b0 + 4 : b0 + 6], "big")
            elif b1 - b0 >= 8:
                pitm_id = int.from_bytes(data[b0 + 4 : b0 + 8], "big")
        elif btype == b"iprp":
            for ptype, p0, p1 in _mp4_boxes(data, b0, b1):
                if ptype == b"ipco":
                    ipco_props = list(_mp4_boxes(data, p0, p1))
                elif ptype == b"ipma" and p1 - p0 >= 8:
                    ver = data[p0]
                    flags = int.from_bytes(data[p0 + 1 : p0 + 4], "big")
                    at = p0 + 4
                    n = int.from_bytes(data[at : at + 4], "big")
                    at += 4
                    for _ in range(min(n, 10_000)):
                        idw = 4 if ver >= 1 else 2
                        if at + idw + 1 > p1:
                            break
                        item = int.from_bytes(
                            data[at : at + idw], "big"
                        )
                        at += idw
                        cnt = data[at]
                        at += 1
                        idxs = []
                        for _ in range(cnt):
                            if flags & 1:
                                if at + 2 > p1:
                                    break
                                idxs.append(
                                    int.from_bytes(
                                        data[at : at + 2], "big"
                                    ) & 0x7FFF
                                )
                                at += 2
                            else:
                                if at + 1 > p1:
                                    break
                                idxs.append(data[at] & 0x7F)
                                at += 1
                        ipma_assoc[item] = idxs
    for ptype, p0, p1 in ipco_props:
        if ptype == b"ispe" and p1 - p0 >= 12 and first_ispe is None:
            first_ispe = (
                int.from_bytes(data[p0 + 4 : p0 + 8], "big"),
                int.from_bytes(data[p0 + 8 : p0 + 12], "big"),
            )
    if pitm_id is not None and pitm_id in ipma_assoc and ipco_props:
        for idx in ipma_assoc[pitm_id]:
            if 1 <= idx <= len(ipco_props):
                ptype, p0, p1 = ipco_props[idx - 1]
                if ptype == b"ispe" and p1 - p0 >= 12:
                    return (
                        int.from_bytes(data[p0 + 4 : p0 + 8], "big"),
                        int.from_bytes(data[p0 + 8 : p0 + 12], "big"),
                    )
    return first_ispe


def _image_header_meta(data: bytes | None):
    """Header-parsed ``(format, width, height)`` without decoding any
    pixels — works for every format the decode ladder handles AND the
    gated ones (arithmetic JPEG), so crawl-image triage
    (size filters, aspect stats, dedup keys) runs on real payloads the
    pixel path would stub. Returns None when no known header
    matches."""
    if not data or len(data) < 10:
        return None
    try:
        if data[:8] == b"\x89PNG\r\n\x1a\n" and len(data) >= 24:
            return (
                "png",
                int.from_bytes(data[16:20], "big"),
                int.from_bytes(data[20:24], "big"),
            )
        if data[:6] in (b"GIF87a", b"GIF89a"):
            return (
                "gif",
                int.from_bytes(data[6:8], "little"),
                int.from_bytes(data[8:10], "little"),
            )
        if data[:2] == b"BM" and len(data) >= 26:
            return (
                "bmp",
                int.from_bytes(data[18:22], "little"),
                abs(int.from_bytes(data[22:26], "little", signed=True)),
            )
        if data[:2] in (b"II", b"MM"):  # TIFF — incl. the fax/tiled
            got = _tiff_ifd(data)     # variants the pixel ladder gates
            if got is not None:
                tags, _ = got
                if 256 in tags and 257 in tags:
                    return "tiff", tags[256][0], tags[257][0]
            return None
        if data[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00"):
            count = int.from_bytes(data[4:6], "little")
            if 1 <= count <= 64 and len(data) >= 6 + 16 * count:
                dims = [
                    ((data[6 + 16 * i] or 256),
                     (data[6 + 16 * i + 1] or 256))
                    for i in range(count)
                ]
                w, h = max(dims, key=lambda d: d[0] * d[1])
                return "ico", w, h
            return None
        if data[:2] == b"\xff\xd8":  # JPEG: find any SOF marker
            p = 2
            while p + 9 < len(data):
                if data[p] != 0xFF:
                    return None
                marker = data[p + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    p += 2
                    continue
                seg_len = (data[p + 2] << 8) | data[p + 3]
                # every SOFn (incl. arithmetic/lossless variants),
                # excluding DHT/JPG/DAC (C4, C8, CC)
                if 0xC0 <= marker <= 0xCF and marker not in (
                    0xC4, 0xC8, 0xCC,
                ):
                    h = (data[p + 5] << 8) | data[p + 6]
                    w = (data[p + 7] << 8) | data[p + 8]
                    return "jpeg", w, h
                if marker == 0xDA:  # SOS before any SOF: give up
                    return None
                p += 2 + seg_len
            return None
        if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
            pos = 12
            while pos + 8 <= len(data):
                tag = data[pos : pos + 4]
                size = int.from_bytes(data[pos + 4 : pos + 8], "little")
                body = data[pos + 8 : pos + 8 + size]
                if tag == b"VP8X" and len(body) >= 10:
                    return (
                        "webp",
                        int.from_bytes(body[4:7], "little") + 1,
                        int.from_bytes(body[7:10], "little") + 1,
                    )
                if tag == b"VP8L" and len(body) >= 5 and body[0] == 0x2F:
                    v = int.from_bytes(body[1:5], "little")
                    return "webp", (v & 0x3FFF) + 1, ((v >> 14) & 0x3FFF) + 1
                if tag == b"VP8 " and len(body) >= 10:
                    # lossy keyframe: 3-byte frame tag, then the
                    # 9d 01 2a start code, then 14-bit w/h
                    if body[3:6] == b"\x9d\x01\x2a":
                        return (
                            "webp",
                            int.from_bytes(body[6:8], "little") & 0x3FFF,
                            int.from_bytes(body[8:10], "little") & 0x3FFF,
                        )
                    return None
                pos += 8 + size + (size & 1)
            return None
        if data[4:8] == b"ftyp" and data[8:12] in (
            b"avif", b"avis", b"heic", b"heix", b"hevc", b"heim",
            b"heis", b"hevm", b"hevs", b"mif1", b"msf1",
        ):
            # AVIF/HEIC: resolve the PRIMARY item's ispe through the
            # HEIF property model — pitm names the primary item, ipma
            # associates it with 1-based indices into ipco's ordered
            # property list. A file routinely carries several ispe
            # boxes (coded-size item, cropped derived item, alpha,
            # thumbnails), so "first ispe" is wrong in general.
            got = _heif_primary_ispe(data)
            if got:
                fmt = (
                    "avif" if data[8:12] in (b"avif", b"avis")
                    else "heic"
                )
                return fmt, got[0], got[1]
            return None
        head = data[:4096].lstrip(b"\xef\xbb\xbf \t\r\n")
        if (
            head.startswith((b"<?xml", b"<svg", b"<!DOCTYPE svg"))
            and b"<svg" in data[:4096]
        ):
            # SVG: width/height attrs on the root tag (plain px), else
            # the viewBox extent — no rasterization, just the header
            at = data.find(b"<svg")
            tag_end = data.find(b">", at)
            tag = data[at : tag_end if tag_end > 0 else at + 2048]
            import re as _re

            def attr(name):
                m = _re.search(
                    (name + r'\s*=\s*"([^"]*)"').encode(), tag
                )
                return m.group(1).decode("ascii", "replace") if m else None

            def px(v):
                if v is None:
                    return None
                m = _re.fullmatch(r"\s*(\d+(?:\.\d+)?)(px)?\s*", v)
                return int(float(m.group(1))) if m else None

            w, h = px(attr("width")), px(attr("height"))
            if w and h:
                return "svg", w, h
            vb = attr("viewBox")
            if vb:
                parts = vb.replace(",", " ").split()
                if len(parts) == 4:
                    try:
                        return (
                            "svg",
                            int(float(parts[2])),
                            int(float(parts[3])),
                        )
                    except ValueError:
                        return None
            return None
        if data[:2] in (b"P5", b"P6") and data[2:3].isspace():
            # netpbm headers may carry '#' comment lines between
            # tokens — same tokenizer rule as _decode_pnm
            head = re.sub(rb"#[^\n]*", b" ", data[2:400])
            toks = re.split(rb"\s+", head.strip())
            if len(toks) >= 2:
                return "pnm", int(toks[0]), int(toks[1])
    except (IndexError, ValueError):
        return None
    return None


def image_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Attach header-parsed image metadata columns — ``img_format``
    (string or NULL), ``img_width``, ``img_height`` — without decoding
    any pixels. Covers PNG/GIF/BMP/PNM/JPEG (every SOFn, including the
    arithmetic and lossless variants the pixel ladder gates) and WebP
    (VP8X extended header, VP8L lossless header, and the LOSSY VP8
    keyframe header the decode ladder gates). The image twin of the
    audio metadata tier: triage — size/aspect filters, dedup keys,
    corpus stats — runs on real payloads at zero decode cost; one
    Arrow-batched pass, payload bytes never shuffle."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("img_format", T.StringType()),
            T.StructField("img_width", T.IntegerType()),
            T.StructField("img_height", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [_image_header_meta(p) for p in pdf[payload_col]]
            pdf["img_format"] = [m[0] if m else None for m in metas]
            pdf["img_width"] = [m[1] if m else None for m in metas]
            pdf["img_height"] = [m[2] if m else None for m in metas]
            yield pdf

    return df.mapInPandas(run, out_schema)


def media_stats(df: DataFrame) -> DataFrame:
    """Pure-JVM metadata aggregation over a media table."""
    return df.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.avg("width").alias("avg_width"),
        F.avg("height").alias("avg_height"),
    )


def _dhash_bits(arr: np.ndarray, hash_size: int = 8) -> int:
    """Difference hash of an (h, w, 3) or (h, w) pixel array: block-
    mean downsample the grayscale to (hash_size, hash_size + 1), set
    one bit per horizontal neighbor comparison. Robust to uniform
    brightness/contrast shifts (monotone maps preserve inequalities)
    and to resampling — the standard perceptual fingerprint."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        a = a @ np.array([0.299, 0.587, 0.114])
    h, w = a.shape
    rows = np.array_split(np.arange(h), hash_size)
    cols = np.array_split(np.arange(w), hash_size + 1)
    g = np.empty((hash_size, hash_size + 1))
    for i, r in enumerate(rows):
        for j, c in enumerate(cols):
            g[i, j] = a[np.ix_(r, c)].mean()
    bits = (g[:, 1:] > g[:, :-1]).flatten()
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out


def image_dhash(
    df: DataFrame,
    payload_col: str = "payload",
    hash_size: int = 8,
) -> DataFrame:
    """Attach a 64-bit perceptual dHash column (``dhash``) plus the
    ``decoder`` that produced the pixels — same decode ladder as
    ``decode_image_features`` (PIL if present, else the native ctypes
    codecs, else the pure-python parsers); undecodable payloads get a
    DIGEST hash (exact-dup-only semantics, flagged ``stub-sha256``) so
    the column is total and downstream joins need no null handling.
    Lossy formats hash the system codec's pixels, so a node whose
    libjpeg/libwebp build rounds differently may flip the odd gradient
    bit — within the hamming tolerance near-dedup runs at.

    Near-duplicate images then reduce to
    ``dedup.hamming_near_dup_pairs(out, sig_col="dhash")`` — banded
    candidate join, never all-pairs.
    """
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("dhash", T.LongType()),
            T.StructField("decoder", T.StringType()),
        ]
    )

    def one(p: bytes | None) -> tuple[int, str]:
        p = p if p is not None else b""
        if _HAVE_PIL:  # pragma: no cover - not in this container
            import io

            try:
                img = np.asarray(Image.open(io.BytesIO(p)).convert("L"))
                return _dhash_bits(img, hash_size), "pil"
            except Exception:  # noqa: BLE001
                pass
        arr, name = _decode_via_ladder(p)
        if arr is not None:
            return _dhash_bits(arr, hash_size), name
        import hashlib

        digest = int.from_bytes(
            hashlib.sha256(p).digest()[:8], "big", signed=True
        )
        return digest, "stub-sha256"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashed = [one(p) for p in pdf[payload_col]]
            # two's-complement into a signed 64-bit long
            pdf["dhash"] = [
                h - (1 << 64) if h >= (1 << 63) else h for h, _ in hashed
            ]
            pdf["decoder"] = [d for _, d in hashed]
            yield pdf

    return df.mapInPandas(run, out_schema)


def media_near_dedup(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 3,
    hash_size: int = 8,
) -> DataFrame:
    """Perceptual media dedup, df-in/df-out: dHash every payload
    (``image_dhash``), join near pairs with the banded hamming join,
    cluster with connected components, keep the smallest id per
    cluster. Brightness/contrast/re-encode twins collapse; byte-exact
    dedup is the cheaper ``media_exact_dedup`` — run that first at
    scale so the perceptual pass sees only distinct bytes."""
    from .dedup import connected_components, hamming_near_dup_pairs

    hashed = image_dhash(df, payload_col, hash_size=hash_size)
    pairs = hamming_near_dup_pairs(
        hashed, sig_col="dhash", id_col=id_col, max_hamming=max_hamming
    )
    cc = connected_components(
        pairs.select("a", "b"), hashed.select(F.col(id_col)), id_col=id_col
    )
    keep = cc.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return df.join(keep, id_col, "left_semi")


def audio_near_dedup(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    threshold: float = 0.999,
    n_bands: int = 16,
    nlist: int = 8,
) -> DataFrame:
    """Perceptual AUDIO dedup, df-in/df-out — the sound-side twin of
    ``media_near_dedup``: extract band-energy vectors
    (``audio_spectral_features``), flag near-identical spectra with
    the cell-partitioned SemDeDup pass (cosine >= ``threshold``
    within IVF cells — never all-pairs), cluster, keep the smallest
    id per cluster. Re-encoded / resampled-within-PCM twins of the
    same recording collapse; run ``media_exact_dedup`` first at scale
    so this pass sees only distinct bytes. Payloads the WAV decoder
    can't read get ALL-ZERO band energies from
    ``audio_spectral_features`` — such rows (like true silence) have
    no spectral direction to compare, so the zero-energy bypass below
    excludes them from the cosine pass entirely and they always
    survive; they are never spuriously merged, but two stub rows are
    also never merged with EACH OTHER (use ``media_exact_dedup`` for
    byte-identical undecodables).
    """
    from .dedup import connected_components
    from .similarity import semantic_dedup

    feats = audio_spectral_features(
        df.select(id_col, payload_col), payload_col, n_bands=n_bands
    ).select(id_col, F.col("band_energies").alias("__vec"))
    # zero-energy vectors (stub rows, silence) have no direction to
    # compare — they bypass the cosine pass and always survive
    energy = F.aggregate(
        "__vec", F.lit(0.0), lambda acc, x: acc + x * x
    )
    feats = feats.withColumn("__e", energy)
    nz = feats.filter(F.col("__e") > 0).drop("__e")
    flags = semantic_dedup(
        nz, threshold=threshold, vec_col="__vec", id_col=id_col,
        nlist=nlist,
    )
    pairs = flags.filter(F.col("dup_of").isNotNull()).select(
        F.col(id_col).alias("a"), F.col("dup_of").alias("b")
    )
    cc = connected_components(pairs, nz.select(F.col(id_col)), id_col=id_col)
    keep = cc.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    zero = feats.filter(F.col("__e") <= 0).select(id_col)
    return df.join(keep.unionByName(zero), id_col, "left_semi")
