"""VP8L (lossless WebP) decode through the system libwebp
(``native_codecs.decode_webp_native``): differential tests.

An INDEPENDENT encoder twin lives in this file: its own bitwriter,
its own canonical-Huffman builder and code-length-code emission, its
own forward transforms (including independent reimplementations of
the predictor filters and the color-transform delta), sharing only
the published format constants with the decoder. Random images are
encoded through every feature combination and must decode
bit-identically to the source pixels.
"""

import heapq
import itertools

import numpy as np
import pytest

from opencosmo_spark.pipeline.native_codecs import decode_webp_native

from test_analysis_multimodal import _needs

pytestmark = _needs("webp")


# --- encoder twin ----------------------------------------------------
class BW:
    """LSB-first bitwriter."""

    def __init__(self):
        self.bits = []

    def b(self, v, n=1):
        for i in range(n):
            self.bits.append((v >> i) & 1)

    def code(self, code, length):
        # prefix codes are written MSB-of-code-first
        for i in range(length - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def bytes(self):
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            byte = 0
            for j, bit in enumerate(self.bits[i : i + 8]):
                byte |= bit << j
            out.append(byte)
        return bytes(out)


def huff_lengths(freqs, max_len=15):
    """Code lengths via a plain Huffman heap; asserts the depth cap
    instead of length-limiting (test inputs stay shallow)."""
    syms = [s for s, f in freqs.items() if f > 0]
    if len(syms) <= 1:
        return {s: 1 for s in syms}
    heap = [(f, next(_tiebreak), (s,)) for s, f in freqs.items() if f > 0]
    heapq.heapify(heap)
    depth = {s: 0 for s in syms}
    while len(heap) > 1:
        f1, _, g1 = heapq.heappop(heap)
        f2, _, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, next(_tiebreak), g1 + g2))
    assert max(depth.values()) <= max_len
    return depth


_tiebreak = itertools.count()


def canonical_codes(lengths_by_sym):
    """DEFLATE canonical assignment from {sym: length}."""
    used = sorted((ln, s) for s, ln in lengths_by_sym.items() if ln > 0)
    if not used:
        return {}
    max_len = used[-1][0] if used else 0
    max_len = max(ln for ln, _ in used)
    bl = [0] * (max_len + 1)
    for ln, _ in used:
        bl[ln] += 1
    code = 0
    nxt = [0] * (max_len + 1)
    for ln in range(1, max_len + 1):
        code = (code + bl[ln - 1]) << 1
        nxt[ln] = code
    out = {}
    for ln, s in used:
        out[s] = (nxt[ln], ln)
        nxt[ln] += 1
    return out


# the code-length code order of the WebP lossless spec (not DEFLATE's)
CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def write_prefix_code(bw, freqs, alphabet_size, force_normal=False):
    """Emit one prefix code; returns {sym: (code, len)} for writing."""
    used = sorted(s for s, f in freqs.items() if f > 0)
    if not used:
        used = [0]  # a code must exist even if never read
    if len(used) <= 2 and max(used) <= 255 and not force_normal:
        bw.b(1)  # simple
        bw.b(len(used) - 1)
        if used[0] <= 1:
            bw.b(0)
            bw.b(used[0], 1)
        else:
            bw.b(1)
            bw.b(used[0], 8)
        if len(used) == 2:
            bw.b(used[1], 8)
            return {used[0]: (0, 1), used[1]: (1, 1)}
        return {used[0]: (0, 0)}
    bw.b(0)  # normal
    lengths = huff_lengths({s: freqs.get(s, 0) for s in used})
    if len(used) == 1:
        lengths = {used[0]: 1}
    full = [lengths.get(s, 0) for s in range(alphabet_size)]
    # emit every length as its own code-length symbol (no 16/17/18)
    cl_freqs = {}
    for ln in full:
        cl_freqs[ln] = cl_freqs.get(ln, 0) + 1
    cl_lengths = huff_lengths(cl_freqs, max_len=7)
    if len(cl_lengths) == 1:
        cl_lengths = {next(iter(cl_lengths)): 1}
    cl_codes = canonical_codes(cl_lengths)
    bw.b(19 - 4, 4)  # num_code_lengths = 19
    for s in CL_ORDER:
        bw.b(cl_lengths.get(s, 0), 3)
    bw.b(0)  # no max_symbol cap
    for ln in full:
        c, cl = cl_codes[ln]
        bw.code(c, cl)
    if len(used) == 1:
        # a one-symbol code is read with ZERO bits per symbol
        return {used[0]: (0, 0)}
    return canonical_codes(lengths)


def length_to_prefix(v):
    """Inverse of the decoder's _prefix_value: (code, extra, nbits)."""
    x = v - 1
    if x < 4:
        return x, 0, 0
    extra = x.bit_length() - 2
    code = 2 * extra + 2 + ((x >> extra) & 1)
    rest = x - ((2 + ((x >> extra) & 1)) << extra)
    return code, rest, extra


def encode_image_data(bw, tokens, is_main, cache_bits=0,
                      force_normal=False):
    """Entropy-code a token stream: ('lit', a, r, g, b),
    ('copy', length, linear_distance), ('copy2d', length, dist_code),
    ('cache', index)."""
    bw.b(1 if cache_bits else 0)
    if cache_bits:
        bw.b(cache_bits, 4)
    if is_main:
        bw.b(0)  # no meta prefix image
    gf, rf, bf, af, df = {}, {}, {}, {}, {}

    def bump(d, k):
        d[k] = d.get(k, 0) + 1

    for t in tokens:
        if t[0] == "lit":
            _, a, r, g, b = t
            bump(gf, g)
            bump(rf, r)
            bump(bf, b)
            bump(af, a)
        elif t[0] == "copy":
            lc, _, _ = length_to_prefix(t[1])
            bump(gf, 256 + lc)
            dc, _, _ = length_to_prefix(t[2] + 120)
            bump(df, dc)
        elif t[0] == "copy2d":
            lc, _, _ = length_to_prefix(t[1])
            bump(gf, 256 + lc)
            dc, _, _ = length_to_prefix(t[2])
            bump(df, dc)
        else:
            bump(gf, 280 + t[1])
    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    gc = write_prefix_code(bw, gf, green_size, force_normal)
    rc = write_prefix_code(bw, rf, 256, force_normal)
    bc = write_prefix_code(bw, bf, 256, force_normal)
    ac = write_prefix_code(bw, af, 256, force_normal)
    dc_codes = write_prefix_code(bw, df, 40, force_normal)
    for t in tokens:
        if t[0] == "lit":
            _, a, r, g, b = t
            bw.code(gc[g][0], gc[g][1])
            bw.code(rc[r][0], rc[r][1])
            bw.code(bc[b][0], bc[b][1])
            bw.code(ac[a][0], ac[a][1])
        elif t[0] in ("copy", "copy2d"):
            lc, extra, nb = length_to_prefix(t[1])
            bw.code(gc[256 + lc][0], gc[256 + lc][1])
            bw.b(extra, nb)
            dv = t[2] + 120 if t[0] == "copy" else t[2]
            dcode, dextra, dnb = length_to_prefix(dv)
            bw.code(dc_codes[dcode][0], dc_codes[dcode][1])
            bw.b(dextra, dnb)
        else:
            s = 280 + t[1]
            bw.code(gc[s][0], gc[s][1])


def pixels_to_tokens(argb_flat):
    return [
        ("lit", (p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
        for p in argb_flat
    ]


def wrap(payload_bits: BW, w, h, pre_transform_bits=None):
    """VP8L header + transforms + image data -> RIFF container."""
    hdr = BW()
    hdr.b(w - 1, 14)
    hdr.b(h - 1, 14)
    hdr.b(0)  # alpha hint
    hdr.b(0, 3)  # version
    if pre_transform_bits is not None:
        hdr.bits.extend(pre_transform_bits.bits)
    else:
        hdr.b(0)  # no transforms
    hdr.bits.extend(payload_bits.bits)
    body = b"\x2f" + hdr.bytes()
    chunk = b"VP8L" + len(body).to_bytes(4, "little") + body
    if len(body) % 2:
        chunk += b"\x00"
    riff = b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk
    return riff


def encode_plain(rgb, alpha=255, force_normal=False, cache_bits=0):
    """Transform-free encoder: literals only (optionally via cache)."""
    h, w, _ = rgb.shape
    flat = [
        (alpha << 24) | (int(px[0]) << 16) | (int(px[1]) << 8) | int(px[2])
        for row in rgb for px in row
    ]
    tokens = []
    if cache_bits:
        cache = [None] * (1 << cache_bits)
        shift = 32 - cache_bits
        for p in flat:
            idx = (0x1E35A7BD * p & 0xFFFFFFFF) >> shift
            if cache[idx] == p:
                tokens.append(("cache", idx))
            else:
                tokens.append(
                    ("lit", (p >> 24) & 0xFF, (p >> 16) & 0xFF,
                     (p >> 8) & 0xFF, p & 0xFF)
                )
                cache[idx] = p
    else:
        tokens = pixels_to_tokens(flat)
    bw = BW()
    encode_image_data(bw, tokens, is_main=True, cache_bits=cache_bits,
                      force_normal=force_normal)
    return wrap(bw, w, h)


# --- tests: literals / codes / container -----------------------------
def test_single_pixel():
    rgb = np.array([[[10, 200, 30]]], dtype=np.uint8)
    got = decode_webp_native(encode_plain(rgb))
    np.testing.assert_array_equal(got, rgb)


def test_two_color_simple_codes():
    rng = np.random.default_rng(5)
    rgb = np.where(
        rng.integers(0, 2, (9, 13, 1)).astype(bool),
        np.array([200, 1, 77], dtype=np.uint8),
        np.array([3, 250, 0], dtype=np.uint8),
    ).astype(np.uint8)
    got = decode_webp_native(encode_plain(rgb))
    np.testing.assert_array_equal(got, rgb)


@pytest.mark.parametrize("size", [(1, 7), (5, 1), (16, 16), (23, 31)])
def test_random_roundtrip_normal_codes(size):
    h, w = size
    rng = np.random.default_rng(h * 100 + w)
    rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    got = decode_webp_native(encode_plain(rgb, force_normal=True))
    np.testing.assert_array_equal(got, rgb)


def test_color_cache_roundtrip():
    rng = np.random.default_rng(11)
    # few distinct colors -> lots of cache hits
    palette = rng.integers(0, 256, (6, 3)).astype(np.uint8)
    idx = rng.integers(0, 6, (17, 19))
    rgb = palette[idx]
    got = decode_webp_native(encode_plain(rgb, cache_bits=6))
    np.testing.assert_array_equal(got, rgb)


def test_lz77_linear_distance():
    # 3 literal pixels, then copy 9 pixels from distance 3 (period-3
    # pattern), on a 4x3 image
    w, h = 4, 3
    colors = [(255, 9, 8, 7), (255, 1, 2, 3), (255, 200, 150, 100)]
    tokens = [("lit", *c) for c in colors] + [("copy", 9, 3)]
    bw = BW()
    encode_image_data(bw, tokens, is_main=True)
    got = decode_webp_native(wrap(bw, w, h))
    flat = [colors[i % 3] for i in range(12)]
    want = np.array(
        [[c[1], c[2], c[3]] for c in flat], dtype=np.uint8
    ).reshape(h, w, 3)
    np.testing.assert_array_equal(got, want)


def test_lz77_2d_distance_codes():
    # dist_code 1 = (0,1): copy the row above; verify the 2D mapping
    # against its published meaning, not the encoder's idea of it
    w, h = 5, 3
    rng = np.random.default_rng(3)
    row = [(255, int(r), int(g), int(b))
           for r, g, b in rng.integers(0, 256, (5, 3))]
    tokens = [("lit", *c) for c in row] + [("copy2d", 10, 1)]
    bw = BW()
    encode_image_data(bw, tokens, is_main=True)
    got = decode_webp_native(wrap(bw, w, h))
    want_row = np.array([[c[1], c[2], c[3]] for c in row], dtype=np.uint8)
    want = np.stack([want_row] * 3)
    np.testing.assert_array_equal(got, want)


def test_not_webp_and_lossy_gated():
    assert decode_webp_native(b"") is None
    assert decode_webp_native(None) is None
    assert decode_webp_native(b"RIFF\x00\x00\x00\x00WAVEdata") is None
    lossy = (
        b"RIFF" + (12).to_bytes(4, "little") + b"WEBP"
        + b"VP8 " + (4).to_bytes(4, "little") + b"\x00\x00\x00\x00"
    )
    assert decode_webp_native(lossy) is None
    # truncated VP8L payload
    rgb = np.zeros((4, 4, 3), dtype=np.uint8)
    good = encode_plain(rgb)
    assert decode_webp_native(good[: len(good) - 6]) is None


def test_vp8x_wrapped_container():
    rgb = np.arange(27, dtype=np.uint8).reshape(3, 3, 3)
    full = encode_plain(rgb)
    vp8l_chunk = full[12:]
    # flags, 3 reserved bytes, then the canvas (width-1, height-1) as
    # 24-bit fields, which must match the image
    vp8x = (
        b"VP8X" + (10).to_bytes(4, "little") + b"\x00" * 4
        + (2).to_bytes(3, "little") + (2).to_bytes(3, "little")
    )
    body = b"WEBP" + vp8x + vp8l_chunk
    riff = b"RIFF" + len(body).to_bytes(4, "little") + body
    np.testing.assert_array_equal(decode_webp_native(riff), rgb)


# --- transforms: independent forward implementations ------------------
def _ch(p):
    return ((p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)


def _pack(a, r, g, b):
    return (a << 24) | (r << 16) | (g << 8) | b


def avg2_t(x, y):
    return _pack(*[(i + j) // 2 for i, j in zip(_ch(x), _ch(y))])


def clamp_t(v):
    return max(0, min(255, v))


def cas_full_t(l, t, tl):
    return _pack(*[clamp_t(i + j - k)
                   for i, j, k in zip(_ch(l), _ch(t), _ch(tl))])


def cas_half_t(a, tl):
    out = []
    for i, k in zip(_ch(a), _ch(tl)):
        d = i - k
        out.append(clamp_t(i + int(d / 2)))  # trunc toward zero
    return _pack(*out)


def select_t(l, t, tl):
    pl = sum(abs((i + j - k) - i) for i, j, k in zip(_ch(l), _ch(t), _ch(tl)))
    pt = sum(abs((i + j - k) - j) for i, j, k in zip(_ch(l), _ch(t), _ch(tl)))
    return l if pl < pt else t


def predict_t(mode, L, T, TL, TR):
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return avg2_t(avg2_t(L, TR), T)
    if mode == 6:
        return avg2_t(L, TL)
    if mode == 7:
        return avg2_t(L, T)
    if mode == 8:
        return avg2_t(TL, T)
    if mode == 9:
        return avg2_t(T, TR)
    if mode == 10:
        return avg2_t(avg2_t(L, TL), avg2_t(T, TR))
    if mode == 11:
        return select_t(L, T, TL)
    if mode == 12:
        return cas_full_t(L, T, TL)
    return cas_half_t(avg2_t(L, T), TL)


def sub_pixels_t(a, b):
    return _pack(*[(i - j) & 0xFF for i, j in zip(_ch(a), _ch(b))])


def forward_predictor(argb, w, h, modes_grid, tbits):
    """Residual image for the predictor transform, spec scan order."""
    res = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            pos = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = argb[pos - 1]
            elif x == 0:
                pred = argb[pos - w]
            else:
                mode = modes_grid[y >> tbits][x >> tbits]
                L, T, TL = argb[pos - 1], argb[pos - w], argb[pos - w - 1]
                TR = argb[pos - w + 1]  # x=w-1 wraps to row start
                pred = predict_t(mode, L, T, TL, TR)
            res[pos] = sub_pixels_t(argb[pos], pred)
    return res


def ct_delta_t(t, c):
    if t >= 128:
        t -= 256
    if c >= 128:
        c -= 256
    return (t * c) >> 5


def forward_color_transform(argb, w, h, elems_grid, tbits):
    out = []
    for pos, p in enumerate(argb):
        y, x = divmod(pos, w)
        g2r, g2b, r2b = elems_grid[y >> tbits][x >> tbits]
        a, r, g, b = _ch(p)
        nr = (r - ct_delta_t(g2r, g)) & 0xFF
        nb = (b - ct_delta_t(g2b, g) - ct_delta_t(r2b, r)) & 0xFF
        out.append(_pack(a, nr, g, nb))
    return out


def subimage_tokens(pixels):
    return pixels_to_tokens(pixels)


def rgb_to_argb_flat(rgb, alpha=255):
    h, w, _ = rgb.shape
    return [
        _pack(alpha, int(px[0]), int(px[1]), int(px[2]))
        for row in rgb for px in row
    ]


def argb_to_rgb(argb, w, h):
    out = np.zeros((h, w, 3), dtype=np.uint8)
    for pos, p in enumerate(argb):
        y, x = divmod(pos, w)
        _, r, g, b = _ch(p)
        out[y, x] = (r, g, b)
    return out


def test_subtract_green_transform():
    rng = np.random.default_rng(21)
    rgb = rng.integers(0, 256, (6, 9, 3)).astype(np.uint8)
    argb = rgb_to_argb_flat(rgb)
    fwd = [
        _pack(a, (r - g) & 0xFF, g, (b - g) & 0xFF)
        for a, r, g, b in map(_ch, argb)
    ]
    tb = BW()
    tb.b(1)      # a transform follows
    tb.b(2, 2)   # SUBTRACT_GREEN
    tb.b(0)      # no more transforms
    bw = BW()
    encode_image_data(bw, pixels_to_tokens(fwd), is_main=True)
    got = decode_webp_native(wrap(bw, 9, 6, pre_transform_bits=tb))
    np.testing.assert_array_equal(got, rgb)


@pytest.mark.parametrize("tbits", [2, 3])
def test_predictor_transform_all_modes(tbits):
    """Every predictor mode appears in the block grid; the forward
    residuals come from THIS file's independent reimplementation of
    the 14 filters, so a decoder filter bug cannot cancel out."""
    rng = np.random.default_rng(30 + tbits)
    w, h = 33, 18
    rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    argb = rgb_to_argb_flat(rgb)
    bs = 1 << tbits
    gw, gh = -(-w // bs), -(-h // bs)
    modes_grid = [
        [(x + y * gw) % 14 for x in range(gw)] for y in range(gh)
    ]
    res = forward_predictor(argb, w, h, modes_grid, tbits)
    tb = BW()
    tb.b(1)
    tb.b(0, 2)          # PREDICTOR
    tb.b(tbits - 2, 3)  # size_bits
    mode_pixels = [
        _pack(255, 0, modes_grid[y][x], 0)
        for y in range(gh) for x in range(gw)
    ]
    encode_image_data(tb, pixels_to_tokens(mode_pixels), is_main=False)
    tb.b(0)  # no more transforms
    bw = BW()
    encode_image_data(bw, pixels_to_tokens(res), is_main=True)
    got = decode_webp_native(wrap(bw, w, h, pre_transform_bits=tb))
    np.testing.assert_array_equal(got, rgb)


def test_color_transform():
    rng = np.random.default_rng(77)
    w, h = 17, 9
    tbits = 2
    rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    argb = rgb_to_argb_flat(rgb)
    gw, gh = -(-w // (1 << tbits)), -(-h // (1 << tbits))
    elems_grid = [
        [
            (int(rng.integers(0, 256)), int(rng.integers(0, 256)),
             int(rng.integers(0, 256)))
            for _ in range(gw)
        ]
        for _ in range(gh)
    ]
    fwd = forward_color_transform(argb, w, h, elems_grid, tbits)
    tb = BW()
    tb.b(1)
    tb.b(1, 2)          # COLOR transform
    tb.b(tbits - 2, 3)
    elem_pixels = [
        _pack(255, e[2], e[1], e[0])  # red=r2b, green=g2b, blue=g2r
        for row in elems_grid for e in row
    ]
    encode_image_data(tb, pixels_to_tokens(elem_pixels), is_main=False)
    tb.b(0)
    bw = BW()
    encode_image_data(bw, pixels_to_tokens(fwd), is_main=True)
    got = decode_webp_native(wrap(bw, w, h, pre_transform_bits=tb))
    np.testing.assert_array_equal(got, rgb)


@pytest.mark.parametrize("n_colors,width_bits", [(3, 2), (11, 1), (2, 3), (40, 0)])
def test_color_indexing_with_packing(n_colors, width_bits):
    rng = np.random.default_rng(100 + n_colors)
    w, h = 21, 5
    palette_rgb = rng.integers(0, 256, (n_colors, 3)).astype(np.uint8)
    idx = rng.integers(0, n_colors, (h, w))
    rgb = palette_rgb[idx]
    palette = [
        _pack(255, int(c[0]), int(c[1]), int(c[2])) for c in palette_rgb
    ]
    # delta-code the palette
    deltas = [palette[0]] + [
        sub_pixels_t(palette[i], palette[i - 1])
        for i in range(1, n_colors)
    ]
    tb = BW()
    tb.b(1)
    tb.b(3, 2)  # COLOR_INDEXING
    tb.b(n_colors - 1, 8)
    encode_image_data(tb, pixels_to_tokens(deltas), is_main=False)
    tb.b(0)
    # pack indices into the green channel
    per = 1 << width_bits
    ibits = 8 >> width_bits if width_bits else 8
    packed_w = -(-w // per)
    units = []
    for y in range(h):
        for ux in range(packed_w):
            green = 0
            for k in range(per):
                x = ux * per + k
                if x < w:
                    green |= int(idx[y, x]) << (k * ibits)
            units.append(_pack(255, 0, green, 0))
    bw = BW()
    encode_image_data(bw, pixels_to_tokens(units), is_main=True)
    got = decode_webp_native(wrap(bw, w, h, pre_transform_bits=tb))
    np.testing.assert_array_equal(got, rgb)


def test_meta_prefix_single_group():
    """The meta-prefix path: an entropy image assigning every block to
    group 0, then one group of codes — structurally exercises group
    selection."""
    rng = np.random.default_rng(55)
    w, h = 13, 7
    meta_bits = 2
    rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    bw = BW()
    bw.b(0)  # no color cache
    bw.b(1)  # USE meta prefix image
    bw.b(meta_bits - 2, 3)
    mw, mh = -(-w // (1 << meta_bits)), -(-h // (1 << meta_bits))
    meta_pixels = [_pack(255, 0, 0, 0)] * (mw * mh)  # (r<<8|g) = 0
    encode_image_data(bw, pixels_to_tokens(meta_pixels), is_main=False)
    # one group of 5 codes + the literal stream, written WITHOUT the
    # per-image preamble (cache/meta already written above)
    argb = rgb_to_argb_flat(rgb)
    gf, rf, bf, af = {}, {}, {}, {}
    for p in argb:
        a, r, g, b = _ch(p)
        gf[g] = gf.get(g, 0) + 1
        rf[r] = rf.get(r, 0) + 1
        bf[b] = bf.get(b, 0) + 1
        af[a] = af.get(a, 0) + 1
    gc = write_prefix_code(bw, gf, 280)
    rc = write_prefix_code(bw, rf, 256)
    bc = write_prefix_code(bw, bf, 256)
    ac = write_prefix_code(bw, af, 256)
    write_prefix_code(bw, {0: 1}, 40)  # distance code, never read
    for p in argb:
        a, r, g, b = _ch(p)
        bw.code(gc[g][0], gc[g][1])
        bw.code(rc[r][0], rc[r][1])
        bw.code(bc[b][0], bc[b][1])
        bw.code(ac[a][0], ac[a][1])
    # hand-build: header + no transforms + the image data above
    hdr = BW()
    hdr.b(w - 1, 14)
    hdr.b(h - 1, 14)
    hdr.b(0)
    hdr.b(0, 3)
    hdr.b(0)  # no transforms
    hdr.bits.extend(bw.bits)
    body = b"\x2f" + hdr.bytes()
    chunk = b"VP8L" + len(body).to_bytes(4, "little") + body
    if len(body) % 2:
        chunk += b"\x00"
    riff = b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk
    got = decode_webp_native(riff)
    np.testing.assert_array_equal(got, rgb)


def test_stacked_transforms_subgreen_then_predictor():
    """Transforms compose: predictor applied AFTER subtract-green in
    the forward direction (read order: predictor first, then
    subtract-green is read second... bitstream order = the inverse
    application is reversed), matching the spec's reverse-order rule."""
    rng = np.random.default_rng(9)
    w, h = 12, 8
    tbits = 2
    rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    argb = rgb_to_argb_flat(rgb)
    # forward: subtract-green FIRST (it is read first -> inverted last)
    sg = [
        _pack(a, (r - g) & 0xFF, g, (b - g) & 0xFF)
        for a, r, g, b in map(_ch, argb)
    ]
    bs = 1 << tbits
    gw, gh = -(-w // bs), -(-h // bs)
    modes_grid = [[(x + y) % 14 for x in range(gw)] for y in range(gh)]
    res = forward_predictor(sg, w, h, modes_grid, tbits)
    tb = BW()
    tb.b(1)
    tb.b(2, 2)  # SUBTRACT_GREEN read first
    tb.b(1)
    tb.b(0, 2)  # PREDICTOR read second
    tb.b(tbits - 2, 3)
    mode_pixels = [
        _pack(255, 0, modes_grid[y][x], 0)
        for y in range(gh) for x in range(gw)
    ]
    encode_image_data(tb, pixels_to_tokens(mode_pixels), is_main=False)
    tb.b(0)
    bw = BW()
    encode_image_data(bw, pixels_to_tokens(res), is_main=True)
    got = decode_webp_native(wrap(bw, w, h, pre_transform_bits=tb))
    np.testing.assert_array_equal(got, rgb)


def test_webp_in_decode_ladder(spark):
    """decode_image_features and image_dhash decode WebP payloads with
    the real codec ('webp-native' tier), and a junk lossy VP8 payload
    falls to the stub — the ledger decoder_report separates them."""
    rng = np.random.default_rng(8)
    rgb = rng.integers(0, 256, (8, 8, 3)).astype(np.uint8)
    webp = encode_plain(rgb)
    lossy = (
        b"RIFF" + (12).to_bytes(4, "little") + b"WEBP"
        + b"VP8 " + (4).to_bytes(4, "little") + b"\x00\x00\x00\x00"
    )
    from opencosmo_spark.pipeline.multimodal import (
        decode_image_features,
        image_dhash,
    )

    df = spark.createDataFrame(
        [("a", webp), ("b", lossy)], "media_id string, payload binary"
    )
    out = decode_image_features(df).toPandas().set_index("media_id")
    assert out.loc["a"].decoder == "webp-native"
    assert out.loc["b"].decoder == "stub-sha256"
    hashed = image_dhash(df).toPandas().set_index("media_id")
    assert hashed.loc["a"].decoder == "webp-native"


def test_animated_webp_first_frame():
    """Animations decode their FIRST frame: ANMF wraps a VP8L
    sub-chunk after the 16-byte frame header."""
    rgb = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    full = encode_plain(rgb)
    vp8l_chunk = full[12:]  # 'VP8L' + size + body (+pad)
    anmf_body = b"\x00" * 16 + vp8l_chunk
    anmf = b"ANMF" + len(anmf_body).to_bytes(4, "little") + anmf_body
    if len(anmf_body) % 2:
        anmf += b"\x00"
    vp8x = b"VP8X" + (10).to_bytes(4, "little") + b"\x02" + b"\x00" * 9
    anim = b"ANIM" + (6).to_bytes(4, "little") + b"\x00" * 6
    body = b"WEBP" + vp8x + anim + anmf
    riff = b"RIFF" + len(body).to_bytes(4, "little") + body
    np.testing.assert_array_equal(decode_webp_native(riff), rgb)
    # a junk lossy animation frame declines
    lossy_body = b"\x00" * 16 + b"VP8 " + (4).to_bytes(4, "little") + b"\x00" * 4
    anmf2 = b"ANMF" + len(lossy_body).to_bytes(4, "little") + lossy_body
    body2 = b"WEBP" + vp8x + anim + anmf2
    riff2 = b"RIFF" + len(body2).to_bytes(4, "little") + body2
    assert decode_webp_native(riff2) is None


def test_decode_bomb_guard():
    """A tiny payload declaring 16384x16384 must fall to None, not
    wedge the executor (review finding)."""
    bw = BW()
    bw.b(16383, 14)
    bw.b(16383, 14)
    bw.b(0)
    bw.b(0, 3)
    bw.b(0)  # no transforms
    bw.b(0)  # no cache
    bw.b(0)  # no meta
    body = b"\x2f" + bw.bytes() + b"\x00" * 64
    chunk = b"VP8L" + len(body).to_bytes(4, "little") + body
    riff = b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk
    assert decode_webp_native(riff) is None


def test_new_parsers_total_under_mutation():
    """The WebP decoder and the PDF and audio/image/video metadata
    parsers never raise on mutated payloads — the totality standard the older
    decoders already meet (a larger 21k-call offline fuzz ran clean
    during development)."""
    import random

    from opencosmo_spark.pipeline.multimodal import (
        _flac_metadata,
        _image_header_meta,
        _mp3_metadata,
        _mp4_metadata,
        _ogg_metadata,
    )
    from opencosmo_spark.pipeline.pdf import extract_pdf_text

    rng = random.Random(7)
    npr = np.random.default_rng(3)
    seed = encode_plain(npr.integers(0, 256, (6, 8, 3)).astype(np.uint8))
    fns = (
        decode_webp_native, extract_pdf_text, _mp3_metadata, _flac_metadata,
        _ogg_metadata, _mp4_metadata, _image_header_meta,
    )
    for _ in range(120):
        b = bytearray(seed)
        for _ in range(rng.randrange(1, 6)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        m = bytes(b[: rng.randrange(len(b) + 1)])
        for fn in fns:
            fn(m)  # must not raise, whatever it returns
