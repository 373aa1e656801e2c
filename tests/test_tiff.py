"""Baseline TIFF decode differentials through the system libtiff
(``native_codecs.decode_tiff_native``). The encoder twin below writes
IFDs, strips, PackBits runs, and a keep-the-width-at-9-bits LZW
stream straight from the public TIFF 6.0 spec, independent of the
decoder.
"""
from __future__ import annotations

import struct

import numpy as np

from opencosmo_spark.pipeline.multimodal import _image_header_meta
from opencosmo_spark.pipeline.native_codecs import decode_tiff_native

from test_analysis_multimodal import _needs

pytestmark = _needs("tiff")


# ------------------------------------------------------------ twin

def lzw_encode(data: bytes) -> bytes:
    """A deliberately simple but VALID TIFF LZW stream: emit a Clear
    before every 200-literal chunk so the code width stays 9 bits
    (table never reaches the early-change boundary), close with EOI.
    MSB-first bit packing."""
    bits = []

    def put(code):
        for i in range(8, -1, -1):
            bits.append((code >> i) & 1)

    for at in range(0, len(data), 200):
        put(256)  # Clear
        for b in data[at : at + 200]:
            put(b)
    put(256)
    put(257)  # EOI
    while len(bits) % 8:
        bits.append(0)
    out = bytearray()
    for i in range(0, len(bits), 8):
        v = 0
        for bit in bits[i : i + 8]:
            v = (v << 1) | bit
        out.append(v)
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            lit_start = i
            i += run
            while i < n and (i - lit_start) < 128:
                run = 1
                while (i + run < n and run < 3
                       and data[i + run] == data[i]):
                    run += 1
                if run >= 3:
                    break
                i += 1
            out += bytes([i - lit_start - 1]) + data[lit_start:i]
    return bytes(out)


def make_tiff(px: np.ndarray, *, comp=1, photo=None, bo="<",
              rows_per_strip=None, predictor=1, palette=None,
              bits=8, declared_comp=None) -> bytes:
    """px: (h, w) gray/index/bilevel or (h, w, s) chunky samples."""
    h, w = px.shape[:2]
    spp = 1 if px.ndim == 2 else px.shape[2]
    if photo is None:
        photo = 2 if spp >= 3 else 1
    rps = rows_per_strip or h
    # raw rows
    if bits == 1:
        rowbytes = []
        for y in range(h):
            packed = np.packbits(px[y].astype(np.uint8))
            rowbytes.append(packed.tobytes())
    elif bits == 16:
        dt = "<u2" if bo == "<" else ">u2"
        rowbytes = [
            (px[y].astype(np.uint32) * 257).astype(dt).tobytes()
            for y in range(h)
        ]
    else:
        rowbytes = []
        for y in range(h):
            row = px[y].astype(np.uint8).reshape(-1)
            if predictor == 2:
                row = np.concatenate(
                    [row[:spp],
                     (row[spp:].astype(np.int16)
                      - row[:-spp].astype(np.int16)) % 256]
                ).astype(np.uint8)
            rowbytes.append(row.tobytes())
    strips = []
    for y0 in range(0, h, rps):
        raw = b"".join(rowbytes[y0 : y0 + rps])
        if comp == 5:
            strips.append(lzw_encode(raw))
        elif comp == 32773:
            strips.append(packbits_encode(raw))
        else:
            strips.append(raw)
    e = "<" if bo == "<" else ">"
    entries = [
        (256, 4, [w]), (257, 4, [h]),
        (258, 3, [bits] * spp),
        (259, 3, [declared_comp or comp]),
        (262, 3, [photo]),
        (277, 3, [spp]),
        (278, 4, [rps]),
        (279, 4, [len(s) for s in strips]),
    ]
    if predictor != 1:
        entries.append((317, 3, [predictor]))
    if palette is not None:
        # ColorMap: 3*2^bits shorts, all reds then greens then blues
        cmap = []
        for c in range(3):
            cmap += [int(v) * 257 for v in palette[:, c]]
        entries.append((320, 3, cmap))
    entries.append((273, 4, [0] * len(strips)))  # patched below
    entries.sort()
    sizes = {3: 2, 4: 4}
    fmts = {3: "H", 4: "I"}
    n = len(entries)
    ifd_at = 8
    heap_at = ifd_at + 2 + 12 * n + 4
    heap = bytearray()
    # first pass: heap for oversized values (strip offsets patched in
    # the second pass once data positions are known)
    data_at_holder = {}
    body = bytearray()
    for tag, typ, vals in entries:
        total = sizes[typ] * len(vals)
        packed = struct.pack(e + str(len(vals)) + fmts[typ], *vals)
        if total <= 4:
            data_at_holder[tag] = None
        else:
            data_at_holder[tag] = heap_at + len(heap)
            heap += packed
    strips_at = heap_at + len(heap)
    offs = []
    at = strips_at
    for s in strips:
        offs.append(at)
        at += len(s)
    # rebuild entries with real strip offsets
    final = []
    for tag, typ, vals in entries:
        if tag == 273:
            vals = offs
        final.append((tag, typ, vals))
    body += struct.pack(e + "H", n)
    heap = bytearray()
    for tag, typ, vals in final:
        total = sizes[typ] * len(vals)
        packed = struct.pack(e + str(len(vals)) + fmts[typ], *vals)
        if total <= 4:
            inline = packed + b"\x00" * (4 - total)
            body += struct.pack(e + "HHI", tag, typ, len(vals)) + inline
        else:
            body += struct.pack(e + "HHI", tag, typ, len(vals))
            body += struct.pack(e + "I", heap_at + len(heap))
            heap += packed
    body += struct.pack(e + "I", 0)  # no next IFD
    hdr = (b"II" if bo == "<" else b"MM") + struct.pack(e + "HI", 42, 8)
    return hdr + bytes(body) + bytes(heap) + b"".join(strips)


def _img(h, w, ch, seed):
    rng = np.random.default_rng(seed)
    shape = (h, w) if ch == 1 else (h, w, ch)
    return rng.integers(0, 256, shape).astype(np.uint8)


# ------------------------------------------------------------ tests

def test_gray_and_rgb_uncompressed():
    g = _img(13, 17, 1, 0)
    out = decode_tiff_native(make_tiff(g))
    np.testing.assert_array_equal(out, np.repeat(g[:, :, None], 3, 2))
    rgb = _img(9, 11, 3, 1)
    np.testing.assert_array_equal(decode_tiff_native(make_tiff(rgb)), rgb)


def test_big_endian_and_alpha_drop():
    rgb = _img(8, 8, 3, 2)
    np.testing.assert_array_equal(
        decode_tiff_native(make_tiff(rgb, bo=">")), rgb
    )
    rgba = _img(8, 8, 4, 3)
    np.testing.assert_array_equal(
        decode_tiff_native(make_tiff(rgba)), rgba[:, :, :3]
    )


def test_multi_strip_and_packbits():
    rgb = _img(23, 10, 3, 4)
    # runs make PackBits actually compress
    rgb[:, 3:7] = 128
    for comp in (1, 32773):
        out = decode_tiff_native(make_tiff(rgb, comp=comp, rows_per_strip=5))
        np.testing.assert_array_equal(out, rgb)


def test_lzw_and_predictor():
    rgb = _img(12, 14, 3, 5)
    out = decode_tiff_native(make_tiff(rgb, comp=5, rows_per_strip=4))
    np.testing.assert_array_equal(out, rgb)
    out2 = decode_tiff_native(make_tiff(rgb, comp=5, predictor=2))
    np.testing.assert_array_equal(out2, rgb)


def test_bilevel_both_photometrics():
    bw = (_img(10, 30, 1, 6) > 127).astype(np.uint8)
    out = decode_tiff_native(make_tiff(bw, bits=1, photo=1))
    np.testing.assert_array_equal(out[:, :, 0], bw * 255)
    # white-is-zero inverts
    out0 = decode_tiff_native(make_tiff(bw, bits=1, photo=0))
    np.testing.assert_array_equal(out0[:, :, 0], 255 - bw * 255)


def test_palette():
    idx = _img(7, 9, 1, 7)
    pal = _img(256, 3, 1, 8).reshape(256, 3)
    out = decode_tiff_native(make_tiff(idx, photo=3, palette=pal))
    np.testing.assert_array_equal(out, pal[idx])


def test_16bit_gray_both_orders():
    g = _img(6, 6, 1, 9)
    for bo in ("<", ">"):
        out = decode_tiff_native(make_tiff(g, bits=16, bo=bo))
        np.testing.assert_array_equal(out[:, :, 0], g)


def test_fax_declined_but_metadata_parses():
    g = _img(5, 5, 1, 10)
    data = make_tiff(g, declared_comp=4)  # G4 fax: gated
    assert decode_tiff_native(data) is None
    assert _image_header_meta(data) == ("tiff", 5, 5)


def test_metadata_tier_and_totality():
    rgb = _img(21, 33, 3, 11)
    data = make_tiff(rgb, comp=5)
    assert _image_header_meta(data) == ("tiff", 33, 21)
    rng = np.random.default_rng(0)
    for _ in range(300):
        mut = bytearray(data)
        for _ in range(int(rng.integers(1, 6))):
            mut[int(rng.integers(0, len(mut)))] = int(
                rng.integers(0, 256)
            )
        try:
            decode_tiff_native(bytes(mut))
            _image_header_meta(bytes(mut))
        except Exception as exc:  # noqa: BLE001
            raise AssertionError("tiff decoder escaped") from exc
    for cut in range(0, len(data), max(1, len(data) // 48)):
        decode_tiff_native(data[:cut])
        _image_header_meta(data[:cut])


def test_ladder_integration(spark):
    from opencosmo_spark.pipeline.multimodal import (
        decode_image_features,
        image_metadata,
    )

    rgb = _img(16, 16, 3, 12)
    data = make_tiff(rgb, comp=32773)
    df = spark.createDataFrame(
        [("t", data)], "id string, payload binary"
    )
    row = decode_image_features(df).toPandas().iloc[0]
    assert row.decoder == "tiff-native"
    meta = image_metadata(df).toPandas().iloc[0]
    assert (meta.img_format, meta.img_width, meta.img_height) == (
        "tiff", 16, 16,
    )


# ---------------------------------------------------- review fixes


def test_ifd_entry_count_zero_declines():
    """An IFD entry with count=0 (review-found crash: empty tuple for
    tag 256 then ``tags[256][0]`` IndexError) must decline, not
    raise. make_tiff sorts entries, so tag 256 is the first entry at
    IFD offset 8 + 2; its count field sits 4 bytes in."""
    data = bytearray(make_tiff(_img(4, 4, 3, 7)))
    e = 8 + 2  # first IFD entry (tag 256, ImageWidth)
    assert struct.unpack("<H", data[e : e + 2])[0] == 256
    data[e + 4 : e + 8] = struct.pack("<I", 0)  # count = 0
    assert decode_tiff_native(bytes(data)) is None


def test_bilevel_palette_uses_raw_indices():
    """1-bit photometric=3: indices must stay 0/1 into the 2-entry
    ColorMap (review-found crash: scaling to 0/255 before the LUT
    gather)."""
    rng = np.random.default_rng(11)
    idx = rng.integers(0, 2, (6, 9)).astype(np.uint8)
    pal = np.array([[255, 0, 64], [0, 200, 30]], dtype=np.uint8)
    data = make_tiff(idx, bits=1, photo=3, palette=pal)
    out = decode_tiff_native(data)
    assert out is not None
    np.testing.assert_array_equal(out, pal[idx])


def test_16bit_palette_declines():
    """16-bit palette indices (a full 3 * 65536-entry ColorMap) are
    outside what the RGBA reader maps — decline. A ColorMap with the
    wrong count is ignored by libtiff, which then reads the samples
    as 16-bit gray."""
    idx = np.array([[0, 1], [1, 0]], dtype=np.uint8)
    pal = np.zeros((1 << 16, 3), dtype=np.uint8)
    data = make_tiff(idx, bits=16, photo=3, palette=pal)
    assert decode_tiff_native(data) is None
    short = make_tiff(idx, bits=16, photo=3, palette=pal[:2])
    np.testing.assert_array_equal(
        decode_tiff_native(short), np.repeat(idx[:, :, None], 3, 2)
    )


def test_ladder_swallows_decoder_exception(monkeypatch):
    """One corrupt payload must never crash the task: the ladder
    helper wraps each decoder call and falls through on any
    exception (driver-side test; the Spark paths call the same
    ``_decode_via_ladder``)."""
    import opencosmo_spark.pipeline.multimodal as mm

    def boom(_p):
        raise IndexError("synthetic decoder bug")

    patched = tuple(
        (("tiff-native", boom, e[2]) if e[0] == "tiff-native" else e)
        for e in mm.native_image_ladder()
    )
    monkeypatch.setattr(mm, "native_image_ladder", lambda: patched)
    data = make_tiff(_img(4, 4, 3, 5))
    arr, name = mm._decode_via_ladder(data)
    assert arr is None and name is None  # fell past the broken tier
    # and with the real ladder the same payload decodes fine
    monkeypatch.undo()
    arr, name = mm._decode_via_ladder(data)
    assert name == "tiff-native" and arr is not None
