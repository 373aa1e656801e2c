"""PDF text extraction: differential tests on generated fixtures.

The builder assembles structurally valid PDF 1.4 files (catalog ->
page tree -> pages -> content streams, correct xref + trailer) so the
extractor is exercised against the real format, not against its own
assumptions.
"""

import zlib

import pytest
from pyspark.sql import functions as F

from opencosmo_spark.pipeline.pdf import extract_pdf_text, pdf_to_documents

from test_analysis_multimodal import _needs


def make_pdf(page_contents, compress=False, encrypted=False, image_page=False):
    """Build a minimal valid PDF. ``page_contents``: list of content-
    stream byte strings, one per page."""
    objs = {}  # num -> bytes (full object body, without N 0 obj/endobj)
    n_pages = len(page_contents)
    kid_nums = [4 + 2 * i for i in range(n_pages)]
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    kids = b" ".join(b"%d 0 R" % k for k in kid_nums)
    objs[2] = (
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    )
    objs[3] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>"
    )
    for i, content in enumerate(page_contents):
        pnum, cnum = 4 + 2 * i, 5 + 2 * i
        extra = b" /Resources << /XObject << /Im0 90 0 R >> >>" if image_page else b""
        objs[pnum] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R /Resources << /Font << /F1 3 0 R >> >>" % cnum
            + extra
            + b" >>"
        )
        body = zlib.compress(content) if compress else content
        filt = b"/Filter /FlateDecode " if compress else b""
        objs[cnum] = (
            b"<< " + filt + b"/Length %d >>\nstream\n" % len(body)
            + body
            + b"\nendstream"
        )
    if image_page:
        objs[90] = (
            b"<< /Type /XObject /Subtype /Image /Width 2 /Height 2 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 4 >>"
            b"\nstream\n\x00\x01\x02\x03\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (max(objs) + 1)
    out += b"0000000000 65535 f \n"
    for num in range(1, max(objs) + 1):
        out += b"%010d 00000 n \n" % offsets.get(num, 0)
    enc = b" /Encrypt 99 0 R" if encrypted else b""
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R" % (max(objs) + 1)
        + enc
        + b" >>\nstartxref\n%d\n%%%%EOF\n" % xref_at
    )
    return bytes(out)


def test_single_page_tj():
    pdf = make_pdf([b"BT /F1 12 Tf 72 720 Td (Hello World) Tj ET"])
    text, n_pages, ex = extract_pdf_text(pdf)
    assert (text, n_pages, ex) == ("Hello World", 1, "pdf-text")


def test_flate_tj_array_kerning():
    # kern gaps < -180 become word spaces, small kerns vanish
    pdf = make_pdf(
        [b"BT /F1 12 Tf [(Hel) -50 (lo) -300 (World)] TJ ET"],
        compress=True,
    )
    text, n_pages, ex = extract_pdf_text(pdf)
    assert (text, n_pages, ex) == ("Hello World", 1, "pdf-text")


def test_multipage_tree_order_and_lines():
    pdf = make_pdf(
        [
            b"BT 72 720 Td (First page) Tj 0 -14 Td (second line) Tj ET",
            b"BT 72 720 Td (Second page) Tj ET",
        ]
    )
    text, n_pages, ex = extract_pdf_text(pdf)
    assert n_pages == 2 and ex == "pdf-text"
    assert text == "First page\nsecond line\n\nSecond page"


def test_escapes_hex_and_quote_ops():
    content = (
        rb"BT (a\(b\)c) Tj T* <48656C6C6F> Tj "
        rb"(line2) ' (oct\101al) Tj ET"
    )
    text, _, ex = extract_pdf_text(make_pdf([content]))
    assert ex == "pdf-text"
    assert text.splitlines() == ["a(b)c", "Hello", "line2octAal"]


def test_encrypted_ledger():
    pdf = make_pdf([b"BT (secret) Tj ET"], encrypted=True)
    text, n_pages, ex = extract_pdf_text(pdf)
    assert (text, n_pages, ex) == ("", 1, "pdf-encrypted")


def test_scanned_vs_no_text():
    # the fixture's raw DeviceGray image is EXTRACTABLE by
    # composition, so the ledger reports pdf-images (r13); an image
    # behind an out-of-reach codec stays the honest pdf-scanned
    scanned = make_pdf([b"q 612 0 0 792 0 0 cm /Im0 Do Q"], image_page=True)
    assert extract_pdf_text(scanned) == ("", 1, "pdf-images")
    g4 = scanned.replace(
        b"/ColorSpace /DeviceGray /BitsPerComponent 8",
        b"/ColorSpace /DeviceGray /Filter /CCITTFaxDecode",
    )
    assert extract_pdf_text(g4) == ("", 1, "pdf-scanned")
    empty = make_pdf([b"q Q"])
    assert extract_pdf_text(empty) == ("", 1, "pdf-no-text")


def test_not_a_pdf_is_stub():
    assert extract_pdf_text(b"GIF89a...")[2] == "stub"
    assert extract_pdf_text(None)[2] == "stub"
    assert extract_pdf_text(b"%PDF-1.4 truncated")[2] == "stub"


def test_junk_prefix_within_1024():
    pdf = b"\xef\xbb\xbfjunk header\n" + make_pdf([b"BT (x) Tj ET"])
    assert extract_pdf_text(pdf) == ("x", 1, "pdf-text")


def test_pdf_to_documents_binaryfile(spark, tmp_path):
    """End-to-end over the binaryFile source: one document row per
    file, honest extractor ledger, stable doc_id from the path."""
    d = tmp_path / "pdfs"
    d.mkdir()
    (d / "a.pdf").write_bytes(
        make_pdf([b"BT (alpha doc) Tj ET"], compress=True)
    )
    (d / "b.pdf").write_bytes(
        make_pdf([b"BT (secret) Tj ET"], encrypted=True)
    )
    (d / "c.pdf").write_bytes(b"not a pdf")
    src = spark.read.format("binaryFile").load(str(d))
    out = pdf_to_documents(src).toPandas()
    by_name = {u.rsplit("/", 1)[-1]: r for u, r in zip(out.url, out.itertuples())}
    assert by_name["a.pdf"].extractor == "pdf-text"
    assert by_name["a.pdf"].text == "alpha doc"
    assert by_name["b.pdf"].extractor == "pdf-encrypted"
    assert by_name["c.pdf"].extractor == "stub"
    assert out.doc_id.nunique() == 3

    # the ledger composes with the multimodal report idiom
    from opencosmo_spark.pipeline.multimodal import decoder_report

    rep = decoder_report(
        pdf_to_documents(src), mime_col="extractor", decoder_col="extractor"
    )
    assert rep.count() == 3


def test_pdf_documents_compose_with_curate(spark, tmp_path):
    """pdf_to_documents output slots into curate_corpus exactly like
    warc_to_documents: pdf-text rows with enough quality survive,
    encrypted/stub rows (empty text) fall at the quality gate."""
    from opencosmo_spark.pipeline.curate import curate_corpus

    d = tmp_path / "pdfs2"
    d.mkdir()
    good = (
        b"BT (The quick brown fox jumps over the lazy dog. "
        b"It then naps in the warm afternoon sun for hours.) Tj ET"
    )
    (d / "good.pdf").write_bytes(make_pdf([good]))
    (d / "enc.pdf").write_bytes(
        make_pdf([b"BT (hidden) Tj ET"], encrypted=True)
    )
    src = spark.read.format("binaryFile").load(str(d))
    docs = pdf_to_documents(src).select("doc_id", "url", "text")
    kept, counts = curate_corpus(docs, min_tokens=5)
    rows = kept.toPandas()
    assert len(rows) == 1
    assert rows.url.iloc[0].endswith("good.pdf")


def make_pdf_objstm(page_contents):
    """PDF 1.5-style: catalog/pages/page dicts packed inside a
    FlateDecode object stream; content streams stay top-level."""
    n_pages = len(page_contents)
    kid_nums = [4 + 2 * i for i in range(n_pages)]
    packed = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    kids = b" ".join(b"%d 0 R" % k for k in kid_nums)
    packed[2] = b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    for i in range(n_pages):
        pnum, cnum = 4 + 2 * i, 5 + 2 * i
        packed[pnum] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R >>" % cnum
        )
    # object-stream payload: header of (num offset) pairs, then bodies
    nums = sorted(packed)
    bodies, offsets, pos = [], [], 0
    for num in nums:
        offsets.append((num, pos))
        body = packed[num] + b"\n"
        bodies.append(body)
        pos += len(body)
    header = b" ".join(b"%d %d" % p for p in offsets) + b"\n"
    payload = zlib.compress(header + b"".join(bodies))
    objs = {}
    objs[50] = (
        b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode "
        b"/Length %d >>\nstream\n" % (len(nums), len(header), len(payload))
        + payload
        + b"\nendstream"
    )
    for i, content in enumerate(page_contents):
        cnum = 5 + 2 * i
        objs[cnum] = (
            b"<< /Length %d >>\nstream\n" % len(content)
            + content
            + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.5\n")
    for num in sorted(objs):
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


def test_objstm_packed_page_tree():
    """PDF 1.5 object streams: the page tree lives inside a compressed
    ObjStm and must still drive ordered multi-page extraction."""
    pdf = make_pdf_objstm(
        [b"BT (packed first) Tj ET", b"BT (packed second) Tj ET"]
    )
    text, n_pages, ex = extract_pdf_text(pdf)
    assert (n_pages, ex) == (2, "pdf-text")
    assert text == "packed first\n\npacked second"


def test_objstm_top_level_takes_precedence():
    """Incremental updates append replacement objects at top level;
    a top-level object with the same number must win over the ObjStm
    copy."""
    pdf = make_pdf_objstm([b"BT (old text) Tj ET"])
    # append a replacement content stream as object 5 at top level
    newc = b"BT (new text) Tj ET"
    extra = (
        b"5 0 obj\n<< /Length %d >>\nstream\n" % len(newc)
        + newc
        + b"\nendstream\nendobj\n"
    )
    at = pdf.rindex(b"trailer")
    updated = pdf[:at] + extra + pdf[at:]
    text, _, ex = extract_pdf_text(updated)
    assert ex == "pdf-text"
    assert text == "new text"


def make_pdf_cid(hex_text_pages, cmap_src, one_byte=False):
    """PDF with a CID-keyed (Type0/Identity-H-style) font: shown
    strings are hex glyph codes, /ToUnicode CMap maps them to
    unicode."""
    payload = zlib.compress(cmap_src)
    n_pages = len(hex_text_pages)
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        3: (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Fake-Identity-H "
            b"/Encoding /Identity-H /ToUnicode 9 0 R >>"
        ),
        9: (
            b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(payload)
            + payload
            + b"\nendstream"
        ),
    }
    kid_nums = [4 + 2 * i for i in range(n_pages)]
    kids = b" ".join(b"%d 0 R" % k for k in kid_nums)
    objs[2] = b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    for i, content in enumerate(hex_text_pages):
        pnum, cnum = 4 + 2 * i, 5 + 2 * i
        objs[pnum] = (
            b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R "
            b"/Resources << /Font << /F1 3 0 R >> >> >>" % cnum
        )
        objs[cnum] = (
            b"<< /Length %d >>\nstream\n" % len(content)
            + content
            + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n")
    for num in sorted(objs):
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


CMAP_2BYTE = b"""/CIDInit /ProcSet findresource begin
12 dict begin begincmap
1 begincodespacerange <0000> <FFFF> endcodespacerange
2 beginbfchar
<0001> <0048>
<0002> <00E9>
endbfchar
1 beginbfrange
<0010> <0012> <006C>
endbfrange
1 beginbfrange
<0020> <0021> [<0020> <21D2>]
endbfrange
endcmap end end
"""


def test_cid_font_tounicode_mapping():
    """Hex strings under a /ToUnicode font decode through the CMap:
    bfchar singles, an incrementing bfrange (0010-0012 -> l,m,n), and
    the array bfrange form (0021 -> U+21D2 arrow)."""
    # codes: 0001 0002 0010 0011 0012 0020 0021
    content = b"BT /F1 12 Tf <0001 0002 0010 0011 0012 0020 0021> Tj ET"
    pdf = make_pdf_cid([content], CMAP_2BYTE)
    text, n_pages, ex = extract_pdf_text(pdf)
    assert (n_pages, ex) == (1, "pdf-text")
    assert text == "Hélmn ⇒"


def test_cid_font_tf_switching():
    """Tf switches the CMap on and off: /F1 maps, an unknown /F9
    falls back to latin-1 pass-through."""
    content = (
        b"BT /F1 12 Tf <0001> Tj T* /F9 12 Tf (plain) Tj ET"
    )
    pdf = make_pdf_cid([content], CMAP_2BYTE)
    text, _, _ = extract_pdf_text(pdf)
    assert text.splitlines() == ["H", "plain"]


def test_cid_one_byte_codespace():
    cmap = (
        b"1 begincodespacerange <00> <FF> endcodespacerange\n"
        b"2 beginbfchar <41> <0061> <42> <0062> endbfchar\n"
    )
    content = b"BT /F1 12 Tf <4142> Tj (AB) Tj ET"
    pdf = make_pdf_cid([content], cmap)
    text, _, _ = extract_pdf_text(pdf)
    # both hex AND literal strings route through the 1-byte CMap
    assert text == "abab"


def test_cid_unmapped_code_replacement():
    content = b"BT /F1 12 Tf <0001 9999> Tj ET"
    pdf = make_pdf_cid([content], CMAP_2BYTE)
    text, _, _ = extract_pdf_text(pdf)
    assert text == "H�"


def make_pdf_filtered(content, filter_spec, encoded):
    """One-page PDF whose content stream carries an explicit /Filter
    spec with pre-encoded bytes."""
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        4: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
        5: (
            b"<< " + filter_spec + b" /Length %d >>\nstream\n" % len(encoded)
            + encoded
            + b"\nendstream"
        ),
    }
    out = bytearray(b"%PDF-1.4\n")
    for num in sorted(objs):
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


def _lzw_encode(data):
    """Reference PDF LZW encoder for the differential (MSB-first,
    9->12 bit codes, EarlyChange=1)."""
    table = {bytes([i]): i for i in range(256)}
    size, width = 258, 9
    bits = []

    def emit(code):
        for i in range(width - 1, -1, -1):
            bits.append((code >> i) & 1)

    emit(256)  # clear
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = size
        size += 1
        # EarlyChange=1 ENCODER: codes are wider as soon as entry
        # 511/1023/2047 is added (PDF 7.4.4.2). The decoder bumps one
        # table-addition EARLIER (its table lags the encoder by one
        # entry at each read position).
        if size >= (1 << width) and width < 12:
            width += 1
        if size >= 4095:  # table full: clear, as real encoders do
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            size, width = 258, 9
        w = bytes([ch])
    if w:
        emit(table[w])
    emit(257)  # EOD
    out = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for j, b in enumerate(bits[i : i + 8]):
            byte |= b << (7 - j)
        out.append(byte)
    return bytes(out)


def test_filter_asciihex():
    content = b"BT (hex ok) Tj ET"
    enc = content.hex().encode("ascii") + b">"
    pdf = make_pdf_filtered(content, b"/Filter /ASCIIHexDecode", enc)
    assert extract_pdf_text(pdf) == ("hex ok", 1, "pdf-text")


def test_filter_ascii85():
    import base64

    content = b"BT (a85 ok) Tj ET"
    enc = base64.a85encode(content) + b"~>"
    pdf = make_pdf_filtered(content, b"/Filter /ASCII85Decode", enc)
    assert extract_pdf_text(pdf) == ("a85 ok", 1, "pdf-text")


def test_filter_lzw():
    content = b"BT (lzw ok, repeated repeated repeated text) Tj ET"
    pdf = make_pdf_filtered(
        content, b"/Filter /LZWDecode", _lzw_encode(content)
    )
    assert extract_pdf_text(pdf) == (
        "lzw ok, repeated repeated repeated text", 1, "pdf-text"
    )


def test_filter_chain_a85_flate():
    import base64

    content = b"BT (chained filters) Tj ET"
    enc = base64.a85encode(zlib.compress(content)) + b"~>"
    pdf = make_pdf_filtered(
        content, b"/Filter [/ASCII85Decode /FlateDecode]", enc
    )
    assert extract_pdf_text(pdf) == ("chained filters", 1, "pdf-text")


def test_filter_flate_png_predictor():
    """Flate + PNG up-predictor (the layout xref/ObjStm streams use)."""
    content = b"BT (predicted) Tj ET"
    cols = 5
    rows = [content[i : i + cols] for i in range(0, len(content), cols)]
    rows[-1] = rows[-1] + b" " * (cols - len(rows[-1]))
    # apply the PNG "up" filter (type 2) forward
    filtered = bytearray()
    prev = bytes(cols)
    for r in rows:
        filtered.append(2)
        filtered += bytes((r[i] - prev[i]) & 0xFF for i in range(cols))
        prev = r
    enc = zlib.compress(bytes(filtered))
    spec = (
        b"/Filter /FlateDecode /DecodeParms << /Predictor 12 "
        b"/Columns 5 >>"
    )
    pdf = make_pdf_filtered(content, spec, enc)
    assert extract_pdf_text(pdf)[0] == "predicted"


def test_filter_unknown_is_honest():
    pdf = make_pdf_filtered(
        b"BT (x) Tj ET", b"/Filter /DCTDecode", b"\xff\xd8junk"
    )
    text, n_pages, ex = extract_pdf_text(pdf)
    assert text == "" and ex in ("pdf-no-text", "stub")


def test_pdf_to_documents_composes_with_stream(spark, tmp_path):
    """pdf_to_documents is a stateless row transform, so it composes
    unchanged with a streaming binaryFile source: per-batch output
    over 2 micro-batches equals the batch run on the same files."""
    from pyspark.sql import types as T

    d = tmp_path / "pdf_stream"
    d.mkdir()
    (d / "a.pdf").write_bytes(make_pdf([b"BT (stream alpha) Tj ET"]))
    (d / "b.pdf").write_bytes(
        make_pdf([b"BT (stream beta) Tj ET"], compress=True)
    )
    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    stream = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
    )
    got = []

    def handle(batch_df, batch_id):
        got.extend(
            pdf_to_documents(batch_df).select(
                "url", "text", "extractor"
            ).collect()
        )

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "pdf_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    src = spark.read.format("binaryFile").load(str(d))
    want = pdf_to_documents(src).select("url", "text", "extractor").collect()
    key = lambda r: r["url"]
    assert sorted(got, key=key) == sorted(want, key=key)
    assert len(got) == 2


def test_filter_lzw_width_growth_past_511():
    """A low-redundancy stream forcing the 9->10 bit width bump at
    entry 511 (EarlyChange=1, the Acrobat convention) — the reviewer
    found the decoder and twin shared an off-by-one here."""
    import random

    rng = random.Random(7)
    # ~2000 distinct-ish bytes -> dictionary passes 511 entries
    middle = bytes(rng.randrange(256) for _ in range(2000))
    content = b"BT (wide) Tj ET % " + middle.replace(b"(", b"_").replace(
        b")", b"_"
    ).replace(b"\\", b"_").replace(b"\n", b"_").replace(b"\r", b"_")
    pdf = make_pdf_filtered(
        content, b"/Filter /LZWDecode", _lzw_encode(content)
    )
    text, _, ex = extract_pdf_text(pdf)
    assert (text, ex) == ("wide", "pdf-text")


def test_stream_trailing_newline_byte_survives():
    """A Flate stream whose last checksum byte is 0x0A must not lose
    it to EOL stripping (reviewer finding: rstrip(b'\\r\\n') corrupted
    ~1.5% of streams)."""
    content = b"BT (eol byte) Tj ET"
    enc = None
    # tune the adler32 (the stream's LAST bytes) via two raw bytes in
    # a trailing comment until the compressed stream ends in 0x0A
    legal = [b for b in range(256) if b not in (10, 13)]
    for k1 in legal:
        for k2 in legal:
            candidate = content + b" %" + bytes([k1, k2])
            z = zlib.compress(candidate)
            if z.endswith(b"\n"):
                enc = z
                content_expected = candidate
                break
        if enc is not None:
            break
    assert enc is not None
    pdf = make_pdf_filtered(content, b"/Filter /FlateDecode", enc)
    assert extract_pdf_text(pdf)[0] == "eol byte"


def test_encrypt_literal_in_content_is_not_encrypted():
    """An UNENCRYPTED pdf whose uncompressed content stream merely
    contains the literal bytes '/Encrypt 1 0 R' must extract as
    pdf-text, not be misclassified pdf-encrypted (the /Encrypt scan
    is restricted to trailer dictionaries)."""
    pdf = make_pdf([b"BT (see /Encrypt 1 0 R in the spec) Tj ET"])
    text, n_pages, ex = extract_pdf_text(pdf)
    assert ex == "pdf-text"
    assert text == "see /Encrypt 1 0 R in the spec"
    # and a comment mentioning it is just as harmless
    pdf2 = make_pdf([b"BT (x) Tj ET"]).replace(
        b"%PDF-1.4\n", b"%PDF-1.4\n% /Encrypt << /V 1 >>\n"
    )
    assert extract_pdf_text(pdf2) == ("x", 1, "pdf-text")


def test_encrypt_in_xref_stream_dict_detected():
    """PDF 1.5+ files carry the trailer entries in the /Type /XRef
    cross-reference STREAM dict (no 'trailer' keyword at all): an
    /Encrypt there must still reach the pdf-encrypted ledger."""
    xref_body = b"\x00" * 10
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        4: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
        5: (b"<< /Length 24 >>\nstream\nBT (secret text here) Tj\nendstream"),
        6: (
            b"<< /Type /XRef /Size 7 /Root 1 0 R /Encrypt 9 0 R "
            b"/W [1 2 1] /Length %d >>\nstream\n" % len(xref_body)
            + xref_body + b"\nendstream"
        ),
    }
    out = bytearray(b"%PDF-1.5\n")
    for num in sorted(objs):
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    out += b"startxref\n9\n%%EOF\n"
    text, n_pages, ex = extract_pdf_text(bytes(out))
    assert (text, ex) == ("", "pdf-encrypted")


def test_endobj_inside_stream_direct_length_frames():
    """A stream whose DATA contains the bytes 'endobj' / 'N 0 obj':
    the direct /Length frames it correctly (pre-fix the first-endobj
    scan truncated the object and dropped the page text), and the
    phantom 'obj' match inside the stream data must not register as
    an object."""
    content = b"BT (x endobj 7 0 obj y) Tj ET"
    pdf = make_pdf([content])  # make_pdf writes a direct /Length
    text, n_pages, ex = extract_pdf_text(pdf)
    assert (text, n_pages, ex) == ("x endobj 7 0 obj y", 1, "pdf-text")


def test_decodeparms_array_form():
    """/Filter arrays pair with /DecodeParms ARRAYS entry-by-entry
    (PDF 32000-1 §7.3.8.2): [null <</Predictor 12 ...>>] must apply
    the predictor to the SECOND filter (pre-fix the array form never
    matched and predictor-coded bytes came back garbled)."""
    import base64

    content = b"BT (array parms) Tj ET"
    cols = 4
    rows = [content[i: i + cols] for i in range(0, len(content), cols)]
    rows[-1] = rows[-1] + b" " * (cols - len(rows[-1]))
    filtered = bytearray()
    prev = bytes(cols)
    for r in rows:
        filtered.append(2)  # PNG "up"
        filtered += bytes((r[i] - prev[i]) & 0xFF for i in range(cols))
        prev = r
    enc = base64.a85encode(zlib.compress(bytes(filtered))) + b"~>"
    spec = (
        b"/Filter [/ASCII85Decode /FlateDecode] "
        b"/DecodeParms [null << /Predictor 12 /Columns 4 >>]"
    )
    pdf = make_pdf_filtered(content, spec, enc)
    assert extract_pdf_text(pdf)[0] == "array parms"


# --- scanned-PDF image extraction (r13) ------------------------------

def make_scanned_pdf(images, indirect_resources=False):
    """PDF with no text: one page per entry of ``images``, each a
    dict with keys head_extra/body (pre-built image object pieces)."""
    objs = {}
    n_pages = len(images)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    kid_nums = [10 + 3 * i for i in range(n_pages)]
    kids = b" ".join(b"%d 0 R" % k for k in kid_nums)
    objs[2] = b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    for i, img in enumerate(images):
        pnum, cnum, inum = 10 + 3 * i, 11 + 3 * i, 12 + 3 * i
        if indirect_resources:
            rnum = 50 + i
            objs[rnum] = b"<< /XObject << /Im0 %d 0 R >> >>" % inum
            res = b"/Resources %d 0 R" % rnum
        else:
            res = b"/Resources << /XObject << /Im0 %d 0 R >> >>" % inum
        objs[pnum] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R " % cnum + res + b" >>"
        )
        content = b"q 612 0 0 792 0 0 cm /Im0 Do Q"
        objs[cnum] = (
            b"<< /Length %d >>\nstream\n" % len(content)
            + content + b"\nendstream"
        )
        objs[inum] = img
    out = bytearray(b"%PDF-1.4\n")
    for num in sorted(objs):
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


def _flate_image(arr, decode_inverted=False):
    """A FlateDecode /Subtype /Image object from an (h, w) gray or
    (h, w, 3) RGB uint8 array."""
    import numpy as np

    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    body = zlib.compress(arr.tobytes())
    cs = b"/DeviceGray" if gray else b"/DeviceRGB"
    dec = b" /Decode [1 0]" if decode_inverted else b""
    return (
        b"<< /Type /XObject /Subtype /Image /Width %d /Height %d " % (w, h)
        + b"/ColorSpace " + cs + b" /BitsPerComponent 8"
        + dec
        + b" /Filter /FlateDecode /Length %d >>\nstream\n" % len(body)
        + body + b"\nendstream"
    )


def test_extract_pdf_images_flate_to_pnm():
    """Flate-compressed raw samples come out as binary PNM payloads
    the multimodal ladder decodes to the EXACT source pixels."""
    import numpy as np

    from opencosmo_spark.pipeline.multimodal import _decode_pnm
    from opencosmo_spark.pipeline.pdf import (
        extract_pdf_images,
        extract_pdf_text,
    )

    rng = np.random.default_rng(5)
    gray = rng.integers(0, 256, (6, 9), dtype=np.uint8)
    rgb = rng.integers(0, 256, (4, 5, 3), dtype=np.uint8)
    pdf = make_scanned_pdf([_flate_image(gray), _flate_image(rgb)])
    assert extract_pdf_text(pdf)[2] == "pdf-images"
    imgs = extract_pdf_images(pdf)
    assert [(p, f) for p, f, _ in imgs] == [(0, "pnm"), (1, "pnm")]
    got_g = _decode_pnm(imgs[0][2])
    np.testing.assert_array_equal(got_g, np.repeat(gray[..., None], 3, 2))
    got_rgb = _decode_pnm(imgs[1][2])
    np.testing.assert_array_equal(got_rgb, rgb)

    # /Decode [1 0] inversion honored
    inv = make_scanned_pdf([_flate_image(gray, decode_inverted=True)])
    got_i = _decode_pnm(extract_pdf_images(inv)[0][2])
    np.testing.assert_array_equal(
        got_i, np.repeat((255 - gray)[..., None], 3, 2)
    )

    # indirect /Resources dict resolves the same
    ind = make_scanned_pdf([_flate_image(rgb)], indirect_resources=True)
    np.testing.assert_array_equal(
        _decode_pnm(extract_pdf_images(ind)[0][2]), rgb
    )


@_needs("jpeg")
def test_extract_pdf_images_dct_passthrough():
    """DCTDecode image streams ARE JPEG files: the payload passes
    through byte-identical and the image decode ladder's JPEG decoder
    reads it."""
    import numpy as np

    from test_analysis_multimodal import _assert_idct_close, _make_jpeg

    from opencosmo_spark.pipeline.native_codecs import decode_jpeg_native
    from opencosmo_spark.pipeline.pdf import extract_pdf_images

    rng = np.random.default_rng(9)
    low = rng.normal(128, 40, (2, 3, 3))
    rgb = np.clip(
        np.kron(low, np.ones((8, 8, 1))), 0, 255
    ).astype(np.uint8)
    jpeg, expected = _make_jpeg(rgb)
    img_obj = (
        b"<< /Type /XObject /Subtype /Image /Width 24 /Height 16 "
        b"/ColorSpace /DeviceRGB /BitsPerComponent 8 "
        b"/Filter /DCTDecode /Length %d >>\nstream\n" % len(jpeg)
        + jpeg + b"\nendstream"
    )
    pdf = make_scanned_pdf([img_obj])
    imgs = extract_pdf_images(pdf)
    assert len(imgs) == 1 and imgs[0][:2] == (0, "jpeg")
    assert imgs[0][2] == jpeg  # byte-identical passthrough
    _assert_idct_close(decode_jpeg_native(imgs[0][2]), expected)

    # a hex-wrapped DCT chain unwraps to the same JPEG
    hexed = jpeg.hex().encode() + b">"
    img2 = (
        b"<< /Type /XObject /Subtype /Image /Width 24 /Height 16 "
        b"/ColorSpace /DeviceRGB /BitsPerComponent 8 "
        b"/Filter [/ASCIIHexDecode /DCTDecode] /Length %d >>\nstream\n"
        % len(hexed) + hexed + b"\nendstream"
    )
    assert extract_pdf_images(make_scanned_pdf([img2]))[0][2] == jpeg


def test_extract_pdf_images_bilevel_and_mask():
    """1-bit images unpack to 0/255 PGM with row byte-padding; an
    /ImageMask paints where the sample is 0, so it inverts."""
    import numpy as np

    from opencosmo_spark.pipeline.multimodal import _decode_pnm
    from opencosmo_spark.pipeline.pdf import extract_pdf_images

    bits = np.array(
        [[1, 0, 1, 0, 1, 0, 1, 0, 1, 1], [0] * 10, [1] * 10],
        dtype=np.uint8,
    )
    packed = np.packbits(bits, axis=1).tobytes()
    body = zlib.compress(packed)
    img = (
        b"<< /Type /XObject /Subtype /Image /Width 10 /Height 3 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 1 "
        b"/Filter /FlateDecode /Length %d >>\nstream\n" % len(body)
        + body + b"\nendstream"
    )
    got = _decode_pnm(extract_pdf_images(make_scanned_pdf([img]))[0][2])
    np.testing.assert_array_equal(got[:, :, 0], bits * 255)

    maskimg = img.replace(
        b"/ColorSpace /DeviceGray /BitsPerComponent 1",
        b"/ImageMask true /BitsPerComponent 1",
    )
    got_m = _decode_pnm(
        extract_pdf_images(make_scanned_pdf([maskimg]))[0][2]
    )
    np.testing.assert_array_equal(got_m[:, :, 0], (1 - bits) * 255)


def test_extract_pdf_images_honest_refusals():
    """Out-of-reach codecs/color spaces and junk yield nothing — no
    exception, no garbled payload."""
    import numpy as np

    from opencosmo_spark.pipeline.pdf import extract_pdf_images

    rng = np.random.default_rng(1)
    g4 = (
        b"<< /Type /XObject /Subtype /Image /Width 8 /Height 8 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 1 "
        b"/Filter /CCITTFaxDecode /Length 4 >>\nstream\nabcd\nendstream"
    )
    assert extract_pdf_images(make_scanned_pdf([g4])) == []
    cmyk = _flate_image(rng.integers(0, 256, (4, 4), dtype=np.uint8))
    cmyk = cmyk.replace(b"/DeviceGray", b"/DeviceCMYK")
    assert extract_pdf_images(make_scanned_pdf([cmyk])) == []
    truncated = _flate_image(rng.integers(0, 256, (4, 4), dtype=np.uint8))
    truncated = truncated.replace(b"/Width 4", b"/Width 400")
    assert extract_pdf_images(make_scanned_pdf([truncated])) == []
    assert extract_pdf_images(b"not a pdf") == []
    assert extract_pdf_images(None) == []


def test_pdf_to_images_spark_composes_with_ladder(spark, tmp_path):
    """pdf_to_images over a binaryFile source fans each file into
    ladder-decodable rows; decode_image_features stamps them with
    REAL codec tiers (pnm/jpeg), image_metadata reads their headers,
    and pdf_to_documents labels the same files pdf-images."""
    import numpy as np
    from pyspark.sql import functions as F

    from opencosmo_spark.pipeline.multimodal import (
        decode_image_features,
        image_metadata,
    )
    from opencosmo_spark.pipeline.pdf import pdf_to_documents, pdf_to_images

    rng = np.random.default_rng(3)
    d = tmp_path / "scans"
    d.mkdir()
    gray = rng.integers(0, 256, (12, 7), dtype=np.uint8)
    rgb = rng.integers(0, 256, (5, 8, 3), dtype=np.uint8)
    (d / "two_pages.pdf").write_bytes(
        make_scanned_pdf([_flate_image(gray), _flate_image(rgb)])
    )
    (d / "text_only.pdf").write_bytes(make_pdf([b"BT (hello) Tj ET"]))

    files = spark.read.format("binaryFile").load(str(d))
    imgs = pdf_to_images(files)
    rows = imgs.orderBy("page").collect()
    assert [r.page for r in rows] == [0, 1]
    assert all(r.payload_format == "pnm" for r in rows)
    assert rows[0].media_id == f"{rows[0].doc_id}/0/0"

    feat = decode_image_features(imgs).select("media_id", "decoder")
    assert set(r.decoder for r in feat.collect()) == {"pnm"}
    meta = image_metadata(imgs).orderBy("page").collect()
    assert (meta[0].img_width, meta[0].img_height) == (7, 12)
    assert (meta[1].img_width, meta[1].img_height) == (8, 5)

    docs = pdf_to_documents(files).collect()
    by_url = {r.url.rsplit("/", 1)[-1]: r.extractor for r in docs}
    assert by_url["two_pages.pdf"] == "pdf-images"
    assert by_url["text_only.pdf"] == "pdf-text"


# --- RC4 standard security handler (r13) -----------------------------

def rc4_twin(key, data):
    """Test-local RC4 (independent of the module's)."""
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) % 256
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for b in data:
        i = (i + 1) % 256
        j = (j + s[i]) % 256
        s[i], s[j] = s[j], s[i]
        out.append(b ^ s[(s[i] + s[j]) % 256])
    return bytes(out)


_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def rc4_encrypt_pdf(pdf, r=3, length=128, user_pw=b"", owner_pw=b"hunter2",
                    p=-44):
    """Independent transcription of PDF 32000-1 §7.6.3 Algorithms
    2/3/4/5 (the ENCRYPT direction) over a make_pdf-style fixture:
    every stream is RC4'd under its per-object key, an /Encrypt
    object is appended, and the trailer gains /Encrypt + /ID."""
    import hashlib
    import re as _re
    import struct

    n = 5 if r == 2 else length // 8
    id0 = hashlib.md5(pdf).digest()
    # Algorithm 3: /O from the owner password
    h = hashlib.md5((owner_pw + _PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    okey = h[:n]
    o = rc4_twin(okey, (user_pw + _PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            o = rc4_twin(bytes(b ^ i for b in okey), o)
    # Algorithm 2: the file encryption key from the USER password
    h = hashlib.md5(
        (user_pw + _PAD)[:32] + o + struct.pack("<i", p) + id0
    ).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    key = h[:n]
    # Algorithm 4/5: /U
    if r == 2:
        u = rc4_twin(key, _PAD)
    else:
        u = rc4_twin(key, hashlib.md5(_PAD + id0).digest())
        for i in range(1, 20):
            u = rc4_twin(bytes(b ^ i for b in key), u)
        u = u + b"\x00" * 16  # arbitrary 16-byte pad per spec

    # re-serialize with encrypted streams
    out = bytearray()
    pos = 0
    max_num = 0
    for m in _re.finditer(rb"(\d+)\s+0\s+obj", pdf):
        num = int(m.group(1))
        max_num = max(max_num, num)
        end = pdf.find(b"endobj", m.end())
        body = pdf[m.end():end]
        sm = _re.search(rb"stream\r?\n", body)
        if sm:
            head = body[: sm.start()]
            lm = _re.search(rb"/Length\s+(\d+)", head)
            ln = int(lm.group(1))
            raw = body[sm.end() : sm.end() + ln]
            okey_obj = hashlib.md5(
                key + num.to_bytes(3, "little") + b"\x00\x00"
            ).digest()[: min(n + 5, 16)]
            enc_body = body[: sm.end()] + rc4_twin(okey_obj, raw) + \
                body[sm.end() + ln :]
        else:
            enc_body = body
        out += pdf[pos : m.start()]
        out += pdf[m.start() : m.end()] + enc_body + b"endobj"
        pos = end + len(b"endobj")
    out += pdf[pos:]

    enum = max_num + 9
    enc_obj = (
        b"%d 0 obj\n<< /Filter /Standard /V %d /R %d /Length %d "
        b"/P %d /O <%s> /U <%s> >>\nendobj\n"
        % (
            enum, 1 if r == 2 else 2, r, length, p,
            o.hex().encode(), u.hex().encode(),
        )
    )
    t_at = out.find(b"trailer")
    out[t_at:t_at] = enc_obj
    # add /Encrypt + /ID into the trailer dict
    tdict_end = out.find(b">>", out.find(b"trailer"))
    extra = b" /Encrypt %d 0 R /ID [<%s> <%s>]" % (
        enum, id0.hex().encode(), id0.hex().encode()
    )
    out[tdict_end:tdict_end] = extra
    return bytes(out)


@pytest.mark.parametrize("r,length", [(2, 40), (3, 128), (3, 40)])
def test_encrypted_empty_user_password_decrypts(r, length):
    """Owner-password-only files (empty USER password) decrypt and
    extract under their real ledger labels — RC4 40 and 128 bit,
    revisions 2 and 3 — via an independent encrypt-twin of the spec
    algorithms."""
    from opencosmo_spark.pipeline.pdf import extract_pdf_text

    pdf = make_pdf(
        [b"BT (now readable) Tj ET", b"BT (page two) Tj ET"],
        compress=True,
    )
    enc = rc4_encrypt_pdf(pdf, r=r, length=length)
    assert extract_pdf_text(enc) == ("now readable\n\npage two", 2, "pdf-text")


def test_encrypted_real_password_stays_locked():
    """A real user password keeps the honest pdf-encrypted ledger —
    no silent garbage extraction; a V4 dict with an UNKNOWN crypt
    filter (no /CF) is locked rather than guessed at."""
    from opencosmo_spark.pipeline.pdf import extract_pdf_text

    pdf = make_pdf([b"BT (secret) Tj ET"])
    locked = rc4_encrypt_pdf(pdf, user_pw=b"hunter2")
    assert extract_pdf_text(locked) == ("", 1, "pdf-encrypted")

    # V4 claimed with no crypt-filter dict: unknown scheme, locked
    enc = rc4_encrypt_pdf(pdf)
    aes = enc.replace(b"/Filter /Standard /V 2 /R 3",
                      b"/Filter /Standard /V 4 /R 4")
    assert extract_pdf_text(aes) == ("", 1, "pdf-encrypted")


def test_encrypted_scanned_pdf_images_extract():
    """Decryption composes with the image path: an owner-locked
    scanned PDF yields pdf-images and its page images decode."""
    import numpy as np

    from opencosmo_spark.pipeline.multimodal import _decode_pnm
    from opencosmo_spark.pipeline.pdf import (
        extract_pdf_images,
        extract_pdf_text,
    )

    rng = np.random.default_rng(21)
    gray = rng.integers(0, 256, (5, 6), dtype=np.uint8)
    pdf = make_scanned_pdf([_flate_image(gray)])
    enc = rc4_encrypt_pdf(pdf)
    assert extract_pdf_text(enc)[2] == "pdf-images"
    imgs = extract_pdf_images(enc)
    assert len(imgs) == 1
    np.testing.assert_array_equal(
        _decode_pnm(imgs[0][2]), np.repeat(gray[..., None], 3, 2)
    )
    # and the locked variant yields nothing
    locked = rc4_encrypt_pdf(pdf, user_pw=b"nope")
    assert extract_pdf_images(locked) == []
    assert extract_pdf_text(locked)[2] == "pdf-encrypted"


def test_extract_pdf_images_indexed_palette():
    """/Indexed color spaces (1/2/4/8-bit indices, lookup string OR
    lookup stream) map through the palette to exact PNM pixels."""
    import numpy as np

    from opencosmo_spark.pipeline.multimodal import _decode_pnm
    from opencosmo_spark.pipeline.pdf import extract_pdf_images

    rng = np.random.default_rng(8)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (5, 7), dtype=np.uint8)

    def packed(bpc):
        bits = ((idx[..., None] >> np.arange(bpc - 1, -1, -1)) & 1)
        flat = bits.reshape(idx.shape[0], -1).astype(np.uint8)
        pad = (-flat.shape[1]) % 8
        flat = np.pad(flat, ((0, 0), (0, pad)))
        return np.packbits(flat, axis=1).tobytes()

    for bpc in (4, 8):
        samples = packed(bpc) if bpc < 8 else idx.tobytes()
        body = zlib.compress(samples)
        img = (
            b"<< /Type /XObject /Subtype /Image /Width 7 /Height 5 "
            b"/ColorSpace [/Indexed /DeviceRGB 15 <"
            + pal.tobytes().hex().encode() + b">] "
            b"/BitsPerComponent %d /Filter /FlateDecode "
            b"/Length %d >>\nstream\n" % (bpc, len(body))
            + body + b"\nendstream"
        )
        imgs = extract_pdf_images(make_scanned_pdf([img]))
        assert len(imgs) == 1 and imgs[0][1] == "pnm", bpc
        np.testing.assert_array_equal(_decode_pnm(imgs[0][2]), pal[idx])

    # 1-bit indexed over a gray base via a lookup STREAM object
    bidx = (idx % 2).astype(np.uint8)
    packedb = np.packbits(
        np.pad(bidx, ((0, 0), (0, (-7) % 8))), axis=1
    ).tobytes()
    body = zlib.compress(packedb)
    lk = zlib.compress(bytes([10, 240]))  # gray palette: dark, light
    img = (
        b"<< /Type /XObject /Subtype /Image /Width 7 /Height 5 "
        b"/ColorSpace [/Indexed /DeviceGray 1 90 0 R] "
        b"/BitsPerComponent 1 /Filter /FlateDecode "
        b"/Length %d >>\nstream\n" % len(body)
        + body + b"\nendstream"
    )
    pdf = make_scanned_pdf([img])
    lkobj = (
        b"90 0 obj\n<< /Filter /FlateDecode /Length %d >>\nstream\n"
        % len(lk) + lk + b"\nendstream\nendobj\n"
    )
    t_at = pdf.find(b"trailer")
    pdf = pdf[:t_at] + lkobj + pdf[t_at:]
    imgs = extract_pdf_images(pdf)
    assert len(imgs) == 1
    want = np.array([10, 240], np.uint8)[bidx]
    np.testing.assert_array_equal(
        _decode_pnm(imgs[0][2])[:, :, 0], want
    )

    # out-of-range index or short palette refuses
    bad = img.replace(b"/DeviceGray 1 90 0 R", b"/DeviceGray 0 90 0 R")
    pdf_bad = make_scanned_pdf([bad])
    pdf_bad = pdf_bad[: pdf_bad.find(b"trailer")] + lkobj \
        + pdf_bad[pdf_bad.find(b"trailer"):]
    assert extract_pdf_images(pdf_bad) == []


def test_aes_core_fips_kat():
    """The from-definition AES core matches the FIPS-197 Appendix C
    known-answer vectors (128 and 256 bit) in both directions — the
    external pin that keeps the AES-based PDF handlers from being
    self-referential."""
    from opencosmo_spark.pipeline.pdf import (
        _aes_decrypt_block,
        _aes_encrypt_block,
        _aes_expand,
    )

    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
    w, nr = _aes_expand(key)
    assert _aes_encrypt_block(w, nr, pt) == ct
    assert _aes_decrypt_block(w, nr, ct) == pt
    key256 = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f"
        "101112131415161718191a1b1c1d1e1f"
    )
    ct256 = bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
    w, nr = _aes_expand(key256)
    assert _aes_encrypt_block(w, nr, pt) == ct256
    assert _aes_decrypt_block(w, nr, ct256) == pt


def _aes_cbc_pad_encrypt(key, iv, data):
    """PKCS#7-padded AES-CBC with prepended IV (the PDF stream form)
    for the fixtures — built on the KAT-pinned forward cipher."""
    from opencosmo_spark.pipeline.pdf import _aes_cbc_encrypt_raw

    pad = 16 - len(data) % 16
    return iv + _aes_cbc_encrypt_raw(key, iv, data + bytes([pad]) * pad)


def aes_encrypt_pdf(pdf, user_pw=b"", owner_pw=b"hunter2", p=-44):
    """V4/AESV2 encrypt-twin: RC4-era key derivation (Algorithms
    2/3/4-5 at R4 = R3 forms) transcribed independently, streams
    AES-128-CBC under per-object keys with the sAlT salt. The AES
    block core itself is the module's — acceptable because the FIPS
    KAT test pins it externally."""
    import hashlib
    import re as _re
    import struct

    n = 16
    id0 = hashlib.md5(pdf).digest()
    h = hashlib.md5((owner_pw + _PAD)[:32]).digest()
    for _ in range(50):
        h = hashlib.md5(h).digest()
    okey = h[:n]
    o = rc4_twin(okey, (user_pw + _PAD)[:32])
    for i in range(1, 20):
        o = rc4_twin(bytes(b ^ i for b in okey), o)
    h = hashlib.md5(
        (user_pw + _PAD)[:32] + o + struct.pack("<i", p) + id0
    ).digest()
    for _ in range(50):
        h = hashlib.md5(h[:n]).digest()
    key = h[:n]
    u = rc4_twin(key, hashlib.md5(_PAD + id0).digest())
    for i in range(1, 20):
        u = rc4_twin(bytes(b ^ i for b in key), u)
    u = u + b"\x00" * 16

    out = bytearray()
    pos = 0
    max_num = 0
    iv_ctr = 0
    for m in _re.finditer(rb"(\d+)\s+0\s+obj", pdf):
        num = int(m.group(1))
        max_num = max(max_num, num)
        end = pdf.find(b"endobj", m.end())
        body = pdf[m.end():end]
        sm = _re.search(rb"stream\r?\n", body)
        if sm:
            head = body[: sm.start()]
            lm = _re.search(rb"/Length\s+(\d+)", head)
            ln = int(lm.group(1))
            raw = body[sm.end() : sm.end() + ln]
            okey_obj = hashlib.md5(
                key + num.to_bytes(3, "little") + b"\x00\x00" + b"sAlT"
            ).digest()[:16]
            iv_ctr += 1
            iv = hashlib.md5(b"iv%d" % iv_ctr).digest()
            enc = _aes_cbc_pad_encrypt(okey_obj, iv, raw)
            new_head = _re.sub(
                rb"/Length\s+\d+", b"/Length %d" % len(enc), head
            )
            enc_body = (new_head + body[sm.start() : sm.end()] + enc
                        + b"\nendstream")
        else:
            enc_body = body
        out += pdf[pos : m.start()]
        out += pdf[m.start() : m.end()] + enc_body + b"endobj"
        pos = end + len(b"endobj")
    out += pdf[pos:]

    enum = max_num + 9
    enc_obj = (
        b"%d 0 obj\n<< /Filter /Standard /V 4 /R 4 /Length 128 "
        b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
        b"/StmF /StdCF /StrF /StdCF "
        b"/P %d /O <%s> /U <%s> >>\nendobj\n"
        % (enum, p, o.hex().encode(), u.hex().encode())
    )
    t_at = out.find(b"trailer")
    out[t_at:t_at] = enc_obj
    tdict_end = out.find(b">>", out.find(b"trailer"))
    out[tdict_end:tdict_end] = b" /Encrypt %d 0 R /ID [<%s> <%s>]" % (
        enum, id0.hex().encode(), id0.hex().encode()
    )
    return bytes(out)


def aes256_encrypt_pdf(pdf, user_pw=b"", r=6):
    """V5 (AES-256) encrypt-twin, R5 and R6: U = hash + validation
    salt + key salt, UE wraps the random file key under the
    key-salt-derived intermediate key (zero-IV CBC), streams
    AES-256-CBC under the file key directly."""
    import hashlib
    import re as _re

    from opencosmo_spark.pipeline.pdf import (
        _aes_cbc_encrypt_raw,
        _hash_2b,
    )

    vsalt = hashlib.md5(b"vs" + pdf[:32]).digest()[:8]
    ksalt = hashlib.md5(b"ks" + pdf[:32]).digest()[:8]
    filekey = hashlib.sha256(b"filekey" + pdf[:16]).digest()
    if r == 5:
        uhash = hashlib.sha256(user_pw + vsalt).digest()
        ik = hashlib.sha256(user_pw + ksalt).digest()
    else:
        uhash = _hash_2b(user_pw, vsalt)
        ik = _hash_2b(user_pw, ksalt)
    u = uhash + vsalt + ksalt
    ue = _aes_cbc_encrypt_raw(ik, b"\x00" * 16, filekey)
    o = hashlib.sha256(b"owner-entry-unused").digest() + b"\x00" * 16

    out = bytearray()
    pos = 0
    max_num = 0
    iv_ctr = 0
    for m in _re.finditer(rb"(\d+)\s+0\s+obj", pdf):
        num = int(m.group(1))
        max_num = max(max_num, num)
        end = pdf.find(b"endobj", m.end())
        body = pdf[m.end():end]
        sm = _re.search(rb"stream\r?\n", body)
        if sm:
            head = body[: sm.start()]
            lm = _re.search(rb"/Length\s+(\d+)", head)
            ln = int(lm.group(1))
            raw = body[sm.end() : sm.end() + ln]
            iv_ctr += 1
            iv = hashlib.md5(b"v5iv%d" % iv_ctr).digest()
            enc = _aes_cbc_pad_encrypt(filekey, iv, raw)
            new_head = _re.sub(
                rb"/Length\s+\d+", b"/Length %d" % len(enc), head
            )
            enc_body = (new_head + body[sm.start() : sm.end()] + enc
                        + b"\nendstream")
        else:
            enc_body = body
        out += pdf[pos : m.start()]
        out += pdf[m.start() : m.end()] + enc_body + b"endobj"
        pos = end + len(b"endobj")
    out += pdf[pos:]

    enum = max_num + 9
    enc_obj = (
        b"%d 0 obj\n<< /Filter /Standard /V 5 /R %d /Length 256 "
        b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
        b"/StmF /StdCF /StrF /StdCF /P -44 "
        b"/O <%s> /U <%s> /UE <%s> /OE <%s> >>\nendobj\n"
        % (enum, r, o.hex().encode(), u.hex().encode(),
           ue.hex().encode(), (b"\x00" * 32).hex().encode())
    )
    t_at = out.find(b"trailer")
    out[t_at:t_at] = enc_obj
    tdict_end = out.find(b">>", out.find(b"trailer"))
    out[tdict_end:tdict_end] = b" /Encrypt %d 0 R" % enum
    return bytes(out)


def test_aesv2_empty_user_password_decrypts():
    """V4/AESV2 (AES-128-CBC crypt filter) owner-locked files decrypt
    with the empty user password and extract as pdf-text; a real
    user password stays locked."""
    from opencosmo_spark.pipeline.pdf import extract_pdf_text

    pdf = make_pdf(
        [b"BT (aes one) Tj ET", b"BT (aes two) Tj ET"], compress=True
    )
    enc = aes_encrypt_pdf(pdf)
    assert extract_pdf_text(enc) == ("aes one\n\naes two", 2, "pdf-text")
    locked = aes_encrypt_pdf(pdf, user_pw=b"secret")
    assert extract_pdf_text(locked) == ("", 2, "pdf-encrypted")


@pytest.mark.parametrize("r", [5, 6])
def test_aes256_empty_user_password_decrypts(r):
    """V5 (AES-256) files — R5's simple SHA-256 and R6's Algorithm
    2.B hardened hash — unwrap the file key from /UE with the empty
    user password and extract; wrong passwords stay locked."""
    from opencosmo_spark.pipeline.pdf import extract_pdf_text

    pdf = make_pdf([b"BT (top secret cleartext) Tj ET"], compress=True)
    enc = aes256_encrypt_pdf(pdf, r=r)
    assert extract_pdf_text(enc) == ("top secret cleartext", 1, "pdf-text")
    locked = aes256_encrypt_pdf(pdf, user_pw=b"pw", r=r)
    assert extract_pdf_text(locked) == ("", 1, "pdf-encrypted")


def test_extract_pdf_images_inherited_resources():
    """/Resources inherited from an ancestor /Pages node (PDF 32000-1
    Table 29) still resolves the page's image XObjects with correct
    page association."""
    import numpy as np

    from opencosmo_spark.pipeline.multimodal import _decode_pnm
    from opencosmo_spark.pipeline.pdf import extract_pdf_images

    rng = np.random.default_rng(30)
    gray = rng.integers(0, 256, (4, 6), dtype=np.uint8)
    img = _flate_image(gray)
    content = b"q /Im0 Do Q"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids [4 0 R] /Count 1 "
            b"/Resources << /XObject << /Im0 12 0 R >> >> >>"),
        4: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
        5: (b"<< /Length %d >>\nstream\n" % len(content)
            + content + b"\nendstream"),
        12: img,
    }
    out = bytearray(b"%PDF-1.4\n")
    for num in sorted(objs):
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    imgs = extract_pdf_images(bytes(out))
    assert len(imgs) == 1 and imgs[0][0] == 0  # page-associated, not -1
    np.testing.assert_array_equal(
        _decode_pnm(imgs[0][2]), np.repeat(gray[..., None], 3, 2)
    )
