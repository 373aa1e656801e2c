"""Web-crawl ingestion: WARC record parsing and HTML-to-text
extraction — the stage BEFORE everything else in the published
corpus recipes (C4, RefinedWeb, and Dolma all start from Common-Crawl
WARC/WET archives; Raffel et al. 2020 §2.2, Penedo et al. 2023 §3).

WARC (ISO 28500, public spec) is a sequence of records, each a
``WARC/1.x`` header block (RFC-822-style headers incl.
``Content-Length``) followed by that many payload bytes; ``response``
records carry a full HTTP response (status line, headers, body).
Archives ship as plain ``.warc`` or gzip members concatenated into
``.warc.gz`` (stdlib ``gzip`` decodes multi-member streams).

Scale shape: Spark's ``binaryFile`` source lists and distributes the
archive FILES; each file is parsed inside one Arrow-batched
``mapInPandas`` task with a pure-python scanner (record framing is
byte-exact off ``Content-Length`` — no regex over payloads). One
crawl segment file is one task: the natural WARC parallelism unit,
exactly how the reference recipes shard the crawl. ``binaryFile``
materializes a whole archive per task — right for the ~1 GB segment
files crawls actually ship; re-chunk anything larger upstream. The
HTML-to-text path is a pure JVM ``regexp_replace`` chain fused into
the scan — no Python in that hot path.
"""

from __future__ import annotations

import gzip
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

WARC_SCHEMA = T.StructType(
    [
        T.StructField("source_file", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("http_content_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def parse_warc_records(data: bytes) -> list[dict]:
    """Pure-python WARC scanner: returns one dict per record with the
    standard headers and the raw payload block. Framing is byte-exact
    off ``Content-Length`` (never a regex over payloads); a malformed
    record ends the scan rather than guessing at boundaries.
    Transparently inflates gzip input (incl. the concatenated
    per-record members of ``.warc.gz``)."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    out: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and data[pos : pos + 2] in (b"\r\n",) :
            pos += 2
        if pos >= n:
            break
        if not data[pos : pos + 5] == b"WARC/":
            break  # not at a record boundary: stop, don't guess
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            break
        headers: dict[str, str] = {}
        for line in data[pos:head_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            if _:
                headers[k.strip().decode("ascii", "replace").lower()] = (
                    v.strip().decode("utf-8", "replace")
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            break
        body_start = head_end + 4
        if body_start + length > n:
            break  # truncated record
        out.append(
            {
                "record_id": headers.get("warc-record-id"),
                "warc_type": headers.get("warc-type"),
                "target_uri": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "content_type": headers.get("content-type"),
                "payload": data[body_start : body_start + length],
            }
        )
        pos = body_start + length
    return out


def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked-transfer body (RFC 9112 §7.1) —
    crawls archive response bytes verbatim, so chunked bodies arrive
    with their hex size lines embedded. Malformed framing returns the
    body unmodified rather than corrupting it."""
    out = []
    pos = 0
    n = len(body)
    while pos < n:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            return body
        size_token = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_token, 16)
        except ValueError:
            return body
        if size == 0:
            break  # terminal chunk; trailers ignored
        start = eol + 2
        if start + size > n:
            return body
        out.append(body[start : start + size])
        pos = start + size + 2  # skip the chunk's trailing CRLF
    return b"".join(out)


def split_http_response(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """Split an HTTP response block into (status, content-type, body).
    Returns ``(None, None, payload)`` when the block is not an HTTP
    response (e.g. a WET conversion record's bare text). Chunked
    transfer encoding is decoded (crawl archives store the raw
    response bytes); gzip/deflate content-encoding is inflated."""
    if not payload[:5] == b"HTTP/":
        return None, None, payload
    head_end = payload.find(b"\r\n\r\n")
    if head_end < 0:
        return None, None, payload
    lines = payload[:head_end].split(b"\r\n")
    parts = lines[0].split(b" ", 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None, payload
    ctype = None
    chunked = False
    cenc = b""
    for line in lines[1:]:
        k, _, v = line.partition(b":")
        key = k.strip().lower()
        if key == b"content-type" and ctype is None:
            ctype = v.strip().decode("utf-8", "replace")
        elif key == b"transfer-encoding":
            chunked = b"chunked" in v.strip().lower()
        elif key == b"content-encoding":
            cenc = v.strip().lower()
    body = payload[head_end + 4 :]
    if chunked:
        body = _dechunk(body)
    if cenc in (b"gzip", b"x-gzip") and body[:2] == b"\x1f\x8b":
        try:
            body = gzip.decompress(body)
        except OSError:
            pass  # torn/misdeclared stream: keep raw bytes
    elif cenc == b"deflate":
        import zlib

        for wbits in (zlib.MAX_WBITS, -zlib.MAX_WBITS):
            try:
                body = zlib.decompress(body, wbits)
                break
            except zlib.error:
                continue
    return status, ctype, body


def _parse_warc_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel shared by the batch and streaming readers."""
    for pdf in batches:
        rows = []
        for fpath, blob in zip(pdf["path"], pdf["content"]):
            for rec in parse_warc_records(bytes(blob)):
                status, http_ct, body = split_http_response(rec["payload"])
                rows.append(
                    (
                        fpath,
                        rec["record_id"],
                        rec["warc_type"],
                        rec["target_uri"],
                        rec["warc_date"],
                        rec["content_type"],
                        status,
                        http_ct,
                        body,
                    )
                )
        yield pd.DataFrame(rows, columns=[f.name for f in WARC_SCHEMA])


def read_warc(
    spark,
    path: str,
    response_only: bool = True,
    path_glob: str = "*.warc*",
) -> DataFrame:
    """Distributed WARC ingestion: one row per record with the parsed
    WARC headers, the HTTP status/content-type (response records), and
    the payload BODY as binary. ``response_only`` keeps only
    ``response``/``conversion`` records (the ones with document
    content — request/metadata/warcinfo records are plumbing).

    Files parallelize across tasks via the ``binaryFile`` source;
    parsing happens executor-side in ``mapInPandas``. Everything
    downstream (HTML extraction, quality, dedup) is ordinary column
    work on the result.
    """
    src = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", path_glob)
        .load(path)
        .select("path", "content")
    )
    out = src.mapInPandas(_parse_warc_batches, WARC_SCHEMA)
    if response_only:
        out = out.filter(F.col("warc_type").isin("response", "conversion"))
    return out


# the binaryFile source's fixed schema — streaming file sources
# require it declared up front
_BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def read_warc_stream(
    spark,
    path: str,
    response_only: bool = True,
    path_glob: str = "*.warc*",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``read_warc``: a continuously-ingesting crawl
    drops finished segment files into a directory and this source
    picks each up exactly once (the file-source commit log dedups
    across restarts). Same record schema, same executor-side parser;
    compose with ``warc_to_documents`` and
    ``streaming.corpus_dedup_stream`` for the live-ingest pipeline.
    ``max_files_per_trigger`` bounds segments per micro-batch — one
    ~1 GB WARC segment is one task, so this is the batch-size knob.
    """
    reader = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", path_glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    src = reader.load(path).select("path", "content")
    out = src.mapInPandas(_parse_warc_batches, WARC_SCHEMA)
    if response_only:
        out = out.filter(F.col("warc_type").isin("response", "conversion"))
    return out


def html_to_text(col: Column | str) -> Column:
    """HTML -> plain text as a pure JVM ``regexp_replace`` chain (the
    boilerplate-light extraction step; scan-fused, no Python):

    1. drop ``<script>``/``<style>``/``<noscript>`` blocks and
       comments entirely (their content is never prose),
    2. block-level closers/openers (``p, div, br, li, tr, h1-6,
       blockquote, section, article``) become newlines so line-based
       cleaning (``c4_clean``, ``line_dedup``) sees real lines,
    3. every remaining tag is stripped,
    4. the five XML entities plus ``&nbsp;``/``&#39;`` decode,
    5. horizontal whitespace collapses within lines; blank-line runs
       collapse to one; edges trim.

    A regex chain is deliberately NOT a browser: malformed nesting
    degrades to extra whitespace, never to dropped prose. For
    DOM-accurate extraction plug a real parser into the ``read_warc``
    output with ``mapInPandas`` — this chain is the dependency-free
    default, good enough for the C4-style recipes built on WET text.
    """
    c = F.col(col) if isinstance(col, str) else col
    # 1. containers whose content is never prose, then comments
    c = F.regexp_replace(c, r"(?is)<(script|style|noscript)\b[^>]*>.*?</\1\s*>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    # 2. block boundaries -> newlines (open or close tags)
    c = F.regexp_replace(
        c,
        r"(?i)</?(p|div|br|li|ul|ol|tr|table|h[1-6]|blockquote|section|article|header|footer)\b[^>]*>",
        "\n",
    )
    # 3. strip every remaining tag
    c = F.regexp_replace(c, r"(?s)<[^>]+>", " ")
    # 4. common entities
    for ent, rep in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&apos;", "'"),
        ("&amp;", "&"),  # last, so &amp;lt; decodes to &lt; not <
    ):
        c = F.regexp_replace(c, ent, rep)
    # 5. whitespace normalization, preserving line structure
    c = F.regexp_replace(c, r"[ \t\x0b\f\r]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{2,}", "\n")
    # F.trim strips spaces only — boundary newlines go here
    c = F.regexp_replace(c, r"^\n+|\n+$", "")
    return F.trim(c)


_BLOCK_TAGS = frozenset(
    "p div br li ul ol tr td table h1 h2 h3 h4 h5 h6 blockquote "
    "section article header footer nav aside form pre dl dd dt "
    "figure figcaption main body".split()
)
_SKIP_TAGS = frozenset("script style noscript svg template iframe".split())


def _html_blocks(html: str) -> list[tuple[str, int, int]]:
    """Parse HTML into text BLOCKS with link-word accounting:
    [(block_text, n_words, n_link_words)] in document order. Stdlib
    ``html.parser`` (tolerant of malformed markup), script/style/svg
    subtree content skipped, entities decoded by the parser."""
    from html.parser import HTMLParser

    blocks: list[tuple[str, int, int]] = []

    class P(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.skip = 0
            self.a_depth = 0
            self.parts: list[str] = []
            self.words = 0
            self.link_words = 0

        def _flush(self):
            text = " ".join("".join(self.parts).split())
            if text:
                blocks.append((text, self.words, self.link_words))
            self.parts = []
            self.words = 0
            self.link_words = 0

        def handle_starttag(self, tag, attrs):
            if tag in _SKIP_TAGS:
                self.skip += 1
            elif tag == "a":
                self.a_depth += 1
            elif tag in _BLOCK_TAGS:
                self._flush()

        def handle_endtag(self, tag):
            if tag in _SKIP_TAGS:
                self.skip = max(0, self.skip - 1)
            elif tag == "a":
                self.a_depth = max(0, self.a_depth - 1)
            elif tag in _BLOCK_TAGS:
                self._flush()

        def handle_data(self, data):
            if self.skip or not data:
                return
            n = len(data.split())
            self.words += n
            if self.a_depth:
                self.link_words += n
            self.parts.append(data)

    p = P()
    try:
        p.feed(html or "")
        p.close()
    except Exception:  # noqa: BLE001 — parser must be total on crawls
        pass
    p._flush()
    return blocks


def html_main_text(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "main_text",
    min_words: int = 10,
    max_link_density: float = 0.33,
) -> DataFrame:
    """MAIN-CONTENT extraction — the boilerplate-block classifier the
    modern crawl recipes (RefinedWeb §3.2, FineWeb) credit over raw
    tag-stripping: navigation menus, sidebars, footers and "related
    links" boxes are short and link-dense, article prose is long and
    link-sparse (the shallow-text-features result of Kohlschütter et
    al. 2010, boilerpipe).

    Per block (stdlib ``html.parser``; script/style subtrees skipped;
    ``<a>``-nested words counted separately): a block is CONTENT when
    it has >= ``min_words`` words and link density (link words /
    words) <= ``max_link_density``. One smoothing pass then rescues
    short low-link-density blocks ADJACENT to a content block
    (headings, single-sentence paragraphs — boilerpipe's either-neighbor
    rule). ``out_col`` is the kept blocks joined by newlines; pages
    with no content block yield the empty string (the quality gate's
    job to drop).

    Arrow-batched ``mapInPandas`` — raw HTML never shuffles, the
    parser is row-local, and the output column is exactly what
    ``curate_corpus`` wants as ``text``. For C4-style recipes that
    want ALL text (WET posture) use ``html_to_text``; this operator
    is the higher-precision alternative."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.StringType())]
    )
    mw = int(min_words)
    mld = float(max_link_density)

    def extract(html: str | None) -> str:
        bl = _html_blocks(html or "")
        if not bl:
            return ""
        content = [
            w >= mw and (lw / w if w else 1.0) <= mld
            for _t, w, lw in bl
        ]
        # neighbor rescue: short clean blocks between content blocks
        rescued = list(content)
        for i, (_t, w, lw) in enumerate(bl):
            if content[i] or w == 0:
                continue
            if (lw / w) > mld:
                continue
            prev_c = i > 0 and content[i - 1]
            next_c = i + 1 < len(bl) and content[i + 1]
            if prev_c or next_c:  # boilerpipe's rule: EITHER neighbor
                rescued[i] = True
        kept = [t for (t, _w, _lw), c in zip(bl, rescued) if c]
        return "\n".join(kept)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[out_col] = [extract(h) for h in pdf[html_col]]
            yield pdf

    return df.mapInPandas(run, out_schema)


def _sniff_charset(ctype: str | None, body: bytes) -> str:
    """Charset resolution the way browsers do it: the Content-Type
    ``charset=`` parameter wins; else a ``<meta charset>`` /
    ``http-equiv`` sniff over the first 1024 bytes; else UTF-8. HTML5
    aliasing applies (latin-1 is treated as windows-1252 — the spec's
    rule, and what the bytes on real pages actually are); gb2312
    widens to its gb18030 superset. Unknown labels fall back to
    UTF-8."""
    import codecs
    import re as _re

    enc = None
    m = _re.search(r"charset\s*=\s*[\"']?([\w.:-]+)", ctype or "", _re.I)
    if m:
        enc = m.group(1)
    else:
        head = body[:1024].decode("ascii", "replace")
        m = _re.search(
            r"<meta[^>]+charset\s*=\s*[\"']?([\w.:-]+)", head, _re.I
        )
        if m:
            enc = m.group(1)
    if not enc:
        return "utf-8"
    enc = enc.strip().lower()
    enc = {
        "iso-8859-1": "cp1252",
        "latin-1": "cp1252",
        "latin1": "cp1252",
        "us-ascii": "cp1252",
        "gb2312": "gb18030",
        "gbk": "gb18030",
    }.get(enc, enc)
    try:
        codecs.lookup(enc)
        return enc
    except LookupError:
        return "utf-8"


def decode_payload_text(
    df: DataFrame,
    payload_col: str = "payload",
    ctype_col: str = "http_content_type",
    out_col: str = "text_raw",
) -> DataFrame:
    """Charset-FAITHFUL payload decoding (the deferred alternative to
    the JVM UTF-8-with-replacement cast): per row, resolve the charset
    from the Content-Type parameter or a ``<meta charset>`` sniff
    (``_sniff_charset``) and decode with Python codecs,
    ``errors="replace"``. Legacy-charset pages (windows-1252,
    shift-jis, gb18030, ...) come out as real text instead of
    replacement-riddled UTF-8 misreads. Arrow-batched mapInPandas;
    payload bytes never shuffle."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.StringType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = []
            for ct, body in zip(pdf[ctype_col], pdf[payload_col]):
                b = bytes(body) if body is not None else b""
                vals.append(b.decode(_sniff_charset(ct, b), "replace"))
            pdf[out_col] = vals
            yield pdf

    return df.mapInPandas(run, out_schema)


def warc_to_documents(
    warc_df: DataFrame,
    min_status: int = 200,
    max_status: int = 299,
    extract: str = "basic",
    charset: str = "jvm",
) -> DataFrame:
    """The ingestion composition: WARC records -> one document row per
    successful HTML/text response, ``(doc_id, url, fetch_date, text)``
    — ready for ``curate_corpus``. ``doc_id`` is the md5 lane of the
    WARC record id (stable across re-ingestion; a crawl's record ids
    are unique by spec). Non-2xx responses and non-text content types
    are dropped; HTML goes through ``html_to_text``, ``text/plain``
    (WET conversions) passes through as-is.

    ``charset``: ``"jvm"`` (default) decodes payload bytes as UTF-8
    with replacement (the JVM string cast) — legacy-charset pages
    (latin-1, shift-jis, ...) arrive with replacement characters
    rather than mojibake crashes, the C4 convention that lets the
    quality gate drop the rest. ``"faithful"`` resolves the real
    charset per row (Content-Type parameter or ``<meta charset>``
    sniff, HTML5 aliasing — ``decode_payload_text``) so legacy pages
    yield their actual text.

    ``extract``: ``"basic"`` (default) runs the WET-style
    ``html_to_text`` regex chain — ALL page text, C4 posture;
    ``"main"`` runs the boilerplate-block classifier
    ``html_main_text`` — article prose only, the RefinedWeb/FineWeb
    posture (navigation/sidebar/footer blocks dropped by link
    density).
    """
    from .dedup import md5_lane

    if extract not in ("basic", "main"):
        raise ValueError(f"extract must be basic|main, got {extract!r}")
    if charset not in ("jvm", "faithful"):
        raise ValueError(f"charset must be jvm|faithful, got {charset!r}")

    is_resp = F.col("warc_type") == "response"
    status_ok = (
        ~is_resp
        | (
            F.col("http_status").isNotNull()
            & F.col("http_status").between(min_status, max_status)
        )
    )
    ctype = F.lower(
        F.coalesce(F.col("http_content_type"), F.col("content_type"), F.lit(""))
    )
    is_html = ctype.startswith("text/html") | ctype.startswith(
        "application/xhtml"
    )
    is_text = ctype.startswith("text/plain")
    # filter FIRST, decode second: binary payloads (images, redirects,
    # non-2xx) must never reach the charset sniffer — at crawl scale
    # that's most of the archive materialized as Python strings for
    # nothing
    kept = warc_df.filter(status_ok & (is_html | is_text))
    if charset == "faithful":
        kept = decode_payload_text(
            kept, "payload", "http_content_type", "__decoded"
        )
    raw = (
        F.col("__decoded")
        if charset == "faithful"
        else F.col("payload").cast("string")  # UTF-8, bytes replaced
    )
    if extract == "main":
        base = kept.select(
            md5_lane(F.col("record_id")).alias("doc_id"),
            F.col("target_uri").alias("url"),
            F.col("warc_date").alias("fetch_date"),
            raw.alias("__html"),
            is_html.alias("__is_html"),
        )
        extracted = html_main_text(base, "__html", "__main")
        return (
            extracted.select(
                "doc_id",
                "url",
                "fetch_date",
                F.when(F.col("__is_html"), F.col("__main"))
                .otherwise(F.trim(F.col("__html")))
                .alias("text"),
            )
            .filter(F.length("text") > 0)
        )
    return (
        kept
        .select(
            md5_lane(F.col("record_id")).alias("doc_id"),
            F.col("target_uri").alias("url"),
            F.col("warc_date").alias("fetch_date"),
            F.when(is_html, html_to_text(raw)).otherwise(F.trim(raw)).alias(
                "text"
            ),
        )
        .filter(F.length("text") > 0)
    )


# ---------------------------------------------------------------------------
# URL featurization + filtering (the C4 / RefinedWeb URL stage)
# ---------------------------------------------------------------------------

# ccTLD second-level compounds for the registered-domain heuristic:
# "example.co.uk" registers at example.co.uk, not co.uk. This is the
# public-suffix-LITE rule (the common compounds, not the full Mozilla
# PSL); plug a PSL table into url_filter's DataFrame path when exact
# boundaries matter.
_COMPOUND_SLDS = (
    "co", "com", "net", "org", "gov", "ac", "edu", "sch", "or", "ne",
    "go", "mil",
)


def url_host(col: str) -> Column:
    """Lowercased hostname of the named URL column (port and FQDN
    trailing dot stripped — ``example.com.`` must blocklist-match
    ``example.com``), NULL when the value does not parse as a URL.
    Pure JVM (``try_parse_url``), one parsed SQL expression."""
    from .._litarr import sql_col

    return F.expr(_url_host_sql(sql_col(col)))


# query parameters that carry tracking state, never content identity —
# the standard strip set for crawl URL canonicalization
_TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term",
    "utm_content", "utm_id", "fbclid", "gclid", "dclid", "msclkid",
    "mc_cid", "mc_eid", "igshid", "ref", "ref_src",
)


def canonical_url(col: str) -> Column:
    """Canonical form of a URL for refetch/duplicate detection — the
    normalization every crawl dedup stage applies before keying
    (RFC 3986 §6 syntax-based normalization plus the tracking-param
    strip): lowercase scheme+host, drop the fragment, drop default
    ports (``:80`` http / ``:443`` https), strip the host's trailing
    dot, collapse an empty path to ``/``, remove tracking query
    parameters (``utm_*``, click ids), SORT the surviving query
    parameters (param order never changes the resource), and drop the
    ``?`` entirely when nothing survives. Pure JVM —
    ``try_parse_url`` + array expressions, no Python; NULL when the
    value does not parse as an http(s) URL. Takes the column's name.
    One parsed SQL expression: each URL part is parsed once per row
    and bound (``sql_let``) for every use."""
    from .._litarr import sql_col, sql_let, sql_str

    u = sql_col(col)
    parts = (
        f"named_struct('scheme', lower(try_parse_url({u}, 'PROTOCOL')),"
        f" 'host', {_url_host_sql(u)},"
        # HOST strips the port; recover a NON-default explicit port
        # from the authority
        f" 'port', regexp_extract(try_parse_url({u}, 'AUTHORITY'),"
        " ':(\\\\d+)$', 1),"
        f" 'path', coalesce(try_parse_url({u}, 'PATH'), ''),"
        f" 'query', coalesce(try_parse_url({u}, 'QUERY'), ''))"
    )
    drop = ", ".join(sql_str(p) for p in _TRACKING_PARAMS)
    qnorm = (
        "array_join(array_sort(filter(split(__p.query, '&'),"
        f" kv -> kv != '' AND NOT array_contains(array({drop}),"
        " lower(split(kv, '=')[0])) AND NOT startswith(lower(kv), 'utm_'))),"
        " '&')"
    )
    q_sfx = sql_let(
        qnorm, "__q", "CASE WHEN __q != '' THEN concat('?', __q) ELSE '' END"
    )
    port_sfx = (
        "CASE WHEN __p.port != '' AND __p.port != CASE WHEN"
        " __p.scheme = 'https' THEN '443' ELSE '80' END"
        " THEN concat(':', __p.port) ELSE '' END"
    )
    path = "CASE WHEN __p.path = '' THEN '/' ELSE __p.path END"
    body = (
        "CASE WHEN __p.scheme IN ('http', 'https') AND __p.host IS NOT NULL"
        f" THEN concat(__p.scheme, '://', __p.host, {port_sfx}, {path},"
        f" {q_sfx}) END"
    )
    return F.expr(sql_let(parts, "__p", body))


def _url_host_sql(c: str) -> str:
    """SQL text of :func:`url_host` over a URL expression."""
    return (
        f"lower(regexp_replace(try_parse_url({c}, 'HOST'),"
        " '(:\\\\d+|\\\\.)$', ''))"
    )


def _url_suffixes_sql(c: str) -> str:
    """SQL text of :func:`url_suffixes` over a URL expression; the URL
    is parsed and its host split once per row (``sql_let``)."""
    from .._litarr import sql_let

    labels = f"split({_url_host_sql(c)}, '\\\\.')"
    return sql_let(
        labels, "__lb",
        "transform(sequence(1, size(__lb)),"
        " i -> array_join(slice(__lb, i, size(__lb)), '.'))",
    )


def url_suffixes(col: str) -> Column:
    """Array of every dot-suffix of the named URL column's host,
    longest first: ``a.b.example.com -> [a.b.example.com,
    b.example.com, example.com, com]``. Label-aligned — ``ample.com``
    is NOT a suffix of ``example.com``. This is the matching key for
    domain blocklists (a listed domain blocks itself and every
    subdomain). One parsed SQL expression (the _litarr idiom)."""
    from .._litarr import sql_col

    return F.expr(_url_suffixes_sql(sql_col(col)))


def url_features(
    df: DataFrame, url_col: str = "url", prefix: str = "url_"
) -> DataFrame:
    """Attach URL-derived columns (all JVM, scan-fused):
    ``{prefix}host``, ``{prefix}domain`` (registered domain under the
    compound-ccTLD heuristic), ``{prefix}tld``, ``{prefix}path_depth``
    (number of non-empty path segments), ``{prefix}is_ip``.

    Rendered as parsed SQL text (the _litarr idiom): a Column-API
    build cost ~0.2 s of py4j round-trips per construction. The host
    and its labels are projected once as hidden columns (dropped at
    the end), so each row's URL is parsed and split once. Value-
    checked by the oracle (q30) and the web tests."""
    from .._litarr import sql_ident, sql_str

    uq = sql_ident(url_col)
    host, labels = sql_ident("__oc_url_host"), sql_ident("__oc_url_labels")
    n = f"size({labels})"
    tld = f"element_at({labels}, -1)"
    sld = f"(CASE WHEN {n} >= 2 THEN element_at({labels}, -2) END)"
    slds = ", ".join(sql_str(s) for s in _COMPOUND_SLDS)
    # registered domain = last 2 labels, or last 3 when the 2nd-level
    # label is a known compound under a 2-letter ccTLD
    take = (
        f"(CASE WHEN {n} >= 3 AND length({tld}) = 2"
        f" AND {sld} IN ({slds}) THEN 3 ELSE least(2, {n}) END)"
    )
    domain = f"array_join(slice({labels}, {n} - {take} + 1, {take}), '.')"
    is_ip = f"({host} rlike '^\\\\d{{1,3}}(\\\\.\\\\d{{1,3}}){{3}}$')"
    path = f"coalesce(try_parse_url({uq}, 'PATH'), '')"
    depth = f"size(filter(split({path}, '/'), s -> s != ''))"
    pq = lambda name: sql_ident(f"{prefix}{name}")  # noqa: E731
    return (
        df.selectExpr("*", f"{_url_host_sql(uq)} AS {host}")
        .selectExpr("*", f"split({host}, '\\\\.') AS {labels}")
        .selectExpr(
            "*",
            f"{host} AS {pq('host')}",
            f"(CASE WHEN {is_ip} THEN {host} ELSE {domain} END)"
            f" AS {pq('domain')}",
            f"(CASE WHEN NOT {is_ip} THEN {tld} END) AS {pq('tld')}",
            f"{depth} AS {pq('path_depth')}",
            f"{is_ip} AS {pq('is_ip')}",
        )
        .drop("__oc_url_host", "__oc_url_labels")
    )


def url_filter(
    df: DataFrame,
    url_col: str = "url",
    block_domains=None,
    allow_domains=None,
    block_patterns=None,
    drop_unparseable: bool = False,
    id_col: str | None = None,
    broadcast_blocklist: bool = True,
) -> DataFrame:
    """Drop rows whose URL matches a blocklist — the stage every
    published recipe runs first (C4's bad-URL filter, Raffel et al.
    2020 §2.2; RefinedWeb's UT1-blocklist gate, Penedo et al. 2023
    §3.1). A listed domain blocks itself and all subdomains
    (label-aligned suffix match); ``allow_domains`` exempts its
    matches from BOTH domain and pattern blocks (the standard
    blocklist-exception mechanism). ``block_patterns`` are
    case-insensitive regexes over the whole URL.

    ``block_domains`` scales two ways: a python list/set becomes a
    literal array checked scan-side with ``arrays_overlap`` (zero
    shuffle — right for lists up to ~10k); a single-column DataFrame
    becomes a broadcast equi-join on the exploded suffix set (right
    for UT1-scale lists of millions — never a driver literal). The
    DataFrame path anti-joins on ``id_col`` when given (pass the
    corpus's unique doc id); otherwise a synthetic
    ``monotonically_increasing_id`` is used, which assumes a stable
    source scan order across the two plan branches (true for file
    sources; pass ``id_col`` when the input is itself a shuffle).
    ``broadcast_blocklist=False`` lets Spark pick the join strategy
    instead of forcing a broadcast - use it when the blocklist
    outgrows executor memory (a full UT1 dump with every subdomain
    can; the registered-domain subset broadcasts comfortably).
    """
    sufs = url_suffixes(url_col)
    host = url_host(url_col)
    keep = F.lit(True)
    if drop_unparseable:
        keep &= host.isNotNull()

    blocked = F.lit(False)
    if block_domains is not None and not isinstance(block_domains, DataFrame):
        doms = sorted({d.strip().lower().lstrip(".") for d in block_domains})
        if doms:
            blocked |= F.arrays_overlap(
                sufs, F.lit([d for d in doms if d]).cast("array<string>")
            )
    if block_patterns:
        pat = "(?i)" + "|".join(f"(?:{p})" for p in block_patterns)
        blocked |= F.coalesce(F.col(url_col), F.lit("")).rlike(pat)

    allowed = F.lit(False)
    if allow_domains:
        al = sorted({d.strip().lower().lstrip(".") for d in allow_domains})
        if al:
            allowed = F.arrays_overlap(
                sufs, F.lit(al).cast("array<string>")
            )

    # NULL-host rows (unparseable URLs) must read as "not blocked,
    # not allowed", not as SQL NULL that the filter would drop
    blocked = F.coalesce(blocked, F.lit(False))
    allowed = F.coalesce(allowed, F.lit(False))
    out = df.filter(keep & (allowed | ~blocked))

    if isinstance(block_domains, DataFrame):
        from pyspark.sql.functions import broadcast

        dcol = block_domains.columns[0]
        block = block_domains.select(
            F.lower(F.trim(F.col(dcol))).alias("__block_domain")
        ).where(F.col("__block_domain") != "")
        # a row dies when ANY of its host suffixes appears in the
        # list — unless allowed. Explode the (bounded: one entry per
        # host label, ~3-6) suffix set, broadcast-hash-join the list
        # (no shuffle of the corpus), distinct the hit row-ids, and
        # anti-join back. The only corpus shuffles are on 8-byte ids.
        if id_col is not None:
            rid = id_col
            with_id = out
        else:
            rid = "__url_rid"
            with_id = out.withColumn(rid, F.monotonically_increasing_id())
        exploded = with_id.select(rid, F.explode(sufs).alias("__suf"))
        if allow_domains:
            al = sorted({d.strip().lower().lstrip(".") for d in allow_domains})
            if al:
                exploded = with_id.filter(
                    ~F.arrays_overlap(sufs, F.lit(al).cast("array<string>"))
                ).select(rid, F.explode(sufs).alias("__suf"))
        bside = broadcast(block) if broadcast_blocklist else block
        dead = (
            exploded.join(
                bside,
                F.col("__suf") == F.col("__block_domain"),
                "inner",
            )
            .select(rid)
            .distinct()
        )
        out = with_id.join(dead, rid, "left_anti")
        if id_col is None:
            out = out.drop(rid)
    return out
