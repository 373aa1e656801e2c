"""Instruction-tuning data preparation: conversation tables
(``array<struct<role, content>>`` message columns — the ShareGPT /
chat-JSONL interchange shape) rendered into training strings with
EXACT assistant-span character (and optionally token) offsets for
loss masking.

The loss-masking contract is the part pipelines get wrong: the
trainer must know which character (then token) ranges of the rendered
string are assistant content (supervised) vs prompt scaffolding
(masked). Computing those offsets anywhere but at render time —
regex-recovering them later, or re-rendering in the loader — breaks
the moment the template changes. Here the offsets are computed by the
SAME expressions that render: the span start is ``part_start +
length(header_sql(role))`` where ``header_sql`` is the expression
that rendered the header, so ``rendered[start:end] == content`` holds
by construction for ANY template (differentially tested per turn
across templates).

Everything is JVM higher-order functions over the messages array —
per-row, shuffle-free, linear in conversation length; at 100 TB the
operator is embarrassingly row-parallel and composes with
``pack_chunks_bfd`` for boundary-respecting sequence packing.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping

from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class ChatTemplate:
    """A chat rendering template: each message renders as
    ``header(role) + content + footer(role)``, where the header is
    ``header_prefix + role + header_suffix`` unless ``headers`` maps
    the role to a fixed header string, and the footer is ``footer``
    unless ``footers`` overrides it for the role.

    The span arithmetic in :func:`render_chat` is derived from the
    same ``header_sql``/``footer_sql`` expressions that render, so
    any template expressible here keeps the exact-offset contract
    with no per-template code.
    """

    header_prefix: str = "<|"
    header_suffix: str = "|>\n"
    footer: str = "\n"
    headers: Mapping[str, str] | None = field(default=None)
    footers: Mapping[str, str] | None = field(default=None)

    # SQL text over a role EXPRESSION: later overrides wrap earlier
    # ones in CASE, template strings escaped through sql_str so any
    # literal renders exactly
    def header_sql(self, role: str) -> str:
        from .._litarr import sql_str

        out = (
            f"concat({sql_str(self.header_prefix)}, {role},"
            f" {sql_str(self.header_suffix)})"
        )
        for r, h in (self.headers or {}).items():
            out = (
                f"(CASE WHEN {role} = {sql_str(r)} THEN {sql_str(h)}"
                f" ELSE {out} END)"
            )
        return out

    def footer_sql(self, role: str) -> str:
        from .._litarr import sql_str

        out = sql_str(self.footer)
        for r, ft in (self.footers or {}).items():
            out = (
                f"(CASE WHEN {role} = {sql_str(r)} THEN {sql_str(ft)}"
                f" ELSE {out} END)"
            )
        return out

    # python twins (used by tests and by driver-side tooling)
    def header(self, role: str) -> str:
        if self.headers and role in self.headers:
            return self.headers[role]
        return f"{self.header_prefix}{role}{self.header_suffix}"

    def footer_of(self, role: str) -> str:
        if self.footers and role in self.footers:
            return self.footers[role]
        return self.footer


#: The repo's documented default: ``<|role|>\ncontent\n``.
DEFAULT_TEMPLATE = ChatTemplate()

#: ChatML-style: ``<|im_start|>role\ncontent<|im_end|>\n``.
CHATML = ChatTemplate(
    header_prefix="<|im_start|>", header_suffix="\n", footer="<|im_end|>\n"
)


def conversation_turns(
    df: DataFrame,
    messages_col: str = "messages",
    id_col: str = "conv_id",
) -> DataFrame:
    """Flatten conversations to one row per turn:
    ``(id_col, turn, role, content)`` with ``turn`` the 0-based
    position. One posexplode projection — the per-turn view for
    filtering (drop system turns, cap turn counts, per-turn quality
    gates) before re-rendering."""
    return df.select(
        F.col(id_col),
        F.posexplode(messages_col).alias("turn", "__m"),
    ).select(
        id_col,
        "turn",
        F.col("__m.role").alias("role"),
        F.col("__m.content").alias("content"),
    )


def _tok_sql(c: str, mode: str) -> str:
    """Additive token counter over a text EXPRESSION: counts
    non-overlapping regex matches, so empty strings count 0 and
    ``tok(a)+tok(b) == tok(a+b)`` whenever the a|b boundary is
    whitespace-adjacent. (The public ``token_count`` uses trim+split,
    which maps '' -> 1 — fine for document stats, wrong for span
    algebra.) The "bpe" pattern is ``token_count``'s."""
    from .._litarr import sql_str
    from .text import BPE_TOKEN_RE

    if mode == "whitespace":
        return f"size(regexp_extract_all({c}, '\\\\S+', 0))"
    if mode == "bpe":
        return f"size(regexp_extract_all({c}, {sql_str(BPE_TOKEN_RE)}, 0))"
    raise ValueError(f"unknown token mode {mode!r}")


def render_chat(
    df: DataFrame,
    messages_col: str = "messages",
    supervised_role: str = "assistant",
    template: ChatTemplate = DEFAULT_TEMPLATE,
    token_mode: str | None = None,
    max_turns: int = 4096,
    on_long: str = "error",
) -> DataFrame:
    """Append ``text`` (the rendered training string) and
    ``supervised_spans`` (``array<struct<start, end>>`` — 0-based
    character offsets, end-exclusive, of each ``supervised_role``
    turn's CONTENT within ``text``).

    Each message renders as ``template.header(role) + content +
    template.footer(role)``, concatenated in turn order. Span
    arithmetic is pure expression algebra over the same expressions
    that build the string: a running-sum aggregate gives each part's
    start and ``length(header_sql(role))`` offsets to the content,
    so ``substring(text, start+1, end-start) == content`` for every
    supervised turn UNDER ANY TEMPLATE — the invariant the loss mask
    depends on and the tests assert across templates. NULL message
    arrays yield empty text and no spans; NULL role/content render as
    empty strings.

    ``token_mode`` (``"whitespace"`` / ``"bpe"``): also emit
    ``n_tokens`` (total rendered tokens) and extend each span with
    ``tok_start``/``tok_end`` token offsets. Token coordinates use
    the PER-PART tokenization convention (each header / content /
    footer segment tokenized separately, counts concatenated) — the
    convention real SFT loaders use when they tokenize segments and
    splice token lists. For templates whose part boundaries are
    whitespace (the default template qualifies: headers end with
    ``\\n``, footers are ``\\n``), this equals whole-string
    tokenization exactly, which is what the differential test pins.

    ``max_turns``: the running-sum span algebra is quadratic in turn
    count (row-local array appends — irrelevant at real chat depths,
    a hazard on adversarial crawl rows: a 10k-turn row pays ~1e8
    array copies). Conversations longer than ``max_turns`` raise
    (``on_long="error"``, default — the loud option) or are sliced to
    the first ``max_turns`` turns with a ``turns_truncated`` flag
    column (``on_long="truncate"``).
    """
    if on_long not in ("error", "truncate"):
        raise ValueError(f"on_long must be 'error' or 'truncate', got {on_long!r}")
    # The whole render is built as parsed SQL text (the _litarr idiom):
    # a Column-API build registered ~10 HOF lambdas per call (~20 ms of
    # py4j round-trips each) and render_preference_pairs calls this
    # three times per construction. NULL-coalesced role/content,
    # running-sum aggregate starts, zip_with span structs — with
    # internal struct fields named s/e/ts/te/r (projected away before
    # output; 'end' would need keyword quoting). Values are pinned by
    # the chat tests' substring==content differentials and the q30
    # oracle.
    from .._litarr import sql_ident, sql_str, sql_type

    mq = sql_ident(messages_col)
    ddl = sql_type(df.schema[messages_col].dataType)
    msgs_raw = f"coalesce({mq}, cast(array() as {ddl}))"
    out_cols: dict[str, Column] = {}
    if on_long == "truncate":
        out_cols["turns_truncated"] = F.expr(
            f"(size({msgs_raw}) > {int(max_turns)})"
        )
        msgs = f"slice({msgs_raw}, 1, {int(max_turns)})"
    else:
        pre = (
            f"render_chat: conversation exceeds max_turns={max_turns}"
            " (got "
        )
        post = (
            " turns); raise max_turns, pre-filter with"
            " conversation_turns, or pass on_long='truncate'"
        )
        guard = (
            f"assert_true(size({msgs_raw}) <= {int(max_turns)},"
            f" concat({sql_str(pre)},"
            f" cast(size({msgs_raw}) as string), {sql_str(post)}))"
        )
        # assert_true is NULL on success; the CASE forces its
        # evaluation on every row without altering the array
        msgs = f"(CASE WHEN {guard} IS NULL THEN {msgs_raw} END)"

    def role_of(m: str) -> str:
        return f"coalesce({m}.role, '')"

    def content_of(m: str) -> str:
        return f"coalesce({m}.content, '')"

    def part_expr(m: str) -> str:
        # NULL role/content render as empty strings — a NULL would
        # otherwise null the whole concat, silently dropping the part
        # from the rendered text while the span arithmetic still
        # counted it
        return (
            f"concat({template.header_sql(role_of(m))}, {content_of(m)},"
            f" {template.footer_sql(role_of(m))})"
        )

    parts = f"transform({msgs}, m -> {part_expr('m')})"
    # starts[i] = sum of part lengths before i (running-sum aggregate:
    # conversations are short arrays — max_turns bounds the quadratic
    # row-local array-append)

    def running(arr: str) -> str:
        return (
            f"aggregate({arr}, array(0),"
            " (acc, x) -> concat(acc, array(element_at(acc, -1) + x)))"
        )

    starts = running(f"transform({parts}, p -> length(p))")

    want_tokens = token_mode is not None
    if want_tokens:
        part_toks = (
            f"transform({msgs}, m -> "
            + " + ".join(
                [
                    _tok_sql(template.header_sql(role_of("m")), token_mode),
                    _tok_sql(content_of("m"), token_mode),
                    _tok_sql(template.footer_sql(role_of("m")), token_mode),
                ]
            )
            + ")"
        )
        tok_starts = running(part_toks)
        zipped = (
            f"zip_with(slice({starts}, 1, size({msgs})),"
            f" slice({tok_starts}, 1, size({msgs})),"
            " (c, t) -> named_struct('c', c, 't', t))"
        )
        hdr = template.header_sql(role_of("m"))
        start = f"(off.c + length({hdr}))"
        tstart = f"(off.t + {_tok_sql(hdr, token_mode)})"
        span_struct = (
            f"named_struct('s', {start},"
            f" 'e', {start} + length({content_of('m')}),"
            f" 'ts', {tstart},"
            f" 'te', {tstart} + {_tok_sql(content_of('m'), token_mode)},"
            f" 'r', m.role)"
        )
    else:
        zipped = f"slice({starts}, 1, size({msgs}))"
        hdr = template.header_sql(role_of("m"))
        start = f"(off + length({hdr}))"
        span_struct = (
            f"named_struct('s', {start},"
            f" 'e', {start} + length({content_of('m')}),"
            f" 'r', m.role)"
        )

    spans = (
        f"filter(zip_with({msgs}, {zipped}, (m, off) -> {span_struct}),"
        f" sp -> sp.r = {sql_str(supervised_role)})"
    )
    out_fields = "'start', sp.s, 'end', sp.e" + (
        ", 'tok_start', sp.ts, 'tok_end', sp.te" if want_tokens else ""
    )
    out_cols["text"] = F.expr(f"concat_ws('', {parts})")
    out_cols["supervised_spans"] = F.expr(
        f"transform({spans}, sp -> named_struct({out_fields}))"
    )
    if want_tokens:
        out_cols["n_tokens"] = F.expr(
            f"aggregate({part_toks}, 0, (a, x) -> a + x)"
        )
    return df.withColumns(out_cols)


def chat_sft_rows(
    df: DataFrame,
    messages_col: str = "messages",
    id_col: str = "conv_id",
    supervised_role: str = "assistant",
    min_supervised_chars: int = 1,
    template: ChatTemplate = DEFAULT_TEMPLATE,
    token_mode: str | None = None,
    max_turns: int = 4096,
    on_long: str = "error",
) -> DataFrame:
    """The standard SFT preparation in one call: render conversations,
    drop those with no (or too little) supervised content — a
    conversation whose every turn is masked contributes nothing but
    padding — and return ``(id_col, text, supervised_spans,
    n_supervised_chars[, n_tokens])`` ready for token counting and
    ``pack_sft_rows`` (pass ``token_mode`` here and
    ``token_count_col="n_tokens"`` there for token-budget packing
    with re-based token spans)."""
    r = render_chat(
        df,
        messages_col,
        supervised_role,
        template=template,
        token_mode=token_mode,
        max_turns=max_turns,
        on_long=on_long,
    )
    sup = F.aggregate(
        F.transform(
            F.col("supervised_spans"), lambda s: s["end"] - s["start"]
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    cols = [id_col, "text", "supervised_spans", "n_supervised_chars"]
    if token_mode is not None:
        cols.append("n_tokens")
    if on_long == "truncate":
        # keep the slice provenance flag render_chat produced so
        # downstream consumers can tell which conversations were cut
        cols.append("turns_truncated")
    return (
        r.withColumn("n_supervised_chars", sup)
        .filter(F.col("n_supervised_chars") >= int(min_supervised_chars))
        .select(*cols)
    )


def supervised_token_mask(
    df: DataFrame,
    spans_col: str = "supervised_spans",
    n_tokens_col: str = "n_tokens",
    mask_col: str = "loss_mask",
) -> DataFrame:
    """Materialize the per-token loss mask a trainer actually loads:
    ``mask_col`` = array<boolean> of length ``n_tokens_col`` with
    True exactly on the supervised token positions (the spans'
    ``tok_start``/``tok_end`` ranges — render with ``token_mode`` so
    they exist; raises otherwise). Works on ``chat_sft_rows`` output
    (pass ``n_tokens``) and on ``pack_sft_rows`` packs (pass
    ``pack_tokens``) — the spans are already in the right coordinate
    frame in both. Pure per-row array expressions, O(n_tokens x
    n_spans) per row with span counts in the dozens."""
    fields = df.schema[spans_col].dataType.elementType.fieldNames()
    if "tok_start" not in fields:
        raise ValueError(
            f"{spans_col!r} has no tok_start/tok_end — render with "
            "token_mode=... to get token-coordinate spans"
        )
    spans = F.col(spans_col)
    n = F.col(n_tokens_col).cast("long")
    mask = F.transform(
        F.sequence(F.lit(0).cast("long"), n - 1),
        lambda i: F.exists(
            spans,
            lambda sp: (i >= sp["tok_start"]) & (i < sp["tok_end"]),
        ),
    )
    # sequence(0, -1) would raise under ANSI; empty rows get []
    empty = F.array().cast("array<boolean>")
    return df.withColumn(
        mask_col, F.when(n > 0, mask).otherwise(empty)
    )


def pack_sft_rows(
    sft: DataFrame,
    budget: int = 2048,
    id_col: str = "conv_id",
    text_col: str = "text",
    spans_col: str = "supervised_spans",
    shard_col: str | None = None,
    token_mode: str = "whitespace",
    token_count_col: str | None = None,
) -> DataFrame:
    """Pack rendered SFT rows into fixed-token training sequences with
    the supervised spans RE-BASED to pack coordinates — the step that
    actually completes the chat chain: packing that drops or desyncs
    the loss mask silently trains on prompt scaffolding.

    Token budget: ``budget`` is in TOKENS. By default each row is
    counted via ``token_count(text, token_mode)``; pass
    ``token_count_col`` to bin by a precomputed per-row token count
    instead — ``"n_tokens"`` from ``chat_sft_rows(token_mode=...)``
    for render-consistent counts, or a real-tokenizer count column.

    Composition: boundary-respecting assignment via
    ``pack_chunks_bfd`` (no conversation ever splits), then per pack
    the member texts concatenate in ascending ``id_col`` order and
    every span shifts by its member's character offset — computed by
    the same running-sum algebra ``render_chat`` uses, so
    ``pack_text[start:end]`` still slices exactly the supervised
    content (asserted per span in the test). When the spans carry
    ``tok_start``/``tok_end`` (rendered with ``token_mode``), those
    re-base the same way using the per-member token counts — pass
    ``token_count_col`` matching the render's token coordinates so
    character and token offsets shift in lockstep. Returns one row
    per pack: ``(shard?, pack_id, text, supervised_spans, n_docs,
    pack_tokens, oversize)``.

    Scale shape: the pack step inherits ``pack_chunks_bfd``'s
    per-shard parallelism; the assembly is one groupBy(pack) whose
    state is the pack's own members (budget-bounded), and all offset
    arithmetic is row-local JVM.
    """
    from .text import pack_chunks_bfd, token_count

    if token_count_col is not None:
        nt = F.col(token_count_col).cast("long")
    else:
        nt = token_count(text_col, token_mode).cast("long")
    with_tok = sft.withColumn("__nt", nt).withColumn("__ci", F.lit(0))
    packed = pack_chunks_bfd(
        with_tok,
        budget,
        id_col=id_col,
        idx_col="__ci",
        tokens_col="__nt",
        shard_col=shard_col,
        keep_cols=(text_col, spans_col),
    )
    has_tok = "tok_start" in (
        sft.schema[spans_col].dataType.elementType.fieldNames()
    )
    gb = ([shard_col] if shard_col else []) + ["pack_id"]
    rows = packed.groupBy(*gb).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"),
                    F.col(text_col).alias("t"),
                    F.col(spans_col).alias("sp"),
                    F.col("__nt").alias("nt"),
                )
            )
        ).alias("__items"),
        F.first("pack_tokens").alias("pack_tokens"),
        (F.max(F.col("oversize").cast("int")) == 1).alias("oversize"),
        F.count(F.lit(1)).alias("n_docs"),
    )

    def running(sizes: Column) -> Column:
        return F.aggregate(
            F.transform(sizes, lambda x: x.cast("long")),
            F.array(F.lit(0).cast("long")),
            lambda acc, x: F.concat(
                acc, F.array(F.element_at(acc, -1) + x)
            ),
        )

    char_starts = running(
        F.transform("__items", lambda it: F.length(it["t"]))
    )
    text = F.array_join(F.transform("__items", lambda it: it["t"]), "")
    if has_tok:
        tok_starts = running(
            F.transform("__items", lambda it: it["nt"])
        )
        offs = F.zip_with(
            F.slice(char_starts, 1, F.size("__items")),
            F.slice(tok_starts, 1, F.size("__items")),
            lambda c, t: F.struct(c.alias("c"), t.alias("t")),
        )
        spans = F.flatten(
            F.zip_with(
                F.col("__items"),
                offs,
                lambda it, off: F.transform(
                    it["sp"],
                    lambda s: F.struct(
                        (s["start"] + off["c"]).alias("start"),
                        (s["end"] + off["c"]).alias("end"),
                        (s["tok_start"] + off["t"]).alias("tok_start"),
                        (s["tok_end"] + off["t"]).alias("tok_end"),
                    ),
                ),
            )
        )
    else:
        spans = F.flatten(
            F.zip_with(
                F.col("__items"),
                F.slice(char_starts, 1, F.size("__items")),
                lambda it, off: F.transform(
                    it["sp"],
                    lambda s: F.struct(
                        (s["start"] + off).alias("start"),
                        (s["end"] + off).alias("end"),
                    ),
                ),
            )
        )
    return rows.select(
        *gb,
        text.alias(text_col),
        spans.alias(spans_col),
        "n_docs",
        "pack_tokens",
        "oversize",
    )
