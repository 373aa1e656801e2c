"""Text analysis operators: token counting, quality scoring, language
ID, document fingerprinting. All built-in JVM expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# the ONE word tokenizer shared by search / classification / BPE —
# these three must tokenize identically or learned artifacts (merges,
# models, posting lists) stop matching each other
WORD_RE = "[a-z0-9]+"


def words_expr(text_col: Column | str) -> Column:
    """Lowercased word array — the shared retrieval/training tokenizer."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_extract_all(F.lower(c), F.lit(WORD_RE), 0)


# tiny per-language stopword lists for the n-gram heuristic
_STOPWORDS = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "de", "que", "es"],
}


# the BPE-ish token pattern: words, numbers, and single punctuation
# marks — shared by token_count's "bpe" mode and render_chat's
# per-part token counter
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def token_count(text: str, mode: str = "whitespace") -> Column:
    """Token count of the named column: whitespace split or a
    BPE-ish word/punct regex. Parsed SQL text (one driver call — the
    _litarr idiom)."""
    from .._litarr import sql_col

    return F.expr(_token_count_sql(sql_col(text), mode))


def _token_count_sql(c: str, mode: str = "whitespace") -> str:
    """SQL text of :func:`token_count` over a text expression."""
    from .._litarr import sql_str

    if mode == "whitespace":
        return f"size(split(trim({c}), '\\\\s+'))"
    if mode == "bpe":
        return f"size(regexp_extract_all({c}, {sql_str(BPE_TOKEN_RE)}, 0))"
    raise ValueError(mode)


def quality_score(text: str) -> Column:
    """Heuristic document quality in [0,1] of the named column:
    length, mean word length, alpha ratio, punctuation balance.
    Parsed SQL text (the _litarr idiom) — one py4j call."""
    from .._litarr import sql_col, sql_let

    c = sql_col(text)
    # the per-row measures (two regex passes, one split, the length)
    # are bound once and read as fields of __q
    measures = (
        f"named_struct('len', length({c}),"
        f" 'alpha', length(regexp_replace({c}, '[^A-Za-z]', '')),"
        f" 'punct', length(regexp_replace({c}, '[^.,!?;:]', '')),"
        f" 'tok', {_token_count_sql(c)})"
    )
    mean_word = "cast(__q.alpha as double) / greatest(__q.tok, 1)"
    len_score = "least(__q.len / 500.0D, 1.0D)"
    word_score = (
        f"CASE WHEN {mean_word} >= 3 AND {mean_word} <= 10"
        " THEN 1.0D ELSE 0.5D END"
    )
    alpha_ratio = "cast(__q.alpha as double) / greatest(__q.len, 1)"
    punct_ratio = "cast(__q.punct as double) / greatest(__q.len, 1)"
    punct_score = (
        f"CASE WHEN {punct_ratio} < 0.1D THEN 1.0D ELSE 0.3D END"
    )
    score = sql_let(
        measures, "__q",
        f"0.3D * ({len_score}) + 0.2D * ({word_score})"
        f" + 0.3D * ({alpha_ratio}) + 0.2D * ({punct_score})",
    )
    return F.expr(f"round({score}, 6)")


def language_id(text: Column | str) -> Column:
    """Stopword-vote language classifier: argmax over per-language
    stopword hit counts (deterministic tie-break by language code)."""
    c = F.col(text) if isinstance(text, str) else text
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))

    def score(lang: str) -> Column:
        s = F.lit(0)
        for w in _STOPWORDS[lang]:
            pat = f" {w} "
            s = s + (F.length(padded) - F.length(F.regexp_replace(padded, pat, ""))) / len(pat)
        return s

    scores = [(lang, score(lang)) for lang in sorted(_STOPWORDS)]
    best = scores[0][1]
    for _, s in scores[1:]:
        best = F.greatest(best, s)
    out = F.lit("unknown")
    for lang, s in reversed(scores):
        out = F.when(s == best, F.lit(lang)).otherwise(out)
    return F.when(best <= 0, F.lit("unknown")).otherwise(out)


def document_fingerprint(text: Column | str, prefix: int = 64) -> Column:
    """Normalized-prefix fingerprint (md5 of collapsed-whitespace
    lowercase prefix) — the cheap rolling-hash analog."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return F.md5(F.substring(norm, 1, prefix))


def repetition_stats(text: str) -> dict[str, Column]:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1) of the
    named column: the strongest cheap predictors of boilerplate/spam
    in web corpora.

    * ``dup_word_frac`` — fraction of word occurrences that are repeats
      (1 - distinct/total);
    * ``top_word_frac`` — share of the single most frequent word;
    * ``dup_bigram_frac`` — fraction of repeated 2-grams; 0.0 for
      documents under two words (the bigram window's second word is
      NULL there, as in the DuckDB profile's ``ws[i+1]``).

    All higher-order array functions — per-row JVM evaluation, no
    shuffle, no UDF. Each column tokenizes the row once (``sql_let``
    binds the split; never paste it into a lambda body) and costs
    O(words log words): a distinct set, one sorted run-length scan
    (``clean._max_run_sql``) or the bigram window's distinct set.
    Parsed SQL text (the _litarr idiom): one py4j call per column
    instead of a lambda registration per HOF. ``n_words`` is a long
    (the driver's value-hash is dtype-strict vs the oracle).
    """
    from .._litarr import sql_col, sql_let
    from .clean import _max_run_sql

    w = f"split(trim({sql_col(text)}), '\\\\s+')"
    n1 = "greatest(size(__w), 1)"
    bg = (
        "transform(sequence(1, greatest(size(__w) - 1, 1)),"
        " i -> concat_ws(' ', element_at(__w, i),"
        " try_element_at(__w, i + 1)))"
    )
    # each fraction reads the words as __w, bound once per row
    fracs = {
        "dup_word_frac": (
            f"1.0D - cast(size(array_distinct(__w)) as double) / {n1}"
        ),
        "top_word_frac": (
            f"cast({_max_run_sql('__w', '1L', 1)} as double) / {n1}"
        ),
        "dup_bigram_frac": sql_let(
            bg, "__bg",
            "1.0D - cast(size(array_distinct(__bg)) as double)"
            " / greatest(size(__bg), 1)",
        ),
    }
    return {
        "n_words": F.expr(f"cast(size({w}) as bigint)"),
        **{
            name: F.expr(f"round({sql_let(w, '__w', body)}, 6)")
            for name, body in fracs.items()
        },
    }


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    overlap: int = 0,
) -> DataFrame:
    """Split each document into whitespace-token chunks of at most
    ``max_tokens`` — the pre-training chunking step. One row in,
    ceil(n/max) rows out (more with overlap):
    (id, chunk_idx, chunk_text, n_tokens).

    ``overlap`` tokens are shared between consecutive chunks (stride
    = max_tokens - overlap) — the retrieval-chunking form, where a
    passage near a boundary must appear whole in at least one chunk.
    The final chunk may be shorter than ``overlap + 1`` tokens only
    when it is the document's only chunk.

    Pure JVM: one split per document, then an array-of-structs
    transform + explode — no UDF, no shuffle; chunk boundaries are
    deterministic functions of the token stream.
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"overlap must be in [0, max_tokens), got {overlap} for "
            f"max_tokens={max_tokens}"
        )
    ws = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(ws)
    m = F.lit(int(max_tokens))
    stride = F.lit(int(max_tokens - overlap))
    # chunks needed to cover n tokens at this stride: 1 + ceil((n-m)/stride)
    nchunks = F.greatest(
        F.lit(1),
        F.lit(1) + F.ceil((n - m).cast("double") / stride).cast("int"),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_idx"),
            F.array_join(F.slice(ws, i * stride + 1, m), " ").alias(
                "chunk_text"
            ),
            F.least(m, n - i * stride).cast("long").alias("n_tokens"),
        ),
    )
    return df.select(
        F.col(id_col), F.explode(chunks).alias("c")
    ).select(id_col, "c.chunk_idx", "c.chunk_text", "c.n_tokens")


def pack_chunks(
    chunks: DataFrame,
    budget: int = 256,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    tokens_col: str = "n_tokens",
    shard_col: str | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign chunks to fixed-token-budget training sequences by
    cumulative packing in (id, chunk_idx) order:
    ``pack_id = floor((running_total - n_tokens) / budget)`` — each
    pack holds consecutive chunks whose combined start offset fits the
    budget. Deterministic given the order, so it is value-checkable;
    order-preserving packing also keeps same-document chunks adjacent
    (what sequence-packing wants for attention-mask construction).

    ``shard_col=None`` is a GLOBAL window sort (single reducer — fine
    for test scale, wrong at 100 TB). Pass ``shard_col`` (date, domain,
    an ingest bucket …) to pack independently within each shard:
    the window becomes ``partitionBy(shard_col)``, the sort runs
    per-shard in parallel, and ``pack_id`` is unique per
    ``(shard, pack_id)`` pair. Packs never span shards — exactly the
    isolation a sharded training mix wants.
    """
    from pyspark.sql import Window

    w = (
        (Window.partitionBy(shard_col) if shard_col else Window)
        .orderBy(id_col, idx_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = F.sum(tokens_col).over(w)
    pack = F.floor(
        (running - F.col(tokens_col)).cast("double") / F.lit(int(budget))
    ).cast("long")
    cols = (
        ([shard_col] if shard_col else [])
        + [id_col, idx_col, tokens_col]
        + list(keep_cols)
    )
    return chunks.select(*cols, pack.alias("pack_id"))


def block_pack_ids(
    df: DataFrame,
    block_size: int = 2048,
    ids_col: str = "input_ids",
    id_col: str = "doc_id",
    shard_col: str | None = None,
    eos_id: int | None = None,
    drop_last: bool = True,
    order_col: str | None = None,
    shuffle_seed: int | None = None,
) -> DataFrame:
    """The standard PRETRAINING packer (GPT-2/3, LLaMA concat-and-
    chunk): concatenate every document's token ids in ``id_col``
    order and emit fixed ``block_size`` blocks — documents SPLIT
    across block boundaries (unlike ``pack_chunks_bfd``, which never
    splits and pays padding for it; pretraining pays nothing and
    masks nothing). Returns one row per block: ``(shard?, block_id,
    input_ids, n_tokens, doc_spans)`` where ``doc_spans`` =
    ``array<struct<doc_id, start, end>>`` locates each document's
    slice inside the block — the provenance/attention-reset metadata
    (position-id resets at document boundaries need exactly this).

    ``eos_id`` appends a document separator to every document before
    packing (the convention every GPT-style pipeline uses so the
    model learns document ends). ``drop_last`` drops the final ragged
    block (training wants fixed shapes); keep it for eval loss over
    a full corpus.

    Scale shape: one window cumsum in (id) order gives each document
    its global token offset; each document then explodes into ONLY
    the blocks it overlaps (``ceil(n/block)+1`` pieces, each an
    ``F.slice`` — no per-token rows ever exist), and blocks assemble
    in one groupBy whose state is block-bounded. As with
    ``pack_chunks``, ``shard_col=None`` is a single-reducer global
    sort (test scale); pass a shard column at 100 TB and blocks pack
    per-shard in parallel, never spanning shards.

    ``order_col`` overrides the concatenation order (``id_col`` ties
    break after it) — the hook ``streaming.block_pack_stream`` uses
    to put the previous batch's carried tail ahead of new arrivals.

    ``shuffle_seed`` concatenates in SEEDED-SHUFFLE order instead of
    id order — ``xxhash64(doc_id, seed)`` as the sort key (id breaks
    ties), the per-epoch document shuffle every real pretraining run
    does before chunking. Deterministic for a given seed, a different
    permutation per seed, and zero extra shuffles (the same window
    sort, on a different key). Mutually exclusive with ``order_col``
    (pass your own column when you need a custom order).
    """
    from pyspark.sql import Window

    if block_size <= 0:
        raise ValueError(f"block_size must be positive, got {block_size}")
    if ids_col not in df.columns or id_col not in df.columns:
        raise ValueError(f"{ids_col!r}/{id_col!r} not in input")
    if shuffle_seed is not None:
        if order_col is not None:
            raise ValueError(
                "shuffle_seed and order_col are mutually exclusive"
            )
        order_col = "__shuffle_key"
        df = df.withColumn(
            order_col, F.xxhash64(F.col(id_col), F.lit(int(shuffle_seed)))
        )
    ids = F.col(ids_col)
    if eos_id is not None:
        ids = F.concat(
            ids, F.array(F.lit(int(eos_id)).cast(
                df.schema[ids_col].dataType.elementType
            ))
        )
    B = int(block_size)
    ordering = [order_col, id_col] if order_col else [id_col]
    w = (
        (Window.partitionBy(shard_col) if shard_col else Window)
        .orderBy(*ordering)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = (
        df.withColumn("__ids", ids)
        .withColumn("__n", F.size("__ids"))
        .filter(F.col("__n") > 0)
        .withColumn(
            "__start", F.coalesce(F.sum("__n").over(w), F.lit(0)).cast("long")
        )
    )
    first_b = (F.col("__start") / B).cast("long")
    last_b = ((F.col("__start") + F.col("__n") - 1) / B).cast("long")
    pieces = base.select(
        *([shard_col] if shard_col else []),
        id_col,
        "__ids",
        "__n",
        "__start",
        F.explode(F.sequence(first_b, last_b)).alias("block_id"),
    )
    # this document's slice that falls inside this block (0-based
    # token coordinates within the doc / within the block)
    s_doc = F.greatest(F.lit(0).cast("long"), F.col("block_id") * B - F.col("__start"))
    e_doc = F.least(
        F.col("__n").cast("long"),
        (F.col("block_id") + 1) * B - F.col("__start"),
    )
    off_in_block = F.greatest(
        F.lit(0).cast("long"), F.col("__start") - F.col("block_id") * B
    )
    pieces = pieces.select(
        *([shard_col] if shard_col else []),
        "block_id",
        F.struct(
            off_in_block.alias("off"),
            F.col(id_col).alias("doc"),
            F.slice(
                "__ids", (s_doc + 1).cast("int"), (e_doc - s_doc).cast("int")
            ).alias("piece"),
        ).alias("__p"),
    )
    gb = ([shard_col] if shard_col else []) + ["block_id"]
    blocks = pieces.groupBy(*gb).agg(
        F.array_sort(F.collect_list("__p")).alias("__ps")
    )
    out_ids = F.flatten(F.transform("__ps", lambda p: p["piece"]))
    spans = F.transform(
        "__ps",
        lambda p: F.struct(
            p["doc"].alias(id_col),
            p["off"].alias("start"),
            (p["off"] + F.size(p["piece"])).alias("end"),
        ),
    )
    out = blocks.select(
        *gb,
        out_ids.alias(ids_col),
        F.size(out_ids).alias("n_tokens"),
        spans.alias("doc_spans"),
    )
    if drop_last:
        out = out.filter(F.col("n_tokens") == B)
    return out


def block_position_ids(
    blocks: DataFrame,
    spans_col: str = "doc_spans",
    pos_col: str = "position_ids",
    seg_col: str = "segment_ids",
) -> DataFrame:
    """Materialize the two arrays a document-boundary-aware trainer
    derives from ``block_pack_ids``'s ``doc_spans``: ``position_ids``
    (0..len-1 restarting at every document boundary — the
    position-reset convention that stops cross-document attention
    from seeing bogus long-range offsets) and ``segment_ids`` (the
    span's index within the block, the block-diagonal attention-mask
    key). Pure per-row array expressions over the spans — spans tile
    the block by construction, so both arrays are exactly
    ``n_tokens`` long (a property the tests assert)."""
    spans = F.col(spans_col)
    pos = F.flatten(
        F.transform(
            spans,
            lambda sp: F.sequence(
                F.lit(0).cast("long"), sp["end"] - sp["start"] - 1
            ),
        )
    )
    seg = F.flatten(
        F.transform(
            spans,
            lambda sp, i: F.array_repeat(
                i.cast("long"), (sp["end"] - sp["start"]).cast("int")
            ),
        )
    )
    return blocks.withColumn(pos_col, pos).withColumn(seg_col, seg)


def pack_chunks_bfd(
    chunks: DataFrame,
    budget: int = 256,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    tokens_col: str = "n_tokens",
    shard_col: str | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Boundary-respecting sequence packing by best-fit-decreasing bin
    packing: every pack's token total is <= ``budget`` (no chunk is
    ever split across packs — the padding-free complement of
    ``pack_chunks``' contiguous-stream split), and BFD's 11/9·OPT+1
    guarantee (Johnson 1973) keeps the pack count — and therefore the
    padding waste ``packs·budget − tokens`` — near optimal. The
    training-efficiency knob: fewer packs at the same budget = fewer
    padded positions per epoch.

    Deterministic: items are processed in (−tokens, id, idx) order and
    best-fit ties break on the lowest pack id, so the assignment is a
    pure function of the data. A chunk LARGER than the budget gets its
    own pack (flagged ``oversize=true``) rather than erroring — the
    caller decides whether to re-chunk.

    Scale shape: packing is inherently sequential WITHIN a bin set, so
    the operator packs per ``shard_col`` group via ``applyInPandas`` —
    shards pack in parallel, packs never span shards (the isolation a
    sharded training mix wants), and the per-shard python cost is
    O(n log n) sort + bisect best-fit. ``shard_col=None`` packs
    globally in ONE group (single worker — test scale only, same
    caveat as ``pack_chunks``' global window). Returns the input
    columns (+``keep_cols``) plus ``pack_id`` (unique per shard),
    ``pack_tokens`` (the pack's total), and ``oversize``.
    """
    from bisect import bisect_left, insort

    import pandas as pd
    from pyspark.sql import types as T

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    for c in (id_col, idx_col, tokens_col, *(keep_cols or ())):
        if c not in chunks.columns:
            raise ValueError(f"column {c!r} not in input")
    if shard_col is not None and shard_col not in chunks.columns:
        raise ValueError(f"shard_col {shard_col!r} not in input")

    group = shard_col if shard_col is not None else "__shard"
    src = (
        chunks
        if shard_col is not None
        else chunks.withColumn("__shard", F.lit(0))
    )
    cols = list(
        dict.fromkeys(
            [group, id_col, idx_col, tokens_col, *(keep_cols or ())]
        )
    )
    src = src.select(*cols)
    out_schema = T.StructType(
        list(src.schema.fields)
        + [
            T.StructField("pack_id", T.LongType()),
            T.StructField("pack_tokens", T.LongType()),
            T.StructField("oversize", T.BooleanType()),
        ]
    )

    def pack_one(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf.sort_values(
            [tokens_col, id_col, idx_col],
            ascending=[False, True, True],
            kind="mergesort",
        )
        # bins sorted by (remaining, pack_id): best fit = the leftmost
        # entry with remaining >= need (smallest remaining wins,
        # lowest pack id on ties)
        bins: list[tuple[int, int]] = []
        totals: list[int] = []
        assign = []
        over = []
        for need in order[tokens_col].astype(int):
            if need > budget:
                pid = len(totals)
                totals.append(need)
                assign.append(pid)
                over.append(True)
                continue
            i = bisect_left(bins, (need, -1))
            if i < len(bins):
                rem, pid = bins.pop(i)
                left = rem - need
                totals[pid] += need
                insort(bins, (left, pid))
            else:
                pid = len(totals)
                totals.append(need)
                insort(bins, (budget - need, pid))
            assign.append(pid)
            over.append(False)
        out = order.copy()
        out["pack_id"] = pd.array(assign, dtype="int64")
        out["pack_tokens"] = pd.array(
            [totals[a] for a in assign], dtype="int64"
        )
        out["oversize"] = over
        return out

    packed = src.groupBy(group).applyInPandas(pack_one, out_schema)
    return packed.drop("__shard") if shard_col is None else packed


def packing_report(
    packed: DataFrame, budget: int, shard_col: str | None = None
) -> dict:
    """Padding-waste summary of a ``pack_chunks_bfd`` output:
    ``{packs, tokens, capacity, waste, waste_frac, oversize_packs}``
    — one aggregation (driver gets six numbers). Oversize packs are
    excluded from capacity/waste arithmetic (they carry no padding).
    Pass the same ``shard_col`` used when packing — pack ids are only
    unique per shard."""
    keys = ([shard_col] if shard_col else []) + ["pack_id"]
    row = (
        packed.groupBy(*keys)
        .agg(
            F.first("pack_tokens").alias("t"),
            F.max(F.col("oversize").cast("int")).alias("ov"),
        )
        .agg(
            F.count(F.lit(1)).alias("packs"),
            F.sum("t").alias("tokens"),
            F.sum(
                F.when(F.col("ov") == 0, F.lit(int(budget)) - F.col("t"))
                .otherwise(F.lit(0))
            ).alias("waste"),
            F.sum("ov").alias("oversize_packs"),
        )
        .first()
    )
    packs = int(row["packs"] or 0)
    ov = int(row["oversize_packs"] or 0)
    cap = (packs - ov) * int(budget)
    waste = int(row["waste"] or 0)
    return {
        "packs": packs,
        "tokens": int(row["tokens"] or 0),
        "capacity": cap,
        "waste": waste,
        "waste_frac": waste / cap if cap else 0.0,
        "oversize_packs": ov,
    }


def add_text_features(
    df: DataFrame, text_col: str = "text", prefix: str = ""
) -> DataFrame:
    """Convenience: attach all text-analysis columns at once."""
    c = F.col(text_col)
    return df.withColumns(
        {
            f"{prefix}n_tokens": token_count(text_col),
            f"{prefix}quality": quality_score(text_col),
            f"{prefix}lang_id": language_id(c),
            f"{prefix}fingerprint": document_fingerprint(c),
        }
    )
