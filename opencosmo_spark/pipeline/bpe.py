"""Distributed BPE (byte-pair encoding) merge training — the
tokenizer-training step of a pre-training data pipeline, expressed as
DataFrame aggregations (public algorithm: Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units").

Shape: the corpus collapses once into a WORD-FREQUENCY table (one
shuffle keyed by word; at web scale this is tens of millions of rows —
DataFrame-sized, never driver-sized). Each merge round then

  1. counts adjacent symbol pairs over the word table, weighted by
     word frequency — one aggregation keyed by the 2-symbol pair, and
  2. pulls ONE row (the argmax pair) to the driver, and
  3. rewrites each word's symbol array with that pair merged — a pure
     array expression, no shuffle.

So ``n_merges`` rounds cost n_merges aggregations over the word table
(not the corpus), and the driver only ever holds the merge list. The
word table is checkpointed each round (``_rounds.checkpoint_round``)
to truncate the plan; the symbol rewrite would otherwise nest
n_merges transforms deep.

Determinism: ties on pair count break by the pair's symbols
lexicographically, so the merge list is reproducible across runs and
partitionings.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .._rounds import checkpoint_round, release_checkpoint
from .text import words_expr

_EOW = "</w>"

# Lossless pre-tokenization for byte mode: alternating runs of
# non-whitespace and whitespace concatenate back to the exact input —
# the property byte-level round-trip decoding rests on. (Char mode
# keeps the lossy lowercase word regex the retrieval stack shares.)
_PIECE_RE = r"\S+|\s+"


def _bytes_to_unicode() -> dict[int, str]:
    """GPT-2's public byte<->unicode bijection (Radford et al. 2019,
    released gpt-2 encoder.py): printable latin-1 bytes map to
    themselves, the remaining 68 to U+0100.., so every base symbol is
    a visible, JSON-safe character and the alphabet is EXACTLY 256 —
    any byte sequence decomposes, making OOV structurally
    impossible."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("\xa1"), ord("\xac") + 1))
        + list(range(ord("\xae"), ord("\xff") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, (chr(c) for c in cs)))


_B2U = _bytes_to_unicode()
_U2B = {c: b for b, c in _B2U.items()}
_B2U_TABLE = [_B2U[i] for i in range(256)]


def _pieces_expr(text_col, mode: str) -> F.Column:
    """Pre-tokenization array: char mode = the shared lowercase word
    regex; byte mode = lossless \\S+|\\s+ runs (case preserved)."""
    if mode == "char":
        return words_expr(text_col)
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_extract_all(c, F.lit(_PIECE_RE), 0)


def _check_mode(mode: str) -> None:
    if mode not in ("char", "byte"):
        raise ValueError(f"mode must be 'char' or 'byte', got {mode!r}")


def word_frequencies(
    df: DataFrame, text_col: str = "text", mode: str = "char"
) -> DataFrame:
    """(word, freq) over the corpus — the one corpus-sized shuffle."""
    _check_mode(mode)
    return (
        df.select(F.explode(_pieces_expr(text_col, mode)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols(word: F.Column) -> F.Column:
    """Split a word into single characters plus the end-of-word mark."""
    chars = F.split(word, "")
    # split("") leaves a trailing empty string on some engines; filter
    chars = F.filter(chars, lambda c: c != F.lit(""))
    return F.concat(chars, F.array(F.lit(_EOW)))


def _byte_symbols(word: F.Column) -> F.Column:
    """Byte-level initial symbols, pure JVM: UTF-8 encode, hex, split
    into byte pairs (the \\G every-2-chars idiom), then index the
    256-entry byte->unicode literal table. No end-of-word mark — byte
    mode's pieces carry their own whitespace, and decode must
    reproduce the input bytes exactly."""
    hexpairs = F.filter(
        F.split(F.hex(F.encode(word, "UTF-8")), r"(?<=\G..)"),
        lambda c: c != F.lit(""),
    )
    table = F.lit(_B2U_TABLE)
    return F.transform(
        hexpairs,
        lambda h: F.element_at(table, F.conv(h, 16, 10).cast("int") + 1),
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over (symbols, freq) rows: zip_with of
    the symbol array against its own 1-shifted slice (the shingle
    trick), exploded and weight-summed. One aggregation keyed by the
    pair string."""
    syms = F.col("symbols")
    n = F.size(syms)
    left = F.slice(syms, 1, F.greatest(n - 1, F.lit(0)))
    right = F.slice(syms, 2, F.greatest(n - 1, F.lit(0)))
    pairs = F.zip_with(left, right, lambda a, b: F.concat_ws(" ", a, b))
    return (
        words.select(F.explode(pairs).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
    )


def _merge_symbols(syms, a: str, b: str) -> F.Column:
    """Rewrite a symbol array merging every adjacent (a, b) into ab —
    a left-to-right fold (the BPE rule), as one aggregate expression.
    ``a``/``b`` bind via this closure: the fold lambda itself must
    take exactly (acc, s) for PySpark's HOF arity detection."""
    merged = F.lit(a + b)

    def step(acc, s):
        prev = F.element_at(acc, -1)
        return F.when(
            (F.size(acc) > 0) & (prev == F.lit(a)) & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def train_bpe_merges(
    df: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
    min_pair_freq: int = 2,
    mode: str = "char",
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the
    ordered merge list [(left_symbol, right_symbol), ...]. Stops early
    when the best remaining pair's weighted frequency drops below
    ``min_pair_freq``.

    ``mode="byte"``: GPT-2-style byte-level BPE — pieces are lossless
    ``\\S+|\\s+`` runs, initial symbols are the 256-char byte
    alphabet, no end-of-word mark. Every possible input decomposes to
    base bytes, so a byte-mode tokenizer (with
    ``bpe_vocab(include_byte_alphabet=True)``) structurally cannot
    hit out-of-vocabulary symbols on ANY text — the property a
    production crawl tokenizer relies on. Pair-count join keys stay
    space-safe: no byte symbol maps to ' ' (0x20 is outside GPT-2's
    printable ranges)."""
    _check_mode(mode)
    init = _initial_symbols if mode == "char" else _byte_symbols
    words = word_frequencies(df, text_col, mode=mode).select(
        init(F.col("word")).alias("symbols"), "freq"
    )
    merges: list[tuple[str, str]] = []
    held = None  # the previous round's checkpoint
    for _ in range(n_merges):
        words, _ = checkpoint_round(words)
        release_checkpoint(held)
        held = words
        top = (
            _pair_counts(words)
            .orderBy(F.col("n").desc(), F.col("pair"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_pair_freq:
            break
        a, b = top[0]["pair"].split(" ")
        merges.append((a, b))
        words = words.select(
            _merge_symbols(F.col("symbols"), a, b).alias("symbols"), "freq"
        )
    return merges


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bpe_tokens",
    method: str = "auto",
    mode: str = "char",
) -> DataFrame:
    """Tokenize documents with a learned merge list. Two physical
    paths, identical results (exact-match tested against each other
    and against the reference Python implementation):

    - ``method="expr"``: per word, apply the merges in training order
      as nested JVM fold expressions — zero Python in the hot path,
      but the plan nests ``len(merges)`` folds deep, so it is only
      viable to O(100) merges (expression-tree size, codegen limits).
    - ``method="pandas"``: an Arrow-batched pandas UDF consuming the
      merge-rank table shipped ONCE per executor via
      ``SparkContext.broadcast`` — the vocab-scale path (30k+
      merges). Uses the standard min-rank greedy loop (GPT-2-style):
      repeatedly merge the present pair with the lowest training
      rank. For a merge list produced by training this is exactly
      in-training-order application, because a pair involving a
      merged symbol can only have been LEARNED after the merge that
      created that symbol — so no earlier-ranked pair is ever
      created by a later merge. A per-partition word memo makes the
      cost O(distinct words), not O(tokens).

    ``method="auto"`` picks expr for <=100 merges, pandas beyond. At
    100 TB both are embarrassingly parallel projections; the merge
    list never touches a shuffle. ``mode`` must match training
    (see :func:`train_bpe_merges`).
    """
    _check_mode(mode)
    if method == "auto":
        method = "expr" if len(merges) <= 100 else "pandas"
    if method == "pandas":
        return _apply_bpe_pandas(
            df, merges, text_col, id_col, out_col, mode=mode
        )
    if method != "expr":
        raise ValueError(f"method must be auto|expr|pandas, got {method!r}")
    toks = _pieces_expr(text_col, mode)

    def tokenize_word(w):
        if mode == "byte":
            syms = _byte_symbols(w)
        else:
            chars = F.filter(F.split(w, ""), lambda c: c != F.lit(""))
            syms = F.concat(chars, F.array(F.lit(_EOW)))
        for a, b in merges:
            syms = _merge_symbols(syms, a, b)
        return syms

    out = F.flatten(F.transform(toks, tokenize_word))
    return df.select(F.col(id_col), out.alias(out_col))


def _apply_bpe_pandas(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str,
    id_col: str,
    out_col: str,
    vocab: dict[str, int] | None = None,
    unk_id: int | None = None,
    mode: str = "char",
) -> DataFrame:
    """Vocab-scale BPE application: broadcast merge-rank dict + Arrow
    pandas UDF (see ``apply_bpe`` for the equivalence argument). With
    ``vocab`` the same pass emits ``array<int>`` token ids (see
    ``bpe_encode_ids``)."""
    import re

    from .text import WORD_RE

    _check_mode(mode)
    ranks = {pair: i for i, pair in enumerate(merges)}
    bc = df.sparkSession.sparkContext.broadcast(ranks)
    bc_vocab = (
        df.sparkSession.sparkContext.broadcast(dict(vocab))
        if vocab is not None
        else None
    )
    word_re = re.compile(WORD_RE if mode == "char" else _PIECE_RE)
    byte_mode = mode == "byte"
    b2u = _B2U  # closure-shipped 256-entry table

    @F.pandas_udf("array<string>" if vocab is None else "array<int>")
    def bpe_udf(texts: pd.Series) -> pd.Series:
        rk = bc.value
        vb = bc_vocab.value if bc_vocab is not None else None
        cache: dict[str, list[str]] = {}

        def encode(word: str) -> list[str]:
            got = cache.get(word)
            if got is not None:
                return got
            if byte_mode:
                syms = [b2u[b] for b in word.encode("utf-8")]
            else:
                syms = list(word)
                syms.append(_EOW)
            while len(syms) > 1:
                best_rank = None
                best = None
                for i in range(len(syms) - 1):
                    r = rk.get((syms[i], syms[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank = r
                        best = (syms[i], syms[i + 1])
                if best is None:
                    break
                a, b = best
                out: list[str] = []
                i = 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            cache[word] = syms
            return syms

        res = []
        for t in texts:
            toks: list[str] = []
            src = (t or "") if byte_mode else (t or "").lower()
            for w in word_re.findall(src):
                toks.extend(encode(w))
            if vb is None:
                res.append(toks)
            elif unk_id is None:
                try:
                    res.append([vb[s] for s in toks])
                except KeyError as e:
                    raise ValueError(
                        f"token {e.args[0]!r} not in vocab — pass "
                        "unk_id to map out-of-vocabulary symbols"
                    ) from None
            else:
                res.append([vb.get(s, int(unk_id)) for s in toks])
        return pd.Series(res)

    return df.select(F.col(id_col), bpe_udf(F.col(text_col)).alias(out_col))

def bpe_vocab(
    tokens_df: DataFrame,
    tokens_col: str = "bpe_tokens",
    include_byte_alphabet: bool = False,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Dense, deterministic vocabulary over a tokenized corpus:
    ``(token, token_id)`` with ids 0..V-1 assigned in lexicographic
    token order — the same corpus always yields the same mapping, at
    any partitioning. One explode+distinct aggregation (corpus-sized)
    followed by a global ranking window over the DISTINCT tokens,
    which is vocab-sized (tens of thousands of rows) — the one place
    a single-partition window is the right call.

    ``include_byte_alphabet``: union the 256 byte-mode base symbols
    before ranking. ``merges``: union every merge PRODUCT (``a+b``
    per learned merge) — GPT-2's vocab construction. Both matter for
    OOV-impossibility on NEW text: unseen bytes decompose to the
    alphabet, and greedy application on text the training corpus
    never exhibited can legitimately STOP at an intermediate merge
    product that no training document's final tokenization contains
    (e.g. a merge learned from 'wör…' fires on 'wÀ' and goes no
    further). With both unions, byte-mode encoding structurally
    cannot miss the vocabulary."""
    from pyspark.sql import Window

    toks = tokens_df.select(F.explode(tokens_col).alias("token"))
    extra = list(_B2U_TABLE) if include_byte_alphabet else []
    if merges:
        extra.extend(a + b for a, b in merges)
    if extra:
        toks = toks.unionByName(
            tokens_df.sparkSession.createDataFrame(
                [(s,) for s in extra], "token string"
            )
        )
    return toks.distinct().withColumn(
        "token_id",
        F.row_number().over(Window.orderBy("token")) - 1,
    )


def bpe_encode_ids(
    df: DataFrame,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "input_ids",
    unk_id: int | None = None,
    mode: str = "char",
) -> DataFrame:
    """Tokenize documents straight to integer ``input_ids`` — the
    shape a trainer actually loads. Same merge application as
    ``apply_bpe(method="pandas")`` (min-rank greedy, per-partition
    word memo) with the vocabulary mapped in the SAME Arrow batch, so
    the text is traversed once and no array<string> intermediate ever
    materializes. ``vocab`` is a driver dict (vocab-scale by
    construction — collect ``bpe_vocab``'s output); it ships once per
    executor via broadcast alongside the merge ranks.

    Out-of-vocabulary symbols (a character the vocab never saw) map
    to ``unk_id`` when given, else raise loudly — silently skipping
    them would desync ids from token counts. With ``mode="byte"``
    and a vocab built with ``include_byte_alphabet=True`` AND
    ``merges=`` (alphabet + every merge product — GPT-2's
    construction), OOV is structurally impossible and ``unk_id`` is
    unreachable."""
    return _apply_bpe_pandas(
        df,
        merges,
        text_col,
        id_col,
        out_col,
        vocab=vocab,
        unk_id=unk_id,
        mode=mode,
    )


def decode_bpe_ids(
    ids: list[int], vocab: dict[str, int], mode: str = "byte"
) -> str:
    """Driver-side inverse of ``bpe_encode_ids`` for BYTE mode: ids ->
    token strings -> bytes (via the GPT-2 unicode->byte inverse) ->
    the EXACT original text, whitespace and case included (the
    round-trip property test pins this on arbitrary unicode). Char
    mode refuses: its pre-tokenization lowercases and drops
    non-word characters, so no inverse exists."""
    if mode != "byte":
        raise ValueError(
            "only byte-mode tokenizations are losslessly decodable"
        )
    inv = {i: t for t, i in vocab.items()}
    data = bytes(
        _U2B[ch] for i in ids for ch in inv[int(i)]
    )
    return data.decode("utf-8")


def write_tokenizer(
    spark,
    path: str,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    unk_id: int | None = None,
    mode: str = "char",
) -> dict:
    """Persist the trained tokenizer as an artifact — the same
    ship-your-own-artifact idiom as ``write_dedup_index`` /
    ``write_ann_index``: a release's token ids are only reproducible
    with the EXACT merges and vocabulary that produced them, so they
    travel as ``_tokenizer.json`` under ``path`` (ordered merge list,
    token->id map, the unk policy) instead of as driver state that
    dies with the session. Tokenizers are vocab-scale by construction
    (tens of thousands of entries), which is what makes a JSON
    sidecar the right home — same reasoning as the ANN codebooks.
    Works on HDFS/S3 URIs via the Hadoop FileSystem. Returns the
    params dict it wrote."""
    import json

    from ..io.ingest import hadoop_fs

    _check_mode(mode)
    params = {
        "merges": [[a, b] for a, b in merges],
        "vocab": vocab,
        "unk_id": unk_id,
        "mode": mode,
    }
    jvm, fs, jpath = hadoop_fs(spark, path.rstrip("/") + "/_tokenizer.json")
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(json.dumps(params).encode("utf-8")))
    finally:
        stream.close()
    return params


def read_tokenizer(spark, path: str) -> dict:
    """Load a ``write_tokenizer`` artifact back into the exact driver
    objects ``bpe_encode_ids`` / ``apply_bpe`` take:
    ``{"merges": [(a, b), ...], "vocab": {token: id}, "unk_id"}``.
    Raises loudly when the sidecar is missing — encoding with a
    REBUILT tokenizer would silently produce different ids."""
    import json

    from ..io.ingest import hadoop_fs

    jvm, fs, jpath = hadoop_fs(spark, path.rstrip("/") + "/_tokenizer.json")
    if not fs.exists(jpath):
        raise ValueError(f"{path} has no _tokenizer.json sidecar")
    stream = fs.open(jpath)
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(
        stream, baos, spark._jsc.hadoopConfiguration(), True
    )
    params = json.loads(bytes(baos.toByteArray()).decode("utf-8"))
    return {
        "merges": [tuple(m) for m in params["merges"]],
        "vocab": {t: int(i) for t, i in params["vocab"].items()},
        "unk_id": params.get("unk_id"),
        "mode": params.get("mode", "char"),
    }
