"""Named public web-corpus cleaning recipes, as JVM expression
pipelines: the Gopher quality rules (Rae et al. 2021, "Scaling
Language Models: Methods, Analysis & Insights from Training Gopher",
appendix A1.1) and the C4 cleaning heuristics (Raffel et al. 2020,
"Exploring the Limits of Transfer Learning with a Unified
Text-to-Text Transformer", section 2.2).

Both are pure ``pyspark.sql.functions`` pipelines — split / transform
/ filter / regexp over the text column, zero Python in the hot path,
so at 100 TB they are embarrassingly parallel projections that fuse
into whole-stage codegen with whatever scan feeds them. Each operator
returns PER-RULE columns, not just a verdict: corpus curation tuning
is the act of reading rule-level fail rates, so the flags are the
product, and the boolean `keep` is their conjunction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# the Gopher paper's stopword-presence rule uses a tiny fixed list
_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# minimal demonstrative deny-list for the C4 bad-words rule; the real
# recipe uses the public "List of Dirty, Naughty, Obscene..." list —
# plug it in via the parameter
_C4_DEFAULT_BADWORDS: list[str] = ["lorem ipsum"]

_TERMINAL_PUNCT = (".", "!", "?", '"', "'")


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Attach the Gopher quality-rule columns (Rae et al. 2021 A1.1):

    - ``g_word_count`` in [min_words, max_words]
    - ``g_mean_word_len`` in [min_mean_word_len, max_mean_word_len]
    - ``g_symbol_ratio``: (# + ...) occurrences per word <= cap
    - ``g_bullet_ratio`` / ``g_ellipsis_ratio``: fraction of lines
      starting with a bullet / ending with an ellipsis
    - ``g_alpha_word_ratio``: fraction of words containing at least
      one alphabetic character
    - ``g_stopword_hits``: how many of the paper's 8 common English
      words appear
    - per-rule booleans ``g_ok_*`` and the conjunction ``keep``

    Thresholds are the paper's defaults, overridable per corpus; each
    renders as ``F.lit`` would type it (``sql_num``), so a fractional
    ``min_words`` compares exactly.

    Rendered as parsed SQL text (the _litarr idiom): a Column-API
    build registered 8 higher-order-function lambdas (~20 ms of py4j
    round-trips each) plus 15 chained withColumn projections per call
    — ~0.3-0.9 s of serial driver time per construction (guide §4's
    boundary cost at the driver↔JVM boundary). The flags are
    value-checked by the oracle (q30) and the clean tests.
    """
    from .._litarr import sql_ident, sql_num, sql_str

    t = sql_ident(text_col)
    # the word and line arrays are read by several rules: project each
    # once as a hidden column (dropped at the end) — never re-split
    hidden = {
        "__oc_words": f"filter(split(trim({t}), '\\\\s+'), w -> w != '')",
        "__oc_lines": f"filter(split({t}, '\\n'), ln -> trim(ln) != '')",
    }
    words, lines = (sql_ident(k) for k in hidden)
    safe_n = f"cast(greatest(size({words}), 1) as double)"
    mean_wlen = (
        f"aggregate({words}, 0.0D,"
        f" (acc, w) -> acc + cast(length(w) as double)) / {safe_n}"
    )
    n_hash = f"(length({t}) - length(regexp_replace({t}, '#', '')))"
    n_ellipsis = f"size(regexp_extract_all({t}, '(\\\\.\\\\.\\\\.|…)', 0))"
    symbol_ratio = f"cast(({n_hash} + {n_ellipsis}) as double) / {safe_n}"
    n_lines = f"cast(greatest(size({lines}), 1) as double)"
    bullet_ratio = (
        f"cast(size(filter({lines},"
        f" ln -> trim(ln) rlike '^([\\\\-\\\\*•‣◦])')) as double)"
        f" / {n_lines}"
    )
    ellipsis_ratio = (
        f"cast(size(filter({lines},"
        f" ln -> rtrim(ln) rlike '(\\\\.\\\\.\\\\.|…)$')) as double)"
        f" / {n_lines}"
    )
    alpha_ratio = (
        f"cast(size(filter({words}, w -> w rlike '[A-Za-z]')) as double)"
        f" / {safe_n}"
    )
    stops = ", ".join(sql_str(w) for w in _GOPHER_STOPWORDS)
    stop_hits = (
        f"size(array_intersect(array_distinct("
        f"transform({words}, w -> lower(w))), array({stops})))"
    )
    out = df.withColumns({k: F.expr(v) for k, v in hidden.items()})
    out = out.withColumns(
        {
            "g_word_count": F.expr(f"size({words})"),
            "g_mean_word_len": F.expr(f"round({mean_wlen}, 6)"),
            "g_symbol_ratio": F.expr(f"round({symbol_ratio}, 6)"),
            "g_bullet_ratio": F.expr(f"round({bullet_ratio}, 6)"),
            "g_ellipsis_ratio": F.expr(f"round({ellipsis_ratio}, 6)"),
            "g_alpha_word_ratio": F.expr(f"round({alpha_ratio}, 6)"),
            "g_stopword_hits": F.expr(stop_hits),
        }
    )
    checks = {
        "g_ok_word_count": (
            f"g_word_count BETWEEN {sql_num(min_words)}"
            f" AND {sql_num(max_words)}"
        ),
        "g_ok_mean_word_len": (
            f"g_mean_word_len BETWEEN {sql_num(min_mean_word_len)}"
            f" AND {sql_num(max_mean_word_len)}"
        ),
        "g_ok_symbol_ratio": f"g_symbol_ratio <= {sql_num(max_symbol_ratio)}",
        "g_ok_bullet_ratio": f"g_bullet_ratio <= {sql_num(max_bullet_ratio)}",
        "g_ok_ellipsis_ratio": (
            f"g_ellipsis_ratio <= {sql_num(max_ellipsis_ratio)}"
        ),
        "g_ok_alpha_word_ratio": (
            f"g_alpha_word_ratio >= {sql_num(min_alpha_word_ratio)}"
        ),
        "g_ok_stopwords": (
            f"g_stopword_hits >= {sql_num(min_stopword_hits)}"
        ),
    }
    out = out.withColumns({k: F.expr(v) for k, v in checks.items()})
    out = out.withColumn("keep", F.expr(" AND ".join(checks.keys())))
    return out.drop(*hidden)


# ----- SQL-text gram helpers (the _litarr idiom) --------------------
# Each takes/returns SQL TEXT: a Column-API build registers one
# interpreted-lambda aggregate per call (~20 ms of py4j round-trips),
# and gopher_repetition_flags builds eleven of them per construction.
# Each census is a sort-then-scan inside the row — array_sort puts
# equal elements adjacent, one run-length aggregate counts repeats —
# so it is a JVM expression: no explode, no shuffle, O(k log k) in the
# row's own element count. An argument read more than once, or inside
# a lambda body, is bound once with ``sql_let`` (the _litarr rule), so
# a caller may pass a tokenizer expression such as ``split(text)``.


def _word_grams_sql(words: str, n: int) -> str:
    """Space-joined word ``n``-grams of a words EXPRESSION (sequence
    of window starts -> slice -> concat_ws), the words evaluated once
    per row. Empty array when the row has fewer than ``n`` words — the
    CASE guard keeps ``sequence`` from ever seeing start > stop."""
    from .._litarr import sql_let

    return sql_let(
        words, "__ws",
        f"CASE WHEN size(__ws) >= {n} THEN "
        f"transform(sequence(1, size(__ws) - {n - 1}), "
        f"i -> concat_ws(' ', slice(__ws, i, {n}))) "
        f"ELSE cast(array() as array<string>) END",
    )


def _max_run_sql(arr: str, weight: str, min_run: int) -> str:
    """Sorted run-length scan of a string array EXPRESSION: the
    maximum of ``run * weight`` over runs of equal elements at least
    ``min_run`` (1 or 2) long, 0 when there is none. ``weight`` is a
    bigint SQL expression of the element ``x``. ``'1L'`` with
    ``min_run=1`` is the count of the most frequent element."""
    first = weight if min_run <= 1 else "0L"
    return (
        f"aggregate(array_sort({arr}), "
        "named_struct('prev', cast(null as string), 'run', 0L, "
        "'best', 0L), "
        "(acc, x) -> named_struct("
        "'prev', x, "
        "'run', CASE WHEN x <=> acc.prev THEN acc.run + 1L ELSE 1L END, "
        "'best', greatest(acc.best, "
        f"CASE WHEN x <=> acc.prev THEN (acc.run + 1L) * {weight} "
        f"ELSE {first} END)), "
        "acc -> acc.best)"
    )


def _top_gram_mass_sql(grams: str) -> str:
    """Characters covered by the heaviest repeated gram: the maximum
    of ``count * length(gram)`` over grams occurring >= 2 times (the
    most frequent gram, up to frequency ties broken toward the longer
    gram), 0 when nothing repeats — count < 2 is not repetition."""
    return _max_run_sql(grams, "cast(length(x) as bigint)", 2)


def _dup_gram_mass_sql(grams: str) -> str:
    """Characters covered by ALL duplicated grams — every occurrence
    (including the first) of any gram appearing >= 2 times contributes
    its char length. Same sorted run-length scan as
    ``_top_gram_mass_sql``; when a run reaches its second element the
    first occurrence's mass is back-filled."""
    return (
        f"aggregate(array_sort({grams}), "
        "named_struct('prev', cast(null as string), 'run', 0L, "
        "'mass', 0L), "
        "(acc, x) -> named_struct("
        "'prev', x, "
        "'run', CASE WHEN x <=> acc.prev THEN acc.run + 1L ELSE 1L END, "
        "'mass', acc.mass + CASE WHEN x <=> acc.prev "
        "THEN cast(length(x) as bigint) * "
        "(CASE WHEN acc.run = 1L THEN 2L ELSE 1L END) "
        "ELSE 0L END), "
        "acc -> acc.mass)"
    )


def _dup_census_sql(arr: str) -> str:
    """Per-row duplicate census of a string array EXPRESSION: struct
    with ``dups`` (# occurrences beyond each element's first) and
    ``dupchars`` (their summed char lengths)."""
    return (
        f"aggregate(array_sort({arr}), "
        "named_struct('prev', cast(null as string), 'dups', 0, "
        "'dupchars', 0L), "
        "(acc, x) -> named_struct("
        "'prev', x, "
        "'dups', acc.dups + CASE WHEN x <=> acc.prev THEN 1 ELSE 0 END, "
        "'dupchars', acc.dupchars + CASE WHEN x <=> acc.prev "
        "THEN cast(length(x) as bigint) ELSE 0 END))"
    )


# (threshold, signal kind) per Rae et al. 2021 Table A1, repetition rows
_GOPHER_TOP_GRAM_CAPS = {2: 0.20, 3: 0.18, 4: 0.16}
_GOPHER_DUP_GRAM_CAPS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def gopher_repetition_flags(
    df: DataFrame,
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_dup_para_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_dup_para_char_frac: float = 0.20,
    top_gram_caps: dict[int, float] | None = None,
    dup_gram_caps: dict[int, float] | None = None,
) -> DataFrame:
    """The Gopher REPETITION rules (Rae et al. 2021 appendix A1.1,
    Table A1's repetition rows) — the companion filter to
    ``gopher_quality_flags``: documents dominated by repeated lines,
    paragraphs, or n-grams (boilerplate loops, SEO spam, scraper
    echo) are flagged. Attaches per-signal fractions, per-rule
    booleans ``r_ok_*``, and their conjunction ``keep``:

    - ``r_dup_line_frac`` / ``r_dup_para_frac``: fraction of non-blank
      lines / paragraphs that are repeats of an earlier one (occurrence
      count beyond first / total), capped at 0.30;
    - ``r_dup_line_char_frac`` / ``r_dup_para_char_frac``: the same
      repeats weighted by char length over the summed element length,
      capped at 0.20;
    - ``r_top_{2,3,4}gram_char_frac``: chars covered by the heaviest
      repeated word n-gram (max of count x gram length over grams
      appearing >= 2 times; 0 when nothing repeats) over the
      normalized content length, caps 0.20 / 0.18 / 0.16;
    - ``r_dup_{5..10}gram_char_frac``: chars covered by ALL word
      n-grams occurring >= 2 times (every occurrence weighted, clamped
      to 1.0), caps 0.15 down to 0.10.

    Conventions (deterministic, documented because the paper leaves
    them loose): lines split on ``\\n``, paragraphs on blank lines,
    both trimmed with blanks dropped; words are whitespace tokens;
    the n-gram denominators use the length of the space-normalized
    word join. The dup-n-gram signal counts every duplicated
    occurrence WITHOUT overlap marking — an upper bound on the
    paper's span-marked fraction (a doc it passes, the paper's form
    passes too); the exact form needs per-row span bookkeeping that
    would force the text through Python at 100 TB.

    Everything is ``array_sort`` + run-length ``aggregate`` JVM
    expressions — row-local, shuffle-free, scan-fused. The text is
    split into lines, paragraphs and words once per row (hidden
    columns, dropped at the end); each n-gram size then costs one
    window pass and one sort, O(n x words x log words) per document
    summed over the 9 sizes, and nothing leaves the row. Rendered as
    parsed SQL text (the _litarr idiom), like
    ``gopher_quality_flags``.
    """
    from .._litarr import sql_ident, sql_num, sql_str

    top_caps = dict(_GOPHER_TOP_GRAM_CAPS if top_gram_caps is None
                    else top_gram_caps)
    dup_caps = dict(_GOPHER_DUP_GRAM_CAPS if dup_gram_caps is None
                    else dup_gram_caps)
    t = sql_ident(text_col)

    def nonblank(split_re: str) -> str:
        return (
            f"filter(transform(split({t}, {sql_str(split_re)}),"
            " x -> trim(x)), x -> x != '')"
        )

    # each array feeds several signals: project it once as a hidden
    # column (dropped at the end) — never re-split per signal
    hidden = {
        "__oc_lines": nonblank("\n"),
        "__oc_paras": nonblank(r"\n{2,}"),
        "__oc_words": f"filter(split(trim({t}), '\\\\s+'), w -> w != '')",
    }
    lines, paras, words = (sql_ident(k) for k in hidden)
    content_len = (
        f"cast(greatest(length(concat_ws(' ', {words})), 1) as double)"
    )

    cols: dict[str, str] = {}
    for prefix, arr in (("line", lines), ("para", paras)):
        census = _dup_census_sql(arr)
        n = f"cast(greatest(size({arr}), 1) as double)"
        total_chars = (
            f"cast(greatest(aggregate({arr}, 0L,"
            f" (acc, x) -> acc + cast(length(x) as bigint)), 1) as double)"
        )
        cols[f"r_dup_{prefix}_frac"] = (
            f"round(cast({census}.dups as double) / {n}, 6)"
        )
        cols[f"r_dup_{prefix}_char_frac"] = (
            f"round(cast({census}.dupchars as double) / {total_chars}, 6)"
        )
    for n in sorted(top_caps):
        mass = _top_gram_mass_sql(_word_grams_sql(words, n))
        cols[f"r_top_{n}gram_char_frac"] = (
            f"round(cast({mass} as double) / {content_len}, 6)"
        )
    for n in sorted(dup_caps):
        mass = _dup_gram_mass_sql(_word_grams_sql(words, n))
        cols[f"r_dup_{n}gram_char_frac"] = (
            f"round(least(cast({mass} as double) / {content_len}, 1.0D), 6)"
        )
    out = df.withColumns({k: F.expr(v) for k, v in hidden.items()})
    out = out.withColumns({k: F.expr(v) for k, v in cols.items()})

    checks = {
        "r_ok_dup_line_frac": f"r_dup_line_frac <= {sql_num(max_dup_line_frac)}",
        "r_ok_dup_para_frac": f"r_dup_para_frac <= {sql_num(max_dup_para_frac)}",
        "r_ok_dup_line_char_frac": (
            f"r_dup_line_char_frac <= {sql_num(max_dup_line_char_frac)}"
        ),
        "r_ok_dup_para_char_frac": (
            f"r_dup_para_char_frac <= {sql_num(max_dup_para_char_frac)}"
        ),
    }
    for n, cap in sorted(top_caps.items()):
        checks[f"r_ok_top_{n}gram"] = (
            f"r_top_{n}gram_char_frac <= {sql_num(cap)}"
        )
    for n, cap in sorted(dup_caps.items()):
        checks[f"r_ok_dup_{n}gram"] = (
            f"r_dup_{n}gram_char_frac <= {sql_num(cap)}"
        )
    out = out.withColumns({k: F.expr(v) for k, v in checks.items()})
    out = out.withColumn("keep", F.expr(" AND ".join(checks.keys())))
    return out.drop(*hidden)


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    min_line_words: int = 3,
    min_sentences: int = 3,
    badwords: list[str] | None = None,
) -> DataFrame:
    """The C4 cleaning pass (Raffel et al. 2020 §2.2), line level then
    document level:

    line keeps: ends in terminal punctuation, has >= min_line_words
    words, does not contain "javascript" (case-insensitive), is not a
    cookie/policy boilerplate line ("cookie"/"terms of use"/"privacy
    policy" per the paper's lines).

    document keeps (``keep``): >= min_sentences sentences after line
    cleaning, no curly brace, no deny-listed phrase
    (case-insensitive; plug the production list via ``badwords``).

    Returns the original columns plus ``c4_text`` (the line-cleaned
    text), ``c4_n_sentences``, per-rule doc booleans, and ``keep``.
    Line filtering and sentence counting are array expressions; the
    3-sentence-span dedup of the original pipeline is corpus-global
    and lives in ``dedup.line_dedup`` / ``dedup.duplicate_spans``.
    """
    bad = [b.lower() for b in (badwords if badwords is not None else _C4_DEFAULT_BADWORDS)]
    t = F.col(text_col)
    lines = F.split(t, "\n")

    def line_ok(ln: Column) -> Column:
        s = F.trim(ln)
        low = F.lower(s)
        n_words = F.size(F.filter(F.split(s, r"\s+"), lambda w: w != F.lit("")))
        ends_punct = F.lit(False)
        for p in _TERMINAL_PUNCT:
            ends_punct = ends_punct | s.endswith(p)
        return (
            (n_words >= min_line_words)
            & ends_punct
            & ~low.contains("javascript")
            & ~low.contains("cookie")
            & ~low.contains("terms of use")
            & ~low.contains("privacy policy")
        )

    kept = F.filter(lines, line_ok)
    c4_text = F.array_join(F.transform(kept, F.trim), "\n")
    n_sentences = F.size(
        F.regexp_extract_all(c4_text, F.lit(r"[^.!?]+[.!?]"), 0)
    )
    low_all = F.lower(c4_text)
    no_badword: Column = F.lit(True)
    for b in bad:
        no_badword = no_badword & ~low_all.contains(b)
    out = (
        df.withColumn("c4_text", c4_text)
        .withColumn("c4_n_sentences", n_sentences)
        .withColumn("c4_ok_sentences", n_sentences >= min_sentences)
        .withColumn("c4_ok_no_brace", ~F.col("c4_text").contains("{"))
        .withColumn("c4_ok_no_badword", no_badword)
    )
    return out.withColumn(
        "keep",
        F.col("c4_ok_sentences")
        & F.col("c4_ok_no_brace")
        & F.col("c4_ok_no_badword"),
    )


def normalize_text(col) -> Column:
    """Unicode normalization for crawled text — the deterministic
    subset of the ftfy-style cleanup the published recipes run before
    hashing (dedup keys must not split on a curly quote):

    - curly single/double quotes and primes -> ASCII quotes,
    - en/em/horizontal-bar dashes and the minus sign -> ``-``,
    - ellipsis character -> ``...``,
    - NBSP / thin / narrow / figure spaces -> plain space,
    - zero-width characters, BOM, soft hyphen removed,
    - C0/C1 control characters (except tab/newline) removed,
    - horizontal whitespace runs collapsed, edges trimmed.

    Pure JVM (``translate`` + ``regexp_replace``): scan-fused, safe
    on any column, idempotent. NOT a full NFKC pass — ligature and
    width folding change token identity and are a tokenizer decision;
    this fixes only the characters that are noise in every convention.
    """
    c = F.col(col) if isinstance(col, str) else col
    quotes_src = "\u2018\u2019\u201a\u201b\u2032"  # single + prime
    dquotes_src = "\u201c\u201d\u201e\u201f\u2033"  # double + prime
    dashes_src = "\u2013\u2014\u2015\u2212"          # en/em/bar/minus
    spaces_src = "\u00a0\u2009\u202f\u2007"          # nbsp/thin/narrow/figure
    c = F.translate(
        c,
        quotes_src + dquotes_src + dashes_src + spaces_src,
        "\'" * 5 + '"' * 5 + "-" * 4 + " " * 4,
    )
    c = F.regexp_replace(c, "\u2026", "...")
    # zero-width/BOM/soft-hyphen + C0/C1 controls (tab/newline survive)
    c = F.regexp_replace(
        c,
        "[\u200b\u200c\u200d\ufeff\u00ad]"
        "|[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]",
        "",
    )
    c = F.regexp_replace(c, "[ \t]+", " ")
    return F.trim(c)
