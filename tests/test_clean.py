"""Gopher / C4 cleaning rules: every rule must fire on a constructed
defect and pass on clean prose."""

import pytest
from pyspark.sql import Row, functions as F

from opencosmo_spark.pipeline.clean import c4_clean, gopher_quality_flags

GOOD = (
    "The quick brown fox jumps over the lazy dog and runs far away. "
    "It then returns to the field with a friend and they both rest. "
) * 5  # ~120 words of plain prose


def _flags(spark, texts, **kw):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    return (
        gopher_quality_flags(df, **kw)
        .toPandas()
        .set_index("doc_id")
    )


def test_gopher_passes_clean_prose(spark):
    out = _flags(spark, [GOOD])
    row = out.loc[0]
    assert bool(row.keep), row.to_dict()
    assert row.g_word_count == 130
    assert row.g_stopword_hits >= 4


def test_gopher_each_rule_fires(spark):
    too_short = "tiny doc."
    hashy = " ".join(["word##" for _ in range(60)])
    bullets = "\n".join([f"- item {i} ok" for i in range(20)])
    ellipses = "\n".join(
        [f"this line number {i} trails off..." for i in range(10)]
    )
    numeric = " ".join(str(i) for i in range(80))
    long_words = " ".join(["pneumonoultramicroscopic"] * 60)
    no_stop = " ".join(["zebra lion tiger puma jaguar"] * 15)
    out = _flags(
        spark,
        [too_short, hashy, bullets, ellipses, numeric, long_words, no_stop],
    )
    assert not out.loc[0].g_ok_word_count
    assert not out.loc[1].g_ok_symbol_ratio
    assert not out.loc[2].g_ok_bullet_ratio
    assert not out.loc[3].g_ok_ellipsis_ratio
    assert not out.loc[4].g_ok_alpha_word_ratio
    assert not out.loc[5].g_ok_mean_word_len
    assert not out.loc[6].g_ok_stopwords
    assert not out.keep.any()


def test_c4_line_and_doc_rules(spark):
    doc = "\n".join(
        [
            "This is a perfectly fine sentence with many words.",
            "Short one.",  # < 3 words -> dropped
            "no terminal punctuation here at all",  # dropped
            "Please enable javascript to continue browsing now.",  # dropped
            "We use cookie banners to track you everywhere online.",  # dropped
            "Another good sentence stays in the cleaned output here.",
            "A third good sentence keeps the document long enough.",
        ]
    )
    df = spark.createDataFrame([Row(doc_id=0, text=doc)])
    out = c4_clean(df).toPandas().loc[0]
    kept_lines = out.c4_text.split("\n")
    assert len(kept_lines) == 3
    assert all(ln.endswith(".") for ln in kept_lines)
    assert "javascript" not in out.c4_text.lower()
    assert out.c4_n_sentences == 3
    assert bool(out.keep)

    brace = "\n".join(
        ["A sentence mentioning {curly} braces in code output.",
         "Another full sentence to pad the document nicely here.",
         "And a third complete sentence to pass the length rule."]
    )
    lorem = "\n".join(
        ["Lorem ipsum dolor sit amet consectetur adipiscing elit now.",
         "Another full sentence to pad the document nicely here.",
         "And a third complete sentence to pass the length rule."]
    )
    short = "Only one good sentence lives inside this document here."
    df = spark.createDataFrame(
        [Row(doc_id=1, text=brace), Row(doc_id=2, text=lorem),
         Row(doc_id=3, text=short)]
    )
    out = c4_clean(df).toPandas().set_index("doc_id")
    assert not out.loc[1].c4_ok_no_brace
    assert not out.loc[2].c4_ok_no_badword
    assert not out.loc[3].c4_ok_sentences
    assert not out.keep.any()


def test_clean_stays_jvm(spark):
    df = spark.createDataFrame([Row(doc_id=0, text=GOOD)])
    for op in (gopher_quality_flags, c4_clean):
        plan = (
            op(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_normalize_text(spark):
    from opencosmo_spark.pipeline.clean import normalize_text

    raw = (
        "“Smart” quotes, it’s fine — really… "
        "a hard space, zero​width, ctrl\x07char, "
        "range 1–2 and −5"
    )
    df = spark.createDataFrame([(raw,), ("",)], ["text"])
    got = df.select(normalize_text("text").alias("t")).collect()
    assert got[0]["t"] == (
        '"Smart" quotes, it\'s fine - really... '
        "a hard space, zerowidth, ctrlchar, range 1-2 and -5"
    )
    assert got[1]["t"] == ""
    # idempotent and newline-preserving
    two = spark.createDataFrame([("line1\nline2\t end",)], ["text"])
    once = two.select(normalize_text("text").alias("t")).first()["t"]
    again = (
        two.select(normalize_text(normalize_text("text")).alias("t"))
        .first()["t"]
    )
    assert once == again == "line1\nline2 end"


def test_curate_normalize_unicode_stage(spark):
    from opencosmo_spark.pipeline import curate_corpus

    # two docs identical up to typography: normalization must make
    # exact dedup collapse them
    a = "It’s a “test” — done…  with words enough to pass the gate."
    b = 'It\'s a "test" - done...  with words enough to pass the gate.'
    df = spark.createDataFrame(
        [(1, a), (2, b)], ["doc_id", "text"]
    )
    curated, counts = curate_corpus(
        df, min_quality=0.0, min_tokens=2, normalize_unicode=True
    )
    assert counts["exact_dedup"] == 1
    assert curated.count() == 1
    # without normalization they stay distinct
    _, counts2 = curate_corpus(df, min_quality=0.0, min_tokens=2)
    assert counts2["exact_dedup"] == 2


# ---------------------------------------------------------------- A1.2


def _rep_twin(text: str | None) -> dict:
    """Python reference for gopher_repetition_flags' documented
    conventions — duplicates beyond first, heaviest repeated gram
    (max count*len), all-duplicated-occurrence gram mass. Lines and
    paragraphs are trimmed of spaces only (Spark's ``trim``). NULL
    text has NULL line/paragraph signals and 0.0 gram signals."""
    import re
    from collections import Counter

    if text is None:
        grams = [f"r_top_{n}gram_char_frac" for n in (2, 3, 4)] + [
            f"r_dup_{n}gram_char_frac" for n in range(5, 11)
        ]
        return {
            **{f"r_dup_{p}{s}": None for p in ("line", "para")
               for s in ("_frac", "_char_frac")},
            **dict.fromkeys(grams, 0.0),
        }
    lines = [x.strip(" ") for x in text.split("\n") if x.strip(" ")]
    paras = [x.strip(" ") for x in re.split(r"\n{2,}", text) if x.strip(" ")]
    words = [w for w in re.split(r"\s+", text.strip(" ")) if w]
    content_len = max(len(" ".join(words)), 1)

    def dup(arr, prefix):
        seen, d, dc = set(), 0, 0
        for x in arr:
            if x in seen:
                d += 1
                dc += len(x)
            else:
                seen.add(x)
        return {
            f"r_dup_{prefix}_frac": d / max(len(arr), 1),
            f"r_dup_{prefix}_char_frac": dc
            / max(sum(len(x) for x in arr), 1),
        }

    out = {}
    out.update(dup(lines, "line"))
    out.update(dup(paras, "para"))
    for n in (2, 3, 4):
        grams = Counter(
            " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
        )
        mass = max(
            (c * len(g) for g, c in grams.items() if c >= 2), default=0
        )
        out[f"r_top_{n}gram_char_frac"] = mass / content_len
    for n in range(5, 11):
        grams = Counter(
            " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
        )
        mass = sum(c * len(g) for g, c in grams.items() if c >= 2)
        out[f"r_dup_{n}gram_char_frac"] = min(mass / content_len, 1.0)
    return out


def test_gopher_repetition_matches_python_twin(spark):
    from opencosmo_spark.pipeline.clean import gopher_repetition_flags

    texts = [
        GOOD,  # prose repeated x5: heavy n-gram repetition by design
        "the same line\nthe same line\nthe same line\nanother one",
        "para one is here\n\npara one is here\n\npara two differs",
        " ".join(["buy cheap pills now"] * 30),
        "completely unique words " + " ".join(f"w{i}" for i in range(200)),
        "one two three four five six seven eight nine ten "
        "one two three four five six seven eight nine ten extra",
        "short",
        "a\n\n\na\nb\n\nb  b",  # blank-run paragraphs, trim edge cases
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = (
        gopher_repetition_flags(df)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    for i, t in enumerate(texts):
        want = _rep_twin(t)
        for k, v in want.items():
            assert abs(got.loc[i, k] - v) < 1e-6, (i, k, got.loc[i, k], v)


def test_gopher_repetition_flags_fire_and_pass(spark):
    from opencosmo_spark.pipeline.clean import gopher_repetition_flags

    clean = (
        "Different sentences carry different words so nothing repeats "
        "here at all. Every line brings fresh content and the corpus "
        "filter should keep this document without firing any rule."
    )
    line_spam = "\n".join(["identical boilerplate line"] * 8 + ["unique"])
    gram_spam = " ".join(["click here to win big prizes today"] * 12)
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text=clean),
            Row(doc_id=1, text=line_spam),
            Row(doc_id=2, text=gram_spam),
        ]
    )
    out = gopher_repetition_flags(df).toPandas().set_index("doc_id")
    assert bool(out.loc[0, "keep"]), out.loc[0].to_dict()
    assert not bool(out.loc[1, "keep"])
    assert not bool(out.loc[1, "r_ok_dup_line_frac"])
    assert not bool(out.loc[2, "keep"])
    assert not bool(out.loc[2, "r_ok_top_2gram"])
    assert not bool(out.loc[2, "r_ok_dup_5gram"])


def test_gopher_repetition_stays_jvm(spark):
    from opencosmo_spark.pipeline.clean import gopher_repetition_flags

    df = spark.createDataFrame([Row(doc_id=0, text=GOOD)])
    plan = (
        gopher_repetition_flags(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def _gram_mass_twin(text, n):
    """Plain-python reference of the gram masses: (heaviest repeated
    gram's count x length, all duplicated grams' occurrences x
    length), over whitespace words."""
    from collections import Counter

    words = text.split()
    grams = Counter(
        " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
    )
    top = max((c * len(g) for g, c in grams.items() if c >= 2), default=0)
    dup = sum(c * len(g) for g, c in grams.items() if c >= 2)
    return top, dup


def test_gram_mass_sql_values(spark):
    # the run-length gram helpers (q30's repetition lane and
    # gopher_repetition_flags) against a python reference on every
    # row shape: repeats, no repeats, short docs, empties
    import pyspark.sql.functions as F

    from opencosmo_spark.pipeline.clean import (
        _dup_gram_mass_sql,
        _top_gram_mass_sql,
        _word_grams_sql,
    )

    texts = [
        "a b a b a b c",
        "x y z",
        "one",
        "",
        "dup dup dup dup dup",
        "p q r p q r p q",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    words_sql = "filter(split(trim(text), '\\\\s+'), w -> w != '')"
    for n in (2, 5):
        got = df.select(
            "text",
            F.expr(_top_gram_mass_sql(_word_grams_sql(words_sql, n))).alias("ts"),
            F.expr(_dup_gram_mass_sql(_word_grams_sql(words_sql, n))).alias("ds"),
        ).collect()
        assert len(got) == len(texts)
        for r in got:
            assert (r.ts, r.ds) == _gram_mass_twin(r.text, n), (n, r)


def _text_helpers_twin(text):
    """Plain-python reference of token_count / quality_score /
    repetition_stats: Java's split on \\s+ after Spark's ``trim``
    (spaces only, so a tab or newline at an edge leaves an empty
    token; the empty string splits to one empty token), the BPE-ish
    regex, and the documented score arithmetic. NULL text: every
    value NULL but ``dup_bigram_frac`` 0.0 (the bigram window has
    one NULL-joined element)."""
    import re

    from opencosmo_spark.pipeline.text import BPE_TOKEN_RE

    if text is None:
        return {
            **dict.fromkeys(("tc_ws", "tc_bpe", "q", "n_words",
                             "dup_word_frac", "top_word_frac")),
            "dup_bigram_frac": 0.0,
        }
    ws = re.split(r"\s+", text.strip(" "))
    n_ws = len(ws)
    n_bpe = len(re.findall(BPE_TOKEN_RE, text))
    alpha = len(re.sub(r"[^A-Za-z]", "", text))
    punct = len(re.sub(r"[^.,!?;:]", "", text))
    mean_word = alpha / max(n_ws, 1)
    q = round(
        0.3 * min(len(text) / 500.0, 1.0)
        + 0.2 * (1.0 if 3 <= mean_word <= 10 else 0.5)
        + 0.3 * (alpha / max(len(text), 1))
        + 0.2 * (1.0 if punct / max(len(text), 1) < 0.1 else 0.3),
        6,
    )
    distinct = set(ws)
    top = max(ws.count(x) for x in distinct)
    bigrams = [
        " ".join(ws[i : i + 2]) for i in range(max(len(ws) - 1, 1))
    ]
    return {
        "tc_ws": n_ws,
        "tc_bpe": n_bpe,
        "q": q,
        "n_words": n_ws,
        "dup_word_frac": round(1.0 - len(distinct) / max(n_ws, 1), 6),
        "top_word_frac": round(top / max(n_ws, 1), 6),
        "dup_bigram_frac": round(
            1.0 - len(set(bigrams)) / max(len(bigrams), 1), 6
        ),
    }


def test_text_helper_values(spark):
    # token_count / quality_score / repetition_stats against a
    # python reference; sub-two-word documents ("" splits to [''] —
    # one element too) give dup_bigram_frac 0.0: the bigram window's
    # second word is NULL, as in the DuckDB profile's ws[i+1]
    from opencosmo_spark.pipeline.text import (
        quality_score,
        repetition_stats,
        token_count,
    )

    texts = [
        "The quick brown fox. Jumps over!",
        "a a a a a",
        "  padded   words  here ",
        "punct,,,;;; !!! ???",
        "one two",
        "one",
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    cols = {
        "tc_ws": token_count("text", "whitespace"),
        "tc_bpe": token_count("text", "bpe"),
        "q": quality_score("text"),
        **repetition_stats("text"),
    }
    rows = df.select("text", *[c.alias(n) for n, c in cols.items()]).collect()
    assert len(rows) == len(texts)
    for r in rows:
        want = _text_helpers_twin(r.text)
        for name, v in want.items():
            assert r[name] == pytest.approx(v, abs=1e-6), (name, r)
    assert {r.text: r.dup_bigram_frac for r in rows}["one"] == 0.0
    assert {r.text: r.dup_bigram_frac for r in rows}[""] == 0.0


def test_column_argument_raises_type_error(spark):
    # the SQL-text helpers take a column NAME; a Column has no SQL
    # text and is refused with a pointer to the name form
    from opencosmo_spark.pipeline.text import (
        quality_score,
        repetition_stats,
        token_count,
    )
    from opencosmo_spark.pipeline.web import (
        canonical_url,
        url_host,
        url_suffixes,
    )

    for helper in (
        token_count, quality_score, repetition_stats,
        url_host, url_suffixes, canonical_url,
    ):
        with pytest.raises(TypeError, match="column name"):
            helper(F.col("text"))


def test_gopher_fractional_min_words(spark):
    # thresholds render as F.lit types them: a fractional min_words
    # compares exactly (49 words < 49.5), not truncated to 49
    doc = " ".join(["word"] * 49)
    out = _flags(spark, [doc], min_words=49.5)
    assert out.loc[0].g_word_count == 49
    assert not bool(out.loc[0].g_ok_word_count)
    assert bool(_flags(spark, [doc], min_words=49).loc[0].g_ok_word_count)


# ------------------------------------------------- edge frame, all builders

EDGE_TEXTS = [
    None, "", " ", "   ", "\t", " \t\n ", "a\tb\nc", "x\t\ty  z ",
    "one", "two words", "dup dup dup dup dup",
    "the cat and the dog\n\nthe cat and the dog\n\t\nthe end",
    "- a bullet...\n* b…\n  # c ... #d\n",
]
EDGE_URLS = [
    None, "", "not a url", "http://example.com", "https://a.b.Example.co.uk/x?y=1",
    "http://127.0.0.1:8080/a", "https://host./", "ftp://x.y.z",
]


def _edge_frame(spark):
    """The edge texts, one row per partition."""
    rows = [
        (i, t, EDGE_URLS[i % len(EDGE_URLS)]) for i, t in enumerate(EDGE_TEXTS)
    ]
    rdd = spark.sparkContext.parallelize(rows, len(rows))
    df = spark.createDataFrame(rdd, "doc_id long, text string, url string")
    assert df.rdd.getNumPartitions() == len(rows)
    return df


def _gq_twin(text):
    """Plain-python reference of gopher_quality_flags' measurements
    (default thresholds): whitespace words after Spark's ``trim``,
    non-blank lines, the documented ratios. NULL text: all NULL."""
    import re

    from opencosmo_spark.pipeline.clean import _GOPHER_STOPWORDS

    if text is None:
        return dict.fromkeys(
            ("g_word_count", "g_mean_word_len", "g_symbol_ratio",
             "g_bullet_ratio", "g_ellipsis_ratio", "g_alpha_word_ratio",
             "g_stopword_hits", "keep")
        )
    words = [w for w in re.split(r"\s+", text.strip(" ")) if w]
    n = max(len(words), 1)
    lines = [ln for ln in text.split("\n") if ln.strip(" ")]
    nl = max(len(lines), 1)
    ellipsis = r"(\.\.\.|…)"
    out = {
        "g_word_count": len(words),
        "g_mean_word_len": sum(map(len, words)) / n,
        "g_symbol_ratio": (text.count("#") + len(re.findall(ellipsis, text))) / n,
        "g_bullet_ratio": sum(
            bool(re.match(r"[-*•‣◦]", ln.strip(" "))) for ln in lines
        ) / nl,
        "g_ellipsis_ratio": sum(
            bool(re.search(ellipsis + "$", ln.rstrip(" "))) for ln in lines
        ) / nl,
        "g_alpha_word_ratio": sum(
            bool(re.search("[A-Za-z]", w)) for w in words
        ) / n,
        "g_stopword_hits": len({w.lower() for w in words} & set(_GOPHER_STOPWORDS)),
    }
    out["keep"] = (
        50 <= out["g_word_count"] <= 100_000
        and 3.0 <= out["g_mean_word_len"] <= 10.0
        and out["g_symbol_ratio"] <= 0.1
        and out["g_bullet_ratio"] <= 0.9
        and out["g_ellipsis_ratio"] <= 0.3
        and out["g_alpha_word_ratio"] >= 0.8
        and out["g_stopword_hits"] >= 2
    )
    return out


def _suffix_twin(url):
    """Plain-python reference of url_suffixes: every dot-suffix of the
    lowercased host (trailing dot or port stripped), NULL when the URL
    has no host."""
    import re
    from urllib.parse import urlsplit

    host = urlsplit(url).hostname if url else None
    if host is None:
        return None
    labels = re.sub(r"(:\d+|\.)$", "", host.lower()).split(".")
    return [".".join(labels[i:]) for i in range(len(labels))]


def _close(got, want):
    if want is None or got is None:
        return got is want
    if isinstance(want, float):
        return abs(got - want) < 1e-6
    return got == want


def test_text_builders_edge_values(spark):
    # every builder that tokenizes once per row (bound split, hidden
    # word/line/paragraph columns) against its plain-python twin on
    # NULL, empty, whitespace-only, tab/newline-separated, one-word,
    # two-word and repeated-word rows, one row per partition
    from opencosmo_spark.pipeline.clean import gopher_repetition_flags
    from opencosmo_spark.pipeline.text import (
        quality_score,
        repetition_stats,
        token_count,
    )
    from opencosmo_spark.pipeline.web import url_suffixes

    df = _edge_frame(spark)
    cols = {
        "tc_ws": token_count("text"),
        "tc_bpe": token_count("text", "bpe"),
        "q": quality_score("text"),
        **repetition_stats("text"),
        "sufs": url_suffixes("url"),
    }
    rows = df.select(
        "doc_id", "text", "url", *[c.alias(n) for n, c in cols.items()]
    ).collect()
    gq = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
    rep = {r.doc_id: r for r in gopher_repetition_flags(df).collect()}
    assert len(rows) == len(gq) == len(rep) == len(EDGE_TEXTS)
    for r in rows:
        checks = [
            (_text_helpers_twin(r.text), r),
            (_gq_twin(r.text), gq[r.doc_id]),
            (_rep_twin(r.text), rep[r.doc_id]),
            ({"sufs": _suffix_twin(r.url)}, r),
        ]
        for want, got in checks:
            for name, v in want.items():
                assert _close(got[name], v), (name, r.text, r.url, got[name], v)
    by_text = {r.text: r for r in rows}
    # NULL text: n_words NULL, dup_bigram_frac 0.0 (as before binding)
    assert by_text[None].n_words is None
    assert by_text[None].dup_bigram_frac == 0.0
    assert by_text["\t"].n_words == 2  # trim strips spaces only
