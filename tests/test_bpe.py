"""Distributed BPE merge training vs a reference Python implementation."""

import re
from collections import Counter

import pytest
from pyspark.sql import Row

from opencosmo_spark.pipeline.bpe import (
    apply_bpe,
    train_bpe_merges,
    word_frequencies,
)

EOW = "</w>"


def _ref_bpe(texts, n_merges, min_pair_freq=2):
    """Plain-Python BPE (Sennrich-style) on a word-frequency dict."""
    wf = Counter()
    for t in texts:
        wf.update(re.findall(r"[a-z0-9]+", t.lower()))
    words = {tuple(list(w) + [EOW]): f for w, f in wf.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, f in words.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        # argmax with lexicographic tie-break on "a b" strings
        best = min(pairs.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
        if best[1] < min_pair_freq:
            break
        a, b = best[0]
        merges.append((a, b))
        new = {}
        for syms, f in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + f
        words = new
    return merges


def _ref_apply(word, merges):
    syms = list(word) + [EOW]
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


TEXTS = [
    "low lower lowest newer newest wide wider widest",
    "low low lower newer newer newest new new news",
    "the lowest new wide road the widest low road",
]


def test_word_frequencies(spark):
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)])
    got = {r["word"]: r["freq"] for r in word_frequencies(df).collect()}
    want = Counter()
    for t in TEXTS:
        want.update(re.findall(r"[a-z0-9]+", t.lower()))
    assert got == dict(want)


def test_train_bpe_matches_reference(spark):
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)])
    got = train_bpe_merges(df, n_merges=12)
    want = _ref_bpe(TEXTS, 12)
    assert got == want
    assert len(got) > 3  # the corpus has real structure to learn


def test_apply_bpe_matches_reference(spark):
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)])
    merges = train_bpe_merges(df, n_merges=8)
    toks = {
        r["doc_id"]: r["bpe_tokens"] for r in apply_bpe(df, merges).collect()
    }
    for i, t in enumerate(TEXTS):
        want = []
        for w in re.findall(r"[a-z0-9]+", t.lower()):
            want.extend(_ref_apply(w, merges))
        assert toks[i] == want, i


def test_train_bpe_holds_one_round_checkpoint(spark, checkpoint_rdd_ids):
    """Each round releases the previous round's word-table checkpoint:
    twelve rounds leave one stored (one per round before)."""
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)])
    before = checkpoint_rdd_ids()
    assert train_bpe_merges(df, n_merges=12) == _ref_bpe(TEXTS, 12)
    assert len(checkpoint_rdd_ids() - before) <= 1


def test_train_bpe_early_stop(spark):
    # every word unique, every pair frequency 1 -> no merges at default
    # min_pair_freq=2
    df = spark.createDataFrame([Row(doc_id=0, text="ab cd ef")])
    assert train_bpe_merges(df, n_merges=5) == []


def test_apply_bpe_pandas_matches_expr(spark):
    """The broadcast-rank pandas path must be bit-identical to the
    JVM expression path on the same trained merges."""
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)])
    merges = train_bpe_merges(df, n_merges=10)
    assert len(merges) > 3
    a = {r["doc_id"]: r["bpe_tokens"]
         for r in apply_bpe(df, merges, method="expr").collect()}
    b = {r["doc_id"]: r["bpe_tokens"]
         for r in apply_bpe(df, merges, method="pandas").collect()}
    assert a == b


def test_apply_bpe_vocab_scale(spark):
    """Vocab-scale merge list (far past the ~100-merge expression
    cap): train hundreds of merges with the reference Python trainer,
    apply through the pandas path (method='auto' must select it), and
    exact-match the reference in-training-order application — the
    min-rank greedy equivalence the docstring claims."""
    import numpy as np

    rng = np.random.default_rng(3)
    alpha = "abcdefgh"
    vocab = [
        "".join(rng.choice(list(alpha), size=rng.integers(3, 12)))
        for _ in range(300)
    ]
    texts = [
        " ".join(rng.choice(vocab, size=40)) for _ in range(30)
    ]
    merges = _ref_bpe(texts, n_merges=1500, min_pair_freq=1)
    assert len(merges) > 400, len(merges)  # genuinely vocab-scale

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {r["doc_id"]: r["bpe_tokens"] for r in apply_bpe(df, merges).collect()}
    for i, t in enumerate(texts):
        want = []
        for w in re.findall(r"[a-z0-9]+", t.lower()):
            want.extend(_ref_apply(w, merges))
        assert got[i] == want, i


def test_tokenizer_pipeline_end_to_end(spark):
    """The full tokenizer path composes: train merges on a corpus,
    tokenize at vocab scale (pandas path), chunk the token streams
    with overlap, pack chunks to a training budget — token counts
    conserved at every stage."""
    from pyspark.sql import functions as F

    from opencosmo_spark.pipeline.text import chunk_documents, pack_chunks

    docs = [Row(doc_id=i, text=(TEXTS[i % 3] + " ") * 3) for i in range(9)]
    df = spark.createDataFrame(docs)
    merges = train_bpe_merges(df, n_merges=12)
    toks = apply_bpe(df, merges, method="pandas")
    tok_counts = {
        r["doc_id"]: len(r["bpe_tokens"]) for r in toks.collect()
    }
    assert all(n > 0 for n in tok_counts.values())

    # re-materialize token streams as text for the chunker
    as_text = toks.select(
        "doc_id", F.array_join("bpe_tokens", " ").alias("text")
    )
    chunks = chunk_documents(as_text, max_tokens=16, overlap=0)
    per_doc = (
        chunks.groupBy("doc_id").agg(F.sum("n_tokens").alias("n")).collect()
    )
    assert {r["doc_id"]: r["n"] for r in per_doc} == tok_counts

    packed = pack_chunks(chunks, budget=48)
    seqs = (
        packed.groupBy("pack_id").agg(F.sum("n_tokens").alias("n")).collect()
    )
    # start-offset packing: a pack may exceed the budget only by the
    # straddling chunk's tail (< max_tokens)
    assert all(r["n"] < 48 + 16 for r in seqs)
    total = sum(r["n"] for r in seqs)
    assert total == sum(tok_counts.values())  # nothing lost in packing


def test_bpe_vocab_and_encode_ids_roundtrip(spark):
    """bpe_vocab is dense/deterministic; bpe_encode_ids emits exactly
    the ids of apply_bpe's tokens (decode-back equality); OOV symbols
    raise loudly without unk_id and map to it when given."""
    from opencosmo_spark.pipeline.bpe import bpe_encode_ids, bpe_vocab

    texts = [
        (0, "low lower lowest low low"),
        (1, "new newer newest new"),
        (2, "wider wide widest lower"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    merges = train_bpe_merges(df, n_merges=12, min_pair_freq=1)
    toks = apply_bpe(df, merges, method="pandas")

    v = bpe_vocab(toks).toPandas().sort_values("token_id")
    assert list(v.token_id) == list(range(len(v)))  # dense 0..V-1
    assert list(v.token) == sorted(v.token)          # lexicographic
    vocab = dict(zip(v.token, v.token_id))
    inv = {i: t for t, i in vocab.items()}

    ids = {
        r["doc_id"]: r["input_ids"]
        for r in bpe_encode_ids(df, merges, vocab).collect()
    }
    want = {r["doc_id"]: r["bpe_tokens"] for r in toks.collect()}
    for did, tk in want.items():
        assert [inv[i] for i in ids[did]] == tk, did

    # OOV: a character never seen in training
    oov = spark.createDataFrame([(9, "zzz qqq")], ["doc_id", "text"])
    with pytest.raises(Exception, match="not in vocab"):
        bpe_encode_ids(oov, merges, vocab).collect()
    got = bpe_encode_ids(oov, merges, vocab, unk_id=-1).first()["input_ids"]
    assert -1 in got


def test_tokenizer_artifact_roundtrip(spark, tmp_path):
    """write_tokenizer/read_tokenizer: encoding with the read-back
    artifact equals encoding with the original driver objects
    bit-for-bit; missing sidecar refuses loudly."""
    import pytest as _pytest

    from opencosmo_spark.pipeline.bpe import (
        bpe_encode_ids,
        bpe_vocab,
        read_tokenizer,
        write_tokenizer,
    )

    texts = [
        (0, "low lower lowest low low"),
        (1, "new newer newest new"),
        (2, "wider wide widest lower"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    merges = train_bpe_merges(df, n_merges=12, min_pair_freq=1)
    v = bpe_vocab(apply_bpe(df, merges, method="pandas")).toPandas()
    vocab = dict(zip(v.token, v.token_id.astype(int)))

    p = str(tmp_path / "tok")
    write_tokenizer(spark, p, merges, vocab, unk_id=-1)
    tok = read_tokenizer(spark, p)
    assert tok["merges"] == merges
    assert tok["vocab"] == vocab
    assert tok["unk_id"] == -1

    want = {
        r["doc_id"]: list(r["input_ids"])
        for r in bpe_encode_ids(df, merges, vocab).collect()
    }
    got = {
        r["doc_id"]: list(r["input_ids"])
        for r in bpe_encode_ids(
            df, tok["merges"], tok["vocab"], unk_id=tok["unk_id"]
        ).collect()
    }
    assert got == want

    with _pytest.raises(ValueError, match="_tokenizer"):
        read_tokenizer(spark, str(tmp_path / "nope"))


def test_byte_mode_roundtrip_arbitrary_unicode(spark):
    """Byte-level BPE (GPT-2 style): ids decode back to the EXACT
    input text on arbitrary unicode — whitespace, case, emoji,
    control bytes, and bytes the training corpus never saw (OOV is
    structurally impossible with the seeded byte alphabet, so unk_id
    is unreachable)."""
    from hypothesis import given, settings, strategies as st

    from opencosmo_spark.pipeline.bpe import (
        bpe_encode_ids,
        bpe_vocab,
        decode_bpe_ids,
        train_bpe_merges,
    )

    train = spark.createDataFrame(
        [
            (0, "Hello, wörld! Hello wörld."),
            (1, "the quick brown fox\njumps über the lazy dog"),
        ],
        "doc_id long, text string",
    )
    merges = train_bpe_merges(train, n_merges=20, mode="byte")
    vocab = {
        r["token"]: r["token_id"]
        for r in bpe_vocab(
            apply_bpe(train, merges, mode="byte"),
            include_byte_alphabet=True,
            merges=merges,
        ).collect()
    }
    assert len(vocab) >= 256  # the full byte alphabet is present

    # spark round-trip on a fixed adversarial batch (unseen scripts,
    # control chars, emoji, mixed whitespace)
    texts = [
        (0, "ЦЖ unseen ☃ bytes \x00\x07"),
        (1, "  leading and trailing  "),
        (2, "MiXeD CaSe\twith\ttabs"),
        (3, "🦊🦊 emoji run"),
        (4, ""),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = bpe_encode_ids(df, merges, vocab, mode="byte").collect()
    for r in got:
        orig = dict(texts)[r["doc_id"]]
        assert decode_bpe_ids(list(r["input_ids"]), vocab, mode="byte") == orig

    # hypothesis: the driver-twin encoder (same greedy min-rank loop
    # the UDF runs) round-trips ANY unicode string — this pins the
    # encode/decode pair without a Spark job per example
    ranks = {m: i for i, m in enumerate(merges)}
    from opencosmo_spark.pipeline.bpe import _B2U, _PIECE_RE

    piece_re = re.compile(_PIECE_RE)

    def encode_py(text):
        out = []
        for w in piece_re.findall(text):
            syms = [_B2U[b] for b in w.encode("utf-8")]
            while len(syms) > 1:
                cand = [
                    (ranks[(syms[i], syms[i + 1])], i)
                    for i in range(len(syms) - 1)
                    if (syms[i], syms[i + 1]) in ranks
                ]
                if not cand:
                    break
                _, _i = min(cand)
                a, b = syms[_i], syms[_i + 1]
                ns, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == a
                        and syms[i + 1] == b
                    ):
                        ns.append(a + b)
                        i += 2
                    else:
                        ns.append(syms[i])
                        i += 1
                syms = ns
            out.extend(vocab[s] for s in syms)
        return out

    @settings(max_examples=200, deadline=None)
    @given(st.text(max_size=60))
    def check(text):
        assert decode_bpe_ids(encode_py(text), vocab, mode="byte") == text

    check()


def test_byte_mode_expr_equals_pandas_and_char_lanes_unchanged(spark):
    """Byte mode: the JVM expression path (hex-split + table lookup)
    equals the pandas path token-for-token; char mode defaults keep
    their existing outputs (regression pin for the q30 lanes)."""
    from opencosmo_spark.pipeline.bpe import apply_bpe, train_bpe_merges

    df = spark.createDataFrame(
        [
            (0, "Sphinx of black quartz, judge my vow!"),
            (1, "pack my box with five dozen liquor jugs"),
            (2, "ȘpëçîàL çhárãçtérs — Ünïcødé"),
        ],
        "doc_id long, text string",
    )
    merges = train_bpe_merges(df, n_merges=15, mode="byte", min_pair_freq=2)
    e = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in apply_bpe(df, merges, mode="byte", method="expr").collect()
    }
    p = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in apply_bpe(df, merges, mode="byte", method="pandas").collect()
    }
    assert e == p
    # char mode still lowercases and strips punctuation (unchanged)
    cm = train_bpe_merges(df, n_merges=5)
    toks = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in apply_bpe(df, cm).collect()
    }
    assert all("," not in t and t == t.lower() for ts in toks.values() for t in ts)
    with pytest.raises(ValueError, match="mode"):
        train_bpe_merges(df, 5, mode="nope")
