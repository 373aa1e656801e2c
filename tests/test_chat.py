"""Chat/SFT preparation: rendering + supervised-span offsets against
an exact python twin, and the substring invariant the loss mask
depends on."""

import pytest
from pyspark.sql import functions as F

from opencosmo_spark.pipeline.chat import (
    chat_sft_rows,
    conversation_turns,
    render_chat,
)

CONVS = [
    (
        0,
        [
            ("system", "You are a helpful assistant."),
            ("user", "What is 2+2?"),
            ("assistant", "4"),
            ("user", "And 3+3?"),
            ("assistant", "6, naturally."),
        ],
    ),
    (1, [("user", "no reply here")]),
    (2, [("assistant", ""), ("user", "x"), ("assistant", "ok")]),
    (3, None),
    (4, []),
]


def _twin(msgs, role="assistant"):
    """Exact python reference for the documented template."""
    text, spans, pos = "", [], 0
    for r, c in msgs or []:
        part = f"<|{r}|>\n{c}\n"
        if r == role:
            start = pos + len(r) + 5
            spans.append((start, start + len(c)))
        text += part
        pos += len(part)
    return text, spans


@pytest.fixture(scope="module")
def convs(spark):
    return spark.createDataFrame(
        CONVS,
        "conv_id long, messages array<struct<role:string,content:string>>",
    )


def test_render_chat_matches_twin_and_substring_invariant(spark, convs):
    got = {
        r["conv_id"]: r
        for r in render_chat(convs).collect()
    }
    for cid, msgs in CONVS:
        text, spans = _twin(msgs)
        assert got[cid]["text"] == text, cid
        got_spans = [
            (s["start"], s["end"]) for s in got[cid]["supervised_spans"]
        ]
        assert got_spans == spans, cid
        # the loss-mask invariant: the span slices out exactly the
        # assistant content
        contents = [c for r, c in (msgs or []) if r == "assistant"]
        assert [text[a:b] for a, b in got_spans] == contents, cid


def test_conversation_turns_flatten(spark, convs):
    t = conversation_turns(convs).toPandas()
    assert len(t) == 5 + 1 + 3  # null/empty arrays yield no rows
    c0 = t[t.conv_id == 0].sort_values("turn")
    assert list(c0.turn) == [0, 1, 2, 3, 4]
    assert list(c0.role) == ["system", "user", "assistant", "user", "assistant"]
    assert c0.iloc[2].content == "4"


def test_chat_sft_rows_filters_unsupervised(spark, convs):
    rows = {r["conv_id"]: r for r in chat_sft_rows(convs).collect()}
    # conv 1 (no assistant), 3 (null), 4 (empty) drop; conv 2 keeps
    # (one empty + one nonempty assistant turn = 2 chars)
    assert set(rows) == {0, 2}
    assert rows[0]["n_supervised_chars"] == len("4") + len("6, naturally.")
    assert rows[2]["n_supervised_chars"] == 2
    # composes with the packer: token counts over the rendered text
    from opencosmo_spark.pipeline.text import token_count

    df = chat_sft_rows(convs).withColumn(
        "n_tokens", token_count("text")
    )
    assert df.filter("n_tokens <= 0").count() == 0


def test_render_chat_quoted_field_names(spark):
    """A messages struct with a field name that needs quoting in DDL
    (``my-meta``) renders: the NULL-array fallback's cast type quotes
    every field name."""
    df = spark.createDataFrame(
        [(0, [("user", "hi", "m0"), ("assistant", "yo", "m1")]), (1, None)],
        "conv_id long, messages array<struct<role:string,content:string,"
        "`my-meta`:string>>",
    )
    got = {r["conv_id"]: r for r in render_chat(df).collect()}
    msgs = [("user", "hi"), ("assistant", "yo")]
    text, spans = _twin(msgs)
    assert got[0]["text"] == text
    assert [
        (s["start"], s["end"]) for s in got[0]["supervised_spans"]
    ] == spans
    assert got[1]["text"] == "" and got[1]["supervised_spans"] == []


def test_render_chat_custom_supervised_role(spark, convs):
    got = {
        r["conv_id"]: r
        for r in render_chat(convs, supervised_role="user").collect()
    }
    text, spans = _twin(CONVS[0][1], role="user")
    assert [
        (s["start"], s["end"]) for s in got[0]["supervised_spans"]
    ] == spans


def test_render_chat_null_content_renders_empty(spark):
    """NULL content/role render as empty strings — the part is still
    present in the text and the spans stay aligned."""
    df = spark.createDataFrame(
        [
            (
                9,
                [
                    ("user", None),
                    ("assistant", "fine"),
                    (None, "orphan"),
                ],
            )
        ],
        "conv_id long, messages array<struct<role:string,content:string>>",
    )
    r = render_chat(df).collect()[0]
    assert r["text"] == "<|user|>\n\n<|assistant|>\nfine\n<||>\norphan\n"
    (sp,) = r["supervised_spans"]
    assert r["text"][sp["start"] : sp["end"]] == "fine"


def test_render_chat_randomized_unicode_twin(spark):
    """Seeded-random conversations with adversarial content (unicode,
    newlines, template-lookalike '<|' strings, empties) against the
    python twin — one batched comparison, not per-example spark
    rounds."""
    import random

    rng = random.Random(99)
    alphabet = "ab \n<|>é漢🙂|"
    rows = []
    for cid in range(60):
        msgs = [
            (
                rng.choice(["system", "user", "assistant", "tool"]),
                "".join(
                    rng.choice(alphabet)
                    for _ in range(rng.randrange(0, 30))
                ),
            )
            for _ in range(rng.randrange(1, 7))
        ]
        rows.append((cid, msgs))
    df = spark.createDataFrame(
        rows,
        "conv_id long, messages array<struct<role:string,content:string>>",
    )
    got = {r["conv_id"]: r for r in render_chat(df).collect()}
    for cid, msgs in rows:
        text, spans = _twin(msgs)
        assert got[cid]["text"] == text, cid
        got_spans = [
            (s["start"], s["end"]) for s in got[cid]["supervised_spans"]
        ]
        assert got_spans == spans, cid
        for (a, b), c in zip(
            got_spans, [c for r, c in msgs if r == "assistant"]
        ):
            assert text[a:b] == c, cid


def test_chat_jsonl_round_trip(spark, tmp_path):
    """The real interchange: conversations written as JSONL, read back
    with an explicit schema, rendered — end-to-end SFT ingestion."""
    from opencosmo_spark.pipeline.jsonl import read_jsonl, write_jsonl

    df = spark.createDataFrame(
        CONVS[:3],
        "conv_id long, messages array<struct<role:string,content:string>>",
    )
    p = str(tmp_path / "chat_jsonl")
    write_jsonl(df.withColumn("text", F.lit("")), p, compress=False)
    back = read_jsonl(
        spark,
        p,
        id_field="conv_id",
        schema=(
            "conv_id long, text string, "
            "messages array<struct<role:string,content:string>>"
        ),
    )
    rows = {
        r["doc_id"]: r
        for r in chat_sft_rows(back, id_col="doc_id").collect()
    }
    text0, spans0 = _twin(CONVS[0][1])
    # read_jsonl normalizes doc_id to string
    assert rows["0"]["text"] == text0
    assert [
        (s["start"], s["end"]) for s in rows["0"]["supervised_spans"]
    ] == spans0


def test_pack_sft_rows_rebases_spans(spark):
    """Packed SFT sequences: every conversation appears exactly once,
    no pack exceeds the budget (absent oversize), and every re-based
    span still slices exactly its assistant content out of the PACK
    text — the loss mask survives packing."""
    import random

    from opencosmo_spark.pipeline.chat import pack_sft_rows

    rng = random.Random(7)
    convs = []
    for cid in range(30):
        msgs = []
        for _ in range(rng.randrange(1, 4)):
            msgs.append(("user", " ".join(
                rng.choice(["ask", "tell", "why", "how"])
                for _ in range(rng.randrange(2, 8))
            )))
            msgs.append(("assistant", " ".join(
                rng.choice(["yes", "no", "maybe", "because", "so"])
                for _ in range(rng.randrange(2, 10))
            )))
        convs.append((cid, msgs))
    df = spark.createDataFrame(
        convs,
        "conv_id long, messages array<struct<role:string,content:string>>",
    )
    sft = chat_sft_rows(df)
    packs = pack_sft_rows(sft, budget=60).collect()

    expected = {}
    for cid, msgs in convs:
        text, spans = _twin(msgs)
        expected[cid] = [text[a:b] for a, b in spans]
    all_sliced = []
    seen_docs = 0
    for p in packs:
        assert p["oversize"] or p["pack_tokens"] <= 60
        seen_docs += p["n_docs"]
        for s in p["supervised_spans"]:
            all_sliced.append(p["text"][s["start"] : s["end"]])
    assert seen_docs == 30
    want = sorted(c for v in expected.values() for c in v)
    assert sorted(all_sliced) == want
    # determinism: same input -> identical assignment
    again = pack_sft_rows(sft, budget=60).collect()
    assert sorted(r["text"] for r in again) == sorted(
        r["text"] for r in packs
    )


# ---- round 10: templates, token spans, token-budget packing, guards ----

import re

from opencosmo_spark.pipeline.chat import CHATML, ChatTemplate, DEFAULT_TEMPLATE


def _tok_py(s, mode="whitespace"):
    pat = r"\S+" if mode == "whitespace" else r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"
    return re.findall(pat, s)


def _twin_t(msgs, template, role="assistant", token_mode=None):
    """Exact python reference for ANY ChatTemplate, char + token
    offsets (per-part tokenization convention)."""
    text, spans, pos, tpos = "", [], 0, 0
    for r, c in msgs or []:
        r2, c2 = r or "", c or ""
        hdr, ftr = template.header(r2), template.footer_of(r2)
        if r == role:
            start = pos + len(hdr)
            if token_mode:
                ts = tpos + len(_tok_py(hdr, token_mode))
                spans.append(
                    (start, start + len(c2), ts, ts + len(_tok_py(c2, token_mode)))
                )
            else:
                spans.append((start, start + len(c2)))
        text += hdr + c2 + ftr
        pos += len(hdr) + len(c2) + len(ftr)
        if token_mode:
            tpos += sum(len(_tok_py(x, token_mode)) for x in (hdr, c2, ftr))
    return text, spans


def _rand_convs(seed, n=40):
    import random

    rng = random.Random(seed)
    alphabet = "ab \n<|>é漢|._"
    rows = []
    for cid in range(n):
        msgs = [
            (
                rng.choice(["system", "user", "assistant", "tool"]),
                "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 30))),
            )
            for _ in range(rng.randrange(1, 7))
        ]
        rows.append((cid, msgs))
    return rows


def test_render_chat_chatml_template_twin(spark):
    """ChatML template: exact text + char/token offsets vs the python
    twin, substring invariant preserved under a template whose footer
    is NOT whitespace-leading (the per-part token convention case)."""
    rows = _rand_convs(11)
    df = spark.createDataFrame(
        rows,
        "conv_id long, messages array<struct<role:string,content:string>>",
    )
    got = {
        r["conv_id"]: r
        for r in render_chat(df, template=CHATML, token_mode="whitespace").collect()
    }
    for cid, msgs in rows:
        text, spans = _twin_t(msgs, CHATML, token_mode="whitespace")
        assert got[cid]["text"] == text, cid
        gs = [
            (s["start"], s["end"], s["tok_start"], s["tok_end"])
            for s in got[cid]["supervised_spans"]
        ]
        assert gs == spans, cid
        for (a, b, _ts, _te), c in zip(
            gs, [c for r, c in msgs if r == "assistant"]
        ):
            assert text[a:b] == c, cid


def test_render_chat_role_keyed_overrides(spark):
    """Role-keyed header/footer overrides: span arithmetic derives
    from the same header expression, so offsets stay exact when one
    role renders differently from the prefix+role+suffix rule."""
    tpl = ChatTemplate(
        headers={"user": "### User:\n", "assistant": "### Reply\n"},
        footers={"assistant": "\n---\n"},
    )
    rows = _rand_convs(23)
    df = spark.createDataFrame(
        rows,
        "conv_id long, messages array<struct<role:string,content:string>>",
    )
    got = {r["conv_id"]: r for r in render_chat(df, template=tpl).collect()}
    for cid, msgs in rows:
        text, spans = _twin_t(msgs, tpl)
        assert got[cid]["text"] == text, cid
        gs = [(s["start"], s["end"]) for s in got[cid]["supervised_spans"]]
        assert gs == spans, cid
        for (a, b), c in zip(gs, [c for r, c in msgs if r == "assistant"]):
            assert text[a:b] == c, cid


def test_render_chat_token_spans_whole_text(spark):
    """Default template boundaries are whitespace, so the per-part
    token coordinates equal WHOLE-TEXT tokenization: tokenizing the
    rendered string and slicing [tok_start:tok_end] recovers exactly
    the tokens of the supervised content."""
    rows = _rand_convs(37)
    df = spark.createDataFrame(
        rows,
        "conv_id long, messages array<struct<role:string,content:string>>",
    )
    for mode in ("whitespace", "bpe"):
        got = {
            r["conv_id"]: r
            for r in render_chat(df, token_mode=mode).collect()
        }
        for cid, msgs in rows:
            r = got[cid]
            toks = _tok_py(r["text"], mode)
            assert r["n_tokens"] == len(toks), (cid, mode)
            for sp, c in zip(
                r["supervised_spans"],
                [c for rr, c in msgs if rr == "assistant"],
            ):
                assert toks[sp["tok_start"] : sp["tok_end"]] == _tok_py(
                    c, mode
                ), (cid, mode)


def test_pack_sft_rows_token_budget_rebases_token_spans(spark):
    """Token-budget packing: bins by the render-consistent n_tokens
    column, respects the budget in TOKENS, and re-bases BOTH char and
    token spans — every re-based token span slices its content's
    tokens out of the tokenized PACK text."""
    import random

    from opencosmo_spark.pipeline.chat import chat_sft_rows, pack_sft_rows

    rng = random.Random(5)
    convs = []
    for cid in range(30):
        msgs = []
        for _ in range(rng.randrange(1, 4)):
            msgs.append(
                ("user", " ".join(rng.choice(["ask", "why", "how"]) for _ in range(rng.randrange(2, 8))))
            )
            msgs.append(
                ("assistant", " ".join(rng.choice(["yes", "no", "so", "ok"]) for _ in range(rng.randrange(2, 10))))
            )
        convs.append((cid, msgs))
    df = spark.createDataFrame(
        convs,
        "conv_id long, messages array<struct<role:string,content:string>>",
    )
    sft = chat_sft_rows(df, token_mode="whitespace")
    packs = pack_sft_rows(
        sft, budget=60, token_count_col="n_tokens"
    ).collect()
    seen = 0
    want = []
    for cid, msgs in convs:
        _text, spans = _twin_t(msgs, DEFAULT_TEMPLATE, token_mode="whitespace")
        want.extend(
            " ".join(_tok_py(c)) for r, c in msgs if r == "assistant"
        )
    got_tok_slices, got_char_slices = [], []
    for p in packs:
        assert p["oversize"] or p["pack_tokens"] <= 60
        seen += p["n_docs"]
        toks = _tok_py(p["text"])
        for s in p["supervised_spans"]:
            got_char_slices.append(p["text"][s["start"] : s["end"]])
            got_tok_slices.append(
                " ".join(toks[s["tok_start"] : s["tok_end"]])
            )
    assert seen == 30
    assert sorted(got_tok_slices) == sorted(want)
    # char spans agree with token spans content-wise (contents here
    # are whitespace-clean so the joined tokens equal the raw slice)
    assert sorted(got_char_slices) == sorted(want)


def test_render_chat_max_turns_error_and_truncate(spark):
    """The quadratic-guard: past max_turns the default loudly errors;
    on_long='truncate' slices and flags instead."""
    long_msgs = [("user", f"m{i}") for i in range(10)]
    df = spark.createDataFrame(
        [(0, long_msgs), (1, [("assistant", "short")])],
        "conv_id long, messages array<struct<role:string,content:string>>",
    )
    with pytest.raises(Exception, match="max_turns"):
        render_chat(df, max_turns=5).collect()
    got = {
        r["conv_id"]: r
        for r in render_chat(df, max_turns=5, on_long="truncate").collect()
    }
    text5, _ = _twin_t(long_msgs[:5], DEFAULT_TEMPLATE)
    assert got[0]["text"] == text5
    assert got[0]["turns_truncated"] is True
    assert got[1]["turns_truncated"] is False
    assert got[1]["text"] == _twin_t([("assistant", "short")], DEFAULT_TEMPLATE)[0]


def test_chat_sft_rows_truncate_keeps_flag(spark):
    """chat_sft_rows(on_long='truncate') must carry turns_truncated
    through its final select so downstream consumers can tell which
    conversations were sliced."""
    long_msgs = [("user", f"m{i}") for i in range(6)] + [
        ("assistant", "answer")
    ]
    df = spark.createDataFrame(
        [(0, long_msgs), (1, [("user", "hi"), ("assistant", "yo")])],
        "conv_id long, messages array<struct<role:string,content:string>>",
    )
    out = chat_sft_rows(df, max_turns=4, on_long="truncate")
    assert "turns_truncated" in out.columns
    got = {r["conv_id"]: r for r in out.collect()}
    # conv 0's assistant turn was sliced off -> no supervised chars,
    # so it's filtered; conv 1 survives un-truncated
    assert got[1]["turns_truncated"] is False
    out2 = {
        r["conv_id"]: r
        for r in chat_sft_rows(
            df, max_turns=7, on_long="truncate"
        ).collect()
    }
    assert out2[0]["turns_truncated"] is False
    # error mode keeps the old schema (no flag column)
    assert "turns_truncated" not in chat_sft_rows(
        df, max_turns=10
    ).columns


def test_supervised_token_mask_matches_spans(spark, convs):
    """loss_mask is exactly the union of the token spans, on both raw
    SFT rows and packs; char/token-less renders refuse loudly."""
    from opencosmo_spark.pipeline.chat import (
        pack_sft_rows,
        supervised_token_mask,
    )

    sft = chat_sft_rows(convs, token_mode="whitespace")
    masked = supervised_token_mask(sft).collect()
    assert masked
    for r in masked:
        m = list(r["loss_mask"])
        assert len(m) == r["n_tokens"]
        want = [False] * r["n_tokens"]
        for sp in r["supervised_spans"]:
            for i in range(sp["tok_start"], sp["tok_end"]):
                want[i] = True
        assert m == want
        # the masked tokens ARE the supervised contents' tokens
        toks = r["text"].split()
        got_toks = [t for t, keep in zip(toks, m) if keep]
        want_toks = [
            t
            for sp in r["supervised_spans"]
            for t in r["text"][sp["start"] : sp["end"]].split()
        ]
        assert got_toks == want_toks

    packs = pack_sft_rows(
        sft, budget=64, token_count_col="n_tokens"
    )
    pm = supervised_token_mask(
        packs, n_tokens_col="pack_tokens"
    ).collect()
    for r in pm:
        assert len(r["loss_mask"]) == r["pack_tokens"]
        assert sum(r["loss_mask"]) == sum(
            sp["tok_end"] - sp["tok_start"] for sp in r["supervised_spans"]
        )

    import pytest as _pytest

    with _pytest.raises(ValueError, match="tok_start"):
        supervised_token_mask(chat_sft_rows(convs))
