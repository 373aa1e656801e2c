"""N-gram language-model perplexity scoring — the CCNet-style corpus
quality signal (Wenzek et al. 2020 score documents by the perplexity
of a KenLM model trained on trusted text; here the model is a
DataFrame-native add-alpha bigram LM, so training AND scoring scale
with the cluster instead of a single-node binary).

Scale design: the trained model is a pair of count TABLES keyed by
8-byte word hashes (bigram and unigram), NOT a driver-side object —
for web-scale vocabularies the model itself is data. Scoring explodes
each document into its bigrams (the shifted-slice zip, zero shuffle)
and joins the two count tables; both joins are hash-keyed equi-joins
that AQE broadcasts automatically when the model is small. Scores are
exact, deterministic, and engine-independent given the same
tokenizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .text import WORD_RE, words_expr


def _bigram_frame(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, h1, h2) — one row per adjacent word pair, hashes of the
    lowered words; documents with < 2 words produce no rows.

    Rendered as parsed SQL text (the _litarr idiom): the Column form
    registered one transform + one zip_with lambda (~20 ms of py4j
    round-trips each) per call, and this builder runs 2-3x per
    LM-scoring construction (guide §4's boundary cost at the
    driver↔JVM boundary). Same tokenizer (``words_expr``'s
    ``WORD_RE``), same shifted-slice zip, same (id, h1, h2) output."""
    from .._litarr import sql_ident as _q, sql_str

    tq, iq = _q(text_col), _q(id_col)
    words = f"regexp_extract_all(lower({tq}), {sql_str(WORD_RE)}, 0)"
    base = df.selectExpr(
        iq, f"transform({words}, w -> xxhash64(w)) AS __wh"
    )
    n1 = "greatest(size(__wh) - 1, 0)"
    return base.selectExpr(
        iq,
        f"inline(zip_with(slice(__wh, 1, {n1}), slice(__wh, 2, {n1}), "
        "(a, b) -> named_struct('h1', a, 'h2', b)))",
    )


def train_bigram_lm(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> dict:
    """Count tables for an add-alpha bigram LM from a trusted corpus.

    Returns ``{"bigrams": (h1, h2, c12), "unigrams": (h1, c1),
    "vocab_df": (h), "vocab": V, "total": N}`` — the DataFrames stay
    distributed; ``vocab``/``total`` are the only driver scalars. Counts follow
    the conditional convention: ``c1`` counts tokens in FIRST-of-pair
    position (i.e. all but each document's last token), so
    ``sum(c12 over h2) == c1`` exactly and the add-alpha conditionals
    normalize."""
    bg = _bigram_frame(df, text_col, id_col)
    bigrams = bg.groupBy("h1", "h2").agg(F.count(F.lit(1)).alias("c12"))
    unigrams = bg.groupBy("h1").agg(F.count(F.lit(1)).alias("c1"))
    vocab_df = (
        df.select(F.explode(words_expr(text_col)).alias("__w"))
        .select(F.xxhash64("__w").alias("h"))
        .distinct()
    )
    vocab = vocab_df.count()
    total = bg.count()
    return {
        "bigrams": bigrams,
        "unigrams": unigrams,
        "vocab_df": vocab_df,
        "vocab": int(vocab),
        "total": int(total),
    }


def train_bigram_lm_lazy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> dict:
    """``train_bigram_lm`` with the two driver scalars kept LAZY: the
    eager form runs two count JOBS at construction time (guide §5 —
    the driver should do no data work while building a plan), which a
    consumer embedding the LM in a larger query pays on every
    construction. Returns the same count tables plus ``vocab_scalar``
    — a ONE-ROW frame ``(vocab bigint)`` the consumer cross-joins
    (a 1-row side broadcasts) so V becomes a plan column instead of a
    collected literal. ``total`` (only needed for the OOV default in
    perplexity scoring) is deliberately NOT materialized here — a
    third aggregate over the bigram frame would add a full corpus
    pass; count it eagerly if needed. Values are identical to the
    eager form's; only when/where they are computed changes."""
    bg = _bigram_frame(df, text_col, id_col)
    bigrams = bg.groupBy("h1", "h2").agg(F.count(F.lit(1)).alias("c12"))
    unigrams = bg.groupBy("h1").agg(F.count(F.lit(1)).alias("c1"))
    vocab_df = (
        df.select(F.explode(words_expr(text_col)).alias("__w"))
        .select(F.xxhash64("__w").alias("h"))
        .distinct()
    )
    return {
        "bigrams": bigrams,
        "unigrams": unigrams,
        "vocab_df": vocab_df,
        "vocab_scalar": vocab_df.agg(F.count(F.lit(1)).alias("vocab")),
    }


def perplexity_score(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
    oov_log_prob: float | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Per-document bigram cross-entropy and perplexity under the
    trained model with add-alpha smoothing:

    ``p(w2 | w1) = (c12 + alpha) / (c1 + alpha * V)``

    A predicted word OUTSIDE the training vocabulary instead scores
    ``oov_log_prob`` (default ``log(alpha / (N + alpha * V))`` — the
    mass of a never-seen unigram, KenLM's ``<unk>`` posture). Without
    this, an all-OOV document would degrade to the uniform ``1/V``
    conditional and out-of-domain gibberish could score BETTER than
    in-vocabulary-but-unseen word order at small V. Returns
    ``(id, n_bigrams, cross_entropy, perplexity)`` — cross-entropy in
    nats per bigram, perplexity = ``exp(H)``; documents with < 2
    words get NULL scores rather than a fake perfect score. Low
    perplexity = in-domain (CCNet keeps the low tail; its
    head/middle/tail split is a ``quantile`` call away).
    """
    if alpha <= 0:
        raise ValueError("alpha must be positive (unsmoothed zeros give "
                         "infinite cross-entropy on any unseen bigram)")
    v = float(model["vocab"])
    if oov_log_prob is None:
        import math

        oov_log_prob = math.log(alpha / (model["total"] + alpha * v))
    bg = _bigram_frame(df, text_col, id_col)
    in_vocab = model["vocab_df"].select(
        F.col("h").alias("h2"), F.lit(True).alias("__known")
    )
    scored = (
        bg.join(model["bigrams"], ["h1", "h2"], "left")
        .join(model["unigrams"], ["h1"], "left")
        .join(in_vocab, ["h2"], "left")
        .select(
            id_col,
            F.when(F.col("__known").isNull(), F.lit(float(oov_log_prob)))
            .otherwise(
                F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)).cast("double") + alpha)
                    / (
                        F.coalesce(F.col("c1"), F.lit(0)).cast("double")
                        + alpha * v
                    )
                )
            )
            .alias("__lp"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (-F.avg("__lp")).alias("__h"),
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.round(F.col("__h"), decimals).alias("cross_entropy"),
            F.round(F.exp(F.col("__h")), decimals).alias("perplexity"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
    splits: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    rel_err: float = 0.001,
    scorer: str = "auto",
    lambdas: tuple[float, float, float, float] = (0.6, 0.25, 0.1, 0.05),
) -> DataFrame:
    """The CCNet head/middle/tail split (Wenzek et al. 2020): score
    every document's perplexity, then label the lowest-perplexity
    ``splits[0]`` fraction "head", the next band "middle", the rest
    "tail" (head = most in-domain; CCNet trains on head+middle).
    Documents too short to score (NULL perplexity) are labeled
    "unscored" rather than silently joining a band.

    ``scorer`` picks the model: "bigram" (add-``alpha`` smoothing),
    "trigram" (Jelinek-Mercer interpolation with ``lambdas`` — the
    sharper split, needs a ``train_trigram_lm`` model), or "auto"
    (default: trigram iff the model dict carries trigram tables).

    The two thresholds come from ONE ``approxQuantile`` pass
    (``rel_err`` rank accuracy — at corpus scale the exact quantile
    is statistically meaningless anyway); the labeling itself is a
    pushable CASE projection. Returns the ``perplexity_score``
    columns plus ``ppl_bucket``.
    """
    if scorer == "auto":
        scorer = "trigram" if "trigrams" in model else "bigram"
    if scorer == "trigram":
        if "trigrams" not in model:
            raise ValueError(
                "scorer='trigram' needs a train_trigram_lm model "
                "(no trigram tables in this model dict)"
            )
        scored = trigram_perplexity_score(
            df, model, text_col, id_col, lambdas=lambdas
        )
    elif scorer == "bigram":
        scored = perplexity_score(df, model, text_col, id_col, alpha)
    else:
        raise ValueError(f"scorer must be auto|bigram|trigram, got {scorer!r}")
    qs = scored.filter(F.col("perplexity").isNotNull()).approxQuantile(
        "perplexity", [float(splits[0]), float(splits[1])], rel_err
    )
    if len(qs) < 2:  # nothing scorable: every row is 'unscored'
        return scored.withColumn(
            "ppl_bucket",
            F.when(F.col("perplexity").isNull(), F.lit("unscored"))
            .otherwise(F.lit("head")),
        )
    lo, hi = qs
    return scored.withColumn(
        "ppl_bucket",
        F.when(F.col("perplexity").isNull(), F.lit("unscored"))
        .when(F.col("perplexity") <= lo, F.lit("head"))
        .when(F.col("perplexity") <= hi, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


def _trigram_frame(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, h1, h2, h3) — one row per adjacent word triple; documents
    with < 3 words produce no rows. Same shifted-slice zip as the
    bigram frame, one more fold."""
    words = words_expr(text_col)
    wh = F.transform(words, lambda w: F.xxhash64(w))
    base = df.select(F.col(id_col), wh.alias("__wh"))
    c = F.col("__wh")
    n = F.size(c)
    nwin = F.greatest(n - 2, F.lit(0))
    a = F.slice(c, 1, nwin)
    b = F.slice(c, 2, nwin)
    d = F.slice(c, 3, nwin)
    z12 = F.zip_with(a, b, lambda x, y: F.struct(x.alias("h1"), y.alias("h2")))
    z = F.zip_with(
        z12,
        d,
        lambda s, x: F.struct(
            s["h1"].alias("h1"), s["h2"].alias("h2"), x.alias("h3")
        ),
    )
    return base.select(F.col(id_col), F.explode(z).alias("tg")).select(
        id_col,
        F.col("tg.h1").alias("h1"),
        F.col("tg.h2").alias("h2"),
        F.col("tg.h3").alias("h3"),
    )


def train_trigram_lm(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> dict:
    """Count tables for a Jelinek-Mercer interpolated trigram LM —
    one step closer to the 5-gram KenLM CCNet actually uses, same
    model-as-data posture as ``train_bigram_lm``:

    - ``trigrams`` (h1, h2, h3, c3) and its context sums
      ``ctx3`` (h1, h2, cc3),
    - ``bigrams`` / ``unigrams`` with the first-position convention
      (so ML2 = c12/c1 conditions exactly),
    - ``tokens`` (h, ct) over ALL token positions with the scalar
      ``n_tokens`` for the unigram ML term,
    - ``vocab_df`` / ``vocab`` for the floor term and OOV handling.
    """
    base = train_bigram_lm(df, text_col, id_col)
    tg = _trigram_frame(df, text_col, id_col)
    trigrams = tg.groupBy("h1", "h2", "h3").agg(
        F.count(F.lit(1)).alias("c3")
    )
    ctx3 = trigrams.groupBy("h1", "h2").agg(F.sum("c3").alias("cc3"))
    toks = (
        df.select(F.explode(words_expr(text_col)).alias("__w"))
        .select(F.xxhash64("__w").alias("h"))
    )
    tokens = toks.groupBy("h").agg(F.count(F.lit(1)).alias("ct"))
    n_tokens = toks.count()
    base.update(
        {
            "trigrams": trigrams,
            "ctx3": ctx3,
            "tokens": tokens,
            "n_tokens": int(n_tokens),
        }
    )
    return base


def trigram_perplexity_score(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    lambdas: tuple[float, float, float, float] = (0.6, 0.25, 0.1, 0.05),
    decimals: int = 6,
) -> DataFrame:
    """Per-document cross-entropy/perplexity under the interpolated
    trigram model:

    ``p(w3 | w1 w2) = L3*c123/c12ctx + L2*c23/c2 + L1*ct(w3)/N + L0/V``

    — Jelinek & Mercer 1980 linear interpolation with fixed weights
    (``lambdas`` must sum to ~1); every maximum-likelihood term
    degrades to 0 when its context is unseen, shifting mass to the
    lower orders, and the ``L0/V`` floor keeps the log finite.
    Out-of-vocabulary predicted words score ``log(L0 / (V + 1))``.
    Only positions with a full 2-word context are scored (documents
    with < 3 words get NULL, the ``perplexity_score`` convention).

    Scale shape: four hash-keyed equi-joins over the exploded trigram
    stream (trigram, trigram-context, bigram+its context, token
    unigram) — AQE broadcasts small models, web-scale models stay
    shuffled-hash; the arithmetic is one JVM expression.
    """
    import math

    l3, l2, l1, l0 = (float(x) for x in lambdas)
    if abs(l3 + l2 + l1 + l0 - 1.0) > 1e-9 or min(l3, l2, l1, l0) < 0:
        raise ValueError(f"lambdas must be non-negative and sum to 1, got {lambdas}")
    if l0 <= 0:
        raise ValueError("lambdas[3] (the 1/V floor) must be positive")
    v = float(model["vocab"])
    nt = float(model["n_tokens"])
    oov_lp = math.log(l0 / (v + 1.0))
    tg = _trigram_frame(df, text_col, id_col)
    in_vocab = model["vocab_df"].select(
        F.col("h").alias("h3"), F.lit(True).alias("__known")
    )
    # bigram tables condition on (h2 -> h3): rename for the join
    bi = model["bigrams"].select(
        F.col("h1").alias("h2"), F.col("h2").alias("h3"), F.col("c12")
    )
    uni = model["unigrams"].select(F.col("h1").alias("h2"), F.col("c1"))
    tok = model["tokens"].select(F.col("h").alias("h3"), F.col("ct"))
    z = F.lit(0.0)
    ml3 = F.when(
        F.col("cc3").isNotNull() & F.col("c3").isNotNull(),
        F.col("c3").cast("double") / F.col("cc3").cast("double"),
    ).otherwise(z)
    ml2 = F.when(
        F.col("c1").isNotNull() & F.col("c12").isNotNull(),
        F.col("c12").cast("double") / F.col("c1").cast("double"),
    ).otherwise(z)
    ml1 = F.coalesce(F.col("ct").cast("double"), z) / F.lit(nt)
    p = (
        F.lit(l3) * ml3
        + F.lit(l2) * ml2
        + F.lit(l1) * ml1
        + F.lit(l0) / F.lit(v)
    )
    scored = (
        tg.join(model["trigrams"], ["h1", "h2", "h3"], "left")
        .join(model["ctx3"], ["h1", "h2"], "left")
        .join(bi, ["h2", "h3"], "left")
        .join(uni, ["h2"], "left")
        .join(tok, ["h3"], "left")
        .join(in_vocab, ["h3"], "left")
        .select(
            id_col,
            F.when(F.col("__known").isNull(), F.lit(oov_lp))
            .otherwise(F.log(p))
            .alias("__lp"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        (-F.avg("__lp")).alias("__h"),
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
            F.round(F.col("__h"), decimals).alias("cross_entropy"),
            F.round(F.exp(F.col("__h")), decimals).alias("perplexity"),
        )
    )
