"""DSIR — Data Selection with Importance Resampling (Xie et al.
2023, NeurIPS): select raw-corpus documents whose hashed-n-gram
distribution looks like a TARGET corpus, by importance weight

    log w(x) = sum_f  c_f(x) * [ log p_target(f) - log p_raw(f) ]

where ``f`` ranges over hashed unigram+bigram features (the paper's
bag-of-hashed-ngrams multinomial) and ``c_f(x)`` are the document's
feature counts. High-weight documents are then kept by importance
resampling — here the existing ``importance_sample`` budget solver.

Scale shape: both feature models are COUNT TABLES (bucket ->
probability), never driver objects — the lm.py discipline. Scoring is
one explode + one join against the (tiny: ``n_buckets`` rows,
broadcast by AQE) model table and a per-doc sum; training is one
aggregation per corpus. Feature hashing defaults to xxhash64 (the
scale path); ``hasher="md5"`` switches to the md5 lane, which the
python-twin tests reproduce bit-for-bit — the same two-speed
discipline as ``minhash_signatures``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .._rounds import checkpoint_round
from .dedup import md5_lane
from .text import words_expr


def _feature_frame(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int,
    hasher: str = "xxhash64",
) -> DataFrame:
    """(id, bucket, c) — hashed unigram+bigram counts per document.
    Buckets are ``hash(feature) % n_buckets``; bigram features are
    the two words joined by a space (distinct from any unigram).
    ``hasher="xxhash64"`` (default) is the scale path (~2x faster);
    ``"md5"`` is bit-reproducible in the python twin / any SQL
    engine — the minhash_signatures discipline."""
    words = words_expr(text_col)
    n = F.size(words)
    bigrams = F.zip_with(
        F.slice(words, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    feats = F.concat(words, bigrams)
    return (
        df.select(F.col(id_col), F.explode(feats).alias("__f"))
        .select(
            id_col,
            F.pmod(
                md5_lane(F.col("__f"))
                if hasher == "md5"
                else F.xxhash64(F.col("__f")),
                F.lit(int(n_buckets)),
            ).alias("bucket"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def train_dsir_model(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    hasher: str = "xxhash64",
) -> dict:
    """Multinomial feature model of a corpus: ``{"probs": (bucket,
    logp), "n_buckets", "alpha", "total"}``. Add-alpha smoothed over
    ALL buckets, so unseen buckets carry ``log(alpha / (N + alpha*B))``
    — the table holds only OBSERVED buckets plus that floor as a
    driver scalar. One aggregation pass; the table is at most
    ``n_buckets`` rows."""
    if hasher not in ("xxhash64", "md5"):
        raise ValueError(f"hasher must be 'xxhash64' or 'md5', got {hasher!r}")
    counts = (
        _feature_frame(df, text_col, id_col, n_buckets, hasher)
        .groupBy("bucket")
        .agg(F.sum("c").alias("n"))
    )
    total = counts.agg(F.sum("n")).first()[0] or 0
    denom = float(total) + alpha * n_buckets
    probs = counts.select(
        "bucket",
        F.log((F.col("n") + F.lit(alpha)) / F.lit(denom)).alias("logp"),
    )
    return {
        "probs": probs,
        "n_buckets": int(n_buckets),
        "hasher": hasher,
        "alpha": float(alpha),
        "floor_logp": math.log(alpha / denom),
        "total": int(total),
    }


def dsir_weights(
    df: DataFrame,
    target_model: dict,
    raw_model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Attach ``log_weight`` (the DSIR log importance ratio) to every
    document. Rows with no features (empty text) get log_weight 0.

    Train ``target_model`` on the domain you WANT (Wikipedia, books,
    your eval distribution) and ``raw_model`` on the raw pool itself;
    then resample with ``dsir_resample`` or feed
    ``exp(log_weight - max)`` into ``importance_sample``.
    """
    if target_model["n_buckets"] != raw_model["n_buckets"]:
        raise ValueError(
            "target and raw models use different n_buckets — retrain "
            "with a shared feature space"
        )
    if target_model.get("hasher", "md5") != raw_model.get("hasher", "md5"):
        raise ValueError(
            "target and raw models use different hashers — retrain "
            "with a shared feature space"
        )
    scored = _score_frame(df, target_model, raw_model, text_col, id_col)
    return df.join(scored, id_col, "left").withColumn(
        "log_weight", F.coalesce("log_weight", F.lit(0.0))
    )


def _score_frame(
    df: DataFrame,
    target_model: dict,
    raw_model: dict,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Narrow (id, log_weight) frame — the expensive featurization +
    model joins, WITHOUT the corpus columns. ``dsir_resample`` persists
    this so the solve never re-runs the explode."""
    feats = _feature_frame(
        df, text_col, id_col, target_model["n_buckets"],
        target_model.get("hasher", "md5"),
    )
    t = target_model["probs"].withColumnRenamed("logp", "__lt")
    r = raw_model["probs"].withColumnRenamed("logp", "__lr")
    return (
        feats.join(t, "bucket", "left")
        .join(r, "bucket", "left")
        .select(
            id_col,
            (
                F.col("c")
                * (
                    F.coalesce(
                        F.col("__lt"), F.lit(target_model["floor_logp"])
                    )
                    - F.coalesce(F.col("__lr"), F.lit(raw_model["floor_logp"]))
                )
            ).alias("__lw"),
        )
        .groupBy(id_col)
        .agg(F.sum("__lw").alias("log_weight"))
    )


def dsir_resample(
    df: DataFrame,
    target_model: dict,
    raw_model: dict,
    target_frac: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "dsir",
) -> DataFrame:
    """DSIR end-to-end: weight by the importance ratio, then keep a
    deterministic ``target_frac`` expected fraction with probability
    proportional to the weight (``importance_sample``'s budget
    solver). Weights are stabilized as ``exp(log_weight - max)``
    (one tiny aggregate) before the solve, so extreme ratios can't
    overflow. Returns the surviving rows with ``log_weight``.

    The corpus pays the featurization explode exactly ONCE: the
    narrow (id, log_weight) score frame is persisted, the max /
    budget-solve / acceptance all run against it, and the surviving
    ids join back to the corpus at the end."""
    from pyspark import StorageLevel

    from .sample import importance_sample

    scores = _score_frame(
        df, target_model, raw_model, text_col, id_col
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        mx = scores.agg(F.max("log_weight")).first()[0] or 0.0
        weighted = scores.withColumn(
            "__w", F.exp(F.col("log_weight") - F.lit(float(mx)))
        )
        # the surviving (id, log_weight) set is narrow — materialize
        # it eagerly (``_rounds.checkpoint_round``) so the explode
        # lineage is fully consumed before the unpersist, and the
        # returned plan is corpus ⋈ small-ids
        kept, _ = checkpoint_round(
            importance_sample(
                weighted, "__w", target_frac, id_col=id_col, salt=salt
            ).drop("__w")
        )
    finally:
        scores.unpersist()
    # docs with no features never enter the score frame; a
    # featureless doc cannot be importance-selected, so inner join
    return df.join(kept, id_col, "inner")
