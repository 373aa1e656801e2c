"""Benchmark decontamination: flag or drop training documents that
overlap an evaluation/benchmark set by word n-grams.

The standard contamination check (GPT-3 appendix C; Dolma/FineWeb
recipes): a training doc is contaminated when it shares at least one
(or more than ``max_frac``) k-word n-grams with any benchmark document.

Scale design: the benchmark side is SMALL (a few thousand eval docs)
and the corpus side is the 100 TB one, so the plan must stream the
corpus exactly once and never shuffle it by gram:

1. distinct k-gram hash set of the eval set — tiny (``n_eval x grams``
   8-byte hashes), built once;
2. corpus docs explode their DISTINCT grams and LEFT-SEMI join the
   broadcast eval set — map-side hash probe, NO corpus shuffle;
3. one groupBy(doc) to count hits — the only shuffle, keyed by doc id
   and combinable map-side (count partial-aggregates).

Gram hashing reuses the dedup shingle machinery (progressive xxhash64
over the word stream — ``dedup._shingle_frame``), so the equality
relation is exactly "same k consecutive words" and the whole check is
value-reproducible in a SQL oracle over string n-grams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import _shingle_frame


def ngram_overlap(
    corpus: DataFrame,
    eval_df: DataFrame | None,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    eval_index: DataFrame | None = None,
    index_params: dict | None = None,
) -> DataFrame:
    """Per-corpus-doc overlap stats vs the eval set's k-gram universe.

    Returns ``(id_col, n_grams, n_hit, frac)`` — one row per corpus
    doc, where ``n_grams`` counts the doc's DISTINCT k-grams, ``n_hit``
    how many of them appear anywhere in the eval set, and
    ``frac = n_hit / n_grams`` rounded to 6 decimals. Docs whose text
    yields no grams (null text) have no row — they cannot overlap;
    ``decontaminate`` keeps them.

    ``eval_index`` takes a loaded ``write_decontamination_index``
    table instead of (or alongside) ``eval_df``: the benchmark side is
    then never re-shingled — the stored gram-hash set probes directly.
    Pass the index's ``index_params`` too so a ``k`` mismatch (which
    would silently match NOTHING — different window length, disjoint
    hash universes) fails loudly.
    """
    if eval_df is None and eval_index is None:
        raise ValueError("pass eval_df and/or eval_index")
    if index_params and index_params.get("k", k) != k:
        raise ValueError(
            f"index was built with k={index_params['k']}, called with "
            f"k={k} — gram hashes would never match; use the index's k "
            "or rebuild the index"
        )
    ce = _shingle_frame(corpus, text_col, id_col, k)
    sides = []
    if eval_df is not None:
        sides.append(
            _shingle_frame(
                eval_df.select(
                    F.monotonically_increasing_id().alias("__eid"),
                    F.col(eval_text_col or text_col).alias("__etext"),
                ),
                "__etext",
                "__eid",
                k,
            ).select(F.explode("sh").alias("h"))
        )
    if eval_index is not None:
        sides.append(eval_index.select("h"))
    ev = sides[0]
    for s in sides[1:]:
        ev = ev.unionByName(s)
    ev = ev.distinct().withColumn("__hit", F.lit(1))
    # ONE pass over the exploded corpus grams: a broadcast LEFT join
    # marks hits, then a single per-doc aggregation counts both the
    # gram total and the hit count — the corpus shingle subtree is
    # evaluated once (a semi-join + separate size projection would
    # evaluate it per branch: measured 2x at 10x bench scale).
    ex = ce.select(F.col(id_col), F.explode("sh").alias("h"))
    marked = ex.join(F.broadcast(ev), "h", "left")
    out = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_grams"),
        F.count("__hit").alias("n_hit"),
    )
    return out.select(
        id_col,
        "n_grams",
        "n_hit",
        F.round(
            F.col("n_hit").cast("double") / F.col("n_grams"), 6
        ).alias("frac"),
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame | None,
    k: int = 8,
    max_frac: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    eval_index: DataFrame | None = None,
    index_params: dict | None = None,
) -> DataFrame:
    """Drop corpus docs whose eval-set n-gram overlap exceeds
    ``max_frac`` (default 0.0 — any shared k-gram disqualifies).
    Returns surviving corpus rows with their original columns; the
    CONTAMINATED set is applied with a LEFT-ANTI join on id, so the
    corpus payload columns never enter the overlap computation's
    shuffles — and docs that produce no grams at all (null text) are
    absent from the stats and correctly SURVIVE (nothing to overlap),
    which a keep-side semi-join would silently drop.

    ``eval_index`` / ``index_params`` pass through to
    ``ngram_overlap`` — the persisted-benchmark-index path.
    """
    stats = ngram_overlap(
        corpus,
        eval_df,
        k,
        text_col,
        id_col,
        eval_text_col,
        eval_index=eval_index,
        index_params=index_params,
    )
    drop = stats.filter(F.col("frac") > max_frac).select(id_col)
    return corpus.join(drop, id_col, "left_anti")


def write_decontamination_index(
    eval_df: DataFrame,
    path: str,
    *,
    k: int = 8,
    text_col: str = "text",
    buckets: int = 8,
) -> dict:
    """Materialize a benchmark suite's k-gram hash universe as a
    parquet artifact — the decontamination twin of
    ``dedup.write_dedup_index``. Benchmarks change rarely and every
    corpus release re-checks against ALL of them, so re-shingling the
    eval texts per release (per corpus, per recipe stage) is wasted
    work and — worse — re-distributes eval TEXT to the cluster each
    time; the index stores only distinct 8-byte gram hashes (``h``),
    which is also the privacy-friendly shape for benchmark sets whose
    text cannot ship with the pipeline.

    Build parameters land in ``_decon_params.json`` inside the
    directory (and are returned): a probe with a different ``k``
    shares NO hashes with the index (different window length), so
    ``ngram_overlap`` validates them when given. Indexes for several
    benchmarks can be unioned at probe time (they are plain
    ``h``-column tables); keep one ``k`` per family.
    """
    grams = (
        _shingle_frame(
            eval_df.select(
                F.monotonically_increasing_id().alias("__eid"),
                F.col(text_col).alias("__etext"),
            ),
            "__etext",
            "__eid",
            k,
        )
        .select(F.explode("sh").alias("h"))
        .distinct()
    )
    grams.repartition(buckets).write.mode("overwrite").parquet(path)
    import json

    from ..io.ingest import hadoop_fs

    params = {"k": k}
    jvm, fs, jpath = hadoop_fs(
        eval_df.sparkSession, path.rstrip("/") + "/_decon_params.json"
    )
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(json.dumps(params).encode("utf-8")))
    finally:
        stream.close()
    return params


def read_decontamination_index(spark, path: str) -> tuple[DataFrame, dict]:
    """Load a ``write_decontamination_index`` table plus its build
    parameters; pass both to ``ngram_overlap`` / ``decontaminate``
    (``eval_index=..., index_params=...``) so a ``k`` mismatch fails
    loudly instead of silently matching nothing."""
    import json

    from ..io.ingest import hadoop_fs

    df = spark.read.parquet(path)
    jvm, fs, jpath = hadoop_fs(spark, path.rstrip("/") + "/_decon_params.json")
    params: dict = {}
    if fs.exists(jpath):
        stream = fs.open(jpath)
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            stream, baos, spark._jsc.hadoopConfiguration(), True
        )
        params = json.loads(bytes(baos.toByteArray()).decode("utf-8"))
    return df, params


def semantic_overlap(
    corpus: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.9,
    nlist: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebook: list | None = None,
) -> DataFrame:
    """Embedding-space decontamination (the FineWeb-era complement of
    the n-gram check): for each corpus vector, the nearest eval vector
    at cosine >= ``threshold`` within the same IVF cell.

    Returns ``(id_col, cell, eval_id, sim)`` for flagged corpus rows
    only — rows absent from the result have no sufficiently-similar
    eval neighbor in their cell. Join semantics mirror
    ``similarity.semantic_dedup`` (shared quantizer across both
    frames, cell-keyed join, norms hoisted per row); the same
    cell-population scaling rule applies: grow ``nlist`` with the
    corpus, and remember recall is per-cell (a borderline eval
    neighbor quantized into another cell is not seen — raise nprobe
    semantics by lowering nlist, or accept the standard IVF recall
    trade).

    The codebook defaults to the first ``nlist`` CORPUS vectors by id;
    pass an explicit one to share a quantizer with other stages.
    """
    from .._litarr import sql_ident
    from .similarity import (
        _default_codebook,
        _dot_sql,
        _norm_sql,
        assign_ivf_cells,
    )

    cents = codebook or _default_codebook(corpus, nlist, vec_col, id_col)

    def stamp(df, side):
        out = assign_ivf_cells(df, cents, vec_col, "__cell")
        return out.select(
            F.col(id_col).alias(f"__{side}_id"),
            F.col(vec_col).alias(f"__{side}_v"),
            F.expr(_norm_sql(sql_ident(vec_col))).alias(f"__{side}_n"),
            F.col("__cell").alias("cell"),
        )

    c = stamp(corpus, "c")
    e = stamp(eval_df, "e")
    sim = F.expr(
        f"round({_dot_sql('__c_v', '__e_v')} / (__c_n * __e_n), 6)"
    )
    pairs = (
        c.join(e, "cell")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= F.lit(float(threshold)))
    )
    # best-match argmax as a struct-min hash aggregate (sim desc,
    # eval_id asc — sim negation is lossless on the rounded double);
    # each (corpus, eval) pair meets in exactly one cell (single-cell
    # IVF assignment), so the trailing fields are payload, not order
    best = pairs.groupBy("__c_id").agg(
        F.min(
            F.struct(
                (-F.col("sim")).alias("__ns"),
                F.col("__e_id"),
                F.col("cell"),
            )
        ).alias("__b")
    )
    return best.select(
        F.col("__c_id").alias(id_col),
        F.col("__b.cell").alias("cell"),
        F.col("__b.__e_id").alias("eval_id"),
        (-F.col("__b.__ns")).alias("sim"),
    )


def _overlap_sketch_frame(
    a: DataFrame,
    b: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
    b_text_col: str | None,
    b_id_col: str | None,
    lg_nom: int,
) -> DataFrame:
    """One-row (na, nb, ns, nu) frame behind ``corpus_overlap_sketch``
    — split out so the plan test can pin its shape: each side reduces
    to a single sketch row BEFORE the only join (a 1-row x 1-row
    cross), i.e. gram rows never reach a join."""
    bt = b_text_col or text_col
    bi = b_id_col or id_col
    ska = (
        _shingle_frame(a, text_col, id_col, k)
        .select(F.explode("sh").alias("h"))
        .agg(F.theta_sketch_agg("h", lg_nom).alias("__ska"))
    )
    skb = (
        _shingle_frame(b.select(F.col(bi), F.col(bt)), bt, bi, k)
        .select(F.explode("sh").alias("h"))
        .agg(F.theta_sketch_agg("h", lg_nom).alias("__skb"))
    )
    return ska.crossJoin(skb).select(
        F.theta_sketch_estimate("__ska").alias("na"),
        F.theta_sketch_estimate("__skb").alias("nb"),
        F.theta_sketch_estimate(
            F.theta_intersection("__ska", "__skb")
        ).alias("ns"),
        F.theta_sketch_estimate(F.theta_union("__ska", "__skb")).alias(
            "nu"
        ),
    )


def corpus_overlap_sketch(
    a: DataFrame,
    b: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    b_text_col: str | None = None,
    b_id_col: str | None = None,
    lg_nom: int = 14,
) -> dict:
    """Theta-sketch ESTIMATE of ``corpus_overlap``'s gram-level
    numbers — the train-vs-benchmark / snapshot-vs-snapshot overlap
    report without EVER joining the two gram universes.

    ``corpus_overlap`` is exact but pays three set shuffles keyed by
    gram hash (two distincts + the shared-set equi-join); at two
    100 TB snapshots those are the dominant cost of the whole report.
    Here each side is scanned once into a Theta sketch (DataSketches
    aggregate, 2^``lg_nom`` nominal entries — KB-sized state that
    partial-aggregates map-side), and union / intersection estimates
    come from composing the TWO sketch values driver-side. Relative
    error ~1/sqrt(2^lg_nom) (~0.8% at the default) on each estimate;
    intersection error grows as the true overlap shrinks relative to
    the union — for exact counts or per-document effects run
    ``corpus_overlap``; this is the cheap first look.

    Returns driver scalars: ``{"grams_a", "grams_b", "shared_grams",
    "jaccard", "containment_a_in_b", "containment_b_in_a", "docs_a",
    "docs_b"}`` (all gram numbers estimates, doc counts exact; no
    affected-document counts — identifying WHICH docs share grams
    inherently needs the join the sketch path exists to avoid).
    """
    row = _overlap_sketch_frame(
        a, b, k, text_col, id_col, b_text_col, b_id_col, lg_nom
    ).collect()[0]
    na, nb, ns, nu = row.na, row.nb, row.ns, row.nu
    return {
        "grams_a": na,
        "grams_b": nb,
        "shared_grams": ns,
        "jaccard": round(ns / nu, 6) if nu else 0.0,
        "containment_a_in_b": round(ns / na, 6) if na else 0.0,
        "containment_b_in_a": round(ns / nb, 6) if nb else 0.0,
        "docs_a": a.count(),
        "docs_b": b.count(),
    }


def corpus_overlap(
    a: DataFrame,
    b: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    b_text_col: str | None = None,
    b_id_col: str | None = None,
) -> dict:
    """Symmetric corpus-level k-gram overlap report — the
    contamination MEASUREMENT (``decontaminate`` is the treatment):
    how much do two corpora share, and how many documents on each
    side are touched? Run it train-vs-benchmark before a release, or
    snapshot-vs-snapshot to size crawl churn.

    Returns driver scalars only:
    ``{"grams_a", "grams_b", "shared_grams", "jaccard",
    "containment_a_in_b", "containment_b_in_a",
    "docs_a", "docs_b", "docs_affected_a", "docs_affected_b"}``.

    Plan: distinct hashed k-gram sets per side (the ``decontaminate``
    machinery), one equi-join on the 8-byte gram hash for the shared
    set, and one semi-join per side for affected-document counts.
    Shuffles are keyed by gram hash / doc id; gram strings never
    shuffle and nothing larger than the report collects.
    """
    from pyspark import StorageLevel

    bt = b_text_col or text_col
    bi = b_id_col or id_col
    ea = (
        _shingle_frame(a, text_col, id_col, k)
        .select(F.col(id_col).alias("__ida"), F.explode("sh").alias("h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    eb = (
        _shingle_frame(b.select(F.col(bi), F.col(bt)), bt, bi, k)
        .select(F.col(bi).alias("__idb"), F.explode("sh").alias("h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        ga = ea.select("h").distinct().persist(StorageLevel.MEMORY_AND_DISK)
        gb = eb.select("h").distinct().persist(StorageLevel.MEMORY_AND_DISK)
        try:
            na, nb = ga.count(), gb.count()
            shared = ga.join(gb, "h").persist(StorageLevel.MEMORY_AND_DISK)
            try:
                ns = shared.count()
                aff_a = (
                    ea.join(shared, "h", "left_semi")
                    .select("__ida").distinct().count()
                )
                aff_b = (
                    eb.join(shared, "h", "left_semi")
                    .select("__idb").distinct().count()
                )
            finally:
                shared.unpersist()
        finally:
            ga.unpersist()
            gb.unpersist()
    finally:
        ea.unpersist()
        eb.unpersist()
    union = na + nb - ns
    return {
        "grams_a": na,
        "grams_b": nb,
        "shared_grams": ns,
        "jaccard": round(ns / union, 6) if union else 0.0,
        "containment_a_in_b": round(ns / na, 6) if na else 0.0,
        "containment_b_in_a": round(ns / nb, 6) if nb else 0.0,
        "docs_a": a.count(),
        "docs_b": b.count(),
        "docs_affected_a": aff_a,
        "docs_affected_b": aff_b,
    }
