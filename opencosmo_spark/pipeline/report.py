"""Corpus reporting: the "dataset card" numbers (doc/token/byte
totals, length quantiles, quality and duplication estimates, language
mix) — the summary block every published dataset release ships (C4's
table 1, Dolma's datasheet, the Pile's §2 per-set stats).

Scale shape: the corpus TEXT is read exactly once — all signals
(token count, quality, fingerprint, language) are projected in one
scan into a ~50-byte/row profile, which is persisted and then
aggregated. Distinct-document and duplication estimates use
HyperLogLog (``approx_count_distinct``), quantiles the
t-digest-backed ``percentile_approx``: per-group state is sketch-
bounded no matter the corpus size, and the shuffle cardinality is the
number of report groups. Nothing collects more than the report rows.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, functions as F

from .text import language_id, quality_score, token_count


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str | None = "doc_id",
    group_by: str | Column | None = None,
    with_language: bool = True,
    quantiles: tuple[float, ...] = (0.5, 0.95),
    accuracy: int = 10_000,
    top_ngrams: tuple[int, int] | None = None,
    ngrams_exact: bool = True,
) -> DataFrame:
    """One row per group (one total row when ``group_by`` is None)
    with the dataset-card statistics:

    - ``docs``, ``distinct_ids`` (HLL; NULL when ``id_col`` is None),
    - ``total_tokens`` / ``total_chars`` / ``total_bytes`` (UTF-8),
    - ``tokens_p50`` / ``tokens_p95`` / ... per requested quantile,
    - ``mean_quality`` (the heuristic gate score),
    - ``approx_distinct_texts`` — HLL distinct count of exact text
      fingerprints (``dup_rate`` derives the pre-dedup duplication
      level from it),
    - ``lang_top`` / ``lang_top_frac`` — modal language and its share
      (stopword-vote classifier; ``with_language=False`` skips the
      classifier's regexp work),
    - ``top_ngrams`` (when ``top_ngrams=(n, k)`` is given) — the
      CORPUS-WIDE ``k`` most frequent word ``n``-grams as an
      ``array<struct<gram, count>>`` column (identical on every group
      row) — the C4-paper-style "most common n-grams" table;
      ``format_dataset_card`` renders it as its own section.
      ``ngrams_exact=False`` switches the underlying ``top_ngrams``
      operator to its SpaceSaving path (``count`` is then the
      sketch's upper bound) — the mode whose shuffle stays bounded
      when the gram universe is web-scale.

    All estimates are sketch-backed; for exact dedup numbers run the
    dedup stages themselves — this is the cheap profile you run FIRST.

    The result is an ACTION boundary, not a lazy view: the profile
    projection is persisted, aggregated, and unpersisted in-call, and
    the (tiny) report is returned as a materialized local DataFrame.
    """
    text = F.col(text_col)
    grp: list[Column] = []
    if group_by is not None:
        grp = [
            F.col(group_by).alias("group")
            if isinstance(group_by, str)
            else group_by.alias("group")
        ]

    proj = df.select(
        *grp,
        token_count(text_col).alias("__tok"),
        F.length(text).alias("__chars"),
        F.octet_length(text).alias("__bytes"),
        quality_score(text_col).alias("__q"),
        F.md5(text).alias("__fp"),
        *([language_id(text).alias("__lang")] if with_language else []),
        *([F.col(id_col).alias("__id")] if id_col else []),
    )
    # two aggregations (card + language argmax) consume the profile
    # when the language pass is on — persist so the text scans once;
    # without it there is exactly one consumer, so persisting would
    # only add cache traffic
    if with_language:
        proj = proj.persist(StorageLevel.MEMORY_AND_DISK)

    key = ["group"] if grp else []
    try:
        card = proj.groupBy(*key).agg(
            F.count("*").alias("docs"),
            (
                F.approx_count_distinct("__id").alias("distinct_ids")
                if id_col
                else F.lit(None).cast("long").alias("distinct_ids")
            ),
            F.sum("__tok").alias("total_tokens"),
            F.sum("__chars").alias("total_chars"),
            F.sum("__bytes").alias("total_bytes"),
            *[
                F.percentile_approx("__tok", q, accuracy).alias(
                    f"tokens_p{int(q * 100)}"
                )
                for q in quantiles
            ],
            F.round(F.avg("__q"), 6).alias("mean_quality"),
            F.approx_count_distinct("__fp").alias("approx_distinct_texts"),
        )
        if with_language:
            # modal language: per-(group, lang) counts (tiny), argmax
            # via the struct-min idiom (map-side partial agg, no sort)
            top = (
                proj.groupBy(*key, "__lang")
                .agg(F.count("*").alias("__n"))
                .groupBy(*key)
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("__n")).alias("neg"),
                            F.col("__lang").alias("lang"),
                            F.col("__n").alias("n"),
                        )
                    ).alias("m")
                )
                .select(
                    *key,
                    F.col("m.lang").alias("lang_top"),
                    F.col("m.n").alias("__topn"),
                )
            )
            card = (
                (card.join(top, key) if key else card.crossJoin(top))
                .withColumn(
                    "lang_top_frac",
                    F.round(F.col("__topn") / F.col("docs"), 6),
                )
                .drop("__topn")
            )
        if top_ngrams is not None:
            from .sketch import top_ngrams as _top_ngrams

            n, k = top_ngrams
            grams = _top_ngrams(
                df, text_col, n, k, exact=ngrams_exact
            )
            cnt = "count" if ngrams_exact else "count_upper"
            gram_row = grams.agg(
                F.collect_list(
                    F.struct(
                        F.col("gram"),
                        F.col(cnt).cast("long").alias("count"),
                    )
                ).alias("__g")
            ).select(
                F.array_sort(
                    F.col("__g"),
                    lambda a, b: F.when(a["count"] > b["count"], -1)
                    .when(a["count"] < b["count"], 1)
                    .when(a["gram"] < b["gram"], -1)
                    .when(a["gram"] > b["gram"], 1)
                    .otherwise(0),
                ).alias("top_ngrams")
            )
            card = card.crossJoin(gram_row)
        rows = card.collect()
        spark = df.sparkSession
        return spark.createDataFrame(rows, card.schema)
    finally:
        if with_language:
            proj.unpersist()


def corpus_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str | None = "doc_id",
    shard_col: str | Column | None = None,
    with_language: bool = True,
    lgk: int = 14,
    kll_k: int = 200,
) -> DataFrame:
    """The MERGEABLE form of the dataset card: one row per shard
    carrying exact sums (docs / tokens / chars / bytes / quality sum)
    plus DataSketches state — HLL sketches of the text fingerprint and
    document id, a KLL sketch of per-doc token counts, and the
    per-shard language histogram as a small map. Every column is
    either additive or a mergeable sketch, so
    ``merge_corpus_profiles`` can produce the corpus card from ANY
    subset of shard rows without touching the text again.

    This is the incremental-corpus answer ``corpus_report`` doesn't
    give: at 100 TB a growing corpus is profiled shard-by-shard as it
    lands (each shard's text scans ONCE, emitting a row of a few KB),
    the rows accumulate in a plain parquet table (binary sketch
    columns round-trip losslessly), and "card for the whole corpus /
    this month / these sources" is a driver-cheap merge over the
    selected rows — never a rescan. ``shard_col`` names the grouping
    (ingest batch, crawl date, source file); None profiles the whole
    input as a single shard row labelled ``__all__``.

    Sketch knobs: ``lgk`` is the HLL precision (2^lgk registers;
    14 -> ~0.8% relative error, ~16 KB), ``kll_k`` the KLL accuracy
    parameter (200 -> ~1.65% rank error). Merges require equal knobs
    across rows — keep one setting per profile table.
    """
    text = F.col(text_col)
    shard = (
        F.lit("__all__")
        if shard_col is None
        else (F.col(shard_col) if isinstance(shard_col, str) else shard_col)
    ).cast("string").alias("shard")
    proj = df.select(
        shard,
        token_count(text_col).cast("long").alias("__tok"),
        F.length(text).cast("long").alias("__chars"),
        F.octet_length(text).cast("long").alias("__bytes"),
        quality_score(text_col).alias("__q"),
        F.md5(text).alias("__fp"),
        *([language_id(text).alias("__lang")] if with_language else []),
        *([F.col(id_col).cast("string").alias("__id")] if id_col else []),
    )
    if with_language:
        proj = proj.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        prof = proj.groupBy("shard").agg(
            F.count("*").alias("docs"),
            F.sum("__tok").alias("total_tokens"),
            F.sum("__chars").alias("total_chars"),
            F.sum("__bytes").alias("total_bytes"),
            F.sum("__q").alias("quality_sum"),
            F.hll_sketch_agg("__fp", lgk).alias("fp_hll"),
            (
                F.hll_sketch_agg("__id", lgk).alias("id_hll")
                if id_col
                else F.lit(None).cast("binary").alias("id_hll")
            ),
            F.kll_sketch_agg_bigint("__tok", kll_k).alias("tok_kll"),
            # theta twin of fp_hll: HLL unions but cannot intersect;
            # the theta sketch is what lets TWO profile tables be
            # overlap-estimated against each other artifact-to-artifact
            F.theta_sketch_agg("__fp", lgk).alias("fp_theta"),
        )
        if with_language:
            langs = (
                proj.groupBy("shard", "__lang")
                .agg(F.count("*").alias("__n"))
                .groupBy("shard")
                .agg(
                    F.map_from_entries(
                        F.collect_list(F.struct("__lang", "__n"))
                    ).alias("lang_counts")
                )
            )
            prof = prof.join(langs, "shard")
        # materialize: the profile IS the artifact — callers persist it
        # (parquet append) and the text must not re-scan on reuse
        rows = prof.collect()
        return df.sparkSession.createDataFrame(rows, prof.schema)
    finally:
        if with_language:
            proj.unpersist()


def merge_corpus_profiles(
    profiles: DataFrame,
    quantiles: tuple[float, ...] = (0.5, 0.95),
    kll_k: int = 200,
    group_by: str | Column | None = None,
) -> DataFrame:
    """Collapse ``corpus_profile`` rows (any subset — filter by shard
    first for a per-period card) into ONE card row with the
    ``corpus_report`` field names: exact ``docs`` / totals /
    ``mean_quality``, sketch-merged ``approx_distinct_texts`` /
    ``distinct_ids`` (HLL union — identical to having sketched the
    concatenated corpus directly), ``tokens_pXX`` from the merged KLL
    sketch, and the modal language over the summed histograms.
    ``group_by`` (a profile-row column or expression — e.g. a prefix
    extracted from the shard label) yields one card row per group
    instead: the per-source card table, straight off the artifact.

    Cost is one aggregation over the PROFILE rows (KB each); the
    corpus text is never touched. ``kll_k`` must match the value the
    profiles were built with.
    """
    key: list[Column] = []
    if group_by is not None:
        key = [
            F.col(group_by).alias("group")
            if isinstance(group_by, str)
            else group_by.alias("group")
        ]
        profiles = profiles.withColumn("group", key[0])
    agg = [
        F.sum("docs").alias("docs"),
        F.sum("total_tokens").alias("total_tokens"),
        F.sum("total_chars").alias("total_chars"),
        F.sum("total_bytes").alias("total_bytes"),
        F.round(F.sum("quality_sum") / F.sum("docs"), 6).alias(
            "mean_quality"
        ),
        F.hll_sketch_estimate(F.hll_union_agg("fp_hll")).alias(
            "approx_distinct_texts"
        ),
        F.kll_merge_agg_bigint("tok_kll", kll_k).alias("__kll"),
    ]
    has_ids = (
        profiles.filter(F.col("id_hll").isNotNull()).limit(1).count() > 0
    )
    if has_ids:
        agg.insert(
            1,
            F.hll_sketch_estimate(F.hll_union_agg("id_hll")).alias(
                "distinct_ids"
            ),
        )
    else:
        agg.insert(1, F.lit(None).cast("long").alias("distinct_ids"))
    card = (
        profiles.groupBy("group").agg(*agg) if key else profiles.agg(*agg)
    )
    card = card.select(
        "*",
        *[
            F.kll_sketch_get_quantile_bigint(
                F.col("__kll"), F.lit(float(q))
            ).alias(f"tokens_p{int(q * 100)}")
            for q in quantiles
        ],
    ).drop("__kll")
    if "lang_counts" in profiles.columns:
        gb = ["group"] if key else []
        top = (
            profiles.select(
                *gb, F.explode("lang_counts").alias("__lang", "__n")
            )
            .groupBy(*gb, "__lang")
            .agg(F.sum("__n").alias("__n"))
            .groupBy(*gb)
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__n")).alias("neg"),
                        F.col("__lang").alias("lang"),
                        F.col("__n").alias("n"),
                    )
                ).alias("m")
            )
            .select(
                *gb,
                F.col("m.lang").alias("lang_top"),
                F.col("m.n").alias("__topn"),
            )
        )
        card = (
            (card.join(top, "group") if key else card.crossJoin(top))
            .withColumn(
                "lang_top_frac",
                F.round(F.col("__topn") / F.col("docs"), 6),
            )
            .drop("__topn")
        )
    return card


def profile_overlap(
    profiles_a: DataFrame,
    profiles_b: DataFrame,
    lg_nom: int = 14,
) -> dict:
    """Overlap estimate between two PROFILED corpora (or any two shard
    subsets of profile tables) computed entirely from stored
    ``fp_theta`` sketches — neither corpus's text is touched, read, or
    even reachable. This is the artifact-layer closure the HLL columns
    can't provide (HLL unions but has no intersection): once shards
    are profiled, "how much does corpus A share with corpus B / last
    month with this month" costs two sketch unions and driver
    composition, at ANY corpus size.

    Returns ``{"distinct_a", "distinct_b", "common", "jaccard",
    "containment_a_in_b", "containment_b_in_a"}`` — all estimates over
    DISTINCT normalized-text-fingerprint universes (theta relative
    error ~1/sqrt(2^lg_nom); pass the profiles' build ``lgk``).
    Profile rows predating the ``fp_theta`` column refuse loudly
    rather than estimating from partial coverage.
    """
    for side, p in (("a", profiles_a), ("b", profiles_b)):
        if "fp_theta" not in p.columns:
            raise ValueError(
                f"profiles_{side} has no fp_theta column — re-profile "
                "with a current corpus_profile (the theta sketch is "
                "what makes artifact-to-artifact overlap possible)"
            )
    sa = profiles_a.agg(
        F.theta_union_agg("fp_theta", lg_nom).alias("__sa")
    )
    sb = profiles_b.agg(
        F.theta_union_agg("fp_theta", lg_nom).alias("__sb")
    )
    r = (
        sa.crossJoin(sb)
        .select(
            F.theta_sketch_estimate("__sa").alias("na"),
            F.theta_sketch_estimate("__sb").alias("nb"),
            F.theta_sketch_estimate(
                F.theta_intersection("__sa", "__sb")
            ).alias("ns"),
            F.theta_sketch_estimate(F.theta_union("__sa", "__sb")).alias(
                "nu"
            ),
        )
        .collect()[0]
    )
    na, nb, ns, nu = r.na, r.nb, r.ns, r.nu
    return {
        "distinct_a": na,
        "distinct_b": nb,
        "common": ns,
        "jaccard": round(ns / nu, 6) if nu else 0.0,
        "containment_a_in_b": round(ns / na, 6) if na else 0.0,
        "containment_b_in_a": round(ns / nb, 6) if nb else 0.0,
    }


def corpus_churn(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    normalize: bool = True,
    exact: bool = True,
    lg_nom: int = 14,
) -> dict:
    """Document-level churn between two corpus snapshots — the
    crawl-refresh sizing question ("how much of last month's corpus
    survived, how much is new?") answered over normalized-text
    fingerprints (the ``incremental_dedup`` convention: md5 of
    lowercased, whitespace-collapsed text, so reformatting isn't
    churn).

    Returns driver scalars: ``{"docs_old", "docs_new",
    "distinct_old", "distinct_new", "added", "removed", "common",
    "churn"}`` where added/removed/common partition the DISTINCT
    fingerprint universes and ``churn = (added + removed) /
    union``.

    ``exact=True``: ONE job — both snapshots union with a side flag,
    one fingerprint-keyed aggregation computes per-fp presence and row
    counts, and a single-row rollup derives all seven scalars (doc
    counts, distincts, common). No join, no separate count jobs: each
    snapshot's text scans exactly once and the only shuffle is keyed
    by the 16-byte fingerprint. ``exact=False``: each side scans once
    into a Theta sketch and added/removed/common come from
    ``theta_difference`` / ``theta_intersection`` on the TWO sketch
    values — no fingerprint ever shuffles at all, the two-snapshot
    analog of ``decontaminate.corpus_overlap_sketch`` (~0.8% relative
    at the default ``lg_nom``; doc counts stay exact in both modes).
    """

    def fp(df):
        t = F.col(text_col)
        if normalize:
            t = F.lower(F.regexp_replace(F.trim(t), r"\s+", " "))
        return df.select(F.md5(t).alias("fp"))
    if exact:
        u = fp(old).select(
            "fp", F.lit(1).alias("__o"), F.lit(0).alias("__n")
        ).unionByName(
            fp(new).select(
                "fp", F.lit(0).alias("__o"), F.lit(1).alias("__n")
            )
        )
        per = u.groupBy("fp").agg(
            F.sum("__o").alias("__co"), F.sum("__n").alias("__cn")
        )
        r = per.agg(
            F.sum("__co").alias("docs_old"),
            F.sum("__cn").alias("docs_new"),
            F.count(F.when(F.col("__co") > 0, 1)).alias("do"),
            F.count(F.when(F.col("__cn") > 0, 1)).alias("dn"),
            # NULL texts fingerprint to NULL; they count toward doc and
            # distinct totals (one NULL group) but never as "common" —
            # matching equi-join semantics, where NULL keys don't match
            F.count(
                F.when(
                    (F.col("__co") > 0)
                    & (F.col("__cn") > 0)
                    & F.col("fp").isNotNull(),
                    1,
                )
            ).alias("common"),
        ).collect()[0]
        n_old, n_new = r.docs_old or 0, r.docs_new or 0
        do, dn, common = r.do, r.dn, r.common
        added, removed = dn - common, do - common
    else:
        n_old, n_new = old.count(), new.count()
        so = fp(old).agg(F.theta_sketch_agg("fp", lg_nom).alias("s"))
        sn = fp(new).agg(F.theta_sketch_agg("fp", lg_nom).alias("s2"))
        r = (
            so.crossJoin(sn)
            .select(
                F.theta_sketch_estimate("s").alias("do"),
                F.theta_sketch_estimate("s2").alias("dn"),
                F.theta_sketch_estimate(
                    F.theta_intersection("s", "s2")
                ).alias("common"),
                F.theta_sketch_estimate(
                    F.theta_difference("s2", "s")
                ).alias("added"),
                F.theta_sketch_estimate(
                    F.theta_difference("s", "s2")
                ).alias("removed"),
            )
            .collect()[0]
        )
        do, dn = r.do, r.dn
        common, added, removed = r.common, r.added, r.removed
    union = added + removed + common
    return {
        "docs_old": n_old,
        "docs_new": n_new,
        "distinct_old": do,
        "distinct_new": dn,
        "added": added,
        "removed": removed,
        "common": common,
        "churn": round((added + removed) / union, 6) if union else 0.0,
    }


def corpus_churn_lanes(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """LAZY frame form of exact-mode ``corpus_churn``: the same
    one-pass fingerprint aggregate, emitted as seven
    ``(metric, value)`` rows (docs_old, docs_new, distinct_old,
    distinct_new, added, removed, common) instead of collected driver
    scalars. Composable into a consumer's own plan, so a report query
    embedding churn stays ONE job instead of paying a driver collect +
    re-upload round-trip mid-construction (guide §5: the driver
    should do almost no data work). Values match ``corpus_churn``
    exactly (added = distinct_new - common, removed = distinct_old -
    common; empty inputs coalesce doc counts to 0 like the eager
    form's ``or 0``)."""

    def fp(df):
        t = F.col(text_col)
        if normalize:
            t = F.lower(F.regexp_replace(F.trim(t), r"\s+", " "))
        return df.select(F.md5(t).alias("fp"))

    u = fp(old).select(
        "fp", F.lit(1).alias("__o"), F.lit(0).alias("__n")
    ).unionByName(
        fp(new).select("fp", F.lit(0).alias("__o"), F.lit(1).alias("__n"))
    )
    return _churn_rollup(u)


def _churn_rollup(u: DataFrame) -> DataFrame:
    """Shared tail of the lane builders: per-fingerprint presence
    counts over a ``(fp, __o, __n)`` frame, rolled up to the seven
    ``(metric, value)`` churn rows."""
    per = u.groupBy("fp").agg(
        F.sum("__o").alias("__co"), F.sum("__n").alias("__cn")
    )
    r = per.agg(
        F.coalesce(F.sum("__co"), F.lit(0)).alias("docs_old"),
        F.coalesce(F.sum("__cn"), F.lit(0)).alias("docs_new"),
        F.count(F.when(F.col("__co") > 0, 1)).alias("do"),
        F.count(F.when(F.col("__cn") > 0, 1)).alias("dn"),
        # NULL fingerprints never count as common (equi-join semantics)
        F.count(
            F.when(
                (F.col("__co") > 0)
                & (F.col("__cn") > 0)
                & F.col("fp").isNotNull(),
                1,
            )
        ).alias("common"),
    )
    return r.select(
        F.expr(
            "stack(7, "
            "'docs_old', cast(docs_old as bigint), "
            "'docs_new', cast(docs_new as bigint), "
            "'distinct_old', do, "
            "'distinct_new', dn, "
            "'added', dn - common, "
            "'removed', do - common, "
            "'common', common) as (metric, value)"
        )
    )


def corpus_churn_lanes_split(
    df: DataFrame,
    old_cond,
    new_cond,
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """ONE-SCAN form of :func:`corpus_churn_lanes` for the common case
    where both snapshots are predicate VIEWS of the same table (e.g.
    yesterday's partition filter vs today's): the two-branch union
    scanned — and fingerprinted — the table once per side; here each
    row is read once, fingerprinted once, and carries 0/1 membership
    flags for both sides instead of appearing in 0-2 union branches
    (guide §2.4: remove passes outright). Rows in neither view are
    dropped before the aggregation, so the shuffle carries exactly
    the union form's information. ``sum`` over the flags equals the
    union form's per-branch row counts, so all seven metrics are
    value-identical (equivalence-tested against the union form)."""
    t = F.col(text_col)
    if normalize:
        t = F.lower(F.regexp_replace(F.trim(t), r"\s+", " "))
    u = df.select(
        F.md5(t).alias("fp"),
        F.coalesce(old_cond.cast("int"), F.lit(0)).alias("__o"),
        F.coalesce(new_cond.cast("int"), F.lit(0)).alias("__n"),
    ).filter((F.col("__o") > 0) | (F.col("__n") > 0))
    return _churn_rollup(u)


def dup_rate(report_df: DataFrame) -> DataFrame:
    """Attach ``dup_rate`` = 1 - distinct_texts/docs to a report."""
    return report_df.select(
        "*",
        F.round(
            1.0 - F.col("approx_distinct_texts") / F.col("docs"), 6
        ).alias("dup_rate"),
    )


def format_dataset_card(report_df: DataFrame, title: str = "Corpus") -> str:
    """Render a report as a markdown datasheet block (driver-side;
    the report is already group-cardinality small). A ``top_ngrams``
    column (from ``corpus_report(top_ngrams=(n, k))``) renders as its
    own "Most common n-grams" section — the C4-paper-style table —
    rather than inline in the stats row."""
    rows = report_df.collect()
    cols = [c for c in report_df.columns if c != "top_ngrams"]
    lines = [f"# {title}", ""]
    lines.append("| " + " | ".join(cols) + " |")
    lines.append("|" + "---|" * len(cols))
    for r in rows:
        lines.append(
            "| "
            + " | ".join("" if r[c] is None else str(r[c]) for c in cols)
            + " |"
        )
    if "top_ngrams" in report_df.columns and rows:
        grams = rows[0]["top_ngrams"] or []
        lines += ["", "## Most common n-grams", ""]
        lines.append("| gram | count |")
        lines.append("|---|---|")
        for g in grams:
            lines.append(f"| {g['gram']} | {g['count']} |")
    return "\n".join(lines)
