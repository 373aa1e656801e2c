"""End-to-end corpus curation: the composition a real pre-training
data pipeline runs, as one call.

Stage order follows the published recipes (RefinedWeb, Dolma,
FineWeb): cheap row-local filters first (quality, PII), then
corpus-level scrubs (boilerplate lines), then exact dedup, then
near-dup clustering (the expensive stage runs on the smallest
possible corpus), then benchmark decontamination, then the
deterministic training mix + shard assignment. Every stage is
df-in/df-out on the same id column, so the composition is one lazy
lineage per stage boundary.

Scale posture: no stage introduces a shape the individual operators
don't already have (see SCALE.md §6/§15); the composition adds only
the per-stage row counts, and those are optional (``report=False``
keeps the whole pipeline lazy — at 100 TB, run with ``report=True``
once per recipe change, not per run).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .._rounds import checkpoint_round
from .dedup import (
    dedup_by_clusters,
    exact_dedup,
    line_dedup,
    minhash_lsh_candidates,
)
from .decontaminate import decontaminate
from .pii import scrub_pii
from .sample import stratified_sample
from .shard import assign_shards
from .text import quality_score, token_count


def curate_corpus(
    df: DataFrame,
    eval_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    min_tokens: int = 5,
    url_col: str = "url",
    url_block_domains=None,
    url_allow_domains=None,
    url_block_patterns=None,
    cap_per_domain: int | None = None,
    url_canonical_dedup: bool = False,
    normalize_unicode: bool = False,
    gopher: bool | dict = False,
    gopher_rep: bool | dict = False,
    c4_lines: bool = False,
    ppl_model: dict | None = None,
    ppl_train_df: DataFrame | None = None,
    ppl_keep: tuple[str, ...] = ("head", "middle"),
    ppl_splits: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    ppl_scorer: str = "auto",
    boilerplate_min_dup: int | None = None,
    boilerplate_top_k: int | None = None,
    jaccard_threshold: float = 0.8,
    dedup_index_path: str | None = None,
    dedup_index_bands: int = 4,
    publish_dedup_index_path: str | None = None,
    decontam_k: int = 8,
    decontam_excise: bool = False,
    decontam_index_path: str | None = None,
    max_dup_span_frac: float | None = None,
    remove_dup_spans: bool = False,
    dup_span: int = 8,
    mix: dict[str, float] | None = None,
    mix_col: str | None = None,
    mix_alpha: float | None = None,
    dsir_target_df: DataFrame | None = None,
    dsir_buckets: int = 10_000,
    dsir_alpha: float = 1.0,
    mix_target_frac: float = 0.5,
    importance_col: str | None = None,
    budget_docs: int | None = None,
    budget_weight_col: str | None = None,
    n_shards: int | None = None,
    profile_path: str | None = None,
    tokenizer_path: str | None = None,
    tokenizer_merges: int = 200,
    tokenizer_mode: str = "byte",
    report: bool = True,
    return_dropped: bool = False,
) -> tuple[DataFrame, dict[str, int]]:
    """Run the standard curation recipe; returns ``(curated_df,
    stage_counts)``. ``stage_counts`` maps stage name -> surviving row
    count (empty dict when ``report=False``).

    ``return_dropped=True`` (requires ``report=True``) returns a THIRD
    value: an audit DataFrame ``(id_col, stage)`` attributing every
    dropped document to the stage that dropped it — the recipe-
    debugging view ("why did my document disappear?"). Stage
    boundaries are already checkpointed in report mode, so each
    attribution is one anti-join between materialized id sets.

    Stages (each skippable via its parameter):

    0. URL gate (any of ``url_block_domains`` /
       ``url_block_patterns`` given): drop documents whose ``url_col``
       matches the blocklist (domain-suffix or regex;
       ``url_allow_domains`` exempts) — the first stage of every
       published web recipe (C4 §2.2, RefinedWeb §3.1). Runs before
       everything: it is the cheapest signal and needs no text.
    0b. per-domain cap (``cap_per_domain``): keep at most N documents
       per registered domain of ``url_col`` — the anti-domination
       rule (RefinedWeb/FineWeb). Deterministic smallest-lane
       survivors; one ranking window.
    0b2. canonical-URL refetch dedup (``url_canonical_dedup=True``):
       one survivor per ``canonical_url`` key — tracked / reordered /
       default-port variants of one resource are refetches, not
       content (the crawl-side twin of text dedup; runs before text
       hashing so duplicate fetches never pay shingling).
       Deterministic smallest-``id_col`` survivor; rows with a NULL
       canonical key (unparseable URL) all survive.
    0c. unicode normalization (``normalize_unicode=True``): curly
       quotes/dashes/ellipsis folded to ASCII, zero-width and control
       characters removed — BEFORE hashing, so dedup keys never split
       on typography. Row-local, scan-fused.
    1. quality gate: ``quality_score >= min_quality`` and
       ``token_count >= min_tokens`` — row-local, pushable.
    1b. Gopher rules (``gopher=True`` or a dict of threshold
       overrides): drop documents failing the Rae et al. 2021
       conjunction — row-local, scan-fused.
    1b'. Gopher repetition rules (``gopher_rep=True`` or a dict of
       threshold overrides): drop documents dominated by repeated
       lines / paragraphs / n-grams (Rae et al. 2021 Table A1
       repetition rows) — row-local sort-and-scan expressions,
       scan-fused, no shuffle.
    1c. C4 line cleaning (``c4_lines=True``): rewrite each document
       to its C4-kept lines and drop documents failing the C4
       document rules — runs BEFORE dedup so fingerprints see the
       cleaned text.
    1d. CCNet perplexity gate (Wenzek et al. 2020): score every
       document's LM perplexity under a trusted-corpus model and keep
       only the ``ppl_keep`` buckets of the ``ppl_splits``
       head/middle/tail split (default head+middle — the CCNet
       training mix). Pass a trained model via ``ppl_model``
       (``train_bigram_lm`` / ``train_trigram_lm``; ``ppl_scorer``
       dispatches, "auto" by default) or a trusted corpus via
       ``ppl_train_df`` to train a bigram LM in-call. Runs before
       dedup so the expensive stages see only in-domain text.
       Documents too short to score are KEPT only if "unscored" is
       listed in ``ppl_keep`` (the stage-1 ``min_tokens`` gate
       normally leaves nothing unscored).
    2. PII redaction (always on): counts attached, text redacted.
    3. boilerplate line scrub (``boilerplate_min_dup`` not None):
       exact document-frequency count per line. With
       ``boilerplate_top_k`` instead, a DISCOVERY pass
       (``discover_boilerplate_lines``, optionally sketch-bounded)
       finds the top-k document-frequent lines and feeds them to
       ``line_dedup``'s hot set — templates are scrubbed without
       being hand-listed and the hot set is size-bounded by
       construction (``boilerplate_min_dup`` then sets the discovery
       dup threshold, default 2).
    4. exact dedup (always on): keep lowest id per identical text.
    5. near-dup removal: MinHash-LSH candidates -> connected
       components -> keep cluster canonical.
    4+5 (incremental form): with ``dedup_index_path`` — a previous
       release's ``write_dedup_index`` artifact — stages 4 and 5
       become ONE ``incremental_dedup`` probe: exact and near
       duplicates of the INDEXED release drop (band joins on the
       stored signatures; the old corpus text is never re-read),
       then the batch collapses within itself. Shingle/hash/
       normalization parameters come from the index sidecar (loud
       mismatch guard); ``dedup_index_bands`` is the per-run probe
       knob. This is the monthly-snapshot twin of
       ``streaming.near_dedup_stream`` — attrition reports one
       ``incremental_dedup`` stage instead of exact_dedup +
       near_dedup. Note dedup here sees the PII-scrubbed text, so
       build the probed index from a release curated by this same
       recipe (as published releases are).
       ``publish_dedup_index_path`` closes the loop: the recipe
       writes the dedup index for the NEXT incremental build — base
       index rows copied + this release's rows stamped with the
       base's stored parameters (``extend_dedup_index``), or a fresh
       ``write_dedup_index`` of the release when no base was probed.
       The same ship-your-own-artifact idiom as
       ``decontam_index_path`` / ``profile_path``.
    6. decontamination vs ``eval_df`` (when given): any shared
       ``decontam_k``-gram disqualifies the document —
       ``decontam_excise=True`` instead EXCISES just the shared spans
       (``excise_contaminated_spans``) and keeps the rows, the
       salvage treatment for long documents quoting one benchmark
       item; excision is a text rewrite, so it reports no attrition
       row. ``decontam_index_path`` additionally PUBLISHES the
       benchmark gram universe (``write_decontamination_index``)
       next to the release — the same artifact idiom as stage 9's
       profile shard — and the drop path then probes the
       just-written index, so the published artifact IS the one the
       release was cleaned with (an index-probed rerun drops the
       same documents; round-trip tested).
    6b. duplicated-span handling (mutually exclusive forms):
       ``max_dup_span_frac`` DROPS docs whose corpus-duplicated
       ``dup_span``-window fraction exceeds the cap;
       ``remove_dup_spans=True`` instead EXCISES the duplicated
       spans from every document (Lee et al. 2022) and keeps the
       rows. Both run late: span-explode priced, so the corpus is
       already small.
    7. training mix: per-stratum deterministic downsample — explicit
       ``mix`` rates (rates ABOVE 1 materialize multi-epoch repeats
       via ``epoch_sample``: the output gains an ``epoch`` copy-index
       column, row identity becomes (id, epoch), and sharding keys on
       the composite so copies spread), ``mix_alpha`` to derive
       temperature-based rates from the surviving group counts,
       ``importance_col``
       for quality-proportional selection, ``dsir_target_df``
       for DSIR domain matching against a target corpus (all
       against ``mix_target_frac`` of the corpus), or
       ``budget_docs`` + ``budget_weight_col`` for the fixed-budget
       reservoir mode: EXACTLY ``budget_docs`` survivors with
       inclusion probability proportional to the weight column
       (A-ES ``weighted_reservoir_sample``).
    8. shard assignment (``n_shards``): adds shard / shard_pos.
    9. profile publication (``profile_path``): appends the survivors'
       ``corpus_profile`` rows (per shard when sharded) to the
       mergeable card artifact — the release documents itself, and
       cross-release churn/overlap questions run off stored sketches.
    10. tokenizer publication (``tokenizer_path``): trains
       ``tokenizer_merges`` BPE merges on the release text
       (``tokenizer_mode``, default byte-level) and writes the
       ``_tokenizer.json`` artifact, so the release's token ids are
       reproducible from the release directory alone
       (``read_tokenizer`` + ``bpe_encode_ids``).
    """
    chosen = [
        x
        for x in (
            mix, mix_alpha, importance_col, dsir_target_df, budget_docs
        )
        if x is not None
    ]
    if len(chosen) > 1:
        raise ValueError(
            "pass exactly ONE of mix (explicit rates), mix_alpha "
            "(temperature-derived rates), importance_col "
            "(quality-proportional), dsir_target_df (DSIR domain "
            "matching), or budget_docs (fixed-budget weighted "
            "reservoir) — the combination is ambiguous"
        )
    if budget_docs is not None and budget_weight_col is None:
        raise ValueError(
            "budget_docs (reservoir mix mode) needs budget_weight_col: "
            "the per-document weight column driving A-ES inclusion "
            "probability"
        )
    if max_dup_span_frac is not None and remove_dup_spans:
        raise ValueError(
            "max_dup_span_frac (drop docs) and remove_dup_spans "
            "(excise spans) are mutually exclusive span treatments"
        )
    if ppl_model is not None and ppl_train_df is not None:
        raise ValueError(
            "pass ONE of ppl_model (a trained LM) or ppl_train_df "
            "(a trusted corpus to train on), not both"
        )
    if (ppl_model is not None or ppl_train_df is not None) and not ppl_keep:
        raise ValueError("ppl_keep must name at least one bucket to keep")
    # the gopher/c4 stages attach-and-drop helper columns; a user
    # column with one of those names would be silently overwritten by
    # withColumn and then survive the drop — refuse up front
    if gopher or gopher_rep or c4_lines:
        clash = [
            c for c in df.columns
            if c == "keep"
            or c.startswith("g_")
            or c.startswith("r_")
            or c.startswith("c4_")
        ]
        if clash:
            raise ValueError(
                f"input columns {clash} collide with the gopher/c4 "
                f"stage columns — rename them before curate_corpus"
            )
    if return_dropped and not report:
        raise ValueError(
            "return_dropped needs report=True — stage attribution "
            "anti-joins the checkpointed stage boundaries"
        )
    counts: dict[str, int] = {}
    audit_frames: list[DataFrame] = []
    prev_ids: list[DataFrame] = []

    def mark(name: str, d: DataFrame) -> DataFrame:
        if report:
            # checkpoint at the stage boundary (``_rounds``) so each
            # stage runs once, not once per later stage, and its row
            # count rides the same job; report mode is for recipe
            # tuning — production runs use report=False and stay lazy.
            d, m = checkpoint_round(d, F.count(F.lit(1)).alias("n"))
            counts[name] = m["n"]
        if return_dropped:
            cur = d.select(id_col)
            if prev_ids:
                audit_frames.append(
                    prev_ids[0]
                    .join(cur, id_col, "left_anti")
                    .withColumn("stage", F.lit(name))
                )
            prev_ids[:] = [cur]
        return d

    out = mark("input", df)

    if url_block_domains is not None or url_block_patterns:
        if url_col not in df.columns:
            raise ValueError(
                f"url blocklist given but column {url_col!r} is not in "
                f"the input — pass url_col or drop the url_* parameters"
            )
        from .web import url_filter

        out = mark(
            "url_gate",
            url_filter(
                out,
                url_col=url_col,
                block_domains=url_block_domains,
                allow_domains=url_allow_domains,
                block_patterns=url_block_patterns,
                id_col=id_col,
            ),
        )

    if cap_per_domain is not None:
        if url_col not in out.columns:
            raise ValueError(
                f"cap_per_domain given but column {url_col!r} is not in "
                f"the input"
            )
        from .sample import cap_per_group
        from .web import url_features

        feat = url_features(out, url_col=url_col, prefix="__cap_")
        out = mark(
            "domain_cap",
            cap_per_group(
                feat, "__cap_domain", cap_per_domain, id_col=id_col
            ).drop(
                "__cap_host", "__cap_domain", "__cap_tld",
                "__cap_path_depth", "__cap_is_ip",
            ),
        )

    if url_canonical_dedup:
        if url_col not in out.columns:
            raise ValueError(
                f"url_canonical_dedup given but column {url_col!r} is "
                f"not in the input"
            )
        from pyspark.sql import Window

        from .web import canonical_url

        keyed = out.withColumn("__canon", canonical_url(url_col))
        # NULL-canonical rows (unparseable URLs) all survive by
        # definition — route them around the window so they don't pile
        # into one skewed NULL partition at crawl scale
        parseable = keyed.filter(F.col("__canon").isNotNull())
        unparseable = keyed.filter(F.col("__canon").isNull()).drop("__canon")
        w = Window.partitionBy("__canon").orderBy(id_col)
        deduped = (
            parseable.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__canon", "__rn")
        ).unionByName(unparseable)
        out = mark("url_canonical_dedup", deduped)

    if normalize_unicode:
        from .clean import normalize_text

        # row-local rewrite, no row count change: no mark() needed
        out = out.withColumn(text_col, normalize_text(text_col))

    q = quality_score(text_col)
    t = token_count(text_col)
    out = mark(
        "quality_gate",
        out.filter((q >= min_quality) & (t >= min_tokens)),
    )

    if gopher:
        from .clean import gopher_quality_flags

        kw = gopher if isinstance(gopher, dict) else {}
        flagged = gopher_quality_flags(out, text_col=text_col, **kw)
        added = [c for c in flagged.columns if c not in out.columns]
        out = mark(
            "gopher_gate",
            flagged.filter(F.col("keep")).drop(*added),
        )

    if gopher_rep:
        from .clean import gopher_repetition_flags

        kw = gopher_rep if isinstance(gopher_rep, dict) else {}
        flagged = gopher_repetition_flags(out, text_col=text_col, **kw)
        added = [c for c in flagged.columns if c not in out.columns]
        out = mark(
            "gopher_rep_gate",
            flagged.filter(F.col("keep")).drop(*added),
        )

    if c4_lines:
        from .clean import c4_clean

        cleaned = c4_clean(out, text_col=text_col)
        added = [
            c for c in cleaned.columns
            if c not in out.columns and c != "c4_text"
        ]
        out = mark(
            "c4_lines",
            cleaned.filter(F.col("keep"))
            .drop(text_col, *added)
            .withColumnRenamed("c4_text", text_col),
        )

    if ppl_model is not None or ppl_train_df is not None:
        from .lm import (
            perplexity_buckets,
            train_bigram_lm,
            train_trigram_lm,
        )

        if ppl_model is not None:
            model = ppl_model
        elif ppl_scorer == "trigram":
            # in-call training honors the requested scorer: "trigram"
            # trains the JM-interpolated trigram LM instead of erroring
            # downstream on a bigram model ("auto"/"bigram" train the
            # bigram tables — the CCNet default)
            model = train_trigram_lm(
                ppl_train_df, text_col=text_col, id_col=id_col
            )
        else:
            model = train_bigram_lm(
                ppl_train_df, text_col=text_col, id_col=id_col
            )
        keep_set = set(ppl_keep)
        bad = keep_set - {"head", "middle", "tail", "unscored"}
        if bad:
            raise ValueError(f"unknown ppl_keep buckets: {sorted(bad)}")
        kept_ids = (
            perplexity_buckets(
                out, model, text_col=text_col, id_col=id_col,
                splits=ppl_splits, scorer=ppl_scorer,
            )
            .filter(F.col("ppl_bucket").isin(sorted(keep_set)))
            .select(id_col)
        )
        out = mark(
            "perplexity_gate", out.join(kept_ids, id_col, "left_semi")
        )

    out = scrub_pii(out, text_col=text_col)

    if boilerplate_top_k is not None:
        # discovery path: sketch/groupBy top-k document-frequent lines
        # (size-bounded by construction) feed line_dedup's hot set —
        # the planted-template scrub with no hand-listed vocabulary
        from .sketch import discover_boilerplate_lines

        hot = discover_boilerplate_lines(
            out, text_col=text_col, k=boilerplate_top_k,
            min_dup=boilerplate_min_dup or 2,
        )
        out = mark(
            "line_dedup",
            line_dedup(
                out, text_col=text_col, id_col=id_col, hot_lines=hot
            ),
        )
    elif boilerplate_min_dup is not None:
        out = mark(
            "line_dedup",
            line_dedup(
                out, text_col=text_col, id_col=id_col,
                min_dup=boilerplate_min_dup,
            ),
        )

    if dedup_index_path is not None:
        # incremental release build: ONE probe of the previous
        # release's persisted (id, fp, shingles, sig) index replaces
        # stages 4+5 — old-corpus text is never re-read
        from .dedup import incremental_dedup, read_dedup_index

        base_idx, idx_params = read_dedup_index(
            df.sparkSession, dedup_index_path
        )
        cache_owner = incremental_dedup(
            None,
            out,
            text_col=text_col,
            id_col=id_col,
            normalize=idx_params.get("normalize", True),
            near_dup=True,
            num_hashes=idx_params.get("num_hashes", 16),
            bands=dedup_index_bands,
            shingle_k=idx_params.get("shingle_k", 3),
            jaccard_threshold=jaccard_threshold,
            hasher=idx_params.get("hasher", "xxhash64"),
            existing_index=base_idx,
            index_params=idx_params,
        )
        out = mark("incremental_dedup", cache_owner)
    else:
        # exact_dedup returns the digest report; apply it as a
        # survivor semi-join (keep the min-id row of every
        # identical-text group)
        survivors = exact_dedup(out, text_col, id_col).select(
            F.col(f"keep_{id_col}").alias(id_col)
        )
        out = mark("exact_dedup", out.join(survivors, id_col, "left_semi"))

        cache_owner = minhash_lsh_candidates(
            out, text_col=text_col, id_col=id_col,
            jaccard_threshold=jaccard_threshold,
        )
        out = mark(
            "near_dedup", dedup_by_clusters(out, cache_owner, id_col=id_col)
        )
    if report:
        # the mark() checkpoint materialized the stage — the builder's
        # persisted signature frame is now dead weight; free it
        from .dedup import release_cached

        release_cached(cache_owner)
        carried_cache = []
    else:
        # lazy mode: the cache must survive until the caller
        # materializes the result — ownership is handed forward on the
        # RETURNED frame (attached at the end; later stages rebind out)
        carried_cache = list(getattr(cache_owner, "_oc_cached", []))

    if decontam_index_path is not None and eval_df is None:
        raise ValueError(
            "decontam_index_path publishes the benchmark gram index — "
            "it needs eval_df"
        )
    if eval_df is not None:
        eval_index = index_params = None
        if decontam_index_path is not None:
            from .decontaminate import (
                read_decontamination_index,
                write_decontamination_index,
            )

            write_decontamination_index(
                eval_df, decontam_index_path, k=decontam_k,
                text_col=text_col,
            )
            eval_index, index_params = read_decontamination_index(
                df.sparkSession, decontam_index_path
            )
        if decontam_excise:
            from .dedup import excise_contaminated_spans

            # row-local-count-preserving rewrite: no mark() row
            out = excise_contaminated_spans(
                out, eval_df, span=decontam_k,
                text_col=text_col, id_col=id_col,
            )
        else:
            out = mark(
                "decontaminate",
                decontaminate(
                    out,
                    None if eval_index is not None else eval_df,
                    k=decontam_k,
                    text_col=text_col, id_col=id_col,
                    eval_index=eval_index, index_params=index_params,
                ),
            )

    if max_dup_span_frac is not None:
        from .dedup import duplicate_spans

        spanned = duplicate_spans(
            out, text_col=text_col, id_col=id_col, span=dup_span
        )
        keep_spans = spanned.filter(
            F.col("dup_frac") <= max_dup_span_frac
        ).select(id_col)
        out = mark("span_gate", out.join(keep_spans, id_col, "left_semi"))
    elif remove_dup_spans:
        from .dedup import remove_duplicate_spans

        out = mark(
            "span_removal",
            remove_duplicate_spans(
                out, text_col=text_col, id_col=id_col, span=dup_span
            ),
        )

    if mix_col and mix_alpha is not None:
        from .sample import temperature_sample

        out = mark(
            "mix",
            temperature_sample(
                out, mix_col, alpha=mix_alpha,
                target_frac=mix_target_frac, id_col=id_col,
            ),
        )
    elif mix and mix_col:
        if any(r > 1.0 for r in mix.values()):
            # multi-epoch rates: materialize the repeats instead of
            # silently capping at 1 (what the plain lane filter would
            # do); output gains an `epoch` copy-index column and row
            # identity becomes (id, epoch)
            from .sample import epoch_sample

            out = mark(
                "mix",
                epoch_sample(out, mix, mix_col, id_col=id_col),
            )
        else:
            out = mark(
                "mix",
                stratified_sample(out, mix, mix_col, id_col=id_col),
            )
    elif importance_col is not None:
        from .sample import importance_sample

        out = mark(
            "mix",
            importance_sample(
                out, importance_col, target_frac=mix_target_frac,
                id_col=id_col,
            ),
        )
    elif budget_docs is not None:
        # fixed-budget reservoir mix: exactly budget_docs survivors,
        # inclusion probability proportional to the weight column —
        # "the best k documents, stochastically" (A-ES; one pushable
        # projection + TakeOrderedAndProject, no corpus shuffle)
        from .sample import weighted_reservoir_sample

        out = mark(
            "mix",
            weighted_reservoir_sample(
                out, budget_weight_col, budget_docs, id_col=id_col
            ),
        )
    elif dsir_target_df is not None:
        # DSIR domain matching (Xie et al. 2023): weight the
        # SURVIVORS toward the target domain, raw model trained on
        # the survivors themselves (the paper's raw pool = what the
        # sampler actually draws from)
        from .dsir import dsir_resample, train_dsir_model

        tm = train_dsir_model(
            dsir_target_df, text_col=text_col, id_col=id_col,
            n_buckets=dsir_buckets, alpha=dsir_alpha,
        )
        rm = train_dsir_model(
            out, text_col=text_col, id_col=id_col,
            n_buckets=dsir_buckets, alpha=dsir_alpha,
        )
        out = mark(
            "mix",
            dsir_resample(
                out, tm, rm, target_frac=mix_target_frac,
                text_col=text_col, id_col=id_col,
            ).drop("log_weight"),
        )

    if n_shards:
        if "epoch" in out.columns:
            # epoch copies share the doc id; shard by the composite
            # key so copies spread deterministically instead of tying
            # on the id lane (a tie would make position<->epoch
            # assignment partition-order-dependent)
            key = "__mix_key"
            out = assign_shards(
                out.withColumn(
                    key,
                    F.concat_ws(
                        "#",
                        F.col(id_col).cast("string"),
                        F.col("epoch").cast("string"),
                    ),
                ),
                n_shards,
                id_col=key,
            ).drop(key)
        else:
            out = assign_shards(out, n_shards, id_col=id_col)

    if carried_cache:
        from .dedup import _attach_cached

        _attach_cached(out, carried_cache)
    if profile_path is not None:
        # the recipe publishes its own card shard: one profile row
        # (per shard when sharded) appended to the mergeable artifact
        # — release N's card is merge_corpus_profiles over the table,
        # and cross-release churn/overlap come from the stored
        # sketches without re-reading any release
        from .report import corpus_profile

        corpus_profile(
            out,
            text_col=text_col,
            id_col=id_col,
            shard_col="shard" if "shard" in out.columns else None,
        ).write.mode("append").parquet(profile_path)
    if publish_dedup_index_path is not None:
        # release-over-release loop closure: publish the dedup index
        # the NEXT incremental build probes. With dedup_index_path the
        # published artifact covers old release + this one (base rows
        # copied, new rows stamped with the base's stored parameters —
        # extend_dedup_index); without, it's a fresh index of this
        # release. Index text is the RELEASE text (post-scrub), which
        # is exactly what the next build's stage 4+5 must compare
        # against. Multi-epoch repeats collapse to one row per doc.
        from .dedup import extend_dedup_index, write_dedup_index

        release_docs = out.dropDuplicates([id_col]).select(
            id_col, text_col
        )
        if dedup_index_path is not None:
            extend_dedup_index(
                dedup_index_path,
                release_docs,
                publish_dedup_index_path,
                text_col=text_col,
            )
        else:
            write_dedup_index(
                release_docs,
                publish_dedup_index_path,
                text_col=text_col,
                id_col=id_col,
            )
    if tokenizer_path is not None:
        # tokenizer publication: train BPE on the RELEASE text and
        # ship the _tokenizer.json artifact beside the dedup/decon/
        # profile artifacts, so a release's token ids are reproducible
        # from the release directory alone (read_tokenizer +
        # bpe_encode_ids — no retraining, no driver state). Byte mode
        # (default) seeds the 256-byte alphabet and every merge
        # product into the vocab, making OOV structurally impossible
        # on any future text the tokenizer meets.
        from .bpe import (
            apply_bpe,
            bpe_vocab,
            train_bpe_merges,
            write_tokenizer,
        )

        release_docs = out.dropDuplicates([id_col]).select(
            id_col, text_col
        )
        merges = train_bpe_merges(
            release_docs,
            n_merges=int(tokenizer_merges),
            text_col=text_col,
            mode=tokenizer_mode,
        )
        vocab_df = bpe_vocab(
            apply_bpe(
                release_docs, merges, text_col=text_col,
                id_col=id_col, mode=tokenizer_mode,
            ),
            include_byte_alphabet=tokenizer_mode == "byte",
            merges=merges,
        )
        vocab = {
            r["token"]: int(r["token_id"]) for r in vocab_df.collect()
        }
        write_tokenizer(
            df.sparkSession,
            tokenizer_path,
            merges,
            vocab,
            mode=tokenizer_mode,
        )
    if return_dropped:
        spark = df.sparkSession
        if audit_frames:
            dropped = audit_frames[0]
            for f in audit_frames[1:]:
                dropped = dropped.unionByName(f)
        else:
            from pyspark.sql import types as _T

            dropped = spark.createDataFrame(
                [],
                _T.StructType(
                    [
                        _T.StructField(id_col, df.schema[id_col].dataType),
                        _T.StructField("stage", _T.StringType()),
                    ]
                ),
            )
        return out, counts, dropped
    return out, counts
