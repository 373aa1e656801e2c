"""Deterministic sampling for training-data pipelines.

Corpus curation constantly downsamples per stratum (language, domain,
quality band) with different rates. ``sampleBy`` does that with an RNG;
these variants are HASH-deterministic — the same row set survives on
every run, every engine, and every retry, which is what a reproducible
training mix needs (and what makes the result value-checkable against
a SQL oracle, the q07 pattern generalized per-stratum).

Mechanics: keep a row iff the first 15 hex digits of
``md5(id || ':' || salt)`` — 60 bits, uniform — fall below
``rate * 2^60``. Pure JVM expressions, embarrassingly parallel, no
shuffle, and the predicate pushes through column pruning like any
filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_SCALE = 1 << 60


def _lane(c: Column) -> Column:
    """60-bit uniform hash lane from md5 (reproducible in any engine).

    BIGINT, not decimal(38,0): 15 hex digits < 2^60 < 2^63 always fits
    a long, the string->long cast is exact, and every boundary literal
    (rate * 2^60 <= 2^60) is exact too — so the survivor set is
    bit-identical while each compare is a primitive long op instead of
    a Decimal object op (measured 0.3 s per 600k-row lane filter)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def deterministic_sample(
    df: DataFrame,
    rate: float,
    id_col: str = "doc_id",
    salt: str = "s",
) -> DataFrame:
    """Keep ~``rate`` of rows, chosen by hash — stable across runs."""
    key = F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    return df.filter(_lane(key) < F.lit(int(rate * _SCALE)).cast("bigint"))


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    id_col: str = "doc_id",
    salt: str = "s",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling: each key in ``rates`` keeps
    its own fraction; strata not listed keep ``default_rate``.

    The rate lookup compiles to a literal CASE chain (strata counts are
    small — languages, domains), so the whole operator is a single
    pushable filter; no join, no shuffle, no RNG state.
    """
    key = F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    rate_expr = F.lit(int(default_rate * _SCALE)).cast("bigint")
    # None is a legal stratum key (NULL-stratum rows) — equality would
    # never match NULL, so it compiles to isNull(); sort by str for a
    # stable CASE order with mixed/None keys
    for k, r in sorted(rates.items(), key=lambda kv: str(kv[0])):
        cond = F.col(stratum_col).isNull() if k is None else F.col(stratum_col) == k
        rate_expr = (
            F.when(
                cond,
                F.lit(int(r * _SCALE)).cast("bigint"),
            ).otherwise(rate_expr)
        )
    return df.filter(_lane(key) < rate_expr)


def temperature_mixture_rates(
    df: DataFrame,
    stratum_col: str,
    alpha: float = 0.7,
    target_frac: float = 0.5,
) -> dict[str, float]:
    """Temperature-based data-mixing rates (the multilingual-LM
    resampling rule, e.g. XLM-R: sample group g proportional to
    p_g^alpha where p_g is its corpus share). Returns per-stratum keep
    rates such that the expected kept fraction of the WHOLE corpus is
    ``target_frac``; alpha < 1 upweights small groups (alpha = 1 is
    proportional sampling, alpha = 0 uniform-per-group).

    Rates are solved on the driver from the per-group counts (one
    aggregation over the stratum column; the number of strata —
    languages, domains — is assumed driver-small). Groups whose
    computed rate exceeds 1 are clamped and the excess mass is
    re-spread over the rest (waterfilling), so the target is met
    whenever it is feasible. Feed the result to
    ``stratified_sample`` for the deterministic hash-lane filter.
    """
    if not 0.0 < target_frac <= 1.0:
        raise ValueError("target_frac must be in (0, 1]")
    counts = {
        r[0]: r[1]
        for r in df.groupBy(stratum_col).count().collect()
    }
    return waterfill_rates(counts, alpha, target_frac)


def waterfill_rates(
    counts: dict, alpha: float, target_frac: float
) -> dict:
    """The pure solver behind ``temperature_mixture_rates`` (exposed
    for testability and for callers with precomputed group counts):
    per-group keep rates proportional to n^(alpha-1), clamped at 1.0
    with the clamped groups' excess mass re-spread over the rest,
    meeting ``target_frac`` of the total whenever feasible."""
    total = sum(counts.values())
    want = target_frac * total
    active = dict(counts)
    rates: dict = {}
    # waterfill: clamp saturated groups to 1.0 and re-solve on the rest
    while active:
        denom = sum(n**alpha for n in active.values())
        if denom == 0:
            break
        c = (want - sum(counts[g] for g in rates)) / denom
        overflow = [g for g, n in active.items() if c * n ** (alpha - 1.0) >= 1.0]
        if not overflow:
            for g, n in active.items():
                rates[g] = max(0.0, c * n ** (alpha - 1.0))
            break
        for g in overflow:
            rates[g] = 1.0
            del active[g]
    return rates


def temperature_sample(
    df: DataFrame,
    stratum_col: str,
    alpha: float = 0.7,
    target_frac: float = 0.5,
    id_col: str = "doc_id",
    salt: str = "s",
) -> DataFrame:
    """Compute temperature-mixing rates from the data, then apply the
    deterministic per-stratum hash filter — the one-call path from a
    raw multi-domain corpus to a reproducible training mix."""
    rates = temperature_mixture_rates(df, stratum_col, alpha, target_frac)
    return stratified_sample(df, rates, stratum_col, id_col=id_col, salt=salt)


def importance_sample(
    df: DataFrame,
    weight_col: str,
    target_frac: float,
    id_col: str = "doc_id",
    salt: str = "s",
    iters: int = 8,
) -> DataFrame:
    """Keep each row with probability proportional to a non-negative
    per-row weight (quality score, classifier logit mapped to [0, inf)),
    scaled so the EXPECTED kept fraction is ``target_frac`` — the
    quality-proportional selection step of recent curation recipes
    (weights from a quality classifier, keep budget fixed).

    Acceptance is ``hash_lane(id) < min(1, w * s)`` — deterministic,
    engine-reproducible, a single pushable filter like every sampler
    here. The scale ``s`` solves ``sum(min(1, w*s)) = target_frac * n``
    by driver-side bisection (the left side is monotone in ``s``);
    ``iters`` (default 8) probes give ~0.4% budget accuracy. The
    clipping at 1 is what makes bisection necessary: without it heavy
    rows would be 'kept more than once' and the naive
    ``s = target * n / sum(w)`` under-fills the budget whenever any
    ``w * s`` clips.

    Solve cost: the CORPUS is scanned exactly once. The ~10 probe
    aggregations run against a persisted single-column projection of
    the weights (materialized by the stats pass, MEMORY_AND_DISK so a
    100 TB corpus's slim weight column spills rather than respills the
    source), and the projection is unpersisted before returning. The
    returned DataFrame is a plain filter over ``df`` — lazy, pushable,
    no residual cache.

    Rows with NULL or non-positive weight are never kept; if even a
    fully-saturated acceptance (every positive-weight row kept) cannot
    reach the budget, a warning is emitted and the maximal sample is
    returned.
    """
    if not 0.0 < target_frac <= 1.0:
        raise ValueError(f"target_frac must be in (0, 1], got {target_frac}")
    from pyspark import StorageLevel

    w = F.col(weight_col).cast("double")
    wdf = df.select(w.alias("__w")).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        wc = F.col("__w")
        stats = wdf.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(wc > 0, wc).otherwise(F.lit(0.0))).alias("sw"),
            F.max(wc).alias("wmax"),
        ).collect()[0]
        n, sw, wmax = stats["n"], stats["sw"] or 0.0, stats["wmax"] or 0.0
        if n == 0 or sw <= 0:
            return df.filter(F.lit(False))
        target_n = target_frac * n

        def expected(s: float) -> float:
            # each row's clipped acceptance is quantized to integer
            # micros BEFORE the sum (the repo's integer-micro idiom):
            # the probe is then an exact integer total, independent of
            # partition order — a raw double F.sum could flip a
            # bisection comparison by ulps under a different layout and
            # change the final survivor set
            row = wdf.agg(
                F.sum(
                    F.when(
                        wc > 0,
                        F.round(
                            F.least(F.lit(1.0), wc * F.lit(s)) * F.lit(1e6), 0
                        ).cast("long"),
                    ).otherwise(F.lit(0))
                )
            ).collect()[0][0]
            return (row or 0) / 1e6

        lo, hi = 0.0, max(1.0 / wmax, target_n / sw) * 2.0
        # grow hi until it overshoots the budget (or every row saturates)
        e_hi = expected(hi)
        while e_hi < target_n and hi * wmax < 1e6:
            hi *= 4.0
            e_hi = expected(hi)
        s = hi
        if e_hi < target_n:
            # at the cap every positive-weight row is (effectively)
            # saturated and the budget is still short: target_frac
            # exceeds the positive-weight fraction. Bisecting would
            # just walk lo up to hi — skip it, keep the maximal
            # sample, and say so instead of silently under-filling.
            import warnings

            warnings.warn(
                f"importance_sample: budget target_frac={target_frac} is "
                f"unreachable — the maximal acceptance at the scale cap "
                f"keeps only {e_hi / n:.4f} of rows (positive-weight "
                f"fraction, or less under extreme weight skew); returning "
                f"that maximal sample",
                stacklevel=2,
            )
        else:
            for _ in range(iters):
                mid = (lo + hi) / 2.0
                if expected(mid) < target_n:
                    lo = mid
                else:
                    hi = mid
                s = hi
    finally:
        wdf.unpersist()
    key = F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    accept = F.least(F.lit(1.0), w * F.lit(s))
    lane_u = _lane(key).cast("double") / F.lit(float(2**60))
    return df.filter(w > 0).filter(lane_u < accept)


def weighted_reservoir_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "wrs",
    key_out: str | None = None,
) -> DataFrame:
    """EXACT-k sample without replacement, inclusion probability
    proportional to a per-row weight — the fixed-budget complement of
    ``importance_sample`` (which fixes the expected FRACTION): "give me
    the best 1M documents by quality weight, stochastically" is this
    operator, not a rate filter.

    Algorithm A-ES (Efraimidis & Spirakis 2006): draw u ~ U(0,1) per
    row, rank by ``u^(1/w)`` — equivalently ``ln(u)/w`` — and keep the
    ``k`` largest. The ranking is computed in log space and quantized
    to integer micros (the repo's integer-micro idiom) with the id as
    tiebreak, so the survivor set is reproducible across engines and
    partition layouts. ``u`` comes from the sampler family's md5 lane:
    the same row keeps/loses its slot on every run, engine, and retry.

    Scale shape: one pushable projection + ``TakeOrderedAndProject``
    (Spark compiles sort-then-limit to a per-partition top-k heap;
    only ``k`` rows per partition reach the final merge). No corpus
    shuffle, no RNG state, no driver loop — the right plan at 100 TB
    for any k that fits on the driver (the returned sample itself).

    Rows with NULL or non-positive weight never qualify. ``key_out``
    optionally keeps the quantized rank key as a column (audit trail).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    key = F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    w = F.col(weight_col).cast("double")
    # lane/2^60 in (0,1): the +0.5 guards the lane==0 row (u would be
    # exactly 0 and ln blow up); for large lanes it is absorbed by the
    # double rounding identically in every IEEE engine
    u = (_lane(key).cast("double") + F.lit(0.5)) / F.lit(float(_SCALE))
    # floor to integer micros BEFORE ranking: a raw double key could
    # flip an ordering by ulps across engines (ln differs by <=1 ulp
    # between libm builds); after the floor only a ~1e-8-wide boundary
    # band is ambiguous, and ties break by id deterministically
    es_key = F.floor(F.log(u) / w * F.lit(1e6)).cast("long")
    out = (
        df.filter(w > 0)
        .withColumn("__es_key", es_key)
        .orderBy(F.col("__es_key").desc(), F.col(id_col).asc())
        .limit(int(k))
    )
    if key_out is not None:
        return out.withColumnRenamed("__es_key", key_out)
    return out.drop("__es_key")


def plan_mixture(
    df: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    stratum_col: str = "source",
    text_col: str = "text",
    max_epochs: float = 1.0,
) -> dict:
    """Token-budget mixture planning — the arithmetic every published
    mix runs before sampling (the Pile's epoch table, LLaMA's
    sampling-proportion table): given target mixture ``weights`` per
    domain and a total ``budget_tokens``, compute per-domain document
    sampling RATES from the domain's actual token inventory.

    A domain whose share of the budget exceeds its inventory needs
    ``epochs`` > 1 (repeat passes); rates are capped at ``max_epochs``
    and the shortfall is reported rather than silently reassigned —
    deciding where under-inventory mass goes is a recipe choice, not
    this function's.

    One aggregation job (per-domain doc/token counts); everything
    else is driver arithmetic. Returns ``{"rates": {domain: rate},
    "epochs": {domain: e}, "tokens_planned": {domain: n},
    "shortfall_tokens": {domain: n}, "inventory": {domain:
    (docs, tokens)}}`` — feed ``rates`` (clamped to 1.0) to
    ``stratified_sample``; domains with rate > 1 repeat the corpus
    floor(e) times plus a sampled remainder pass.
    """
    from .text import token_count

    if not weights:
        raise ValueError("weights must name at least one domain")
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")

    inv_rows = (
        df.filter(F.col(stratum_col).isin(*weights.keys()))
        .groupBy(stratum_col)
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(token_count(text_col)).alias("tokens"),
        )
        .collect()
    )
    inventory = {r[stratum_col]: (r["docs"], r["tokens"]) for r in inv_rows}
    missing = sorted(set(weights) - set(inventory))
    if missing:
        raise ValueError(
            f"domains {missing} have no rows in {stratum_col!r}"
        )

    rates, epochs, planned, shortfall = {}, {}, {}, {}
    for dom, w in weights.items():
        docs, toks = inventory[dom]
        want = budget_tokens * (w / wsum)
        e = want / toks if toks else float("inf")
        capped = min(e, max_epochs)
        epochs[dom] = round(e, 6)
        rates[dom] = round(capped, 6)
        planned[dom] = int(round(min(want, capped * toks)))
        shortfall[dom] = int(round(max(0.0, want - capped * toks)))
    return {
        "rates": rates,
        "epochs": epochs,
        "tokens_planned": planned,
        "shortfall_tokens": shortfall,
        "inventory": inventory,
    }


def cap_per_group(
    df: DataFrame,
    group_col,
    max_n: int,
    id_col: str = "doc_id",
    salt: str = "cap",
) -> DataFrame:
    """Keep at most ``max_n`` rows per group — the anti-domination
    rule of the published web recipes (RefinedWeb/FineWeb cap pages
    per domain so no single host floods the mix). Which rows survive
    is DETERMINISTIC: the ``max_n`` smallest md5 lanes (a uniform
    random-but-reproducible choice), ties broken by id.

    One shuffle (the per-group ranking window). Groups are domains or
    sources — many and small by construction; a window partition is
    one group, so no partition outgrows an executor. ``group_col``
    may be a column name or an expression (e.g.
    ``url_features``'s registered domain).
    """
    from pyspark.sql import Window

    if max_n <= 0:
        raise ValueError("max_n must be positive")
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    lane = _lane(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    w = Window.partitionBy(g).orderBy(lane, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(max_n))
        .drop("__rn")
    )


def split_corpus(
    df: DataFrame,
    fracs: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
    group_col: str | None = None,
) -> dict[str, DataFrame]:
    """Deterministic disjoint corpus splits (train/val/test): each row
    lands in exactly one named split by its hash lane, so the split is
    reproducible across runs, engines, and partitionings, and adding
    rows later never moves an existing row between splits (the
    property a random split breaks and eval integrity needs).

    ``fracs`` must sum to 1 (±1e-9) — make the residual explicit
    (e.g. ``{"train": 0.98, "val": 0.01, "test": 0.01}``). Each
    returned DataFrame is a pushable scan filter on the parent.

    ``group_col`` makes the split LEAKAGE-FREE at a coarser unit: the
    lane is computed on that column instead of the row id, so every
    row sharing the value lands in the same split. This is how a
    near-duplicate-aware eval split is built — cluster the corpus
    first (MinHash-LSH candidates -> ``connected_components``), attach
    the cluster id, split on it — because splitting by document id
    puts near-identical twins on both sides of the train/test fence
    and silently inflates eval scores (the contamination mode
    document-level dedup cannot fix). The same knob splits by any
    leakage unit: source URL, domain, author. Split proportions then
    hold over GROUPS, not rows (a heavy cluster drags its whole mass
    into one split — that is the point). NULL group values raise:
    silently lumping every unclustered row into one split would skew
    it; coalesce to the row id upstream if singletons should scatter.
    """
    if not fracs:
        raise ValueError("fracs must name at least one split")
    total = float(sum(fracs.values()))
    if abs(total - 1.0) > 1e-9:
        raise ValueError(
            f"fracs must sum to 1 (got {total}) — assign the residual "
            f"explicitly so no rows vanish silently"
        )
    if any(v < 0 for v in fracs.values()):
        raise ValueError("fracs must be non-negative")
    key_col = group_col if group_col is not None else id_col
    if group_col is not None:
        key = F.concat(
            F.when(
                F.col(group_col).isNull(),
                F.raise_error(
                    F.lit(
                        f"split_corpus: NULL in group_col {group_col!r} — "
                        f"coalesce unclustered rows to their own id "
                        f"before a grouped split"
                    )
                ),
            ).otherwise(F.col(group_col).cast("string")),
            F.lit(":" + salt),
        )
    else:
        key = F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))
    lane = _lane(key)
    out: dict[str, DataFrame] = {}
    lo = 0.0
    items = list(fracs.items())
    for i, (name, frac) in enumerate(items):
        hi = 1.0 if i == len(items) - 1 else lo + frac
        lo_b = F.lit(int(lo * _SCALE)).cast("bigint")
        hi_b = F.lit(int(hi * _SCALE)).cast("bigint")
        out[name] = df.filter((lane >= lo_b) & (lane < hi_b))
        lo = hi
    return out


def split_label(
    df: DataFrame,
    fracs: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
    group_col: str | None = None,
    label_col: str = "split",
) -> DataFrame:
    """One-pass COLUMN form of ``split_corpus``: every row gets the
    name of the split whose ``split_corpus`` frame would contain it,
    from the same lane and the same cumulative integer boundaries.

    Consuming all splits via ``split_corpus`` is a union of one
    filtered scan per split — each branch re-reads the parent and
    re-evaluates the lane md5 (3 splits = 3 scans, guide §2.3
    "project before the exchange"/§1.2 per-task work). When the
    downstream wants every row labeled (the training-mix shape), this
    single scan with one chained CASE is plan-equivalent input-wise
    and row-identical to that union.
    """
    # share split_corpus's validation + lane/boundary arithmetic by
    # building the SAME spec it builds
    spec = split_corpus(df, fracs, id_col, salt, group_col)
    if group_col is not None:
        key = F.concat(
            F.when(
                F.col(group_col).isNull(),
                F.raise_error(
                    F.lit(
                        f"split_label: NULL in group_col {group_col!r} — "
                        f"coalesce unclustered rows to their own id "
                        f"before a grouped split"
                    )
                ),
            ).otherwise(F.col(group_col).cast("string")),
            F.lit(":" + salt),
        )
    else:
        key = F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
    lane = _lane(key)
    names = list(spec)
    label = F.lit(names[-1])
    hi = 0.0
    cases: list[tuple[Column, str]] = []
    for name, frac in list(fracs.items())[:-1]:
        hi += frac
        cases.append((F.lit(int(hi * _SCALE)).cast("bigint"), name))
    for bound, name in reversed(cases):
        label = F.when(lane < bound, F.lit(name)).otherwise(label)
    return df.withColumn(label_col, label)


def epoch_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    id_col: str = "doc_id",
    salt: str = "s",
    default_rate: float = 0.0,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Materialize a mixture whose per-stratum rates may EXCEED 1 —
    the executor for ``plan_mixture``'s epoch table: a domain with
    rate 2.4 contributes every document twice plus a deterministic
    40% lane of third copies (the Pile/LLaMA "epochs" column made
    real). For rates <= 1 the kept set is EXACTLY
    ``stratified_sample``'s — the two operators agree on the shared
    lane, so a mixed plan (some domains down-, some up-sampled) is one
    call.

    Each surviving row carries ``epoch_col`` (0-based copy index);
    downstream identity is (id, epoch) — exact dedup would otherwise
    re-collapse the copies, so run this AFTER dedup, at mix time
    (where curate_corpus places mixing). Expected copies per row is
    exactly its stratum rate.

    One ``posexplode(array_repeat)`` generate — no join, no shuffle,
    no RNG state, no filter (zero-copy rows yield an empty array and
    vanish in the generate); the CASE chain over strata is scan-fused
    like the rest of the sampler family.
    """
    if epoch_col in df.columns:
        raise ValueError(
            f"epoch_sample: column {epoch_col!r} already exists — pass "
            f"epoch_col to rename the copy index"
        )
    if default_rate < 0 or any(r < 0 for r in rates.values()):
        raise ValueError("epoch_sample: rates must be non-negative")
    key = F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))

    def _case(fn, default):
        expr = default
        for k, r in sorted(rates.items(), key=lambda kv: str(kv[0])):
            cond = (
                F.col(stratum_col).isNull()
                if k is None
                else F.col(stratum_col) == k
            )
            expr = F.when(cond, fn(r)).otherwise(expr)
        return expr

    full = _case(
        lambda r: F.lit(int(r)), F.lit(int(default_rate))
    )
    frac = _case(
        lambda r: F.lit(int((r - int(r)) * _SCALE)).cast("bigint"),
        F.lit(int((default_rate - int(default_rate)) * _SCALE)).cast(
            "bigint"
        ),
    )
    n_copies = full + F.when(_lane(key) < frac, F.lit(1)).otherwise(F.lit(0))
    # posexplode(array_repeat) instead of filter(__nc > 0) + explode
    # (sequence(0, __nc - 1)): an empty array drops the row in the
    # Generate itself, so the lane md5 is evaluated ONCE per row — the
    # old filter's __nc > 0 conjunct re-evaluated the md5 a second
    # time after CollapseProject inlined it (guide §1.2 per-task work;
    # visible in the q50 scan-stage Filter condition). Same rows, same
    # 0-based epochs.
    return (
        df.select(
            "*",
            F.posexplode(
                F.array_repeat(F.lit(0), n_copies)
            ).alias(epoch_col, "__zero"),
        )
        .drop("__zero")
    )
