"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; the scale paths
are LSH random-hyperplane bucketing, IVF cells over a (trained)
k-means codebook, and product quantization. Every vector fold — dot
product, norm, cosine — has one implementation: a JVM-side
``zip_with``/``aggregate`` fold rendered as SQL text (``_dot_sql``,
``_norm_sql``, ``_cos_sql``) with literal vectors through ``_litarr``,
parsed server-side in one py4j call however many folds it holds (a
Python-built higher-order function costs ~20 py4j round trips of
lambda registration per fold). ``_cos_py`` is the driver-side cosine
for ranking tiny codebooks.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from .._litarr import lit_double_array, sql_double_array, sql_ident, sql_num


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"cast(x as double) * cast(y as double)), 0.0D, "
        f"(acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, x -> "
        f"cast(x as double) * cast(x as double)), 0.0D, "
        f"(acc, v) -> acc + v))"
    )


def _cos_sql(a: str, b: str) -> str:
    # try_divide: a zero-norm vector has no direction — its cosine is
    # NULL (never reaches a threshold, never ranks), instead of an
    # ANSI DIVIDE_BY_ZERO that can fire even on guarded rows when the
    # optimizer folds this expression into a combined filter predicate
    # evaluated ahead of the guard. Nonzero divisors are bit-identical
    # to plain division, so oracle hashes are unaffected.
    return f"try_divide({_dot_sql(a, b)}, ({_norm_sql(a)} * {_norm_sql(b)}))"


def _fold_norm(vals) -> float:
    """Driver-side twin of ``_norm_sql`` over a literal array: the
    same left fold of ``cast(x as double) * x`` then sqrt, in the same
    order, in IEEE doubles — bit-identical to evaluating the SQL fold
    on the JVM (Python floats ARE IEEE doubles; sqrt is correctly
    rounded in both)."""
    acc = 0.0
    for x in vals:
        xd = float(x)
        acc += xd * xd
    return math.sqrt(acc)


def _cos_py(a, b) -> float:
    """Driver-side cosine for probing tiny codebooks — one shared
    implementation (zero-norm guarded) so every probe path orders
    centroids identically, even for degenerate codebooks."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        x, y = float(x), float(y)
        dot += x * y
        na += x * x
        nb += y * y
    return dot / (((na**0.5) * (nb**0.5)) or 1.0)


def _nearest_cells(
    query_vector: list[float],
    codebook: list[tuple[int, list[float]]],
    nprobe: int,
) -> list[int]:
    """The ``nprobe`` cells one driver-side query probes, ranked by
    ``(-round(cos, 6), cell_id)`` — the key ``_probe_cells`` sorts by
    on the JVM, so single-query and batch searches probe the same
    cells."""
    ranked = sorted(
        codebook,
        key=lambda e: (-round(_cos_py(query_vector, e[1]), 6), e[0]),
    )
    return [cid for cid, _ in ranked[:nprobe]]


def _probe_cells(
    vec_col: str,
    codebook: list[tuple[int, list[float]]],
    nprobe: int,
) -> Column:
    """Per-row IVF probe list: cosine to every centroid (a tiny
    literal), sort by (negated sim rounded to 6 decimals, cell id) —
    ``_nearest_cells``' key — slice ``nprobe``; one parsed SQL
    expression, all JVM, no driver pass over the rows."""
    cents = ", ".join(
        f"struct({int(cid)} AS cell, {sql_double_array(c)} AS c)"
        for cid, c in codebook
    )
    # lambda names no column name plausibly shadows: the vector
    # column is referenced inside the outer lambda
    cos = _cos_sql(sql_ident(vec_col), "__oc_c.c")
    return F.expr(
        f"transform(slice(array_sort(transform(array({cents}), __oc_c -> "
        f"struct(-round({cos}, 6) AS neg_sim, __oc_c.cell AS cell)"
        f")), 1, {int(nprobe)}), __oc_p -> __oc_p.cell)"
    )


def _default_codebook(
    df: DataFrame, nlist: int, vec_col: str, id_col: str
) -> list[tuple[int, list[float]]]:
    """The deterministic default IVF codebook: the vectors with
    ``id < nlist``, by id — reproducible and oracle-checkable; pass a
    trained codebook (``train_ivf_codebook``) for real corpora."""
    cents = [
        (int(r[0]), list(r[1]))
        for r in df.filter(F.col(id_col) < nlist)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    ]
    if not cents:
        raise ValueError("no centroid rows (empty corpus?)")
    return cents


def _hash_seeds(
    df: DataFrame,
    n: int,
    vec_col: str,
    id_col: str,
    lane: Column | None = None,
) -> list[list[float]]:
    """The ``n`` vectors with the smallest hash-lane values, ties by
    id (default lane ``xxhash64(id)``): deterministic seeds that cost
    one top-k, no pass beyond it."""
    if lane is None:
        lane = F.xxhash64(F.col(id_col))
    rows = (
        df.select(id_col, vec_col)
        .orderBy(lane, F.col(id_col))
        .limit(n)
        .collect()
    )
    if len(rows) < n:
        raise ValueError(
            f"corpus has {len(rows)} vectors; {n} seeds needed"
        )
    return [[float(x) for x in r[1]] for r in rows]


def _centroid_means(
    frame: DataFrame, keys: list[str], vec_col: str
) -> dict[tuple[int, ...], list[float]]:
    """Componentwise mean vector per ``keys`` group, for a k-means
    update: ONE shuffle keyed by (keys, position) (``posexplode`` +
    avg), then a per-group ordered reassembly. Returns
    ``{key tuple: mean vector}``; groups with no rows are absent."""
    means = frame.select(
        *keys, F.posexplode(F.col(vec_col)).alias("pos", "val")
    ).groupBy(*keys, "pos").agg(
        F.avg(F.col("val").cast("double")).alias("m")
    )
    rows = (
        means.groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("vec")
        )
        .collect()
    )
    return {
        tuple(int(r[k]) for k in keys): [float(x) for x in r["vec"]]
        for r in rows
    }


def brute_force_cosine_topk(
    df: DataFrame,
    query_vector: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine against one query vector — also the exact
    rerank every approximate single-query search runs on its candidate
    frame. The orderBy+limit plans as TakeOrderedAndProject:
    per-partition top-k then a driver merge — no global sort shuffle."""
    sim = _cos_sql(sql_ident(vec_col), sql_double_array(query_vector))
    return (
        df.select(F.col(id_col), F.expr(f"round({sim}, 6)").alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, planes: int, seed: int) -> list[list[float]]:
    """Deterministic gaussian hyperplanes shared by ingest and query."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)]


def _bucket_expr_sql(vec_sql: str, hyperplanes: list[list[float]]) -> Column:
    """Sign-pattern bucket of a vector EXPRESSION in one py4j call:
    int bit CASEs summed through shiftleft."""
    terms = ["0"]
    for i, hp in enumerate(hyperplanes):
        arr = sql_double_array(hp)
        bit = f"(CASE WHEN {_dot_sql(vec_sql, arr)} >= 0 THEN 1 ELSE 0 END)"
        terms.append(f"shiftleft({bit}, {i})")
    return F.expr("(" + " + ".join(terms) + ")")


def add_lsh_buckets(
    df: DataFrame,
    dim: int,
    planes: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
    bucket_col: str = "__bucket",
) -> DataFrame:
    """Ingest-time bucket materialization: stamp each vector with its
    sign-pattern bucket. Write the result clustered on ``bucket_col``
    (``repartitionByRange(bucket_col)``) and every later ANN probe
    reads only the ~``planes+1`` probed buckets' files instead of the
    whole corpus — that is the 100 TB path."""
    planes_w = _hyperplanes(dim, planes, seed)
    return df.withColumn(
        bucket_col, _bucket_expr_sql(sql_ident(vec_col), planes_w)
    )


def assign_ivf_cells(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    cell_col: str = "__ivf_cell",
) -> DataFrame:
    """Ingest-time IVF cell assignment: stamp each vector with the id of
    its nearest centroid (max rounded cosine; ties -> lowest centroid
    id). Write clustered on ``cell_col`` and a probe reads only the
    probed cells' files — same 100 TB posture as ``add_lsh_buckets``.

    Sims are rounded to 6 decimals before the argmax so the assignment
    is reproducible across engines (bit-level fold differences can't
    flip the winner except at exact 1e-6 ties, which the id tiebreak
    settles).
    """
    vq = sql_ident(vec_col)
    # SQL-text argmax, shaped for PARSE/ANALYZE cost: interpolating the
    # full per-centroid cosine text (dot + both norm folds over the
    # literal array) into the sims array, then that array twice
    # (array_position + array_max), is ~44 KB of SQL whose single
    # withColumn costs ~1.1 s of JVM analysis per construction.
    # Instead (1) the row norm is hoisted to one helper column, (2)
    # each centroid's norm is a Python-folded double constant (same
    # left-fold, same IEEE ops — bit-identical to the JVM fold of the
    # same literal array, NaN/±Inf included), (3) the sims array is
    # materialized ONCE as a column so the argmax is a tiny expression
    # and the per-row fold never runs twice. array_position returns
    # the FIRST (1-based) index of the max -> lowest centroid id wins
    # ties.
    nrm, sims = "__oc_nrm", "__oc_sims"
    while nrm in df.columns or sims in df.columns:
        nrm, sims = nrm + "_", sims + "_"
    sims_sql = "array(" + ",".join(
        f"round(try_divide({_dot_sql(vq, sql_double_array(c))}, "
        f"({sql_ident(nrm)} * {sql_num(_fold_norm(c))})), 6)"
        for _, c in centroids
    ) + ")"
    return (
        df.withColumn(nrm, F.expr(_norm_sql(vq)))
        .withColumn(sims, F.expr(sims_sql))
        .withColumn(
            cell_col,
            F.expr(
                f"cast(array_position({sql_ident(sims)}, "
                f"array_max({sql_ident(sims)})) - 1 as bigint)"
            ),
        )
        .drop(nrm, sims)
    )


def kmeans_parallel_init(
    df: DataFrame,
    nlist: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rounds: int = 3,
    oversample: int | None = None,
) -> list[list[float]]:
    """k-means|| initialization (Bahmani et al. 2012, "Scalable
    K-Means++") under the cosine metric — the published scalable
    alternative to hash seeding when codebook QUALITY matters more
    than cross-engine reproducibility of the seeds themselves.

    Per round (``rounds`` ~ 3-5 suffices per the paper): every
    point's distance to its nearest current candidate is a pure JVM
    argmin over literal centers (no shuffle, two scans per round —
    one for the global cost, one for the filtered draw); points
    enter the candidate set with probability
    ``min(1, oversample * d / cost)`` decided by an md5 hash lane —
    deterministic, no RNG state. The candidate set (about
    ``oversample`` per round, default ``2 * nlist``) is driver-sized
    by construction. A final pass counts each candidate's population
    (one aggregation), and weighted k-means++ on the driver reduces
    the candidates to ``nlist`` seeds. Total: ``2 * rounds + 1``
    corpus scans, nothing corpus-sized ever collects.
    """
    from .dedup import md5_lane

    li = int(oversample or 2 * nlist)
    cands = _hash_seeds(df, 1, vec_col, id_col)
    v = sql_ident(vec_col)
    for rnd in range(rounds):
        dists = [f"1.0D - {_cos_sql(v, sql_double_array(c))}" for c in cands]
        dmin = dists[0] if len(dists) == 1 else f"least({', '.join(dists)})"
        # distances quantized to integer micros: the global cost is
        # then an exact integer sum (partition-order independent), so
        # the acceptance threshold — and therefore the candidate set —
        # is identical under any layout
        dm = F.expr(f"cast(round(({dmin}) * 1000000.0D, 0) as bigint)")
        scored = df.select(
            F.col(id_col), F.col(vec_col).alias("__v"), dm.alias("__dm")
        )
        # the lane draw must vary by round or every round picks the
        # same points; md5_lane is the canonical 60-bit lane
        lane = md5_lane(
            F.concat_ws(":", F.col(id_col), F.lit(str(rnd)))
        ).cast("double") / F.lit(float(2**60))
        # the sampling threshold needs the GLOBAL cost, so each round
        # is two passes: aggregate the cost, then filter against it
        # (both evaluate the same JVM argmin; nothing is cached — the
        # corpus-sized scored frame must not persist per round)
        total = scored.agg(F.sum("__dm").alias("c")).collect()[0]["c"]
        if not total or total <= 0:
            break  # all mass on existing candidates
        picked = scored.filter(
            lane
            < F.lit(float(li))
            * F.col("__dm").cast("double")
            / F.lit(float(total))
        )
        new = [
            [float(x) for x in r["__v"]]
            for r in picked.select("__v").collect()
        ]
        cands.extend(new)
    # weight candidates by population (one JVM argmax pass)
    wrows = (
        assign_ivf_cells(df, list(enumerate(cands)), vec_col, "__c")
        .groupBy("__c")
        .count()
        .collect()
    )
    weights = {int(r["__c"]): float(r["count"]) for r in wrows}
    import numpy as np

    X = np.asarray(cands, dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    w = np.asarray([weights.get(i, 0.0) for i in range(len(cands))])
    # weighted k-means++ on the (tiny) candidate set, deterministic:
    # greedy max-weighted-distance variant
    chosen = [int(np.argmax(w))]
    for _ in range(1, min(nlist, len(cands))):
        d = np.min(1.0 - X @ X[chosen].T, axis=1)
        score = w * np.maximum(d, 0.0)
        score[chosen] = -1.0
        chosen.append(int(np.argmax(score)))
    if len(chosen) < nlist:
        raise ValueError(
            f"k-means|| gathered only {len(chosen)} distinct candidates "
            f"for nlist={nlist}; raise rounds/oversample"
        )
    return [list(map(float, X[i])) for i in chosen]


def train_ivf_codebook(
    df: DataFrame,
    nlist: int = 8,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init: str = "hash",
) -> list[tuple[int, list[float]]]:
    """Train an IVF codebook with distributed spherical k-means
    (Lloyd's iterations under the cosine metric, centroids normalized
    to unit length each round). Returns ``[(cell_id, centroid), ...]``
    in the shape ``assign_ivf_cells`` / ``ivf_ann`` consume.

    Scale shape: per iteration, (1) assignment is a pure JVM argmax
    over ``nlist`` broadcast literal centroids — no shuffle, no UDF;
    (2) the centroid update is ONE shuffle keyed by (cell, position)
    (``posexplode`` + avg, then per-cell ordered reassembly). The
    driver only ever holds the ``nlist x dim`` codebook; corpus rows
    never collect. Init is deterministic pseudo-random: the vectors
    with the ``nlist`` smallest ``xxhash64(id)`` values — reproducible
    across runs without a pass over the data beyond a top-k.

    A cell that captures no vectors keeps its previous centroid (the
    standard empty-cluster fallback). Convergence in a handful of
    rounds is typical; this is codebook TRAINING, run at ingest time,
    not per query.

    ``init="hash"`` (default) seeds from the ``nlist`` smallest
    ``xxhash64(id)`` vectors — cheap, deterministic, reproducible in
    SQL. ``init="kmeans||"`` runs the Bahmani et al. 2012 scalable
    k-means++ oversampling (``kmeans_parallel_init``) — better-spread
    seeds for skewed corpora at the cost of ~4 extra corpus scans.
    """

    def _unit(v: list[float]) -> list[float]:
        n = sum(float(x) * float(x) for x in v) ** 0.5 or 1.0
        return [float(x) / n for x in v]

    if init == "kmeans||":
        seeds = kmeans_parallel_init(df, nlist, vec_col, id_col)
    elif init == "hash":
        seeds = _hash_seeds(df, nlist, vec_col, id_col)
    else:
        raise ValueError(f"init must be 'hash' or 'kmeans||', got {init!r}")
    cents = [(i, _unit(c)) for i, c in enumerate(seeds)]
    for _ in range(iters):
        assigned = assign_ivf_cells(df, cents, vec_col, "__km_cell")
        updated = {
            key[0]: _unit(vec)
            for key, vec in _centroid_means(
                assigned, ["__km_cell"], vec_col
            ).items()
        }
        cents = [(cid, updated.get(cid, c)) for cid, c in cents]
    return cents


def ivf_lloyd_step(
    df: DataFrame,
    nlist: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    hasher: str = "xxhash64",
    value_decimals: int = 6,
) -> DataFrame:
    """ONE deterministic Lloyd iteration, emitted as checkable values:
    per-(cell, pos) assignment count and centroid-update mean.

    This is the value-proof companion to ``train_ivf_codebook`` (whose
    multi-round loop is deliberately not SQL-expressible): identical
    init -> argmax assignment -> posexplode-avg update machinery, but
    frozen at a single round with every step reproducible in any
    engine:

    * init: the ``nlist`` vectors with the smallest hash-lane values
      (``hasher='md5'`` uses the 60-bit md5 lane so DuckDB can replay
      it; ``'xxhash64'`` is the cheap JVM default), ties by id;
    * assignment: pure-JVM argmax of per-centroid cosine rounded to 6
      decimals (``assign_ivf_cells``), ties to the lowest cell id —
      raw seed vectors are used unnormalized (cosine is
      scale-invariant, and skipping the normalize keeps the expression
      bit-identical across engines);
    * update: component values are fixed-pointed to exact integers
      (round(x,6)*1e6 as long) so the per-(cell,pos) sums are
      order-independent; the emitted mean is one bigint->double
      division, identical everywhere.

    Output: (cell long, pos int, n long, mean_v double) — nlist x dim
    rows. Scale shape matches the trainer: assignment is shuffle-free
    (broadcast literal centroids), the update is ONE shuffle keyed by
    (cell, pos); the driver holds only the nlist seed vectors.
    """
    if hasher == "md5":
        lane = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
        ).cast("decimal(38,0)")
    elif hasher == "xxhash64":
        lane = F.xxhash64(F.col(id_col))
    else:
        raise ValueError(f"unknown hasher: {hasher!r}")
    cents = list(
        enumerate(_hash_seeds(df, nlist, vec_col, id_col, lane))
    )
    assigned = assign_ivf_cells(df, cents, vec_col, "cell")
    scale = float(10**value_decimals)
    vi = F.round(
        F.round(F.col("val").cast("double"), value_decimals) * scale, 0
    ).cast("long")
    pe = assigned.select(
        "cell", F.posexplode(F.col(vec_col)).alias("pos", "val")
    ).select("cell", "pos", vi.alias("vi"))
    g = pe.groupBy("cell", "pos").agg(
        F.count(F.lit(1)).alias("n"), F.sum("vi").alias("s")
    )
    mean = (
        F.col("s").cast("double") / F.col("n").cast("double") / F.lit(scale)
    )
    return g.select(
        "cell", "pos", "n", F.round(mean, value_decimals).alias("mean_v")
    )


def ivf_ann(
    df: DataFrame,
    query_vector: list[float],
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "__ivf_cell",
    codebook: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-style approximate NN: coarse-quantize the corpus into
    ``nlist`` cells, probe the ``nprobe`` cells nearest the query, score
    only those candidates.

    The coarse quantizer here is deterministic — the first ``nlist``
    vectors by id act as the codebook — so results are reproducible and
    oracle-checkable; at real scale you would train the codebook offline
    (e.g. MLlib KMeans) and pass it in: the search structure (assign ->
    cluster-by-cell write -> probe subset -> exact rerank) is identical.
    If ``cell_col`` already exists (materialized at ingest by
    ``assign_ivf_cells`` with the same codebook), it is used directly;
    on a cell-clustered table the isin predicate prunes at file level,
    so probe cost scales with nprobe/nlist of the corpus, not the
    corpus. Pass ``codebook`` (e.g. from ``train_ivf_codebook``) to
    search against a trained quantizer instead.
    """
    cents = codebook or _default_codebook(df, nlist, vec_col, id_col)
    probe_cells = _nearest_cells(query_vector, cents, nprobe)
    if cell_col not in df.columns:
        df = assign_ivf_cells(df, cents, vec_col, cell_col)
    cand = df.filter(F.col(cell_col).isin(probe_cells))
    return brute_force_cosine_topk(cand, query_vector, k, vec_col, id_col)


def lsh_bucket_ann(
    df: DataFrame,
    query_vector: list[float],
    k: int = 10,
    planes: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_col: str = "__bucket",
) -> DataFrame:
    """Approximate NN via random-hyperplane LSH.

    Bucket key = sign pattern of ``planes`` fixed pseudo-random
    hyperplanes (deterministic from ``seed``). Only vectors in the
    query's bucket (or at Hamming distance <= 1, probing) are scored.
    If ``bucket_col`` already exists (materialized at ingest by
    ``add_lsh_buckets`` with the same seed), it is used directly — on a
    bucket-clustered table the isin predicate prunes at file level.
    """
    dim = len(query_vector)
    hyperplanes = _hyperplanes(dim, planes, seed)

    def bucket_py(vec: list[float]) -> int:
        key = 0
        for i, hp in enumerate(hyperplanes):
            if sum(a * b for a, b in zip(vec, hp)) >= 0:
                key |= 1 << i
        return key

    qb = bucket_py(query_vector)
    probe = [qb] + [qb ^ (1 << i) for i in range(planes)]  # Hamming<=1
    if bucket_col not in df.columns:
        df = add_lsh_buckets(df, dim, planes, seed, vec_col, bucket_col)
    cand = df.filter(F.col(bucket_col).isin(probe))
    return brute_force_cosine_topk(cand, query_vector, k, vec_col, id_col)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    nlist: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "__ivf_cell",
    codebook: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """SemDeDup-style embedding dedup (Abbas et al. 2023): coarse-
    quantize the corpus into IVF cells, then inside each cell mark any
    vector whose cosine to a LOWER-id cellmate reaches ``threshold``.

    Returns ``(id_col, cell, dup_of)`` for every input row — ``dup_of``
    is the smallest qualifying earlier id (null = kept). The rule is
    one-hop (x is a dup of the earliest y it directly matches, whether
    or not y was itself marked) — deterministic and closed-form, the
    same posture as LSH candidate dedup; run the pair set through
    ``dedup.connected_components`` when transitive cluster identity is
    needed.

    Scale shape: the only data-sized shuffles are the two exchanges of
    the cell-keyed self-join; comparisons are quadratic ONLY within a
    cell, and nlist is chosen so cells are executor-sized (SemDeDup
    uses ~100k clusters at web scale — cell population, not corpus,
    bounds the quadratic term; AQE skew-split handles hot cells). The
    codebook is nlist rows on the driver, broadcast as literals.
    Like ``ivf_ann``, the default codebook is the first ``nlist``
    vectors by id (deterministic, oracle-checkable); pass a trained
    one (``train_ivf_codebook``) for real corpora.
    """
    cents = codebook or _default_codebook(df, nlist, vec_col, id_col)
    if cell_col not in df.columns:
        df = assign_ivf_cells(df, cents, vec_col, cell_col)
    # Norms hoisted to a per-ROW column: each vector's norm is folded
    # once instead of once per pair (cells of size c pay 2c^2 extra
    # interpreted folds otherwise). The pair expression stays
    # dot/(na*nb) — bit-identical to _cos_sql, so thresholds are
    # unaffected.
    # Persisted: stamped feeds BOTH self-join sides and the final
    # left join — without it the IVF argmax assignment and the norm
    # fold re-run 3x per row (guide §5 caching rule: reused AND
    # expensive). The caller frees it via dedup.release_cached.
    from pyspark import StorageLevel

    stamped = df.select(
        F.col(id_col),
        F.col(vec_col),
        F.col(cell_col),
        F.expr(_norm_sql(sql_ident(vec_col))).alias("__nrm"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a = stamped.select(
        F.col(id_col).alias("__a"),
        F.col(vec_col).alias("__va"),
        F.col("__nrm").alias("__na"),
        F.col(cell_col).alias("cell"),
    )
    b = stamped.select(
        F.col(id_col).alias("__b"),
        F.col(vec_col).alias("__vb"),
        F.col("__nrm").alias("__nb"),
        F.col(cell_col).alias("cell"),
    )
    sim = f"try_divide({_dot_sql('__va', '__vb')}, (__na * __nb))"
    pairs = a.join(b, "cell").filter(
        f"__b < __a AND round({sim}, 6) >= {sql_num(float(threshold))}"
    )
    dup = pairs.groupBy("__a").agg(F.min("__b").alias("dup_of"))
    from .dedup import _attach_cached

    return _attach_cached(
        a.select("__a", "cell")
        .join(dup, "__a", "left")
        .select(F.col("__a").alias(id_col), "cell", "dup_of"),
        [stamped],
    )


def semantic_dedup_survivors(
    df: DataFrame,
    threshold: float = 0.95,
    nlist: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "__ivf_cell",
    codebook: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """The df-in/df-out form: original rows minus semantic duplicates
    (LEFT-SEMI join on the kept ids, so payload columns stay out of
    the pair computation)."""
    marks = semantic_dedup(
        df, threshold, nlist, vec_col, id_col, cell_col, codebook
    )
    keep = marks.filter(F.col("dup_of").isNull()).select(id_col)
    return df.join(keep, id_col, "left_semi")


# --------------------------------------------------------------- product
# quantization: the memory-compression scale path. At 100 TB of float32
# embeddings, even IVF probes stream full vectors; PQ stores an m-byte
# code per vector (64-d float32 -> 4 bytes at m=4, 64x smaller) and
# scans codes with table lookups. Public method: Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search".
def pq_train_codebooks(
    df: DataFrame,
    m: int = 4,
    ksub: int = 8,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks with distributed L2 k-means.
    The vector is split into ``m`` equal slices; each slice gets its
    own ``ksub``-centroid codebook. Returns ``codebooks[s][j]`` = the
    j-th centroid of subspace s.

    Same scale shape as ``train_ivf_codebook``: per round, assignment
    is a JVM argmin over broadcast literal centroids (no shuffle) and
    the update is one shuffle keyed by (subspace, code, position); all
    ``m`` subspaces train in the SAME jobs (subspace is just another
    grouping column), so the round count doesn't multiply by m. The
    driver holds only the m x ksub x dim/m codebook. Init is
    deterministic: subvectors of the ``ksub`` smallest-xxhash64(id)
    vectors.
    """
    dim = len(df.select(vec_col).limit(1).collect()[0][0])
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    seeds = _hash_seeds(df, ksub, vec_col, id_col)
    books = [[r[s * dsub : (s + 1) * dsub] for r in seeds] for s in range(m)]
    for _ in range(iters):
        enc = pq_encode(df, books, vec_col=vec_col, code_col="__pq")
        # one explode covers every subspace: (subspace, code, subvector)
        subs = enc.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda s: F.struct(
                        s.alias("sub"),
                        F.element_at(F.col("__pq"), s + 1).alias("code"),
                        F.slice(F.col(vec_col), s * dsub + 1, dsub).alias("sv"),
                    ),
                )
            ).alias("z")
        ).select("z.sub", "z.code", "z.sv")
        updated = _centroid_means(subs, ["sub", "code"], "sv")
        books = [
            [updated.get((s, j), books[s][j]) for j in range(ksub)]
            for s in range(m)
        ]
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Stamp each vector with its PQ codes: ``code_col`` is an
    array<int> of length m, code s = argmin L2 distance between the
    s-th vector slice and subspace s's centroids (distances rounded to
    6 decimals; ties -> lowest code, so the encoding is reproducible
    across engines and partitionings). Pure JVM expressions — encoding
    is a projection, no shuffle, and composes with a clustered write
    for at-rest compression.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])

    def sub_dist(s: int, j: int) -> Column:
        sl = F.slice(F.col(vec_col), s * dsub + 1, dsub)
        cent = lit_double_array(codebooks[s][j])
        d = F.zip_with(
            sl, cent, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)
        )
        return F.round(F.aggregate(d, F.lit(0.0), lambda a, v: a + v), 6)

    def sub_code(s: int) -> Column:
        dists = F.array(*[sub_dist(s, j) for j in range(len(codebooks[s]))])
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    codes = F.array(*[sub_code(s) for s in range(m)])
    return df.withColumn(code_col, codes)


def _cell_centroid_expr(
    codebook: list[tuple[int, list[float]]], cell_col: str
) -> Column:
    """Per-row IVF centroid lookup: a literal cell->centroid map
    (nlist entries, driver-small by construction) indexed by the
    row's cell id — pure JVM, no join."""
    pairs: list[Column] = []
    for cid, c in codebook:
        pairs.append(F.lit(int(cid)))
        pairs.append(lit_double_array(c))
    return F.element_at(F.create_map(*pairs), F.col(cell_col))


def _residual_expr(
    vec_col: str,
    codebook: list[tuple[int, list[float]]],
    cell_col: str,
) -> Column:
    """vec - centroid[cell]: the quantity residual-PQ codebooks are
    trained on and encode (Jegou et al. 2011 IVFADC)."""
    return F.zip_with(
        F.col(vec_col),
        _cell_centroid_expr(codebook, cell_col),
        lambda x, c: x.cast("double") - c,
    )


def _pq_encode_indexed(
    stamped: DataFrame,
    codebook: list[tuple[int, list[float]]],
    pq_codebooks: list[list[list[float]]],
    vec_col: str,
    cell_col: str = "ivf_cell",
    residual: bool = False,
) -> DataFrame:
    """PQ-stamp rows that already carry their IVF cell, in either
    raw-vector or residual space — the one encode path write/append/
    stream all share, so an index can never mix spaces."""
    if not residual:
        return pq_encode(stamped, pq_codebooks, vec_col=vec_col)
    return pq_encode(
        stamped.withColumn(
            "__res", _residual_expr(vec_col, codebook, cell_col)
        ),
        pq_codebooks,
        vec_col="__res",
    ).drop("__res")


def pq_pack_codes(code_col: str = "pq_codes") -> Column:
    """Pack an array of m<=8 codes (ksub<=256) into one DECIMAL(38,0)
    — the compact at-rest form. DECIMAL, not BIGINT: 8 codes x 8 bits
    need 64 bits, and a signed long has 63 — a first code >= 128
    would wrap negative. DECIMAL(38,0) holds 256^8 with 18 digits to
    spare and stores as a fixed 16-byte parquet value; cast the
    result to long yourself only when you KNOW m*ceil(log2(ksub)) <=
    63 (e.g. m=7 at ksub=256)."""
    return F.aggregate(
        F.col(code_col),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, c: (acc * 256 + c.cast("decimal(38,0)")).cast(
            "decimal(38,0)"
        ),
    )


def pq_search(
    df_encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vector: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query's per-subspace
    distance table (m x ksub floats) is computed on the driver,
    embedded as literal arrays, and each row's approximate distance is
    m table lookups + a fixed-order sum — no vector column is read at
    all, which is the entire point: the scan touches only the m-byte
    codes. orderBy+limit plans as TakeOrderedAndProject.

    Exact distances can be recovered for the top candidates by
    re-ranking the k results against the raw vectors (a k-row join) —
    standard PQ practice when recall@k matters.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    if len(query_vector) != m * dsub:
        raise ValueError(
            f"query_vector has dim {len(query_vector)}, codebooks expect "
            f"{m * dsub} (m={m} x dsub={dsub})"
        )
    tables = []
    for s in range(m):
        qs = [float(x) for x in query_vector[s * dsub : (s + 1) * dsub]]
        tables.append(
            [
                round(sum((a - b) ** 2 for a, b in zip(qs, c)), 6)
                for c in codebooks[s]
            ]
        )
    dist: Column | None = None
    for s in range(m):
        t = lit_double_array(tables[s])
        term = F.element_at(t, F.element_at(F.col(code_col), s + 1) + 1)
        dist = term if dist is None else dist + term
    return (
        df_encoded.select(F.col(id_col), F.round(dist, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def ivf_pq_search(
    df_encoded: DataFrame,
    ivf_codebook: list[tuple[int, list[float]]],
    pq_codebooks: list[list[list[float]]],
    query_vector: list[float],
    k: int = 10,
    nprobe: int = 2,
    *,
    id_col: str = "vec_id",
    cell_col: str = "__ivf_cell",
    code_col: str = "pq_codes",
    rerank: DataFrame | None = None,
    vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """The FAISS-IVFPQ composition, from this module's own pieces:
    IVF cell probe (file-level pruning on a cell-clustered table) ->
    PQ asymmetric-distance scan over the probed cells (reads only the
    m-byte codes) -> optional exact re-rank of the short candidate
    list against the raw vectors.

    ``df_encoded`` must carry ``cell_col`` (from ``assign_ivf_cells``)
    and ``code_col`` (from ``pq_encode``) — both stamped at ingest.
    With ``rerank`` (a (id, vec) frame, usually the same table), the
    top ``4*k`` ADC candidates are joined back to their raw vectors
    and exactly re-scored — a k-row join, the standard recall
    recovery. This is the 100 TB posture: the big scan touches codes
    of nprobe/nlist of the corpus; full vectors are read for tens of
    rows only. ``residual=True`` scores codes trained/encoded in
    residual space (``write_ann_index(pq_residual=True)``) — the
    query's per-cell residual drives the ADC tables.
    """
    probe_cells = _nearest_cells(query_vector, ivf_codebook, nprobe)
    depth = k if rerank is None else 4 * k
    if residual:
        # residual space is PER CELL: each probed cell scores against
        # the query's residual to THAT cell's centroid (IVFADC), so
        # the ADC scan is one pq_search per probed cell unioned —
        # still a single job, nprobe branch plans over disjoint
        # partition-pruned scans
        cents = {cid: c for cid, c in ivf_codebook}
        per_cell = []
        for cid in probe_cells:
            qr = [
                float(q) - float(c)
                for q, c in zip(query_vector, cents[cid])
            ]
            per_cell.append(
                pq_search(
                    df_encoded.filter(F.col(cell_col) == cid),
                    pq_codebooks,
                    qr,
                    k=depth,
                    id_col=id_col,
                    code_col=code_col,
                )
            )
        adc = per_cell[0]
        for nxt in per_cell[1:]:
            adc = adc.unionByName(nxt)
        adc = adc.orderBy(
            F.col("adc_dist").asc(), F.col(id_col)
        ).limit(depth)
    else:
        cand = df_encoded.filter(F.col(cell_col).isin(probe_cells))
        adc = pq_search(
            cand,
            pq_codebooks,
            query_vector,
            k=depth,
            id_col=id_col,
            code_col=code_col,
        )
    if rerank is None:
        return adc
    return brute_force_cosine_topk(
        rerank.join(adc.select(id_col), id_col, "left_semi"),
        query_vector,
        k,
        vec_col,
        id_col,
    )


def mine_hard_negatives(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    positives_df: DataFrame | None = None,
    k: int = 5,
    query_id_col: str = "query_id",
    corpus_id_col: str = "doc_id",
    query_vec_col: str = "embedding",
    corpus_vec_col: str = "embedding",
    max_sim: float | None = None,
    method: str = "broadcast",
    codebook: list[tuple[int, list[float]]] | None = None,
    nprobe: int = 2,
    cell_col: str = "__ivf_cell",
) -> DataFrame:
    """Hard-negative mining for embedding/retriever training (the
    ANCE/DPR recipe): for every query vector, the ``k`` most
    cosine-similar corpus items that are NOT its labeled positives —
    the negatives that actually move a contrastive loss, vs the
    uninformative random ones. Returns
    ``(query_id, doc_id, cos_sim, neg_rank)``.

    ``positives_df`` (query_id, doc_id pairs) is excluded by an
    anti-join BEFORE ranking, so a filtered-out positive never eats a
    negative slot. ``max_sim`` additionally drops candidates at or
    above the cap — the standard false-negative guard: the nearest
    non-labeled neighbors of a query are disproportionately unlabeled
    POSITIVES, and training on them as negatives poisons the loss.

    Two physical strategies:

    - ``method="broadcast"`` (exact): the query table broadcasts and
      cross-joins the corpus — per-executor scoring with NO shuffle of
      the corpus; the per-query top-k is one window over the scored
      pairs. Right whenever queries fit in a broadcast (the usual
      case: thousands of training queries vs a huge corpus).
    - ``method="ivf"``: both sides coarse-quantize against a shared
      ``codebook`` (train with ``train_ivf_codebook``); each query
      probes its ``nprobe`` nearest cells and meets only those
      candidates through a (cell) equi-join. Approximate with the
      usual IVF recall, but pair volume drops from Q x N to
      Q x N x nprobe/nlist — the 100 TB path when the query side is
      itself corpus-sized. A pre-materialized ``cell_col`` on the
      corpus (ingest-time ``assign_ivf_cells``) is reused and prunes
      at file level on a cell-clustered table.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = queries_df.select(
        F.col(query_id_col), F.col(query_vec_col).alias("__qvec")
    )
    c = corpus_df.select(
        F.col(corpus_id_col),
        F.col(corpus_vec_col).alias("__cvec"),
        *([F.col(cell_col)] if cell_col in corpus_df.columns else []),
    )
    if method == "broadcast":
        pairs = c.crossJoin(F.broadcast(q))
    elif method == "ivf":
        if not codebook:
            raise ValueError(
                "method='ivf' needs a shared codebook "
                "(train_ivf_codebook) so both sides quantize identically"
            )
        if cell_col not in c.columns:
            c = assign_ivf_cells(
                c.withColumnRenamed("__cvec", corpus_vec_col),
                codebook,
                corpus_vec_col,
                cell_col,
            ).withColumnRenamed(corpus_vec_col, "__cvec")
        q = q.withColumn(
            cell_col, F.explode(_probe_cells("__qvec", codebook, nprobe))
        )
        pairs = c.join(q, cell_col).drop(cell_col)
    else:
        raise ValueError(f"method must be broadcast|ivf, got {method!r}")

    sim = F.expr(f"round({_cos_sql('__qvec', '__cvec')}, 6)")
    pairs = pairs.select(
        query_id_col, corpus_id_col, sim.alias("cos_sim")
    )
    if max_sim is not None:
        pairs = pairs.filter(F.col("cos_sim") < float(max_sim))
    if positives_df is not None:
        pairs = pairs.join(
            positives_df.select(query_id_col, corpus_id_col),
            [query_id_col, corpus_id_col],
            "left_anti",
        )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id_col)
    )
    return (
        pairs.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
    )


def ann_recall_report(
    queries_df: DataFrame,
    corpus_df: DataFrame | None = None,
    codebook: list[tuple[int, list[float]]] | None = None,
    k: int = 10,
    nprobes: tuple[int, ...] = (1, 2, 4),
    query_id_col: str = "query_id",
    corpus_id_col: str = "doc_id",
    query_vec_col: str = "embedding",
    corpus_vec_col: str = "embedding",
    cell_col: str = "__ivf_cell",
    index: dict | None = None,
) -> DataFrame:
    """Recall@k tuning sweep for the IVF path — the measurement that
    turns "pick nlist/nprobe" from folklore into a number. For each
    ``nprobe`` value, the IVF batch retriever's top-k per query is
    compared against the exact broadcast ground truth; returns one row
    per sweep point: ``(nprobe, n_queries, recall_at_k)`` where recall
    is the fraction of true top-k pairs the approximate path found
    (micro-averaged over queries).

    Both retrievers are ``mine_hard_negatives`` with no positives —
    i.e. pure batch top-k retrieval — so the measured plans are
    EXACTLY the production plans, not a harness re-implementation.
    Cost: one exact pass (queries broadcast over the corpus — the
    same price any ground truth costs) plus one cell-join pass per
    sweep point; run it on a query/corpus SAMPLE at 100 TB, the
    recall estimate converges long before the corpus does. Ranking
    ties are broken identically on both sides (sim desc, id asc at
    6-decimal rounding), so recall 1.0 is achievable and
    ``nprobe = nlist`` must achieve it (probing every cell IS the
    exact scan) — the test pins that identity.

    Pass ``index`` (a ``read_ann_index`` dict) to sweep the PERSISTED
    artifact instead of an ad-hoc corpus: the corpus, codebook, id/vec
    column names, and the stored ``ivf_cell`` column all come from the
    index, so the sweep measures the build-once/query-many retrieval
    plans — including the directory-level cell pruning — not a live
    re-quantization.
    """
    if index is not None:
        params = index["params"]
        corpus_df = index["df"]
        codebook = index["codebook"]
        corpus_id_col = params["id_col"]
        corpus_vec_col = params["vec_col"]
        cell_col = "ivf_cell"
    if corpus_df is None or codebook is None:
        raise ValueError(
            "ann_recall_report needs corpus_df+codebook, or index="
        )

    def retrieve(**kw):
        return mine_hard_negatives(
            queries_df,
            corpus_df,
            None,
            k,
            query_id_col=query_id_col,
            corpus_id_col=corpus_id_col,
            query_vec_col=query_vec_col,
            corpus_vec_col=corpus_vec_col,
            **kw,
        )

    return _recall_sweep(
        queries_df,
        [query_id_col, corpus_id_col],
        retrieve(method="broadcast"),
        "nprobe",
        nprobes,
        lambda np_: retrieve(
            method="ivf", codebook=codebook, nprobe=np_, cell_col=cell_col
        ),
    )


def _recall_sweep(
    queries_df: DataFrame,
    keys: list[str],
    truth: DataFrame,
    point_col: str,
    points,
    approx,
) -> DataFrame:
    """Recall@k of ``approx(point)`` against the exact ``truth`` pairs
    for every sweep point: the truth is persisted and counted once,
    each point costs one semi-join count. Returns one row per point:
    ``(<point_col>, n_queries, recall_at_k)`` — the fraction of truth
    pairs (on ``keys``) the approximate retrieval found,
    micro-averaged over queries."""
    from pyspark import StorageLevel

    truth = truth.select(*keys).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        total = truth.count()
        n_queries = queries_df.count()
        rows = []
        for p in points:
            hit = (
                approx(int(p))
                .select(*keys)
                .join(truth, keys, "left_semi")
                .count()
            )
            rows.append(
                (int(p), int(n_queries), round(hit / total, 6) if total else 0.0)
            )
    finally:
        truth.unpersist()
    return queries_df.sparkSession.createDataFrame(
        rows, f"{point_col} int, n_queries bigint, recall_at_k double"
    )


def write_ann_index(
    df: DataFrame,
    path: str,
    *,
    nlist: int = 8,
    ivf_iters: int = 3,
    pq_m: int | None = None,
    pq_ksub: int = 8,
    pq_iters: int = 3,
    pq_residual: bool = False,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebook: list[tuple[int, list[float]]] | None = None,
) -> dict:
    """Materialize a persistent ANN index: train (or take) the IVF
    codebook, stamp every vector with its cell, optionally PQ-encode,
    and write the table PARTITIONED BY cell — a probe's
    ``ivf_cell IN (...)`` filter then prunes at the directory level,
    so each query reads ~nprobe/nlist of the files (the build-once /
    query-many posture; same artifact idiom as ``write_dedup_index``).

    The codebooks and build parameters are written as
    ``_ann_params.json`` inside the directory (and returned):
    searching with a different quantizer than the one that clustered
    the files would silently probe the wrong cells, so
    ``read_ann_index`` restores the exact artifacts. Codebooks are
    driver-small by construction (nlist x dim + m x ksub x dim/m
    floats), which is what makes the JSON sidecar the right home.

    ``pq_residual=True`` trains and encodes PQ in RESIDUAL space
    (vector minus its cell centroid — the FAISS-IVFADC composition,
    Jegou et al. 2011): residuals are smaller and more isotropic than
    raw vectors, so the same m x ksub budget quantizes them with far
    less error, which is higher ADC recall for free at query time.
    The flag persists in the sidecar; every encode path (append,
    streaming ingest) and both search paths honor it, so an index can
    never mix spaces.
    """
    import json

    from ..io.ingest import hadoop_fs

    cb = codebook or train_ivf_codebook(
        df, nlist=nlist, iters=ivf_iters, vec_col=vec_col, id_col=id_col
    )
    stamped = assign_ivf_cells(
        df.select(id_col, vec_col), cb, vec_col=vec_col,
        cell_col="ivf_cell",
    )
    pq_cbs = None
    if pq_m is not None:
        if pq_residual:
            train_src = stamped.withColumn(
                "__res", _residual_expr(vec_col, cb, "ivf_cell")
            )
            pq_cbs = pq_train_codebooks(
                train_src, m=pq_m, ksub=pq_ksub, iters=pq_iters,
                vec_col="__res", id_col=id_col,
            )
        else:
            pq_cbs = pq_train_codebooks(
                df, m=pq_m, ksub=pq_ksub, iters=pq_iters,
                vec_col=vec_col, id_col=id_col,
            )
        stamped = _pq_encode_indexed(
            stamped, cb, pq_cbs, vec_col, residual=pq_residual
        )
    stamped.write.partitionBy("ivf_cell").mode("overwrite").parquet(path)

    params = {
        "nlist": len(cb),
        "vec_col": vec_col,
        "id_col": id_col,
        "pq_m": pq_m,
        "pq_ksub": pq_ksub if pq_m is not None else None,
        "pq_residual": bool(pq_residual) if pq_m is not None else None,
        "codebook": [[cid, list(map(float, c))] for cid, c in cb],
        "pq_codebooks": pq_cbs,
    }
    jvm, fs, jpath = hadoop_fs(
        df.sparkSession, path.rstrip("/") + "/_ann_params.json"
    )
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(json.dumps(params).encode("utf-8")))
    finally:
        stream.close()
    return params


def read_ann_index(spark, path: str, updates_dir: str | None = None) -> dict:
    """Load a ``write_ann_index`` artifact:
    ``{"df", "codebook", "pq_codebooks", "params"}`` — the DataFrame
    keeps its ``ivf_cell`` partition column so probe filters prune at
    the directory level; the codebooks come back exactly as written
    (floats round-trip through JSON bit-for-bit).

    ``updates_dir``: also union the per-batch increments written by
    ``streaming.ann_index_stream`` (partitioned ``batch_id/ivf_cell``
    — ``ivf_cell`` stays a partition column there too, so probe
    filters prune BOTH scans at the directory level). Missing or
    empty updates dir is fine: the index is just the base artifact.
    """
    import json

    from ..io.ingest import hadoop_fs

    df = spark.read.parquet(path)
    if updates_dir is not None:
        _, ufs, ujpath = hadoop_fs(spark, updates_dir)
        if ufs.exists(ujpath):
            # an existing-but-empty directory (stream started, no
            # batch committed yet) has no parquet to infer a schema
            # from — treat it like a missing dir, as documented
            try:
                updates = spark.read.parquet(updates_dir)
            except Exception as exc:  # AnalysisException: unable to infer
                if "infer" not in str(exc).lower():
                    raise
                updates = None
            if updates is not None:
                df = df.unionByName(updates.drop("batch_id"))
    jvm, fs, jpath = hadoop_fs(spark, path.rstrip("/") + "/_ann_params.json")
    if not fs.exists(jpath):
        raise ValueError(f"{path} has no _ann_params.json sidecar")
    stream = fs.open(jpath)
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(
        stream, baos, spark._jsc.hadoopConfiguration(), True
    )
    params = json.loads(bytes(baos.toByteArray()).decode("utf-8"))
    codebook = [(int(cid), list(c)) for cid, c in params["codebook"]]
    return {
        "df": df,
        "codebook": codebook,
        "pq_codebooks": params.get("pq_codebooks"),
        "params": params,
    }


def ann_index_search(
    index: dict,
    query_vector: list[float],
    k: int = 10,
    nprobe: int = 2,
    exact_rerank: bool = True,
) -> DataFrame:
    """Query a ``read_ann_index`` artifact: probe the ``nprobe``
    nearest cells (driver arithmetic on the tiny codebook, the filter
    prunes partitions), then either the exact cosine top-k over the
    probed vectors or — when the index was PQ-encoded — the ADC code
    scan with exact re-rank against the stored vectors. Returns
    ``(id, cos_sim)`` (ADC-scored rows return ``(id, adc_sim)`` when
    ``exact_rerank=False``)."""
    params = index["params"]
    id_col, vec_col = params["id_col"], params["vec_col"]
    df = index["df"]
    if index.get("pq_codebooks"):
        return ivf_pq_search(
            df,
            index["codebook"],
            index["pq_codebooks"],
            query_vector,
            k=k,
            nprobe=nprobe,
            id_col=id_col,
            cell_col="ivf_cell",
            rerank=(
                df.select(id_col, vec_col) if exact_rerank else None
            ),
            vec_col=vec_col,
            residual=bool(params.get("pq_residual")),
        )
    return ivf_ann(
        df,
        query_vector,
        k,
        nprobe=nprobe,
        vec_col=vec_col,
        id_col=id_col,
        cell_col="ivf_cell",
        codebook=index["codebook"],
    )


def _ann_batch_pq(
    index: dict,
    queries_df: DataFrame,
    k: int,
    nprobe: int,
    query_id_col: str,
    query_vec_col: str,
    prune: bool,
    exact_rerank: bool,
    rerank_depth: int | None = None,
) -> DataFrame:
    """PQ-ADC scoring for the batch index-search path: each query row
    builds its m per-subspace distance TABLES (ksub floats each) once
    as JVM array expressions against the broadcast-literal codebooks;
    candidates met through the cell equi-join are then scored with m
    table lookups + a fixed sum — the big scan reads ONLY the m-byte
    ``pq_codes`` (codes-only ReadSchema, plan-pinned), never the full
    vectors. ``exact_rerank=True`` re-scores each query's top ``4*k``
    ADC candidates against the stored vectors (a candidate-sized
    join — tens of rows per query), matching the single-query
    ``ivf_pq_search`` semantics and returning ``cos_sim``;
    ``exact_rerank=False`` returns the raw ``adc_dist`` ranking."""
    from pyspark.sql import Window

    params = index["params"]
    id_col, vec_col = params["id_col"], params["vec_col"]
    codebook = index["codebook"]
    pq_cbs = index["pq_codebooks"]
    m, ksub, dsub = len(pq_cbs), len(pq_cbs[0]), len(pq_cbs[0][0])
    corpus = index["df"]

    residual = bool(params.get("pq_residual"))
    q = queries_df.select(
        F.col(query_id_col), F.col(query_vec_col).alias("__qvec")
    ).withColumn("__cells", _probe_cells("__qvec", codebook, nprobe))

    def _table(cb, base, src):
        # closure factory: PySpark HOF lambdas must take exactly
        # their positional arity (default args break detection)
        def per_centroid(ci):
            def step(acc, j):
                return acc + F.pow(
                    F.element_at(src, j + F.lit(base))
                    - F.element_at(cb, ci * dsub + j + 1),
                    F.lit(2.0),
                )

            return F.aggregate(
                F.sequence(F.lit(0), F.lit(dsub - 1)), F.lit(0.0), step
            )

        return F.transform(
            F.sequence(F.lit(0), F.lit(ksub - 1)), per_centroid
        )

    def _add_tables(frame, src):
        for s in range(m):
            cb = F.array(
                *[F.lit(float(x)) for c in pq_cbs[s] for x in c]
            )
            frame = frame.withColumn(
                f"__t{s}", _table(cb, s * dsub + 1, src)
            )
        return frame

    if residual:
        # residual space is per cell: tables come AFTER the probe
        # explode, from (query - centroid[cell]) — nprobe table sets
        # per query instead of one, amortized over that cell's
        # candidates exactly as in the single-query IVFADC path
        qx = q.withColumn("ivf_cell", F.explode("__cells")).drop(
            "__cells"
        )
        qx = _add_tables(
            qx.withColumn(
                "__qres", _residual_expr("__qvec", codebook, "ivf_cell")
            ),
            F.col("__qres"),
        ).drop("__qres")
    else:
        q = _add_tables(q, F.col("__qvec"))
        qx = q.withColumn("ivf_cell", F.explode("__cells")).drop(
            "__cells"
        )
    cand = corpus.select(id_col, "ivf_cell", "pq_codes")
    if prune:
        cells = [
            int(r["c"])
            for r in qx.select(F.col("ivf_cell").alias("c"))
            .distinct()
            .collect()
        ]
        cand = cand.filter(F.col("ivf_cell").isin(cells))
    dist = None
    for s in range(m):
        term = F.element_at(
            F.col(f"__t{s}"), F.element_at(F.col("pq_codes"), s + 1) + 1
        )
        dist = term if dist is None else dist + term
    scored = cand.join(qx, "ivf_cell").select(
        query_id_col, id_col, F.round(dist, 6).alias("adc_dist")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col)
    )
    depth = (
        (4 * k if rerank_depth is None else rerank_depth)
        if exact_rerank
        else k
    )
    if exact_rerank and depth < k:
        raise ValueError(f"rerank_depth {depth} < k {k}")
    top = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= depth
    )
    if not exact_rerank:
        return top
    vecs = corpus.select(id_col, vec_col)
    re = (
        top.select(query_id_col, id_col)
        .join(vecs, id_col)
        .join(q.select(query_id_col, "__qvec"), query_id_col)
    )
    sim = F.expr(f"round({_cos_sql(sql_ident(vec_col), '__qvec')}, 6)")
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        re.select(query_id_col, id_col, sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def ann_index_search_batch(
    index: dict,
    queries_df: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    prune: bool = True,
    exact_rerank: bool = True,
    score: str = "auto",
    rerank_depth: int | None = None,
) -> DataFrame:
    """Batch retrieval against a persisted ``write_ann_index``
    artifact — the build-once/query-MANY entry point that
    ``ann_index_search`` (one driver-side vector) doesn't cover.
    Every query probes its ``nprobe`` nearest stored cells and meets
    only those candidates through the same cell equi-join machinery
    as ``mine_hard_negatives(method="ivf")``. Flat indexes score
    exact cosine over the stored vectors; PQ-encoded indexes score
    ADC over the stored CODES — the scan's ReadSchema carries only
    the m-byte codes, never the vectors (plan-pinned) — then
    exact-rerank each query's top ``4*k`` candidates against the
    stored vectors (``exact_rerank=True``, the default, matching the
    single-query ``ann_index_search`` semantics; ``False`` returns
    the raw ``adc_dist`` ranking). Returns
    ``(query_id, <id_col>, cos_sim, rank)`` with rank 1..k per query
    (``adc_dist`` instead of ``cos_sim`` for unreranked PQ).

    ``score``: ``"auto"`` (default) picks ADC when the index carries
    PQ codes, flat otherwise; ``"flat"`` forces exact cosine over the
    stored vectors even on a PQ index (exact verification at small
    scale — reads the full vector column); ``"adc"`` demands codes
    and raises on a flat index. ``rerank_depth`` overrides the 4*k
    ADC candidate depth fed to the exact rerank — the recall/IO knob
    ``pq_rerank_depth_report`` measures.

    ``prune=True`` first computes the union of probed cells — one
    tiny job whose result is at most ``nlist`` integers on the driver
    — and statically filters the index scan with
    ``ivf_cell IN (...)``, which lands in the parquet scan's
    PartitionFilters (directory-level pruning, pinned by a plan
    test). At 100 TB this is the difference between listing/reading
    every cell directory and only the probed ones; the per-query
    candidate narrowing still happens in the equi-join.
    """
    params = index["params"]
    id_col, vec_col = params["id_col"], params["vec_col"]
    corpus = index["df"]
    codebook = index["codebook"]
    if score not in ("auto", "flat", "adc"):
        raise ValueError(f"score must be auto|flat|adc, got {score!r}")
    if score == "adc" and not index.get("pq_codebooks"):
        raise ValueError("score='adc' needs a PQ-encoded index")
    if score != "flat" and index.get("pq_codebooks"):
        return _ann_batch_pq(
            index,
            queries_df,
            k,
            nprobe,
            query_id_col,
            query_vec_col,
            prune,
            exact_rerank,
            rerank_depth,
        )
    if prune:
        cells = [
            r["c"]
            for r in queries_df.select(
                F.explode(
                    _probe_cells(query_vec_col, codebook, nprobe)
                ).alias("c")
            )
            .distinct()
            .collect()
        ]
        corpus = corpus.filter(
            F.col("ivf_cell").isin([int(c) for c in cells])
        )
    out = mine_hard_negatives(
        queries_df,
        corpus,
        None,
        k,
        query_id_col=query_id_col,
        corpus_id_col=id_col,
        query_vec_col=query_vec_col,
        corpus_vec_col=vec_col,
        method="ivf",
        codebook=codebook,
        nprobe=nprobe,
        cell_col="ivf_cell",
    )
    return out.withColumnRenamed("neg_rank", "rank")


def pq_rerank_depth_report(
    index: dict,
    queries_df: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    depths: tuple[int, ...] = (10, 20, 40, 80),
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k vs ADC rerank depth for a PQ index — the second
    tuning sweep the batch retriever needs (``ann_recall_report``
    sweeps nprobe; this sweeps how many ADC candidates the exact
    rerank re-scores). Ground truth is the same probed-cell retrieval
    with ``score="flat"`` (exact cosine over everything the probe can
    see), so the measured loss is PURELY quantization-ordering loss —
    deeper rerank monotonically recovers it, and depth >= the probed
    candidate count pins recall 1.0 exactly. Returns one row per
    depth: ``(rerank_depth, n_queries, recall_at_k)``."""
    if not index.get("pq_codebooks"):
        raise ValueError("pq_rerank_depth_report needs a PQ-encoded index")

    def retrieve(**kw):
        return ann_index_search_batch(
            index,
            queries_df,
            k=k,
            nprobe=nprobe,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            **kw,
        )

    return _recall_sweep(
        queries_df,
        [query_id_col, index["params"]["id_col"]],
        retrieve(score="flat"),
        "rerank_depth",
        depths,
        lambda d: retrieve(rerank_depth=d),
    )


def append_to_ann_index(index_path: str, new_df: DataFrame) -> int:
    """Incrementally grow a ``write_ann_index`` artifact: assign the
    NEW vectors to cells with the INDEX'S OWN quantizers (never
    retrain — a new codebook would orphan the files already
    clustered), PQ-encode if the index carries codebooks, and append
    into the same cell partitions. One projection + one append write;
    existing files are untouched, so queries keep pruning exactly as
    before. Returns the number of appended rows.

    Re-train and rebuild (a fresh ``write_ann_index``) when the data
    distribution has drifted far from the codebook — appends keep the
    index CORRECT (assignment uses the stored quantizer) but cell
    balance degrades as the distribution moves.
    """
    spark = new_df.sparkSession
    idx = read_ann_index(spark, index_path)
    params = idx["params"]
    id_col, vec_col = params["id_col"], params["vec_col"]
    stamped = assign_ivf_cells(
        new_df.select(id_col, vec_col), idx["codebook"], vec_col=vec_col,
        cell_col="ivf_cell",
    )
    if idx.get("pq_codebooks"):
        stamped = _pq_encode_indexed(
            stamped,
            idx["codebook"],
            idx["pq_codebooks"],
            vec_col,
            residual=bool(params.get("pq_residual")),
        )
    # persist around count+write: without it the cell-assignment (and
    # optional PQ-encode) job would execute twice per append
    from pyspark import StorageLevel

    stamped = stamped.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = stamped.count()
        stamped.write.partitionBy("ivf_cell").mode("append").parquet(
            index_path
        )
    finally:
        stamped.unpersist()
    return n


def compact_ann_index(
    spark, index_path: str, updates_dir: str | None = None
) -> int:
    """Fold ``streaming.ann_index_stream``'s per-batch increments into
    the base PARTITIONED-BY-cell index layout, bounding the file count
    a long-running ingest would otherwise grow without limit. Nothing
    is re-stamped — cells and PQ codes were assigned with the index's
    own quantizers at ingest — the increments are just repartitioned
    by cell (one compacted file per cell instead of one per
    batch x cell) and appended into the base cell directories.

    Crash-safe exactly-once, three idempotent phases:

    1. The whole updates dir is RENAMED to ``<updates_dir>.compacting``
       (one atomic metadata op — a concurrent micro-batch commits
       either before the rename, and is compacted, or after,
       recreating a fresh updates dir for the next cycle).
    2. The compacted rows are written to ``staging/_folded_out``
       (overwrite mode), and a ``_folded.<row_count>`` marker is
       created when that job commits. Until the marker exists nothing
       has touched the base, so a crash anywhere in phase 2 just
       re-runs it — the overwrite replaces any partial output
       wholesale. The count in the marker name is what the function
       returns, so a crash-resume in phase 3 still reports the full
       cycle total.
    3. Each ``_folded_out`` part file is MOVED into its base cell
       directory by filesystem rename — atomic per file, and a moved
       file is gone from ``_folded_out``, so a crash mid-phase-3
       resumes moving only the remainder; nothing is ever appended
       twice. Staging is deleted last.

    Default ``updates_dir`` is ``<index_path>_updates``.

    Run at stream quiesce points (between ``ann_index_stream`` runs or
    after stop): compacting a batch the stopped stream would RETRY on
    restart would double it, exactly as for any at-least-once sink.
    Returns the number of rows folded into the base (0 when there was
    nothing to compact)."""
    from ..io.ingest import hadoop_fs

    updates_dir = updates_dir or index_path.rstrip("/") + "_updates"
    jvm, fs, upath = hadoop_fs(spark, updates_dir)
    staging = updates_dir.rstrip("/") + ".compacting"
    _, _, spath = hadoop_fs(spark, staging)
    folded_out = staging + "/_folded_out"
    if not fs.exists(spath):
        if not fs.exists(upath):
            return 0
        # Hadoop rename reports most failures by returning False
        # (HDFS) or raising FileNotFound (local fs copy fallback): a
        # failed claim means another compactor took the updates dir
        # between our exists() and rename() — back off and let the
        # owner finish rather than racing it into phase 2/3.
        try:
            claimed = fs.rename(upath, spath)
        except Exception:
            claimed = False
            if fs.exists(upath) or not fs.exists(spath):
                raise  # a real failure, not a lost claim
        if not claimed:
            return 0
    Path = jvm.org.apache.hadoop.fs.Path
    # phase 2: compact into the staging-local output (idempotent —
    # the base is untouched until the marker exists). The folded row
    # count is persisted IN the marker name (``_folded.<n>``) so a
    # crash-resume in phase 3 still reports the true cycle total, not
    # just the unmoved remainder.
    marker = _folded_marker(fs, jvm, staging)
    if marker is None:
        try:
            inc = spark.read.parquet(staging)
        except Exception as exc:  # empty dir: no parquet to infer from
            if "infer" not in str(exc).lower():
                raise
            inc = None
        n = 0
        if inc is not None:
            (
                inc.drop("batch_id")
                .repartition("ivf_cell")
                .write.partitionBy("ivf_cell")
                .mode("overwrite")
                .parquet(folded_out)
            )
            n = spark.read.parquet(folded_out).count()
        fs.create(Path(staging + "/_folded.%d" % n), True).close()
    else:
        n = marker
    # phase 3: move part files into the base cell dirs (atomic per
    # file; re-runs move only what remains)
    _, _, fopath = hadoop_fs(spark, folded_out)
    if fs.exists(fopath):
        for cell_dir in fs.listStatus(fopath):
            if not cell_dir.isDirectory():
                continue
            cell_name = cell_dir.getPath().getName()
            if not cell_name.startswith("ivf_cell="):
                continue
            target = Path(index_path.rstrip("/") + "/" + cell_name)
            fs.mkdirs(target)
            for f in fs.listStatus(cell_dir.getPath()):
                name = f.getPath().getName()
                if name.endswith(".parquet"):
                    if not fs.rename(f.getPath(), Path(target, name)):
                        # a silent move failure must NOT fall through
                        # to the staging delete below — that would
                        # drop these index rows permanently.
                        raise RuntimeError(
                            "compact_ann_index: rename of %s into %s "
                            "failed; staging kept for resume"
                            % (name, cell_name)
                        )
    fs.delete(spath, True)
    return n


def _folded_marker(fs, jvm, staging: str) -> int | None:
    """Return the folded-row count persisted by phase 2's
    ``_folded.<n>`` marker, or None when phase 2 has not committed.
    A bare legacy ``_folded`` marker reads as count-unknown 0 (the
    pre-r13 layout, preserved so an in-flight staging dir resumes)."""
    Path = jvm.org.apache.hadoop.fs.Path
    spath = Path(staging)
    if not fs.exists(spath):
        return None
    for st in fs.listStatus(spath):
        name = st.getPath().getName()
        if name == "_folded":
            return 0
        if name.startswith("_folded."):
            try:
                return int(name.split(".", 1)[1])
            except ValueError:
                return 0
    return None
