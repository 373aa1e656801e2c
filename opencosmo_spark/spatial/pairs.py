"""3-D neighbor pairs and the analyses built on them: two-point
correlation and friends-of-friends group finding — the classic
simulation-catalog algorithms (public methods: Peebles 1980 pair
counts; Davis et al. 1985 FoF), expressed as one cell-keyed equi-join
plus aggregations.

The pair engine is the 3-D twin of ``crossmatch_sky``'s bin join: the
box is gridded into cells of side >= rmax, one side of the self-join
is exploded to its cell plus the 26 neighbors (or fewer at non-
periodic edges; wrapped with the minimum-image convention when
periodic), and candidates meet ONLY through matching cell keys — the
join is a plain shuffle keyed by an 8-byte cell id, never an all-pairs
cross. Cost is O(N * 27) join rows and true-pair work ∝ local density,
exactly how production pair-counting codes behave; a hot cell is the
AQE skew-split case.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .._litarr import values_df
from .._parallel import spread_small_input


def _q(name: str) -> str:
    """Backtick-quote an identifier for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _prep_cells(
    df: DataFrame,
    id_col: str,
    cols: tuple[str, str, str],
    n: int,
    cell: float,
    carry: tuple[str, ...] = (),
):
    # one parsed selectExpr instead of ~20 Column round-trips (the
    # SQL-text idiom; repr round-trips the IEEE cell width exactly,
    # floor(double) is BIGINT so least/cast semantics are unchanged)
    exprs = [f"{_q(id_col)} AS __pid"]
    for c, out in zip(cols, ("__x", "__y", "__z")):
        exprs.append(f"CAST({_q(c)} AS DOUBLE) AS {out}")
    for c, out in zip(cols, ("__ix", "__iy", "__iz")):
        exprs.append(
            f"CAST(least(floor({_q(c)} / {cell!r}D), {n - 1}) AS BIGINT)"
            f" AS {out}"
        )
    # per-point payload (velocities, marks) rides the SAME pair
    # join instead of being re-attached by per-side equi-joins
    # afterwards — at pair volume, two avoided joins
    for c in carry:
        exprs.append(
            "CAST({0} AS DOUBLE) AS {1}".format(_q(c), _q(f"__carry_{c}"))
        )
    return df.selectExpr(*exprs)


def _pairs_engine(
    dfa: DataFrame,
    dfb: DataFrame,
    radius: float,
    box_size: float,
    id_col_a: str,
    id_col_b: str,
    cols_a: tuple[str, str, str],
    cols_b: tuple[str, str, str],
    periodic: bool,
    self_join: bool,
    components: bool = False,
    vector: bool = False,
    carry_a: tuple[str, ...] = (),
    carry_b: tuple[str, ...] = (),
) -> DataFrame:
    """The shared cell-keyed pair join. ``self_join`` keeps unordered
    pairs (a < b) of ONE catalog; otherwise every (a in A, b in B)
    pair within ``radius`` appears once (the DR case — A and B are
    distinct catalogs, ids may overlap numerically). ``vector`` adds
    the signed minimum-image separation components (dx, dy, dz) =
    a - b; ``carry_a``/``carry_b`` thread per-point payload columns
    through the join as ``{name}_a`` / ``{name}_b``."""
    n = max(1, int(box_size / radius))
    cell = box_size / n
    base_a = _prep_cells(dfa, id_col_a, cols_a, n, cell, carry=carry_a)
    base_b = _prep_cells(dfb, id_col_b, cols_b, n, cell, carry=carry_b)

    a = base_a.selectExpr(
        "__pid AS a",
        "__x AS xa",
        "__y AS ya",
        "__z AS za",
        f"((__ix * {n} + __iy) * {n} + __iz) AS __cell",
        *[
            "{0} AS {1}".format(_q(f"__carry_{c}"), _q(f"{c}_a"))
            for c in carry_a
        ],
    )

    # the other side fans out to its 27-neighborhood. The neighbor
    # indices are precomputed ONCE PER AXIS in a projection (9 values)
    # and the 27 cell ids are plain arithmetic over them — the old
    # form inlined the pmod/bounds algebra into every one of the 27
    # array slots (162 pmods + 162 comparisons per row, measured as
    # the dominant single-task CPU cost of the pair engine at bench
    # scale; guide §1.2 step 2, per-task work).
    offs = [-1, 0, 1]
    base_b = spread_small_input(base_b)
    # the whole axis+neighborhood chain is rendered as SQL TEXT and
    # parsed in TWO driver calls (the _litarr/similarity idiom): built
    # from Python Column ops it cost ~250 py4j round-trips per engine
    # call (~0.8 s of pure driver wait per q66 construction, measured
    # by cProfile — guide §4's boundary cost, applied to the
    # driver↔JVM boundary). The parsed trees are identical: integer
    # arithmetic over the same per-axis indices, same pmod/bounds
    # semantics, same NULL-slot filter.
    if periodic:
        axes_txt = [
            f"pmod(__i{ax} + {d}, {n}) AS __j{ax}{k}"
            for ax in ("x", "y", "z")
            for k, d in enumerate(offs)
        ]
    else:
        axes_txt = [
            f"(__i{ax} + {d}) AS __j{ax}{k}"
            for ax in ("x", "y", "z")
            for k, d in enumerate(offs)
        ]
    base_b = base_b.selectExpr("*", *axes_txt)
    neigh_txt = []
    for kx in range(3):
        for ky in range(3):
            for kz in range(3):
                cid = (
                    f"((__jx{kx} * {n} + __jy{ky}) * {n} + __jz{kz})"
                )
                if periodic:
                    # pmod is always in [0, n): no bounds guard needed
                    neigh_txt.append(cid)
                else:
                    guard = (
                        f"__jx{kx} >= 0 AND __jx{kx} < {n} AND "
                        f"__jy{ky} >= 0 AND __jy{ky} < {n} AND "
                        f"__jz{kz} >= 0 AND __jz{kz} < {n}"
                    )
                    neigh_txt.append(
                        f"CASE WHEN {guard} THEN {cid} END"
                    )
    cells_txt = "array(" + ", ".join(neigh_txt) + ")"
    if not periodic:
        # out-of-box offsets produce NULL slots; indices never repeat
        cells_txt = f"filter({cells_txt}, c -> c IS NOT NULL)"
    elif n < 3:
        # offsets collapse (mod n) on grids coarser than 3 cells/axis
        cells_txt = f"array_distinct({cells_txt})"
    b = base_b.selectExpr(
        "__pid AS b",
        "__x AS xb",
        "__y AS yb",
        "__z AS zb",
        f"explode({cells_txt}) AS __cell",
        *[
            "`__carry_{0}` AS `{0}_b`".format(c.replace("`", "``"))
            for c in carry_b
        ],
    )

    # D suffix pins the literal to DOUBLE: a bare float repr parses as
    # DECIMAL, which silently switches integer/decimal coordinate
    # columns to exact decimal division (different floor() at the
    # boundary) — double columns matched either way, but the "repr
    # round-trips IEEE exactly" claim only holds for a double literal
    bx = repr(float(box_size)) + "D"

    def delta(p, q):
        d = f"({p} - {q})"
        if periodic:
            d = f"({d} - {bx} * round({d} / {bx}, 0))"
        return d

    dx, dy, dz = delta("xa", "xb"), delta("ya", "yb"), delta("za", "zb")
    dist = f"sqrt({dx} * {dx} + {dy} * {dy} + {dz} * {dz})"
    out = a.join(b, "__cell")
    if self_join:
        out = out.filter(F.col("a") < F.col("b"))
    # no dedup needed: the left row carries exactly ONE cell key and
    # the right fan-out is array_distinct'ed, so a given (a, b) pair
    # can match at most once — the old dropDuplicates here was a
    # redundant full shuffle on every pair-engine call (verified by
    # the brute-force differentials and the q66 integer-count oracle)
    extra = (
        # transverse/line-of-sight split against the THIRD axis (the
        # conventional z line of sight; reorder cols for another)
        [
            f"sqrt({dx} * {dx} + {dy} * {dy}) AS rp",
            f"abs({dz}) AS pi",
        ]
        if components
        else []
    )
    if vector:
        extra += [f"{dx} AS dx", f"{dy} AS dy", f"{dz} AS dz"]
    extra += [_q(f"{c}_a") for c in carry_a]
    extra += [_q(f"{c}_b") for c in carry_b]
    return (
        out.selectExpr("a", "b", f"{dist} AS dist", *extra)
        .filter(F.col("dist") <= float(radius))
    )


def neighbor_pairs_3d(
    df: DataFrame,
    radius: float,
    box_size: float,
    id_col: str = "id",
    cols: tuple[str, str, str] = ("x", "y", "z"),
    periodic: bool = True,
) -> DataFrame:
    """Every unordered pair (a < b) of rows within ``radius``:
    ``(a, b, dist)``. Coordinates live in [0, box_size)^3; with
    ``periodic`` the minimum-image convention applies to both the cell
    keys and the distances (simulation boxes are periodic).
    """
    return _pairs_engine(
        df, df, radius, box_size, id_col, id_col, cols, cols,
        periodic, self_join=True,
    )


def cross_pairs_3d(
    dfa: DataFrame,
    dfb: DataFrame,
    radius: float,
    box_size: float,
    id_col_a: str = "id",
    id_col_b: str = "id",
    cols_a: tuple[str, str, str] = ("x", "y", "z"),
    cols_b: tuple[str, str, str] = ("x", "y", "z"),
    periodic: bool = True,
) -> DataFrame:
    """Every (a in A, b in B) pair within ``radius`` between TWO
    catalogs: ``(a, b, dist)`` — the DR count of a Landy-Szalay
    estimator, galaxy-halo cross-correlations, environment queries.
    Same cell-keyed join as the self-pair engine; cost O(|A| + 27|B|)
    join rows."""
    return _pairs_engine(
        dfa, dfb, radius, box_size, id_col_a, id_col_b, cols_a, cols_b,
        periodic, self_join=False,
    )


def _bin_expr(edges: list[float]):
    """Radial-bin index of ``dist`` against sorted ``edges`` (NULL
    outside every bin)."""
    out = F.lit(None).cast("int")
    for i in range(len(edges) - 1, 0, -1):
        out = F.when(
            (F.col("dist") >= edges[i - 1]) & (F.col("dist") < edges[i]),
            F.lit(i - 1),
        ).otherwise(out)
    return out


def two_point_correlation(
    df: DataFrame,
    bins: list[float],
    box_size: float,
    id_col: str = "id",
    cols: tuple[str, str, str] = ("x", "y", "z"),
) -> DataFrame:
    """Natural-estimator two-point correlation function for a PERIODIC
    box: ``xi(r) = DD(r) / RR_analytic(r) - 1``, where the random-pair
    expectation per radial bin is exact for a uniform periodic box
    (``N(N-1)/2 * shell_volume / box_volume``) — no random catalog
    needed. For survey geometries (masks, edges) generate randoms and
    use Landy-Szalay; the DD machinery here is the expensive part
    either way.

    Returns one row per bin: (bin, r_lo, r_hi, dd, rr, xi).
    """
    if sorted(bins) != list(bins) or len(bins) < 2:
        raise ValueError("bins must be a sorted list of >= 2 edges")
    rmax = float(bins[-1])
    pairs = neighbor_pairs_3d(
        df, rmax, box_size, id_col=id_col, cols=cols, periodic=True
    )
    edges = [float(e) for e in bins]
    bin_expr = _bin_expr(edges)
    dd = (
        pairs.select(bin_expr.alias("bin"))
        .filter(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("dd"))
    )
    n = df.count()
    vbox = box_size**3
    rows = []
    for i in range(len(edges) - 1):
        shell = 4.0 / 3.0 * math.pi * (edges[i + 1] ** 3 - edges[i] ** 3)
        rr = n * (n - 1) / 2.0 * shell / vbox
        rows.append((i, edges[i], edges[i + 1], rr))
    spark = df.sparkSession
    rr_df = values_df(spark, rows, "bin INT, r_lo DOUBLE, r_hi DOUBLE, rr DOUBLE")
    return (
        rr_df.join(dd, "bin", "left")
        .select(
            "bin",
            "r_lo",
            "r_hi",
            F.coalesce(F.col("dd"), F.lit(0)).alias("dd"),
            "rr",
            (F.coalesce(F.col("dd"), F.lit(0)) / F.col("rr") - 1.0).alias("xi"),
        )
        .orderBy("bin")
    )


def fof_groups(
    df: DataFrame,
    linking_length: float,
    box_size: float,
    id_col: str = "id",
    cols: tuple[str, str, str] = ("x", "y", "z"),
    periodic: bool = True,
    max_iterations: int = 30,
) -> DataFrame:
    """Friends-of-friends group finding (Davis et al. 1985): particles
    closer than ``linking_length`` are friends; groups are the
    connected components of the friendship graph. Returns
    ``(id, group_id)`` with ``group_id`` = the smallest member id —
    the halo-finder decomposition, from the same two primitives the
    dedup pipeline already proves at scale (cell-keyed pair join +
    distributed connected components). FoF percolation chains are the
    HIGH-DIAMETER connected-components case (a filament of length L
    needs L min-label rounds), so this always runs the
    large-star/small-star algorithm (O(log n) rounds regardless of
    chain length), as ``sky_fof_groups`` does.
    """
    from ..pipeline.dedup import connected_components

    pairs = neighbor_pairs_3d(
        df, linking_length, box_size, id_col=id_col, cols=cols, periodic=periodic
    ).select("a", "b")
    nodes = df.select(F.col(id_col))
    labels = connected_components(
        pairs, nodes, id_col, "a", "b", max_iterations=max_iterations,
        algorithm="star",
    )
    return labels.withColumnRenamed("cluster_id", "group_id")


def _ls_assemble(
    spark,
    edges: list[float],
    dd: DataFrame,
    dr: DataFrame,
    rr: DataFrame,
    nd: int,
    nr: int,
    lo_name: str,
    hi_name: str,
    value_name: str,
) -> DataFrame:
    """Shared Landy-Szalay assembly for the 3-D and angular
    estimators: join the per-bin DD/DR/RR counts onto the bin grid,
    zero-fill empty bins, normalize by pair counts, emit
    ``(DDn - 2 DRn + RRn) / RRn``. One home so a normalization or
    NULL-handling fix can never diverge between geometries."""
    rows = [(i, edges[i], edges[i + 1]) for i in range(len(edges) - 1)]
    grid = values_df(
        spark, rows, f"bin INT, {lo_name} DOUBLE, {hi_name} DOUBLE"
    )
    ddn = F.col("dd") / F.lit(nd * (nd - 1) / 2.0)
    drn = F.col("dr") / F.lit(float(nd) * nr)
    rrn = F.col("rr") / F.lit(nr * (nr - 1) / 2.0)
    return (
        grid.join(dd, "bin", "left")
        .join(dr, "bin", "left")
        .join(rr, "bin", "left")
        .select(
            "bin",
            lo_name,
            hi_name,
            F.coalesce("dd", F.lit(0)).alias("dd"),
            F.coalesce("dr", F.lit(0)).alias("dr"),
            F.coalesce("rr", F.lit(0)).alias("rr"),
        )
        .withColumn(
            value_name,
            F.when(F.col("rr") > 0, (ddn - 2.0 * drn + rrn) / rrn),
        )
        .orderBy("bin")
    )


def _binned_counts(pairs: DataFrame, edges: list[float], name: str) -> DataFrame:
    """Per-bin pair counts of a (…, dist) frame against sorted edges."""
    return (
        pairs.select(_bin_expr(edges).alias("bin"))
        .filter(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias(name))
    )


def uniform_random_catalog(
    spark,
    n: int,
    box_size: float,
    seed: int = 1,
    id_col: str = "id",
    cols: tuple[str, str, str] = ("x", "y", "z"),
) -> DataFrame:
    """Deterministic uniform random catalog in [0, box_size)^3 — the
    randoms of a Landy-Szalay estimator, generated distributed
    (``spark.range`` + md5 hash lanes, no RNG state): the same
    (n, seed) always yields the same catalog, on any partitioning,
    on any engine that can evaluate md5 — the sampling-lane posture
    every stochastic operator in this repo takes."""
    from ..pipeline.dedup import md5_lane

    out = spark.range(n).select(F.col("id").alias(id_col))
    for axis, name in zip(("x", "y", "z"), cols):
        lane = md5_lane(
            F.concat_ws(":", F.lit(str(seed)), F.col(id_col), F.lit(axis))
        )
        out = out.withColumn(
            name, lane.cast("double") / F.lit(float(2**60)) * F.lit(float(box_size))
        )
    return out


def precompute_rr(
    spark,
    rmax: float,
    box_size: float,
    n_random: int,
    seed: int = 1,
    periodic: bool = False,
    random_df: DataFrame | None = None,
    id_col: str = "id",
    cols: tuple[str, str, str] = ("x", "y", "z"),
) -> dict:
    """Run the RR pair join ONCE and return a reusable artifact for
    ``two_point_landy_szalay(..., rr=...)`` sweeps.

    RR is ~4x the DD cost at the default ``n_random = 2 * nd`` and is
    identical across every call with the same (randoms, rmax, box,
    periodicity) — exactly what an analyst sweeping bin edges or
    galaxy samples re-pays without this. The artifact persists the
    randoms (so the estimator's DR join reads the cache, not a
    regeneration) and the RR pair SEPARATIONS out to ``rmax`` (so each
    call's per-bin RR count is a cheap re-aggregation, never a pair
    join) — any bin edges with ``max(edges) <= rmax`` reuse it.
    Release with ``release_rr`` when the sweep is done.
    """
    from pyspark import StorageLevel

    if random_df is None:
        random_df = uniform_random_catalog(
            spark, int(n_random), box_size, seed, id_col=id_col, cols=cols
        )
    rdf = random_df.persist(StorageLevel.MEMORY_AND_DISK)
    nr = rdf.count()  # materializes the randoms cache
    rr_pairs = (
        neighbor_pairs_3d(rdf, float(rmax), box_size, id_col, cols, periodic)
        .select("dist")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rr_pairs.count()  # the ONE RR pair-join execution
    return {
        "kind": "3d",
        "random_df": rdf,
        "rr_pairs": rr_pairs,
        "nr": int(nr),
        "rmax": float(rmax),
        "box_size": float(box_size),
        "periodic": bool(periodic),
        "id_col": id_col,
        "cols": tuple(cols),
    }


def release_rr(rr: dict) -> None:
    """Unpersist a ``precompute_rr`` / ``precompute_rr_sky`` artifact's
    cached frames (call after the sweep's results are materialized)."""
    rr["random_df"].unpersist()
    rr["rr_pairs"].unpersist()


def _check_rr(rr: dict, kind: str, edges: list[float], **expect) -> None:
    """A precomputed-RR artifact silently mismatched to the call
    (different box, periodicity, or bins past its rmax) would produce
    a WRONG estimator, not an error — validate every axis up front."""
    if rr.get("kind") != kind:
        raise ValueError(
            f"rr artifact kind {rr.get('kind')!r} does not fit this "
            f"{kind!r} estimator"
        )
    if edges[-1] > rr["rmax"] + 1e-12:
        raise ValueError(
            f"bins reach {edges[-1]} but the RR artifact only holds "
            f"pairs out to rmax={rr['rmax']} — precompute with a "
            f"larger rmax"
        )
    for k, v in expect.items():
        if rr.get(k) != v:
            raise ValueError(
                f"rr artifact was built with {k}={rr.get(k)!r}, this "
                f"call uses {k}={v!r}"
            )


def two_point_landy_szalay(
    df: DataFrame,
    bins: list[float],
    box_size: float,
    id_col: str = "id",
    cols: tuple[str, str, str] = ("x", "y", "z"),
    random_df: DataFrame | None = None,
    n_random: int | None = None,
    seed: int = 1,
    periodic: bool = False,
    rr: dict | None = None,
) -> DataFrame:
    """Landy-Szalay two-point correlation (Landy & Szalay 1993):
    ``xi = (DDn - 2 DRn + RRn) / RRn`` with each pair count
    normalized by its number of possible pairs. This is the
    estimator for NON-periodic geometries (survey volumes, masked
    lightcone chunks) where the analytic-RR natural estimator of
    ``two_point_correlation`` does not apply — edge effects cancel
    through the random catalog instead.

    ``random_df`` supplies survey-geometry randoms (same columns);
    by default a deterministic uniform box catalog of
    ``n_random`` (default ``2 * len(df)``) points is generated and
    PERSISTED across the DR and RR joins within the call; the result
    is lazy, so the cache handle rides the result's ``_oc_cached``
    for the caller to free via ``pipeline.dedup.release_cached``
    after materializing. For sweep workflows pass
    ``rr=`` from ``precompute_rr`` instead: the RR pair join then
    never runs here at all, and DR reads the artifact's cached
    randoms. Returns one row per bin:
    ``(bin, r_lo, r_hi, dd, dr, rr, xi)`` with raw pair counts and
    the normalized estimator.

    Scale shape: three cell-keyed pair joins (DD, DR, RR) — each the
    same O(N * 27) machinery as ``neighbor_pairs_3d`` — plus three
    per-bin aggregations; randoms cost ~(Nr/Nd)^2 of the DD work, so
    the usual Nr = 2-3 Nd multiplies total work by ~5-10, exactly
    like every production pair-count code (and is why ``rr=`` reuse
    pays: cf. the reference's link-handler caching rationale,
    collection/structure/handler.py:205-214)."""
    if sorted(bins) != list(bins) or len(bins) < 2:
        raise ValueError("bins must be a sorted list of >= 2 edges")
    rmax = float(bins[-1])
    edges = [float(e) for e in bins]
    nd = df.count()
    cached = []
    if rr is not None:
        _check_rr(
            rr, "3d", edges,
            box_size=float(box_size), periodic=bool(periodic),
        )
        random_df = rr["random_df"]
        nr = rr["nr"]
        r_id, r_cols = rr["id_col"], rr["cols"]
        rr_counts = _binned_counts(rr["rr_pairs"], edges, "rr")
    elif random_df is None:
        from pyspark import StorageLevel

        nr = int(n_random or 2 * nd)
        random_df = uniform_random_catalog(
            df.sparkSession, nr, box_size, seed, id_col="id"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(random_df)
        r_id, r_cols = "id", ("x", "y", "z")
    else:
        nr = random_df.count()
        r_id, r_cols = id_col, cols
    if nd < 2 or nr < 2:
        raise ValueError(f"need >= 2 data and random points, got {nd}/{nr}")

    dd = _binned_counts(
        neighbor_pairs_3d(df, rmax, box_size, id_col, cols, periodic),
        edges, "dd",
    )
    dr = _binned_counts(
        cross_pairs_3d(
            df, random_df, rmax, box_size, id_col, r_id, cols, r_cols,
            periodic,
        ),
        edges, "dr",
    )
    if rr is None:
        rr_counts = _binned_counts(
            neighbor_pairs_3d(random_df, rmax, box_size, r_id, r_cols, periodic),
            edges, "rr",
        )
    out = _ls_assemble(
        df.sparkSession, edges, dd, dr, rr_counts, nd, nr, "r_lo", "r_hi", "xi"
    )
    if cached:
        from ..pipeline.dedup import _attach_cached

        _attach_cached(out, cached)
    return out


def stacked_radial_profile(
    centers: DataFrame,
    particles: DataFrame,
    bins: list[float],
    box_size: float,
    id_col_centers: str = "id",
    id_col_particles: str = "id",
    cols_centers: tuple[str, str, str] = ("x", "y", "z"),
    cols_particles: tuple[str, str, str] = ("x", "y", "z"),
    mass_col: str | None = None,
    periodic: bool = True,
) -> DataFrame:
    """Stacked spherically-averaged density profile around a center
    catalog (the halo ρ(r) / Σ(r) measurement): cross pair counts per
    radial bin, normalized by shell volume and center count.

    Returns one row per bin: ``(bin, r_lo, r_hi, n_pairs, mass,
    mean_density, overdensity)`` where ``mean_density`` is the
    stacked ρ(r) = mass / (n_centers · V_shell) and ``overdensity``
    is ρ(r)/ρ̄ - 1 against the box mean. ``mass_col`` weights
    particles (mass-weighted profiles); unweighted counts otherwise.

    Cost shape = the cross-pair engine: cell-keyed equi-join,
    O(|centers| + 27|particles|) join rows, true work ∝ pairs within
    ``bins[-1]`` — the same scaling every stacked-profile pipeline
    has, with the counts reduced per bin, never materialized per
    center unless you ask the engine for them directly.
    """
    if sorted(bins) != list(bins) or len(bins) < 2:
        raise ValueError("bins must be a sorted list of >= 2 edges")
    rmax = float(bins[-1])
    part = particles
    keep_cols = [id_col_particles, *cols_particles]
    if mass_col:
        keep_cols.append(mass_col)
    part = part.select(*dict.fromkeys(keep_cols))
    pairs = cross_pairs_3d(
        centers, part, rmax, box_size,
        id_col_a=id_col_centers, id_col_b=id_col_particles,
        cols_a=cols_centers, cols_b=cols_particles, periodic=periodic,
    )
    if mass_col:
        pairs = pairs.join(
            part.select(
                F.col(id_col_particles).alias("b"),
                F.col(mass_col).cast("double").alias("__m"),
            ),
            "b",
        )
        m = F.col("__m")
    else:
        m = F.lit(1.0)
    binned = (
        pairs.withColumn("__bin", _bin_expr(bins))
        .filter(F.col("__bin").isNotNull())
        .groupBy("__bin")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(m).alias("mass"),
        )
    )
    n_centers = centers.count()
    if n_centers == 0:
        raise ValueError("empty center catalog")
    if mass_col:
        total_mass = float(
            particles.agg(F.sum(F.col(mass_col).cast("double"))).first()[0]
            or 0.0
        )
    else:
        total_mass = float(particles.count())
    rho_bar = total_mass / box_size**3
    rows = {r["__bin"]: r for r in binned.collect()}
    spark = centers.sparkSession
    out = []
    for i in range(len(bins) - 1):
        lo, hi = float(bins[i]), float(bins[i + 1])
        vol = 4.0 / 3.0 * 3.141592653589793 * (hi**3 - lo**3)
        r = rows.get(i)
        npairs = int(r["n_pairs"]) if r else 0
        mass = float(r["mass"]) if r else 0.0
        dens = mass / (n_centers * vol)
        out.append(
            (
                i, lo, hi, npairs, round(mass, 6), round(dens, 10),
                round(dens / rho_bar - 1.0, 10) if rho_bar > 0 else None,
            )
        )
    return values_df(
        spark,
        out,
        "bin int, r_lo double, r_hi double, n_pairs long, mass double, "
        "mean_density double, overdensity double",
    )


def stacked_value_profile(
    centers: DataFrame,
    particles: DataFrame,
    bins: list[float],
    box_size: float,
    value_col: str,
    id_col_centers: str = "id",
    id_col_particles: str = "id",
    cols_centers: tuple[str, str, str] = ("x", "y", "z"),
    cols_particles: tuple[str, str, str] = ("x", "y", "z"),
    periodic: bool = True,
    decimals: int = 10,
) -> DataFrame:
    """Stacked radial profile of an arbitrary particle VALUE around a
    center catalog — velocity-dispersion profiles σ_v(r), temperature
    profiles, metallicity gradients: per radial bin, the count, mean,
    and (population) standard deviation of ``value_col`` over every
    (center, particle) pair in the shell.

    Same cross-pair engine and cost shape as
    ``stacked_radial_profile``; one extra equi-join attaches the value
    and one aggregation reduces per bin.
    """
    if sorted(bins) != list(bins) or len(bins) < 2:
        raise ValueError("bins must be a sorted list of >= 2 edges")
    rmax = float(bins[-1])
    part = particles.select(
        *dict.fromkeys([id_col_particles, *cols_particles, value_col])
    )
    pairs = cross_pairs_3d(
        centers, part, rmax, box_size,
        id_col_a=id_col_centers, id_col_b=id_col_particles,
        cols_a=cols_centers, cols_b=cols_particles, periodic=periodic,
    )
    vals = part.select(
        F.col(id_col_particles).alias("b"),
        F.col(value_col).cast("double").alias("__v"),
    )
    return (
        pairs.join(vals, "b")
        .withColumn("bin", _bin_expr(bins))
        .filter(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("__v"), decimals).alias("mean"),
            F.round(
                F.coalesce(F.stddev_pop("__v"), F.lit(0.0)), decimals
            ).alias("std"),
        )
        .orderBy("bin")
    )


def projected_correlation(
    df: DataFrame,
    rp_bins: list[float],
    pi_max: float,
    box_size: float,
    id_col: str = "id",
    cols: tuple[str, str, str] = ("x", "y", "z"),
    n_pi_bins: int = 10,
) -> DataFrame:
    """Projected two-point correlation wp(rp) for a periodic box —
    the redshift-space-insensitive clustering statistic every galaxy
    survey publishes (Davis & Peebles 1983):

        wp(rp) = ∫_{-π_max}^{+π_max} ξ(rp, π) dπ

    with the line of sight along ``cols[2]``. DD pairs are counted in
    (rp, |π|) cells by the standard cell-keyed engine (one extra
    column pair, same shuffles); the random expectation per cell is
    ANALYTIC for a uniform periodic box (cylindrical-shell volume ×
    2Δπ for ±π), so no random catalog is needed. The π integral is
    the cell sum ξ_cell · 2Δπ.

    Returns one row per rp bin: ``(bin, rp_lo, rp_hi, dd, wp)``.
    """
    if sorted(rp_bins) != list(rp_bins) or len(rp_bins) < 2:
        raise ValueError("rp_bins must be a sorted list of >= 2 edges")
    if pi_max <= 0:
        raise ValueError("pi_max must be positive")
    rp_max = float(rp_bins[-1])
    radius = (rp_max**2 + float(pi_max) ** 2) ** 0.5
    pairs = _pairs_engine(
        df, df, radius, box_size, id_col, id_col, cols, cols,
        periodic=True, self_join=True, components=True,
    )
    d_pi = float(pi_max) / n_pi_bins
    rp_bin = F.lit(None).cast("int")
    for i in range(len(rp_bins) - 1, 0, -1):
        rp_bin = F.when(
            (F.col("rp") >= rp_bins[i - 1]) & (F.col("rp") < rp_bins[i]),
            F.lit(i - 1),
        ).otherwise(rp_bin)
    cells = (
        pairs.filter(F.col("pi") < float(pi_max))
        .withColumn("__rpb", rp_bin)
        .filter(F.col("__rpb").isNotNull())
        .withColumn(
            "__pib",
            F.least(
                F.floor(F.col("pi") / F.lit(d_pi)).cast("int"),
                F.lit(n_pi_bins - 1),
            ),
        )
        .groupBy("__rpb", "__pib")
        .agg(F.count(F.lit(1)).alias("dd"))
        .collect()
    )
    n = df.count()
    total_pairs = n * (n - 1) / 2.0
    volume = box_size**3
    pi_const = 3.141592653589793
    dd_grid: dict[tuple[int, int], int] = {
        (r["__rpb"], r["__pib"]): r["dd"] for r in cells
    }
    out = []
    for i in range(len(rp_bins) - 1):
        lo, hi = float(rp_bins[i]), float(rp_bins[i + 1])
        shell_area = pi_const * (hi**2 - lo**2)
        wp = 0.0
        dd_tot = 0
        for j in range(n_pi_bins):
            cell_vol = shell_area * 2.0 * d_pi  # ± line of sight
            rr = total_pairs * cell_vol / volume
            dd = dd_grid.get((i, j), 0)
            dd_tot += dd
            xi = dd / rr - 1.0 if rr > 0 else 0.0
            wp += xi * 2.0 * d_pi
        out.append((i, lo, hi, dd_tot, round(wp, 10)))
    return values_df(
        df.sparkSession, out,
        "bin int, rp_lo double, rp_hi double, dd long, wp double",
    )


def correlation_multipoles(
    df: DataFrame,
    s_bins: list[float],
    box_size: float,
    ells: tuple[int, ...] = (0, 2),
    id_col: str = "id",
    cols: tuple[str, str, str] = ("x", "y", "z"),
) -> DataFrame:
    """Redshift-space correlation multipoles ξ_ℓ(s) (monopole,
    quadrupole, hexadecapole — the RSD observables; Hamilton 1992):

        ξ_ℓ(s) = (2ℓ+1) · ⟨ (DD(s,μ)/RR(s,μ) − 1) · P_ℓ(μ) ⟩_μ

    estimated pair-by-pair: each DD pair carries μ = π/s (line of
    sight along ``cols[2]``), the Legendre weight is a JVM
    expression, and the μ-average collapses into the per-s-bin
    aggregate against the analytic isotropic RR of the periodic box —
    ξ_ℓ(s) = (2ℓ+1)·Σ_pairs P_ℓ(μ)/RR(s) − (2ℓ+1)·δ_ℓ0. One pair
    join + one aggregation, the engine's usual shuffles.

    Returns one row per s bin: ``(bin, s_lo, s_hi, dd, xi_<ell>...)``.
    """
    if sorted(s_bins) != list(s_bins) or len(s_bins) < 2:
        raise ValueError("s_bins must be a sorted list of >= 2 edges")
    bad = [l for l in ells if l not in (0, 2, 4)]
    if bad:
        raise ValueError(f"supported multipoles are 0, 2, 4; got {bad}")
    smax = float(s_bins[-1])
    pairs = _pairs_engine(
        df, df, smax, box_size, id_col, id_col, cols, cols,
        periodic=True, self_join=True, components=True,
    )
    mu = F.col("pi") / F.col("dist")
    legendre = {
        0: F.lit(1.0),
        2: (3.0 * mu * mu - 1.0) / 2.0,
        4: (35.0 * mu**4 - 30.0 * mu * mu + 3.0) / 8.0,
    }
    sb = _bin_expr(s_bins)
    aggs = [F.count(F.lit(1)).alias("dd")] + [
        F.sum(legendre[l]).alias(f"__p{l}") for l in ells
    ]
    rows = {
        r["__sb"]: r
        for r in (
            pairs.withColumn("__sb", sb)
            .filter(F.col("__sb").isNotNull())
            .groupBy("__sb")
            .agg(*aggs)
            .collect()
        )
    }
    n = df.count()
    total_pairs = n * (n - 1) / 2.0
    volume = box_size**3
    pi_const = 3.141592653589793
    out = []
    for i in range(len(s_bins) - 1):
        lo, hi = float(s_bins[i]), float(s_bins[i + 1])
        shell = 4.0 / 3.0 * pi_const * (hi**3 - lo**3)
        rr = total_pairs * shell / volume
        r = rows.get(i)
        dd = int(r["dd"]) if r else 0
        vals = []
        for l in ells:
            psum = float(r[f"__p{l}"]) if r else 0.0
            xi = (2 * l + 1) * psum / rr - (2 * l + 1) * (1.0 if l == 0 else 0.0)
            # the non-monopole correction term vanishes because
            # ⟨P_ℓ(μ)⟩ = 0 for ℓ > 0 under isotropic RR — the -1 of
            # the estimator only survives at ℓ = 0
            vals.append(round(xi, 10))
        out.append((i, lo, hi, dd, *vals))
    schema = (
        "bin int, s_lo double, s_hi double, dd long, "
        + ", ".join(f"xi_{l} double" for l in ells)
    )
    return values_df(df.sparkSession, out, schema)


def pairwise_velocity(
    df: DataFrame,
    bins: list[float],
    box_size: float,
    id_col: str = "id",
    cols: tuple[str, str, str] = ("x", "y", "z"),
    vel_cols: tuple[str, str, str] = ("vx", "vy", "vz"),
    periodic: bool = True,
    decimals: int = 10,
) -> DataFrame:
    """Mean radial pairwise velocity v12(r) and its dispersion
    sigma12(r) — the streaming-velocity statistic of large-scale
    structure (Davis & Peebles 1977 conventions; the BBGKY/pair
    conservation observable): for every unordered pair within the
    outermost bin edge, the relative velocity projected on the
    separation vector,

        v12 = (v_a - v_b) . (x_a - x_b) / |x_a - x_b|,

    averaged per separation bin. NEGATIVE v12 = net infall (the
    gravitational signal); zero for an unclustered field. The sign is
    swap-invariant (both factors flip), so unordered pairs need no
    orientation bookkeeping.

    The velocities ride the SAME cell-keyed pair join as the
    positions (engine ``carry`` columns) — no per-side re-join at
    pair volume; the reduction is one hash aggregate per bin keyed by
    ~len(bins) keys. Returns
    ``(bin, r_lo, r_hi, n_pairs, v12_mean, v12_std)``.
    """
    if sorted(bins) != list(bins) or len(bins) < 2:
        raise ValueError("bins must be a sorted list of >= 2 edges")
    rmax = float(bins[-1])
    pairs = _pairs_engine(
        df, df, rmax, box_size, id_col, id_col, cols, cols,
        periodic, self_join=True, vector=True,
        carry_a=tuple(vel_cols), carry_b=tuple(vel_cols),
    )
    vx, vy, vz = vel_cols
    vrad = (
        (F.col(f"{vx}_a") - F.col(f"{vx}_b")) * F.col("dx")
        + (F.col(f"{vy}_a") - F.col(f"{vy}_b")) * F.col("dy")
        + (F.col(f"{vz}_a") - F.col(f"{vz}_b")) * F.col("dz")
    ) / F.col("dist")
    binned = (
        pairs.filter(F.col("dist") > 0)
        .withColumn("bin", _bin_expr(bins))
        .filter(F.col("bin").isNotNull())
        .withColumn("__v12", vrad)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("__v12"), decimals).alias("v12_mean"),
            F.round(
                F.coalesce(F.stddev_pop("__v12"), F.lit(0.0)), decimals
            ).alias("v12_std"),
        )
    )
    edges = values_df(
        binned.sparkSession,
        [(i, float(bins[i]), float(bins[i + 1])) for i in range(len(bins) - 1)],
        "bin int, r_lo double, r_hi double",
    )
    return (
        edges.join(binned, "bin", "left")
        .fillna({"n_pairs": 0, "v12_mean": 0.0, "v12_std": 0.0})
        .orderBy("bin")
    )


def marked_correlation(
    df: DataFrame,
    bins: list[float],
    box_size: float,
    mark_col: str,
    id_col: str = "id",
    cols: tuple[str, str, str] = ("x", "y", "z"),
    periodic: bool = True,
    decimals: int = 10,
) -> DataFrame:
    """Marked correlation function M(r) (Sheth & Tormen 2004): the
    pair-weighted mean mark product over the unweighted pair count,

        M(r) = WW(r) / (wbar^2 * DD(r)),

    where WW sums ``w_a * w_b`` over pairs in the bin and wbar is the
    catalog mean mark. M > 1 at a scale means close pairs carry
    systematically larger marks (mass, luminosity, formation-time
    environment dependence); an unmarked or shuffled catalog gives
    M = 1 at every scale, which is exactly the standard null test.

    One pair join (marks carried through the engine) + one hash
    aggregate; the only driver data is the ~len(bins) result rows and
    the single wbar scalar. Returns
    ``(bin, r_lo, r_hi, dd, ww, mcf)``.
    """
    if sorted(bins) != list(bins) or len(bins) < 2:
        raise ValueError("bins must be a sorted list of >= 2 edges")
    rmax = float(bins[-1])
    row = df.agg(
        F.avg(F.col(mark_col).cast("double")).alias("m"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if not row["n"]:
        raise ValueError("marked_correlation: empty catalog")
    wbar = float(row["m"] or 0.0)
    if wbar == 0.0:
        raise ValueError(
            "marked_correlation: mean mark is 0 — M(r) is undefined; "
            "shift the marks (e.g. +1) or use a strictly-positive mark"
        )
    pairs = _pairs_engine(
        df, df, rmax, box_size, id_col, id_col, cols, cols,
        periodic, self_join=True,
        carry_a=(mark_col,), carry_b=(mark_col,),
    )
    binned = (
        pairs.withColumn("bin", _bin_expr(bins))
        .filter(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("dd"),
            F.sum(
                F.col(f"{mark_col}_a") * F.col(f"{mark_col}_b")
            ).alias("ww"),
        )
    )
    edges = values_df(
        binned.sparkSession,
        [(i, float(bins[i]), float(bins[i + 1])) for i in range(len(bins) - 1)],
        "bin int, r_lo double, r_hi double",
    )
    return (
        edges.join(binned, "bin", "left")
        .fillna({"dd": 0, "ww": 0.0})
        .withColumn(
            "mcf",
            F.when(
                F.col("dd") > 0,
                F.round(
                    F.col("ww") / (F.col("dd") * F.lit(wbar * wbar)),
                    decimals,
                ),
            ).otherwise(F.lit(None).cast("double")),
        )
        .withColumn("ww", F.round("ww", decimals))
        .orderBy("bin")
    )


def two_point_jackknife(
    df: DataFrame,
    bins: list[float],
    box_size: float,
    n_side: int = 3,
    id_col: str = "id",
    cols: tuple[str, str, str] = ("x", "y", "z"),
) -> DataFrame:
    """Natural-estimator xi(r) WITH delete-one spatial-jackknife error
    bars (Norberg et al. 2009's recommended internal estimator): the
    box is cut into ``n_side^3`` subvolumes, each jackknife sample
    leaves one subvolume's points out, and the per-bin error is the
    jackknife variance (K-1)/K * sum (xi_k - xi_mean)^2 over the K
    resamples.

    The key cost identity: ALL K resampled pair counts come from ONE
    pair join. Each point's block id rides the pair engine as a carry
    column, DD is aggregated once by (bin, block_a, block_b) — a
    driver-small table of <= n_bins * K^2 rows — and every
    leave-one-out count is pure driver arithmetic:

        DD_k(bin) = DD(bin) - [pairs touching block k](bin),

    with the analytic periodic RR rescaled to the retained pair count
    n_k(n_k - 1)/2. No second pass, no K-fold recount — at 100 TB the
    jackknife costs the same shuffle as the plain estimator plus one
    tiny aggregation key.

    The delete-one volumes are cubes, so the retained geometry is NOT
    exactly uniform-periodic and the rescaled analytic RR is the
    standard approximation (exact as n_side -> 1; the sub-percent bias
    for n_side <= 4 is far below the jackknife error it estimates —
    use an LS estimator with per-sample randoms when the error of the
    error matters).

    Returns one row per bin:
    ``(bin, r_lo, r_hi, dd, rr, xi, xi_err, n_jackknife)``.
    """
    if sorted(bins) != list(bins) or len(bins) < 2:
        raise ValueError("bins must be a sorted list of >= 2 edges")
    if n_side < 2:
        raise ValueError("n_side must be >= 2 (need >= 8 subvolumes)")
    rmax = float(bins[-1])
    k3 = n_side**3
    blk = box_size / n_side
    bx, by, bz = (F.col(c) for c in cols)

    def _b(c):
        return F.least(
            F.floor(c.cast("double") / blk), F.lit(n_side - 1)
        ).cast("long")

    tagged = df.withColumn(
        "__jk", (_b(bx) * n_side + _b(by)) * n_side + _b(bz)
    )
    # per-block point counts (driver-small: K values)
    nk = {
        int(r["__jk"]): int(r["n"])
        for r in tagged.groupBy("__jk").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    n = sum(nk.values())
    pairs = _pairs_engine(
        tagged, tagged, rmax, box_size, id_col, id_col, cols, cols,
        periodic=True, self_join=True, carry_a=("__jk",),
        carry_b=("__jk",),
    )
    counts = (
        pairs.select(
            _bin_expr(bins).alias("bin"),
            F.col("__jk_a").cast("long").alias("ba"),
            F.col("__jk_b").cast("long").alias("bb"),
        )
        .filter(F.col("bin").isNotNull())
        .groupBy("bin", "ba", "bb")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    edges = [float(e) for e in bins]
    n_bins = len(edges) - 1
    dd = [0] * n_bins
    touch = [[0] * n_bins for _ in range(k3)]  # pairs with an end in k
    for r in counts:
        b, ba, bb, c = r["bin"], int(r["ba"]), int(r["bb"]), int(r["c"])
        dd[b] += c
        touch[ba][b] += c
        if bb != ba:
            touch[bb][b] += c

    vbox = box_size**3
    shells = [
        4.0 / 3.0 * math.pi * (edges[i + 1] ** 3 - edges[i] ** 3)
        for i in range(n_bins)
    ]

    def xi_of(dd_bin, n_pts, i):
        rr = n_pts * (n_pts - 1) / 2.0 * shells[i] / vbox
        return (dd_bin / rr - 1.0) if rr > 0 else 0.0

    out = []
    for i in range(n_bins):
        rr_full = n * (n - 1) / 2.0 * shells[i] / vbox
        xi_full = xi_of(dd[i], n, i)
        xis = []
        for k in range(k3):
            n_k = n - nk.get(k, 0)
            if n_k < 2:
                continue
            xis.append(xi_of(dd[i] - touch[k][i], n_k, i))
        kk = len(xis)
        if kk > 1:
            mean = sum(xis) / kk
            var = (kk - 1) / kk * sum((x - mean) ** 2 for x in xis)
            err = math.sqrt(var)
        else:
            err = float("nan")
        out.append(
            (i, edges[i], edges[i + 1], dd[i], rr_full,
             round(xi_full, 10), round(err, 10), kk)
        )
    return values_df(
        df.sparkSession,
        out,
        "bin int, r_lo double, r_hi double, dd long, rr double, "
        "xi double, xi_err double, n_jackknife int",
    )


def apply_rsd(
    df: DataFrame,
    box_size: float,
    hubble: float,
    scale_factor: float = 1.0,
    cols: tuple[str, str, str] = ("x", "y", "z"),
    vel_cols: tuple[str, str, str] = ("vx", "vy", "vz"),
    axis: int = 2,
) -> DataFrame:
    """Map real-space positions to redshift space along a plane-
    parallel line of sight (the distant-observer approximation every
    periodic-box RSD analysis uses):

        s_los = x_los + v_los / (a * H),

    wrapped back into the periodic box. Feed the result to
    ``correlation_multipoles`` / ``projected_correlation`` to predict
    the OBSERVED clustering of a simulation catalog — the Kaiser
    squashing on large scales and finger-of-god elongation in
    collapsed structures both emerge from exactly this shift.

    ``hubble`` is H(a) in velocity units per box length unit (e.g.
    km/s / (Mpc/h): 100·E(a)·h/h = 100·E(a)); ``scale_factor``
    multiplies as a·H for peculiar-velocity conventions where v is
    comoving. Pure projection — one JVM expression on one column, no
    shuffle, fully pushable.
    """
    if axis not in (0, 1, 2):
        raise ValueError("axis must be 0, 1, or 2")
    if hubble <= 0 or scale_factor <= 0:
        raise ValueError("hubble and scale_factor must be positive")
    pos = cols[axis]
    vel = vel_cols[axis]
    shifted = F.col(pos).cast("double") + F.col(vel).cast("double") / (
        float(scale_factor) * float(hubble)
    )
    return df.withColumn(
        pos, F.pmod(shifted, F.lit(float(box_size)))
    )


def stacked_delta_sigma(
    centers: DataFrame,
    particles: DataFrame,
    rp_bins: list[float],
    box_size: float,
    pi_max: float,
    mass_col: str | None = None,
    id_col_centers: str = "id",
    id_col_particles: str = "id",
    cols_centers: tuple[str, str, str] = ("x", "y", "z"),
    cols_particles: tuple[str, str, str] = ("x", "y", "z"),
    periodic: bool = True,
    decimals: int = 10,
) -> DataFrame:
    """Stacked excess surface density ΔΣ(rp) = Σ̄(<rp) − Σ(rp) — the
    galaxy-galaxy-lensing observable (Wright & Brainerd 2000
    conventions) measured directly from a simulation: particles are
    projected onto the plane transverse to the z line of sight within
    ``|pi| <= pi_max``, Σ(rp) is the stacked surface density in each
    projected annulus (per center), Σ̄(<rp) its area-weighted
    cumulative mean including the core inside ``rp_bins[0]``.

    One cross-pair join through the cell engine's (rp, pi) components
    output (radius sqrt(rp_max² + pi_max²) covers the cylinder), one
    aggregation keyed by ~len(rp_bins) annuli (+1 core bin); the
    cumulative mean and area arithmetic are driver-side on the bin
    rows. Unit mass per particle unless ``mass_col`` is given; Σ is
    mass per unit transverse area (the projection depth cancels in
    the stack).

    Returns one row per annulus:
    ``(bin, rp_lo, rp_hi, n_pairs, mass, sigma, sigma_bar, delta_sigma)``.
    """
    if sorted(rp_bins) != list(rp_bins) or len(rp_bins) < 2:
        raise ValueError("rp_bins must be a sorted list of >= 2 edges")
    if rp_bins[0] < 0:
        raise ValueError("rp_bins must be non-negative")
    if pi_max <= 0:
        raise ValueError("pi_max must be positive")
    edges = [float(e) for e in rp_bins]
    if edges[0] > 0.0:
        full_edges = [0.0] + edges  # core bin feeds the cumulative
    else:
        full_edges = edges
    rmax = math.sqrt(edges[-1] ** 2 + float(pi_max) ** 2)
    if rmax > box_size / 2 and periodic:
        raise ValueError(
            f"cylinder radius {rmax:.3f} exceeds half the box — "
            f"minimum-image pairs would alias"
        )
    n_centers = centers.count()
    if n_centers == 0:
        raise ValueError("no centers")
    carry = (mass_col,) if mass_col else ()
    part = particles.select(
        *dict.fromkeys(
            [id_col_particles, *cols_particles, *(carry or ())]
        )
    )
    pairs = _pairs_engine(
        centers, part, rmax, box_size, id_col_centers, id_col_particles,
        cols_centers, cols_particles, periodic, self_join=False,
        components=True, carry_b=carry,
    )
    w = (
        F.col(f"{mass_col}_b").cast("double")
        if mass_col
        else F.lit(1.0)
    )
    # rp-annulus index against the full edge list (core bin = 0)
    bin_expr = F.lit(None).cast("int")
    for i in range(len(full_edges) - 1, 0, -1):
        bin_expr = F.when(
            (F.col("rp") >= full_edges[i - 1])
            & (F.col("rp") < full_edges[i]),
            F.lit(i - 1),
        ).otherwise(bin_expr)
    rows = {
        int(r["bin"]): (int(r["n"]), float(r["m"]))
        for r in pairs.filter(F.col("pi") <= float(pi_max))
        .withColumn("bin", bin_expr)
        .filter(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(w).alias("m"))
        .collect()
    }
    core_offset = 1 if edges[0] > 0.0 else 0
    out = []
    cum_mass = 0.0
    cum_area = 0.0
    for i in range(len(full_edges) - 1):
        lo, hi = full_edges[i], full_edges[i + 1]
        n_p, m = rows.get(i, (0, 0.0))
        area = math.pi * (hi * hi - lo * lo)
        sigma = m / (n_centers * area) if area > 0 else 0.0
        cum_mass += m
        cum_area += area
        sigma_bar = cum_mass / (n_centers * cum_area)
        if i >= core_offset:
            out.append(
                (
                    i - core_offset, lo, hi, n_p, round(m, decimals),
                    round(sigma, decimals), round(sigma_bar, decimals),
                    round(sigma_bar - sigma, decimals),
                )
            )
    return values_df(
        centers.sparkSession,
        out,
        "bin int, rp_lo double, rp_hi double, n_pairs long, mass double, "
        "sigma double, sigma_bar double, delta_sigma double",
    )
