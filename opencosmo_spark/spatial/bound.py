"""Compile a Region into the two-phase Spark predicate for
``Dataset.bound``.

Parity target: reference ``python/opencosmo/dataset/dataset.py:340-431``
— (1) tree query yields fully-contained cells (rows skip the exact
geometric test) and intersecting boundary cells (rows get the exact
test); (2) final selection = interior ∪ (boundary ∧ exact).

Spark realization: the cell walk happens on the driver
(``octree.region_to_cells``); the result is ONE predicate
``cell IN (interior ∪ boundary) AND exact(x,y,z)``, rendered as SQL
text and parsed by a single ``F.expr`` — its driver cost is a few py4j
calls whatever the region's size (a ``Column`` chain paid one call per
cell and per literal). With data z-order-clustered on the cell column,
Parquet row-group min/max stats prune cells outside the set — the same
chunk-skip the reference gets from its tree, with no custom execution
path.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from .._litarr import sql_ident, sql_in, sql_num
from .octree import region_to_cells
from .region import (
    BoxRegion,
    ConeRegion,
    FullSkyRegion,
    HealpixRegion,
    SkyboxRegion,
)

CELL_COL = "__cell_id"
PIXEL_COL = "pixel_cell"

# reference spatial/check.py:53-83 — coordinate-column discovery
COORD_CANDIDATES_3D = [
    ("x", "y", "z"),
    ("fof_halo_center_x", "fof_halo_center_y", "fof_halo_center_z"),
    ("fof_halo_com_x", "fof_halo_com_y", "fof_halo_com_z"),
    ("sod_halo_com_x", "sod_halo_com_y", "sod_halo_com_z"),
    ("gal_center_x", "gal_center_y", "gal_center_z"),
]
COORD_CANDIDATES_2D = [("ra", "dec")]


def find_coords(columns: list[str], dims: int, select_by=None):
    if select_by is not None:
        return tuple(select_by)
    cands = COORD_CANDIDATES_3D if dims == 3 else COORD_CANDIDATES_2D
    cols = set(columns)
    for cand in cands:
        if all(c in cols for c in cand):
            return cand
    raise ValueError(
        f"no {dims}-D coordinate columns found; pass select_by=(...)"
    )


def exact_predicate(region, coords) -> str:
    """The fine-phase geometric test as SQL text, parenthesised so it
    parses to the same expression tree a ``Column`` chain would build."""
    if isinstance(region, BoxRegion):
        pred = None
        for c, lo, hi in zip(coords, region.p1, region.p2):
            c = sql_ident(c)
            leg = f"({c} >= {sql_num(lo)} AND {c} < {sql_num(hi)})"
            pred = leg if pred is None else f"({pred} AND {leg})"
        return pred
    if isinstance(region, ConeRegion):
        ra, dec = (f"radians({sql_ident(c)})" for c in coords)
        ra0 = f"radians({sql_num(region.ra)})"
        dec0 = f"radians({sql_num(region.dec)})"
        cosr = sql_num(math.cos(math.radians(region.radius)))
        cos_sep = (
            f"((sin({dec}) * sin({dec0}))"
            f" + ((cos({dec}) * cos({dec0})) * cos({ra} - {ra0})))"
        )
        return f"({cos_sep} >= {cosr})"
    if isinstance(region, SkyboxRegion):
        ra = f"pmod({sql_ident(coords[0])}, {sql_num(360.0)})"
        dec = sql_ident(coords[1])
        decp = (
            f"({dec} >= {sql_num(region.dec_min)}"
            f" AND {dec} <= {sql_num(region.dec_max)})"
        )
        op = "OR" if region.wraps else "AND"
        rap = (
            f"({ra} >= {sql_num(region.ra_min)}"
            f" {op} {ra} <= {sql_num(region.ra_max)})"
        )
        return f"({decp} AND {rap})"
    if isinstance(region, FullSkyRegion):
        return "TRUE"
    raise TypeError(f"unsupported region {type(region).__name__}")


def bound_dataset(ds, region, select_by=None):
    from ..dataset import Dataset  # noqa: PLC0415

    df = ds.spark_df
    header = ds.header

    if isinstance(region, HealpixRegion):
        if PIXEL_COL not in df.columns:
            from .healpix import ang2pix_expr

            coords = find_coords(ds.columns, 2, select_by)
            pix = ang2pix_expr(region.nside, F.col(coords[0]), F.col(coords[1]))
            # the UDF pixel has no SQL text: project it under a hidden
            # name, filter on that, drop it (the plan Spark extracts
            # for a UDF inside a filter anyway)
            out = (
                df.withColumn("__bound_pix", pix)
                .filter(F.expr(sql_in("__bound_pix", region.pixels)))
                .drop("__bound_pix")
            )
        else:
            out = df.filter(F.expr(sql_in(sql_ident(PIXEL_COL), region.pixels)))
        return ds._clone(out, region=region)

    dims = 3 if isinstance(region, BoxRegion) else 2
    coords = find_coords(ds.columns, dims, select_by)
    exact = exact_predicate(region, coords)

    # Two-phase pruning via the ingest-time cell column. The exact
    # predicate already implies cell ∈ interior ∪ boundary (the cell walk
    # covers the region), so the INSET's only value is Parquet row-group /
    # partition pruning — worth evaluating ONLY when the cell column is
    # materialized in storage (sidecar-opened data). For a derived cell
    # expression the INSET would inline the whole morton chain per probe
    # and cost far more than the 6-comparison exact test it implies.
    if (
        dims == 3
        and CELL_COL in df.columns
        and header.box_size
        and header.extra.get("cell_materialized")
    ):
        level = int(header.extra.get("tree_level", 4))
        interior, boundary = region_to_cells(
            region, [0.0, 0.0, 0.0], float(header.box_size), level, dims=3
        )
        # interior ∪ (boundary ∧ exact) ≡ (cell ∈ interior∪boundary) ∧ exact
        # for a precise exact predicate: one INSET probe instead of two,
        # same rows, same row-group pruning on the clustered cell column.
        # No cells at all renders FALSE: the optimizer empties the scan.
        cells = sql_in(sql_ident(CELL_COL), interior + boundary)
        pred = f"{cells} AND {exact}"
        return ds._clone(df.filter(F.expr(pred)), region=region)

    # no spatial index: exact predicate only (still pushed to Parquet
    # row groups when data is clustered on the coordinate columns)
    return ds._clone(df.filter(F.expr(exact)), region=region)
