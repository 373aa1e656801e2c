"""halo_catalog: the paper's own path. A seeded HACC-like halo table
linked to its particles is ingested with stored octree cells and
written with ``oc.write`` at set-up; every op reopens it with
``oc.open``. References are DuckDB SQL over the generated raw files.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from . import gen
from .common import WorkloadBase, count_files

NAME = "halo_catalog"
# one round: one op in twelve writes (save_subset). The two costly
# kinds (evaluate, save_subset) are two ops in twelve, so in a run of 25
# to 45 ops the tail percentile (ten samples beyond it, p60 to p78)
# stays below them, among bound boxes whose log-uniform volumes spread
# their latencies evenly, rather than on the step up to the costly ops.
DECK = [
    "bound_box", "bound_box", "bound_box", "bound_box", "topk_mass",
    "topk_mass", "units_agg", "cascade", "mass_function", "sphere_counts",
    "evaluate", "save_subset",
]
WRITES = {"save_subset"}
SOURCE, CHILD = "halo_properties", "dm_particles"
CENTER = ("fof_halo_center_x", "fof_halo_center_y", "fof_halo_center_z")
HMF = {"bins": 20, "lo": 11.0, "hi": 15.0}  # halo_mass_function's defaults


def generate(rng, out_dir) -> None:
    halos, particles = gen.halo_tables(rng)
    gen.write_tables({"halos": halos, "particles": particles}, out_dir)


def _log_between(lo: float, hi: float, u: float) -> float:
    return math.exp(math.log(lo) + u * (math.log(hi) - math.log(lo)))


def _box(rng, vmin: float, vmax: float, u: float):
    """An axis-aligned box inside the periodic box whose volume is
    log-uniform (through ``u``) between ``vmin`` and ``vmax`` of the
    box volume, at a random place."""
    frac = _log_between(vmin, vmax, u)
    side = gen.BOX * frac ** (1 / 3)
    lo = rng.uniform(0, gen.BOX - side, 3)
    return tuple(float(v) for v in lo), tuple(float(v + side) for v in lo)


class Workload(WorkloadBase):
    name = NAME
    deck = DECK
    writes = WRITES
    # with one warm-up op per kind, the first third of the timed ops ran
    # 10-20 % slower than the rest, the first save_subset most of all
    warm_passes = 2

    def __init__(self, inputs: str, work: str):
        super().__init__(inputs, work)
        self.catalog = os.path.join(work, "catalog")
        self._u: dict[str, float] = {}

    def _spread(self, kind: str, rng) -> float:
        """Next point of a golden-ratio sequence in [0, 1), one sequence
        per op kind from a seeded start: any run of consecutive ops of a
        kind covers the parameter range evenly, so the share of cheap
        and costly parameters barely differs between seeds."""
        u = self._u.get(kind)
        u = rng.uniform() if u is None else (u + 0.6180339887498949) % 1.0
        self._u[kind] = u
        return u

    # -- set-up (timed into setup_s) -------------------------------------
    def prepare(self, spark) -> None:
        import opencosmo_spark as oc
        from opencosmo_spark import Cosmology, Dataset, OpenCosmoHeader
        from opencosmo_spark.io.ingest import ingest_snapshot
        from opencosmo_spark.units import parse_unit

        header = OpenCosmoHeader(
            cosmology=Cosmology(), box_size=gen.BOX, redshift=gen.REDSHIFT,
            unit_convention="scalefree",
        )
        members = {}
        for name, raw, coords, units in (
            (SOURCE, "halos", CENTER, gen.HALO_UNITS),
            (CHILD, "particles", ("x", "y", "z"), gen.PARTICLE_UNITS),
        ):
            df = spark.read.parquet(os.path.join(self.inputs, f"{raw}.parquet"))
            df = ingest_snapshot(df, coords, gen.BOX, cluster=False)
            members[name] = Dataset(
                df, header=header, units={c: parse_unit(u) for c, u in units.items()}
            )
        cat = oc.StructureCollection.from_members(members)
        oc.write(self.catalog, cat, overwrite=True)
        oc.open(self.catalog).source.spark_df.count()

    # -- ops ---------------------------------------------------------------
    def params(self, kind: str, rng) -> dict:
        u = self._spread(kind, rng)
        if kind == "bound_box":
            lo, hi = _box(rng, 0.001, 0.3, u)
            return {"lo": lo, "hi": hi}
        if kind == "topk_mass":
            return {"cut": _log_between(1e11, 10**13.5, u), "k": int(rng.choice([10, 100]))}
        if kind == "units_agg":
            return {"cut": _log_between(1e11, 1e14, u)}
        if kind == "cascade":
            return {"cut": _log_between(1e13, 10**14.5, u)}
        if kind == "mass_function":
            lo, hi = _box(rng, 0.01, 0.3, u)
            return {"lo": lo, "hi": hi}
        if kind == "sphere_counts":
            lo, hi = _box(rng, 0.001, 0.01, u)
            return {"lo": lo, "hi": hi}
        if kind == "evaluate":
            lo, hi = _box(rng, 0.0005, 0.002, u)
            return {"lo": lo, "hi": hi, "cut": 1e12}
        if kind == "save_subset":
            lo, hi = _box(rng, 0.001, 0.02, u)
            return {"lo": lo, "hi": hi}
        raise KeyError(kind)

    def run(self, spark, tr, kind: str, p: dict) -> pd.DataFrame:
        import opencosmo_spark as oc
        from opencosmo_spark import col, make_box

        if kind == "bound_box":
            with tr.span("io.open"):
                ds = oc.open(os.path.join(self.catalog, CHILD))
            with tr.span("spatial.bound"):
                ds = ds.bound(make_box(p["lo"], p["hi"]))
            df = ds.spark_df.agg(
                F.count(F.lit(1)).alias("n"), F.sum("id").alias("sum_id")
            )
            out = tr.collect(df)
            tr.count("spatial.rows_returned", float(out["n"].iloc[0]))
            return out
        if kind == "sphere_counts":
            return self._sphere_counts(tr, make_box(p["lo"], p["hi"]))
        with tr.span("io.open"):
            cat = oc.open(self.catalog)
        mass = col("fof_halo_mass")
        if kind == "topk_mass":
            with tr.span("dataset.verbs"):
                ds = (
                    cat.source.filter(mass > p["cut"])
                    .sort_by("fof_halo_mass", invert=True)
                    .take(p["k"])
                    .select("fof_halo_mass")
                )
                df = ds.get_data("spark")
            return tr.collect(df)
        if kind == "units_agg":
            with tr.span("units.with_units"):
                phys = cat.with_units("physical")
            with tr.span("dataset.verbs"):
                src = phys.source.filter(mass > p["cut"]).spark_df
            df = src.groupBy("block").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("fof_halo_mass").alias("mass"),
                F.sum("fof_halo_center_x").alias("x"),
                F.sum("sod_halo_radius").alias("r"),
            )
            return tr.collect(df)
        if kind == "cascade":
            with tr.span("collection.cascade"):
                parts = cat.filter(mass > p["cut"])[CHILD]
            df = parts.spark_df.agg(
                F.count(F.lit(1)).alias("n"), F.sum("id").alias("sum_id")
            )
            return tr.collect(df)
        if kind == "mass_function":
            from opencosmo_spark.analysis import halo_mass_function

            with tr.span("spatial.bound"):
                sel = cat.bound(make_box(p["lo"], p["hi"]))
            with tr.span("analysis.mass_function"):
                df = halo_mass_function(sel.source, **HMF)
            return tr.collect(df)
        if kind == "evaluate":
            with tr.span("spatial.bound"):
                sel = cat.bound(make_box(p["lo"], p["hi"]))
            with tr.span("dataset.verbs"):
                sel = sel.filter(mass > p["cut"])

            def profile(halo, particles):
                dx = particles["x"].to_numpy(np.float64) - float(halo["fof_halo_center_x"])
                return {"n": int(len(particles)), "mean_dx": float(dx.mean())}

            tr.mark_action()
            with tr.span("collection.evaluate"):
                res = sel.evaluate(profile, CHILD)
            return tr.collect(res.spark_df)
        if kind == "save_subset":
            path = self.out_path("subset")
            with tr.span("spatial.bound"):
                sel = cat.bound(make_box(p["lo"], p["hi"]))
                members = {SOURCE: sel.source, CHILD: sel[CHILD]}
            tr.mark_action()
            with tr.span("io.write"):
                for name, ds in members.items():
                    oc.write(os.path.join(path, name), ds)
            tr.count("io.files_written", float(count_files(path)))
            with tr.span("io.open"):
                back = oc.open(os.path.join(path, SOURCE), os.path.join(path, CHILD))
            halos = back.source.spark_df.agg(
                F.count(F.lit(1)).alias("n"), F.sum("fof_halo_tag").alias("s")
            ).withColumn("what", F.lit("halos"))
            parts = back[CHILD].spark_df.agg(
                F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
            ).withColumn("what", F.lit("particles"))
            return tr.collect(halos.unionByName(parts))
        raise KeyError(kind)

    def _sphere_counts(self, tr, box) -> pd.DataFrame:
        """Particles within each halo's radius, both sides bounded to
        ``box``: a range join on x (binned by 1 Mpc/h), then the exact
        distance test."""
        import opencosmo_spark as oc
        from opencosmo_spark.joins import point_in_interval_join

        with tr.span("io.open"):
            halos = oc.open(os.path.join(self.catalog, SOURCE))
            parts = oc.open(os.path.join(self.catalog, CHILD))
        with tr.span("spatial.bound"):
            halos, parts = halos.bound(box), parts.bound(box)
        d = lambda c: F.col(c).cast("double")  # noqa: E731
        h = halos.spark_df.select(
            "fof_halo_tag",
            *[d(c).alias(c) for c in CENTER],
            d("sod_halo_radius").alias("r"),
            (d(CENTER[0]) - d("sod_halo_radius")).alias("x_lo"),
            (d(CENTER[0]) + d("sod_halo_radius")).alias("x_hi"),
        )
        q = parts.spark_df.select(*[d(c).alias(c) for c in ("x", "y", "z")])
        with tr.span("joins.range_join"):
            j = point_in_interval_join(q, h, "x", "x_lo", "x_hi", bin_width=1)
        dist2 = sum(
            ((F.col(a) - F.col(c)) * (F.col(a) - F.col(c)) for a, c in zip("xyz", CENTER)),
            F.lit(0.0),
        )
        df = j.filter(dist2 < F.col("r") * F.col("r")).groupBy("fof_halo_tag").agg(
            F.count(F.lit(1)).alias("n")
        )
        return tr.collect(df)

    # -- references (untimed) ----------------------------------------------
    def expected(self, con, kind: str, p: dict) -> pd.DataFrame:
        halos = f"'{os.path.join(self.inputs, 'halos.parquet')}'"
        parts = f"'{os.path.join(self.inputs, 'particles.parquet')}'"
        m = "CAST(fof_halo_mass AS DOUBLE)"
        if kind == "bound_box":
            return con.sql(
                f"SELECT count(*) AS n, sum(id) AS sum_id FROM {parts} "
                f"WHERE {_in_box(('x', 'y', 'z'), p)}"
            ).df()
        if kind == "topk_mass":
            return con.sql(
                f"SELECT fof_halo_mass FROM {halos} WHERE {m} > {p['cut']!r} "
                f"ORDER BY fof_halo_mass DESC LIMIT {p['k']}"
            ).df()
        if kind == "units_agg":
            from opencosmo_spark import Cosmology

            h = Cosmology().h
            a = 1.0 / (1.0 + gen.REDSHIFT)
            # scalefree -> physical: Msun/h times h^-1; Mpc/h times h^-1 a
            return con.sql(
                f"SELECT block, count(*) AS n, "
                f"sum({m} * {h ** -1.0!r}) AS mass, "
                f"sum(CAST(fof_halo_center_x AS DOUBLE) * {h ** -1.0!r} * {a!r}) AS x, "
                f"sum(CAST(sod_halo_radius AS DOUBLE) * {h ** -1.0!r} * {a!r}) AS r "
                f"FROM {halos} WHERE {m} * {h ** -1.0!r} > {p['cut']!r} GROUP BY block"
            ).df()
        if kind == "cascade":
            return con.sql(
                f"SELECT count(*) AS n, sum(id) AS sum_id FROM {parts} WHERE halo_tag IN "
                f"(SELECT fof_halo_tag FROM {halos} WHERE {m} > {p['cut']!r})"
            ).df()
        if kind == "mass_function":
            width = (HMF["hi"] - HMF["lo"]) / HMF["bins"]
            b = (
                f"CAST(greatest(-1, least({HMF['bins']}, floor((log10({m}) - {HMF['lo']!r})"
                f" / {width!r}))) AS BIGINT)"
            )
            return con.sql(
                f"SELECT bin, count(*) AS n, {HMF['lo']!r} + bin * {width!r} AS log_mass_lo "
                f"FROM (SELECT {b} AS bin FROM {halos} WHERE {_in_box(CENTER, p)}) GROUP BY bin"
            ).df()
        if kind == "sphere_counts":
            dx = " + ".join(
                f"(CAST({a} AS DOUBLE) - CAST({c} AS DOUBLE)) * (CAST({a} AS DOUBLE) - CAST({c} AS DOUBLE))"
                for a, c in zip("xyz", CENTER)
            )
            r = "CAST(sod_halo_radius AS DOUBLE)"
            return con.sql(
                f"SELECT fof_halo_tag, count(*) AS n "
                f"FROM (SELECT * FROM {halos} WHERE {_in_box(CENTER, p)}) h "
                f"JOIN (SELECT * FROM {parts} WHERE {_in_box(('x', 'y', 'z'), p)}) q "
                f"ON CAST(x AS DOUBLE) >= CAST({CENTER[0]} AS DOUBLE) - {r} "
                f"AND CAST(x AS DOUBLE) < CAST({CENTER[0]} AS DOUBLE) + {r} "
                f"WHERE 0.0 + {dx} < {r} * {r} GROUP BY 1"
            ).df()
        if kind == "evaluate":
            return con.sql(
                f"SELECT h.fof_halo_tag, count(*) AS n, "
                f"avg(CAST(x AS DOUBLE) - CAST(fof_halo_center_x AS DOUBLE)) AS mean_dx "
                f"FROM {halos} h JOIN {parts} q ON q.halo_tag = h.fof_halo_tag "
                f"WHERE {_in_box(CENTER, p)} AND {m} > {p['cut']!r} GROUP BY 1"
            ).df()
        if kind == "save_subset":
            sel = f"SELECT * FROM {halos} WHERE {_in_box(CENTER, p)}"
            return con.sql(
                f"SELECT count(*) AS n, sum(fof_halo_tag) AS s, 'halos' AS what FROM ({sel}) "
                f"UNION ALL SELECT count(*), sum(id), 'particles' FROM {parts} "
                f"WHERE halo_tag IN (SELECT fof_halo_tag FROM ({sel}))"
            ).df()
        raise KeyError(kind)


def _in_box(coords, p) -> str:
    return " AND ".join(
        f"CAST({c} AS DOUBLE) >= {lo!r} AND CAST({c} AS DOUBLE) < {hi!r}"
        for c, lo, hi in zip(coords, p["lo"], p["hi"])
    )
