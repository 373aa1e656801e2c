"""Shared fixtures: one SparkSession + deterministic cosmology-shaped
synthetic tables (FIXTURES.md schemas, seeded numpy) written through
the engine's own io layer so open/write are exercised everywhere.
"""

from __future__ import annotations

import os
import shutil
import sys
import uuid

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opencosmo_spark import Cosmology, Dataset, OpenCosmoHeader, get_spark
from opencosmo_spark.io import write_dataset
from opencosmo_spark.io.ingest import ingest_lightcone, ingest_snapshot
from opencosmo_spark.units import parse_unit

BOX = 64.0
N_HALOS = 2000
SEED = 42
FIXDIR = "/tmp/ocs_fixtures_v6"


@pytest.fixture(scope="session")
def spark():
    # local[8], not local[cpu_count]: the suite is thousands of
    # tiny-data jobs where a 32-slot session pays 32-task scheduling
    # and Python-worker spawn storms per job — measured 26% faster at
    # 8 cores on the graph+pairs subset, and the driver's verify
    # window was truncating on the 41-minute suite (r15).
    # SPARK_GRAFT_TEST_CPUS overrides for scaling experiments.
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")
    s = get_spark("tests", master=f"local[{cpus}]", shuffle_partitions=8)
    yield s


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` in its own job group and returns
    (its result, the number of Spark jobs it started); with ``name``,
    only the jobs of that name (the status store's job name)."""
    sc = spark.sparkContext

    def run(fn, name=None):
        # a group keeps its jobs for the life of the app: one per call
        group = f"count_jobs-{uuid.uuid4()}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
            # the status store is fed by the listener bus: drain it first
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids = sc.statusTracker().getJobIdsForGroup(group)
            if name is not None:
                store = sc._jsc.sc().statusStore()
                ids = [i for i in ids if store.job(i).name() == name]
            return out, len(ids)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return run


@pytest.fixture
def cached_rdd_ids(spark):
    """``cached_rdd_ids()`` is the set of RDD ids pinned by a persist.
    Locally checkpointed RDDs are persisted too, but hold a lineage cut
    that lives until the driver garbage-collects its frame; they are
    left out."""
    sc = spark.sparkContext

    def ids():
        return {
            k for k, rdd in sc._jsc.getPersistentRDDs().items()
            if not rdd.isCheckpointed()
        }

    return ids


@pytest.fixture
def checkpoint_rdd_ids(spark):
    """``checkpoint_rdd_ids()`` is the set of locally checkpointed RDD
    ids whose blocks are still stored."""
    sc = spark.sparkContext

    def ids():
        return {
            k for k, rdd in sc._jsc.getPersistentRDDs().items()
            if rdd.isCheckpointed()
        }

    return ids


def _halo_frame(rng: np.random.Generator) -> pd.DataFrame:
    n = N_HALOS
    mass = 10 ** rng.uniform(11, 15, n)
    sod = np.where(rng.uniform(size=n) < 0.8, mass * 0.9, -101.0)
    center = rng.uniform(0, BOX, (n, 3))
    return pd.DataFrame(
        {
            "fof_halo_tag": np.arange(1000, 1000 + n, dtype=np.int64),
            "unique_tag": np.arange(n, dtype=np.int64) * 7 + 3,
            "block": rng.integers(0, 8, n).astype(np.int32),
            "fof_halo_mass": mass.astype(np.float32),
            "sod_halo_mass": sod.astype(np.float32),
            "fof_halo_center_x": center[:, 0].astype(np.float32),
            "fof_halo_center_y": center[:, 1].astype(np.float32),
            "fof_halo_center_z": center[:, 2].astype(np.float32),
            "fof_halo_com_vx": rng.normal(0, 300, n).astype(np.float32),
            "fof_halo_com_vy": rng.normal(0, 300, n).astype(np.float32),
            "fof_halo_com_vz": rng.normal(0, 300, n).astype(np.float32),
            "fof_halo_1D_vel_disp": np.abs(rng.normal(200, 50, n)).astype(np.float32),
            "sod_halo_radius": np.abs(rng.normal(1.0, 0.3, n)).astype(np.float32) + 0.05,
            "fof_halo_center_a": rng.uniform(0.8, 1.0, n).astype(np.float32),
        }
    )


def _particles_frame(rng, halos: pd.DataFrame) -> pd.DataFrame:
    sizes = rng.zipf(1.8, N_HALOS)
    sizes = np.clip(sizes, 0, 60)
    sizes[rng.uniform(size=N_HALOS) < 0.2] = 0
    tags = np.repeat(halos["fof_halo_tag"].to_numpy(), sizes)
    n = len(tags)
    cx = np.repeat(halos["fof_halo_center_x"].to_numpy(), sizes)
    cy = np.repeat(halos["fof_halo_center_y"].to_numpy(), sizes)
    cz = np.repeat(halos["fof_halo_center_z"].to_numpy(), sizes)
    r = np.repeat(halos["sod_halo_radius"].to_numpy(), sizes)
    return pd.DataFrame(
        {
            "halo_tag": tags,
            "id": np.arange(n, dtype=np.int64),
            "x": (cx + rng.normal(0, r * 0.5, n)).astype(np.float32) % BOX,
            "y": (cy + rng.normal(0, r * 0.5, n)).astype(np.float32) % BOX,
            "z": (cz + rng.normal(0, r * 0.5, n)).astype(np.float32) % BOX,
            "vx": rng.normal(0, 200, n).astype(np.float32),
            "vy": rng.normal(0, 200, n).astype(np.float32),
            "vz": rng.normal(0, 200, n).astype(np.float32),
            "mass": np.full(n, 1.2e9, dtype=np.float32),
            "phi": (-np.abs(rng.normal(5e4, 2e4, n))).astype(np.float32),
        }
    )


def _galaxy_frame(rng, halos: pd.DataFrame) -> pd.DataFrame:
    n = 800
    hosts = rng.choice(halos["fof_halo_tag"].to_numpy(), n)
    return pd.DataFrame(
        {
            "gal_tag": np.arange(50_000, 50_000 + n, dtype=np.int64),
            "fof_halo_tag": hosts,
            "gal_mass_star": (10 ** rng.uniform(8, 11, n)).astype(np.float32),
            "gal_mass_bar": (10 ** rng.uniform(8, 11.5, n)).astype(np.float32),
        }
    )


def _profiles_frame(rng, halos: pd.DataFrame) -> pd.DataFrame:
    mask = rng.uniform(size=N_HALOS) < 0.9
    tags = halos["fof_halo_tag"].to_numpy()[mask]
    n = len(tags)
    bins = np.cumsum(rng.uniform(0.01, 0.2, (n, 20)), axis=1)
    return pd.DataFrame(
        {
            "fof_halo_bin_tag": tags,
            "sod_halo_bin_radius": list(bins.astype(np.float32)),
            "sod_halo_bin_count": list(rng.integers(1, 500, (n, 20)).astype(np.float32)),
            "sod_halo_bin_cdm_fraction": list(
                rng.uniform(0, 1, (n, 20)).astype(np.float32)
            ),
        }
    )


def _lightcone_frame(rng) -> pd.DataFrame:
    frames = []
    for step, (zlo, zhi) in ((600, (0.05, 0.10)), (601, (0.10, 0.15))):
        n = 2000
        dec = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
        frames.append(
            pd.DataFrame(
                {
                    "step": np.full(n, step, dtype=np.int32),
                    "fof_halo_tag": np.arange(n, dtype=np.int64) + step * 100_000,
                    "ra": rng.uniform(0, 360, n),
                    "dec": dec,
                    "redshift": rng.uniform(zlo, zhi, n),
                    "fof_halo_mass": (10 ** rng.uniform(11, 15, n)).astype(np.float32),
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def _healpix_frame(rng) -> pd.DataFrame:
    nside = 32
    npix = 12 * nside * nside
    pix = np.sort(rng.choice(npix, 6000, replace=False)).astype(np.int64)
    return pd.DataFrame(
        {
            "pixel": pix,
            "tsz": np.abs(rng.normal(1e-6, 5e-7, len(pix))),
            "ksz": rng.normal(0, 1e-6, len(pix)),
        }
    )


HALO_UNITS = {
    "fof_halo_mass": "Msun/h",
    "sod_halo_mass": "Msun/h",
    "fof_halo_center_x": "Mpc/h",
    "fof_halo_center_y": "Mpc/h",
    "fof_halo_center_z": "Mpc/h",
    "fof_halo_com_vx": "km/s",
    "fof_halo_com_vy": "km/s",
    "fof_halo_com_vz": "km/s",
    "fof_halo_1D_vel_disp": "km/s",
    "sod_halo_radius": "Mpc/h",
}
PARTICLE_UNITS = {
    "x": "Mpc/h", "y": "Mpc/h", "z": "Mpc/h",
    "vx": "km/s", "vy": "km/s", "vz": "km/s",
    "mass": "Msun/h", "phi": "(km/s)^2",
}


@pytest.fixture(scope="session")
def fixtures(spark):
    """Generate (once per machine per version) and return the dir."""
    marker = os.path.join(FIXDIR, ".complete")
    if os.path.exists(marker):
        return FIXDIR
    shutil.rmtree(FIXDIR, ignore_errors=True)
    os.makedirs(FIXDIR)
    rng = np.random.default_rng(SEED)
    halos_pdf = _halo_frame(rng)
    header = OpenCosmoHeader(
        cosmology=Cosmology(),
        box_size=BOX,
        redshift=0.1,
        unit_convention="scalefree",
    )

    halos_df = ingest_snapshot(
        spark.createDataFrame(halos_pdf),
        ("fof_halo_center_x", "fof_halo_center_y", "fof_halo_center_z"),
        BOX,
        partitions=4,
    )
    halos = Dataset(
        halos_df,
        header=header,
        units={c: parse_unit(u) for c, u in HALO_UNITS.items()},
    )
    write_dataset(os.path.join(FIXDIR, "halo_properties"), halos)

    parts_pdf = _particles_frame(rng, halos_pdf)
    parts_df = ingest_snapshot(
        spark.createDataFrame(parts_pdf), ("x", "y", "z"), BOX, partitions=4
    )
    parts = Dataset(
        parts_df,
        header=header,
        units={c: parse_unit(u) for c, u in PARTICLE_UNITS.items()},
    )
    write_dataset(os.path.join(FIXDIR, "dm_particles"), parts)

    gals = Dataset(
        spark.createDataFrame(_galaxy_frame(rng, halos_pdf)),
        header=header,
        units={"gal_mass_star": parse_unit("Msun/h"), "gal_mass_bar": parse_unit("Msun/h")},
    )
    write_dataset(os.path.join(FIXDIR, "galaxy_properties"), gals)

    profs = Dataset(spark.createDataFrame(_profiles_frame(rng, halos_pdf)), header=header)
    write_dataset(os.path.join(FIXDIR, "halo_profiles"), profs)

    lc_pdf = _lightcone_frame(rng)
    lc_df = ingest_lightcone(spark.createDataFrame(lc_pdf), nside=64)
    from opencosmo_spark.collection.lightcone import Lightcone

    lc_header = header.with_(data_type="lightcone", extra={"nside": 64})
    lc = Lightcone(
        lc_df,
        header=lc_header,
        units={"fof_halo_mass": parse_unit("Msun/h"), "ra": parse_unit("deg"), "dec": parse_unit("deg")},
    )
    write_dataset(os.path.join(FIXDIR, "lightcone"), lc)

    from opencosmo_spark.collection.healpix_map import HealpixMap

    hm = HealpixMap(
        spark.createDataFrame(_healpix_frame(rng)),
        nside=32,
        header=header.with_(data_type="healpix_map"),
    )
    write_dataset(os.path.join(FIXDIR, "healpix_map"), hm)

    with open(marker, "w") as f:
        f.write("ok")
    return FIXDIR
