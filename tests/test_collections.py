"""Collection tests (reference test/test_collection.py,
test_structure_collection.py, test_lightcone.py, test_healpixmap.py
analogs): link cascades, per-structure evaluation, lightcone pruning,
healpix degrade — all against pandas/numpy oracles.
"""

import numpy as np
import pandas as pd
import pytest

import opencosmo_spark as oc
from opencosmo_spark import col


@pytest.fixture(scope="module")
def coll(spark, fixtures):
    return oc.open(
        f"{fixtures}/halo_properties",
        f"{fixtures}/dm_particles",
        f"{fixtures}/galaxy_properties",
    )


@pytest.fixture(scope="module")
def raw(coll):
    return {
        "halos": coll.source.get_data("pandas"),
        "particles": coll["dm_particles"].get_data("pandas"),
        "galaxies": coll["galaxy_properties"].get_data("pandas"),
    }


def test_link_inference(coll):
    assert coll.source_name == "halo_properties"
    assert coll.links["dm_particles"].child_key == "halo_tag"
    assert coll.links["galaxy_properties"].child_key == "fof_halo_tag"


def test_filter_cascade(coll, raw):
    """Filtering halos narrows particles to surviving tags only
    (reference handler.py:187-333)."""
    f = coll.filter(col("fof_halo_mass") > 1e13)
    surviving = set(
        raw["halos"][raw["halos"].fof_halo_mass > 1e13].fof_halo_tag
    )
    parts = f["dm_particles"].get_data("pandas")
    assert set(parts.halo_tag).issubset(surviving)
    expected = raw["particles"][raw["particles"].halo_tag.isin(surviving)]
    assert len(parts) == len(expected)


def test_filter_on_child(coll, raw):
    """filter(on=galaxies) keeps halos with a massive galaxy
    (reference structure.py:860-927)."""
    f = coll.filter(col("gal_mass_star") > 1e10, on="galaxy_properties")
    hosts = set(
        raw["galaxies"][raw["galaxies"].gal_mass_star > 1e10].fof_halo_tag
    )
    kept = set(f.source.get_data("pandas").fof_halo_tag)
    assert kept == (hosts & set(raw["halos"].fof_halo_tag))


def test_take_cascades(coll):
    t = coll.take(5, at="start")
    tags = set(t.source.get_data("pandas").fof_halo_tag)
    parts = t["dm_particles"].get_data("pandas")
    assert set(parts.halo_tag).issubset(tags)


def test_objects_iteration(coll, raw):
    f = coll.sort_by("fof_halo_mass", invert=True).take(5)
    seen = 0
    for row, children in f.objects(["dm_particles"]):
        seen += 1
        expected = raw["particles"][raw["particles"].halo_tag == row["fof_halo_tag"]]
        assert len(children["dm_particles"]) == len(expected)
    assert seen == 5


def test_objects_streaming_matches_collected(coll):
    """batch_size path (toLocalIterator + per-batch key-pruned child
    fetch) must yield the same structures as the one-pass collect —
    only driver memory differs (O(batch children) vs O(all children))."""
    f = coll.sort_by("fof_halo_mass", invert=True).take(12)
    bulk = {
        row["fof_halo_tag"]: len(ch["dm_particles"])
        for row, ch in f.objects(["dm_particles"])
    }
    streamed = {}
    for row, ch in f.objects(["dm_particles"], batch_size=5):
        assert row["fof_halo_tag"] not in streamed  # no duplicates
        streamed[row["fof_halo_tag"]] = len(ch["dm_particles"])
    assert streamed == bulk


def test_objects_auto_streams_large_selections(coll):
    """A selection above auto_stream_threshold must warn and fall
    through to the bounded-memory streaming path — yielding exactly
    the same structures as the collect-once default."""
    import warnings

    f = coll.sort_by("fof_halo_mass", invert=True).take(12)
    bulk = {
        row["fof_halo_tag"]: len(ch["dm_particles"])
        for row, ch in f.objects(["dm_particles"])
    }
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        auto = {
            row["fof_halo_tag"]: len(ch["dm_particles"])
            for row, ch in f.objects(
                ["dm_particles"], auto_stream_threshold=3
            )
        }
    assert auto == bulk
    assert any(
        "auto_stream_threshold" in str(w.message) for w in caught
    ), [str(w.message) for w in caught]


def test_evaluate_per_structure(coll, raw):
    """Per-halo particle count + mean |v| vs pandas groupby oracle."""

    def stats(halo, particles, **kw):
        v = np.sqrt(
            particles.vx.to_numpy() ** 2
            + particles.vy.to_numpy() ** 2
            + particles.vz.to_numpy() ** 2
        )
        return {"n_parts": len(particles), "mean_speed": float(v.mean())}

    res = coll.evaluate(stats, dataset="dm_particles").get_data("pandas")
    p = raw["particles"]
    oracle = (
        p.assign(speed=np.sqrt(p.vx**2 + p.vy**2 + p.vz**2))
        .groupby("halo_tag")
        .agg(n=("id", "size"), ms=("speed", "mean"))
    )
    merged = res.set_index("fof_halo_tag").join(oracle, how="inner")
    assert len(merged) == len(res)
    np.testing.assert_array_equal(merged.n_parts, merged.n)
    np.testing.assert_allclose(merged.mean_speed, merged.ms, rtol=1e-5)


def test_evaluate_insert(coll):
    def count_parts(halo, particles, **kw):
        return {"n_parts": len(particles)}

    out = coll.evaluate(count_parts, dataset="dm_particles", insert=True)
    src = out.source.get_data("pandas")
    assert "n_parts" in src.columns


def test_write_roundtrip_collection(coll, spark, tmp_path):
    f = coll.filter(col("fof_halo_mass") > 5e13)
    path = str(tmp_path / "coll_out")
    oc.write(path, f)
    # the members open with their stored schemas: no inference job
    sc = spark.sparkContext
    sc.setJobGroup("open_written_collection", "oc.open")
    try:
        re = oc.open(path)
        assert sc.statusTracker().getJobIdsForGroup("open_written_collection") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(re) == len(f)
    a = f["dm_particles"].get_data("pandas").sort_values("id").reset_index(drop=True)
    b = re["dm_particles"].get_data("pandas").sort_values("id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_like=True)


def test_conditional_load_flags(coll, spark, tmp_path):
    # reference io/iopen.py:638-657 — members with load_if conditions
    # open only when the user flag matches (missing flags are False)
    path = str(tmp_path / "coll_flags")
    oc.write(path, coll)
    import json, os

    hfile = os.path.join(path, "dm_particles", "header.json")
    side = json.load(open(hfile))
    side["header"]["extra"]["load_if"] = {"with_particles": True}
    json.dump(side, open(hfile, "w"))

    default = oc.open(path)
    assert "dm_particles" not in default.members()
    flagged = oc.open(path, with_particles=True)
    assert "dm_particles" in flagged.members()


# ---------------------------------------------------------------------
# lightcone
# ---------------------------------------------------------------------
def test_lightcone_zrange(spark, fixtures):
    lc = oc.open(f"{fixtures}/lightcone")
    raw = lc.get_data("pandas")
    out = lc.with_redshift_range(0.08, 0.12)
    expected = np.sum((raw.redshift >= 0.08) & (raw.redshift < 0.12))
    assert len(out) == expected
    # within one step's range: only that step survives
    assert lc.with_steps([600]).steps == [600]


def test_lightcone_union_is_single_frame(spark, fixtures):
    lc = oc.open(f"{fixtures}/lightcone")
    assert lc.steps == [600, 601]
    assert len(lc) == 4000


def test_lightcone_scope_global_zscore(spark, fixtures):
    """Global scalar over the whole lightcone (reference
    test_lc_scope_global_zscore:595)."""
    lc = oc.open(f"{fixtures}/lightcone")
    z = lc.select(
        "fof_halo_tag",
        zz=(col("fof_halo_mass") - col("fof_halo_mass").mean())
        / col("fof_halo_mass").std(),
    ).get_data("pandas")
    assert abs(z.zz.mean()) < 1e-9
    assert abs(z.zz.std(ddof=0) - 1) < 1e-9


# ---------------------------------------------------------------------
# healpix map
# ---------------------------------------------------------------------
def test_healpix_degrade(spark, fixtures):
    hm = oc.open(f"{fixtures}/healpix_map")
    raw = hm.get_data("pandas")
    deg = hm.with_resolution(16)
    assert deg.nside == 16
    out = deg.get_data("pandas").set_index("pixel")
    oracle = raw.assign(parent=raw.pixel // 4).groupby("parent")[["tsz", "ksz"]].mean()
    merged = out.join(oracle, how="inner", rsuffix="_o")
    assert len(merged) == len(out)
    np.testing.assert_allclose(merged.tsz, merged.tsz_o, rtol=1e-9)
    np.testing.assert_allclose(merged.ksz, merged.ksz_o, rtol=1e-9)


def test_healpix_bound_cone(spark, fixtures):
    from opencosmo_spark.spatial.healpix import pix2radec_nest

    hm = oc.open(f"{fixtures}/healpix_map")
    out = hm.cone_search(90.0, 45.0, 20.0)
    pix = out.get_data("pandas").pixel.to_numpy()
    assert len(pix) > 0
    ra, dec = pix2radec_nest(32, pix)
    from opencosmo_spark.spatial.region import ConeRegion

    # all surviving pixel centers within radius + one pixel diagonal
    region = ConeRegion(90.0, 45.0, 23.0)
    assert all(region.contains_point(r, d) for r, d in zip(ra, dec))


def test_healpix_full_sky(spark, fixtures):
    hm = oc.open(f"{fixtures}/healpix_map")
    full = hm.to_full_sky()
    assert len(full) == 12 * 32 * 32


def test_healpix_map_format_dense_masked(spark, fixtures):
    """get_data('healpix'): dense float32 per value column, masked
    where the partial-sky map has no coverage (reference
    healpix_map.py:380-404 semantics, numpy-only)."""
    hm = oc.open(f"{fixtures}/healpix_map")
    pdf = hm.get_data("pandas")
    out = hm.get_data("healpix")
    npix = 12 * 32 * 32
    assert set(out) == {"tsz", "ksz"}
    arr = out["tsz"]
    assert arr.shape == (npix,)
    # 6000 of 12288 pixels covered -> masked array
    assert np.ma.isMaskedArray(arr)
    assert int((~arr.mask).sum()) == len(pdf)
    np.testing.assert_allclose(
        np.asarray(arr)[pdf.pixel.to_numpy()],
        pdf.tsz.to_numpy(dtype=np.float32),
        rtol=1e-6,
    )


def test_healpix_map_format_single_column_and_degrade(spark, fixtures):
    hm = oc.open(f"{fixtures}/healpix_map").drop("ksz")
    # one value column -> the bare array, not a dict
    arr = hm.get_data("healpix")
    assert arr.shape == (12 * 32 * 32,)
    # nside_out degrades first (reference :362-364)
    coarse = hm.get_data("healpix", nside_out=16)
    assert coarse.shape == (12 * 16 * 16,)


def test_healsparse_format_gated(spark, fixtures):
    """healsparse output is import-gated: with the lib absent the error
    names the dependency; with it present, returns sparse maps."""
    hm = oc.open(f"{fixtures}/healpix_map")
    try:
        import healsparse  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="healsparse"):
            hm.get_data("healsparse")
    else:  # pragma: no cover - lib not in this image
        maps = hm.get_data("healsparse")
        assert set(maps) == {"tsz", "ksz"}


# ---------------------------------------------------------------------
# simulation collection
# ---------------------------------------------------------------------
def test_simulation_broadcast(spark, fixtures):
    from opencosmo_spark.collection.simulation import SimulationCollection

    a = oc.open(f"{fixtures}/halo_properties")
    sc = SimulationCollection({"simA": a, "simB": a})
    f = sc.filter(col("fof_halo_mass") > 1e13)
    assert set(f.keys()) == {"simA", "simB"}
    assert len(f["simA"]) == len(f["simB"]) == len(a.filter(col("fof_halo_mass") > 1e13))


def test_collection_wide_units(coll, raw):
    """with_units on the collection converts source AND every child
    (reference structure.py:1143-1243): scalefree -> physical divides
    out littleh powers on h-carrying columns."""
    phys = coll.with_units("physical")
    h = coll.source.header.cosmology.H0 / 100.0

    src_sf = raw["halos"]
    src_ph = phys.source.get_data("pandas")
    # fof_halo_mass carries Msun/h -> physical divides by h
    # float32 source columns: compare at float32 precision
    np.testing.assert_allclose(
        src_ph.fof_halo_mass, src_sf.fof_halo_mass / h, rtol=1e-6
    )
    part_sf = raw["particles"]
    part_ph = phys["dm_particles"].get_data("pandas")
    # comoving length Mpc/h -> physical: x * a / h (a from header z)
    a = 1.0 / (1.0 + coll.source.header.redshift)
    np.testing.assert_allclose(
        np.sort(part_ph.x), np.sort(part_sf.x * a / h), rtol=1e-6
    )
    # unitless columns untouched
    pd.testing.assert_series_equal(src_ph.fof_halo_tag, src_sf.fof_halo_tag)


def test_stacked_radial_profile_recipe(spark, fixtures):
    """The reference's flagship analysis — stacked halo density
    profiles — expressed DataFrame-native from existing primitives:
    link particles to halo centers, radial bins via the periodic
    minimum-image distance, per-(halo, bin) counts, then stack over
    halos. Verified against a numpy computation on the same fixture.
    """
    import numpy as np
    from pyspark.sql import functions as F

    halos = oc.open(f"{fixtures}/halo_properties")
    parts = oc.open(f"{fixtures}/dm_particles")
    box = halos.header.box_size
    edges = [0.0, 0.2, 0.5, 1.0]

    h = halos.df.select(
        F.col("fof_halo_tag").alias("halo_tag"),
        F.col("fof_halo_center_x").alias("cx"),
        F.col("fof_halo_center_y").alias("cy"),
        F.col("fof_halo_center_z").alias("cz"),
    )
    joined = parts.df.join(h, "halo_tag")  # the 1:N structure link

    def mimg(a, b):
        d = F.col(a) - F.col(b)
        return d - F.lit(box) * F.round(d / F.lit(box), 0)

    dx, dy, dz = mimg("x", "cx"), mimg("y", "cy"), mimg("z", "cz")
    r = F.sqrt(dx * dx + dy * dy + dz * dz)
    b = F.lit(None).cast("int")
    for i in range(len(edges) - 1, 0, -1):
        b = F.when((r >= edges[i - 1]) & (r < edges[i]), F.lit(i - 1)).otherwise(b)
    per_halo = (
        joined.select(F.col("halo_tag"), b.alias("bin"))
        .filter(F.col("bin").isNotNull())
        .groupBy("halo_tag", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stacked = {
        r_["bin"]: r_["mean_n"]
        for r_ in per_halo.groupBy("bin")
        .agg(F.avg("n").alias("mean_n"))
        .collect()
    }

    # numpy twin over the same fixture data
    hp = halos.get_data("pandas")
    pp = parts.get_data("pandas")
    centers = hp.set_index("fof_halo_tag")[
        ["fof_halo_center_x", "fof_halo_center_y", "fof_halo_center_z"]
    ]
    c = centers.loc[pp.halo_tag].to_numpy()
    d = pp[["x", "y", "z"]].to_numpy() - c
    d = d - box * np.round(d / box)
    rr = np.sqrt((d**2).sum(axis=1))
    want = {}
    for i in range(len(edges) - 1):
        mask = (rr >= edges[i]) & (rr < edges[i + 1])
        if mask.sum() == 0:
            continue
        counts = (
            pp.loc[mask].groupby("halo_tag").size()
        )
        want[i] = counts.mean()
    assert set(stacked) == set(want)
    for i in want:
        assert stacked[i] == pytest.approx(want[i], rel=1e-9), i
    # the profile decreases outward in mean per-halo count density
    # (inner bins are denser per volume; raw counts just must exist)
    assert all(v > 0 for v in stacked.values())


def test_lightcone_to_cartesian_matches_scalar_cosmology(spark):
    """The JVM interpolation column agrees with the driver-side
    Cosmology.comoving_distance scalar API per row; geometry
    identities hold (|pos| == D_C, ra/dec round-trip); out-of-grid
    redshifts raise instead of extrapolating."""
    from opencosmo_spark.collection.lightcone import lightcone_to_cartesian
    from opencosmo_spark.header import Cosmology

    cosmo = Cosmology()
    rng = np.random.default_rng(59)
    n = 200
    ra = rng.uniform(0, 360, n)
    dec = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    z = rng.uniform(0.01, 1.5, n)
    df = spark.createDataFrame(
        [
            (i, float(r), float(d), float(zz))
            for i, (r, d, zz) in enumerate(zip(ra, dec, z))
        ],
        ["id", "ra", "dec", "redshift"],
    )
    out = (
        lightcone_to_cartesian(df, cosmo, h_units=False)
        .toPandas().set_index("id").sort_index()
    )
    want = np.array([cosmo.comoving_distance(float(zz)) for zz in z])
    assert np.allclose(out.comoving_distance.to_numpy(), want, rtol=5e-6)
    # geometry: |pos| == D, and angles round-trip
    pos = out[["x", "y", "z"]].to_numpy()
    assert np.allclose(
        np.linalg.norm(pos, axis=1), out.comoving_distance, rtol=1e-12
    )
    dec_back = np.degrees(np.arcsin(pos[:, 2] / np.linalg.norm(pos, axis=1)))
    assert np.allclose(dec_back, dec, atol=1e-9)
    ra_back = np.degrees(np.arctan2(pos[:, 1], pos[:, 0])) % 360.0
    assert np.allclose(ra_back, ra % 360.0, atol=1e-9)

    # h-units scale by h exactly
    outh = (
        lightcone_to_cartesian(df, cosmo, h_units=True)
        .toPandas().set_index("id").sort_index()
    )
    assert np.allclose(
        outh.comoving_distance.to_numpy(),
        out.comoving_distance.to_numpy() * cosmo.h,
        rtol=1e-12,
    )

    # out-of-grid refuses loudly
    bad = lightcone_to_cartesian(df, cosmo, z_max=1.0)
    with pytest.raises(Exception, match="redshift outside"):
        bad.collect()
    with pytest.raises(ValueError, match="n_knots"):
        lightcone_to_cartesian(df, cosmo, n_knots=2)
