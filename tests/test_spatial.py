"""Spatial tests (reference test/spatial/test_2d.py, test_3d.py
analogs): bound() results must equal the brute-force exact predicate —
the two-phase cell optimization must be semantically invisible.
"""

import numpy as np
import pytest

import opencosmo_spark as oc
from opencosmo_spark import make_box, make_cone, make_skybox


@pytest.fixture(scope="module")
def halos(spark, fixtures):
    return oc.open(f"{fixtures}/halo_properties")


@pytest.fixture(scope="module")
def lc(spark, fixtures):
    return oc.open(f"{fixtures}/lightcone")


def test_box_bound_equals_brute(halos):
    data = halos.get_data("numpy")
    x, y, z = (
        data["fof_halo_center_x"],
        data["fof_halo_center_y"],
        data["fof_halo_center_z"],
    )
    # a mid-sized box and one of ~30 % of the volume (1,452 cells)
    for p1, p2 in [
        ((10.0, 5.0, 20.0), (35.0, 50.0, 44.0)),
        ((0.0, 0.0, 0.0), (43.0, 43.0, 45.0)),
    ]:
        region = make_box(p1, p2)
        expected = np.sum(
            (x >= p1[0]) & (x < p2[0])
            & (y >= p1[1]) & (y < p2[1])
            & (z >= p1[2]) & (z < p2[2])
        )
        out = halos.bound(region)
        assert len(out) == expected
        assert out.region == region


def test_bound_driver_cost_is_constant_and_pushes_cells(spark, halos):
    """bound() compiles its cell set and exact test into one parsed
    predicate: a few py4j calls however many cells the box covers,
    and the Parquet scan still receives the whole cell set."""
    import re
    import threading

    from opencosmo_spark.spatial.octree import region_to_cells

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []
    me = threading.get_ident()

    def counted(*a, **k):
        # py4j's finalizer thread releases dead JVM references through
        # the same client; count only the calls bound() itself makes
        if threading.get_ident() == me:
            calls.append(1)
        return send(*a, **k)

    boxes = {
        8: ((30.0, 30.0, 30.0), (34.0, 34.0, 34.0)),
        216: ((10.0, 10.0, 10.0), (30.0, 30.0, 30.0)),
        1452: ((0.0, 0.0, 0.0), (43.0, 43.0, 45.0)),
    }
    for ncells, (p1, p2) in boxes.items():
        region = make_box(p1, p2)
        interior, boundary = region_to_cells(
            region, [0.0, 0.0, 0.0], halos.header.box_size, 4
        )
        cells = set(interior + boundary)
        assert len(cells) == ncells
        calls.clear()
        client.send_command = counted
        try:
            out = halos.bound(region)
        finally:
            client.send_command = send
        assert len(calls) <= 30, (ncells, len(calls))
        leaves = out.spark_df._jdf.queryExecution().sparkPlan().collectLeaves()
        pushed = [
            leaves.apply(i).metadata().apply("PushedFilters")
            for i in range(leaves.size())
            if "FileSourceScan" in leaves.apply(i).getClass().getName()
        ]
        assert len(pushed) == 1
        m = re.search(r"In\(__cell_id, \[([\d,]+)\]\)", pushed[0])
        assert m is not None, pushed[0]
        assert {int(v) for v in m.group(1).split(",")} == cells


def test_box_bound_small_region(halos):
    data = halos.get_data("numpy")
    region = make_box((30.0, 30.0, 30.0), (31.5, 31.5, 31.5))
    x, y, z = (
        data["fof_halo_center_x"],
        data["fof_halo_center_y"],
        data["fof_halo_center_z"],
    )
    expected = np.sum(
        (x >= 30) & (x < 31.5) & (y >= 30) & (y < 31.5) & (z >= 30) & (z < 31.5)
    )
    assert len(halos.bound(region)) == expected


def test_bound_nonoverlap(halos):
    region = make_box((100.0, 100.0, 100.0), (101.0, 101.0, 101.0))
    assert len(halos.bound(region)) == 0


def test_box_search_sugar(halos):
    a = halos.box_search((0, 0, 0), (32, 32, 32))
    b = halos.bound(make_box((0, 0, 0), (32, 32, 32)))
    assert len(a) == len(b)


def test_cone_search_equals_brute(lc):
    data = lc.get_data("pandas")
    region = make_cone((180.0, 20.0), 15.0)
    inside = np.array(
        [region.contains_point(r, d) for r, d in zip(data["ra"], data["dec"])]
    )
    out = lc.cone_search(180.0, 20.0, 15.0)
    assert len(out) == int(inside.sum())


def test_skybox_equals_brute(lc):
    data = lc.get_data("pandas")
    region = make_skybox((40.0, -10.0), (80.0, 25.0))
    inside = np.array(
        [region.contains_point(r, d) for r, d in zip(data["ra"], data["dec"])]
    )
    out = lc.bound(region)
    assert len(out) == int(inside.sum())


def test_region_algebra():
    big = make_box((0, 0, 0), (10, 10, 10))
    small = make_box((2, 2, 2), (4, 4, 4))
    assert big.contains(small) and not small.contains(big)
    assert big.intersects(small)
    apart = make_box((20, 20, 20), (30, 30, 30))
    assert not big.intersects(apart)

    c1 = make_cone((100, 0), 10)
    c2 = make_cone((105, 0), 3)
    assert c1.contains(c2)
    assert c1.intersects(make_cone((115, 0), 6))
    assert not c1.intersects(make_cone((140, 0), 5))


def test_lightcone_pixel_search(lc):
    pix = lc.get_pixels()
    sub = pix[:10]
    out = lc.pixel_search(sub)
    meta = out.get_metadata(["pixel_cell"])["pixel_cell"]
    assert set(np.unique(meta)).issubset(set(sub))
    assert len(out) > 0


def test_cross_type_region_relations():
    """Cross-type relations (reference spatial/test_relations.py):
    cone<->skybox, healpix<->everything, full-sky quirks, type errors."""
    import pytest as _pytest

    from opencosmo_spark.spatial.region import (
        ConeRegion,
        FullSkyRegion,
        HealpixRegion,
        SkyboxRegion,
    )

    cone = ConeRegion(90.0, 0.0, 10.0)
    small = ConeRegion(90.0, 0.0, 2.0)
    box = SkyboxRegion(80.0, 100.0, -10.0, 10.0)
    tiny_box = SkyboxRegion(88.0, 92.0, -2.0, 2.0)
    far_box = SkyboxRegion(200.0, 220.0, 40.0, 60.0)

    # cone <-> skybox, both directions
    assert cone.contains(tiny_box) and not cone.contains(box)
    assert box.contains(small) and not tiny_box.contains(cone)
    assert cone.intersects(box) and box.intersects(cone)
    assert not cone.intersects(far_box) and not far_box.intersects(cone)
    # wrap-aware: box across 0 RA containing a cone at RA 1
    wrap_box = SkyboxRegion(350.0, 10.0, -20.0, 20.0)
    assert wrap_box.contains(ConeRegion(1.0, 0.0, 5.0))
    assert wrap_box.intersects(ConeRegion(349.0, 0.0, 5.0))

    # full-sky: contains/intersects everything EXCEPT itself
    full = FullSkyRegion()
    assert full.contains(cone) and full.intersects(box)
    assert not full.contains(FullSkyRegion())
    assert not full.intersects(FullSkyRegion())

    # healpix relations (conservative cover semantics)
    from opencosmo_spark.spatial.healpix import query_region

    interior, boundary = query_region(16, cone)
    hp = HealpixRegion(tuple(sorted(set(interior) | set(boundary))), 16)
    assert hp.contains(small)          # cover of the small cone is inside
    assert hp.intersects(cone)
    assert not hp.intersects(ConeRegion(270.0, 0.0, 5.0))  # opposite sky
    assert not hp.contains(hp)         # pixel sets never contain pixel sets
    assert hp.intersects(HealpixRegion(hp.pixels[:3], 16))
    # cross-nside healpix intersection aligns to the coarser scheme
    fine = HealpixRegion(tuple(p * 4 for p in hp.pixels[:2]), 32)
    assert hp.intersects(fine)

    # invalid types raise (reference ValueError contract)
    with _pytest.raises(ValueError):
        cone.contains("nope")
    with _pytest.raises(ValueError):
        hp.intersects(42)


def test_crossmatch_sky_polar_ra_coverage(spark):
    """Regression: near the polar cut, the max RA offset between two
    points within `radius` is 2*asin(sin(r/2)/cos(dec)), which exceeds
    the linear r/cos(dec) bound — a linear-bound k silently misses the
    match. dec=87.99 with dRA=59 deg has separation 1.979 <= 2.0 but
    sits at bin offset 30 > linear k=29."""
    import math

    import pandas as pd

    from opencosmo_spark.spatial.crossmatch import crossmatch_sky

    rows_l = [(0, 0.5, 87.99), (1, 200.0, 10.0)]
    rows_r = [(10, 59.5, 87.99), (11, 200.1, 10.0)]
    left = spark.createDataFrame(
        pd.DataFrame(rows_l, columns=["lid", "ra", "dec"])
    )
    right = spark.createDataFrame(
        pd.DataFrame(rows_r, columns=["rid", "ra", "dec"])
    )
    # confirm the geometry: separation really is inside the radius
    d = math.radians(87.99)
    dra = math.radians(59.0)
    a = math.cos(d) ** 2 * math.sin(dra / 2) ** 2
    sep = math.degrees(2 * math.asin(math.sqrt(a)))
    assert sep <= 2.0

    got = {
        r.lid: r.rid
        for r in crossmatch_sky(
            left, right, 2.0, "lid", "rid", bin_deg=2.0, polar_cut=88.0
        ).collect()
    }
    assert got == {0: 10, 1: 11}


def test_crossmatch_sky_matches_brute_force(spark):
    """Bin-join cross-match == numpy all-pairs nearest neighbor, on a
    sky including the equator, high declination (RA compression), the
    RA wrap, and the pole caps."""
    import numpy as np

    from opencosmo_spark.spatial.crossmatch import crossmatch_sky

    rng = np.random.default_rng(42)
    n_l, n_r = 400, 300

    def sky(n, seed_shift=0):
        ra = rng.uniform(0, 360, n)
        # oversample high declinations and poles to stress the bins
        dec = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
        k = n // 8
        dec[:k] = rng.uniform(80, 90, k)
        dec[k : 2 * k] = rng.uniform(-90, -80, k)
        ra[n // 4 : n // 3] = rng.uniform(-1, 1, len(ra[n // 4 : n // 3])) % 360.0
        return ra, dec

    lra, ldec = sky(n_l)
    rra, rdec = sky(n_r)
    import pandas as pd

    left = spark.createDataFrame(
        pd.DataFrame({"lid": range(n_l), "ra": lra, "dec": ldec})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"rid": range(n_r), "ra": rra, "dec": rdec})
    )

    R = 2.0
    got = {
        r.lid: (r.rid, r.sep_deg)
        for r in crossmatch_sky(
            left, right, R, "lid", "rid", bin_deg=2.0
        ).collect()
    }

    # numpy brute force
    def unit(ra, dec):
        ra, dec = np.radians(ra), np.radians(dec)
        return np.stack(
            [np.cos(dec) * np.cos(ra), np.cos(dec) * np.sin(ra), np.sin(dec)],
            axis=-1,
        )
    ul, ur = unit(lra, ldec), unit(rra, rdec)
    cos = np.clip(ul @ ur.T, -1, 1)
    sep = np.degrees(np.arccos(cos))
    for i in range(n_l):
        js = np.where(sep[i] <= R)[0]
        if len(js) == 0:
            assert i not in got
            continue
        best = min((round(float(sep[i][j]), 8), j) for j in js)
        assert i in got, f"left {i} missing (dec={ldec[i]:.2f})"
        assert got[i][0] == best[1], (i, got[i], best, ldec[i])
        assert abs(got[i][1] - best[0]) < 1e-6
