"""IO round-trip tests (reference test_write.py / test_parquet.py
analogs): transform -> write -> reopen -> equality, metadata survival.
"""

import numpy as np
import pandas as pd
import pytest

import opencosmo_spark as oc
from opencosmo_spark import col


@pytest.fixture(scope="module")
def halos(spark, fixtures):
    return oc.open(f"{fixtures}/halo_properties")


def test_roundtrip_preserves_data_and_metadata(halos, tmp_path):
    f = halos.filter(col("fof_halo_mass") > 1e13).with_new_columns(
        logm=col("fof_halo_mass").log10()
    )
    path = str(tmp_path / "halos_out")
    oc.write(path, f)
    re = oc.open(path)
    assert len(re) == len(f)
    assert str(re.units["fof_halo_mass"]) == "Msun / h"
    assert str(re.units["logm"]) == "dex(Msun / h)"
    assert re.header.box_size == 64.0
    a = f.get_data("pandas").sort_values("fof_halo_tag").reset_index(drop=True)
    b = re.get_data("pandas").sort_values("fof_halo_tag").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_like=True)


def test_roundtrip_preserves_convention(halos, tmp_path):
    com = halos.with_units("comoving")
    path = str(tmp_path / "halos_com")
    oc.write(path, com)
    re = oc.open(path)
    assert re.convention == "comoving"
    # clustered write reorders rows (range-partition on the spatial
    # cell); compare as keyed sets, the engine's actual contract
    a = re.sort_by("fof_halo_tag").get_data("numpy")
    b = com.sort_by("fof_halo_tag").get_data("numpy")
    np.testing.assert_array_equal(a["fof_halo_tag"], b["fof_halo_tag"])
    np.testing.assert_allclose(a["fof_halo_mass"], b["fof_halo_mass"])


def test_overwrite_flag(halos, tmp_path):
    path = str(tmp_path / "dup")
    oc.write(path, halos.take(10))
    with pytest.raises(FileExistsError):
        oc.write(path, halos.take(10))
    oc.write(path, halos.take(20), overwrite=True)
    assert len(oc.open(path)) == 20


def _mixed_frame(spark):
    import datetime
    import decimal

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.LongType(), False, {"comment": "row key"}),
        T.StructField("s", T.StructType([
            T.StructField("a", T.IntegerType(), False),
            T.StructField("b", T.ArrayType(T.DoubleType(), False), False),
        ]), False),
        T.StructField("arr", T.ArrayType(T.StructType([
            T.StructField("k", T.StringType(), False),
        ]), False)),
        T.StructField("m", T.MapType(T.StringType(), T.LongType(), False), False),
        T.StructField("d", T.DecimalType(12, 3), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("tsn", T.TimestampNTZType()),
        T.StructField("dt", T.DateType()),
        T.StructField("f", T.FloatType(), False),
        T.StructField("bin", T.BinaryType()),
    ])
    t = datetime.datetime(2020, 1, 2, 3, 4, 5)
    rows = [
        (1, (2, [1.0, 2.5]), [("x",)], {"a": 1}, decimal.Decimal("1.234"),
         t, t, t.date(), 1.5, b"ab"),
        (2, (3, []), None, {}, decimal.Decimal("-0.001"),
         t, None, None, -0.0, None),
    ]
    return spark.createDataFrame(rows, schema)


def test_sidecar_schema_equals_inferred(spark, tmp_path):
    """oc.open reads with the schema the sidecar stores: it must be the
    one Parquet inference gives (every field nullable, metadata kept),
    and a sidecar without it (written before it was stored) still
    opens by inference to the same schema and rows."""
    import json
    import os

    path = str(tmp_path / "mixed")
    oc.write(path, oc.Dataset(_mixed_frame(spark)))
    inferred = spark.read.parquet(os.path.join(path, "data.parquet"))
    want = sorted(inferred.collect())
    opened = oc.open(path).spark_df
    assert opened.schema == inferred.schema
    assert sorted(opened.collect()) == want

    hfile = os.path.join(path, "header.json")
    with open(hfile) as f:
        side = json.load(f)
    del side["schema"]
    with open(hfile, "w") as f:
        json.dump(side, f)
    older = oc.open(path).spark_df
    assert older.schema == inferred.schema
    assert sorted(older.collect()) == want


def test_open_bare_parquet(spark):
    ds = oc.open("/root/testdata/sf0.001/nation.parquet")
    assert len(ds) == 25
    assert ds.units["n_name"].dimensionless_


def test_spatial_index_survives_roundtrip(halos, tmp_path):
    from opencosmo_spark import make_box

    path = str(tmp_path / "spatial")
    oc.write(path, halos)
    re = oc.open(path)
    region = make_box((10, 10, 10), (30, 30, 30))
    assert len(re.bound(region)) == len(halos.bound(region))


def test_formats(halos):
    ds = halos.take(5)
    pdf = ds.get_data("pandas")
    assert len(pdf) == 5
    arr = ds.get_data("numpy")
    assert isinstance(arr, dict) and len(arr["fof_halo_tag"]) == 5
    tbl = ds.get_data("arrow")
    assert tbl.num_rows == 5
    rows = ds.get_data("list")
    assert isinstance(rows[0], dict)


def test_open_csv_json_dispatch(spark, tmp_path):
    """Extension dispatch: .csv and .jsonl open as plain Datasets."""
    import json as _json

    import pandas as pd

    import opencosmo_spark as oc

    csv = tmp_path / "t.csv"
    pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]}).to_csv(csv, index=False)
    ds = oc.open(str(csv))
    assert sorted(ds.columns) == ["x", "y"] and len(ds) == 3

    jl = tmp_path / "t.jsonl"
    with open(jl, "w") as f:
        for i in range(4):
            f.write(_json.dumps({"k": i, "v": f"s{i}"}) + "\n")
    ds2 = oc.open(str(jl))
    assert sorted(ds2.columns) == ["k", "v"] and len(ds2) == 4


# ---------------------------------------------------------------------
# HDF5 ingest adapter (reference SPEC layout -> parquet + link keys)
# ---------------------------------------------------------------------
def test_link_keys_from_ranges_structural():
    """The positional->key translation (SURVEY §1.2) must invert
    (start, size) spans exactly: child rows [start, start+size) get
    the owning source id; uncovered rows get -1; size 0 owns nothing."""
    import numpy as np

    from opencosmo_spark.io.hdf5 import link_keys_from_ranges

    starts = np.array([0, 3, 3, 7])
    sizes = np.array([3, 0, 4, 2])
    keys = link_keys_from_ranges(starts, sizes, n_child=10)
    assert keys.tolist() == [0, 0, 0, 2, 2, 2, 2, 3, 3, -1]

    # stable source ids instead of row positions
    ids = np.array([100, 200, 300, 400])
    keys2 = link_keys_from_ranges(starts, sizes, 10, source_ids=ids)
    assert keys2.tolist() == [100, 100, 100, 300, 300, 300, 300, 400, 400, -1]

    # contract violations raise
    import pytest as _pytest

    with _pytest.raises(ValueError):
        link_keys_from_ranges(np.array([0]), np.array([5]), n_child=3)
    with _pytest.raises(ValueError):
        link_keys_from_ranges(np.array([0]), np.array([-1]), n_child=3)


def test_link_idx_sentinel_contract():
    import numpy as np
    import pytest as _pytest

    from opencosmo_spark.io.hdf5 import link_idx_to_column

    assert link_idx_to_column(np.array([3, -1, 0])).tolist() == [3, -1, 0]
    with _pytest.raises(ValueError):
        link_idx_to_column(np.array([-2]))


def test_hdf5_roundtrip_gated(spark, tmp_path):
    """Full SPEC-layout conversion (skips cleanly without h5py):
    data group + unit/description attrs + data_linked start/size ->
    parquet datasets joinable on the generated __link_ key."""
    h5py = pytest.importorskip("h5py")
    import numpy as np

    import opencosmo_spark as oc
    from opencosmo_spark.io.hdf5 import LINK_PREFIX, hdf5_to_parquet

    src = tmp_path / "halos.h5"
    with h5py.File(src, "w") as f:
        hp = f.create_group("halo_properties")
        d = hp.create_group("data")
        m = d.create_dataset("fof_halo_mass", data=np.array([1e12, 2e12, 3e12]))
        m.attrs["unit"] = "Msun / littleh"
        m.attrs["description"] = "FoF mass"
        d.create_dataset("fof_halo_tag", data=np.array([10, 20, 30]))
        dl = hp.create_group("data_linked")
        dl.create_dataset("particles_start", data=np.array([0, 2, 2]))
        dl.create_dataset("particles_size", data=np.array([2, 0, 3]))
        pp = f.create_group("halo_particles")
        pd_ = pp.create_group("data")
        pd_.create_dataset("x", data=np.arange(5.0))
        hdr = f.create_group("header")
        sim = hdr.create_group("simulation")
        sim.attrs["hubble"] = 0.6766
        sim.attrs["box_size"] = 64.0

    out = tmp_path / "halos_oc"
    hdf5_to_parquet(
        str(src), str(out), spark=spark, group="halo_properties",
        child_groups={"particles": "halo_particles"},
    )
    halos = oc.open(str(out))
    assert len(halos) == 3
    assert str(halos.units["fof_halo_mass"]) == "Msun / h"
    assert halos.header.cosmology.H0 == pytest.approx(67.66)
    assert halos.header.box_size == 64.0
    parts = oc.open(str(out) + "_particles")
    key = LINK_PREFIX + "particles"
    got = sorted(
        (r["x"], r[key]) for r in parts.df.select("x", key).collect()
    )
    assert got == [(0.0, 0), (1.0, 0), (2.0, 2), (3.0, 2), (4.0, 2)]


def test_ranges_from_link_keys_inverts_ingest():
    """Export-side inversion: key column -> (start, size) must be the
    exact inverse of link_keys_from_ranges on sorted children,
    including empty ranges and orphan (-1) children."""
    import numpy as np

    from opencosmo_spark.io.hdf5 import (
        link_keys_from_ranges,
        ranges_from_link_keys,
    )

    starts = np.array([0, 3, 3, 7])
    sizes = np.array([3, 0, 4, 2])
    keys = link_keys_from_ranges(starts, sizes, n_child=10)
    # sort orphans (-1) first, as the export path would
    skeys = np.sort(keys)
    s2, z2 = ranges_from_link_keys(skeys, n_source=4)
    # sizes must round-trip exactly; starts must address the same rows
    assert z2.tolist() == sizes.tolist()
    for i in range(4):
        assert skeys[s2[i] : s2[i] + z2[i]].tolist() == [i] * z2[i]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        ranges_from_link_keys(np.array([2, 1]), n_source=3)


def test_hdf5_export_roundtrip_gated(spark, tmp_path):
    """parquet -> SPEC-layout export -> re-ingest equals the original
    (skips cleanly without h5py): data/unit attrs, header cosmology,
    and the 1:N link rebuilt as start/size."""
    h5py = pytest.importorskip("h5py")
    import numpy as np

    import opencosmo_spark as oc
    from opencosmo_spark.dataset import Dataset
    from opencosmo_spark.header import Cosmology, OpenCosmoHeader
    from opencosmo_spark.io.hdf5 import (
        LINK_PREFIX,
        dataset_to_hdf5,
        read_hdf5_dataset,
        read_links,
    )
    from opencosmo_spark.units import parse_unit

    src = Dataset(
        spark.createDataFrame(
            [(10, 1e12), (20, 2e12), (30, 3e12)], ["tag", "mass"]
        ),
        header=OpenCosmoHeader(
            cosmology=Cosmology(H0=67.66), redshift=0.5, box_size=64.0
        ),
        units={"mass": parse_unit("Msun / h")},
        descriptions={"mass": "FoF mass"},
    )
    child = Dataset(
        spark.createDataFrame(
            [(0.0, 0), (1.0, 2), (2.0, 0), (3.0, 2), (4.0, 2)],
            ["x", LINK_PREFIX + "particles"],
        )
    )
    out = tmp_path / "halos.h5"
    dataset_to_hdf5(src, str(out), children={"particles": child})

    cols, units, descs, header = read_hdf5_dataset(str(out))
    assert sorted(cols["tag"].tolist()) == [10, 20, 30]
    assert units["mass"] == "Msun / h"
    assert descs["mass"] == "FoF mass"
    links = read_links(str(out))
    assert links["particles"]["size"].tolist() == [2, 0, 3]
    # children stored sorted by owner; the ranges address exactly them
    with h5py.File(out, "r") as f:
        cx = f["particles/data/x"][()]
    s, z = links["particles"]["start"], links["particles"]["size"]
    assert sorted(cx[s[0] : s[0] + z[0]].tolist()) == [0.0, 2.0]
    assert sorted(cx[s[2] : s[2] + z[2]].tolist()) == [1.0, 3.0, 4.0]


def test_compact_parquet_reduces_files(spark, tmp_path):
    """Many tiny files -> few files, same rows, clustering restored
    when asked."""
    import os

    from pyspark.sql import functions as F

    from opencosmo_spark.io.ingest import compact_parquet

    p = str(tmp_path / "small_files")
    df = spark.range(10000).withColumn("cell", (F.col("id") % 64))
    df.repartition(64).write.parquet(p)
    before = sum(
        1 for _, _, fs in os.walk(p) for f in fs if f.endswith(".parquet")
    )
    assert before >= 32

    n_out = compact_parquet(spark, p, target_file_mb=512, cluster_col="cell")
    assert n_out <= 2
    back = spark.read.parquet(p)
    assert back.count() == 10000
    assert set(back.columns) == {"id", "cell"}


def test_octree_index_ranges_numpy():
    """Ungated: SPEC index-tree rebuild from a sorted cell column —
    every level's (start, size) addresses exactly the rows whose
    level-L morton id has that level-l prefix."""
    import numpy as np

    from opencosmo_spark.io.hdf5 import octree_index_ranges

    rng = np.random.default_rng(41)
    cells = np.sort(rng.integers(0, 8**2, 75))
    out = octree_index_ranges(cells, 2)
    assert set(out) == {0, 1, 2}
    s0, z0 = out[0]
    assert z0.tolist() == [75] and s0.tolist() == [0]
    for lvl, shift in ((1, 3), (2, 0)):
        st, sz = out[lvl]
        assert len(sz) == 8**lvl and sz.sum() == 75
        for c in range(len(sz)):
            seg = cells[st[c] : st[c] + sz[c]]
            assert ((seg >> shift) == c).all()
    # unsorted input / out-of-range ids are loud errors
    import pytest as _pytest

    with _pytest.raises(ValueError):
        octree_index_ranges(np.array([3, 1]), 2)
    with _pytest.raises(ValueError):
        octree_index_ranges(np.array([0, 8**2]), 2)


def test_hdf5_export_index_group_gated(spark, tmp_path):
    """Export with a materialized __cell_id rebuilds the SPEC index
    tree (index_type attr, per-level start/size, rows cell-sorted) and
    keeps internal columns out of /data."""
    pytest.importorskip("h5py")
    import h5py
    import numpy as np

    from opencosmo_spark.dataset import Dataset
    from opencosmo_spark.header import OpenCosmoHeader
    from opencosmo_spark.io.hdf5 import write_hdf5

    rng = np.random.default_rng(42)
    cells = rng.integers(0, 8, 40).tolist()  # level-1 ids
    ds = Dataset(
        spark.createDataFrame(
            [(i, float(i), c) for i, c in enumerate(cells)],
            ["tag", "mass", "__cell_id"],
        ),
        header=OpenCosmoHeader(box_size=64.0, extra={"tree_level": 1}),
    )
    out = tmp_path / "indexed.h5"
    write_hdf5(ds, str(out))
    with h5py.File(out, "r") as f:
        assert f["index"].attrs["index_type"] == "octtree"
        assert set(f["data"].keys()) == {"tag", "mass"}  # no __cols
        st = f["index/level_1/start"][()]
        sz = f["index/level_1/size"][()]
        tags = f["data/tag"][()]
    assert sz.sum() == 40
    want = np.sort(np.asarray(cells))
    got_cells = np.repeat(np.arange(8), sz)
    np.testing.assert_array_equal(got_cells, want)
    # the rows really are cell-sorted: tag i has cell cells[i]
    cell_of_tag = {i: c for i, c in enumerate(cells)}
    resorted = [cell_of_tag[t] for t in tags]
    assert resorted == sorted(resorted)


def test_structure_collection_hdf5_export_gated(spark, tmp_path):
    """StructureCollection -> SPEC multi-dataset file: member groups,
    shared header, 1:N start/size over the source_key order."""
    pytest.importorskip("h5py")
    import h5py

    import opencosmo_spark as oc
    from opencosmo_spark.collection.structure import (
        LinkSpec,
        StructureCollection,
    )
    from opencosmo_spark.dataset import Dataset
    from opencosmo_spark.header import Cosmology, OpenCosmoHeader
    from opencosmo_spark.io.hdf5 import write_hdf5

    halos = Dataset(
        spark.createDataFrame(
            [(10, 1.0), (20, 2.0), (30, 3.0)], ["halo_tag", "mass"]
        ),
        header=OpenCosmoHeader(
            cosmology=Cosmology(H0=70.0), redshift=1.0, box_size=32.0
        ),
    )
    parts = Dataset(
        spark.createDataFrame(
            [(30, 0.1), (10, 0.2), (30, 0.3), (10, 0.4)],
            ["halo_tag", "x"],
        )
    )
    col = StructureCollection(
        halos,
        "halo_properties",
        {"halo_particles": parts},
        {
            "halo_particles": LinkSpec(
                kind="1:N", source_key="halo_tag", child_key="halo_tag"
            )
        },
    )
    out = tmp_path / "structure.h5"
    write_hdf5(col, str(out))
    with h5py.File(out, "r") as f:
        assert set(f.keys()) == {
            "halo_properties", "halo_particles", "header",
        }
        tags = f["halo_properties/data/halo_tag"][()]
        st = f["halo_properties/data_linked/halo_particles_start"][()]
        sz = f["halo_properties/data_linked/halo_particles_size"][()]
        cx = f["halo_particles/data/x"][()]
        assert f["header/cosmology"].attrs["H0"] == 70.0
        assert f["header"].attrs["box_size"] == 32.0
    by_tag = dict(zip(tags.tolist(), zip(st.tolist(), sz.tolist())))
    assert by_tag[20] == (by_tag[20][0], 0)
    s, z = by_tag[10]
    assert sorted(cx[s : s + z].tolist()) == [0.2, 0.4]
    s, z = by_tag[30]
    assert sorted(cx[s : s + z].tolist()) == [0.1, 0.3]


# ---------------------------------------------------------------------
# clustered writes: a selection of a written catalog is written in one
# pass; anything else takes the range shuffle
# ---------------------------------------------------------------------
WRITE_JOB = "opencosmo_spark.io.write"
CENTER = ("fof_halo_center_x", "fof_halo_center_y", "fof_halo_center_z")
LO, HI = (8.0, 8.0, 8.0), (40.0, 40.0, 40.0)


@pytest.fixture(scope="module")
def catalog(spark, fixtures):
    return oc.open(f"{fixtures}/halo_properties", f"{fixtures}/dm_particles")


def _cell_spans(path):
    """(min, max, sorted?) of ``__cell_id`` in each non-empty file."""
    import glob
    import os

    import pyarrow.parquet as pq

    spans = []
    for f in sorted(glob.glob(os.path.join(path, "data.parquet", "*.parquet"))):
        c = pq.read_table(f, columns=["__cell_id"])["__cell_id"].to_numpy()
        if len(c):
            spans.append((int(c.min()), int(c.max()), bool((np.diff(c) >= 0).all())))
    return spans


def _clustered_on(path):
    import json
    import os

    with open(os.path.join(path, "header.json")) as f:
        return json.load(f).get("clustered_on")


def _took_range_path(monkeypatch):
    """Record what ``write_dataset`` decided for each write."""
    from opencosmo_spark.io import io as iomod

    real, seen = iomod._clustered_input, []

    def spy(df, column):
        seen.append(real(df, column))
        return seen[-1]

    monkeypatch.setattr(iomod, "_clustered_input", spy)
    return seen


def test_bounded_selection_writes_in_one_pass(catalog, count_jobs, tmp_path):
    """A bound() selection of a written catalog and its cascade child
    stream cell-clustered files: they are sorted within partitions and
    written, with no range sample or shuffle (3 and 5 jobs on the range
    path)."""
    from opencosmo_spark import make_box

    sel = catalog.bound(make_box(LO, HI))
    src, child = str(tmp_path / "halos"), str(tmp_path / "particles")
    _, n_src = count_jobs(lambda: oc.write(src, sel.source), WRITE_JOB)
    _, n_child = count_jobs(lambda: oc.write(child, sel["dm_particles"]), WRITE_JOB)
    assert n_src == 1
    assert n_child <= 2  # the broadcast of the semi-join's keys + the write
    for path in (src, child):
        assert _clustered_on(path) == "__cell_id"
        spans = _cell_spans(path)
        assert spans and all(ok for _, _, ok in spans)
    assert len(oc.open(src)) == len(sel.source)
    assert len(oc.open(child)) == len(sel["dm_particles"])


def test_write_names_its_jobs_and_restores_the_call_site(
    spark, catalog, count_jobs, tmp_path
):
    sc = spark.sparkContext
    sc.setLocalProperty("callSite.short", "caller")
    try:
        _, total = count_jobs(lambda: oc.write(str(tmp_path / "a"), catalog.source))
        _, named = count_jobs(
            lambda: oc.write(str(tmp_path / "b"), catalog.source), WRITE_JOB
        )
        assert total == named > 0
        assert sc.getLocalProperty("callSite.short") == "caller"
        assert sc.getLocalProperty("callSite.long") is None
    finally:
        sc.setLocalProperty("callSite.short", None)


def test_written_selection_keeps_bound_pruning(catalog, tmp_path):
    """bound() on the reopened subset pushes the same filters as on the
    catalog and returns the brute-force rows."""
    import re

    from opencosmo_spark import make_box

    path = str(tmp_path / "halos")
    oc.write(path, catalog.bound(make_box(LO, HI)).source)
    lo2, hi2 = (12.0, 20.0, 8.0), (30.0, 36.0, 24.0)
    inner = make_box(lo2, hi2)
    back = oc.open(path).bound(inner)

    def pushed(ds):
        plan = ds.spark_df._jdf.queryExecution().executedPlan().toString()
        return re.findall(r"PushedFilters: \[[^\]]*\]", plan)

    assert pushed(back) == pushed(catalog.source.bound(inner))
    raw = catalog.source.get_data("pandas")
    keep = np.ones(len(raw), bool)
    for (a, b), (c, d), axis in zip(zip(LO, HI), zip(lo2, hi2), CENTER):
        v = raw[axis].to_numpy()
        keep &= (v >= max(a, c)) & (v < min(b, d))
    got = sorted(back.get_data("pandas").fof_halo_tag)
    assert got == sorted(raw.fof_halo_tag[keep])
    assert got


def test_other_inputs_take_the_range_path(
    spark, fixtures, catalog, monkeypatch, tmp_path
):
    """Raw ingested input, a sort_by head, a catalog whose sidecar
    predates ``clustered_on`` and a cascade child joined by shuffle are
    range-partitioned: each written file owns its own cell range."""
    import json
    import shutil

    from opencosmo_spark import Dataset, make_box
    from opencosmo_spark.io.ingest import ingest_snapshot

    box = make_box(LO, HI)
    raw = catalog.source.get_data("pandas")
    ingested = Dataset(
        ingest_snapshot(spark.createDataFrame(raw), CENTER, 64.0, cluster=False),
        header=catalog.source.header,
    )
    older = str(tmp_path / "older")
    shutil.copytree(f"{fixtures}/halo_properties", older)
    with open(f"{older}/header.json") as f:
        side = json.load(f)
    del side["clustered_on"]
    with open(f"{older}/header.json", "w") as f:
        json.dump(side, f)

    seen = _took_range_path(monkeypatch)
    inputs = {
        "ingested": lambda: ingested,
        "sort_by": lambda: catalog.source.sort_by("fof_halo_mass").take(500),
        "older": lambda: oc.open(older).bound(box),
        "shuffle_join": lambda: catalog.bound(box)["dm_particles"],
    }
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for name, make in inputs.items():
        if name == "shuffle_join":
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            oc.write(str(tmp_path / "out" / name), make())
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spans = sorted(_cell_spans(str(tmp_path / "out" / name)))
        assert spans and all(ok for _, _, ok in spans), name
        assert all(a[1] < b[0] for a, b in zip(spans, spans[1:])), name
    assert seen == [False] * len(inputs)
