"""Dataset / collection storage: Parquet + JSON header sidecar.

Parity target: reference ``python/opencosmo/io/io.py:58-154`` (open /
write) and ``io/iopen.py:77-124`` (type dispatch). The reference's
HDF5 layout (column datasets + attrs + positional link/tree metadata,
SPEC.md) maps to:

* ``<name>.ocs/data.parquet/`` — Spark-written Parquet (partitioned,
  clustered on the spatial cell column when present: each file owns
  a cell range and is sorted by the cell);
* ``<name>.ocs/header.json`` — header + per-column units/descriptions
  + link metadata (replaces HDF5 attrs) + the Parquet data's Spark
  schema, so ``oc.open`` reads with it and starts no schema-inference
  job (a sidecar without ``schema``, written before it was stored,
  still opens by inference), and ``clustered_on``: the cell column
  the files are clustered on (absent when there is none, or a
  ``partition`` plugin re-laid the rows out);
* collections are directories of member datasets + ``collection.json``.

Positional links (start/size, idx) become explicit key columns at
ingest (SURVEY §1.2) — ``oc.write`` of a StructureCollection persists
the key-linked tables, and MPI-parallel writes are simply Spark's
normal parallel Parquet write.

A write range-partitions on the cell column (a sampling job over the
whole input, then a shuffle) unless the input already streams each
partition from ``clustered_on`` files: a plain scan of a catalog this
module wrote, filtered, projected or broadcast-semi-joined (a
``bound()`` selection, a cascade child). Such a subset is still
cell-clustered, so it is only sorted within its partitions and written
in one pass, as any subset of the reference's tree-ordered HDF5 layout
stays tree-ordered. The write's jobs are named
``opencosmo_spark.io.write``.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import TYPE_CHECKING
from urllib.parse import urlparse

from pyspark.sql import SparkSession, functions as F, types as T

from .._jobscope import job_scope
from .._parallel import streamed_scans
from ..dataset import ROW_ID, Dataset
from ..header import OpenCosmoHeader
from ..units import parse_unit

if TYPE_CHECKING:
    from ..collection.structure import StructureCollection

HEADER_FILE = "header.json"
COLLECTION_FILE = "collection.json"
DATA_DIR = "data.parquet"


def _active_spark() -> SparkSession:
    spark = SparkSession.getActiveSession()
    if spark is None:
        from ..session import get_spark

        spark = get_spark()
    return spark


def _read_schema(dt):
    """The schema a Parquet read of ``dt`` infers: Spark writes every
    field, array element and map value as nullable; names, types and
    column metadata are kept."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _read_schema(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_read_schema(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_read_schema(dt.keyType), _read_schema(dt.valueType), True)
    return dt


def write_dataset(path: str, ds, overwrite: bool = False) -> None:
    """Write a Dataset or collection to ``<path>`` (reference
    io/io.py:118-154)."""
    from ..collection.lightcone import Lightcone
    from ..collection.healpix_map import HealpixMap
    from ..collection.simulation import SimulationCollection
    from ..collection.structure import StructureCollection

    if os.path.exists(path):
        if not overwrite:
            raise FileExistsError(f"{path} exists (pass overwrite=True)")
        shutil.rmtree(path)

    if isinstance(ds, StructureCollection):
        os.makedirs(path)
        members = {}
        for name, member in ds.members().items():
            write_dataset(os.path.join(path, name), member, overwrite=True)
            members[name] = name
        meta = {
            "type": "structure_collection",
            "source": ds.source_name,
            "links": {
                name: {"kind": l.kind, "source_key": l.source_key, "child_key": l.child_key}
                for name, l in ds.links.items()
            },
        }
        with open(os.path.join(path, COLLECTION_FILE), "w") as f:
            json.dump(meta, f, indent=2)
        return
    if isinstance(ds, SimulationCollection):
        os.makedirs(path)
        for name, member in ds.items():
            write_dataset(os.path.join(path, name), member, overwrite=True)
        with open(os.path.join(path, COLLECTION_FILE), "w") as f:
            json.dump({"type": "simulation_collection"}, f, indent=2)
        return

    dtype = "dataset"
    if isinstance(ds, HealpixMap):
        dtype = "healpix_map"
    elif isinstance(ds, Lightcone):
        dtype = "lightcone"

    os.makedirs(path)
    df = ds.spark_df
    # Persist a stable row identity if the dataset doesn't have one:
    # positional APIs (take_range / take_rows / literal-array columns)
    # need a total order that survives re-partitioning, and "current
    # plan order" is not one. monotonically_increasing_id is only
    # partition-deterministic, but the WRITE materializes it exactly
    # once — after that it is as stable as any data column. With sort
    # keys declared we orderBy first so ids follow the declared order
    # (range shuffle + per-partition mzid: ids stay monotonic across
    # partitions, no global single-task pass — scale-safe).
    if ROW_ID not in df.columns:
        if ds._sort_keys:
            order = [
                F.col(n).asc() if asc else F.col(n).desc()
                for n, asc in ds._sort_keys
            ]
            df = df.orderBy(*order)
        df = df.withColumn(ROW_ID, F.monotonically_increasing_id())
    # Cluster on the spatial cell for pruning on re-open: each output
    # FILE owns a contiguous cell range (file-level skip) and is sorted
    # within by the cell, so row-group min/max stats are tight. One
    # range shuffle at write time buys every future spatial query its
    # pruning — the 100 TB trade the reference makes with its
    # tree-ordered HDF5 layout (SPEC.md:56-60). An input whose
    # partitions already stream ``clustered_on`` files (a selection of
    # a catalog written here) skips the shuffle: each partition holds
    # the cells of the file splits it reads, and the sort is its pass.
    cluster_col = next(
        (c for c in ("__cell_id", "pixel_cell", "pixel") if c in df.columns), None
    )
    from ..plugins import fire

    with job_scope(df.sparkSession.sparkContext, "opencosmo_spark.io.write"):
        if cluster_col is not None:
            if not _clustered_input(df, cluster_col):
                df = df.repartitionByRange(cluster_col)
            df = df.sortWithinPartitions(cluster_col)
        # partition hook: a plugin may re-layout the DataFrame before the
        # write (reference PartitionCtx, dtypes/diffsky.py:186-216 keeps
        # host-satellite groups co-resident the same way)
        out = fire("partition", df, dataset=ds, path=path)
        out.write.mode("overwrite").parquet(os.path.join(path, DATA_DIR))
    sidecar = {
        "type": dtype,
        "header": json.loads(ds.header.to_json()),
        "units": {c: str(u) for c, u in ds._units.items()},
        "descriptions": dict(ds._descriptions),
        "convention": ds.convention,
        "extra": {"nside": ds.nside} if isinstance(ds, HealpixMap) else {},
        "schema": _read_schema(out.schema).jsonValue(),
    }
    if cluster_col is not None and out is df:
        sidecar["clustered_on"] = cluster_col
    with open(os.path.join(path, HEADER_FILE), "w") as f:
        json.dump(sidecar, f, indent=2)


def _clustered_input(df, column: str) -> bool:
    """True when every partition of ``df`` streams rows of ``oc.write``
    data directories whose sidecar records ``clustered_on: column``
    (``_parallel.streamed_scans``). Older sidecars lack the key: their
    selections take the range shuffle."""
    paths = streamed_scans(df, column)
    if paths is None:
        return False
    for p in paths:
        uri = urlparse(p)
        if (
            "\n" in p
            or uri.scheme not in ("", "file")
            or os.path.basename(uri.path) != DATA_DIR
        ):
            return False
        hfile = os.path.join(os.path.dirname(uri.path), HEADER_FILE)
        if not os.path.exists(hfile):
            return False
        with open(hfile) as f:
            if json.load(f).get("clustered_on") != column:
                return False
    return True


def _open_single(spark: SparkSession, path: str):
    from ..plugins import fire
    from ..collection.lightcone import Lightcone
    from ..collection.healpix_map import HealpixMap

    # bare-file dispatch by extension (the Spark-first analog of the
    # reference's format dispatch, io/iopen.py:77-124: parquet is the
    # native format; csv/json are convenience ingest paths)
    if path.endswith(".csv"):
        return fire(
            "dataset_open",
            Dataset(spark.read.csv(path, header=True, inferSchema=True)),
        )
    if path.endswith((".json", ".jsonl", ".ndjson")):
        return fire("dataset_open", Dataset(spark.read.json(path)))
    if path.endswith(".parquet") or not os.path.exists(
        os.path.join(path, HEADER_FILE)
    ):
        # bare parquet: no sidecar metadata
        return fire("dataset_open", Dataset(spark.read.parquet(path)))
    with open(os.path.join(path, HEADER_FILE)) as f:
        sidecar = json.load(f)
    reader = spark.read
    if "schema" in sidecar:
        # the stored schema spares the one-job-per-open Parquet footer
        # inference; older sidecars have none and infer
        reader = reader.schema(T.StructType.fromJson(sidecar["schema"]))
    df = reader.parquet(os.path.join(path, DATA_DIR))
    header = OpenCosmoHeader.from_json(json.dumps(sidecar.get("header", {})))
    if "__cell_id" in df.columns:
        # storage-resident cell column: bound() may emit the INSET pruning
        # predicate (row-group stats on the clustered column make it pay)
        header.extra["cell_materialized"] = True
    units = {c: parse_unit(u) for c, u in sidecar.get("units", {}).items()}
    kwargs = dict(
        header=header,
        units=units,
        descriptions=sidecar.get("descriptions", {}),
        convention=sidecar.get("convention"),
    )
    dtype = sidecar.get("type", "dataset")
    if dtype == "healpix_map":
        out = HealpixMap(df, nside=int(sidecar["extra"]["nside"]), **kwargs)
    elif dtype == "lightcone":
        out = Lightcone(df, **kwargs)
    else:
        out = Dataset(df, **kwargs)
    out = fire("dataset_open", out)
    if dtype in ("healpix_map", "lightcone"):
        # typed collections additionally fire instantiate (reference
        # LightconeInstantiateCtx, dtypes/diffsky.py:140-159)
        out = fire("dataset_instantiate", out)
    return out


def _load_conditions_met(path: str, flags: dict) -> bool:
    """Conditional member loading (reference io/iopen.py:638-657): a
    member with ``header.extra["load_if"] = {key: bool}`` loads only
    when every condition equals the user flag (missing flags are
    False)."""
    hfile = os.path.join(path, HEADER_FILE)
    if not os.path.exists(hfile):
        return True
    with open(hfile) as f:
        sidecar = json.load(f)
    conditions = (sidecar.get("header", {}).get("extra", {}) or {}).get(
        "load_if", {}
    )
    return all(
        bool(flags.get(key, False)) == bool(cond)
        for key, cond in conditions.items()
    )


def open_files(*paths: str, **flags):
    """Open one or more datasets (reference io/io.py:58-113).

    One path -> Dataset (or typed collection from its sidecar).
    A collection dir -> StructureCollection / SimulationCollection.
    Multiple paths -> StructureCollection linked on tag keys inferred
    from headers (reference io/iopen.py:209-311 categorization).
    """
    from ..collection.structure import LinkSpec, StructureCollection
    from ..collection.simulation import SimulationCollection

    spark = _active_spark()
    if len(paths) == 1:
        p = paths[0]
        cfile = os.path.join(p, COLLECTION_FILE)
        if os.path.exists(cfile):
            with open(cfile) as f:
                meta = json.load(f)
            member_names = sorted(
                d for d in os.listdir(p) if os.path.isdir(os.path.join(p, d))
            )
            member_names = [
                name
                for name in member_names
                if _load_conditions_met(os.path.join(p, name), flags)
            ]
            members = {
                name: _open_single(spark, os.path.join(p, name))
                for name in member_names
            }
            from ..plugins import fire

            if meta["type"] == "simulation_collection":
                return fire("dataset_instantiate", SimulationCollection(members))
            links = {
                name: LinkSpec(**spec)
                for name, spec in meta["links"].items()
                if name in members  # member may be flag-excluded
            }
            return fire(
                "dataset_instantiate",
                StructureCollection(
                    source=members[meta["source"]],
                    source_name=meta["source"],
                    children={n: m for n, m in members.items() if n != meta["source"]},
                    links=links,
                ),
            )
        return _open_single(spark, p)
    # multiple paths: link into a StructureCollection
    from ..plugins import fire

    members = {}
    for p in paths:
        name = os.path.basename(p.rstrip("/")).replace(".ocs", "").replace(
            ".parquet", ""
        )
        members[name] = _open_single(spark, p)
    return fire("dataset_instantiate", StructureCollection.from_members(members))
