"""StructureCollection: a source properties table (halos / galaxies)
linked 1:N or 1:1 to particle / profile / galaxy tables.

Parity target: reference
``python/opencosmo/collection/structure/structure.py:96`` and
``handler.py`` link machinery. The reference links positionally
(start/size row ranges, idx columns, SPEC.md:72-83); here every link
is an explicit key column (ingest materializes ``halo_tag`` on each
particle row), so:

* the lazy "filter cascade" (handler.py:187-333 rebuild) is a deferred
  **left-semi join** of each child against the current source keys —
  Catalyst broadcasts the key set when small and defers it until the
  child is actually read;
* ``filter(on_child=...)`` (structure.py:860-927) is a semi-join of
  the source against matching child keys;
* per-structure evaluation (structure.py:521-714) is
  ``groupBy(tag).applyInPandas`` over the child joined with the
  broadcast source row — distributed, Arrow-batched;
* nesting (halos -> galaxies -> star_particles, structure.py:633-656)
  composes two key joins.

At 100 TB: source tables are small relative to particles; semi-joins
broadcast the filtered key set instead of shuffling particles. When
both sides are huge, pre-bucketing both tables on the tag column at
ingest makes every cascade join co-located (no shuffle).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator, Mapping

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from .._litarr import sql_ident, sql_in
from ..column.expr import Mask
from ..dataset import Dataset


@dataclass(frozen=True)
class LinkSpec:
    kind: str  # "1:N" | "1:1"
    source_key: str  # column on the source (e.g. fof_halo_tag)
    child_key: str  # column on the child (e.g. halo_tag)


# conventional link-key names, mirroring the reference's link aliases
# (collection/structure/handler.py:30-45)
_KEY_CANDIDATES = [
    ("fof_halo_tag", "halo_tag"),
    ("fof_halo_tag", "fof_halo_tag"),
    ("fof_halo_tag", "fof_halo_bin_tag"),
    ("gal_tag", "gal_tag"),
]


class StructureCollection:
    """Immutable wrapper: source Dataset + linked child Datasets."""

    def __init__(
        self,
        source: Dataset,
        source_name: str,
        children: Mapping[str, "Dataset | StructureCollection"],
        links: Mapping[str, LinkSpec],
    ):
        self._source = source
        self._source_name = source_name
        self._children = dict(children)
        self._links = dict(links)

    # ------------------------------------------------------------------
    @staticmethod
    def from_members(members: dict[str, Dataset]) -> "StructureCollection":
        """Infer source + links from member schemas (reference
        io/iopen.py:209-311 categorization by header/data-type)."""
        source_name = None
        for name in members:
            if "properties" in name and "galaxy" not in name:
                source_name = name
                break
        if source_name is None:
            source_name = sorted(members)[0]
        source = members[source_name]
        links = {}
        for name, member in members.items():
            if name == source_name:
                continue
            cols = set(member.columns) | set(member.spark_df.columns)
            scols = set(source.columns)
            for skey, ckey in _KEY_CANDIDATES:
                if skey in scols and ckey in cols:
                    kind = "1:1" if "profile" in name else "1:N"
                    links[name] = LinkSpec(kind=kind, source_key=skey, child_key=ckey)
                    break
            else:
                raise ValueError(f"cannot infer link key for member {name!r}")
        children = {n: m for n, m in members.items() if n != source_name}
        return StructureCollection(source, source_name, children, links)

    # ------------------------------------------------------------------
    def _clone(self, source=None, children=None) -> "StructureCollection":
        return StructureCollection(
            source if source is not None else self._source,
            self._source_name,
            children if children is not None else self._children,
            self._links,
        )

    @property
    def source(self) -> Dataset:
        return self._source

    @property
    def source_name(self) -> str:
        return self._source_name

    @property
    def links(self) -> dict[str, LinkSpec]:
        return dict(self._links)

    def keys(self):
        return [self._source_name, *self._children.keys()]

    def members(self) -> dict[str, Dataset]:
        out = {self._source_name: self._source}
        out.update(self._children)
        return out

    def __len__(self) -> int:
        return len(self._source)

    def __repr__(self) -> str:
        return (
            f"StructureCollection(source={self._source_name!r}, "
            f"children={sorted(self._children)})"
        )

    # ------------------------------------------------------------------
    # child access: the lazy filter cascade
    # ------------------------------------------------------------------
    def __getitem__(self, name: str) -> "Dataset | StructureCollection":
        """Child narrowed to structures surviving the source's current
        filters — the deferred semi-join cascade."""
        if name == self._source_name:
            return self._source
        if "." in name:  # dotted path: "galaxies.star_particles"
            head, rest = name.split(".", 1)
            child = self[head]
            if not isinstance(child, StructureCollection):
                raise KeyError(f"{head!r} is not a nested collection")
            return child[rest]
        child = self._children[name]
        link = self._links[name]
        keys = self._source.spark_df.select(
            F.col(link.source_key).alias(link.child_key)
        )
        if isinstance(child, StructureCollection):
            narrowed = child._source._clone(
                child._source.spark_df.join(keys, link.child_key, "left_semi")
            )
            return child._clone(source=narrowed)
        return child._clone(child.spark_df.join(keys, link.child_key, "left_semi"))

    # ------------------------------------------------------------------
    # transformations (route to source; children narrow lazily)
    # ------------------------------------------------------------------
    def filter(self, *masks: Mask, on: str | None = None) -> "StructureCollection":
        """Filter the source — or filter a child and keep only source
        structures that still have matching child rows
        (reference structure.py:860-927 ``on_galaxies``)."""
        if on is None:
            return self._clone(source=self._source.filter(*masks))
        link = self._links[on]
        child = self._children[on]
        base = child._source if isinstance(child, StructureCollection) else child
        matching = base.filter(*masks).spark_df.select(
            F.col(link.child_key).alias(link.source_key)
        )
        new_src = self._source._clone(
            self._source.spark_df.join(
                matching.distinct(), link.source_key, "left_semi"
            )
        )
        return self._clone(source=new_src)

    def select(self, *cols, dataset: str | None = None, **derived):
        if dataset is None or dataset == self._source_name:
            return self._clone(source=self._source.select(*cols, **derived))
        children = dict(self._children)
        children[dataset] = children[dataset].select(*cols, **derived)
        return self._clone(children=children)

    def with_new_columns(self, dataset: str | None = None, **cols):
        if dataset is None or dataset == self._source_name:
            return self._clone(source=self._source.with_new_columns(**cols))
        children = dict(self._children)
        children[dataset] = children[dataset].with_new_columns(**cols)
        return self._clone(children=children)

    def take(self, n: int, at: str = "start", seed: int | None = None):
        return self._clone(source=self._source.take(n, at, seed=seed))

    def sort_by(self, column, *more, invert: bool = False):
        return self._clone(source=self._source.sort_by(column, *more, invert=invert))

    def bound(self, region, select_by=None):
        return self._clone(source=self._source.bound(region, select_by))

    def with_units(self, convention: str | None = None, **kw):
        src = self._source.with_units(convention, **kw)
        children = {
            n: c.with_units(convention, **kw) if isinstance(c, Dataset) else c
            for n, c in self._children.items()
        }
        return StructureCollection(src, self._source_name, children, self._links)

    # ------------------------------------------------------------------
    # iteration & per-structure evaluation
    # ------------------------------------------------------------------
    def objects(
        self,
        data_types: list[str] | None = None,
        batch_size: int | None = None,
        auto_stream_threshold: int = 100_000,
    ) -> Iterator[tuple[dict, dict[str, pd.DataFrame]]]:
        """Stream (source row, {child name -> pandas rows}) per
        structure (reference structure.py:1503-1611).

        Default path (``batch_size=None``): collects child rows grouped
        by tag in ONE distributed pass per child (not one job per
        structure). Driver memory is O(total child rows across the
        current selection) — the right trade AFTER a filter cascade,
        wrong for a full-corpus walk, so selections larger than
        ``auto_stream_threshold`` source rows automatically fall
        through to the streaming path (with a warning naming the
        count; one cheap count() job decides). Set the threshold to 0
        to force streaming, or very large to force collect-once.

        Streaming path (``batch_size=n``): iterates source rows via
        ``toLocalIterator`` (one partition resident at a time) and
        fetches each batch's children with a key-pruned semi-filtered
        collect. Driver memory is O(batch's child rows); cost is one
        Spark job per (batch, child) — the explicit memory/latency
        trade for iterating structures at scale.
        """
        names = data_types or list(self._children)
        if batch_size is None:
            n_src = len(self._source)
            if n_src > auto_stream_threshold:
                import warnings

                warnings.warn(
                    f"objects(): selection has {n_src} source rows "
                    f"(> auto_stream_threshold={auto_stream_threshold}); "
                    f"switching to the streaming path (batch_size=1024) "
                    f"to keep driver memory bounded — pass batch_size "
                    f"or raise auto_stream_threshold to choose "
                    f"explicitly",
                    RuntimeWarning,
                    stacklevel=2,
                )
                batch_size = 1024
        if batch_size is None:
            src_pdf = self._source.get_data("pandas")
            child_groups: dict[str, dict] = {}
            for name in names:
                link = self._links[name]
                cdf = self._child_pdf(name)
                child_groups[name] = {
                    k: g.drop(columns=[link.child_key])
                    for k, g in cdf.groupby(link.child_key)
                }
            for _, row in src_pdf.iterrows():
                yield self._emit(row.to_dict(), names, child_groups)
            return

        from itertools import islice

        it = self._source.df.toLocalIterator(prefetchPartitions=True)
        while True:
            rows = list(islice(it, batch_size))
            if not rows:
                return
            src_pdf = pd.DataFrame([r.asDict() for r in rows])
            child_groups = {}
            for name in names:
                link = self._links[name]
                keys = [
                    k for k in src_pdf[link.source_key].unique().tolist()
                ]
                cdf = self._child_pdf(name, keys=keys, child_key=link.child_key)
                child_groups[name] = {
                    k: g.drop(columns=[link.child_key])
                    for k, g in cdf.groupby(link.child_key)
                }
            for _, row in src_pdf.iterrows():
                yield self._emit(row.to_dict(), names, child_groups)

    def _child_pdf(
        self, name: str, keys: list | None = None, child_key: str | None = None
    ) -> pd.DataFrame:
        child = self[name]
        ds = child if isinstance(child, Dataset) else child.source
        if keys is not None:
            # one parsed IN list: ``isin`` costs a py4j call per key
            ds = Dataset(
                ds.df.filter(F.expr(sql_in(sql_ident(child_key), keys))),
                header=ds.header,
            )
        return ds.get_data("pandas")

    def _emit(self, rowd: dict, names, child_groups):
        out = {}
        for name in names:
            link = self._links[name]
            grp = child_groups[name].get(rowd[link.source_key])
            out[name] = grp if grp is not None else pd.DataFrame()
        return rowd, out

    def halos(self, *a, **k):
        return self.objects(*a, **k)

    def galaxies(self, *a, **k):
        return self.objects(*a, **k)

    def evaluate(
        self,
        func: Callable,
        dataset: str,
        insert: bool = False,
        format: str = "pandas",
        **kwargs,
    ):
        """Per-structure UDF over one linked child
        (reference structure.py:521-714).

        ``func(source_row: dict, child: pd.DataFrame, **kwargs)`` runs
        once per structure via ``groupBy(tag).applyInPandas`` on the
        child joined with the broadcast source row — fully distributed.
        Returns a Dataset of (tag, *outputs); with ``insert=True`` the
        outputs join back onto the source.
        """
        link = self._links[dataset]
        child = self[dataset]
        child_df = child.spark_df if isinstance(child, Dataset) else child.source.spark_df
        src_df = self._source.spark_df
        src_cols = [c for c in src_df.columns if not c.startswith("__")]
        joined = child_df.join(
            F.broadcast(
                src_df.select(
                    *[
                        F.col(c).alias(f"__src_{c}") if c != link.source_key else F.col(c)
                        for c in src_cols
                    ]
                ).withColumnRenamed(link.source_key, link.child_key)
            ),
            link.child_key,
        )

        # probe one structure driver-side to infer the output schema
        probe = joined.limit(1).toPandas()
        if len(probe) == 0:
            raise ValueError("no linked structures to evaluate")
        sample_src = {
            c[len("__src_"):]: probe[c].iloc[0] for c in probe.columns if c.startswith("__src_")
        }
        sample_src[link.source_key] = probe[link.child_key].iloc[0]
        child_cols = [c for c in child_df.columns if not c.startswith("__")]
        sample_out = func(sample_src, probe[child_cols], **kwargs)
        if not isinstance(sample_out, dict):
            sample_out = {"result": sample_out}

        from ..evaluate import _spark_type_of

        fields = [T.StructField(link.source_key, T.LongType())]
        out_names = list(sample_out)
        for k, v in sample_out.items():
            fields.append(T.StructField(k, _spark_type_of(v), True))
        schema = T.StructType(fields)
        fn, ck, sk = func, link.child_key, link.source_key

        def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
            tag = pdf[ck].iloc[0]
            srow = {
                c[len("__src_"):]: pdf[c].iloc[0]
                for c in pdf.columns
                if c.startswith("__src_")
            }
            srow[sk] = tag
            res = fn(srow, pdf[child_cols], **kwargs)
            if not isinstance(res, dict):
                res = {"result": res}
            return pd.DataFrame([{sk: tag, **{k: res[k] for k in out_names}}])

        result = joined.groupBy(ck).applyInPandas(per_group, schema)
        if insert:
            merged = src_df.join(result, link.source_key, "left")
            new_src = self._source._clone(merged)
            return self._clone(source=new_src)
        return Dataset(result, header=self._source.header)
