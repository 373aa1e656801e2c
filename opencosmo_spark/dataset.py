"""The core Dataset abstraction: an immutable, lazy, unit-aware view
over a Spark DataFrame.

Parity target: reference ``python/opencosmo/dataset/dataset.py:52``
(Dataset) + ``dataset/state.py:71`` (DatasetState). The reference's
producer DAG / row-index algebra / column cache all collapse into the
Catalyst logical plan; this wrapper only keeps what Spark doesn't model:
unit-convention state, header metadata, hidden columns, the declared
sort key, and the active spatial region.

Every transform returns a NEW Dataset (reference dataset.py:571-572).
"""

from __future__ import annotations

import fnmatch
import inspect
from typing import Any, Callable, Iterable, Iterator, Mapping

from pyspark.sql import Column as SparkColumn
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._litarr import lit_double_array, lit_long_array, values_df
from .column.expr import (
    Binder,
    ColumnExpr,
    ColRef,
    Mask,
    ScalarReduction,
    col,
    wrap,
)
from .header import OpenCosmoHeader
from .units import (
    KNOWN_REDSHIFT_COLUMNS,
    KNOWN_SCALEFACTOR_COLUMNS,
    Quantity,
    Unit,
    UnitConvention,
    parse_unit,
)

HIDDEN_PREFIX = "__"
ROW_ID = "__row_id"

# positional take: ranges whose upper bound fits comfortably through
# one TakeOrderedAndProject task use the head path; anything larger
# switches to the distributed bucket rank (_ranked_distributed)
_POSITIONAL_HEAD_MAX = 4_000_000


def _to_astropy_table(pdf, units, table_cls):
    """The astropy output adapter's actual logic, with the Table class
    injected: build the table from pandas and attach each column's
    unit as its astropy-parseable string (the reference emits littleh
    explicitly so astropy never reads 'h' as hours — SPEC.md:28-32).
    ``get_data("astropy")`` passes the real ``astropy.table.Table``;
    the contract test passes a vendored minimal fixture, so every line
    here runs in CI even though the wheel isn't in this image."""
    t = table_cls.from_pandas(pdf)
    for c in pdf.columns:
        u = units.get(c)
        s = str(u) if u is not None else ""
        if s and s != "dex":
            t[c].unit = s
    return t


def _is_literal_array(v) -> bool:
    """True for driver-side value arrays (numpy array, list/tuple of
    values, or an array-valued Quantity) — attached by alignment join,
    not as expressions."""
    if isinstance(v, Quantity):
        return hasattr(v.value, "__len__")
    if isinstance(v, (list, tuple)):
        return True
    return hasattr(v, "dtype") and hasattr(v, "__len__")


class _DSBinder(Binder):
    def __init__(self, units: Mapping[str, Unit], columns: set[str]):
        self._units = units
        self._columns = columns
        self.scalar_cols: dict[tuple, str] = {}

    def resolve(self, name: str):
        if name not in self._columns:
            raise KeyError(f"unknown column {name!r}")
        return F.col(name), self._units.get(name, Unit())

    def scalar(self, node: ScalarReduction):
        name = self.scalar_cols.get(node.key())
        if name is None:
            raise RuntimeError("scalar reduction not pre-resolved")
        return F.col(name)


class Dataset:
    """Immutable lazy dataset = DataFrame + (header, units, sort, region).

    User-facing verbs mirror the reference API:
    ``filter select drop with_new_columns sort_by take take_range
    take_rows bound with_units evaluate get_data rows``.
    """

    def __init__(
        self,
        df: DataFrame,
        header: OpenCosmoHeader | None = None,
        units: Mapping[str, Unit] | None = None,
        descriptions: Mapping[str, str] | None = None,
        sort_keys: tuple[tuple[str, bool], ...] = (),
        region=None,
        convention: str | None = None,
        base_convention: str | None = None,
        base_units: Mapping[str, Unit] | None = None,
    ):
        self._df = df
        self._header = header or OpenCosmoHeader()
        self._units = dict(units or {})
        self._descriptions = dict(descriptions or {})
        self._sort_keys = tuple(sort_keys)
        self._region = region
        self._convention = convention or self._header.unit_convention
        # the convention/units the data was BORN with: switching back to
        # scalefree is only derivable for scalefree-base data (the base
        # units record each column's littleh power after without_h()
        # erased it from the working units) — reference
        # units/converters.py:57-90 installs add_littleh the same way
        self._base_convention = base_convention or self._convention
        self._base_units = dict(base_units if base_units is not None else self._units)
        self._count_cache: list[int | None] = [None]

    # ------------------------------------------------------------------
    # plumbing
    # ------------------------------------------------------------------
    def _clone(self, df=None, **kw) -> "Dataset":
        return Dataset(
            df if df is not None else self._df,
            header=kw.get("header", self._header),
            units=kw.get("units", self._units),
            descriptions=kw.get("descriptions", self._descriptions),
            sort_keys=kw.get("sort_keys", self._sort_keys),
            region=kw.get("region", self._region),
            convention=kw.get("convention", self._convention),
            base_convention=kw.get("base_convention", self._base_convention),
            base_units=kw.get("base_units", self._base_units),
        )

    @property
    def df(self) -> DataFrame:
        """Escape hatch: the underlying Spark DataFrame (visible cols)."""
        return self._df.select(*self.columns)

    @property
    def spark_df(self) -> DataFrame:
        """Underlying DataFrame including hidden metadata columns."""
        return self._df

    @property
    def header(self) -> OpenCosmoHeader:
        return self._header

    @property
    def columns(self) -> list[str]:
        return [c for c in self._df.columns if not c.startswith(HIDDEN_PREFIX)]

    @property
    def units(self) -> dict[str, Unit]:
        return {c: self._units.get(c, Unit()) for c in self.columns}

    @property
    def descriptions(self) -> dict[str, str]:
        return {c: self._descriptions.get(c, "") for c in self.columns}

    @property
    def cosmology(self):
        return self._header.cosmology

    @property
    def redshift(self):
        return self._header.redshift

    @property
    def region(self):
        return self._region

    @property
    def sorted_by(self):
        return self._sort_keys

    @property
    def convention(self) -> str:
        return self._convention

    def __len__(self) -> int:
        if self._count_cache[0] is None:
            self._count_cache[0] = self._df.count()
        return self._count_cache[0]

    def __repr__(self) -> str:
        n_cols = len(self.columns)
        head = self.df.limit(10).toPandas()
        return (
            f"OpenCosmo Dataset (convention={self._convention}, "
            f"{n_cols} columns)\nFirst 10 rows:\n{head}"
        )

    # ------------------------------------------------------------------
    # expression binding (scalar reductions -> broadcast crossJoin)
    # ------------------------------------------------------------------
    def _bind(
        self, exprs: Iterable[ColumnExpr]
    ) -> tuple[DataFrame, _DSBinder, list[str]]:
        """Lower expressions: pre-resolve ScalarReductions into hidden
        scalar columns attached via crossJoin(broadcast(agg)).

        Multi-round to support nesting like ``(x - x.mean()).std()``:
        each round aggregates all reductions whose children are already
        resolvable, then broadcasts the 1-row result onto every row.
        """
        binder = _DSBinder(self._units, set(self._df.columns))
        df = self._df
        pending: dict[tuple, ScalarReduction] = {}
        for e in exprs:
            for r in e.reductions():
                pending.setdefault(r.key(), r)
        round_no = 0
        while pending:
            ready = {
                k: r
                for k, r in pending.items()
                if all(
                    c.key() in binder.scalar_cols
                    for c in r.child.reductions()
                )
            }
            if not ready:
                raise RuntimeError("unresolvable scalar-reduction cycle")
            aggs = []
            for i, (k, r) in enumerate(sorted(ready.items())):
                name = f"__sc_{round_no}_{i}"
                binder.scalar_cols[k] = name
                aggs.append(r.agg_column(binder).alias(name))
                del pending[k]
            scalars = df.agg(*aggs)
            df = df.crossJoin(F.broadcast(scalars))
            round_no += 1
        binder._columns = set(df.columns)
        return df, binder, list(binder.scalar_cols.values())

    def _lower_one(self, e: ColumnExpr) -> tuple[DataFrame, SparkColumn, Unit, list[str]]:
        df, binder, extra = self._bind([e])
        return df, e.lower(binder), e.unit(binder), extra

    # ------------------------------------------------------------------
    # filter
    # ------------------------------------------------------------------
    def filter(self, *masks: Mask, **_ignored) -> "Dataset":
        """AND of boolean masks. Fully lazy (reference evaluates masks
        eagerly — dataset.py:530-572; Catalyst defers and pushes down)."""
        if not masks:
            return self
        for m in masks:
            if not isinstance(m, Mask):
                raise TypeError("filter() requires boolean mask expressions")
        df, binder, extra = self._bind(masks)
        pred = None
        for m in masks:
            c = m.lower(binder)
            pred = c if pred is None else (pred & c)
        out = df.filter(pred)
        if extra:
            out = out.drop(*extra)
        return self._clone(out)

    # ------------------------------------------------------------------
    # select / drop
    # ------------------------------------------------------------------
    def _expand_wildcards(self, names: Iterable[str]) -> list[str]:
        cols = self.columns
        out: list[str] = []
        for n in names:
            if any(ch in n for ch in "*?["):
                matched = fnmatch.filter(cols, n)
                if not matched:
                    raise KeyError(f"wildcard {n!r} matched no columns")
                out.extend(m for m in matched if m not in out)
            else:
                if n not in self._df.columns:
                    raise KeyError(f"unknown column {n!r}")
                if n not in out:
                    out.append(n)
        return out

    def select(self, *columns: str | Iterable[str], **derived: ColumnExpr):
        """Column subset with ``*`` wildcards; ``**derived`` adds new
        derived columns in the same call (reference dataset.py:614-708).

        A select of only scalar reductions returns a dict of scalars.
        """
        names: list[str] = []
        for c in columns:
            if isinstance(c, str):
                names.append(c)
            else:
                names.extend(c)
        # scalar-only select -> eager scalars (reference behavior)
        if not names and derived and all(
            isinstance(e, ScalarReduction) for e in derived.values()
        ):
            df, binder, _ = self._bind(list(derived.values()))
            row = df.limit(1).select(
                *[e.lower(binder).alias(k) for k, e in derived.items()]
            ).collect()
            return {k: row[0][k] for k in derived} if row else {}

        keep = self._expand_wildcards(names)
        df = self._df
        units = dict(self._units)
        descriptions = dict(self._descriptions)
        proj = [F.col(c) for c in keep]
        if derived:
            df, binder, extra = self._bind(list(derived.values()))
            for k, e in derived.items():
                ex = wrap(e)
                proj.append(ex.lower(binder).alias(k))
                units[k] = ex.unit(binder)
                keep.append(k)
        hidden = [c for c in df.columns if c.startswith(HIDDEN_PREFIX) and not c.startswith("__sc_")]
        out = df.select(*proj, *[F.col(h) for h in hidden])
        units = {c: units[c] for c in units if c in out.columns}
        return self._clone(out, units=units, descriptions=descriptions)

    def drop(self, *columns: str) -> "Dataset":
        gone = self._expand_wildcards(columns)
        keep = [c for c in self.columns if c not in gone]
        return self.select(*keep)

    # ------------------------------------------------------------------
    # derived columns
    # ------------------------------------------------------------------
    def with_new_columns(
        self,
        descriptions: Mapping[str, str] | None = None,
        allow_overwrite: bool = False,
        **new_cols: ColumnExpr | float | int,
    ) -> "Dataset":
        """Add derived (lazy, unit-aware) columns
        (reference dataset.py:914-992)."""
        clash = set(new_cols) & set(self.columns)
        if clash and not allow_overwrite:
            raise ValueError(
                f"columns already exist: {sorted(clash)} "
                "(pass allow_overwrite=True)"
            )
        literals = {
            k: v
            for k, v in new_cols.items()
            if _is_literal_array(v)
        }
        if literals:
            rest = {k: v for k, v in new_cols.items() if k not in literals}
            out = self._with_literal_arrays(literals, descriptions)
            return (
                out.with_new_columns(descriptions, allow_overwrite, **rest)
                if rest
                else out
            )
        exprs = {k: wrap(v) for k, v in new_cols.items()}
        df, binder, extra = self._bind(list(exprs.values()))
        units = dict(self._units)
        descs = dict(self._descriptions)
        assignments = {}
        for k, e in exprs.items():
            assignments[k] = e.lower(binder)
            units[k] = e.unit(binder)
            if descriptions and k in descriptions:
                descs[k] = descriptions[k]
        out = df.withColumns(assignments)
        if extra:
            out = out.drop(*extra)
        return self._clone(out, units=units, descriptions=descs)

    def _with_literal_arrays(
        self,
        arrays: Mapping[str, object],
        descriptions: Mapping[str, str] | None = None,
    ) -> "Dataset":
        """Attach driver-side value arrays (numpy / list / Quantity
        array) as columns, aligned to the current row order (reference
        dataset/columns.py in-memory columns, test/test_im_col.py).

        The array is O(n) driver memory by construction, so ranking
        the ordered head of all n rows (``_ranked_head``) is bounded
        by what the caller could build anyway; the literal side is
        broadcast and joined on each row's position.
        """
        import pandas as pd  # noqa: PLC0415

        n = len(self)
        data: dict[str, object] = {}
        units = dict(self._units)
        descs = dict(self._descriptions)
        for k, v in arrays.items():
            unit = Unit()
            if isinstance(v, Quantity):
                unit, v = v.unit, v.value
            vals = list(v.tolist() if hasattr(v, "tolist") else v)
            if len(vals) != n:
                raise ValueError(
                    f"column '{k}' has {len(vals)} values for {n} rows"
                )
            data[k] = vals
            units[k] = unit
            if descriptions and k in descriptions:
                descs[k] = descriptions[k]
        data["__rn"] = list(range(n))
        lit_df = self._df.sparkSession.createDataFrame(pd.DataFrame(data))

        order = self._require_order("literal array columns")
        joined = (
            self._ranked_head(n, order)
            .join(F.broadcast(lit_df), "__rn")
            .drop("__rn")
        )
        return self._clone(joined, units=units, descriptions=descs)

    # ------------------------------------------------------------------
    # sort / take
    # ------------------------------------------------------------------
    def sort_by(self, column, *more: str, invert: bool = False) -> "Dataset":
        """Declare the sort key(s); applied lazily at take/materialize
        (reference dataset.py:747-785). Extra string keys act as
        tiebreakers (always ascending)."""
        if isinstance(column, str):
            keys = [column, *more]
            for k in keys:
                if k not in self._df.columns:
                    raise KeyError(f"unknown column {k!r}")
            sort_keys = ((keys[0], not invert),) + tuple(
                (k, True) for k in keys[1:]
            )
            return self._fire_post_sort(self._clone(sort_keys=sort_keys))
        # derived sort key: materialize it as a hidden column
        e = wrap(column)
        df, binder, extra = self._bind([e])
        out = df.withColumn("__sortkey", e.lower(binder))
        if extra:
            out = out.drop(*extra)
        return self._fire_post_sort(
            self._clone(out, sort_keys=(("__sortkey", not invert),))
        )

    @staticmethod
    def _fire_post_sort(ds: "Dataset") -> "Dataset":
        """post_sort plugin context (reference PostSortCtx,
        dtypes/diffsky.py:175-183 remaps row-referencing columns after
        a sort re-declares positional identity)."""
        from .plugins import fire

        return fire("post_sort", ds)

    def _require_order(self, what: str) -> list[SparkColumn]:
        """Positional semantics need a TOTAL order that is stable
        across actions; 'current plan order' on multi-partition data is
        not one (exchange-dependent). Datasets written by
        ``oc.write`` carry a persisted ``__row_id``; otherwise the
        caller must declare an order with ``sort_by``."""
        order = self._order_cols()
        if not order:
            raise ValueError(
                f"{what} require a stable row order: call sort_by(...) "
                "first, or use data written by oc.write (which persists "
                "a __row_id column)"
            )
        return order

    def _order_cols(self, reverse: bool = False) -> list[SparkColumn]:
        keys = self._sort_keys
        if not keys and ROW_ID in self._df.columns:
            keys = ((ROW_ID, True),)
        out = []
        for name, asc in keys:
            asc = asc ^ reverse
            out.append(F.col(name).asc() if asc else F.col(name).desc())
        return out

    def take(self, n: int, at: str = "start", seed: int | None = None) -> "Dataset":
        """Head / tail / uniform random sample of n rows
        (reference dataset.py:787-836)."""
        if at == "random":
            # exact-n global uniform sample: rank by rand(seed).
            # TakeOrderedAndProject keeps this a per-partition top-n +
            # driver merge — no global shuffle.
            r = F.rand(seed) if seed is not None else F.rand()
            out = self._df.orderBy(r).limit(n)
        elif at == "start":
            order = self._order_cols()
            out = self._df.orderBy(*order).limit(n) if order else self._df.limit(n)
        elif at == "end":
            order = self._order_cols(reverse=True)
            if order:
                out = self._df.orderBy(*order).limit(n)
            else:
                out = self._df.sparkSession.createDataFrame(
                    self._df.tail(n), self._df.schema
                )
        else:
            raise ValueError(f"take at={at!r} (want start|end|random)")
        return self._clone(out)

    def _ranked_distributed(
        self,
        rank_lo: int | None = None,
        rank_hi: int | None = None,
        positions: "list[int] | None" = None,
    ) -> "DataFrame | None":
        """Global 0-based positions WITHOUT a single-partition window:
        quantile boundaries on the leading (numeric, ascending) order
        key split rows into value buckets; one count-per-bucket job
        gives cumulative offsets (driver holds B integers), then
        position = bucket offset + per-bucket row_number. Both jobs
        compute the bucket from ROW VALUES (literal boundaries), so
        the rank is deterministic across jobs — no reliance on
        partition-id stability, no AQE hazard, no cache.

        ``rank_lo``/``rank_hi`` (a half-open rank interval) or
        ``positions`` (explicit ranks) prune buckets BEFORE the
        ranking exchange: bucket b holds exactly ranks
        [offsets[b], offsets[b] + count[b]) — both driver-known after
        the count job — so buckets disjoint from the request can be
        dropped at the scan stage with zero effect on the surviving
        ``__rn`` values (guide §2.3: shuffle only the rows that can
        reach the result — a take_range page at 100 TB shuffles the
        few covering buckets, not the corpus).

        Returns a df with ``__rn`` (0-based global position) or None
        when the order shape doesn't qualify (non-numeric or
        descending leading key) — callers fall back to the bounded
        ordered-head rank (``_ranked_head``).
        """
        from pyspark.sql import Window
        from pyspark.sql import types as T

        keys = self._sort_keys
        if not keys and ROW_ID in self._df.columns:
            keys = ((ROW_ID, True),)
        if not keys or not keys[0][1]:
            return None
        lead = keys[0][0]
        if not isinstance(
            self._df.schema[lead].dataType,
            (T.IntegerType, T.LongType, T.ShortType, T.ByteType,
             T.FloatType, T.DoubleType, T.DecimalType),
        ):
            return None
        df = self._df
        n_buckets = min(
            256, max(8, df.sparkSession.sparkContext.defaultParallelism)
        )
        probs = [i / n_buckets for i in range(1, n_buckets)]
        # percentile_approx as ONE codegen aggregate: same
        # QuantileSummaries sketch family as df.stat.approxQuantile but
        # ~2x cheaper per pass (0.27s vs 0.47s on a 150k-row scan);
        # bucket balance only needs rough quantiles, so accuracy 2000
        # (~0.05% rank error) is plenty — the rank itself stays EXACT
        # because offsets come from exact per-bucket counts below.
        qrow = df.agg(
            F.percentile_approx(F.col(lead), probs, 2000).alias("q")
        ).first()["q"]
        bounds = sorted(
            {float(x) for x in (qrow or []) if x is not None}
        )
        if bounds:
            # balanced binary-search WHEN tree over the sorted bounds:
            # bucket = |{b : value > b}|, same contract as the old
            # array-fold but codegen-able and O(log B) comparisons per
            # row instead of an O(B) interpreted HOF lambda (ArrayAggregate
            # is CodegenFallback — 255 interpreted steps x rows x 2
            # passes dominated this operator). NULL falls through every
            # when() to bucket 0 and NaN compares greater than every
            # bound to bucket B, both exactly as the fold behaved.
            lead_d = F.col(lead).cast("double")

            def _bucket_tree(lo: int, hi: int):
                # bucket index within [lo, hi] given bounds[lo:hi]
                if lo == hi:
                    return F.lit(lo)
                mid = (lo + hi) // 2
                return F.when(
                    lead_d > bounds[mid], _bucket_tree(mid + 1, hi)
                ).otherwise(_bucket_tree(lo, mid))

            bucket = _bucket_tree(0, len(bounds))
        else:
            bucket = F.lit(0)
        order = self._order_cols()
        with_b = df.withColumn("__bucket", bucket)
        counts = {
            r["__bucket"]: r["n"]
            for r in with_b.groupBy("__bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        offsets, acc = [], 0
        for b in range(len(bounds) + 1):
            offsets.append(acc)
            acc += counts.get(b, 0)
        # prune buckets that cannot intersect the requested ranks:
        # bucket b covers ranks [offsets[b], offsets[b] + n_b) exactly,
        # so the restriction is driver arithmetic + one scan-stage
        # filter ahead of the ranking exchange. Ranks of kept rows are
        # unchanged (offsets were computed over the FULL table).
        n_b = len(bounds) + 1
        keep: "list[int] | None" = None
        if positions is not None:
            keep = sorted(
                {
                    b
                    for b in range(n_b)
                    if any(
                        offsets[b] <= p < offsets[b] + counts.get(b, 0)
                        for p in positions
                    )
                }
            )
        elif rank_lo is not None or rank_hi is not None:
            lo = 0 if rank_lo is None else rank_lo
            hi = acc if rank_hi is None else rank_hi
            keep = [
                b
                for b in range(n_b)
                if offsets[b] < hi and offsets[b] + counts.get(b, 0) > lo
            ]
        if keep is not None and len(keep) < n_b:
            if not keep:
                with_b = with_b.filter(F.lit(False))
            elif keep == list(range(keep[0], keep[-1] + 1)):
                with_b = with_b.filter(
                    (F.col("__bucket") >= keep[0])
                    & (F.col("__bucket") <= keep[-1])
                )
            else:
                with_b = with_b.filter(F.col("__bucket").isin(keep))
        # one py4j call for up to 256 offsets (and a magnitude-stable
        # array<bigint> type) instead of one round-trip per literal
        off_arr = lit_long_array(offsets)
        w = Window.partitionBy("__bucket").orderBy(*order)
        return (
            with_b.withColumn(
                "__rn",
                F.element_at(off_arr, F.col("__bucket") + 1)
                + F.row_number().over(w)
                - 1,
            ).drop("__bucket")
        )

    def take_range(
        self, start: int, end: int, head_max: int | None = None
    ) -> "Dataset":
        """Rows [start, end) in the current order
        (reference dataset.py:838-883).

        Small ranges (``end`` <= ``head_max``, default
        ``_POSITIONAL_HEAD_MAX``) plan as one
        TakeOrderedAndProject (limit end, offset start) — optimal when
        the range is a page. Larger ranges
        switch to the fully distributed rank
        (``_ranked_distributed``): per-value-bucket row numbers +
        broadcast offsets, so a ``take_range(0, 50M)`` at 100x scale
        never funnels through one task."""
        if start < 0 or end < start:
            raise ValueError("bad range")
        if head_max is None:
            head_max = _POSITIONAL_HEAD_MAX
        order = self._order_cols()
        df = self._df
        if end > head_max:
            ranked = self._ranked_distributed(rank_lo=start, rank_hi=end)
            if ranked is not None:
                out = ranked.filter(
                    (F.col("__rn") >= start) & (F.col("__rn") < end)
                ).drop("__rn")
                return self._clone(out)
        if start == 0:
            head = df.orderBy(*order).limit(end) if order else df.limit(end)
            return self._clone(head)
        order = self._require_order("take_range with start > 0")
        return self._clone(df.orderBy(*order).limit(end).offset(start))

    def take_rows(
        self, rows: Iterable[int], head_max: int | None = None
    ) -> "Dataset":
        """Select explicit row positions in the current order
        (reference dataset.py:885-912). Positions are joined against a
        rank — a broadcast semi-join on the positions list. The rank is
        the ordered head's (``_ranked_head``); positions past
        ``_POSITIONAL_HEAD_MAX`` rank distributedly
        (``_ranked_distributed``) instead of sorting a head in one
        task."""
        positions = sorted(set(int(r) for r in rows))
        if not positions:
            return self._clone(self._df.limit(0))
        order = self._require_order("take_rows")
        spark = self._df.sparkSession
        if head_max is None:
            head_max = _POSITIONAL_HEAD_MAX
        hi = positions[-1] + 1
        pos_df = values_df(spark, [(p,) for p in positions], "__rn long")
        if hi > head_max:
            ranked = self._ranked_distributed(positions=positions)
            if ranked is not None:
                out = ranked.join(
                    F.broadcast(pos_df), "__rn", "left_semi"
                ).drop("__rn")
                return self._clone(out)
        ranked = self._ranked_head(hi, order)
        out = ranked.join(F.broadcast(pos_df), "__rn", "left_semi").drop("__rn")
        return self._clone(out)

    def _ranked_head(self, n: int, order: list[SparkColumn]) -> DataFrame:
        """The first ``n`` rows in ``order`` with their 0-based position
        ``__rn``. One TakeOrderedAndProject leaves them sorted in a
        single partition, where ``monotonically_increasing_id`` counts
        0, 1, 2, ...: a rank with no un-partitioned window."""
        head = self._df.orderBy(*order).limit(n)
        return head.withColumn("__rn", F.monotonically_increasing_id())

    # ------------------------------------------------------------------
    # spatial
    # ------------------------------------------------------------------
    def bound(self, region, select_by: str | None = None) -> "Dataset":
        """Restrict to a spatial region using the two-phase
        interior/boundary-cell predicate (reference dataset.py:340-431).
        Delegates to the spatial compiler."""
        from .spatial.bound import bound_dataset

        return bound_dataset(self, region, select_by)

    def cone_search(self, ra, dec, radius) -> "Dataset":
        from .spatial.region import make_cone

        return self.bound(make_cone((ra, dec), radius))

    def box_search(self, p1, p2) -> "Dataset":
        from .spatial.region import make_box

        return self.bound(make_box(p1, p2))

    # ------------------------------------------------------------------
    # units
    # ------------------------------------------------------------------
    def with_units(
        self,
        convention: str | None = None,
        conversions: Mapping[str, str | Unit] | None = None,
        **column_conversions: str | Unit,
    ) -> "Dataset":
        """Switch unit convention and/or convert individual columns.

        Convention math (reference units/converters.py:23-210):
        scalefree -> comoving multiplies by h**p (p = littleh exponent);
        -> physical additionally multiplies by a**d (d = length power),
        with per-row scale factor from a known column when present.
        Implemented as a pure projection rewrite — Catalyst folds the
        constants; no custom execution.
        """
        df = self._df
        units = dict(self._units)
        conv = self._convention
        target = convention or conv
        if target not in UnitConvention.ALL:
            raise ValueError(f"unknown convention {target!r}")
        assignments: dict[str, SparkColumn] = {}

        if target != conv and conv != UnitConvention.UNITLESS:
            if target == UnitConvention.UNITLESS:
                units = {c: Unit() for c in units}
            else:
                if (
                    target == UnitConvention.SCALEFREE
                    and conv != UnitConvention.SCALEFREE
                    and self._base_convention != UnitConvention.SCALEFREE
                ):
                    # restoring littleh requires knowing each column's
                    # original h power — only recorded for data BORN
                    # scalefree; the reference likewise only installs
                    # add_littleh for scalefree-base data and raises
                    # otherwise (units/converters.py:57-90)
                    raise ValueError(
                        f"{conv} -> scalefree is not invertible for "
                        f"{self._base_convention}-base data (littleh "
                        "powers were never recorded)"
                    )
                h = self._header.h
                a_col = self._scale_factor_column()
                for c in self.columns:
                    u = units.get(c, Unit())
                    expr_c = F.col(c)
                    cur_h = u.h_power if conv == UnitConvention.SCALEFREE else 0
                    tgt_has_h = target == UnitConvention.SCALEFREE
                    base_u = u
                    changed = False
                    # step 1: littleh removal / re-addition. Forward
                    # (scalefree -> x) multiplies by h**p and drops h
                    # from the unit; the inverse multiplies by h**-p and
                    # re-attaches h**p from the BASE unit (h powers
                    # survive per-column conversions: those only rescale
                    # the h-free part).
                    if cur_h != 0 and not tgt_has_h:
                        expr_c = expr_c * F.lit(float(h) ** float(cur_h))
                        base_u = u.without_h()
                        changed = True
                    elif tgt_has_h and conv != UnitConvention.SCALEFREE:
                        p = self._base_units.get(c, Unit()).h_power
                        if p != 0:
                            expr_c = expr_c * F.lit(float(h) ** float(-p))
                            base_u = u * Unit.of(h=p)
                            changed = True
                    # step 2: comoving <-> physical scale factor
                    d = float(base_u.length_power)
                    src_physical = conv == UnitConvention.PHYSICAL
                    dst_physical = target == UnitConvention.PHYSICAL
                    if d != 0 and src_physical != dst_physical:
                        if a_col is not None:
                            factor = F.pow(a_col, F.lit(d if dst_physical else -d))
                        else:
                            a = self._header.scale_factor
                            factor = F.lit(float(a) ** (d if dst_physical else -d))
                        expr_c = expr_c * factor
                        changed = True
                    if changed:
                        assignments[c] = expr_c
                    units[c] = base_u
        # conversions: a key naming a column applies to that column; any
        # other key is parsed as a UNIT and blankets every column whose
        # current (post-convention) unit equals it — the reference's
        # `conversions={u.Mpc: u.lyr}` semantics (dataset.py:1055-1060;
        # matching by current-convention unit, units/handler.py:93-114).
        # Explicit column keys/kwargs take precedence over blankets.
        col_names = set(self.columns)
        all_conv: dict[str, str | Unit] = {}
        blankets: list[tuple[Unit, Unit]] = []
        for k, v in dict(conversions or {}).items():
            if isinstance(k, str) and k in col_names:
                all_conv[k] = v
            else:
                ku = k if isinstance(k, Unit) else parse_unit(str(k))
                nv = v if isinstance(v, Unit) else parse_unit(str(v))
                blankets.append((ku, nv))
        all_conv.update(column_conversions)
        for ku, nv in blankets:
            for c in self.columns:
                if c in all_conv:
                    continue  # column conversions take precedence
                if units.get(c, Unit()) == ku:
                    all_conv[c] = nv
        for c, new_unit in all_conv.items():
            nu = new_unit if isinstance(new_unit, Unit) else parse_unit(new_unit)
            u = units.get(c, Unit())
            factor = u.conversion_factor(nu)
            base = assignments.get(c, F.col(c))
            assignments[c] = base * F.lit(factor)
            units[c] = nu
        out = df.withColumns(assignments) if assignments else df
        return self._clone(out, units=units, convention=target)

    def _scale_factor_column(self) -> SparkColumn | None:
        cols = set(self._df.columns)
        for c in KNOWN_SCALEFACTOR_COLUMNS:
            if c in cols:
                return F.col(c)
        for c in KNOWN_REDSHIFT_COLUMNS:
            if c in cols:
                return F.lit(1.0) / (F.lit(1.0) + F.col(c))
        return None

    # ------------------------------------------------------------------
    # UDF surface
    # ------------------------------------------------------------------
    def evaluate(
        self,
        func: Callable,
        vectorize: bool = False,
        insert: bool = True,
        format: str = "numpy",
        batch_size: int | None = None,
        **kwargs: Any,
    ):
        """Apply a Python function over the dataset
        (reference dataset.py:433-528).

        Column pruning by signature: only parameters of ``func`` that
        match column names are read (reference dataset.py:458-459).
        Vectorized path = Arrow-batched ``mapInPandas``; row path
        iterates inside the same Arrow batches (never per-row pickling).
        ``insert=False`` returns raw results; the row-wise and batched
        variants run distributed and collect only the outputs.
        """
        from .evaluate import evaluate_dataset

        return evaluate_dataset(
            self,
            func,
            vectorize=vectorize,
            insert=insert,
            format=format,
            batch_size=batch_size,
            **kwargs,
        )

    # ------------------------------------------------------------------
    # materialization
    # ------------------------------------------------------------------
    def _materialize_df(self) -> DataFrame:
        order = self._order_cols()
        df = self._df
        if self._sort_keys:
            df = df.orderBy(*order)
        return df.select(*[c for c in self.columns])

    def get_data(self, format: str = "pandas"):
        """Materialize (reference dataset.py:265-338). Formats:
        pandas | numpy | arrow | polars | spark | list."""
        df = self._materialize_df()
        if format == "spark":
            return df
        if format == "pandas":
            return df.toPandas()
        if format == "arrow":
            return df.toArrow()
        if format == "numpy":
            pdf = df.toPandas()
            return {c: pdf[c].to_numpy() for c in pdf.columns}
        if format == "polars":
            try:
                import polars as pl  # noqa: PLC0415
            except ImportError as exc:
                raise ImportError("polars not installed in this image") from exc
            return pl.from_arrow(df.toArrow())
        if format == "list":
            return [r.asDict() for r in df.collect()]
        if format == "astropy":
            # reference's default format (dataset/formats.py); gated —
            # astropy is not in this image. The adapter logic itself is
            # _to_astropy_table, contract-tested against a vendored
            # minimal Table fixture (tests/test_format_adapters.py) so
            # the real path is exercised everywhere but the import.
            try:
                from astropy.table import Table  # noqa: PLC0415
            except ImportError as exc:
                raise ImportError(
                    "astropy not installed in this image"
                ) from exc
            return _to_astropy_table(df.toPandas(), self._units, Table)
        if format == "jax":
            try:
                import jax.numpy as jnp  # noqa: PLC0415
            except ImportError as exc:
                raise ImportError("jax not installed in this image") from exc
            pdf = df.toPandas()
            return {c: jnp.asarray(pdf[c].to_numpy()) for c in pdf.columns}
        raise ValueError(f"unknown format {format!r}")

    def rows(self, batch_size: int = 1000) -> Iterator[dict]:
        """Stream rows as dicts (reference dataset.py:574-612)."""
        for row in self._materialize_df().toLocalIterator():
            yield row.asDict()

    def get_metadata(self, columns: Iterable[str]) -> dict:
        """Read hidden metadata columns (reference dataset.py:259-263)."""
        pdf = self._df.select(*columns).toPandas()
        return {c: pdf[c].to_numpy() for c in pdf.columns}

    def cache(self) -> "Dataset":
        self._df.cache()
        return self

    def unpersist(self) -> "Dataset":
        self._df.unpersist()
        return self


__all__ = ["Dataset", "col", "ROW_ID", "HIDDEN_PREFIX"]
