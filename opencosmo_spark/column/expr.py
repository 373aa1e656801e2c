"""User-composable, unit-aware expression trees.

Parity target: reference ``python/opencosmo/column/column.py`` (Column
expression DAG at :134, masks :407-426, arithmetic :353-361, math
:363-381, scalar reductions :383-405). Here the tree is *declarative
metadata only* — it lowers to a ``pyspark.sql.Column`` and lets Catalyst
do evaluation, dedup, and pruning (the reference's producer-DAG
machinery collapses into Catalyst).

Scalar reductions inside expressions (``col("x").mean()``) lower to a
two-phase plan: a global aggregate computed once and broadcast back via
``crossJoin(broadcast(agg_df))`` — distributed, lazy, no global window
(a ``Window.partitionBy()`` would funnel 100 TB through one task).

NOTE on std/var semantics: the reference reduces with numpy defaults
(ddof=0, population); we lower to ``stddev_pop``/``var_pop``.
"""

from __future__ import annotations

from fractions import Fraction
from typing import Any, Iterable

from pyspark.sql import Column as SparkColumn
from pyspark.sql import functions as F

from ..units import Quantity, Unit, UnitError

__all__ = ["col", "lit", "ColumnExpr", "ScalarReduction", "Binder"]


class Binder:
    """Resolution context a Dataset supplies when lowering expressions."""

    def resolve(self, name: str) -> tuple[SparkColumn, Unit]:  # pragma: no cover
        raise NotImplementedError

    def scalar(self, node: "ScalarReduction") -> SparkColumn:  # pragma: no cover
        raise NotImplementedError


class ColumnExpr:
    """Base node. Subclasses implement ``lower`` and ``unit``."""

    # -- arithmetic ----------------------------------------------------
    def __add__(self, o):
        return BinOp("+", self, wrap(o))

    def __radd__(self, o):
        return BinOp("+", wrap(o), self)

    def __sub__(self, o):
        return BinOp("-", self, wrap(o))

    def __rsub__(self, o):
        return BinOp("-", wrap(o), self)

    def __mul__(self, o):
        return BinOp("*", self, wrap(o))

    def __rmul__(self, o):
        return BinOp("*", wrap(o), self)

    def __truediv__(self, o):
        return BinOp("/", self, wrap(o))

    def __rtruediv__(self, o):
        return BinOp("/", wrap(o), self)

    def __pow__(self, o):
        return BinOp("**", self, wrap(o))

    def __neg__(self):
        return BinOp("*", wrap(-1.0), self)

    # -- math ----------------------------------------------------------
    def log10(self):
        return Func("log10", [self])

    def exp10(self):
        return Func("exp10", [self])

    def sqrt(self):
        return Func("sqrt", [self])

    def abs(self):
        return Func("abs", [self])

    def arcsin(self):
        return Func("arcsin", [self])

    def arccos(self):
        return Func("arccos", [self])

    def arctan2(self, other):
        return Func("arctan2", [self, wrap(other)])

    # -- scalar reductions (usable inside expressions & filters) -------
    def mean(self):
        return ScalarReduction("mean", self)

    def std(self):
        return ScalarReduction("std", self)

    def var(self):
        return ScalarReduction("var", self)

    def min(self):
        return ScalarReduction("min", self)

    def max(self):
        return ScalarReduction("max", self)

    def median(self):
        return ScalarReduction("median", self)

    def sum(self):
        return ScalarReduction("sum", self)

    def quantile(self, q: float):
        return ScalarReduction("quantile", self, q=float(q))

    # -- predicates ----------------------------------------------------
    def __eq__(self, o):  # type: ignore[override]
        return Compare("==", self, wrap(o))

    def __ne__(self, o):  # type: ignore[override]
        return Compare("!=", self, wrap(o))

    def __gt__(self, o):
        return Compare(">", self, wrap(o))

    def __ge__(self, o):
        return Compare(">=", self, wrap(o))

    def __lt__(self, o):
        return Compare("<", self, wrap(o))

    def __le__(self, o):
        return Compare("<=", self, wrap(o))

    def isin(self, values: Iterable[Any]):
        return IsIn(self, list(values))

    def __hash__(self):
        return id(self)

    # -- lowering ------------------------------------------------------
    def lower(self, b: Binder) -> SparkColumn:  # pragma: no cover
        raise NotImplementedError

    def unit(self, b: Binder) -> Unit:  # pragma: no cover
        raise NotImplementedError

    def children(self) -> list["ColumnExpr"]:
        return []

    def reductions(self) -> list["ScalarReduction"]:
        """All ScalarReduction nodes in this subtree (pre-order)."""
        out = []
        for c in self.children():
            out.extend(c.reductions())
        return out

    def key(self) -> tuple:
        """Structural identity for dedup of repeated reductions."""
        return (type(self).__name__,) + tuple(c.key() for c in self.children())


def wrap(v) -> ColumnExpr:
    if isinstance(v, ColumnExpr):
        return v
    if isinstance(v, Quantity):
        return Lit(v.value, v.unit)
    if isinstance(v, (int, float)):
        return Lit(float(v), Unit())
    if isinstance(v, (str, bool)):
        return Lit(v, Unit())
    raise TypeError(f"cannot use {type(v).__name__} in a column expression")


class ColRef(ColumnExpr):
    def __init__(self, name: str):
        self.name = name

    def lower(self, b: Binder) -> SparkColumn:
        return b.resolve(self.name)[0]

    def unit(self, b: Binder) -> Unit:
        return b.resolve(self.name)[1]

    def key(self):
        return ("col", self.name)

    def __repr__(self):
        return f"col({self.name!r})"


class Lit(ColumnExpr):
    def __init__(self, value, unit: Unit):
        self.value = value
        self._unit = unit

    def lower(self, b: Binder) -> SparkColumn:
        return F.lit(self.value)

    def unit(self, b: Binder) -> Unit:
        return self._unit

    def key(self):
        return ("lit", self.value, str(self._unit))

    def __repr__(self):
        return f"lit({self.value})"


class BinOp(ColumnExpr):
    def __init__(self, op: str, l: ColumnExpr, r: ColumnExpr):
        self.op, self.l, self.r = op, l, r

    def children(self):
        return [self.l, self.r]

    def lower(self, b: Binder) -> SparkColumn:
        lc, rc = self.l.lower(b), self.r.lower(b)
        # unit-aware add/sub: auto-convert convertible RHS (e.g. kpc + Mpc)
        if self.op in ("+", "-"):
            lu, ru = self.l.unit(b), self.r.unit(b)
            if not ru.dimensionless_ and not lu.dimensionless_ and lu != ru:
                rc = rc * F.lit(ru.conversion_factor(lu))
        if self.op == "+":
            return lc + rc
        if self.op == "-":
            return lc - rc
        if self.op == "*":
            return lc * rc
        if self.op == "/":
            return lc / rc
        if self.op == "**":
            return F.pow(lc, rc)
        raise ValueError(self.op)

    def unit(self, b: Binder) -> Unit:
        lu, ru = self.l.unit(b), self.r.unit(b)
        if self.op in ("+", "-"):
            if lu.dimensionless_:
                return ru
            if ru.dimensionless_ and not lu.dimensionless_:
                return lu
            if lu.dimension() != ru.dimension():
                raise UnitError(f"cannot {self.op} units {lu} and {ru}")
            return lu
        if self.op == "*":
            return lu * ru
        if self.op == "/":
            return lu / ru
        if self.op == "**":
            if not isinstance(self.r, Lit):
                if not lu.dimensionless_:
                    raise UnitError("non-literal exponent on a unitful column")
                return Unit()
            return lu.pow(Fraction(self.r.value).limit_denominator(1000))
        raise ValueError(self.op)

    def key(self):
        return ("bin", self.op, self.l.key(), self.r.key())


_FUNCS = {
    "log10": F.log10,
    "sqrt": F.sqrt,
    "abs": F.abs,
    "arcsin": F.asin,
    "arccos": F.acos,
}


class Func(ColumnExpr):
    def __init__(self, name: str, args: list[ColumnExpr]):
        self.name, self.args = name, args

    def children(self):
        return self.args

    def lower(self, b: Binder) -> SparkColumn:
        cols = [a.lower(b) for a in self.args]
        if self.name == "exp10":
            return F.pow(F.lit(10.0), cols[0])
        if self.name == "arctan2":
            return F.atan2(cols[0], cols[1])
        return _FUNCS[self.name](cols[0])

    def unit(self, b: Binder) -> Unit:
        u0 = self.args[0].unit(b)
        if self.name == "log10":
            # dimensionless log stays dimensionless; unitful -> dex
            return u0.dex() if u0.powers else Unit()
        if self.name == "exp10":
            return u0.undex() if u0.is_dex else Unit()
        if self.name == "sqrt":
            return u0.sqrt()
        if self.name == "abs":
            return u0
        if self.name in ("arcsin", "arccos", "arctan2"):
            # dimensionless in, radians out (reference column.py:581-622)
            if not u0.dimensionless_ and u0.dimension():
                raise UnitError(f"{self.name} needs dimensionless input, got {u0}")
            return Unit.of(rad=1)
        raise ValueError(self.name)

    def key(self):
        return ("fn", self.name) + tuple(a.key() for a in self.args)


_AGGS = {
    "mean": F.avg,
    "std": F.stddev_pop,  # numpy ddof=0 parity
    "var": F.var_pop,
    "min": F.min,
    "max": F.max,
    "median": F.median,
    "sum": F.sum,
}


class ScalarReduction(ColumnExpr):
    """A global aggregate embedded in an expression (z-score etc.).

    Reference: ``DerivedScalarValue`` (column.py:727, :383-405).
    """

    def __init__(self, op: str, child: ColumnExpr, q: float | None = None):
        self.op, self.child, self.q = op, child, q

    def children(self):
        return [self.child]

    def reductions(self):
        return [self] + self.child.reductions()

    def agg_column(self, b: Binder) -> SparkColumn:
        c = self.child.lower(b)
        if self.op == "quantile":
            return F.percentile(c, F.lit(self.q))
        return _AGGS[self.op](c)

    def lower(self, b: Binder) -> SparkColumn:
        return b.scalar(self)

    def unit(self, b: Binder) -> Unit:
        u = self.child.unit(b)
        return u.pow(2) if self.op == "var" else u

    def key(self):
        return ("red", self.op, self.q, self.child.key())


# ---------------------------------------------------------------------
# masks / predicates
# ---------------------------------------------------------------------
class Mask(ColumnExpr):
    """Boolean-valued expression (reference ColumnMask, column.py:1215)."""

    def __and__(self, o):
        return BoolOp("and", self, o)

    def __or__(self, o):
        return BoolOp("or", self, o)

    def __invert__(self):
        return NotOp(self)

    def unit(self, b: Binder) -> Unit:
        return Unit()


class Compare(Mask):
    def __init__(self, op: str, l: ColumnExpr, r: ColumnExpr):
        self.op, self.l, self.r = op, l, r

    def children(self):
        return [self.l, self.r]

    def lower(self, b: Binder) -> SparkColumn:
        lc, rc = self.l.lower(b), self.r.lower(b)
        lu, ru = self.l.unit(b), self.r.unit(b)
        # unit-aware compare: convert RHS into LHS's unit (reference
        # column.py:1241-1247); incompatible units raise.
        if not ru.dimensionless_ and ru.dimension():
            factor = ru.conversion_factor(lu)
            if factor != 1.0:
                rc = rc * F.lit(factor)
        elif not lu.dimensionless_ and isinstance(self.r, Lit) and lu.dimension():
            pass  # bare scalar against unitful column: value taken as-is
        ops = {
            "==": lambda a, c: a == c,
            "!=": lambda a, c: a != c,
            ">": lambda a, c: a > c,
            ">=": lambda a, c: a >= c,
            "<": lambda a, c: a < c,
            "<=": lambda a, c: a <= c,
        }
        return ops[self.op](lc, rc)

    def key(self):
        return ("cmp", self.op, self.l.key(), self.r.key())


class IsIn(Mask):
    def __init__(self, child: ColumnExpr, values: list):
        self.child, self.values = child, values

    def children(self):
        return [self.child]

    def lower(self, b: Binder) -> SparkColumn:
        return self.child.lower(b).isin(self.values)

    def key(self):
        return ("isin", self.child.key(), tuple(self.values))


class BoolOp(Mask):
    def __init__(self, op: str, l: ColumnExpr, r: ColumnExpr):
        self.op, self.l, self.r = op, l, r

    def children(self):
        return [self.l, self.r]

    def lower(self, b: Binder) -> SparkColumn:
        lc, rc = self.l.lower(b), self.r.lower(b)
        return (lc & rc) if self.op == "and" else (lc | rc)

    def key(self):
        return ("bool", self.op, self.l.key(), self.r.key())


class NotOp(Mask):
    def __init__(self, child: ColumnExpr):
        self.child = child

    def children(self):
        return [self.child]

    def lower(self, b: Binder) -> SparkColumn:
        return ~self.child.lower(b)

    def key(self):
        return ("not", self.child.key())


def col(name: str) -> ColRef:
    """Build a column reference: ``col("fof_halo_mass") > 1e13``."""
    return ColRef(name)


def lit(value: float, unit: str | Unit | None = None) -> Lit:
    from ..units import parse_unit

    u = unit if isinstance(unit, Unit) else parse_unit(unit)
    return Lit(float(value), u)
