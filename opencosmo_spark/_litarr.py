"""Fast literal double-array construction.

``F.array(*[F.lit(float(x)) for x in xs])`` costs one py4j round-trip
per element (~1 ms each): an operator that embeds a few 64-dim
centroid/hyperplane vectors spends SECONDS of pure driver time just
building its expression tree (measured ~68 ms per 64-element array vs
0.7 ms via one parsed SQL literal — ~95x). Every query re-pays this on
every run, and it is serial driver work that no cluster size hides
(guide §5: the driver should do almost no data work — including
expression-building busywork).

``lit_double_array`` builds the identical Column (non-null
array<double> literal) with ONE py4j call by rendering the SQL
``array(...)`` literal as text. ``repr(float)`` is the shortest
round-trip decimal form, and Java's ``Double.parseDouble`` of that
form recovers the identical IEEE-754 bits, so values are bit-equal to
the ``F.lit`` path (cross-checked in tests). NaN and ±Inf render as
constant casts that the optimizer folds to the same literals.

The module is also the one home of SQL-text rendering: literals
(``sql_num``, ``sql_str``, ``sql_double_array``), identifiers
(``sql_ident``, ``sql_col``), types (``sql_type``) and bindings
(``sql_let``).

One rule for every SQL-text builder: never interpolate a tokenizer or
parser expression (``split``, ``regexp_extract_all``,
``try_parse_url``, ...) into a lambda body — bind it. Spark evaluates
a lambda body once per array element and does not share common
subexpressions inside higher-order functions, so ``split(text)``
pasted into ``transform(xs, x -> ... split(text) ...)`` re-tokenizes
the row once per element (O(words^2) per document). Interpolating it
several times outside lambdas re-tokenizes it once per copy. Bind the
value once with ``sql_let`` and read the variable in the body, or
project it once as a hidden column that is read outside lambda
bodies (the optimizer inlines a projection read only once, wherever
that read sits — the ``dedup._shingle_frame`` finding).
"""

from __future__ import annotations

import math
import numbers

from pyspark.sql import Column, functions as F


def sql_double_array(values) -> str:
    """SQL text of a literal ``array<double>``: every element through
    ``_sql_cell`` (``repr`` round trip; NaN and ±Inf exact)."""
    return "array(" + ",".join(_sql_cell(float(v)) for v in values) + ")"


def lit_double_array(values) -> Column:
    """A literal ``array<double>`` Column, bit-identical to
    ``F.array(*[F.lit(float(v)) for v in values])`` but built with one
    py4j round-trip instead of one per element."""
    return F.expr(sql_double_array(values))


def lit_long_array(values) -> Column:
    """A literal ``array<bigint>`` Column in one py4j round-trip (the
    integer twin of ``lit_double_array``; every element is rendered
    with the SQL ``L`` suffix so the array type never depends on
    element magnitudes)."""
    vals = [int(v) for v in values]
    if not vals:
        return F.array().cast("array<bigint>")
    return F.expr("array(" + ",".join(f"{v}L" for v in vals) + ")")


def sql_num(v) -> str:
    """SQL literal for a number, typed as ``F.lit`` types it: integers
    render unsuffixed (the parser makes them INT when they fit, else
    BIGINT — ``F.lit``'s rule, so an INT column is never widened),
    everything else as a DOUBLE through ``_sql_cell`` (``repr`` round
    trip; NaN and ±Inf stay exact)."""
    if isinstance(v, numbers.Integral) and not isinstance(v, bool):
        return str(int(v))
    return _sql_cell(float(v))


def sql_in(expr: str, values) -> str:
    """SQL text ``expr IN (v1, ..., vn)`` for a filter — the predicate
    ``Column.isin(values)`` builds with one py4j round-trip per value,
    here parsed once by ``F.expr`` (a 1,452-cell octree set: ~7,000
    calls and 0.7 s vs one call under a millisecond). It optimizes to
    the same ``INSET`` and Parquet ``In`` pushed filter. No values
    render ``FALSE``, which a filter treats as ``x IN ()``."""
    vals = [sql_num(v) for v in values]
    if not vals:
        return "FALSE"
    return f"{expr} IN ({', '.join(vals)})"


def sql_str(s: str) -> str:
    """Render a python string as a Spark SQL string EXPRESSION whose
    value is exactly ``s`` (shared by the SQL-text operator folds).
    Printable strings become a plain escaped literal; control
    characters outside \\n/\\r/\\t (e.g. a NUL sentinel) have no
    literal escape that survives every parser config, so those render
    as ``concat(..., char(n), ...)`` pieces."""
    out = []  # literal-safe chunks and char(n) pieces, in order
    buf = []

    def flush():
        if buf:
            out.append("'" + "".join(buf) + "'")
            buf.clear()

    for ch in s:
        o = ord(ch)
        if ch == "\\":
            buf.append("\\\\")
        elif ch == "'":
            buf.append("\\'")
        elif ch == "\n":
            buf.append("\\n")
        elif ch == "\r":
            buf.append("\\r")
        elif ch == "\t":
            buf.append("\\t")
        elif o < 0x20 or o == 0x7F:
            flush()
            out.append(f"char({o})")
        else:
            buf.append(ch)
    flush()
    if not out:
        return "''"
    if len(out) == 1:
        return out[0]
    return "concat(" + ", ".join(out) + ")"


def sql_let(value: str, var: str, body: str) -> str:
    """SQL text that evaluates ``value`` once per row and reads it as
    the lambda variable ``var`` in ``body``:
    ``element_at(transform(array(value), var -> body), 1)``. Values
    are those of ``body`` with ``value`` pasted in for ``var``, NULL
    included (a NULL ``value`` binds ``var`` to NULL)."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def sql_ident(name: str) -> str:
    """Backtick-quote an identifier for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def sql_col(name) -> str:
    """SQL text of a column given by NAME, for the helpers that render
    their expression as parsed SQL text. A ``Column`` has no SQL text,
    so it raises ``TypeError`` pointing to the name form."""
    if not isinstance(name, str):
        raise TypeError(
            f"expected a column name (str), got {type(name).__name__};"
            " pass the column's name — project a Column under a name"
            " first (df.withColumn(name, col)) and pass that name"
        )
    return sql_ident(name)


def sql_type(dt) -> str:
    """DDL text of a ``DataType`` that parses back to the same type,
    every struct field name backtick-quoted (``simpleString`` leaves
    names bare, so a field like ``my-meta`` would not parse)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return "struct<" + ",".join(
            f"{sql_ident(f.name)}:{sql_type(f.dataType)}" for f in dt.fields
        ) + ">"
    if isinstance(dt, T.ArrayType):
        return f"array<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{sql_type(dt.keyType)},{sql_type(dt.valueType)}>"
    return dt.simpleString()


# Above this many cells the rendered SQL text stops being "driver-
# small" and the Arrow createDataFrame path is the right tool anyway.
_VALUES_MAX_CELLS = 50_000


# declared column type (base name) -> python types whose literal
# rendering + CAST reproduces createDataFrame's verified conversion.
# A cell/type pair OUTSIDE this table falls back to createDataFrame so
# a caller bug still fails loudly (TypeError) instead of becoming a
# silent NULL under the VALUES path's non-ANSI cast.
_CELL_TYPES = {
    "tinyint": (bool, int), "smallint": (bool, int), "int": (bool, int),
    "integer": (bool, int), "bigint": (bool, int), "long": (bool, int),
    "float": (float,), "real": (float,), "double": (float,),
    "string": (str,), "boolean": (bool,),
}


def _sql_cell(v, decl: str | None = None) -> str | None:
    """SQL literal for one VALUES cell, or None when the value has no
    faithful literal form (caller falls back to createDataFrame).
    ``decl`` (the column's declared DDL type) additionally rejects
    cells whose python type createDataFrame would refuse for that
    column — preserving the loud-failure contract."""
    if decl is not None:
        allowed = _CELL_TYPES.get(decl.split("(")[0].strip().lower())
        if allowed is None:
            return None  # unknown declared type — verified path only
        if v is not None and not isinstance(v, allowed):
            return None
    if v is None:
        return "NULL"
    if isinstance(v, bool):  # before int: bool subclasses int
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        if -(2**63) <= v < 2**63:
            return f"{v}L"
        return None
    if isinstance(v, float):
        # coerce through float() so float SUBCLASSES (np.float64 under
        # NumPy 2.x reprs as 'np.float64(0.5)') render a parseable
        # literal — the lit_double_array coercion
        if math.isfinite(v):
            return f"{float(v)!r}D"
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return None


def values_df(spark, rows, schema: str):
    """Driver-small literal table as a pure-JVM ``LocalRelation``.

    ``spark.createDataFrame(rows, schema)`` on a Python list plans as
    ``Scan ExistingRDD`` over a PythonRDD parallelized into
    ``defaultParallelism`` slices — a 2-row bin grid became a 32-task
    stage in which every task acquires a Python worker through the
    synchronized ``SparkEnv.createPythonWorker`` (thread dumps showed
    31/32 executor threads BLOCKED on that monitor: ~10 s of summed
    runTime for ~0.2 s of CPU, guide §4: keep Python out of paths that
    don't need it). Rendering the same rows as a SQL ``VALUES`` table
    plans as ``LocalTableScan``: zero tasks, zero Python workers, and
    joins against it broadcast trivially.

    ``schema`` is flat DDL (``"name type, name type"``). Cells may be
    int / float (NaN and ±Inf included) / str / bool / None; anything
    else — or a table bigger than ~50k cells — falls back to
    ``createDataFrame`` unchanged. Values are bit-identical to the
    fallback path: ints are exact, ``repr(float)`` round-trips IEEE
    doubles (the ``lit_double_array`` guarantee), strings are
    backslash-escaped."""
    rows = list(rows)
    fields = []
    for part in schema.split(","):
        toks = part.split(None, 1)
        if len(toks) != 2:
            return spark.createDataFrame(rows, schema)
        fields.append((toks[0].strip().strip("`"), toks[1].strip()))
    ncol = len(fields)
    if rows and sum(len(r) for r in rows) > _VALUES_MAX_CELLS:
        return spark.createDataFrame(rows, schema)
    proj = ", ".join(
        f"CAST(col{i + 1} AS {t}) AS `{n}`" for i, (n, t) in enumerate(fields)
    )
    # the UNION ALL with an empty all-NULL branch exists only to make
    # every column NULLABLE in the analyzed schema (matching
    # createDataFrame exactly); the optimizer prunes the empty side,
    # so the executed plan stays a bare LocalTableScan
    null_sel = ", ".join(
        f"CAST(NULL AS {t}) AS `{n}`" for n, t in fields
    )
    if not rows:
        return spark.sql(f"SELECT {null_sel} WHERE FALSE")
    lits: list[str] = []
    for r in rows:
        if len(r) != ncol:
            return spark.createDataFrame(rows, schema)
        cells = [_sql_cell(v, fields[i][1]) for i, v in enumerate(r)]
        if any(c is None for c in cells):
            return spark.createDataFrame(rows, schema)
        lits.append("(" + ", ".join(cells) + ")")
    return spark.sql(
        f"SELECT {proj} FROM VALUES {', '.join(lits)} "
        f"UNION ALL SELECT {null_sel} WHERE FALSE"
    )
