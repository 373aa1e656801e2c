"""lit_double_array must be bit-identical to the per-element F.lit
path — operators embed centroids/hyperplanes through it and the oracle
hash-checks the downstream cosines to 6 decimals."""

import math
import struct

from pyspark.sql import functions as F

from opencosmo_spark._litarr import lit_double_array


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


TRICKY = [
    0.1,
    -0.0,
    0.0,
    1.0,
    1e-300,
    1e300,
    -2.5e-17,
    3.141592653589793,
    1 / 3,
    -1234567.890123456,
    5e-324,  # smallest subnormal
]


def test_bit_identical_to_lit_path(spark):
    a = F.array(*[F.lit(float(x)) for x in TRICKY])
    b = lit_double_array(TRICKY)
    row = spark.range(1).select(a.alias("a"), b.alias("b")).collect()[0]
    assert [_bits(x) for x in row["a"]] == [_bits(x) for x in row["b"]]


def test_schema_matches_lit_path(spark):
    df = spark.range(1).select(
        F.array(*[F.lit(float(x)) for x in TRICKY]).alias("a"),
        lit_double_array(TRICKY).alias("b"),
    )
    assert df.schema["a"].dataType == df.schema["b"].dataType


def test_int_inputs_coerce_to_double(spark):
    row = (
        spark.range(1)
        .select(lit_double_array([1, 2, 3]).alias("v"))
        .collect()[0]
    )
    assert list(row["v"]) == [1.0, 2.0, 3.0]
    assert all(isinstance(x, float) for x in row["v"])


def test_nonfinite_falls_back(spark):
    vals = [1.0, float("inf"), float("nan")]
    row = (
        spark.range(1)
        .select(lit_double_array(vals).alias("v"))
        .collect()[0]
    )
    assert row["v"][0] == 1.0
    assert math.isinf(row["v"][1])
    assert math.isnan(row["v"][2])


def test_empty_falls_back(spark):
    row = spark.range(1).select(lit_double_array([]).alias("v")).collect()[0]
    assert list(row["v"]) == []


def test_values_df_matches_createdataframe(spark):
    """values_df must be a drop-in createDataFrame twin (values,
    schema incl. nullability) that plans as LocalTableScan — zero
    tasks, zero Python workers."""
    from opencosmo_spark._litarr import values_df

    cases = [
        ([(0,), (1,)], "bin INT"),
        (
            [(0, 0.0, 5.0, 1.5), (1, 5.0, 10.0, float("nan"))],
            "bin INT, r_lo DOUBLE, r_hi DOUBLE, rr DOUBLE",
        ),
        ([(1, "a'b\\c", None), (2, None, True)], "k long, s string, f boolean"),
        ([], "bin INT, x DOUBLE"),
        ([(float("-inf"), float("inf"))], "a double, b double"),
    ]
    for rows, schema in cases:
        a = values_df(spark, rows, schema)
        b = spark.createDataFrame(rows, schema)
        assert a.schema == b.schema, schema
        assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))
        plan = a._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan


def test_values_df_fallback_on_exotic_cells(spark):
    """Cells without a faithful SQL literal fall back to
    createDataFrame (values still correct)."""
    from opencosmo_spark._litarr import values_df

    rows = [([1, 2],), ([3],)]
    df = values_df(spark, rows, "xs array<bigint>")
    assert sorted(r.xs for r in df.collect()) == [[1, 2], [3]]


def test_sql_str_roundtrips_every_string(spark):
    # the SQL-text folds escape template/sentinel strings through
    # sql_str; each rendered expression must evaluate back to the
    # exact python string — including quotes, backslashes, newlines,
    # tabs, unicode, and control characters (the preference sentinel
    # role starts with NUL)
    from opencosmo_spark._litarr import sql_str

    cases = [
        "",
        "plain",
        "it's",
        'double "quotes"',
        "back\\slash",
        "line\nbreak\ttab\rret",
        "<|im_start|>",
        "\x00__none__",
        "\x1bescape\x7f",
        "unicodé — …",
        "mix'\\\n\x00end",
    ]
    exprs = [f"{sql_str(s)} AS c{i}" for i, s in enumerate(cases)]
    row = spark.range(1).selectExpr(*exprs).first()
    for i, s in enumerate(cases):
        assert row[f"c{i}"] == s, (i, s, row[f"c{i}"])


def test_sql_in_matches_isin(spark):
    """sql_in filters the same rows as Column.isin, with F.lit's
    literal typing (an INT column is compared as INT) and exact
    non-finite doubles; no values select nothing."""
    from opencosmo_spark._litarr import sql_in

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(
            [0.5, float("inf"), float("-inf"), float("nan"), -2.0, 1e300]
        )],
        "i int, v double",
    )
    for col, vals in [
        ("i", [0, 3, 5, 2**40]),
        ("v", [0.5, float("inf"), float("nan"), 1e300]),
        ("i", []),
    ]:
        got = df.filter(F.expr(sql_in(col, vals))).orderBy("i").collect()
        want = df.filter(F.col(col).isin(vals)).orderBy("i").collect()
        assert [r.i for r in got] == [r.i for r in want]
    plan = df.filter(F.expr(sql_in("i", range(20))))._jdf.queryExecution()
    assert "cast(i" not in plan.optimizedPlan().toString()
