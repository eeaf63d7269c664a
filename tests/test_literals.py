"""Plan literals (functions/literals.py): ``sql_lit`` and ``json_lit``
must reproduce the values ``createDataFrame`` / ``F.lit`` put in a plan
— strings byte for byte, doubles bit for bit, every supported DDL type
including nested and empty arrays — and fail loudly on constants they
cannot carry."""

import math
import struct

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from merchant_classification_spark.functions.literals import (
    json_lit,
    literal_table,
    sql_lit,
)
from merchant_classification_spark.functions.lookup import bucketed_lookup

STRINGS = [
    "a'b",
    "back\\slash",
    "unié中",
    "",
    "tab\tnl\nquote''",
    "plain_token",
    "\\'\\'",
    "\\u0041",
]
FINITE = [
    0.1,
    -0.0,
    0.0,
    5e-324,  # min subnormal
    -5e-324,
    1.7976931348623157e308,  # max double
    -1.7976931348623157e308,
    1e-308,
    2.0**-1022,
    2.675,
    1 / 3,
    math.pi,
    6.02e23,
    -2.5e17,
    123456789.123456789,
    -19.998877665544332,
]
NONFINITE = [float("inf"), float("-inf"), float("nan")]

# (id, ddl, value, json_lit applies)
CASES = [
    ("string", "string", "quote's \\ back", False),
    ("int", "int", -2147483648, False),
    ("bigint", "bigint", -9223372036854775808, False),
    ("double", "double", -19.998877665544332, False),
    ("double_nan", "double", float("nan"), False),
    ("array_string", "array<string>", STRINGS, False),
    ("array_empty", "array<string>", [], False),
    ("array_int", "array<int>", [0, 1, -7, 2147483647], False),
    (
        "array_bigint",
        "array<bigint>",
        [1 << j for j in range(63)] + [-(1 << 63)],
        False,
    ),
    ("array_double", "array<double>", FINITE, True),
    ("array_nonfinite", "array<double>", FINITE[:3] + NONFINITE, False),
    (
        "nested_double",
        "array<array<double>>",
        [FINITE[:5], [], FINITE[5:]],
        True,
    ),
    (
        "nested3_double",
        "array<array<array<double>>>",
        [[FINITE[:3], FINITE[3:6]], [FINITE[6:]]],
        True,
    ),
    ("nested_string", "array<array<string>>", [STRINGS, [], ["x"]], False),
    ("struct", "struct<w0:double,w1:string>", (0.1, "q'"), False),
    (
        "array_struct",
        "array<struct<k:string, v:double, n:bigint, a:array<string>>>",
        [("a'", 5e-324, -(1 << 63), ["x", ""]), ("", -0.0, 7, [])],
        False,
    ),
]


def _bits(v):
    """Collected value with every double replaced by its 8 bytes."""
    if isinstance(v, float):
        return struct.pack(">d", v)
    if isinstance(v, (list, tuple)):  # Row is a tuple
        return [_bits(x) for x in v]
    return v


@pytest.mark.parametrize(
    "ddl,value,json_ok", [c[1:] for c in CASES], ids=[c[0] for c in CASES]
)
def test_sql_lit_and_json_lit_match_create_dataframe(
    spark, ddl, value, json_ok
):
    ref = spark.createDataFrame([(value,)], f"v {ddl}")
    cols = [F.expr(sql_lit(value, ddl)).alias("s")]
    if json_ok:
        cols.append(json_lit(value, ddl).alias("j"))
    got = spark.range(1).select(*cols)
    # same type; nullability differs (createDataFrame marks all nullable)
    want_type = ref.schema["v"].dataType.simpleString()
    assert got.schema["s"].dataType.simpleString() == want_type
    row, want = got.first(), ref.first()["v"]
    assert _bits(row["s"]) == _bits(want)
    if json_ok:
        assert got.schema["j"].dataType.simpleString() == want_type
        assert _bits(row["j"]) == _bits(want)
    if "struct" not in ddl and value != []:
        # the element-wise F.lit form the call sites used before
        lit = spark.range(1).select(F.lit(value).alias("l")).first()["l"]
        assert _bits(row["s"]) == _bits(lit)


def test_null_constant_raises_naming_the_column(spark):
    """A hole in a fitted table fails at plan build with a ValueError
    that says where it is — not an AttributeError / TypeError from deep
    inside the renderer or the crc32 bucketing."""
    schema = "word string, segs array<string>"
    with pytest.raises(ValueError, match=r"null at \[1\]\.word"):
        literal_table(spark, [("a", ["x"]), (None, ["y"])], schema)
    with pytest.raises(ValueError, match=r"null at \[0\]\.segs\[1\]"):
        literal_table(spark, [("a", ["x", None])], schema)
    with pytest.raises(ValueError, match=r"null at \[1\]\.key"):
        bucketed_lookup([("a", 1.0), (None, 2.0)])
    with pytest.raises(ValueError, match=r"null at \[0\]\.value"):
        bucketed_lookup([("a", None)])
    with pytest.raises(ValueError, match="null at the top level"):
        sql_lit(None, "double")


def test_json_lit_nonfinite_raises(spark):
    """Non-finite doubles have no JSON rendering, and the parsed SQL form
    cannot spell them either (``nanD`` is an unresolved column): the
    helper raises a named error when the plan is built."""
    from merchant_classification_spark.operators.similarity import (
        centroid_sq_dists,
    )

    fin = spark.range(1).select(
        json_lit([[1.0, 2.0]], "array<array<double>>").alias("x")
    )
    assert "from_json" in fin._jdf.queryExecution().analyzed().toString()

    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="non-finite"):
            json_lit([[1.0, bad]], "array<array<double>>")
    # NaN centroids (a k-means fit over NaN vectors) reach it this way
    with pytest.raises(ValueError, match="non-finite"):
        centroid_sq_dists("v", [[0.0, float("nan")]])


def test_json_lit_malformed_constant_raises(spark):
    """A constant whose nesting does not match the DDL must fail when the
    plan is optimized, not fold to a null array (from_json's default
    PERMISSIVE mode would)."""
    for nested, ddl in (
        ([[1.0, 2.0]], "array<double>"),
        ([1.0, 2.0], "array<array<double>>"),
    ):
        df = spark.range(1).select(json_lit(nested, ddl).alias("x"))
        with pytest.raises(Py4JJavaError, match="MALFORMED_RECORD_IN_PARSING"):
            df.collect()


def test_json_lit_constant_folds_in_optimized_plan(spark):
    """The whole point: the optimizer must fold the from_json call to a
    plain array Literal so execution never parses JSON per row."""
    df = spark.range(1).select(
        json_lit([[1.5, 2.5]], "array<array<double>>").alias("x")
    )
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in opt.lower().replace("jsontostructs", "from_json")
    assert "1.5" in opt and "2.5" in opt
