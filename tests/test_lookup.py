"""Bucketed literal lookup (functions/lookup.py): crc32 Python↔JVM
parity, probe correctness vs a plain dict, and the constant-folded
nested-literal plan shape; plus ``literal_table``
(functions/literals.py) against its ``createDataFrame`` twin."""

import zlib

import pytest
from pyspark.sql import functions as F

from merchant_classification_spark.functions.lookup import (
    bucketed_lookup,
    crc32_bucket_col,
    crc32_bucket_py,
)


def test_crc32_python_jvm_parity_fuzz(spark):
    # zlib.crc32 and java.util.zip.CRC32 are both CRC-32/ISO-HDLC; the
    # whole bucketing scheme rests on this equality over utf-8 bytes
    keys = (
        [f"tok{i}" for i in range(50)]
        + ["", "a", "don't", "naïve", "日本語", "a\x1fb", "0" * 40]
        + [chr(0x20 + (i * 7) % 90) * (i % 5 + 1) for i in range(30)]
    )
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    for n in (1, 7, 64):
        got = {
            r["k"]: r["b"]
            for r in df.select(
                "k", crc32_bucket_col(F.col("k"), n).alias("b")
            ).collect()
        }
        for k in keys:
            assert got[k] == crc32_bucket_py(k, n), (k, n)


@pytest.mark.parametrize("n_buckets", [None, 1, 3, 256])
def test_bucketed_lookup_matches_dict(spark, n_buckets):
    entries = [(f"w{i}", float(i) * 0.5 - 3.0) for i in range(40)]
    table = dict(entries)
    look = bucketed_lookup(entries, n_buckets)
    probes = [f"w{i}" for i in range(0, 60, 3)] + ["missing", "", "W1"]
    df = spark.createDataFrame([(p,) for p in probes], "p string")
    got = {
        r["p"]: r["v"]
        for r in df.select("p", look(F.col("p")).alias("v")).collect()
    }
    for p in probes:
        assert got[p] == table.get(p), p


def test_bucketed_lookup_empty_table(spark):
    look = bucketed_lookup([])
    df = spark.createDataFrame([("x",)], "p string")
    assert df.select(look(F.col("p")).alias("v")).collect()[0]["v"] is None


def test_bucketed_lookup_inside_hof_lambda(spark):
    # the intended call site: probing per array element inside a
    # transform lambda — the nested literals must behave as plain values
    entries = [("a", 1.0), ("b", 2.0), ("c", 4.0)]
    look = bucketed_lookup(entries, 2)
    df = spark.createDataFrame([(["a", "x", "c", "b"],)], "t array<string>")
    out = df.select(
        F.aggregate(
            F.transform(F.col("t"), look),
            F.lit(0.0),
            lambda acc, v: acc + F.coalesce(v, F.lit(100.0)),
        ).alias("s")
    ).collect()[0]["s"]
    assert out == 1.0 + 100.0 + 4.0 + 2.0


def test_nested_literals_constant_fold(spark):
    # the probe's free references must be Literals after optimization —
    # a surviving CreateArray would be rebuilt per probed element
    look = bucketed_lookup([(f"k{i}", float(i)) for i in range(20)], 4)
    df = spark.createDataFrame([("k3",)], "p string")
    plan = (
        df.select(look(F.col("p")).alias("v"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "array(array(" not in plan  # CreateArray(CreateArray(...)) gone


def test_literal_table_matches_create_dataframe(spark):
    """literal_table must be an exact drop-in for createDataFrame on
    every supported column type: same column names, same dtypes, same
    values (doubles compared bitwise), across adversarial strings."""
    import struct as st

    from merchant_classification_spark.functions.literals import literal_table

    rows = [
        ("plain", 1, 7, 0.1, ["a", "b"]),
        ("quote's", -2, 2**40, -0.0, []),
        ("back\\slash", 0, -(2**40), 5e-324, ["x'y", "z\\w"]),
        ("unié中", 2147483647, 9223372036854775807, float("inf"), ["é"]),
        ("nl\nand'tab\t", -2147483648, -9223372036854775808, float("nan"), [""]),
        ("", 42, 0, -19.998877665544332, ["only"]),
    ]
    schema = "k string, i int, l long, d double, a array<string>"
    got = literal_table(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert [f.name for f in got.schema.fields] == [
        f.name for f in ref.schema.fields
    ]
    assert [f.dataType for f in got.schema.fields] == [
        f.dataType for f in ref.schema.fields
    ]
    g = sorted(got.collect(), key=lambda r: r["k"])
    r = sorted(ref.collect(), key=lambda r: r["k"])
    assert len(g) == len(rows)
    for gr, rr in zip(g, r):
        assert gr["k"] == rr["k"]
        assert gr["i"] == rr["i"]
        assert gr["l"] == rr["l"]
        assert st.pack(">d", gr["d"]) == st.pack(">d", rr["d"])
        assert gr["a"] == rr["a"]


def test_literal_table_large_fallback(spark, monkeypatch):
    """Above the row cap the helper must take the createDataFrame path
    (the literal form is for BOUNDED fitted tables only)."""
    from merchant_classification_spark.functions import literals
    from merchant_classification_spark.functions.literals import literal_table

    monkeypatch.setattr(literals, "_LITERAL_TABLE_MAX_ROWS", 3)
    rows = [(f"k{i}", float(i)) for i in range(5)]
    df = literal_table(spark, rows, "k string, v double")
    # the fallback is an RDD-backed local relation, not a folded literal
    assert "inline" not in df._jdf.queryExecution().logical().toString()
    assert sorted((r["k"], r["v"]) for r in df.collect()) == rows
