"""Source/sink tests: single-file corpus export + text read-back
(reference S4/S7/S8 surface)."""

import os

from pyspark.sql import functions as F

from merchant_classification_spark.sources.tables import TABLE_NAMES, load_table
from merchant_classification_spark.sources.text import read_text, write_single_text_file


def test_load_every_table_on_vanilla_session(spark, sf_dir):
    """load_table must work on a session that did NOT come from
    build_session — the external correctness gate builds a conf-less
    SparkSession, so the nanos-parquet conf has to be set inside
    load_table itself (round-1 regression: PARQUET_TYPE_ILLEGAL on
    events.parquet)."""
    vanilla = spark.newSession()
    # simulate a session whose builder never set the legacy-nanos conf
    vanilla.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    for name in TABLE_NAMES:
        df = load_table(vanilla, sf_dir, name)
        assert df.limit(1).count() >= 0
    ev = load_table(vanilla, sf_dir, "events")
    # whatever the file's physical type (NANOS-as-long or timestamp[us]
    # NTZ), load_table normalizes ts to a session-tz timestamp
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_format_knob_parquet(spark, sf_dir):
    """The format= knob (reference reads Delta; parquet here) routes
    through spark.read.format(...).load for non-default formats."""
    a = load_table(spark, sf_dir, "nation")
    b = load_table(spark, sf_dir, "nation", format="parquet")
    assert a.count() == b.count() == 25


def test_write_single_text_file_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"__label__m{i} desc {i}",) for i in range(100)], ["fasttext"]
    ).repartition(8)
    dest = str(tmp_path / "corpus" / "train.txt")
    out = write_single_text_file(df, "fasttext", dest)
    assert out == dest and os.path.isfile(dest)
    with open(dest) as f:
        lines = f.read().splitlines()
    assert sorted(lines) == sorted(f"__label__m{i} desc {i}" for i in range(100))
    # read back through the engine's text source
    back = read_text(spark, dest)
    assert back.count() == 100 and back.columns == ["value"]
    # no staging leftovers
    assert not os.path.exists(dest + ".staging")


def test_overwrite_existing(spark, tmp_path):
    df1 = spark.createDataFrame([("a",)], ["v"])
    df2 = spark.createDataFrame([("b",), ("c",)], ["v"])
    dest = str(tmp_path / "out.txt")
    write_single_text_file(df1, "v", dest)
    write_single_text_file(df2, "v", dest)
    with open(dest) as f:
        assert sorted(f.read().split()) == ["b", "c"]


def test_orc_and_csv_roundtrip(spark, sf_dir, tmp_path):
    """Source-format breadth: the engine's operators are format-agnostic
    above the scan — prove nation survives an ORC and a CSV round trip
    row-identically, and that predicate pushdown reaches the ORC reader
    (same PushedFilters contract the parquet scans are held to)."""
    nation = load_table(spark, sf_dir, "nation")
    rows = sorted(map(tuple, nation.collect()))

    orc_path = str(tmp_path / "nation_orc")
    nation.write.mode("overwrite").orc(orc_path)
    back_orc = spark.read.orc(orc_path)
    assert sorted(map(tuple, back_orc.collect())) == rows
    plan = (
        back_orc.where(F.col("n_nationkey") > 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "n_nationkey" in plan

    csv_path = str(tmp_path / "nation_csv")
    nation.write.mode("overwrite").option("header", True).csv(csv_path)
    back_csv = spark.read.schema(nation.schema).option("header", True).csv(
        csv_path
    )
    assert sorted(map(tuple, back_csv.collect())) == rows


def test_split_scan_preserves_rows_and_parallelizes(spark, sf_dir):
    """split_scan (round 11) compensates for the corpus's single-row-
    group parquet files (a row group is the atomic scan unit, so every
    scan otherwise executes as ONE non-empty task): it must multiply
    partitions to engine parallelism without touching content."""
    from merchant_classification_spark.sources import load_table

    base = load_table(spark, sf_dir, "documents")
    split = load_table(spark, sf_dir, "documents", split=True)
    assert (
        split.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # content identical (order-insensitive): same ids, same count
    assert split.count() == base.count()
    a = sorted(r[0] for r in base.select("doc_id").collect())
    b = sorted(r[0] for r in split.select("doc_id").collect())
    assert a == b


def test_rand_seeded_samplers_stay_unsplit():
    """The rand(seed) samplers are partition-SENSITIVE (rand is seeded
    per partition index): their declared queries must never opt into
    the scan split, or the sampled sets silently change. Source-level
    pin for the two sampling_suite members."""
    import inspect

    import __spark_entry__ as entry

    for fn in (entry.q_stratified_sample, entry.q_class_percentile_split):
        assert "split=True" not in inspect.getsource(fn)
