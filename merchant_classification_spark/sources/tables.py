"""Parquet table sources for the engine's test corpus.

The reference reads/writes Delta tables (reference 01_merchcat_etl.py:20-27,
:105-111 — SURVEY.md §2.1 S1-S6); the engine treats the format as a config
knob (parquet here, delta on a cluster with the delta jars) because every
operator above the scan is format-agnostic DataFrame code. Filters and
column projections written against these scans push down into the parquet
reader automatically (check `.explain` → PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables a planner should always broadcast in a join.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def split_scan(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Round-robin repartition of a freshly scanned table to engine
    parallelism — the guide §2.5 "input skew" remedy ("one huge
    unsplittable file ... repartition immediately after the read").

    Why it exists: the test corpus is written as ONE parquet file with
    ONE row group per table, and a row group is the atomic scan unit —
    so every scan executes as a single non-empty task and any expensive
    per-row work stacked on the scan (regex chains, tokenize+explode,
    literal-model scoring, ANN distance folds) runs on one core while
    the rest idle. Measured at sf0.1/local[32]: the narrative-cleaning
    chain 6.9 s → 1.5 s, minhash banding 4.7 s → 2.0 s, the lang-model
    fit+score 6.5 s → 3.2 s. On production multi-file tables the scan
    splits naturally and this exchange is a no-op to ADD only where the
    map work dominates the extra shuffle of the (small) input bytes.

    Deliberately OPT-IN per call site (not a `load_table` default): the
    exchange costs ~0.3-0.5 s on a 150k-row table, which would regress
    every sub-second aggregate query, and rand(seed)-based samplers are
    partition-SENSITIVE by construction (their sampled sets must not
    change — `operators/sampling.py hash_percentile` documents the
    hazard), so callers choose. Each candidate call site was A/B'd
    off-vs-on back-to-back in one session (cross-session comparisons
    drown in ambient drift): the 20 kept sites measured 0.36-0.90×,
    the 24 losers (explode→broadcast-join→agg scorers, iterative
    rep-assign/LR, prefix-sum packers) regressed 1.1-1.8× and stay
    unsplit — numbers in OPTIMIZATION_r11.md. ``parallelism`` defaults
    to the session's defaultParallelism (A/B-validated; 2× was no
    better).
    """
    if parallelism is None:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(parallelism)


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    format: str = "parquet",
    split: bool = False,
) -> DataFrame:
    """Load one named table from an sf directory of parquet files.

    ``events.ts`` is written as TIMESTAMP(NANOS), which Spark reads only as
    a long (with ``spark.sql.legacy.parquet.nanosAsLong``); normalize it to
    a microsecond timestamp here so every operator sees a real timestamp.

    Works on ANY SparkSession — the nanos conf is runtime-settable, so we
    set it here rather than relying on the caller's session builder. The
    ``format`` knob mirrors the reference's Delta reads (reference
    01_merchcat_etl.py:20-27): ``"delta"`` passes straight through to
    ``spark.read.format("delta")`` on a cluster with the delta jars.
    """
    if name == "events":
        # Runtime-settable; required to read TIMESTAMP(NANOS) parquet on a
        # vanilla session (without it: PARQUET_TYPE_ILLEGAL).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if format == "parquet":
        df = spark.read.parquet(path)
    else:
        df = spark.read.format(format).load(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integral `div`, NOT `/`: float division of epoch-nanos exceeds
            # double precision (2^53) and lands ±1 µs off
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # timestamp[us] parquet reads as NTZ; operators use LTZ-only
            # functions (unix_micros, watermarks), so normalize. The cast
            # reinterprets the wall clock in the session tz — exact.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if split:
        df = split_scan(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every test table as {name: DataFrame}."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so `spark.sql` queries run on it."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
