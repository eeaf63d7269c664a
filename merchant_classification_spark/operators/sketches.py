"""Mergeable sketch rollups: HyperLogLog partials unioned across epochs.

The incremental-analytics pattern 100 TB pipelines live on: compute a
small mergeable sketch per (key, epoch) ONCE — e.g. nightly — persist the
binary, and answer "distinct over any date range" by unioning sketches
instead of rescanning raw events. Spark 3.5+ ships Apache DataSketches
HLL as native functions (``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``), so both phases are JVM aggregates — no UDFs.

Two-phase shape: phase 1 shuffles on (key, epoch) and reduces each
partition's values map-side into ~1.5 KB sketches; phase 2 shuffles only
those sketches on key. The raw column crosses the wire once, ever.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sketch_partials(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    epoch_col: Column | str,
    lg_k: int = 12,
) -> DataFrame:
    """Phase 1: one HLL sketch of ``value_col`` per (key..., epoch).

    Persist this output (parquet binary column) to make every later
    rollup incremental. ``lg_k=12`` → ~1.5 % relative error, ~2 KB max.
    """
    epoch = F.col(epoch_col) if isinstance(epoch_col, str) else epoch_col
    return df.groupBy(*key_cols, epoch.alias("epoch")).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch"),
        F.count(F.lit(1)).alias("rows"),
    )


def sketch_rollup(
    partials: DataFrame,
    key_cols: list[str],
    lg_k: int = 12,
) -> DataFrame:
    """Phase 2: union each key's epoch sketches → distinct estimate.

    Filter ``partials`` to any epoch range first; the union is exact over
    sketches (HLL unions are lossless w.r.t. the sketch accuracy), so a
    rollup over N days costs N×2 KB per key, not a rescan.
    """
    return partials.groupBy(*key_cols).agg(
        F.hll_sketch_estimate(
            F.hll_union_agg("sketch", F.lit(True))
        ).alias("distinct_est"),
        F.sum("rows").alias("rows"),
        F.count(F.lit(1)).alias("epochs"),
    )


# ---------------------------------------------------------------------------
# count-min sketch: mergeable frequency estimates + heavy hitters
# ---------------------------------------------------------------------------


def cms_partials(
    df: DataFrame,
    value_col: str,
    epoch_col: Column | str,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """One count-min sketch of ``value_col`` per epoch (binary column).

    Same incremental pattern as the HLL partials: the raw column crosses
    the shuffle once, as map-side-reduced sketches (~w·d longs each,
    w = ceil(2/eps)); any later frequency question over any epoch range
    is answered from the persisted partials. The seed must be shared by
    every partial that will ever merge (CMS rows must hash identically).
    """
    epoch = F.col(epoch_col) if isinstance(epoch_col, str) else epoch_col
    return df.groupBy(epoch.alias("epoch")).agg(
        F.count_min_sketch(
            value_col, F.lit(eps), F.lit(confidence), F.lit(seed)
        ).alias("cms"),
        F.count(F.lit(1)).alias("rows"),
    )


def cms_estimate(spark, partials: DataFrame, items: list[str]) -> dict[str, int]:
    """Merge epoch sketches and point-estimate the given items.

    Driver boundary by design: the partials are one small binary per
    epoch (bounded count), merged via the engine's own CountMinSketch
    implementation so estimates are identical to a single whole-data
    sketch. CMS never underestimates; overestimate ≤ eps·N at the given
    confidence.
    """
    rows = partials.select("cms").collect()
    jvm = spark.sparkContext._jvm
    merged = None
    for r in rows:
        sk = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            bytes(r["cms"])
        )
        if merged is None:
            merged = sk
        else:
            merged.mergeInPlace(sk)
    if merged is None:
        return {i: 0 for i in items}
    return {i: merged.estimateCount(i) for i in items}


def heavy_hitters_exact(
    df: DataFrame, value_col: str, support: float = 0.01
) -> DataFrame:
    """Items occurring in > support fraction of rows, with exact counts.

    One hash aggregate — the honest exact tier the approximate paths
    are graded against (same stance as ann_bruteforce vs ann_lsh).
    The grand total folds out of the same aggregate (sum of the
    persisted per-item counts == row count, NULL items included), so
    the raw table is scanned ONCE — the previous ``df.count()`` rider
    was a second full scan. Output: (item, cnt, share) ordered by
    cnt desc; at most 1/support rows survive the filter, so the eager
    checkpoint is bounded.
    """
    counts = (
        df.groupBy(F.col(value_col).alias("item"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    total = counts.agg(F.sum("cnt")).first()[0] or 0
    out = (
        counts.where(F.col("cnt") > support * total)
        .withColumn("share", F.col("cnt") / F.lit(total))
        .orderBy(F.col("cnt").desc(), "item")
        .localCheckpoint(eager=True)
    )
    counts.unpersist(blocking=False)
    return out

