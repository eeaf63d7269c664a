"""SCD2 interval semantics on a crafted change log; HLL sketch rollup
accuracy and mergeability against exact distinct counts."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from merchant_classification_spark.operators.scd import scd2_intervals
from merchant_classification_spark.operators.sketches import (
    sketch_partials,
    sketch_rollup,
)


def _ts(day: int) -> dt.datetime:
    return dt.datetime(2024, 1, day)


def test_scd2_collapses_no_change_runs(spark):
    rows = [
        (1, _ts(1), "bronze"),
        (1, _ts(2), "bronze"),   # no-change update: collapses
        (1, _ts(3), "silver"),
        (1, _ts(4), "silver"),   # collapses
        (1, _ts(5), "bronze"),   # back to an earlier value: NEW interval
        (2, _ts(2), "gold"),     # single record key
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "tier"])
    out = sorted(
        (r.k, r.tier, str(r.effective_from), str(r.effective_to), r.is_current)
        for r in scd2_intervals(df, "k", "ts", ["tier"]).collect()
    )
    assert out == [
        (1, "bronze", "2024-01-01 00:00:00", "2024-01-03 00:00:00", False),
        (1, "bronze", "2024-01-05 00:00:00", "None", True),
        (1, "silver", "2024-01-03 00:00:00", "2024-01-05 00:00:00", False),
        (2, "gold", "2024-01-02 00:00:00", "None", True),
    ]


def test_scd2_null_attr_is_a_state(spark):
    rows = [(1, _ts(1), None), (1, _ts(2), None), (1, _ts(3), "a")]
    df = spark.createDataFrame(rows, ["k", "ts", "v"], "k long, ts timestamp, v string")
    out = scd2_intervals(df, "k", "ts", ["v"]).collect()
    # null -> null collapses (eqNullSafe); null -> 'a' opens
    assert len(out) == 2


def test_scd2_multi_attr_any_change_opens(spark):
    rows = [
        (1, _ts(1), "a", 1),
        (1, _ts(2), "a", 2),  # second attr changed -> opens
        (1, _ts(3), "a", 2),  # collapses
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "s", "n"])
    assert scd2_intervals(df, "k", "ts", ["s", "n"]).count() == 2


def test_scd2_requires_attrs(spark):
    df = spark.createDataFrame([(1, _ts(1))], ["k", "ts"])
    with pytest.raises(ValueError):
        scd2_intervals(df, "k", "ts", [])


def test_hll_rollup_accuracy_and_merge(spark):
    # 5000 distinct values split across 10 epochs; the union of epoch
    # partials must estimate the global distinct within HLL lg_k=12
    # error (~1.5% x a few sigma)
    df = spark.range(20_000).select(
        (F.col("id") % 5000).alias("v"),
        (F.col("id") % 10).alias("epoch"),
        F.lit("g").alias("key"),
    )
    partials = sketch_partials(df, ["key"], "v", "epoch")
    assert partials.count() == 10
    out = sketch_rollup(partials, ["key"]).collect()[0]
    assert out.epochs == 10 and out.rows == 20_000
    assert abs(out.distinct_est - 5000) / 5000 < 0.05


def test_hll_partial_subset_rollup(spark):
    # filtering partials to an epoch range answers range-distinct without
    # touching raw rows: epochs 0-4 hold ids 0..9999 -> ~5000 distinct v
    df = spark.range(20_000).select(
        (F.col("id") % 7919).alias("v"),
        (F.col("id") / 2000).cast("long").alias("epoch"),
        F.lit("g").alias("key"),
    )
    partials = sketch_partials(df, ["key"], "v", "epoch").where(
        F.col("epoch") <= 4
    )
    exact = (
        df.where(F.col("id") < 10_000).select("v").distinct().count()
    )
    est = sketch_rollup(partials, ["key"]).collect()[0].distinct_est
    assert abs(est - exact) / exact < 0.05


# ---------------------------------------------------------------------------
# count-min sketch + heavy hitters
# ---------------------------------------------------------------------------


def test_cms_never_underestimates_and_merges(spark, tables):
    from merchant_classification_spark.operators.sketches import (
        cms_estimate,
        cms_partials,
    )
    from pyspark.sql import functions as F

    ev = tables["events"].select(
        "event_type", (F.col("event_id") % 5).alias("epoch")
    )
    partials = cms_partials(ev, "event_type", "epoch")
    assert partials.count() == 5
    exact = {
        r["event_type"]: r["cnt"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    est = cms_estimate(spark, partials, list(exact))
    for k, true_cnt in exact.items():
        assert est[k] >= true_cnt  # CMS overestimates only
        assert est[k] <= true_cnt + 0.01 * sum(exact.values())  # eps bound
    # merged epochs must equal a single whole-data sketch (same seed)
    whole = cms_partials(ev.withColumn("epoch", F.lit(0)), "event_type", "epoch")
    est_whole = cms_estimate(spark, whole, list(exact))
    assert est == est_whole


def test_heavy_hitters_exact_and_approx(spark, tables):
    """heavy_hitters_exact returns exactly the items above the support
    threshold of a manual group count, with exact shares."""
    from merchant_classification_spark.operators.sketches import (
        heavy_hitters_exact,
    )

    ev = tables["events"]
    total = ev.count()
    hh = heavy_hitters_exact(ev, "event_type", support=0.05).collect()
    manual = {
        r["event_type"]: r["count"]
        for r in ev.groupBy("event_type").count().collect()
        if r["count"] > 0.05 * total
    }
    assert {r["item"]: r["cnt"] for r in hh} == manual
    assert all(abs(r["share"] - r["cnt"] / total) < 1e-15 for r in hh)
