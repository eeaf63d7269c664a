"""Plan-SIZE regression guard for the iterative rep-assign operator
(round-9 livelock class: a loop whose round references its previous
frame twice DOUBLES the logical plan per round unless it checkpoints —
execution stays cheap on cached data while driver-side planning goes
exponential and wedges the session). ``assign_representatives``
references its previous frame once per round, so its plan grows
linearly. The storage-block side is covered by
tests/test_persist_hygiene.py; this guards the PLAN side, so a future
edit that makes a round reuse its previous frame twice fails loudly
here instead of hanging a 100 TB job's driver.

The assertion anchors on the RETURNED frame's analyzed-plan string: a
fixed threshold two orders of magnitude under the exponential regime
separates the two shapes without being brittle about plan rendering."""

from pyspark.sql import functions as F

from merchant_classification_spark.operators.dedup import assign_representatives


def _chain(spark, n):
    ids = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = (
        spark.range(n - 1)
        .select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
    )
    return ids, pairs


def _plan_chars(df) -> int:
    return len(df._jdf.queryExecution().analyzed().toString())


def test_propagation_plan_stays_bounded(spark):
    # a short chain: propagation converges in O(diameter) rounds
    ids, pairs = _chain(spark, n=10)
    labels = assign_representatives(ids, pairs, max_iterations=12)
    assert {r["rep"] for r in labels.collect()} == {0}
    # propagation references its previous frame ONCE per round (linear
    # growth) and persists instead of checkpointing — bounded, but not
    # leaf-sized. The threshold tolerates linear growth across the ~10
    # rounds this chain needs while sitting two orders of magnitude
    # under the exponential regime.
    assert _plan_chars(labels) < 400_000, _plan_chars(labels)
