"""In-engine model evaluation.

The reference evaluates driver-side with pandas: per-class accuracy via
groupby-mean, then mean + q05/q25/q50/q75/q95 quantiles
(reference utils/merchcat_utils.py:56-71, 02_merchcat_ml.py:120-127 —
SURVEY.md §2.4 A3/A4, §2.11 M2). Here the per-class level is one
distributed hash aggregate, collected unsorted (at most one row per
class); the summary is computed from those rows on the driver, as in the
reference. The quantiles use Spark `percentile`'s linear interpolation,
so they equal the distributed form bit for bit without its extra jobs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from merchant_classification_spark.operators.relational import accuracy_by_group

QUANTILES = (
    ("q_05", 0.05),
    ("q_25", 0.25),
    ("q_50", 0.5),
    ("q_75", 0.75),
    ("q_95", 0.95),
)


def percentile(values: list[float], p: float) -> float:
    """Exact percentile of `values` as Spark's `percentile` computes it:
    linear interpolation between the sorted values at floor/ceil of
    (n - 1) * p, no interpolation when both are the same value."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi or xs[lo] == xs[hi]:
        return float(xs[lo])
    return (hi - pos) * xs[lo] + (pos - lo) * xs[hi]


def evaluate_per_class(
    scored: DataFrame, label_col: str, prediction_col: str
) -> tuple[DataFrame, dict[str, float]]:
    """Returns (per_class_df, summary) where per_class_df has
    (label, predicted, total, accuracy), ordered as `accuracy_report`
    orders it (accuracy descending, then label), and summary carries
    avg_acc / q_05 / q_25 / q_50 / q_75 / q_95 over per-class accuracies
    — the reference's headline metrics (BASELINE.md).

    per_class_df is a local DataFrame over the collected rows: reading it
    again does not re-score `scored`."""
    counts = accuracy_by_group(scored, label_col, prediction_col, label_col)
    rows = counts.collect()
    if not rows:
        raise ValueError("evaluate_per_class: the scored frame has no rows")
    # accuracy_report's order; Spark's ascending sort puts a null label first
    rows.sort(
        key=lambda r: (-r["accuracy"], r[label_col] is not None, r[label_col])
    )
    accs = [r["accuracy"] for r in rows]
    summary = {"avg_acc": sum(accs) / len(accs)}
    summary.update((name, percentile(accs, p)) for name, p in QUANTILES)
    per_class = scored.sparkSession.createDataFrame(rows, counts.schema)
    return per_class, summary
