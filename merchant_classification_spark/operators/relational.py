"""Relational operator library (SURVEY.md §2.2-2.7).

Each function is a thin, named composition of DataFrame primitives — the
value is the *shape* (the reference buries these in notebook cells) and the
scale notes. Everything here stays inside Catalyst: hash aggregates get
partial (map-side) combine for free, equi-joins against aggregate outputs
get auto-broadcast, and projections/filters ride whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def class_histogram(df: DataFrame, key: str, ascending: bool = True) -> DataFrame:
    """Per-class row counts, sorted by count
    (reference 01_merchcat_etl.py:121-122 — SURVEY.md §2.4 A1, §2.7 O1).

    Scale: one shuffle on `key` with map-side partial counts; output is
    #classes rows (tiny), so the global sort is trivial.
    """
    out = df.groupBy(key).agg(F.count(F.lit(1)).alias("count"))
    order = F.col("count").asc() if ascending else F.col("count").desc()
    # secondary key makes the output order total => deterministic
    return out.orderBy(order, F.col(key))


def accuracy_report(
    df: DataFrame,
    label_col: str,
    prediction_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Per-group prediction accuracy
    (reference 02_merchcat_ml.py:522-530 — SURVEY.md §2.4 A2, §2.5 J2,
    §2.3 E12/E13).

    The reference computes this as two groupBys joined back together
    (correct-counts ⋈ total-counts); a single aggregation over a 0/1 match
    flag produces the identical result with ONE shuffle instead of two
    shuffles plus a join — the shape that survives 100 TB.
    """
    group = group_col or label_col
    return accuracy_by_group(df, label_col, prediction_col, group).orderBy(
        F.col("accuracy").desc(), F.col(group)
    )


def accuracy_by_group(
    df: DataFrame, label_col: str, prediction_col: str, group_col: str
) -> DataFrame:
    """`accuracy_report`'s rows unsorted: (group_col, predicted, total,
    accuracy), one hash aggregate and no range sort."""
    flag = F.when(F.col(prediction_col) == F.col(label_col), 1).otherwise(0)
    return (
        df.withColumn("predicted", flag)
        .groupBy(group_col)
        .agg(
            F.sum("predicted").alias("predicted"),
            F.count(F.lit(1)).alias("total"),
        )
        .withColumn("accuracy", F.col("predicted") / F.col("total"))
    )


def group_topk(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rank",
    keep_rank: bool = False,
) -> DataFrame:
    """Top-k rows per group via row_number
    (reference utils/fasttext_utils.py:33-35 — SURVEY.md §2.6 W2, §2.7 O3).

    `order_cols` should define a total order (add a unique tiebreaker) or
    results are nondeterministic. Scale: the window sorts each partition;
    for heavily skewed keys prefer a two-phase approach — pre-filter with a
    per-partition partial top-k (mapPartitions-free: groupBy(key, salt) →
    topk → re-topk) — only needed when one key dominates a task.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def group_topk_salted(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column],
    k: int,
    salt_buckets: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Skew-robust per-group top-k: two-phase window.

    Phase 1 splits each group into `salt_buckets` random sub-groups and
    takes a partial top-k per (group, salt) — a dominant key's sort work
    spreads over `salt_buckets` tasks instead of one straggler. Phase 2
    re-ranks the ≤ k*salt_buckets survivors per group (tiny). Equivalent
    output to ``group_topk`` whenever `order_cols` is a total order:
    the true global top-k of a group always survives its salt bucket's
    partial top-k.

    When to use: on Spark >= 3.5 the planner already pushes a map-side
    partial ``WindowGroupLimit`` below the exchange for rank-limit
    windows — each input partition ships at most k rows per key, so
    plain ``group_topk`` is skew-robust AND cheaper (measured 2-3x at a
    50%%-one-key distribution; see SCALING.md's skew table). Reach for
    this salted form only on engines without that rule, or as the
    template for skewed aggregations that admit no group-limit pushdown
    (full-window functions, large distinct aggs).
    """
    salt = (F.rand(seed) * salt_buckets).cast("int").alias("_salt")
    salted = df.withColumn("_salt", salt)
    w1 = Window.partitionBy(*partition_cols, "_salt").orderBy(*order_cols)
    partial = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1", "_salt")
    )
    return group_topk(partial, partition_cols, order_cols, k)


def coverage_select(
    df: DataFrame,
    group_cols: list[str],
    item_cols: list[str],
    mass_col: str,
    p: float,
) -> DataFrame:
    """Nucleus (top-p) selection per group: the SMALLEST set of items,
    by descending mass, whose cumulative mass reaches ≥ p of the group
    total — the crossing item included.

    The data-mixing counterpart of fixed-k top-k: "which sources cover
    90% of each language's tokens", "which merchants cover 99% of
    spend". Fixed k over- or under-shoots per group; the coverage rule
    adapts to each group's concentration. A row is kept iff the mass
    BEFORE it is < p·total (the classic nucleus-sampling cutoff), so
    ties are resolved by the deterministic (mass desc, item) order.

    Scale: one shuffle on the group key; the running and total sums are
    a single window pass (O(1) state per row). Unlike rank-limit
    windows there is no group-limit pushdown — every item row crosses
    the exchange — but the input here is already one row per (group,
    item), i.e. the OUTPUT of an aggregation, orders of magnitude
    smaller than the fact table. For a skew-heavy raw-fact variant,
    pre-aggregate to (group, item) first (partial combine does the
    heavy lifting map-side).

    Returns the kept rows plus (cum_mass, total_mass, mass_rank);
    cum_mass/total_mass are exact provided ``mass_col`` is integral
    (use the cents trick for money).

    Reference has no counterpart; standard since Holtzman et al. 2019
    (nucleus sampling), applied corpus-side.
    """
    if not 0 < p <= 1:
        raise ValueError("p must be in (0, 1]")
    w = Window.partitionBy(*group_cols)
    wo = w.orderBy(
        F.col(mass_col).desc(), *[F.col(c) for c in item_cols]
    )
    cum_before = F.coalesce(
        F.sum(mass_col).over(wo.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    return (
        df.withColumn("_cb", cum_before)
        .withColumn("total_mass", F.sum(mass_col).over(w))
        .withColumn("mass_rank", F.row_number().over(wo))
        .where(F.col("_cb") < F.lit(p) * F.col("total_mass"))
        .withColumn("cum_mass", F.col("_cb") + F.col(mass_col))
        .drop("_cb")
    )


def equidepth_bins(
    df: DataFrame,
    value_col: str,
    n_bins: int,
    tiebreak_cols: list[str],
    buckets: int = 1024,
) -> DataFrame:
    """Exact equi-depth (equal-count) binning: rank every row in the
    total order (``value_col``, ``tiebreak_cols``) and assign
    bin = rank·n_bins DIV N — each bin holds ⌊N/n⌋ or ⌈N/n⌉ rows
    regardless of the value distribution (the feature-binning
    counterpart of :func:`histogram_bins`' fixed-width rule, which a
    heavy-tailed column defeats).

    Scale shape: the global rank comes from ``operators/ids.dense_ids``
    (range-bucketed two-phase numbering — every stage parallel), NOT a
    single-partition ``row_number() OVER (ORDER BY …)`` window; N joins
    in as a broadcast scalar aggregate, so no driver action and no
    global sort. Integer rank arithmetic makes boundaries exact and
    engine-replayable. Ties may split across adjacent bins (rank-based
    semantics, same as SQL ntile).

    Returns (bin, n_rows, lo, hi) — bin ∈ [0, n_bins), lo/hi the
    bin's min/max value. ``value_col`` must be numeric (it drives the
    range bucketing inside ``dense_ids``) and (``value_col``,
    ``tiebreak_cols``) must be a total order. Rows with a NULL value
    are excluded from the ranking (NULL has no rank position) — filter
    or impute first if they must be binned.
    """
    if n_bins <= 0:
        raise ValueError("n_bins must be positive")
    from merchant_classification_spark.operators.ids import dense_ids

    # drop NULLs BEFORE ranking: dense_ids' bucket join already loses
    # NULL rows, but the NULL bucket would still shift the offset
    # prefix-sum (surviving ranks would start at n_nulls) while _n
    # counted all rows — silently skewed bins. Filter both sides.
    df = df.where(F.col(value_col).isNotNull())
    ranked = dense_ids(
        df, [value_col, *tiebreak_cols], id_col="_rank", buckets=buckets
    )
    total = df.agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.join(F.broadcast(total))
        .withColumn(
            "bin", F.expr(f"CAST(_rank * {n_bins} DIV _n AS INT)")
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
        )
        .orderBy("bin")
    )


def histogram_bins(df: DataFrame, col: str, bin_width: float) -> DataFrame:
    """Engine-side histogram: bin index → count
    (replaces the reference's driver-side pandas `hist`,
    reference 01_merchcat_etl.py:123 — SURVEY.md §2.4 A5).
    """
    bin_col = F.floor(F.col(col) / F.lit(bin_width)).cast("long").alias("bin")
    return (
        df.select(bin_col)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("bin")
    )


def grouped_exact_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: list[tuple[str, float]],
    count_alias: str = "n_rows",
) -> DataFrame:
    """Exact interpolated per-group quantiles, scalably
    (SURVEY.md §2.4 A4, grouped variant).

    ``percentile(...)`` is an object aggregation: ONE task per group
    buffers every raw value, so a 100 TB group is a straggler-OOM. For a
    bounded-domain value column (integer cents, ages, sizes) the same
    number comes from a two-stage shape whose per-group state is
    O(distinct values), not O(rows):

    1. histogram: groupBy (group, value) count — map-side combine,
       fully parallel, the only pass over raw rows;
    2. cumulative window per group over the distinct values;
    3. for each quantile q, the two covering histogram rows (0-indexed
       positions floor/ceil of (n-1)*q) are picked by a conditional
       aggregate and interpolated exactly like `percentile` does:
       lo + (hi - lo) * frac.

    Bit-exact vs `percentile`/DuckDB `quantile_cont` when values are
    integers (the interpolation is then a dyadic rational in doubles).

    `quantiles` is a list of (output_column_name, q) pairs.
    """
    gcols = list(group_cols)
    hist = df.groupBy(*gcols, F.col(value_col).alias("_v")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_cum = (
        Window.partitionBy(*gcols)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*gcols)
    h = (
        hist.withColumn("_cum", F.sum("_c").over(w_cum))
        .withColumn("_n", F.sum("_c").over(w_all))
        .withColumn("_prev", F.col("_cum") - F.col("_c"))
    )
    aggs = []
    for name, q in quantiles:
        pos = (F.col("_n") - 1) * F.lit(float(q))
        lo_i = F.floor(pos)
        hi_i = F.ceil(pos)
        lo_val = F.max(
            F.when((F.col("_prev") <= lo_i) & (lo_i < F.col("_cum")), F.col("_v"))
        ).cast("double")
        hi_val = F.max(
            F.when((F.col("_prev") <= hi_i) & (hi_i < F.col("_cum")), F.col("_v"))
        ).cast("double")
        frac = F.max(pos - lo_i)
        aggs.append((lo_val + (hi_val - lo_val) * frac).alias(name))
    aggs.append(F.max("_n").alias(count_alias))
    return h.groupBy(*gcols).agg(*aggs)


def percentiles(
    df: DataFrame, col: str, quantiles: list[float], exact: bool = True
) -> DataFrame:
    """Global quantiles of one column
    (reference utils/merchcat_utils.py:64-71 — SURVEY.md §2.4 A4).

    exact=True uses `percentile` (full sort of distinct values — fine for
    up-to-millions of rows or pre-aggregated inputs); exact=False uses
    `percentile_approx` (mergeable sketch, the 100 TB default).
    """
    fn = "percentile" if exact else "percentile_approx"
    qs = ", ".join(str(q) for q in quantiles)
    agg = F.expr(f"{fn}({col}, array({qs}))").alias("qs")
    row = df.agg(agg)
    cols = [
        F.col("qs").getItem(i).alias(f"q_{str(q).replace('.', '')}")
        for i, q in enumerate(quantiles)
    ]
    return row.select(*cols)
