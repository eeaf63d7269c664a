"""Stratified sampling and deterministic class-percentile splitting.

Unifies the reference's three sampler variants (SURVEY.md §2.8 SA1-SA3)
behind one parameterized operator, and fixes two latent correctness hazards
the survey calls out (§3.1, §4.3):

  * every random source is SEEDED (`F.rand(seed)`) — the reference's
    unseeded `F.rand()` makes its 90/10 split nondeterministic;
  * the split PERSISTS the ranked frame before evaluating the two
    complementary predicates — the reference re-evaluates one
    nondeterministic lineage twice, so its train/test halves can in
    principle overlap or drop rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from merchant_classification_spark.operators.relational import group_topk


def _class_rate(
    count: Column,
    sample_size: int,
    oversample_floor: int | None,
    floor_bump: float,
) -> Column:
    """SA1 rate ``sample_size/count``; with ``oversample_floor`` (SA2) a
    class whose expected yield falls under the floor gets
    ``floor/count + floor_bump``. Both capped at 1.0 with ``least()``."""
    rate = F.least(F.lit(1.0), F.lit(float(sample_size)) / count)
    if oversample_floor is not None:
        floor_rate = F.least(
            F.lit(1.0),
            F.lit(float(oversample_floor)) / count + F.lit(floor_bump),
        )
        rate = F.when(
            count * rate < F.lit(float(oversample_floor)), floor_rate
        ).otherwise(rate)
    return rate


def class_counts_fractions(
    df: DataFrame,
    key: str,
    sample_size: int,
    min_count: int | None = None,
    oversample_floor: int | None = None,
    floor_bump: float = 0.05,
) -> dict[str, float]:
    """Per-class sampling fractions, computed engine-side then collected.

    Mirrors the reference's deliberate driver-side dict
    (reference 01_merchcat_etl.py:138-153, utils/fasttext_utils.py:46-55 —
    SURVEY.md §4.2): the dict has one entry per class (~1e3), so collecting
    it is cheap and `sampleBy` re-broadcasts it; this avoids a join against
    the counts at any data scale.

      * `min_count`      — classes with fewer rows are dropped (rate absent)
        [SA1 policy, reference 01_merchcat_etl.py:148]
      * `oversample_floor` — small classes get rate bumped to
        floor/count + floor_bump  [SA2 policy, utils/fasttext_utils.py:47-53]
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("count"))
    if min_count is not None:
        counts = counts.where(F.col("count") >= min_count)
    rate = _class_rate(
        F.col("count"), sample_size, oversample_floor, floor_bump
    )
    # driver-side by design (mirrors the reference; sampleBy needs a
    # literal fractions dict) — guard the cardinality so a runaway key
    # column fails loudly instead of OOMing the driver
    max_classes = 1_000_000
    rows = (
        counts.withColumn("rate", rate)
        .select(key, "rate")
        .limit(max_classes + 1)
        .collect()
    )
    if len(rows) > max_classes:
        raise ValueError(
            f"stratified sampling key {key!r} has more than {max_classes:,} "
            "distinct values; the per-class fractions dict would not fit on "
            "the driver — aggregate or hash the key first"
        )
    return {r[key]: float(r["rate"]) for r in rows}


def stratified_sample(
    df: DataFrame,
    key: str,
    sample_size: int,
    min_count: int | None = None,
    oversample_floor: int | None = None,
    fixed: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Per-class sample with one of three policies (SURVEY.md §2.8):

      * default — Bernoulli per-class rates targeting `sample_size`
        rows/class, capped at 1.0; classes under `min_count` dropped [SA1]
      * oversample_floor=n — small classes bumped so they keep ≥ n rows in
        expectation [SA2]
      * fixed=True — exactly ≤ `sample_size` rows per class via seeded
        random order + row_number [SA3]

    Scale: sampleBy is a map-only filter (no shuffle); the fixed policy
    pays one window sort on `key`.
    """
    if fixed:
        return group_topk(
            df,
            [key],
            [F.rand(seed)],
            sample_size,
        )
    fractions = class_counts_fractions(
        df, key, sample_size, min_count=min_count, oversample_floor=oversample_floor
    )
    return df.sampleBy(key, fractions, seed=seed)


def stratified_hash_sample(
    df: DataFrame,
    key: str,
    id_cols: list[str],
    sample_size: int,
    min_count: int | None = None,
    oversample_floor: int | None = None,
    floor_bump: float = 0.05,
    salt: str = "",
    percentile_col: str | None = None,
) -> DataFrame:
    """Deterministic stratified sample: per-class rates targeting
    ``sample_size`` rows/class (the same SA1/SA2 rate policies as
    :func:`stratified_sample`), with admission decided by
    :func:`hash_percentile` over ``id_cols`` instead of ``sampleBy``'s
    partition-seeded RNG.

    This is the scale/audit tier of the stratified sampler: membership
    is a pure row function joined against an engine-side rate table, so
    the SAME rows survive under any partitioning, task retry, cluster
    size, or engine — and an external SQL oracle replays the whole
    query (rates are one division + least(); the percentile is the
    exact md5 arithmetic) bit-for-bit. Expected per-class yield is
    ``rate·count`` like Bernoulli sampling; for exactly-k-per-class use
    the ``fixed`` policy of :func:`stratified_sample`.

    Plan shape (100 TB): one count aggregate over the class key (tiny
    output — one row per class), broadcast back onto the scan, then a
    map-side filter. No literal fractions dict on the driver, so the
    class key's cardinality is unbounded (``sampleBy`` needs the dict
    collected; reference 01_merchcat_etl.py:138-155 caps out at
    driver-memory classes).

    ``id_cols`` must identify rows (sampling correlates across rows
    sharing the same id values by design — content-stable sampling).
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("_cnt"))
    if min_count is not None:
        counts = counts.where(F.col("_cnt") >= min_count)
    rate = _class_rate(
        F.col("_cnt"), sample_size, oversample_floor, floor_bump
    )
    rates = counts.select(F.col(key), rate.alias("_rate"))
    p = hash_percentile(id_cols, salt)
    out = (
        df.join(F.broadcast(rates), key)
        .where(p < F.col("_rate"))
        .drop("_rate")
    )
    if percentile_col is not None:
        out = out.withColumn(percentile_col, p)
    return out


def with_class_percentile(
    df: DataFrame, key: str, seed: int = 42, percentile_col: str = "class_percentile"
) -> DataFrame:
    """Attach a per-class uniform percentile in [0,1]
    (reference 01_merchcat_etl.py:176-180 — SURVEY.md §2.6 W1, §2.3 E14/E15):
    percent_rank over a seeded random order within each class, rounded
    half-even to 4dp.

    Scale: one shuffle+sort on `key`. A skew-robust alternative that needs
    NO window at all is `F.rand(seed)` directly as the percentile (uniform
    iid ≈ percent_rank for large classes); keep the window form because the
    reference's split semantics are exact-per-class-fraction.
    """
    w = Window.partitionBy(key).orderBy(F.rand(seed))
    return df.withColumn(percentile_col, F.bround(F.percent_rank().over(w), 4))


def class_percentile_split(
    df: DataFrame,
    key: str,
    test_fraction: float = 0.1,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic per-class train/test split
    (reference 01_merchcat_etl.py:176-201 — SURVEY.md §2.2 P4).

    Returns (train, test): train = percentile < 1 - test_fraction,
    test = the complement. The ranked frame is snapshotted eagerly
    (``localCheckpoint``) so both halves are carved from ONE
    materialization — train ∪ test == input and train ∩ test == ∅ by
    construction — and the snapshot blocks are released by the context
    cleaner once the returned frames go out of scope (a bare ``persist``
    here leaked cache into every composing pipeline).
    """
    ranked = with_class_percentile(df, key, seed=seed).localCheckpoint(eager=True)
    threshold = 1.0 - test_fraction
    train = ranked.where(F.col("class_percentile") < threshold)
    test = ranked.where(F.col("class_percentile") >= threshold)
    return train, test


def hash_percentile(
    cols: list[str], salt: str = "", bits: int = 54
) -> "F.Column":
    """Deterministic uniform percentile in [0, 1) derived from a content
    hash of ``cols`` (engine-portable md5 arithmetic — see
    ``functions/portable_hash.py``).

    Why this exists next to the seeded ``F.rand`` samplers: ``rand(seed)``
    is seeded PER PARTITION INDEX, so its values — and therefore which
    rows a sample keeps — change whenever the input's partitioning
    changes (repartition, AQE coalesce, a different file split, a task
    retry under non-deterministic upstream). A content-hash percentile
    is a pure row function: stable across partitionings, retries,
    engines, and time — the property an auditable 100 TB sample actually
    needs, and what makes the sample ORACLE-REPLAYABLE (DuckDB computes
    the identical value). ``salt`` derives independent samples from the
    same rows; cryptographic quality is not the goal, uniformity is
    (md5 is uniform on distinct inputs).

    Columns are joined with a 0x1F unit separator so ("ab","c") and
    ("a","bc") hash differently. NULLs are mapped to a distinct
    ``\\x00null`` sentinel BEFORE joining — ``concat_ws`` silently skips
    NULL arguments, so without the sentinel ("a\\x1fb", NULL) and
    ("a", "b") would hash identically and silently correlate sample
    membership across unrelated rows. Oracles mirror the same
    ``coalesce(CAST(c AS VARCHAR), chr(0) || 'null')`` wrapper.
    """
    key = F.concat_ws(
        "\x1f",
        F.lit(salt),
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
            for c in cols
        ],
    )
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    return (h % F.lit(1 << bits).cast("long")).cast("double") / F.lit(
        float(1 << bits)
    )


def hash_sample(
    df: DataFrame,
    cols: list[str],
    fraction: float,
    salt: str = "",
    percentile_col: str | None = None,
) -> DataFrame:
    """Deterministic ~``fraction`` sample: keep rows whose
    :func:`hash_percentile` over ``cols`` is below the threshold.

    Map-only (no shuffle, no RNG state); the SAME rows survive under any
    partitioning, cluster size, or engine — reproducible training
    subsets, audit extracts, and A/B holdouts. Disjoint samples compose
    by percentile ranges (e.g. [0, 0.1) train-holdout vs [0.9, 1) eval)
    without a second pass.
    """
    p = hash_percentile(cols, salt)
    out = df.where(p < F.lit(fraction))
    if percentile_col is not None:
        out = out.withColumn(percentile_col, p)
    return out


def hash_split(
    df: DataFrame,
    cols: list[str],
    test_fraction: float = 0.1,
    salt: str = "",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic (train, test) split by hash-percentile range:
    test = percentile < ``test_fraction``, train = the rest.

    The content-hash variant of ``class_percentile_split``: no RNG, no
    window sort, no persist needed — the two halves are complementary
    map-side filters over a pure row function, so they are disjoint and
    exhaustive BY CONSTRUCTION under any partitioning, retry, or engine,
    and a row's side never changes when the corpus around it grows
    (stable membership is what keeps eval sets uncontaminated across
    dataset versions). Trade-off vs the window form: fractions hold in
    expectation per class, not exactly per class.
    """
    p = hash_percentile(cols, salt)
    return df.where(p >= F.lit(test_fraction)), df.where(p < F.lit(test_fraction))


def weighted_hash_sample(
    df: DataFrame,
    cols: list[str],
    weight_col: str,
    k: int,
    salt: str = "",
    by: list[str] | None = None,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-Res, the one-pass distributed classic): every row gets the
    key u^(1/w) with u = :func:`hash_percentile` over ``cols`` and w its
    weight; the k LARGEST keys are exactly a weighted sample without
    replacement (P(max ≤ x) of w uniforms is x^w — inclusion odds
    proportional to weight, sequentially without replacement).

    Substituting the content-hash uniform for the paper's RNG inherits
    every :func:`hash_percentile` property: membership is stable under
    repartitioning, retries, engines, and corpus growth, and replayable
    by an external SQL oracle. Weighted sampling is how training mixes
    are drawn in practice (weight = document quality, length, or source
    mix rate); rows with weight ≤ 0 are never sampled, matching the
    limit u^(1/w) → 0.

    With ``by``, draws an independent top-k per group. Scale shape: the
    key is map-side; the rank-limit window compiles to WindowGroupLimit
    on Spark ≥ 3.5, so each map task pre-prunes to its local top-k
    before the single per-group shuffle — no full sort, skew-immune.

    Returns the sampled rows with a 1-based ``sample_rank`` column; the
    float key itself is internal (cross-engine pow differs in the last
    ulp — ORDER is ulp-stable, values are not). ``cols`` must identify
    rows uniquely (within each group when ``by`` is set): duplicates
    share a key and tie-break nondeterministically.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    u = hash_percentile(cols, salt)
    w = F.col(weight_col).cast("double")
    win = Window.partitionBy(*(by or [])).orderBy(
        F.col("_wkey").desc(), *[F.col(c) for c in cols]
    )
    return (
        df.where(w > 0)
        .withColumn("_wkey", F.pow(u, F.lit(1.0) / w))
        .withColumn("sample_rank", F.row_number().over(win))
        .where(F.col("sample_rank") <= k)
        .drop("_wkey")
    )


def budget_mix(
    df: DataFrame,
    id_cols: list[str],
    source_col: str,
    size_col: str,
    default_budget: int,
    budgets: dict[str, int] | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministic token-budget corpus mixing: per source, admit
    documents in content-hash-percentile order until the source's size
    budget is filled (the crossing document included) — how training
    mixes are actually composed ("2 B tokens of web, 500 M of code"),
    with per-source budgets from ``budgets`` falling back to
    ``default_budget``.

    Ordering by :func:`hash_percentile` (not arrival or id order) makes
    the admitted set an unbiased uniform sample of each source AND
    stable: growing the corpus or re-partitioning only ever appends or
    removes documents at the percentile frontier, it never swaps the
    interior — dataset versions stay comparable. The budget cutoff is
    the same cumulative-before rule as ``coverage_select``, so the
    admitted sizes sum into (budget, budget + max_doc] per source.

    Scale shape: one shuffle on the source key; the per-source window
    is a running sum (O(1) state). Source count is small by nature, so
    per-source skew is the norm — for a pathologically huge single
    source, pre-filter with :func:`hash_sample` at an estimated
    fraction before the exact pass.

    Returns (``source_col``, id cols, ``size_col``, cum_size,
    mix_rank) — admitted rows only. ``id_cols`` must identify rows
    uniquely per source, or the admission order is nondeterministic at
    the duplicated keys.
    """
    if default_budget <= 0:
        raise ValueError("default_budget must be positive")
    budget = F.lit(default_budget).cast("long")
    if budgets:
        m = F.create_map(
            *[F.lit(x) for kv in budgets.items() for x in kv]
        )
        budget = F.coalesce(
            m[F.col(source_col)].cast("long"), budget
        )
    w = Window.partitionBy(source_col).orderBy(
        "_mixp", *[F.col(c) for c in id_cols]
    )
    cum_before = F.coalesce(
        F.sum(size_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    # the admitted set is a prefix of the per-source order, so the rank
    # computed BEFORE the cutoff filter equals the rank within the
    # admitted set — one WindowExec evaluates both expressions (same
    # partition/order spec), and no second window pass runs post-filter
    return (
        df.withColumn("_mixp", hash_percentile(id_cols, salt))
        .withColumn("_cb", cum_before)
        .withColumn("mix_rank", F.row_number().over(w))
        .where(F.col("_cb") < budget)
        .select(
            source_col,
            *id_cols,
            size_col,
            (F.col("_cb") + F.col(size_col)).cast("long").alias("cum_size"),
            "mix_rank",
        )
    )


def temperature_rates(
    counts: dict[str, int], alpha: float, total_rows: int
) -> dict[str, float]:
    """Per-source admission rates for temperature sampling (the
    multilingual-pretraining rebalance: XLM-R, Conneau et al. 2019,
    arXiv:1911.02116 §3.1; mT5's alpha-sampling): source ``s`` is drawn
    with probability ∝ p_s^alpha where p_s is its corpus share —
    ``alpha < 1`` up-weights small sources, ``alpha = 1`` is natural
    proportions, ``alpha = 0`` is uniform-by-source.

    Pure deterministic function of the integer count table (summation
    in sorted source order, one ``**``/division chain per source) so an
    external oracle replaying the same counts computes bit-identical
    rate doubles — the same shared-fit discipline as ``fit_bpe`` /
    ``fit_quality_lr``. Rates are capped at 1.0: temperature sampling
    DOWN-samples big sources; it never duplicates rows (for true
    up-sampling compose with an epoch multiplier downstream).
    """
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    if total_rows <= 0:
        raise ValueError("total_rows must be positive")
    if not counts or any(c <= 0 for c in counts.values()):
        raise ValueError("counts must be non-empty with positive values")
    if any(s is None for s in counts):
        # sorted() below would die with an opaque str-vs-None TypeError;
        # name the actual problem instead (callers decide NULL policy —
        # temperature_mix drops NULL-source rows before counting)
        raise ValueError("counts must not contain a None source key")
    n = 0
    for s in sorted(counts):
        n += counts[s]
    qs = {s: (counts[s] / n) ** alpha for s in sorted(counts)}
    z = 0.0
    for s in sorted(qs):
        z += qs[s]
    return {
        s: min(1.0, (total_rows * (qs[s] / z)) / counts[s])
        for s in sorted(counts)
    }


def temperature_mix(
    df: DataFrame,
    id_cols: list[str],
    source_col: str,
    alpha: float = 0.5,
    total_rows: int = 1000,
    salt: str = "",
) -> DataFrame:
    """Temperature-rebalanced corpus mix: admit each row iff its
    content-hash percentile falls under its source's
    :func:`temperature_rates` rate, targeting ``total_rows`` in
    expectation with source proportions flattened by ``alpha``.

    Engine discipline: ONE bounded aggregate (per-source counts —
    sources are few by nature, the sampler-rate-dict pattern), a pure
    driver-side rate computation, then a map-only admission filter —
    no shuffle beyond the count's partial aggregate, membership stable
    under repartitioning/retries/engines because the percentile is a
    pure row function (:func:`hash_percentile`). The rate rides as a
    literal map (bounded by the source count — under the ~100-entry
    threshold where a broadcast join beats ``GetMapValue``'s linear
    scan).

    NULL-source rows are dropped up front (a NULL has no corpus share to
    temper; admitting it would need an arbitrary rate policy, and letting
    it reach :func:`temperature_rates` used to sink the job with an
    opaque sort TypeError).

    Returns admitted rows: (``source_col``, id cols, mix_p, keep_rate).
    """
    df = df.where(F.col(source_col).isNotNull())
    counts = {
        r[0]: int(r[1])
        for r in df.groupBy(source_col).agg(F.count(F.lit(1))).collect()
    }
    rates = temperature_rates(counts, alpha, total_rows)
    rate_map = F.create_map(
        *[F.lit(x) for s in sorted(rates) for x in (s, float(rates[s]))]
    )
    return (
        df.withColumn("_mixp", hash_percentile(id_cols, salt))
        .withColumn("keep_rate", rate_map[F.col(source_col)])
        .where(F.col("_mixp") < F.col("keep_rate"))
        .select(
            source_col,
            *id_cols,
            F.col("_mixp").alias("mix_p"),
            "keep_rate",
        )
    )
