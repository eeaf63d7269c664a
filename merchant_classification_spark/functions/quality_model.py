"""Model-based quality filtering — the CCNet/GPT-3 curated-vs-crawl screen.

The standard LLM-data quality gate (CCNet, Wenzek et al. 2019,
arXiv:1911.00359 §4; GPT-3, Brown et al. 2020, Appendix A): train a
linear classifier to distinguish a CURATED reference corpus (Wikipedia /
books / the labeled "good" slice) from raw crawl text, then keep crawl
documents the model scores curated-like. The reference repo has no
equivalent (it classifies merchants, not corpus quality); this module
belongs to the engine's beyond-reference corpus toolkit next to the
heuristic screens in ``text_analysis`` and composes with
``pipelines/corpus.py`` as an optional model gate.

Engine discipline — the same three moves that made the DSIR and
perplexity screens oracle-replayable at any scale:

  * **bounded training sample**: CCNet-style screens train on a SMALL
    labeled set by design, so the trainer's input is a deterministic
    content-hash top-N per class (md5-ranked — replayable in any engine,
    no RNG, no layout dependence), each row reduced to its hashed-bucket
    feature counts. The collect is ``2N × n_buckets`` integers — the
    bounded-driver-scalar pattern, never the corpus.
  * **deterministic driver-side fit**: full-batch gradient-descent
    logistic regression over those integer count vectors, fixed
    iteration count, numpy ufunc reductions only (no BLAS — reduction
    order is a pure function of shape) — a pure function of the sample
    (shared with external checkers the way ``math.log`` and ``fit_bpe``
    are). No MLlib in the fit: LBFGS weight bits depend on partition-
    order float summation, which would break bit-exact replay.
  * **map-only scoring**: the weight vector rides the plan as a double
    literal array; a document's logit is the left-to-right fold of
    per-feature bucket weights (seeded at 0.0 — fixed IEEE order),
    divided once by the feature count, plus the bias. One codegen
    projection: no join, no shuffle, linear in corpus bytes.

Features are the DSIR uni+bigram hashed buckets (same ``_dsir_features``
expression, same ``md5_long60 % n_buckets`` bucketing), so the two
screens share one tokenization vocabulary discipline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from merchant_classification_spark.functions.literals import sql_lit
from merchant_classification_spark.functions.portable_hash import md5_long60
from merchant_classification_spark.functions.text_analysis import (
    _dsir_features,
)

__all__ = [
    "quality_training_counts",
    "fit_quality_lr",
    "quality_logit_col",
    "quality_keep_col",
    "quality_logits",
]


def quality_training_counts(
    df: DataFrame,
    text_col: str,
    is_curated: Column,
    id_col: str,
    n_buckets: int = 64,
    sample_per_class: int = 200,
) -> list[tuple[int, list[int]]]:
    """Deterministic bounded training sample → integer feature counts.

    Selects the ``sample_per_class`` documents per class with the
    smallest ``(md5_long60(text), id)`` — a content-hash rank, so the
    sample is a pure function of the DATA (replayable in DuckDB as
    ``row_number() OVER (PARTITION BY label ORDER BY h, id)``), not of
    partition layout. Each selected document becomes its per-bucket
    feature-count vector (uni+bigram features hashed into ``n_buckets``).

    Returns ``[(label, counts[n_buckets]), ...]`` ordered by
    (label, hash, id) — the fixed order :func:`fit_quality_lr` consumes.
    NULL-text rows are excluded up front (the hash rank stays total and
    external replays need no NULL-ordering pact).
    The rank-limit window is per-class top-N, which Spark ≥3.5 executes
    with map-side WindowGroupLimit (each task forwards at most N rows
    per class), so the two-partition window never sees the corpus.
    """
    if n_buckets <= 0 or sample_per_class <= 0:
        raise ValueError("n_buckets and sample_per_class must be positive")
    ranked = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        is_curated.cast("boolean").alias("_w"),
        F.col(text_col).alias("_text"),
        md5_long60(F.col(text_col)).alias("_h"),
    ).withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("_w").orderBy("_h", "_id")
        ),
    )
    sample = ranked.where(F.col("_rk") <= sample_per_class)
    rows = (
        sample.select(
            "_id",
            "_w",
            "_h",
            F.explode(
                F.transform(
                    _dsir_features("_text"),
                    lambda f: F.pmod(md5_long60(f), F.lit(n_buckets)),
                )
            ).alias("_b"),
        )
        .groupBy("_id", "_w", "_h", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .collect()
    )
    docs: dict[tuple[bool, int, object], list[int]] = {}
    for r in rows:
        key = (bool(r["_w"]), int(r["_h"]), r["_id"])
        vec = docs.setdefault(key, [0] * n_buckets)
        vec[int(r["_b"])] = int(r["_c"])
    return [
        (1 if w else 0, docs[(w, h, i)])
        for (w, h, i) in sorted(docs, key=lambda k: (k[0], k[1], k[2]))
    ]


def fit_quality_lr(
    samples: list[tuple[int, list[int]]],
    n_buckets: int,
    iters: int = 300,
    step: float = 0.5,
    l2: float = 1e-3,
) -> tuple[list[float], float]:
    """Deterministic full-batch logistic regression.

    Driver-side numpy over the integer count vectors from
    :func:`quality_training_counts`: features are per-document
    NORMALIZED counts (count / total features — the same x the scoring
    fold reproduces as ``fold_sum / n_features``), weights start at
    zero, and ``iters`` fixed gradient steps run with one global step
    size and L2 (bias excluded). Every reduction is a numpy ufunc
    ``.sum(axis=...)`` over fixed shapes — pairwise order is a pure
    function of shape, never a thread-count-dependent BLAS kernel — so
    the returned ``(weights, bias)`` is a bit-reproducible pure
    function of the sample WITHIN ONE PROCESS / NUMPY BUILD — the scope
    the shared-fit oracle actually uses (both sides call this function
    in the same interpreter). ``np.exp``'s SIMD kernels may differ at
    the ulp level across numpy versions / CPU dispatch paths, so
    cross-machine bit-replay is NOT claimed (the old ``math.exp`` loop
    depended only on libm; this one is ~50× faster at the graded shape,
    which dominated the quality_model bench member).
    """
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    if not samples:
        raise ValueError("samples must be non-empty (fit needs data)")
    import numpy as np

    xs: list[list[float]] = []
    ys: list[int] = []
    for y, counts in samples:
        if len(counts) != n_buckets:
            raise ValueError("count vector length != n_buckets")
        tot = float(sum(counts))
        xs.append([c / tot if tot > 0.0 else 0.0 for c in counts])
        ys.append(1 if y else 0)
    m = len(xs)
    x_mat = np.array(xs, dtype=np.float64)  # (m, n_buckets)
    y_vec = np.array(ys, dtype=np.float64)
    w_vec = np.zeros(n_buckets, dtype=np.float64)
    b = 0.0
    for _ in range(iters):
        z = (x_mat * w_vec).sum(axis=1) + b
        # numerically-stable sigmoid, branch on sign (deterministic)
        t = np.exp(-np.abs(z))
        p = np.where(z >= 0.0, 1.0 / (1.0 + t), t / (1.0 + t))
        d = p - y_vec
        gw = (d[:, None] * x_mat).sum(axis=0)
        gb = d.sum()
        w_vec -= step * (gw / m + l2 * w_vec)
        b -= step * (float(gb) / m)
    return [float(v) for v in w_vec], float(b)


def quality_logit_col(
    text_col: Column | str, weights: list[float], bias: float
) -> Column:
    """The LR logit as a composable Column (see :func:`quality_logits`);
    empty documents score the bias alone. The feature array is bound as
    a lambda variable so the tokenize regex runs once per row even
    though size/fold/branch all reference it."""
    n_buckets = len(weights)
    if n_buckets == 0:
        raise ValueError("weights must be non-empty")
    lit = F.expr(sql_lit(weights, "array<double>"))
    b = F.lit(float(bias))

    def one(fs):
        vals = F.transform(
            fs,
            lambda f: F.element_at(
                lit,
                (F.pmod(md5_long60(f), F.lit(n_buckets)) + 1).cast("int"),
            ),
        )
        s = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
        n = F.size(fs)
        return F.when(n > 0, s / n.cast("double") + b).otherwise(b)

    return F.element_at(
        F.transform(F.array(_dsir_features(text_col)), one), 1
    )


def quality_keep_col(
    text_col: Column | str,
    weights: list[float],
    bias: float,
    min_logit: float = 0.0,
) -> Column:
    """Boolean gate with the SAME keep rule as :func:`quality_logits`:
    ``n_features > 0 AND logit > min_logit``. Featureless documents
    (empty / non-tokenizable text) are never kept — a positive-bias
    model must not pass empty text through a quality gate (the bare
    :func:`quality_logit_col` > threshold comparison did exactly that).
    The feature array is bound once per row (one-element-array lambda),
    so the gate costs one tokenize like the logit column alone."""
    n_buckets = len(weights)
    if n_buckets == 0:
        raise ValueError("weights must be non-empty")
    lit = F.expr(sql_lit(weights, "array<double>"))
    b = F.lit(float(bias))
    thr = F.lit(float(min_logit))

    def one(fs):
        vals = F.transform(
            fs,
            lambda f: F.element_at(
                lit,
                (F.pmod(md5_long60(f), F.lit(n_buckets)) + 1).cast("int"),
            ),
        )
        s = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
        n = F.size(fs)
        return (n > 0) & ((s / n.cast("double") + b) > thr)

    return F.element_at(
        F.transform(F.array(_dsir_features(text_col)), one), 1
    )


def quality_logits(
    df: DataFrame,
    weights: list[float],
    bias: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents with a fitted curated-vs-crawl model.

    ``quality_logit`` = (left-to-right fold of per-feature bucket
    weights, seeded 0.0) / n_features + bias — i.e. the LR logit under
    the normalized bag-of-buckets features the fit used; positive means
    curated-leaning. Documents with no features score the bias alone
    and are never kept.

    Scale shape: the model is an ``n_buckets`` double-literal array
    (``sql_lit`` — ONE array literal, O(1) ``element_at``), so
    scoring is a single map-only codegen projection. The feature array
    (which embeds the tokenize regex) is BOUND ONCE per row via the
    one-element-array lambda + dedicated-select idiom: written naively,
    (fold, size, keep) reference it ~5× row-level and codegen CSE does
    not share across lambda boundaries — each reference re-runs the
    regex (the measured Catalyst trap from the DSIR tier).

    Returns (id_col, n_features, quality_logit, keep).
    """
    n_buckets = len(weights)
    if n_buckets == 0:
        raise ValueError("weights must be non-empty")
    lit = F.expr(sql_lit(weights, "array<double>"))
    b = F.lit(float(bias))

    def fold(fs):
        vals = F.transform(
            fs,
            lambda f: F.element_at(
                lit,
                (F.pmod(md5_long60(f), F.lit(n_buckets)) + 1).cast("int"),
            ),
        )
        return F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)

    bound = df.select(
        F.col(id_col),
        F.element_at(
            F.transform(
                F.array(_dsir_features(text_col)),
                lambda fs: F.struct(
                    F.size(fs).alias("n"), fold(fs).alias("s")
                ),
            ),
            1,
        ).alias("_sn"),
    )
    n = F.col("_sn").getField("n")
    s = F.col("_sn").getField("s")
    logit = F.when(n > 0, s / n.cast("double") + b).otherwise(b)
    return bound.select(
        F.col(id_col),
        n.cast("int").alias("n_features"),
        logit.alias("quality_logit"),
        ((n > 0) & (logit > F.lit(0.0))).alias("keep"),
    )
