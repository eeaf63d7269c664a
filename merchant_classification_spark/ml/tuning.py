"""Hyperparameter tuning, Spark-native.

The reference tunes fasttext with hyperopt TPE over SparkTrials
(parallelism 20, 25→90 trials; reference 02_merchcat_ml.py:305-323,392-419
— SURVEY.md §2.11 M3). The MLlib-native mapping is TrainValidationSplit /
CrossValidator over a param grid with `parallelism=` — the same
cluster-shape (each trial is an independent fit scheduled concurrently)
without the external dependency. hyperopt, when installed, can drive the
same objective; we gate it behind an import so the engine has no hard dep.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from merchant_classification_spark.ml.classifier import (
    NarrativeClassifier,
    NarrativeClassifierModel,
)


@dataclass
class TuningResult:
    best_params: dict
    best_accuracy: float
    trials: list[dict] = field(default_factory=list)


def grid(**axes: list) -> list[dict]:
    """Cartesian product of named axes → list of param dicts."""
    out: list[dict] = [{}]
    for name, values in axes.items():
        out = [{**p, name: v} for p in out for v in values]
    return out


def tune_classifier(
    train: DataFrame,
    validation: DataFrame,
    base: NarrativeClassifier,
    param_grid: list[dict],
) -> tuple[NarrativeClassifierModel, TuningResult]:
    """Grid search: fit one model per param dict, pick by validation
    accuracy (ties → first in grid order, so results are deterministic).

    Each trial is itself a distributed fit, mirroring the reference's
    one-trial-per-node layout (spark.task.cpus=8 there); on a large
    cluster wrap the loop in a thread pool for trial-level parallelism —
    Spark schedulers interleave concurrent jobs safely.
    """
    best_model: NarrativeClassifierModel | None = None
    best = TuningResult(best_params={}, best_accuracy=-1.0)
    val = validation.persist()
    try:
        for params in param_grid:
            spec = NarrativeClassifier(
                **{
                    **base.__dict__,
                    **params,
                }
            )
            model = spec.fit(train)
            scored = model.transform(val)
            acc_row = scored.agg(
                F.avg(
                    F.when(
                        F.col(spec.prediction_col) == F.col(spec.label_col), 1.0
                    ).otherwise(0.0)
                ).alias("acc")
            ).collect()[0]
            acc = float(acc_row["acc"]) if acc_row["acc"] is not None else 0.0
            best.trials.append({"params": params, "accuracy": acc})
            if acc > best.best_accuracy:
                best.best_accuracy = acc
                best.best_params = params
                best_model = model
    finally:
        val.unpersist()
    assert best_model is not None, "param_grid must be non-empty"
    return best_model, best


def tune_classifier_parallel(
    train: DataFrame,
    validation: DataFrame,
    base: NarrativeClassifier,
    param_grid: list[dict],
    parallelism: int = 4,
) -> tuple[NarrativeClassifierModel, TuningResult]:
    """Concurrent trials: each trial is an independent distributed fit
    driven from its own driver thread, so up to ``parallelism`` Spark jobs
    run at once — the cluster shape of the reference's hyperopt
    SparkTrials(parallelism=20) (reference 02_merchcat_ml.py:305-323)
    without the external dependency.

    Spark job scheduling is thread-safe (CrossValidator uses the same
    pattern); set ``spark.scheduler.mode=FAIR`` on a shared cluster so
    concurrent trials split executors instead of queueing FIFO. The
    winner is chosen by (accuracy, grid order) — identical to the serial
    ``tune_classifier`` regardless of completion order. Each trial entry
    records wall-clock start/end so overlap is observable.
    """
    spark = train.sparkSession
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "tuning")
    val = validation.persist()
    val.count()  # materialize once before the threads race to use it

    def run_trial(idx_params: tuple[int, dict]) -> dict:
        idx, params = idx_params
        t0 = time.monotonic()
        spec = NarrativeClassifier(**{**base.__dict__, **params})
        model = spec.fit(train)
        acc_row = (
            model.transform(val)
            .agg(
                F.avg(
                    F.when(
                        F.col(spec.prediction_col) == F.col(spec.label_col), 1.0
                    ).otherwise(0.0)
                ).alias("acc")
            )
            .collect()[0]
        )
        acc = float(acc_row["acc"]) if acc_row["acc"] is not None else 0.0
        return {
            "idx": idx,
            "params": params,
            "accuracy": acc,
            "model": model,
            "started_at": t0,
            "ended_at": time.monotonic(),
        }

    try:
        with ThreadPoolExecutor(max_workers=max(1, parallelism)) as pool:
            results = list(pool.map(run_trial, enumerate(param_grid)))
    finally:
        val.unpersist()
    assert results, "param_grid must be non-empty"
    results.sort(key=lambda r: r["idx"])  # deterministic tie-break order
    winner = max(results, key=lambda r: (r["accuracy"], -r["idx"]))
    trials = [
        {
            "params": r["params"],
            "accuracy": r["accuracy"],
            "started_at": r["started_at"],
            "ended_at": r["ended_at"],
        }
        for r in results
    ]
    return winner["model"], TuningResult(
        best_params=winner["params"],
        best_accuracy=winner["accuracy"],
        trials=trials,
    )


def tune_classifier_tpe(
    train: DataFrame,
    validation: DataFrame,
    base: NarrativeClassifier,
    space: dict,
    max_evals: int = 25,
    seed: int = 42,
) -> tuple[NarrativeClassifierModel, TuningResult]:
    """Adaptive (TPE) search via hyperopt when installed — the reference's
    exact algorithm (02_merchcat_ml.py:392-419: hp.quniform/loguniform
    space, tpe.suggest, 25→90 evals). Optional dependency: raises
    ImportError with a clear message if hyperopt is absent; the grid and
    parallel-grid paths above have no external deps.

    ``space`` maps param name → hyperopt expression (e.g.
    ``{"num_features": hp.choice(...), "max_iter": hp.quniform(...)}``).
    """
    try:
        import numpy as np
        from hyperopt import Trials, fmin, tpe
    except ImportError as e:  # pragma: no cover - exercised when installed
        raise ImportError(
            "tune_classifier_tpe requires hyperopt; use tune_classifier / "
            "tune_classifier_parallel for the dependency-free grid paths"
        ) from e

    val = validation.persist()
    trials_log: list[dict] = []
    best_state: dict = {"acc": -1.0, "model": None, "params": None}

    def objective(params: dict) -> float:
        clean = {
            k: int(v) if isinstance(v, float) and float(v).is_integer() else v
            for k, v in params.items()
        }
        spec = NarrativeClassifier(**{**base.__dict__, **clean})
        model = spec.fit(train)
        acc_row = (
            model.transform(val)
            .agg(
                F.avg(
                    F.when(
                        F.col(spec.prediction_col) == F.col(spec.label_col), 1.0
                    ).otherwise(0.0)
                ).alias("acc")
            )
            .collect()[0]
        )
        acc = float(acc_row["acc"]) if acc_row["acc"] is not None else 0.0
        trials_log.append({"params": clean, "accuracy": acc})
        if acc > best_state["acc"]:
            best_state.update(acc=acc, model=model, params=clean)
        return -acc  # hyperopt minimizes

    try:
        fmin(
            fn=objective,
            space=space,
            algo=tpe.suggest,
            max_evals=max_evals,
            trials=Trials(),
            rstate=np.random.default_rng(seed),
            show_progressbar=False,
        )
    finally:
        val.unpersist()
    assert best_state["model"] is not None
    return best_state["model"], TuningResult(
        best_params=best_state["params"],
        best_accuracy=best_state["acc"],
        trials=trials_log,
    )


def tune_with_spark_trials(
    objective,
    space: dict,
    max_evals: int = 16,
    parallelism: int = 2,
    seed: int = 42,
):
    """Cluster-distributed TPE via hyperopt's ``SparkTrials`` (the
    reference drives exactly this, 02_merchcat_ml.py:315): each trial is
    shipped to an executor as one Spark task, which is the right shape for
    SINGLE-NODE training libraries (fasttext/sklearn/xgboost-local — the
    reference's fasttext case). Spark-native MLlib models must NOT nest
    jobs inside executors, so the engine routes those through
    ``tune_classifier_parallel`` (driver-side concurrent trials — the
    same cluster utilization, legal job topology).

    ``objective`` must be a self-contained picklable callable (no
    DataFrame/SparkSession captures). Returns (best_params, trials).
    Optional dependency: ImportError with guidance when hyperopt is
    absent.
    """
    try:
        import numpy as np
        from hyperopt import SparkTrials, fmin, tpe
    except ImportError as e:  # pragma: no cover - exercised when installed
        raise ImportError(
            "tune_with_spark_trials requires hyperopt; MLlib models tune "
            "via tune_classifier / tune_classifier_parallel instead"
        ) from e

    trials = SparkTrials(parallelism=parallelism)
    best = fmin(
        fn=objective,
        space=space,
        algo=tpe.suggest,
        max_evals=max_evals,
        trials=trials,
        rstate=np.random.default_rng(seed),
        show_progressbar=False,
    )
    return best, trials


def tune_with_crossvalidator(
    train: DataFrame,
    base: NarrativeClassifier,
    reg_params: list[float] = (0.0, 0.01),
    max_iters: list[int] = (20, 50),
    num_folds: int = 3,
    parallelism: int = 4,
    seed: int = 42,
) -> tuple[NarrativeClassifierModel, TuningResult]:
    """MLlib-native k-fold tuning: ``CrossValidator`` over the engine's
    classification pipeline with ``parallelism`` concurrent fits.

    Complements the engine's other tuning shapes (grid / driver-parallel
    / TPE / SparkTrials): CV re-uses folds instead of a held-out split —
    the right call when labeled data is scarce (the reference's rare
    merchant classes, 01_merchcat_etl.py:138-153). The indexer stays in
    the k×|grid| inner fits because the evaluator scores the INDEX-space
    prediction; the winner is returned as `NarrativeClassifier.fit` builds
    its model, without the indexer and with the decode stage attached.
    """
    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.feature import IndexToString
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    tokenizer, grams, tf, indexer, lr = base._stages()
    pipeline = Pipeline(stages=[tokenizer, grams, tf, indexer, lr])
    param_grid = (
        ParamGridBuilder()
        .addGrid(lr.regParam, list(reg_params))
        .addGrid(lr.maxIter, list(max_iters))
        .build()
    )
    evaluator = MulticlassClassificationEvaluator(
        labelCol="_label_idx", predictionCol="_pred_idx", metricName="accuracy"
    )
    cv = CrossValidator(
        estimator=pipeline,
        estimatorParamMaps=param_grid,
        evaluator=evaluator,
        numFolds=num_folds,
        parallelism=parallelism,
        seed=seed,
    )
    cv_model = cv.fit(train)
    *featurize, indexer_model, best_lr = cv_model.bestModel.stages
    decode = IndexToString(
        inputCol="_pred_idx",
        outputCol=base.prediction_col,
        labels=indexer_model.labels,
    )
    full = PipelineModel(stages=[*featurize, best_lr, decode])
    best_params = {
        "reg_param": best_lr.getRegParam(),
        "max_iter": best_lr.getMaxIter(),
    }
    best_idx = max(range(len(param_grid)), key=lambda i: cv_model.avgMetrics[i])
    result = TuningResult(
        best_params=best_params,
        best_accuracy=float(cv_model.avgMetrics[best_idx]),
        trials=[
            {
                "params": {
                    "reg_param": pm[lr.regParam],
                    "max_iter": pm[lr.maxIter],
                },
                "accuracy": float(m),
            }
            for pm, m in zip(param_grid, cv_model.avgMetrics)
        ],
    )
    spec = NarrativeClassifier(**{**base.__dict__, **best_params})
    return NarrativeClassifierModel(full, spec), result
