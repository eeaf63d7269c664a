"""Hyperparameter tuning, Spark-native.

The reference tunes fasttext with hyperopt TPE over SparkTrials
(parallelism 20, 25→90 trials; reference 02_merchcat_ml.py:305-323,392-419
— SURVEY.md §2.11 M3). Every trial here goes through ``_trial`` (fit the
base classifier with the trial's params, score the held-out split), driven
by one of two searches:

  * ``tune_classifier`` — grid search, up to ``parallelism`` trials in
    flight; the train pipeline passes ``EngineConfig.tuning_parallelism``;
  * ``tune_classifier_tpe`` — hyperopt TPE, the reference's algorithm,
    when hyperopt is installed (no hard dependency).

SparkTrials ships each trial to an executor as one task: the shape for
single-node libraries such as fasttext, whose objectives call hyperopt's
own ``fmin(trials=SparkTrials(n))``. An MLlib fit launches Spark jobs
itself, so it is driven from the driver, as here.
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


def _trial(
    train: DataFrame, val: DataFrame, base: NarrativeClassifier, params: dict
) -> tuple[NarrativeClassifierModel, float]:
    """Fit ``base`` with ``params`` overriding its fields; return the model
    and its accuracy on ``val``. A null prediction or label is a miss."""
    spec = NarrativeClassifier(**{**base.__dict__, **params})
    model = spec.fit(train)
    hit = F.col(spec.prediction_col) == F.col(spec.label_col)
    acc = model.transform(val).agg(F.avg(F.when(hit, 1.0).otherwise(0.0)))
    return model, float(acc.collect()[0][0])


def _persist_validation(validation: DataFrame) -> DataFrame:
    """Persist the validation split once for all trials. An empty split
    would score every trial 0.0 and crown the first, so it raises."""
    val = validation.persist()
    if val.isEmpty():
        val.unpersist()
        raise ValueError("validation frame is empty: no trial can be scored")
    return val


def tune_classifier(
    train: DataFrame,
    validation: DataFrame,
    base: NarrativeClassifier,
    param_grid: list[dict],
    parallelism: int = 4,
) -> tuple[NarrativeClassifierModel, TuningResult]:
    """Grid search: one trial per param dict, up to ``parallelism`` at
    once, each an independent distributed fit from its own driver thread.

    Spark job scheduling is thread-safe (CrossValidator uses the same
    pattern); set ``spark.scheduler.mode=FAIR`` on a shared cluster so
    concurrent trials split executors instead of queueing FIFO. The winner
    is chosen by (accuracy, grid order), so ties go to the first grid
    point whatever the completion order. Each trial records its wall-clock
    ``started_at`` / ``ended_at`` (``time.monotonic``).
    """
    if not param_grid:
        raise ValueError("param_grid must be non-empty")
    val = _persist_validation(validation)

    def run(params: dict) -> tuple[NarrativeClassifierModel, dict]:
        t0 = time.monotonic()
        model, acc = _trial(train, val, base, params)
        return model, {
            "params": params,
            "accuracy": acc,
            "started_at": t0,
            "ended_at": time.monotonic(),
        }

    try:
        with ThreadPoolExecutor(max_workers=max(1, parallelism)) as pool:
            results = list(pool.map(run, param_grid))  # grid order
    finally:
        val.unpersist()
    best = max(range(len(results)), key=lambda i: (results[i][1]["accuracy"], -i))
    model, winner = results[best]
    return model, TuningResult(
        best_params=winner["params"],
        best_accuracy=winner["accuracy"],
        trials=[trial for _, trial in results],
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
    ImportError with a clear message if hyperopt is absent; the grid
    search ``tune_classifier`` has no external deps.

    ``space`` maps param name → hyperopt expression (e.g.
    ``{"num_features": hp.choice(...), "max_iter": hp.quniform(...)}``).
    """
    try:
        import numpy as np
        from hyperopt import Trials, fmin, tpe
    except ImportError as e:  # pragma: no cover - exercised when installed
        raise ImportError(
            "tune_classifier_tpe requires hyperopt; use tune_classifier "
            "for the dependency-free grid search"
        ) from e
    if not space or max_evals < 1:
        raise ValueError("space must be non-empty and max_evals at least 1")

    val = _persist_validation(validation)
    trials_log: list[dict] = []
    best_state: dict = {"acc": -1.0, "model": None, "params": None}

    def objective(params: dict) -> float:
        clean = {
            k: int(v) if isinstance(v, float) and float(v).is_integer() else v
            for k, v in params.items()
        }
        model, acc = _trial(train, val, base, clean)
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
    return best_state["model"], TuningResult(
        best_params=best_state["params"],
        best_accuracy=best_state["acc"],
        trials=trials_log,
    )
