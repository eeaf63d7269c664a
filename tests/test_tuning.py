"""Grid-search tuning + run tracking tests."""

import json
import os
import random

import pytest
from pyspark.sql import functions as F

from merchant_classification_spark.ml.classifier import NarrativeClassifier
from merchant_classification_spark.ml.tracking import RunTracker
from merchant_classification_spark.ml.tuning import (
    grid,
    tune_classifier,
    tune_classifier_tpe,
)


def test_grid():
    g = grid(ngram_max=[1, 2], reg_param=[0.0, 0.1])
    assert len(g) == 4
    assert {"ngram_max": 1, "reg_param": 0.0} in g


@pytest.fixture(scope="module")
def split_data(spark):
    rng = random.Random(5)
    tpl = {"amazon": "amzn mktp {n}", "tesco": "tesco stores {n}", "costa": "costa coffee {n}"}
    rows = [
        (m, t.format(n=rng.randint(100, 999)))
        for m, t in tpl.items()
        for _ in range(60)
    ]
    df = spark.createDataFrame(rows, ["tr_merchant", "tr_description_clean"])
    train, val = df.randomSplit([0.8, 0.2], seed=1)
    return train, val


def _replay_accuracy(train, val, base, params):
    """One trial, serially: fit with ``params`` and score ``val``, a null
    prediction or label counting as a miss."""
    spec = NarrativeClassifier(**{**base.__dict__, **params})
    scored = spec.fit(train).transform(val)
    return scored.agg(
        F.avg(
            F.when(F.col("pr_merchant") == F.col("tr_merchant"), 1.0).otherwise(0.0)
        )
    ).first()[0]


def test_tune_classifier(split_data):
    """The grid search scores each grid point and picks the winner exactly
    as a serial replay does: best accuracy, ties to the first grid point."""
    train, val = split_data
    base = NarrativeClassifier(num_features=1 << 12, max_iter=10)
    g = grid(ngram_max=[1, 2], reg_param=[0.0, 0.01])
    model, result = tune_classifier(train, val, base, g, parallelism=1)

    replay = [_replay_accuracy(train, val, base, p) for p in g]
    assert [t["params"] for t in result.trials] == g  # grid order preserved
    assert [t["accuracy"] for t in result.trials] == replay
    best = max(range(len(g)), key=lambda i: (replay[i], -i))
    assert result.best_params == g[best]
    assert result.best_accuracy == replay[best]
    assert "pr_merchant" in model.transform(val).columns


def test_tune_classifier_parallel_overlaps_and_agrees(split_data):
    """With ``parallelism > 1`` the grid search must (a) actually run
    trials concurrently — asserted by wall-clock interval overlap — and
    (b) score and pick exactly as the one-at-a-time run does."""
    train, val = split_data
    base = NarrativeClassifier(num_features=1 << 12, max_iter=10)
    g = grid(ngram_max=[1, 2], reg_param=[0.0, 0.01])
    _, serial = tune_classifier(train, val, base, g, parallelism=1)
    model, par = tune_classifier(train, val, base, g, parallelism=4)

    assert par.best_params == serial.best_params
    assert par.best_accuracy == serial.best_accuracy
    assert [t["params"] for t in par.trials] == g  # grid order preserved
    assert [t["accuracy"] for t in par.trials] == [
        t["accuracy"] for t in serial.trials
    ]
    # concurrency proof: some pair of trials' [start, end) intervals overlap
    intervals = [(t["started_at"], t["ended_at"]) for t in par.trials]
    overlapping = any(
        a_start < b_end and b_start < a_end
        for i, (a_start, a_end) in enumerate(intervals)
        for (b_start, b_end) in intervals[i + 1 :]
    )
    assert overlapping, f"no two trials overlapped: {intervals}"
    assert "pr_merchant" in model.transform(val).columns


def test_tune_classifier_rejects_degenerate_input(split_data):
    """An empty grid or an empty validation frame raises a named error:
    neither can crown a winner (an empty validation frame would score
    every trial 0.0 and pick the first)."""
    train, val = split_data
    base = NarrativeClassifier(num_features=1 << 12, max_iter=5)
    with pytest.raises(ValueError, match="param_grid must be non-empty"):
        tune_classifier(train, val, base, [])
    with pytest.raises(ValueError, match="validation frame is empty"):
        tune_classifier(train, val.limit(0), base, grid(ngram_max=[1]))


def test_tune_classifier_tpe_gated(split_data):
    """TPE path: runs when hyperopt is installed, raises a clear
    ImportError otherwise (no hard dependency)."""
    train, val = split_data
    base = NarrativeClassifier(num_features=1 << 12, max_iter=5)
    try:
        import hyperopt  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="hyperopt"):
            tune_classifier_tpe(train, val, base, space={}, max_evals=2)
        return
    from hyperopt import hp

    with pytest.raises(ValueError, match="space must be non-empty"):
        tune_classifier_tpe(train, val, base, space={}, max_evals=2)
    model, result = tune_classifier_tpe(
        train,
        val,
        base,
        space={"ngram_max": hp.choice("ngram_max", [1, 2])},
        max_evals=3,
    )
    assert len(result.trials) == 3
    assert result.best_accuracy >= max(t["accuracy"] for t in result.trials) - 1e-12


def test_run_tracker_local(tmp_path):
    tracker = RunTracker("exp1", directory=str(tmp_path))
    sig = {"inputs": {"tr_description": "string"}, "outputs": {"pr_merchant": "string"}}
    rid = tracker.log_run(
        {"lr": 0.1}, {"acc": 0.97}, model_path="/tmp/m", signature=sig
    )
    tracker.register("/tmp/m", "merchant_model", signature=sig)
    runs = [json.loads(l) for l in open(tmp_path / "runs.jsonl")]
    assert runs[0]["run_id"] == rid and runs[0]["metrics"]["acc"] == 0.97
    # the string→string IO contract travels with BOTH the run record and
    # the registry pointer (reference signs its pyfunc the same way)
    assert runs[0]["signature"] == sig
    reg = json.load(open(tmp_path / "registry_merchant_model.json"))
    assert reg["path"] == "/tmp/m" and reg["signature"] == sig
