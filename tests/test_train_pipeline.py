"""End-to-end train-lifecycle test: raw narratives → registered model."""

import json
import os
import random

import pytest
from pyspark.sql import functions as F

from merchant_classification_spark.config import EngineConfig
from merchant_classification_spark.ml.classifier import NarrativeClassifier
from merchant_classification_spark.pipelines.train import train_merchant_classifier

MERCHANTS = {
    "starbucks": "starbucks coffee {n} 14sep19",
    "amazon": "amzn mktp {n} 12.34 gbp",
    "virgin media": "virgin media cd {n} deb",
    "tesco": "tesco stores {n} (ref)",
}


def _raw(spark, n=150, seed=13):
    rng = random.Random(seed)
    rows = [
        (m, t.format(n=rng.randint(1000, 9999)), float(rng.randint(1, 500)))
        for m, t in MERCHANTS.items()
        for _ in range(n)
    ]
    return spark.createDataFrame(rows, ["tr_merchant", "tr_description", "tr_amount"])


def test_full_lifecycle(spark, tmp_path):
    cfg = EngineConfig(
        model_path=str(tmp_path),
        model_name="merchcat_test",
        sample_size=120,
        count_threshold=50,
        seed=3,
    )
    clf = NarrativeClassifier(ngram_max=2, num_features=1 << 14, max_iter=20)
    # a merchant below count_threshold: the ETL drops it from training
    rare = spark.createDataFrame(
        [("corner shop", f"corner shop {i} ldn", 1.0) for i in range(10)],
        ["tr_merchant", "tr_description", "tr_amount"],
    )
    raw = _raw(spark).unionByName(rare)
    result = train_merchant_classifier(
        raw,
        config=cfg,
        classifier=clf,
        export_corpus=True,
    )
    assert result.metrics["avg_acc"] > 0.9
    assert result.per_class.count() == len(MERCHANTS)
    # ...yet the model scores its rows too, like every other row
    from merchant_classification_spark.pipelines.etl import clean_transactions

    scored = result.model.transform(clean_transactions(raw))
    assert scored.where(F.col("pr_merchant").isNotNull()).count() == raw.count()
    # corpus artifact exists and is fasttext-formatted
    with open(result.corpus_path) as f:
        first = f.readline()
    assert first.startswith("__label__")
    # run log + registry written
    runs = [json.loads(l) for l in open(os.path.join(cfg.model_path, "runs.jsonl"))]
    assert runs[0]["run_id"] == result.run_id
    assert runs[0]["metrics"]["avg_acc"] == result.metrics["avg_acc"]
    assert os.path.exists(os.path.join(cfg.model_path, "registry_merchcat_test.json"))
    # model dir is loadable; scoring raw data goes through the cleaner
    from merchant_classification_spark.ml.classifier import NarrativeClassifierModel

    reloaded = NarrativeClassifierModel.load(
        os.path.join(cfg.model_path, "merchcat_test_model"), clf
    )
    scored = reloaded.transform(clean_transactions(_raw(spark, n=5)))
    assert scored.count() == 20 and "pr_merchant" in scored.columns


def test_lifecycle_with_tuning(spark, tmp_path):
    clf = NarrativeClassifier(ngram_max=1, num_features=1 << 12, max_iter=10)
    grid = [{"ngram_max": 1}, {"ngram_max": 2}]
    runs = []
    for parallelism in (20, 1):  # the reference's default, then serial
        cfg = EngineConfig(
            model_path=str(tmp_path / str(parallelism)),
            model_name="merchcat_tuned", sample_size=100, count_threshold=50,
            seed=5, tuning_parallelism=parallelism,
        )
        runs.append(
            train_merchant_classifier(
                _raw(spark, n=100),
                config=cfg,
                classifier=clf,
                param_grid=grid,
                register=False,
            )
        )
    for result in runs:
        assert len(result.trials) == 2
        assert result.metrics["avg_acc"] > 0.8
    # the config's parallelism reaches the grid search: one at a time, no
    # two trials' [started_at, ended_at) intervals overlap
    serial = runs[1].trials
    intervals = sorted((t["started_at"], t["ended_at"]) for t in serial)
    assert all(
        a_end <= b_start for (_, a_end), (b_start, _) in zip(intervals, intervals[1:])
    ), intervals
    assert [(t["params"], t["accuracy"]) for t in serial] == [
        (t["params"], t["accuracy"]) for t in runs[0].trials
    ]
    assert runs[1].metrics == runs[0].metrics


def test_lifecycle_with_tuning_no_class_kept(spark, tmp_path):
    """count_threshold above every class leaves an empty held-out split:
    tuning raises a named error instead of crowning the first grid point."""
    cfg = EngineConfig(
        model_path=str(tmp_path), model_name="merchcat_none", sample_size=100,
        count_threshold=1000, seed=5,
    )
    clf = NarrativeClassifier(ngram_max=1, num_features=1 << 12, max_iter=5)
    with pytest.raises(ValueError, match="validation frame is empty"):
        train_merchant_classifier(
            _raw(spark, n=100),
            config=cfg,
            classifier=clf,
            param_grid=[{"ngram_max": 1}],
            register=False,
        )


def test_lifecycle_no_class_kept(spark, tmp_path):
    """count_threshold above every class without a grid: the fit raises a
    named error before the LR fit sees an empty frame."""
    cfg = EngineConfig(
        model_path=str(tmp_path), model_name="merchcat_empty", sample_size=100,
        count_threshold=1000, seed=5,
    )
    clf = NarrativeClassifier(ngram_max=1, num_features=1 << 12, max_iter=5)
    with pytest.raises(ValueError, match="no training rows with a label"):
        train_merchant_classifier(
            _raw(spark, n=100), config=cfg, classifier=clf, register=False
        )
    assert not os.path.exists(os.path.join(str(tmp_path), "merchcat_empty_model"))


def test_lifecycle_single_class_kept(spark, tmp_path):
    """count_threshold keeps one class: the run trains a one-label model
    with a defined result, and scoring labels every row with that class."""
    from merchant_classification_spark.pipelines.etl import clean_transactions

    rng = random.Random(17)
    rows = [
        (m, MERCHANTS[m].format(n=rng.randint(1000, 9999)), 1.0)
        for m, n in (("starbucks", 150), ("tesco", 10))
        for _ in range(n)
    ]
    raw = spark.createDataFrame(
        rows, ["tr_merchant", "tr_description", "tr_amount"]
    )
    cfg = EngineConfig(
        model_path=str(tmp_path), model_name="merchcat_one", sample_size=120,
        count_threshold=50, seed=3,
    )
    clf = NarrativeClassifier(ngram_max=1, num_features=1 << 12, max_iter=5)
    result = train_merchant_classifier(
        raw, config=cfg, classifier=clf, register=False
    )
    assert result.metrics["avg_acc"] == 1.0
    assert [r["tr_merchant"] for r in result.per_class.collect()] == [
        "starbucks"
    ]
    scored = result.model.transform(clean_transactions(raw))
    assert {
        r["pr_merchant"]: r["count"]
        for r in scored.groupBy("pr_merchant").count().collect()
    } == {"starbucks": 160}
