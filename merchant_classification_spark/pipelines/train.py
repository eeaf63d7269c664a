"""The reference's full train lifecycle as one callable
(reference 02_merchcat_ml.py top-to-bottom — SURVEY.md §3.3):

    ETL (clean → format → sample → split) → [optional corpus export] →
    train → [optional grid tuning] → evaluate → register

Everything distributed except the artifacts: the single-file corpus
export exists for external-trainer interop parity (the reference feeds a
C++ fasttext binary); the MLlib path trains straight from the DataFrame
and never materializes it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from merchant_classification_spark.config import EngineConfig
from merchant_classification_spark.ml.classifier import (
    NarrativeClassifier,
    NarrativeClassifierModel,
)
from merchant_classification_spark.ml.evaluate import evaluate_per_class
from merchant_classification_spark.ml.tracking import RunTracker
from merchant_classification_spark.ml.tuning import tune_classifier
from merchant_classification_spark.pipelines.etl import etl_pipeline
from merchant_classification_spark.sources.text import write_single_text_file


@dataclass
class TrainResult:
    model: NarrativeClassifierModel
    metrics: dict[str, float]
    per_class: DataFrame
    run_id: str
    corpus_path: str | None = None
    trials: list[dict] = field(default_factory=list)


def train_merchant_classifier(
    raw: DataFrame,
    config: EngineConfig | None = None,
    classifier: NarrativeClassifier | None = None,
    param_grid: list[dict] | None = None,
    export_corpus: bool = False,
    register: bool = True,
) -> TrainResult:
    """End-to-end: raw transactions in, registered evaluated model out.

    * `param_grid` — run grid tuning on the held-out split, with
      `config.tuning_parallelism` trials at once (the reference's
      SparkTrials parallelism, application.yaml:6), and keep the best
      trial (reference M3); otherwise a single fit.
    * `export_corpus` — also write the fasttext-format training file
      (reference's TrainingFile artifact, utils/fasttext_utils.py).
    """
    cfg = config or EngineConfig()
    clf = classifier or NarrativeClassifier()
    out = etl_pipeline(
        raw,
        sample_size=cfg.sample_size,
        count_threshold=cfg.count_threshold,
        test_fraction=cfg.test_fraction,
        seed=cfg.seed,
        merchant_col=clf.label_col,
    )
    train, test = out["train"], out["test"]

    corpus_path = None
    if export_corpus:
        corpus_path = os.path.join(cfg.model_path, f"{cfg.model_name}_train.txt")
        write_single_text_file(train, "fasttext", corpus_path)

    trials: list[dict] = []
    if param_grid:
        model, tuning = tune_classifier(
            train, test, clf, param_grid, parallelism=cfg.tuning_parallelism
        )
        trials = tuning.trials
    else:
        model = clf.fit(train)

    per_class, metrics = evaluate_per_class(
        model.transform(test), clf.label_col, clf.prediction_col
    )

    tracker = RunTracker(cfg.model_name, directory=cfg.model_path)
    model_dir = os.path.join(cfg.model_path, f"{cfg.model_name}_model")
    model.save(model_dir)
    # string→string contract, mirroring the reference's signed pyfunc
    # (02_merchcat_ml.py:199-201): text narrative in, label string out
    signature = {
        "inputs": {clf.text_col: "string"},
        "outputs": {clf.prediction_col: "string"},
    }
    run_id = tracker.log_run(
        params={
            "ngram_max": clf.ngram_max,
            "num_features": clf.num_features,
            "max_iter": clf.max_iter,
            "sample_size": cfg.sample_size,
            "count_threshold": cfg.count_threshold,
            "trials": len(trials),
        },
        metrics=metrics,
        model_path=model_dir,
        signature=signature,
    )
    if register:
        tracker.register(model_dir, cfg.model_name, signature=signature)
    return TrainResult(
        model=model,
        metrics=metrics,
        per_class=per_class,
        run_id=run_id,
        corpus_path=corpus_path,
        trials=trials,
    )
