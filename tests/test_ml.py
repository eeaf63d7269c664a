"""ML pipeline tests: train on synthetic narratives, verify accuracy and
in-engine evaluation metrics; full ETL → train → score round trip."""

import glob
import json
import os
import random

import numpy as np
import pytest
from pyspark.ml import Pipeline
from pyspark.ml.feature import NGram, SQLTransformer
from pyspark.sql import functions as F

from merchant_classification_spark.ml.classifier import NarrativeClassifier
from merchant_classification_spark.ml.evaluate import (
    QUANTILES,
    evaluate_per_class,
    percentile,
)
from merchant_classification_spark.operators.relational import accuracy_report
from merchant_classification_spark.pipelines.etl import etl_pipeline
from merchant_classification_spark.streaming.enrichment import enrich_stream

MERCHANTS = {
    "starbucks": "starbucks coffee {n} london",
    "amazon": "amzn mktp {n} lux",
    "virgin media": "virgin media cd {n} deb",
    "national trust": "national trust cd {n} deb",
    "tesco": "tesco stores {n} gbp",
}


def synth_rows(n_per_class=80, seed=11):
    rng = random.Random(seed)
    rows = []
    for merchant, tpl in MERCHANTS.items():
        for _ in range(n_per_class):
            rows.append((merchant, tpl.format(n=rng.randint(1000, 9999))))
    rng.shuffle(rows)
    return rows


@pytest.fixture(scope="module")
def labeled(spark):
    return spark.createDataFrame(
        synth_rows(), ["tr_merchant", "tr_description_clean"]
    )


def test_train_and_score(labeled):
    clf = NarrativeClassifier(ngram_max=2, num_features=1 << 14, max_iter=30)
    model = clf.fit(labeled)
    scored = model.transform(labeled)
    assert "pr_merchant" in scored.columns
    # internal feature columns must not leak
    assert all(not c.startswith("_") for c in scored.columns)
    acc = scored.where(F.col("pr_merchant") == F.col("tr_merchant")).count() / scored.count()
    assert acc > 0.95, f"train accuracy too low: {acc}"


def test_evaluate_per_class(labeled):
    clf = NarrativeClassifier(ngram_max=2, num_features=1 << 14, max_iter=30)
    model = clf.fit(labeled)
    per_class, summary = evaluate_per_class(
        model.transform(labeled), "tr_merchant", "pr_merchant"
    )
    assert set(per_class.columns) == {"tr_merchant", "predicted", "total", "accuracy"}
    assert per_class.count() == len(MERCHANTS)
    assert 0.9 < summary["avg_acc"] <= 1.0
    assert summary["q_05"] <= summary["q_50"] <= summary["q_95"]


def _saved_files(path):
    """{directory relative to `path`: its one part file} of a saved model."""
    out = {}
    for part in glob.glob(os.path.join(path, "**", "part-*"), recursive=True):
        rel = os.path.relpath(os.path.dirname(part), path)
        assert rel not in out, f"two part files in {rel}"
        out[rel] = part
    return out


def _scores(pipeline_model, df):
    cols = ["pr_merchant", "rawPrediction", "probability"]
    return pipeline_model.transform(df).select(*cols).collect()


def test_model_save_load(spark, labeled, tmp_path):
    """`save` writes the stock writer's layout from the driver with no
    Spark job: the same directories, the same metadata but for its
    timestamp, the same LR `data` row. Both copies load through either
    loader and score bit-identically, so models saved by the stock writer
    still load and score. Held against the running Spark's own writer, so
    a Spark upgrade that changes the layout fails here."""
    from pyspark.ml import PipelineModel
    from pyspark.ml.linalg import MatrixUDT, VectorUDT

    from merchant_classification_spark.ml.classifier import NarrativeClassifierModel

    sc = spark.sparkContext
    fitted = NarrativeClassifier(num_features=1 << 14, max_iter=10).fit(labeled)
    legacy_stages = list(fitted.pipeline_model.stages)
    # the earlier layout's stock NGram stage, fed into the concat stage
    legacy_stages[1:2] = [
        NGram(n=2, inputCol="_tokens", outputCol="_grams_2"),
        SQLTransformer(
            statement="SELECT *, concat(_tokens, _grams_2) AS _all_grams FROM __THIS__"
        ),
    ]
    models = {
        "words": fitted,
        "subwords": NarrativeClassifier(
            num_features=1 << 14, max_iter=10, ngram_max=3, char_ngram_min=2,
            char_ngram_max=4,
        ).fit(labeled),
        "ngram_stage": NarrativeClassifierModel(
            PipelineModel(stages=legacy_stages), fitted.spec
        ),
    }
    for name, model in models.items():
        stock, path = str(tmp_path / f"{name}_stock"), str(tmp_path / name)
        # `save` first: the stock writer pushes the Python-side params of
        # each stage to its Java object, which `save` must do itself
        sc.setJobGroup("model-save", "model.save")
        try:
            model.save(path)
            assert list(sc.statusTracker().getJobIdsForGroup("model-save")) == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        model.pipeline_model.write().save(stock)
        want, got = _saved_files(stock), _saved_files(path)
        assert sorted(got) == sorted(want)
        assert sum(d.endswith("/data") for d in got) == 1
        for rel in want:
            if rel.endswith("metadata"):
                with open(want[rel]) as a, open(got[rel]) as b:
                    a, b = json.loads(a.read()), json.loads(b.read())
                assert a.pop("timestamp") > 0 and b.pop("timestamp") > 0
                assert a == b, rel
            else:
                a = spark.read.parquet(os.path.join(stock, rel))
                b = spark.read.parquet(os.path.join(path, rel))
                assert a.schema == b.schema
                (a,), (b,) = a.collect(), b.collect()
                assert a == b
                # the stored form too: dense or sparse, isTransposed
                for col, udt in (("interceptVector", VectorUDT()),
                                 ("coefficientMatrix", MatrixUDT())):
                    assert udt.serialize(a[col]) == udt.serialize(b[col])
        expected = _scores(model.pipeline_model, labeled)
        for saved in (stock, path):
            reloaded = NarrativeClassifierModel.load(saved, model.spec)
            assert _scores(reloaded.pipeline_model, labeled) == expected
            assert _scores(PipelineModel.load(saved), labeled) == expected

    # overwrite: the second model's stages replace the first model's
    path = str(tmp_path / "overwritten")
    models["subwords"].save(path)
    models["ngram_stage"].save(path)
    assert sorted(os.listdir(os.path.join(path, "stages"))) == sorted(
        os.listdir(str(tmp_path / "ngram_stage_stock" / "stages"))
    )
    reloaded = NarrativeClassifierModel.load(path)
    assert _scores(reloaded.pipeline_model, labeled) == _scores(
        models["ngram_stage"].pipeline_model, labeled
    )


def test_model_save_rejects_unwritable_stage(labeled, tmp_path):
    """A seven-stage model's fitted StringIndexerModel loads and scores,
    but `save` does not write it: a named error, and nothing on disk."""
    from pyspark.ml import PipelineModel
    from pyspark.ml.feature import StringIndexer

    from merchant_classification_spark.ml.classifier import NarrativeClassifierModel

    model = NarrativeClassifier(num_features=1 << 12, max_iter=5).fit(labeled)
    indexer = StringIndexer(
        inputCol="tr_merchant", outputCol="_label_idx", handleInvalid="skip"
    ).fit(labeled)
    stages = model.pipeline_model.stages
    legacy = NarrativeClassifierModel(
        PipelineModel(stages=[*stages[:3], indexer, *stages[3:]]), model.spec
    )
    path = str(tmp_path / "legacy")
    with pytest.raises(ValueError, match="StringIndexerModel"):
        legacy.save(path)
    assert not os.path.exists(path)


def test_etl_to_model_roundtrip(spark):
    """Reference pipeline end-to-end: raw noisy narratives → ETL →
    train on the train split → evaluate on the test split."""
    rng = random.Random(3)
    rows = []
    for merchant, tpl in MERCHANTS.items():
        for _ in range(120):
            desc = tpl.format(n=rng.randint(1000, 9999)) + " 14sep19 12.34 gbp"
            rows.append((merchant, desc, float(rng.randint(1, 500))))
    raw = spark.createDataFrame(rows, ["tr_merchant", "tr_description", "tr_amount"])
    out = etl_pipeline(raw, sample_size=100, count_threshold=50, seed=7)
    train, test = out["train"], out["test"]
    # cleaning removed dates/prices before formatting
    assert train.where(F.col("tr_description_clean").contains("14sep19")).count() == 0
    assert train.where(F.col("fasttext").startswith("__label__")).count() == train.count()
    # split is disjoint and roughly 90/10
    ids_train = {r.tr_description for r in train.select("tr_description").collect()}
    ids_test = {r.tr_description for r in test.select("tr_description").collect()}
    total = train.count() + test.count()
    assert 0.03 < test.count() / total < 0.25
    clf = NarrativeClassifier(ngram_max=2, num_features=1 << 14, max_iter=30)
    model = clf.fit(train)
    _, summary = evaluate_per_class(
        model.transform(test), "tr_merchant", "pr_merchant"
    )
    assert summary["avg_acc"] > 0.9


def test_subword_char_ngrams(labeled, spark):
    """fasttext-style subword features: the subword expression emits
    boundary-marked character n-grams ('<tok', 'ok>', whole '<tok>' for
    short tokens), the trained model stays a stock serializable MLlib
    pipeline, and truncated mentions that share no word n-gram with the
    training vocabulary still classify via shared subwords."""
    clf = NarrativeClassifier(
        ngram_max=2,
        num_features=1 << 14,
        max_iter=30,
        char_ngram_min=3,
        char_ngram_max=4,
    )
    model = clf.fit(labeled)
    scored = model.transform(labeled)
    # internal subword columns must not leak
    assert all(not c.startswith("_") for c in scored.columns)
    acc = (
        scored.where(F.col("pr_merchant") == F.col("tr_merchant")).count()
        / scored.count()
    )
    assert acc > 0.95, f"train accuracy too low with subwords: {acc}"

    # truncated-mention generalization: "starbuck coff" has no word
    # bigram in common with "starbucks coffee {n} london" rows, but
    # shares most subwords
    probe = spark.createDataFrame(
        [("starbucks", "starbuck coff 4411")],
        ["tr_merchant", "tr_description_clean"],
    )
    assert model.transform(probe).first().pr_merchant == "starbucks"

    # the subword expression itself: '<ab>' at n=3 -> ['<ab','ab>'];
    # a token shorter than the window contributes its whole '<a>' once
    row = spark.sql(
        "SELECT flatten(transform(array('ab','a'), t -> "
        "transform(sequence(1, greatest(length(t) + 0, 1)), i -> "
        "substring(concat('<', t, '>'), i, 3)))) AS g"
    ).first()
    assert row.g == ["<ab", "ab>", "<a>"]

    with pytest.raises(ValueError, match="char_ngram"):
        NarrativeClassifier(char_ngram_min=0, char_ngram_max=3).fit(labeled)


def test_extra_tokens_col_consumed(labeled, spark):
    # round 6: a pre-computed token-array column (e.g. fitted BPE
    # segments) hashes into the same feature space when named via
    # extra_tokens_col — and its features actually matter: two labels
    # whose TEXT is identical can only be separated by the extra column
    rows = []
    for i in range(120):
        lbl = "alpha" if i % 2 == 0 else "beta"
        rows.append((lbl, "payment ref due", [f"tag_{lbl}"]))
    df = spark.createDataFrame(
        rows, "tr_merchant string, tr_description_clean string, side array<string>"
    )
    clf = NarrativeClassifier(
        ngram_max=1,
        num_features=1 << 12,
        max_iter=30,
        extra_tokens_col="side",
    )
    model = clf.fit(df)
    scored = model.transform(df)
    acc = (
        scored.where(F.col("pr_merchant") == F.col("tr_merchant")).count()
        / scored.count()
    )
    # text alone cannot separate the labels (ref numbers are shared);
    # the tag column can — near-perfect accuracy proves it was hashed in
    assert acc > 0.95, acc


def test_extra_tokens_col_null_rows_survive(labeled, spark):
    # a NULL extra-token array must behave as "no extra tokens", not
    # NULL-poison concat() and crash HashingTF (round-7 advice fix)
    rows = []
    for i in range(60):
        lbl = "alpha" if i % 2 == 0 else "beta"
        side = [f"tag_{lbl}"] if i % 3 else None
        rows.append((lbl, f"payment ref {lbl}", side))
    df = spark.createDataFrame(
        rows, "tr_merchant string, tr_description_clean string, side array<string>"
    )
    clf = NarrativeClassifier(
        ngram_max=1, num_features=1 << 12, max_iter=10, extra_tokens_col="side"
    )
    model = clf.fit(df)  # previously raised on the NULL rows
    assert model.transform(df).count() == 60


def test_fitted_stages_are_scoring_only(labeled):
    model = NarrativeClassifier(num_features=1 << 12, max_iter=5).fit(labeled)
    assert [type(s).__name__ for s in model.pipeline_model.stages] == [
        "RegexTokenizer",
        "SQLTransformer",
        "HashingTF",
        "LogisticRegressionModel",
        "IndexToString",
    ]


def test_scoring_keeps_null_and_unseen_labels(labeled, spark):
    """Scoring needs no label: a row whose label is null or was not a
    training class gets a prediction like any other row, through
    model.transform and through enrich_stream."""
    model = NarrativeClassifier(num_features=1 << 14, max_iter=10).fit(labeled)
    raw = spark.createDataFrame(
        [
            (None, "starbucks coffee 1234 london"),
            ("corner shop", "amzn mktp 5678 lux"),
            ("tesco", "tesco stores 4321 gbp"),
        ],
        "tr_merchant string, tr_description string",
    )
    cleaned = raw.withColumn("tr_description_clean", F.col("tr_description"))
    for scored in (model.transform(cleaned), enrich_stream(raw, model=model)):
        rows = scored.select("tr_merchant", "pr_merchant").collect()
        assert [r.tr_merchant for r in rows] == [None, "corner shop", "tesco"]
        assert all(r.pr_merchant is not None for r in rows)


def _stock_gram_stages(clf):
    """The n-gram chain as stock stages: one NGram per word width, one
    SQLTransformer per subword width, then a concat stage."""
    stages, cols = [], ["_tokens"]
    for n in range(2, clf.ngram_max + 1):
        stages.append(NGram(n=n, inputCol="_tokens", outputCol=f"_grams_{n}"))
        cols.append(f"_grams_{n}")
    for n in range(clf.char_ngram_min, clf.char_ngram_max + 1):
        stages.append(
            SQLTransformer(
                statement=(
                    "SELECT *, flatten(transform(_tokens, t -> transform("
                    f"sequence(1, greatest(length(t) + {3 - n}, 1)), i -> "
                    f"substring(concat('<', t, '>'), i, {n})))) AS _cgrams_{n} "
                    "FROM __THIS__"
                )
            )
        )
        cols.append(f"_cgrams_{n}")
    cols.append(f"coalesce({clf.extra_tokens_col}, array())")
    stages.append(
        SQLTransformer(
            statement=f"SELECT *, concat({', '.join(cols)}) AS _all_grams FROM __THIS__"
        )
    )
    return stages


GRAMS_CLF = NarrativeClassifier(
    ngram_max=3,
    char_ngram_min=2,
    char_ngram_max=4,
    num_features=1 << 12,
    max_iter=10,
    extra_tokens_col="side",
)


def test_fused_grams_equal_stock_chain(spark):
    texts = [
        "",
        "   ",
        "single",
        "two Words",
        "a bb ccc dddd eeeee ffffff",
        "Ⱟ Ꟁ 𐕰 ΟΔΟΣ café  naïve\tStraße\nİstanbul",
    ]
    sides = [None, ["x"], None, [], ["tag a", "b"], None]
    df = spark.createDataFrame(
        [(i, t, s) for i, (t, s) in enumerate(zip(texts, sides))],
        "id int, tr_description_clean string, side array<string>",
    )
    tokenizer, grams, _, _, _ = GRAMS_CLF._stages()
    fused = grams.transform(tokenizer.transform(df))
    stock = Pipeline(stages=[tokenizer, *_stock_gram_stages(GRAMS_CLF)]).fit(df)
    expected = stock.transform(df)
    got = {r.id: r._all_grams for r in fused.select("id", "_all_grams").collect()}
    want = {r.id: r._all_grams for r in expected.select("id", "_all_grams").collect()}
    assert got == want
    assert got[0] == [] and got[1] == ["x"]


def test_lr_coefficients_equal_stock_pipeline(labeled):
    """The five-stage model's LR is fitted on exactly the features and
    labels the stock-stage pipeline (NGram chain, StringIndexer inside)
    fits on: coefficients and intercepts are bit-identical."""
    even = F.length("tr_description_clean") % 2 == 0
    df = labeled.withColumn("side", F.when(even, F.array(F.lit("even"))))
    model = GRAMS_CLF.fit(df)
    tokenizer, _, tf, indexer, lr = GRAMS_CLF._stages()
    stock = Pipeline(
        stages=[tokenizer, *_stock_gram_stages(GRAMS_CLF), tf, indexer, lr]
    ).fit(df)
    got, want = model.pipeline_model.stages[3], stock.stages[-1]
    for attr in ("coefficientMatrix", "interceptVector"):
        assert np.array_equal(
            getattr(got, attr).toArray(), getattr(want, attr).toArray()
        )


@pytest.mark.parametrize("n", [1, 2, 3, 7, 30])
def test_percentile_matches_spark(spark, n):
    """The driver-side quantiles are Spark's `percentile`, bit for bit,
    ties included."""
    rng = random.Random(n)
    vals = [rng.randint(0, 6) / 7 for _ in range(n)]
    ps = [p for _, p in QUANTILES] + [0.0, 0.1, 1 / 3, 0.9, 1.0]
    row = (
        spark.createDataFrame([(v,) for v in vals], "x double")
        .agg(F.expr(f"percentile(x, array({', '.join(f'{p!r}D' for p in ps)}))"))
        .first()
    )
    assert [percentile(vals, p) for p in ps] == list(row[0])


def test_evaluate_per_class_matches_accuracy_report(spark):
    """per_class is accuracy_report's frame (columns, types, row order,
    null label first among ties); the summary matches Spark's avg and
    percentile over it."""
    rows = (
        [(3, 3)] * 4 + [(1, 1)] * 2 + [(2, 2), (2, 1), (2, 1)]
        + [(None, 1), (4, 1), (5, 5), (5, None)]
    )
    scored = spark.createDataFrame(rows, "label int, pred int")
    per_class, summary = evaluate_per_class(scored, "label", "pred")
    report = accuracy_report(scored, "label", "pred")
    assert per_class.schema == report.schema
    assert per_class.collect() == report.collect()
    assert [r.label for r in per_class.collect()] == [1, 3, 5, 2, None, 4]
    want = report.agg(
        F.avg("accuracy"),
        F.expr("percentile(accuracy, array(0.05, 0.25, 0.5, 0.75, 0.95))"),
    ).first()
    assert abs(summary["avg_acc"] - want[0]) <= 1e-12
    assert [summary[name] for name, _ in QUANTILES] == list(want[1])
    with pytest.raises(ValueError, match="no rows"):
        evaluate_per_class(scored.limit(0), "label", "pred")
