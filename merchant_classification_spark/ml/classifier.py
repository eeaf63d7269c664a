"""Text classifier with fasttext-equivalent semantics, MLlib-native.

The reference trains a fasttext supervised model — hashed bag of word
n-grams into a linear softmax (Joulin et al. 2016, "Bag of Tricks for
Efficient Text Classification") — as single-node C++ called from the
driver, exchanging models through the shared filesystem
(reference 02_merchcat_ml.py:64-83, utils/merchcat_utils.py:30-54 —
SURVEY.md §2.11 M1). This engine expresses the same model family as a
distributed MLlib pipeline of five fitted stages:

    RegexTokenizer → SQLTransformer(word + char n-grams, concat) →
    HashingTF(bucket) → LogisticRegression(multinomial) → IndexToString

fasttext's `bucket` (2,000,000 in the reference, 02_merchcat_ml.py:77)
maps to HashingTF `numFeatures`; `wordNgrams` to the n-gram range, built
with NGram's semantics from native higher-order functions in the one SQL
stage; the softmax layer to multinomial logistic regression.

The StringIndexer that maps labels to LR's class indices is fitted and
applied to the training frame only. Its labels ride in IndexToString, so
scoring needs no label column: a row whose label is null or was not a
training class is scored like any other, never dropped. The tokenizer
stays a RegexTokenizer: its Java `toLowerCase` differs from SQL `lower()`
on some non-ASCII letters, so an SQL tokenizer would change the features.

Parity is judged on metric equivalence (accuracy distribution), not
per-prediction identity — the hash families differ (SURVEY.md §4.3).

Scoring is `PipelineModel.transform` — pure JVM, distributed, no pyfunc
spark_udf round-trip and no shared-filesystem model hack
(replaces 02_merchcat_ml.py:506-513 — SURVEY.md §2.11 M7).

`NarrativeClassifierModel.save` writes the stock `PipelineModel`
directory layout from the driver with no Spark job (the stock writer
runs one single-task job per file: 7 for a few KB of JSON and one
parquet row). Metadata comes from the public JVM Param API, the LR
`data` row from pyarrow with PySpark's `VectorUDT`/`MatrixUDT`
encodings, and each file is created through the session's Hadoop
`FileSystem`; stock `PipelineModel.load` reads it unchanged.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.ml import PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import (
    HashingTF,
    IndexToString,
    RegexTokenizer,
    SQLTransformer,
    StringIndexer,
)
from pyspark.ml.linalg import MatrixUDT, VectorUDT
from pyspark.sql import DataFrame
from pyspark.sql.types import BooleanType, IntegerType, StructField, StructType


@dataclass
class NarrativeClassifier:
    """Supervised short-text classifier (label <- cleaned narrative).

    Parameters mirror the reference's tuning space
    (02_merchcat_ml.py:305-323): `ngram_max` = wordNgrams, `num_features`
    = bucket, `max_iter` ≈ epochs, `reg_param` ≈ lr-complement.
    """

    text_col: str = "tr_description_clean"
    label_col: str = "tr_merchant"
    prediction_col: str = "pr_merchant"
    ngram_max: int = 2
    num_features: int = 1 << 18
    max_iter: int = 50
    reg_param: float = 0.0
    elastic_net: float = 0.0
    #: fasttext subword range (minn/maxn, 02_merchcat_ml.py tuning
    #: space): per-token character n-grams over '<'+token+'>' (the
    #: boundary markers distinguish prefixes/suffixes, as in fasttext).
    #: 0/0 disables. Subwords are what make truncated or partially
    #: OCR'd merchant mentions ("star nort coff" vs "star north
    #: coffee") share features — word n-grams alone treat them as
    #: disjoint vocabularies.
    char_ngram_min: int = 0
    char_ngram_max: int = 0
    #: name of a PRE-COMPUTED array<string> token column to hash into
    #: the same feature space (e.g. fitted BPE segments from
    #: functions/bpe.bpe_segment, domain tags). The column must be
    #: present on every DataFrame passed to fit() AND transform() —
    #: the pipeline consumes it, it does not compute it (a corpus-fitted
    #: vocabulary is data, not a serializable stage).
    extra_tokens_col: str | None = None

    def _stages(self):
        tokenizer = RegexTokenizer(
            inputCol=self.text_col,
            outputCol="_tokens",
            pattern=r"\s+",
            toLowercase=True,
        )
        gram_cols = ["_tokens"]
        for n in range(2, self.ngram_max + 1):
            # NGram(n) semantics: every window of n consecutive tokens
            # joined by ' ', none when the row has fewer than n tokens
            gram_cols.append(
                f"CASE WHEN size(_tokens) >= {n} THEN transform(sequence(1, "
                f"size(_tokens) - {n - 1}), i -> array_join(slice(_tokens, "
                f"i, {n}), ' ')) ELSE array() END"
            )
        if self.char_ngram_max:
            if not (1 <= self.char_ngram_min <= self.char_ngram_max):
                raise ValueError(
                    "char_ngram range must satisfy 1 <= min <= max"
                )
            # one expression per subword width. A token shorter than the
            # padded width contributes its whole '<token>' once (fasttext
            # keeps short subwords the same way).
            for n in range(self.char_ngram_min, self.char_ngram_max + 1):
                gram_cols.append(
                    "flatten(transform(_tokens, t -> transform(sequence(1, "
                    f"greatest(length(t) + {3 - n}, 1)), i -> substring("
                    f"concat('<', t, '>'), i, {n}))))"
                )
        if self.extra_tokens_col:
            # NULL-proof: concat() returns NULL if ANY operand is NULL,
            # which would crash HashingTF downstream — a row with no
            # extra tokens contributes an empty array instead
            gram_cols.append(
                f"coalesce({self.extra_tokens_col}, array())"
            )
        # every n-gram family in one statement of native higher-order
        # functions, so the fitted PipelineModel stays a stock MLlib
        # pipeline (serializable, JVM-side scoring)
        grams = SQLTransformer(
            statement=(
                "SELECT *, concat(" + ", ".join(gram_cols) + ") AS _all_grams "
                "FROM __THIS__"
            )
        )
        tf = HashingTF(
            inputCol="_all_grams",
            outputCol="_features",
            numFeatures=self.num_features,
        )
        indexer = StringIndexer(
            inputCol=self.label_col, outputCol="_label_idx", handleInvalid="skip"
        )
        lr = LogisticRegression(
            featuresCol="_features",
            labelCol="_label_idx",
            predictionCol="_pred_idx",
            family="multinomial",
            maxIter=self.max_iter,
            regParam=self.reg_param,
            elasticNetParam=self.elastic_net,
        )
        return tokenizer, grams, tf, indexer, lr

    def fit(self, train: DataFrame) -> "NarrativeClassifierModel":
        tokenizer, grams, tf, indexer, lr = self._stages()
        # the indexer only labels the training frame: inside the scoring
        # pipeline its handleInvalid="skip" would drop every row whose
        # label is null or unseen
        indexer_model = indexer.fit(train)
        if not indexer_model.labels:
            raise ValueError(
                f"no training rows with a label in {self.label_col!r}"
            )
        featurize = PipelineModel(stages=[tokenizer, grams, tf])
        lr_model = lr.fit(featurize.transform(indexer_model.transform(train)))
        decode = IndexToString(
            inputCol="_pred_idx",
            outputCol=self.prediction_col,
            labels=indexer_model.labels,
        )
        model = PipelineModel(stages=[*featurize.stages, lr_model, decode])
        _strip_training_summaries(model)
        return NarrativeClassifierModel(model, self)


def _strip_training_summaries(pipeline_model: PipelineModel) -> None:
    """Drop fitted stages' training summaries before the model is used.

    A training summary (e.g. LogisticRegression's) holds a SparkSession
    reference; any task closure capturing the model then serializes the
    session — which fails outright once the session's lazily-created
    ObservationManager exists (not Serializable in Spark 4.1), and would
    ship driver state to executors even when it doesn't. Scoring never
    reads the summary, so the engine clears it at fit time; callers who
    want training diagnostics use ml/evaluate.py, which recomputes them
    from DataFrames.
    """
    jvm = SparkContext._active_spark_context._jvm
    for stage in pipeline_model.stages:
        jobj = getattr(stage, "_java_obj", None)
        if (
            jobj is not None
            and hasattr(jobj, "setSummary")
            and getattr(stage, "hasSummary", False)
        ):
            jobj.setSummary(jvm.scala.Option.empty())


# `_label_idx`, `_grams_*` and `_cgrams_*` are emitted only by models
# saved with the earlier seven-stage layout, which still load
_INTERNAL_COLS = ("_tokens", "_all_grams", "_features", "_label_idx", "_pred_idx")


class NarrativeClassifierModel:
    """Fitted model; `transform` appends `prediction_col` (string label)."""

    def __init__(self, pipeline_model: PipelineModel, spec: NarrativeClassifier):
        self.pipeline_model = pipeline_model
        self.spec = spec

    def transform(self, df: DataFrame) -> DataFrame:
        out = self.pipeline_model.transform(df)
        drop = [
            c
            for c in out.columns
            if c in _INTERNAL_COLS
            or c.startswith("_grams_")
            or c.startswith("_cgrams_")
            or c in ("rawPrediction", "probability")
        ]
        return out.drop(*drop)

    def save(self, path: str) -> None:
        """Write the stock `PipelineModel` layout to `path`, replacing it,
        from the driver with no Spark job:

            metadata/part-00000                    pipeline: stageUids
            stages/{i}_{uid}/metadata/part-00000   one per stage
            stages/{i}_{uid}/data/part-00000.snappy.parquet   LR only

        with `{i}` zero-padded to the digits of the stage count. Stock
        `PipelineModel.load` and `NarrativeClassifierModel.load` read it.
        RegexTokenizer, SQLTransformer, HashingTF, IndexToString and the
        legacy NGram are metadata-only; the LogisticRegressionModel adds
        its `data` row. Any other stage (a seven-stage model's
        StringIndexerModel: it loads and scores, but is not re-saved)
        raises `ValueError` before anything is written.
        """
        stages = self.pipeline_model.stages
        classes = [stage._java_obj.getClass().getName() for stage in stages]
        for cls in classes:
            if cls.rsplit(".", 1)[1] not in _WRITABLE_STAGES:
                raise ValueError(f"cannot save a pipeline stage of class {cls}")
        sc = SparkContext._active_spark_context
        uids = json.dumps([stage.uid for stage in stages], separators=(",", ":"))
        files = {
            "metadata/part-00000": _metadata_line(
                sc, "org.apache.spark.ml.PipelineModel", self.pipeline_model.uid,
                f'{{"stageUids":{uids}}}', "{}",
            )
        }
        width = len(str(len(stages)))
        for i, (stage, cls) in enumerate(zip(stages, classes)):
            stage_dir = f"stages/{i:0{width}d}_{stage.uid}"
            stage._transfer_params_to_java()
            files[f"{stage_dir}/metadata/part-00000"] = _metadata_line(
                sc, cls, stage.uid, *_param_maps(stage._java_obj)
            )
            if cls.endswith(".LogisticRegressionModel"):
                files[f"{stage_dir}/data/part-00000.snappy.parquet"] = (
                    _lr_data_parquet(stage)
                )
        fs_path = sc._jvm.org.apache.hadoop.fs.Path
        root = fs_path(path)
        fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
        fs.delete(root, True)
        for rel, data in files.items():
            out = fs.create(fs_path(root, rel))
            try:
                out.write(data)
            finally:
                out.close()

    @classmethod
    def load(cls, path: str, spec: NarrativeClassifier | None = None):
        return cls(PipelineModel.load(path), spec or NarrativeClassifier())


# stages `save` can write, by Java class name; only the LR model has data
_WRITABLE_STAGES = {
    "RegexTokenizer", "SQLTransformer", "HashingTF", "IndexToString", "NGram",
    "LogisticRegressionModel",
}

# LogisticRegressionModel's `data` row, as its stock writer declares it
_LR_DATA_SCHEMA = StructType(
    [
        StructField("numClasses", IntegerType(), False),
        StructField("numFeatures", IntegerType(), False),
        StructField("interceptVector", VectorUDT(), True),
        StructField("coefficientMatrix", MatrixUDT(), True),
        StructField("isMultinomial", BooleanType(), False),
    ]
)


def _metadata_line(sc, cls: str, uid: str, params: str, defaults: str) -> bytes:
    """One stock metadata file: a compact JSON line. `params` and
    `defaults` are JSON objects already rendered."""
    head = json.dumps(
        {"class": cls, "timestamp": int(time.time() * 1000),
         "sparkVersion": sc.version, "uid": uid},
        separators=(",", ":"),
    )
    line = f'{head[:-1]},"paramMap":{params},"defaultParamMap":{defaults}}}'
    return (line + "\n").encode()


def _param_maps(jobj) -> tuple[str, str]:
    """The Java stage's set and default params as two JSON objects, each
    value rendered by its own `Param.jsonEncode`."""
    explicit, defaults = [], []
    for param in jobj.params():
        name = json.dumps(param.name())
        if jobj.isSet(param):
            explicit.append(f"{name}:{param.jsonEncode(jobj.getOrDefault(param))}")
        if jobj.hasDefault(param):
            value = jobj.getDefault(param).get()
            defaults.append(f"{name}:{param.jsonEncode(value)}")
    return "{" + ",".join(explicit) + "}", "{" + ",".join(defaults) + "}"


def _lr_data_parquet(lr_model) -> bytes:
    """The LogisticRegressionModel's one `data` row as snappy parquet
    bytes. The Catalyst schema rides in the footer under Spark's row
    metadata key, so `spark.read.parquet` sees the vector and matrix
    UDT columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    num_classes = lr_model.numClasses
    row = {
        "numClasses": num_classes,
        "numFeatures": lr_model.numFeatures,
        "interceptVector": VectorUDT().serialize(lr_model.interceptVector),
        "coefficientMatrix": MatrixUDT().serialize(lr_model.coefficientMatrix),
        "isMultinomial": lr_model.getFamily() == "multinomial" or num_classes > 2,
    }
    table = pa.Table.from_pylist(
        [row], schema=to_arrow_schema(_LR_DATA_SCHEMA)
    ).replace_schema_metadata(
        {"org.apache.spark.sql.parquet.row.metadata": _LR_DATA_SCHEMA.json()}
    )
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf, compression="snappy")
    return buf.getvalue().to_pybytes()
