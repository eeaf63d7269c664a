"""Tests for operators/decontaminate.py — n-gram train/eval overlap."""

import pytest
from pyspark.sql import functions as F

from merchant_classification_spark.operators.decontaminate import (
    decontaminate,
    ngram_overlap_report,
    word_ngrams,
)


def _docs(spark):
    rows = [
        # doc 1 contains eval doc 100's exact 4-gram "the cat sat down"
        (1, "today the cat sat down on the mat"),
        # doc 2 shares words but no 4-gram
        (2, "the cat stood up on the mat"),
        # doc 3 is a verbatim copy of the eval doc (max overlap)
        (3, "the cat sat down quietly"),
        # doc 4 too short to carry a 4-gram
        (4, "tiny doc"),
        (100, "the cat sat down quietly"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_word_ngrams_basic(spark):
    df = spark.createDataFrame([(1, "a b c d e")], ["i", "t"])
    got = df.select(word_ngrams("t", 3).alias("g")).head()["g"]
    assert got == ["a b c", "b c d", "c d e"]


def test_word_ngrams_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "")], ["i", "t"])
    got = [r["g"] for r in df.select(word_ngrams("t", 3).alias("g")).collect()]
    assert got == [[], []]


def test_word_ngrams_dedups_repeats(spark):
    df = spark.createDataFrame([(1, "x y x y x y")], ["i", "t"])
    got = df.select(word_ngrams("t", 2).alias("g")).head()["g"]
    assert sorted(got) == ["x y", "y x"]


def test_overlap_report_flags_expected_docs(spark):
    docs = _docs(spark)
    ev = docs.where(F.col("doc_id") == 100)
    tr = docs.where(F.col("doc_id") != 100)
    got = {
        r["doc_id"]: r["n_overlap"]
        for r in ngram_overlap_report(tr, ev, "doc_id", "text", n=4).collect()
    }
    # doc 1 shares exactly one 4-gram; doc 3 shares both of the eval
    # doc's 4-grams; docs 2 and 4 are clean
    assert got == {1: 1, 3: 2}


def test_hashed_grams_equivalent(spark):
    docs = _docs(spark)
    ev = docs.where(F.col("doc_id") == 100)
    tr = docs.where(F.col("doc_id") != 100)
    plain = ngram_overlap_report(
        tr, ev, "doc_id", "text", n=4, hash_grams=False
    ).collect()
    hashed = ngram_overlap_report(
        tr, ev, "doc_id", "text", n=4, hash_grams=True
    ).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, hashed))


def test_decontaminate_drops_flagged_keeps_rest(spark):
    docs = _docs(spark)
    ev = docs.where(F.col("doc_id") == 100)
    tr = docs.where(F.col("doc_id") != 100)
    kept = decontaminate(tr, ev, "doc_id", "text", n=4)
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 4]
    # all original columns survive
    assert kept.columns == tr.columns


def test_no_eval_overlap_keeps_everything(spark):
    docs = _docs(spark)
    ev = spark.createDataFrame([(0, "completely different words here")],
                               ["doc_id", "text"])
    tr = docs
    assert decontaminate(tr, ev, "doc_id", "text", n=4).count() == docs.count()


@pytest.mark.parametrize("n", [2, 5])
def test_overlap_report_no_python_stage(spark, n):
    docs = _docs(spark)
    ev = docs.where(F.col("doc_id") == 100)
    tr = docs.where(F.col("doc_id") != 100)
    plan = (
        ngram_overlap_report(tr, ev, "doc_id", "text", n=n)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan  # pure JVM — no UDF fallback anywhere


def test_remove_contaminated_spans_semantics(spark):
    from merchant_classification_spark.operators.decontaminate import (
        remove_contaminated_spans,
    )

    leak = "what is the capital of france"  # 6 tokens, n=3 grams collide
    train = spark.createDataFrame(
        [
            # leak in the middle: prefix and suffix survive as fragments
            (0, "alpha beta gamma delta " + leak + " omega sigma tau pi"),
            # fully clean doc passes through whole
            (1, "one two three four five six"),
            # doc that IS the leak (plus padding): scrubbed to nothing
            (2, "x " + leak + " y"),
        ],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame([(100, leak)], ["doc_id", "text"])
    got = remove_contaminated_spans(
        train, eval_df, "doc_id", "text", n=3, pad=1, min_fragment_tokens=2
    ).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 0: the leak ±1 token is excised; two clean fragments remain
    f0 = sorted(by_doc[0], key=lambda r: r.frag_id)
    assert [r.fragment for r in f0] == ["alpha beta gamma", "sigma tau pi"]
    assert [r.frag_id for r in f0] == [1, 2]
    # doc 1 untouched, one whole fragment
    assert [r.fragment for r in by_doc[1]] == ["one two three four five six"]
    # doc 2 entirely contaminated: nothing survives
    assert 2 not in by_doc


def test_remove_contaminated_spans_no_eval_overlap(spark):
    from merchant_classification_spark.operators.decontaminate import (
        remove_contaminated_spans,
    )

    train = spark.createDataFrame([(0, "a b c d e")], ["doc_id", "text"])
    eval_df = spark.createDataFrame([(1, "x y z w v")], ["doc_id", "text"])
    got = remove_contaminated_spans(
        train, eval_df, "doc_id", "text", n=3, pad=0
    ).collect()
    assert len(got) == 1 and got[0].fragment == "a b c d e"
    assert got[0].n_frag_tokens == 5 and got[0].frag_id == 1
