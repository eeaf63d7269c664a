"""Operators that persist internally must not leak cached blocks.

Round-2 verdict: the MinHash pair operator / `ngram_jaccard_pairs` left
`.persist(MEMORY_AND_DISK)` frames cached forever, so any pipeline
composing them accumulated blocks until memory pressure. The operators now
eagerly snapshot their (small) outputs and release every internal persist
before returning; these tests pin that contract.

`localCheckpoint` snapshot blocks (RDD-level, owned by the returned frame)
are NOT persistent-cache leaks — they are released by the context cleaner
when the result goes out of scope — so the assertion here is specifically
that across an operator call the *persistent RDD registry*
(`getPersistentRDDs`) gains at most the ONE snapshot block owned by the
returned frame — with the old leaky behavior each call added 2-3 extra
internal persists (signature base, prefix postings) that nothing could
ever release.
"""

from __future__ import annotations

import pytest


def persistent_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return set(jmap.keySet().toArray())


@pytest.fixture()
def docs(tables):
    return tables["documents"].select("doc_id", "text")


def test_minhash_pairs_release_all_persists(spark, docs):
    from merchant_classification_spark.operators.dedup import minhash_dedup_pairs

    before = persistent_rdd_ids(spark)
    out = minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.6)
    assert out.count() >= 0
    gained = persistent_rdd_ids(spark) - before
    assert len(gained) <= 1, (
        f"minhash_dedup_pairs leaked internal persists: {gained}"
    )


def test_ngram_jaccard_releases_all_persists(spark, docs):
    from merchant_classification_spark.operators.dedup import ngram_jaccard_pairs

    before = persistent_rdd_ids(spark)
    out = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.6, max_df=50)
    assert out.count() >= 0
    gained = persistent_rdd_ids(spark) - before
    assert len(gained) <= 1, (
        f"ngram_jaccard_pairs leaked internal persists: {gained}"
    )


def test_assign_representatives_releases_loop_persists(spark, docs):
    from merchant_classification_spark.operators.dedup import assign_representatives

    ids = docs.select("doc_id")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    before = persistent_rdd_ids(spark)
    out = assign_representatives(ids, pairs)
    assert out.count() == ids.count()
    gained = persistent_rdd_ids(spark) - before
    assert len(gained) <= 1, (
        f"assign_representatives leaked loop persists: {gained}"
    )


def test_corpus_pipeline_leaves_registry_clean(spark, docs):
    """End-to-end composition (gates → scrub → dedup ladder → split):
    after forcing both output splits, no operator-internal persist
    remains registered."""
    from merchant_classification_spark.pipelines.corpus import prepare_corpus

    before = persistent_rdd_ids(spark)
    clean, report = prepare_corpus(docs, text_col="text", id_col="doc_id", seed=7)
    assert clean.count() >= 0
    gained = persistent_rdd_ids(spark) - before
    # the pipeline composes several snapshotting operators; each may own
    # ONE live snapshot for its still-referenced result, nothing more
    assert len(gained) <= 3, f"corpus pipeline leaked persisted RDDs: {gained}"


def test_remove_boilerplate_releases_all_persists(spark, docs):
    from merchant_classification_spark.operators.dedup import remove_boilerplate

    before = persistent_rdd_ids(spark)
    out = remove_boilerplate(docs, "doc_id", "text", span_tokens=3, min_docs=3)
    assert out.count() >= 0
    gained = persistent_rdd_ids(spark) - before
    assert len(gained) <= 1, (
        f"remove_boilerplate leaked internal persists: {gained}"
    )


def test_semantic_dedup_releases_all_persists(spark, tables):
    from merchant_classification_spark.operators.similarity import (
        semantic_dedup_portable,
    )

    before = persistent_rdd_ids(spark)
    out = semantic_dedup_portable(
        tables["embeddings"], threshold=0.4, n_centroids=8
    )
    assert out.count() >= 0
    gained = persistent_rdd_ids(spark) - before
    assert len(gained) <= 1, (
        f"semantic_dedup_portable leaked internal persists: {gained}"
    )
