"""Near-dup-on-ingest: batch-internal and cross-batch corpus matching."""

import uuid

import pytest
from pyspark.sql import functions as F

from merchant_classification_spark.streaming.neardup import (
    neardup_ingest_batch,
    start_neardup_ingest,
)

DOC = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep green forest to hide from every hunter"
)
NEAR = DOC.replace("green", "dark")  # one token changed -> high jaccard
OTHER = (
    "completely different subject matter about spark query engines and "
    "columnar execution with vectorized readers and shuffle services"
)


def _df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture()
def store(tmp_path):
    return str(tmp_path / "neardup_store")


def test_cross_batch_neardup(spark, store):
    # batch 0: two unique docs + one internal near-dup of doc 1
    neardup_ingest_batch(
        _df(spark, [(1, DOC), (2, OTHER), (3, NEAR)]), 0, store, threshold=0.5
    )
    dupes0 = spark.read.parquet(f"{store}/dupes")
    assert {r.doc_id for r in dupes0.collect()} == {3}  # 3 ~ 1, internal
    admitted = {r.doc_id for r in spark.read.parquet(f"{store}/docs").collect()}
    assert admitted == {1, 2}

    # batch 1: a near-copy of corpus doc 1, and a fresh doc
    fresh = "entirely novel text with tokens shared with nothing else at all"
    neardup_ingest_batch(
        _df(spark, [(10, DOC + " extra"), (11, fresh)]), 1, store, threshold=0.5
    )
    dupes = spark.read.parquet(f"{store}/dupes")
    row = dupes.where(F.col("doc_id") == 10).collect()
    assert len(row) == 1 and row[0].matched_id == 1 and row[0].batch_id == 1
    admitted = {r.doc_id for r in spark.read.parquet(f"{store}/docs").collect()}
    assert admitted == {1, 2, 11}

    # idempotent contract: the index never contains a flagged doc's bands
    bands_ids = {r.doc_id for r in spark.read.parquet(f"{store}/bands").collect()}
    assert bands_ids == {1, 2, 11}


def test_incremental_neardup_matches_union_rerun(spark, store):
    """Batch backfill equivalence: admitting a new shard against the
    persisted index yields EXACTLY the admitted set of re-running the
    full pairwise dedup over (indexed corpus ∪ shard) — including
    transitive chains and shard-internal dups — without touching the
    corpus text again."""
    from merchant_classification_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    third = (
        "a third completely unrelated piece about cooking pasta with "
        "tomatoes garlic basil and olive oil in a large heavy pot"
    )
    corpus_rows = [(1, DOC), (2, OTHER), (3, NEAR), (4, third)]
    # shard ids all greater than corpus ids (append-only discipline);
    # 10 ~ corpus 1, 12 ~ 10 (shard-internal chain), 11/13 fresh-ish
    shard_rows = [
        (10, DOC + " extra"),
        (11, "entirely novel text with tokens shared with nothing at all"),
        (12, DOC + " extra bonus"),
        (13, third.replace("basil", "pepper")),
    ]
    admitted0, _ = neardup_ingest_batch(
        _df(spark, corpus_rows), 0, store, threshold=0.5
    )
    indexed = {r.doc_id for r in admitted0.collect()}
    assert indexed == {1, 2, 4}  # 3 is an internal near-dup of 1

    admitted1, dupes1 = neardup_ingest_batch(
        _df(spark, shard_rows), 1, store, threshold=0.5
    )
    incr = indexed | {r.doc_id for r in admitted1.collect()}

    # full rerun over indexed-corpus ∪ shard with the corpus pipeline's
    # drop-greatest rule
    union = _df(
        spark,
        [r for r in corpus_rows if r[0] in indexed] + shard_rows,
    )
    pairs = minhash_dedup_pairs(union, "doc_id", "text", threshold=0.5)
    drops = {
        max(r.id_a, r.id_b) for r in pairs.collect()
    }
    full = {r[0] for r in union.collect()} - drops
    assert incr == full

    # the index after the shard equals the admitted set (canonical)
    stored = {r.doc_id for r in spark.read.parquet(f"{store}/docs").collect()}
    assert stored == incr
    # verdicts carry one valid witness per rejected doc: 10 and 13
    # match their corpus twins; 12 may cite either its corpus twin (1)
    # or its shard twin (10) — both are true near-dup witnesses
    verd = dict(
        (r.doc_id, r.matched_id) for r in dupes1.collect()
    )
    assert verd[10] == 1 and verd[13] == 4 and verd[12] in (1, 10)


def test_streaming_wrapper(spark, store, tmp_path):
    src = str(tmp_path / "src")
    _df(spark, [(1, DOC), (2, OTHER)]).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = start_neardup_ingest(
        stream,
        store,
        checkpoint=str(tmp_path / f"ckpt-{uuid.uuid4().hex[:6]}"),
        threshold=0.5,
    )
    q.processAllAvailable()
    q.stop()
    admitted = {r.doc_id for r in spark.read.parquet(f"{store}/docs").collect()}
    assert admitted == {1, 2}
