"""Streaming ANN serving (streaming/ann.py): a query stream scored
against a persisted PQ index must equal the batch pq_search exactly,
and a second pass must pick up an index extended between triggers."""

import os
import random
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from merchant_classification_spark.operators.similarity import (
    pq_encode,
    pq_fit,
    pq_search,
)
from merchant_classification_spark.streaming.ann import start_ann_stream

DIM = 16


def _vectors(spark, n, seed=11, id_start=0):
    rng = random.Random(seed)
    rows = [
        (
            id_start + i,
            [rng.uniform(-2.0, 2.0) for _ in range(DIM)],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_stream_matches_batch_and_sees_index_growth(spark, tmp_path):
    base = str(tmp_path)
    data_path = os.path.join(base, "corpus")
    index_path = os.path.join(base, "index")
    qsrc = os.path.join(base, "queries")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, f"ckpt-{uuid.uuid4().hex}")

    corpus = _vectors(spark, 300)
    corpus.write.mode("overwrite").parquet(data_path)
    kw = dict(n_centroids=4, n_subspaces=4, n_codes=8, fit_target=64)
    coarse, books = pq_fit(corpus, **kw)
    pq_encode(corpus, coarse, books).write.mode("overwrite").parquet(
        index_path
    )

    queries = _vectors(spark, 5, seed=99, id_start=10_000).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    queries.coalesce(1).write.mode("append").parquet(qsrc)

    stream = spark.readStream.schema(
        "query_id long, query_vec array<double>"
    ).parquet(qsrc)
    q = start_ann_stream(
        stream, index_path, data_path, coarse, books, out, ckpt,
        k=5, n_probe=2, refine_factor=4,
    )
    q.awaitTermination()

    want = pq_search(
        spark.read.parquet(index_path),
        spark.read.parquet(data_path),
        coarse,
        books,
        queries,
        k=5,
        n_probe=2,
        refine_factor=4,
    )
    got = spark.read.parquet(out).drop("batch_id")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    # crash-replay idempotence: re-running the SAME batch body against
    # the same batch_id overwrites its own partition instead of
    # appending duplicates (the at-least-once foreachBatch hazard)
    from merchant_classification_spark.streaming.ann import (
        score_queries_batch,
    )

    score_queries_batch(
        queries, index_path, data_path, coarse, books, out,
        batch_id=0, k=5, n_probe=2, refine_factor=4,
    )
    replayed = spark.read.parquet(out).drop("batch_id")
    assert sorted(map(tuple, replayed.collect())) == sorted(
        map(tuple, want.collect())
    )

    # the corpus and index GROW between triggers (backfill appended with
    # the same fitted quantizers); a new query batch must see them
    extra = _vectors(spark, 100, seed=33, id_start=500)
    extra.write.mode("append").parquet(data_path)
    pq_encode(extra, coarse, books).write.mode("append").parquet(index_path)
    q2_queries = _vectors(spark, 3, seed=77, id_start=20_000).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    q2_queries.coalesce(1).write.mode("append").parquet(qsrc)

    stream2 = spark.readStream.schema(
        "query_id long, query_vec array<double>"
    ).parquet(qsrc)
    q2 = start_ann_stream(
        stream2, index_path, data_path, coarse, books, out, ckpt,
        k=5, n_probe=2, refine_factor=4,
    )
    q2.awaitTermination()

    want2 = pq_search(
        spark.read.parquet(index_path),
        spark.read.parquet(data_path),
        coarse,
        books,
        q2_queries,
        k=5,
        n_probe=2,
        refine_factor=4,
    )
    got2 = spark.read.parquet(out).drop("batch_id")
    first = {tuple(r) for r in want.collect()}
    second = {tuple(r) for r in want2.collect()}
    assert {tuple(r) for r in got2.collect()} == first | second
    # the grown index actually matters: at least one batch-2 neighbor
    # comes from the appended id range
    assert any(500 <= r["vec_id"] < 10_000 for r in want2.collect())


def test_adc_only_serving_never_reads_corpus(spark, tmp_path):
    base = str(tmp_path)
    index_path = os.path.join(base, "index")
    qsrc = os.path.join(base, "queries")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, f"ckpt-{uuid.uuid4().hex}")

    corpus = _vectors(spark, 200)
    kw = dict(n_centroids=4, n_subspaces=4, n_codes=8, fit_target=64)
    coarse, books = pq_fit(corpus, **kw)
    pq_encode(corpus, coarse, books).write.mode("overwrite").parquet(
        index_path
    )
    queries = _vectors(spark, 4, seed=5, id_start=30_000).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    queries.coalesce(1).write.mode("append").parquet(qsrc)

    stream = spark.readStream.schema(
        "query_id long, query_vec array<double>"
    ).parquet(qsrc)
    # data_path=None: ADC-only serving — no raw corpus anywhere
    q = start_ann_stream(
        stream, index_path, None, coarse, books, out, ckpt,
        k=5, n_probe=2, refine_factor=None,
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 4 * 5
    assert set(got.columns) == {
        "query_id", "vec_id", "adc_d2", "rank", "batch_id",
    }


def test_continuous_trigger_serves_batches_as_they_arrive(spark, tmp_path):
    """The trigger_once=False path — a processingTime micro-batch
    server: query files that arrive AFTER the stream starts must be
    scored in later triggers of the SAME running query, each batch in
    its own batch_id partition."""
    import time

    base = str(tmp_path)
    index_path = os.path.join(base, "index")
    qsrc = os.path.join(base, "queries")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, f"ckpt-{uuid.uuid4().hex}")

    corpus = _vectors(spark, 200)
    kw = dict(n_centroids=4, n_subspaces=4, n_codes=8, fit_target=64)
    coarse, books = pq_fit(corpus, **kw)
    pq_encode(corpus, coarse, books).write.mode("overwrite").parquet(
        index_path
    )
    q1 = _vectors(spark, 3, seed=5, id_start=40_000).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    q1.coalesce(1).write.mode("append").parquet(qsrc)

    stream = spark.readStream.schema(
        "query_id long, query_vec array<double>"
    ).parquet(qsrc)
    q = start_ann_stream(
        stream, index_path, None, coarse, books, out, ckpt,
        k=5, n_probe=2, refine_factor=None, trigger_once=False,
    )
    try:
        def rows_in(path):
            # a failed sink surfaces its own error, not a timeout
            if q.exception() is not None:
                raise q.exception()
            try:
                return spark.read.parquet(path).count()
            except AnalysisException as e:
                # no committed output yet: the path is missing, or the
                # first write holds only its _temporary directory
                if e.getCondition() in (
                    "PATH_NOT_FOUND",
                    "UNABLE_TO_INFER_SCHEMA",
                ):
                    return 0
                raise

        deadline = time.time() + 60
        while rows_in(out) < 3 * 5 and time.time() < deadline:
            time.sleep(1)
        assert rows_in(out) == 3 * 5, "first batch never served"

        # a second query batch arrives while the server keeps running
        q2 = _vectors(spark, 2, seed=6, id_start=50_000).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        q2.coalesce(1).write.mode("append").parquet(qsrc)
        while rows_in(out) < 5 * 5 and time.time() < deadline:
            time.sleep(1)
        assert rows_in(out) == 5 * 5, "second batch never served"
    finally:
        q.stop()

    got = spark.read.parquet(out)
    # each trigger wrote its own batch_id partition
    assert got.select("batch_id").distinct().count() >= 2
    # and the served output matches the batch pq_search exactly
    want = pq_search(
        spark.read.parquet(index_path), corpus.limit(0), coarse, books,
        q1.unionByName(q2), k=5, n_probe=2, refine_factor=None,
    )
    assert sorted(map(tuple, got.drop("batch_id").collect())) == sorted(
        map(tuple, want.collect())
    )


def test_cached_serving_survives_index_file_deletion(spark, tmp_path):
    """The steady-state posture: ServingIndex pins the index + refine
    corpus at load; triggers after that must NOT touch the files. The
    strongest possible proof — DELETE the parquet directories after
    load and serve two batches anyway, bit-equal to the pre-deletion
    batch search."""
    import shutil

    from merchant_classification_spark.streaming.ann import (
        ServingIndex,
        score_queries_batch,
    )

    base = str(tmp_path)
    data_path = os.path.join(base, "corpus")
    index_path = os.path.join(base, "index")
    out = os.path.join(base, "out")

    corpus = _vectors(spark, 300)
    corpus.write.mode("overwrite").parquet(data_path)
    kw = dict(n_centroids=4, n_subspaces=4, n_codes=8, fit_target=64)
    coarse, books = pq_fit(corpus, **kw)
    pq_encode(corpus, coarse, books).write.mode("overwrite").parquet(
        index_path
    )
    queries = _vectors(spark, 5, seed=99, id_start=10_000).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    want = sorted(
        map(
            tuple,
            pq_search(
                spark.read.parquet(index_path),
                spark.read.parquet(data_path),
                coarse, books, queries, k=5, n_probe=2, refine_factor=4,
            ).collect(),
        )
    )

    idx = ServingIndex(spark, index_path, data_path)
    idx.index(), idx.data()  # eager pin — the one file scan
    shutil.rmtree(index_path)
    shutil.rmtree(data_path)
    for bid in (0, 1):
        score_queries_batch(
            queries, index_path, data_path, coarse, books, out,
            batch_id=bid, k=5, n_probe=2, refine_factor=4,
            serving_index=idx,
        )
    got = spark.read.parquet(out)
    for bid in (0, 1):
        assert (
            sorted(
                map(
                    tuple,
                    got.where(F.col("batch_id") == bid)
                    .drop("batch_id")
                    .collect(),
                )
            )
            == want
        ), f"batch {bid} re-scanned files or diverged"
    idx.close()


def test_refresh_picks_up_appended_partition(spark, tmp_path):
    """pq_index_append lands a delta as its own batch_id partition;
    the serving cache keeps the old version until the EXPLICIT
    refresh() — then the appended vectors are served."""
    from merchant_classification_spark.operators.similarity import (
        pq_index_append,
        pq_index_write,
        read_pq_index,
    )
    from merchant_classification_spark.streaming.ann import ServingIndex

    base = str(tmp_path)
    index_path = os.path.join(base, "index")
    corpus = _vectors(spark, 200)
    kw = dict(n_centroids=4, n_subspaces=4, n_codes=8, fit_target=64)
    coarse, books = pq_fit(corpus, **kw)
    pq_index_write(pq_encode(corpus, coarse, books), index_path, batch_id=0)

    idx = ServingIndex(spark, index_path)
    n0 = idx.index().count()
    assert n0 == 200

    delta = _vectors(spark, 50, seed=7, id_start=1_000)
    pq_index_append(delta, coarse, books, index_path, batch_id=1)
    # consistent-version serving: the cache still holds the old index
    assert idx.index().count() == 200
    idx.refresh()
    assert idx.index().count() == 250
    # the merged layout carries exactly the delta ids
    ids = {r["vec_id"] for r in read_pq_index(spark, index_path).collect()}
    assert ids == set(range(200)) | set(range(1_000, 1_050))
    idx.close()


def test_index_ingest_stream_matches_full_encode_and_refreshes_server(
    spark, tmp_path
):
    """start_index_ingest: vectors streaming in land as their own
    batch_id partitions (checkpointed id = partition key, replay-safe),
    the merged layout is row-identical to a one-shot encode of
    everything ingested, and a wired ServingIndex sees each append
    without restart (refresh-on-append)."""
    from merchant_classification_spark.operators.similarity import (
        pq_encode,
        read_pq_index,
    )
    from merchant_classification_spark.streaming.ann import (
        ServingIndex,
        start_index_ingest,
    )

    base = str(tmp_path)
    index_path = os.path.join(base, "index")
    vsrc = os.path.join(base, "vectors")
    ckpt = os.path.join(base, f"ckpt-{uuid.uuid4().hex}")

    corpus = _vectors(spark, 200)
    kw = dict(n_centroids=4, n_subspaces=4, n_codes=8, fit_target=64)
    coarse, books = pq_fit(corpus, **kw)

    first = _vectors(spark, 120)
    first.coalesce(1).write.mode("append").parquet(vsrc)
    serving = ServingIndex(spark, index_path)

    def ingest():
        stream = spark.readStream.schema(
            "vec_id long, embedding array<double>"
        ).parquet(vsrc)
        start_index_ingest(
            stream, index_path, coarse, books, ckpt,
            serving_index=serving,
        ).awaitTermination()

    ingest()
    assert serving.index().count() == 120

    second = _vectors(spark, 80, seed=21, id_start=5_000)
    second.coalesce(1).write.mode("append").parquet(vsrc)
    ingest()
    assert serving.index().count() == 200  # refresh-on-append, no restart

    merged = {
        r["vec_id"]: (r["cell"], list(r["codes"]))
        for r in read_pq_index(spark, index_path).collect()
    }
    full = {
        r["vec_id"]: (r["cell"], list(r["codes"]))
        for r in pq_encode(
            first.unionByName(second), coarse, books
        ).collect()
    }
    assert merged == full
    serving.close()


def test_cache_data_knob_controls_corpus_pinning(spark, tmp_path):
    """cache_data=False keeps the refine corpus un-pinned (the large-
    corpus posture: fresh scan per trigger / ADC-only serving); the
    index itself is always pinned — it is the 32x-compressed side."""
    from merchant_classification_spark.streaming.ann import ServingIndex

    base = str(tmp_path)
    data_path = os.path.join(base, "corpus")
    index_path = os.path.join(base, "index")
    corpus = _vectors(spark, 100)
    corpus.write.mode("overwrite").parquet(data_path)
    kw = dict(n_centroids=4, n_subspaces=4, n_codes=8, fit_target=64)
    coarse, books = pq_fit(corpus, **kw)
    pq_encode(corpus, coarse, books).write.mode("overwrite").parquet(
        index_path
    )
    pinned = ServingIndex(spark, index_path, data_path).load()
    assert pinned.index().storageLevel.useMemory
    assert pinned.data().storageLevel.useMemory
    pinned.close()
    lazy = ServingIndex(
        spark, index_path, data_path, cache_data=False
    ).load()
    assert lazy.index().storageLevel.useMemory
    assert not lazy.data().storageLevel.useMemory
    lazy.close()
