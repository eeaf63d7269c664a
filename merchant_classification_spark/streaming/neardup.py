"""Streaming NEAR-duplicate detection — MinHash dedup-on-ingest.

``streaming/dedup.py`` drops exact/fingerprint duplicates with bounded
state; this module answers the harder ingest question an LLM-corpus
pipeline actually has: "is this incoming document a near-copy of
ANYTHING already accepted into the corpus?" — at any corpus age, not
just within a watermark horizon.

Shape: a ``foreachBatch`` pipeline over two append-only parquet stores,

  * band store  (doc_id, band, band_hash)  — the corpus's LSH index
  * doc store   (doc_id, shh)              — hashed shingle sets for the
                                             exact-Jaccard verify

Per micro-batch:
  1. signature + band hashes for the incoming docs (the same seeded
     ``_minhash_base``/``lsh_band_hashes`` chain as the batch operator,
     so batch backfill and streaming ingest agree on what "near-dup"
     means);
  2. candidates = incoming bands ⋈ band store on (band, band_hash) —
     the corpus side is touched ONLY on band-hash matches, never
     scanned per document;
  3. exact Jaccard verify against the doc store; matches ≥ threshold are
     appended to ``<store>/dupes`` (new_id, matched_id, jaccard_sim,
     batch_id);
  4. batch-INTERNAL near-dups via the batch operator (first doc in id
     order wins);
  5. only accepted (non-duplicate) docs append their bands/shingles to
     the stores — the index stays canonical.

Scale: the stores are partitioned append-only parquet; the per-batch
join shuffles (band, band_hash) keys only — uniform, self-salting. At
cluster scale point the stores at object storage (or Delta for
compaction); the logic is unchanged. State here is the CORPUS index —
deliberately unbounded, unlike the watermark-bounded exact dedup; that
is the operator's contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from merchant_classification_spark.operators.dedup import (
    _minhash_base,
    jaccard,
    lsh_band_hashes,
    minhash_dedup_pairs,
)

_BANDS_DIR = "bands"
_DOCS_DIR = "docs"
_DUPES_DIR = "dupes"


def _store(path: str, sub: str) -> str:
    return os.path.join(path, sub)


def neardup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """foreachBatch body: verify the incoming docs against the corpus
    index, record near-dups, and admit the survivors.

    Returns ``(accepted, dupes)`` — accepted (doc_id) rows and the
    (doc_id, matched_id, jaccard_sim, batch_id) verdicts — already
    materialized (the stores are appended before returning), so batch
    callers can read them without re-running the joins.

    Called directly it is the batch backfill against the persisted
    corpus index, with the same store contract as
    :func:`start_neardup_ingest`, so re-running dedup over a grown corpus
    never recomputes the corpus side: the existing index contributes a
    parquet scan of its (band, band_hash) rows into the candidate join
    plus (shh) rows for the Jaccard verify of actual candidates — no
    re-shingling, no re-signing, no corpus×corpus stage. Survivors
    append to the index, keeping it canonical for the next shard
    (streaming and batch shards interleave freely).

    Equivalence contract (test-asserted): with shard ids greater than
    every indexed id (the natural append-only id discipline), the
    admitted set equals re-running ``minhash_dedup_pairs`` +
    drop-greatest over (indexed corpus ∪ shard). Greater-id shards make
    the union rerun's drop-greatest always drop the shard side of a
    cross pair, which is the only resolution an incremental path can
    implement (the corpus is already admitted)."""
    spark = batch_df.sparkSession
    rows_per_band = num_hashes // bands

    base = _minhash_base(batch_df, id_col, text_col, shingle_size, num_hashes)
    base = base.localCheckpoint(eager=True)  # one pass over the batch text
    new_bands = base.select(
        "doc_id",
        F.posexplode(lsh_band_hashes("sig", bands, rows_per_band)).alias(
            "band", "band_hash"
        ),
    )

    dupes = None
    bands_path = _store(store_path, _BANDS_DIR)
    docs_path = _store(store_path, _DOCS_DIR)
    if os.path.exists(bands_path):
        corpus_bands = spark.read.parquet(bands_path)
        corpus_docs = spark.read.parquet(docs_path)
        cand = (
            new_bands.join(
                corpus_bands.withColumnRenamed("doc_id", "matched_id"),
                ["band", "band_hash"],
            )
            .select("doc_id", "matched_id")
            .dropDuplicates(["doc_id", "matched_id"])
        )
        dupes = (
            cand.join(base.select("doc_id", "shh"), "doc_id")
            .join(
                corpus_docs.select(
                    F.col("doc_id").alias("matched_id"),
                    F.col("shh").alias("shh_m"),
                ),
                "matched_id",
            )
            .withColumn("jaccard_sim", jaccard("shh", "shh_m"))
            .where(F.col("jaccard_sim") >= threshold)
            .select("doc_id", "matched_id", "jaccard_sim")
        )

    # batch-internal near-dups: lowest doc_id in a pair is the keeper
    internal = minhash_dedup_pairs(
        batch_df,
        id_col,
        text_col,
        threshold=threshold,
        shingle_size=shingle_size,
        num_hashes=num_hashes,
        bands=bands,
    ).select(
        F.col("id_b").alias("doc_id"),
        F.col("id_a").alias("matched_id"),
        "jaccard_sim",
    )
    dupes = internal if dupes is None else dupes.unionByName(internal)
    dupes = (
        dupes.dropDuplicates(["doc_id"])
        .withColumn("batch_id", F.lit(batch_id))
        .localCheckpoint(eager=True)  # cut lineage before the stores change
    )

    dup_ids = dupes.select("doc_id")
    accepted = base.join(dup_ids, "doc_id", "left_anti")
    accepted.select(
        "doc_id",
        F.posexplode(lsh_band_hashes("sig", bands, rows_per_band)).alias(
            "band", "band_hash"
        ),
    ).write.mode("append").parquet(bands_path)
    accepted.select("doc_id", "shh").write.mode("append").parquet(docs_path)
    dupes.write.mode("append").parquet(_store(store_path, _DUPES_DIR))
    return accepted.select("doc_id"), dupes


def start_neardup_ingest(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
):
    """Wire an incoming document stream into the near-dup ingest.

    Returns the StreamingQuery; near-dup verdicts land in
    ``<store>/dupes``, the admitted corpus index in ``<store>/bands`` +
    ``<store>/docs``.
    """

    def body(batch_df: DataFrame, batch_id: int) -> None:
        neardup_ingest_batch(
            batch_df,
            batch_id,
            store_path,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            shingle_size=shingle_size,
            num_hashes=num_hashes,
            bands=bands,
        )

    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
