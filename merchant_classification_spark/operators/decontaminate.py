"""Train/eval n-gram decontamination — LLM-training-data hygiene.

The standard pre-training hygiene step (popularized by the GPT-3 paper's
13-gram eval-overlap filter): any training document sharing at least one
word n-gram with a held-out evaluation set is flagged (and typically
dropped) so downstream eval numbers aren't inflated by memorized leakage.

The reference repo has no equivalent (it is a classification pipeline);
this operator belongs to the engine's beyond-reference corpus toolkit
alongside `operators/dedup.py`.

Scale shape (the 100 TB story):
  * each side is reduced to DISTINCT word n-grams per document map-side
    (split → slice → concat_ws → array_distinct), so the shuffle carries
    one row per distinct gram, never per token;
  * grams are equi-join keys — one hash shuffle on the gram string (or
    its xxhash64 when `hash_grams`), no cross product anywhere;
  * the eval side is usually tiny (benchmarks, test sets) and gets
    `F.broadcast`, making the whole operator a map-side semi-join over
    the training corpus;
  * output is per-document overlap counts, so the final aggregate
    shuffles (doc_id) — bounded by the contaminated subset only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_ngrams(text_col: Column | str, n: int) -> Column:
    """Distinct space-joined word n-grams (array<string>) of a text column.

    Documents with fewer than ``n`` whitespace tokens produce an empty
    array — too short to carry an n-gram, hence never contaminated.
    The token array is bound through a one-element-array lambda so it is
    tokenized once per row, not once per gram position (the Catalyst
    higher-order-function inlining trap — see `dedup.shingles`).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col

    def grams(t: Column) -> Column:
        k = F.size(t) - (n - 1)
        return F.when(k >= 1, F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            )
        )).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(F.split(c, " ")), grams), 1)


def ngram_overlap_report(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    broadcast_eval: bool = True,
    hash_grams: bool = False,
) -> DataFrame:
    """Per-training-document eval-overlap counts.

    Returns (id_col, n_overlap) for every training document that shares
    ≥1 distinct word ``n``-gram with ANY eval document; clean documents
    are absent. ``n_overlap`` counts the document's distinct
    contaminated grams — a leakage-severity signal (1 shared 5-gram is
    usually a collision; 50 means the eval answer is verbatim inside).

    ``hash_grams=True`` joins on xxhash64(gram) instead of the gram
    string — 8-byte shuffle keys instead of ~6-word strings; the
    standard trade at corpus scale (a 64-bit collision flags one extra
    doc, it never unflags one).
    """
    key = (
        (lambda c: F.xxhash64(c)) if hash_grams else (lambda c: c)
    )
    t_grams = train.select(
        F.col(id_col),
        F.explode(word_ngrams(text_col, n)).alias("gram"),
    ).select(id_col, key(F.col("gram")).alias("gram"))
    e_grams = (
        eval_df.select(F.explode(word_ngrams(text_col, n)).alias("gram"))
        .select(key(F.col("gram")).alias("gram"))
        .distinct()
    )
    if broadcast_eval:
        e_grams = F.broadcast(e_grams)
    return (
        t_grams.join(e_grams, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    broadcast_eval: bool = True,
    hash_grams: bool = True,
) -> DataFrame:
    """Drop every training document sharing an ``n``-gram with the eval
    set; returns the surviving training rows (all original columns).

    Left-anti join on the flagged ids — one extra shuffle on ``id_col``
    bounded by the contaminated subset.
    """
    flagged = ngram_overlap_report(
        train,
        eval_df,
        id_col,
        text_col,
        n=n,
        broadcast_eval=broadcast_eval,
        hash_grams=hash_grams,
    ).select(id_col)
    return train.join(flagged, id_col, "left_anti")


def remove_contaminated_spans(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    pad: int = 2,
    min_fragment_tokens: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Contamination REMOVAL (GPT-3 Appendix C): instead of dropping a
    flagged document wholesale, excise a ±``pad``-token window around
    every eval-colliding ``n``-gram and keep the clean FRAGMENTS — the
    surgical variant that preserves the bulk of a long document whose
    tail quotes a benchmark answer.

    Tokens here are raw whitespace splits (the same unit
    :func:`ngram_overlap_report` joins on). Fragments shorter than
    ``min_fragment_tokens`` are dropped; documents with no collision
    pass through whole as fragment 1.

    Scale shape: eval grams broadcast (tiny by nature); the positional
    gram scan over training is map-only; ONLY contaminated documents —
    a sparse subset by construction — are exploded to token level for
    the interval anti-join and the islands regroup, so the extra
    shuffle volume is bounded by contamination, not corpus size. The
    islands step is the classic gap-and-island window
    (pos − row_number), exactly SQL-replayable.

    Returns (doc_id, frag_id, n_frag_tokens, fragment) with frag_id
    1-based in document order.
    """
    if n <= 0 or pad < 0:
        raise ValueError("n must be positive and pad non-negative")
    from pyspark.sql import Window

    base = train.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.coalesce(F.col(text_col).cast("string"), F.lit("")), " ").alias(
            "t"
        ),
    ).withColumn("nt", F.size("t"))

    def pos_grams(df: DataFrame) -> DataFrame:
        g = df.where(F.col("nt") >= n).select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.col("nt") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, n)),
                )
            ).alias("gp0", "gram"),
        )
        return g.select("doc_id", (F.col("gp0") + 1).alias("gpos"), "gram")

    e_base = eval_df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.coalesce(F.col(text_col).cast("string"), F.lit("")), " ").alias(
            "t"
        ),
    ).withColumn("nt", F.size("t"))
    e_grams = pos_grams(e_base).select("gram").distinct()
    if broadcast_eval:
        e_grams = F.broadcast(e_grams)

    dirty = pos_grams(base).join(e_grams, "gram").select("doc_id", "gpos")
    ivs = dirty.select(
        "doc_id",
        F.greatest(F.col("gpos") - pad, F.lit(1)).alias("lo"),
        (F.col("gpos") + (n - 1) + pad).alias("hi"),
    )
    cont_ids = ivs.select("doc_id").distinct()

    # untouched documents: one whole fragment, no token explode
    clean_whole = base.join(cont_ids, "doc_id", "left_anti").select(
        "doc_id",
        F.lit(1).alias("frag_id"),
        F.col("nt").alias("n_frag_tokens"),
        F.array_join("t", " ").alias("fragment"),
    )

    toks = base.join(cont_ids, "doc_id", "left_semi").select(
        "doc_id",
        F.posexplode("t").alias("p0", "token"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "token")
    # rename the interval side's id: both frames share lineage, and a
    # toks.doc_id == ivs.doc_id condition resolves to a trivially-true
    # self-comparison (Spark warns and may mis-resolve)
    ivs_r = ivs.select(
        F.col("doc_id").alias("_iv_doc"), "lo", "hi"
    )
    clean_pos = toks.join(
        ivs_r,
        on=[
            F.col("doc_id") == F.col("_iv_doc"),
            F.col("pos") >= F.col("lo"),
            F.col("pos") <= F.col("hi"),
        ],
        how="left_anti",
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = clean_pos.withColumn(
        "island", F.col("pos") - F.row_number().over(w)
    )
    frags = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("mp"),
        F.count(F.lit(1)).cast("int").alias("n_frag_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda x: x["token"],
            ),
            " ",
        ).alias("fragment"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("mp")
    scrubbed = frags.select(
        "doc_id",
        F.row_number().over(w_doc).alias("frag_id"),
        "n_frag_tokens",
        "fragment",
    )
    return clean_whole.unionByName(scrubbed).where(
        F.col("n_frag_tokens") >= min_fragment_tokens
    )
