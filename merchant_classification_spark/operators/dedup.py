"""Deduplication operators for 100 TB training-data pipelines.

Four families, cheapest to most semantic:

  * exact        — hash groupBy on the raw content (one shuffle)
  * fingerprint  — groupBy on a canonical token-set fingerprint (one shuffle)
  * MinHash+LSH  — shingle → minhash signature → banded bucket join →
                   exact-Jaccard verify (near-duplicates)
  * SimHash      — 64-bit sign-of-weighted-bit-sums signature; Hamming-ball
                   candidates via band buckets

Everything is native DataFrame code (higher-order functions + hashing);
there is no Python in any hot path. Scale shape: signatures are computed
map-side (no shuffle); candidate generation shuffles only (band_hash) keys,
which are near-uniform by construction — LSH is self-salting. The verify
stage re-joins shingle sets only for candidate pairs (tiny vs n²).

MinHash and SimHash hash with the engine-portable md5 construction
(``functions/portable_hash.py``): an external SQL oracle replays signatures,
banding and verify bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from merchant_classification_spark.functions.literals import sql_lit
from merchant_classification_spark.functions.text_analysis import tokens


# ---------------------------------------------------------------------------
# exact + fingerprint dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """One row per distinct content: keeper id (min) + duplicate count.

    Scale: a single hash aggregate; with very long content, pre-hash with
    ``xxhash64(content)`` + a 128-bit md5 tiebreak to shrink shuffle bytes.
    """
    return (
        df.groupBy(*content_cols)
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("keep_id", "dup_count")
    )


def fingerprint_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Dedup on the order/repetition-invariant token-set fingerprint."""
    from merchant_classification_spark.functions.text_analysis import fingerprint

    return (
        df.withColumn("fp", fingerprint(text_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


# ---------------------------------------------------------------------------
# corpus-level boilerplate (C4-style repeated-span) removal
# ---------------------------------------------------------------------------


def span_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 5,
) -> DataFrame:
    """One row per (doc, span): fixed non-overlapping ``span_tokens``-token
    segments of each document, in order.

    Corpus boilerplate removal (C4 §2.1-style: drop any line occurring
    verbatim in ≥ N documents) needs a segmentation unit. Real corpora
    use newline/sentence boundaries; when the text has none (token
    streams, OCR output), a fixed-width token grid is the standard
    fallback — deterministic, alignment-stable under edits only past the
    edit point, and exactly replayable in any engine. Zero-token
    documents produce no spans.

    Scale: map-only (tokenize once per row, slice per span, one
    posexplode) — embarrassingly parallel, no shuffle.

    Returns (doc_id, pos, span).
    """
    if span_tokens <= 0:
        raise ValueError("span_tokens must be positive")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.element_at(F.array(tokens(text_col)), 1).alias("t"),
    ).withColumn("n_tokens", F.size("t"))
    return base.where(F.col("n_tokens") > 0).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0), F.expr(f"(n_tokens - 1) DIV {span_tokens}")
                ),
                lambda i: F.array_join(
                    F.slice(F.col("t"), i * span_tokens + 1, span_tokens), " "
                ),
            )
        ).alias("pos", "span"),
    )


def remove_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-level boilerplate scrub: drop every span that occurs
    verbatim in ≥ ``min_docs`` DISTINCT documents, then reassemble each
    document from its surviving spans in order.

    This is the C4 pipeline's repeated-line filter (policies, cookie
    banners, navigation chrome repeat across pages; prose doesn't),
    generalized to the fixed-span segmentation of :func:`span_table`.
    Repeats *within* one document don't count toward the threshold —
    intra-doc repetition is a quality signal, not boilerplate.

    Plan shape (100 TB): the span-frequency aggregate shuffles only
    ``(span_key, doc_id)`` pairs — the key is the portable 60-bit md5
    of the span, ~16 bytes/row instead of the span text (collision odds
    n²/2^61: at 10^9 distinct spans, ~0.4 expected false merges —
    negligible for a frequency filter, and the oracle replays the same
    hash, so grading is exact). The boilerplate key set (frequency ≥
    min_docs) is a tiny fraction of distinct spans, so AQE broadcasts
    the anti-join; the reassembly is one shuffle on doc_id. Nothing
    leaves whole-stage codegen.

    Returns (doc_id, clean_text, n_spans, n_removed) — one row per input
    document, including documents scrubbed to emptiness (clean_text '')
    and zero-token documents (n_spans 0).
    """
    if min_docs <= 0:
        raise ValueError("min_docs must be positive")
    from pyspark.storagelevel import StorageLevel

    from merchant_classification_spark.functions.portable_hash import md5_long60

    # the span table feeds THREE plan branches (frequency agg, anti-join
    # left side, per-doc span counts); persist it so the tokenize+slice
    # kernel — the expensive map stage — runs ONCE (the module's standard
    # materialize/release contract; lazy, this measured ~2.5x slower)
    spans = (
        span_table(df, id_col, text_col, span_tokens)
        .withColumn("k", md5_long60(F.col("span")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        boiler = (
            spans.groupBy("k")
            .agg(F.countDistinct("doc_id").alias("df_docs"))
            .where(F.col("df_docs") >= min_docs)
            .select("k")
        )
        rebuilt = (
            spans.join(boiler, "k", "left_anti")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "span"))),
                        lambda x: x["span"],
                    ),
                    " ",
                ).alias("clean_text"),
            )
        )
        # span counts come from the persisted table (max pos + 1), not a
        # third tokenizer pass; zero-token docs (no spans) fill in as 0
        counts = spans.groupBy("doc_id").agg(
            (F.max("pos") + 1).cast("int").alias("n_spans")
        )
        out = (
            df.select(F.col(id_col).alias("doc_id"))
            .join(counts, "doc_id", "left")
            .join(rebuilt, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
                (
                    F.coalesce("n_spans", F.lit(0))
                    - F.coalesce("n_kept", F.lit(0))
                )
                .cast("int")
                .alias("n_removed"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        spans.unpersist(blocking=False)


# ---------------------------------------------------------------------------
# shingling + MinHash
# ---------------------------------------------------------------------------


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the text (array<string>).

    Texts shorter than n tokens contribute their full token string as the
    single shingle so they can still be compared.

    The token array is bound through a one-element-array lambda so it is
    evaluated ONCE per row: naively referencing ``tokens(col)`` inside the
    position lambda makes Catalyst inline the whole tokenizer expression
    at every use site — O(positions) re-tokenizations, ~30x slower.
    """

    def grams(t: Column) -> Column:
        k = F.size(t) - (n - 1)
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            )
        )

    return F.element_at(F.transform(F.array(tokens(col)), grams), 1)


def lsh_band_hashes(
    sig_col: Column | str, bands: int, rows_per_band: int
) -> Column:
    """Per-band join key over the signature (array of length `bands`).
    Two docs sharing ANY band key are candidates;
    P(candidate) ≈ 1-(1-j^r)^b for Jaccard j.

    The key is the ':'-joined decimal band slice — no further hashing, so
    an external SQL engine reproduces it exactly and bucket collisions
    are impossible.
    """
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.concat_ws(
            ":",
            F.transform(
                F.slice(sig, b * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            ),
        ),
    )


def jaccard(a: Column | str, b: Column | str) -> Column:
    """Exact Jaccard similarity of two string-array columns (double)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    inter = F.size(F.array_intersect(ca, cb)).cast("double")
    union = F.size(F.array_union(ca, cb)).cast("double")
    return F.when(union == 0.0, F.lit(0.0)).otherwise(inter / union)


def _minhash_base(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int,
    num_hashes: int,
) -> DataFrame:
    """(doc_id, shh: array<long>, sig: array<long>) projection.

    Shingles are immediately hashed to longs: all downstream work
    (signatures, verify-Jaccard) runs on 8-byte values instead of
    strings — cheaper to hash, shuffle, and intersect. Collisions of
    distinct shingles (~1e-10 at corpus scale for the 60-bit md5 prefix)
    are the accepted epsilon — the oracle hashes identically, so they
    cannot cause a verification mismatch.

    The signature is Broder's construction, two-level: each shingle is
    hashed once, then the k "permutations" (exact universal hashing mod
    2^31−1) transform that base value and each index keeps the min.
    """
    from merchant_classification_spark.functions.portable_hash import (
        md5_long60,
        minhash_sig_md5,
    )

    base = df.select(
        F.col(id_col).alias("doc_id"),
        shingles(text_col, shingle_size).alias("sh"),
    )
    return base.select(
        "doc_id", F.transform("sh", md5_long60).alias("shh")
    ).withColumn("sig", minhash_sig_md5("shh", num_hashes))


def _minhash_pair_ids(
    base: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """Candidate (id_a < id_b) pairs from the banded LSH self-join.

    Moves ONLY (doc_id, band, band_hash) through the shuffle — carrying
    the shingle arrays through the banded self-join multiplies shuffle
    bytes by `bands` and dominates the runtime; the arrays are re-joined
    once per surviving pair side instead. Band hashes are uniform, so the
    shuffle has no skew; the explode factor is `bands`, constant.
    """
    banded = base.select(
        "doc_id",
        F.posexplode(lsh_band_hashes("sig", bands, rows_per_band)).alias(
            "band", "band_hash"
        ),
    )
    left = banded.select(F.col("doc_id").alias("id_a"), "band", "band_hash")
    right = banded.select(F.col("doc_id").alias("id_b"), "band", "band_hash")
    return (
        left.join(right, ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def _attach_shingles(pair_ids: DataFrame, base: DataFrame) -> DataFrame:
    sh_a = base.select(F.col("doc_id").alias("id_a"), F.col("shh").alias("sh_a"))
    sh_b = base.select(F.col("doc_id").alias("id_b"), F.col("shh").alias("sh_b"))
    return pair_ids.join(sh_a, "id_a").join(sh_b, "id_b")


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int | None = None,
) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates filtered by EXACT
    n-gram Jaccard ≥ threshold → (id_a, id_b, jaccard_sim).

    Plan shape: map-side signature + band hashes → explode bands (b rows
    per doc) → shuffle on band_hash → self-join within buckets → distinct
    pairs → both shingle sets re-joined for the exact verify.

    ``bands=None`` (default) derives the banding from
    :func:`lsh_params` at the verify ``threshold`` with ``fn_weight=2``
    (dedup biases toward recall: a missed duplicate leaks, a false
    candidate is merely verified away). The S-curve solver
    centers the collision curve on the threshold instead of whatever a
    hardcoded banding happens to target: at sf1/t=0.8 the solver's 7×9
    measured 7.6 s median vs 9.2 s for the legacy 16×4 with 99.5% of
    its verified pairs (16×4 over-collides at low similarity — its
    curve centers near s≈0.5 — and pays the banding shuffle 16/7≈2.3×;
    `SCALING.md`). Passing ``bands`` explicitly keeps the legacy
    ``num_hashes // bands`` rows split.

    The shared signature projection is persisted (it feeds the banding
    plus both verify join sides — recomputing the tokenizer+hash chain
    per branch measured ~3x the query), the verified (id_a, id_b,
    jaccard_sim) triples are snapshotted with
    ``localCheckpoint(eager=True)``, and the persisted input is
    RELEASED before returning — composing pipelines never accumulate
    cached blocks.
    """
    from pyspark.storagelevel import StorageLevel

    if bands is None:
        bands, rows_per_band = lsh_params(threshold, num_hashes, 2.0)
    else:
        rows_per_band = num_hashes // bands
    base = _minhash_base(df, id_col, text_col, shingle_size, num_hashes)

    def verified(b: DataFrame) -> DataFrame:
        pairs = _attach_shingles(_minhash_pair_ids(b, bands, rows_per_band), b)
        return (
            pairs.withColumn("jaccard_sim", jaccard("sh_a", "sh_b"))
            .where(F.col("jaccard_sim") >= threshold)
            .select("id_a", "id_b", "jaccard_sim")
        )

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return verified(base).localCheckpoint(eager=True)
    finally:
        base.unpersist(blocking=False)


def dup_pair_source_matrix(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    source_col: str,
    sim_col: str = "jaccard_sim",
) -> DataFrame:
    """Cross-source duplication matrix: which corpus sources duplicate
    which — the standard contamination/provenance readout run after any
    near-dup pass (e.g. RefinedWeb/FineWeb report cross-snapshot and
    cross-domain duplicate rates before choosing what to drop).

    ``pairs`` is any verified pair table (``minhash_dedup_pairs``,
    ``simhash_dedup_pairs``, ...: columns id_a, id_b + a similarity);
    each pair is attributed to the UNORDERED source pair of its two
    documents (least/greatest normalization, so (web,books) and
    (books,web) land in one cell). Per cell: pair count and the
    min/max similarity — deliberately NOT the mean, whose float
    summation order would depend on shuffle layout; min/max are
    order-insensitive and bit-exact in any engine.

    Attribution semantics (explicit, so a provenance readout can't be
    silently misread): NULL sources are coalesced to the sentinel
    ``'unknown'`` BEFORE least/greatest, so pairs touching an
    unsourced document still count (NULL would otherwise poison the
    cell key and vanish from least/greatest). The id→source joins are
    INNER: a pair whose id_a/id_b is absent from ``df`` is dropped —
    by construction pairs come from the same corpus so nothing drops
    in normal use, but if you pass a FILTERED ``df`` the matrix counts
    only pairs with both endpoints present (total of ``n_pairs`` <
    ``pairs.count()`` is the tell).

    Scale shape: the pair table is tiny next to the corpus, so the two
    id→source joins broadcast the PAIRS side naturally under AQE (or
    shuffle on id — still |pairs|-sized); one hash aggregate on at most
    |sources|² cells. Returns (source_lo, source_hi, n_pairs, min_sim,
    max_sim) ordered by the cell key.
    """
    src = df.select(
        F.col(id_col),
        F.coalesce(F.col(source_col), F.lit("unknown")).alias(source_col),
    )
    out = (
        pairs.join(
            src.select(
                F.col(id_col).alias("id_a"), F.col(source_col).alias("_sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col(id_col).alias("id_b"), F.col(source_col).alias("_sb")
            ),
            "id_b",
        )
        .select(
            F.least("_sa", "_sb").alias("source_lo"),
            F.greatest("_sa", "_sb").alias("source_hi"),
            F.col(sim_col).alias("_sim"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("_sim").alias("min_sim"),
            F.max("_sim").alias("max_sim"),
        )
        .orderBy("source_lo", "source_hi")
    )
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_size: int = 3,
    max_df: int = 1000,
    prefix_filter: bool = True,
) -> DataFrame:
    """EXACT n-gram Jaccard ≥ threshold pairs via inverted-index join with
    PPJoin-style prefix filtering (Chaudhuri/Xiao et al.): each doc posts
    only its ``|sh| - ceil(t*|sh|) + 1`` globally-rarest shingles. Any
    pair with Jaccard ≥ t must share a prefix shingle (sorted-merge
    argument over a global shingle order), so the pruning is LOSSLESS —
    output is identical to the naive any-shared-shingle join, but the
    candidate count drops by ~(1/(1-t))² on common-vocabulary corpora.

    `max_df` additionally drops stopword-phrases entirely (this one is
    lossy for pairs whose ONLY shared shingles are ultra-frequent — the
    search-engine tradeoff; set None to disable).

    Scale: candidate generation and pair dedup shuffle (long, long) ids
    only; the full shingle arrays are re-joined once per surviving pair
    for the exact verify. The prefix is selected with a window
    ``row_number`` over (df_count, shingle) — constant memory per row, no
    per-doc posting-array buffering, so a pathological multi-MB document
    cannot blow an aggregation buffer. Internal persists are released
    before returning (same eager contract as ``minhash_dedup_pairs``).
    """
    from pyspark.sql.window import Window
    from pyspark.storagelevel import StorageLevel

    # shingles hashed to longs up front (see _minhash_base);
    # persisted: feeds the inverted index, the df-frequency agg, the
    # prefix ordering, and both verify sides
    base = (
        df.select(
            F.col(id_col).alias("doc_id"),
            shingles(text_col, shingle_size).alias("sh"),
        )
        .select("doc_id", F.transform("sh", lambda s: F.xxhash64(s)).alias("shh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    inv_full = None
    try:
        inv = base.select("doc_id", F.explode("shh").alias("shingle"))
        freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_count"))
        if max_df is not None:
            freq = freq.where(F.col("df_count") <= max_df)
        inv = inv.join(freq, "shingle")
        if prefix_filter:
            # global canonical order = (df, shingle); keep each doc's first
            # floor((1-t)*n)+1 postings in that order, where n = the doc's
            # post-max_df posting count. One shuffle on doc_id; streaming
            # window evaluation, no collect_list buffer.
            w_doc = Window.partitionBy("doc_id").orderBy("df_count", "shingle")
            w_all = Window.partitionBy("doc_id")
            inv = (
                inv.withColumn("rn", F.row_number().over(w_doc))
                .withColumn("n_post", F.count(F.lit(1)).over(w_all))
                .where(
                    F.col("rn")
                    <= F.floor((1.0 - threshold) * F.col("n_post")).cast("int") + 1
                )
                .select("doc_id", "shingle")
            )
        # persist the prefix postings: both sides of the candidate
        # self-join consume them, and without this the whole
        # shingle→df→window chain above executes twice (measured ~2x)
        sizes = base.select("doc_id", F.size("shh").alias("sz"))
        inv_full = inv.join(sizes, "doc_id").persist(StorageLevel.MEMORY_AND_DISK)
        # PPJoin length filter (lossless): Jaccard >= t forces
        # t*|A| <= |B| and t*|B| <= |A|; TRUE set sizes from `base`, not the
        # post-max_df sizes, so no qualifying pair can be pruned
        l = inv_full.select(
            F.col("doc_id").alias("id_a"), "shingle", F.col("sz").alias("sz_a")
        )
        r = inv_full.select(
            F.col("doc_id").alias("id_b"), "shingle", F.col("sz").alias("sz_b")
        )
        pair_ids = (
            l.join(r, "shingle")
            .where(
                (F.col("id_a") < F.col("id_b"))
                & (F.col("sz_b") >= threshold * F.col("sz_a"))
                & (F.col("sz_a") >= threshold * F.col("sz_b"))
            )
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        sh_a = base.select(F.col("doc_id").alias("id_a"), F.col("shh").alias("sh_a"))
        sh_b = base.select(F.col("doc_id").alias("id_b"), F.col("shh").alias("sh_b"))
        out = (
            pair_ids.join(sh_a, "id_a")
            .join(sh_b, "id_b")
            .withColumn("jaccard_sim", jaccard("sh_a", "sh_b"))
            .where(F.col("jaccard_sim") >= threshold)
            .select("id_a", "id_b", "jaccard_sim")
        )
        return out.localCheckpoint(eager=True)
    finally:
        base.unpersist(blocking=False)
        if inv_full is not None:
            inv_full.unpersist(blocking=False)


# ---------------------------------------------------------------------------
# winnowing document fingerprints (rolling k-gram hash + window minima)
# ---------------------------------------------------------------------------


#: Rabin–Karp parameters for the winnowing k-gram hash. The 54-bit mask
#: keeps every intermediate below 2^63 (acc < 2^54, ×257 < 2^62.1, plus a
#: code point < 2^62.2), so the arithmetic is exact — no overflow, no
#: ANSI trap — in Spark longs, DuckDB BIGINTs, and Python ints alike.
WINNOW_BASE = 257
WINNOW_MASK = (1 << 54) - 1


def winnow_fingerprints(col: Column | str, k: int = 8, w: int = 4) -> Column:
    """Winnowing fingerprint set of the text (array<long>), per
    Schleimer/Wilkerson/Aiken's MOSS algorithm: hash every character
    k-gram (a rolling window over the raw text, robust to token-boundary
    edits), then keep the minimum hash of every w-consecutive-hash
    window. Guarantees: any shared substring of length >= k + w - 1
    yields at least one shared fingerprint, and no gap between selected
    positions exceeds w — the standard local sampling bound.

    The k-gram hash is the polynomial rolling-hash family the MOSS paper
    itself prescribes: fold the k code points as
    ``acc = (acc·257 + code) & (2^54 − 1)``. Engine-portable THREE ways
    (Spark longs / DuckDB BIGINT + ord / Python ints — code points agree
    across all of them, unicode included, see tests). Local wall time
    matches the earlier per-position md5 kernel (the interpreted HOF
    evaluation dominates either hash), but fingerprints are now 8-byte
    longs instead of 16-char hex strings — half the posting-list shuffle
    bytes in ``winnow_pairs``, the part that grows with corpus size. The
    code-point array is computed ONCE per row (bound through a one-
    element-array lambda), then every gram is eight ``element_at`` folds.

    Texts shorter than k chars contribute the fold of all their code
    points as their single fingerprint (empty text folds to 0); texts
    with fewer than w k-grams contribute the min of what they have.
    Map-only — no shuffle; at 100 TB the cost is one scan and the output
    is a bounded ~n/w sample of each doc's grams.
    """
    s = F.col(col) if isinstance(col, str) else col
    base = F.lit(WINNOW_BASE).cast("long")
    mask = F.lit(WINNOW_MASK).cast("long")

    def gram_at(cs: Column, i: Column) -> Column:
        acc = F.element_at(cs, i).cast("long")
        for j in range(1, k):
            acc = (acc * base + F.element_at(cs, i + j)).bitwiseAND(mask)
        return acc

    def hashes(t: Column) -> Column:
        n = F.length(t)
        codes = F.transform(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda p: F.ascii(t.substr(p, F.lit(1))).cast("long"),
        )

        def from_codes(cs: Column) -> Column:
            whole = F.aggregate(
                F.when(n == 0, F.array().cast("array<long>")).otherwise(cs),
                F.lit(0).cast("long"),
                lambda a, c: (a * base + c).bitwiseAND(mask),
            )
            return F.when(
                n >= k,
                F.transform(
                    F.sequence(F.lit(1), n - (k - 1)),
                    lambda i: gram_at(cs, i),
                ),
            ).otherwise(F.array(whole))

        return F.element_at(F.transform(F.array(codes), from_codes), 1)

    def minima(hs: Column) -> Column:
        m = F.size(hs)
        return F.when(
            m >= w,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), m - (w - 1)),
                    lambda j: F.array_min(F.slice(hs, j, w)),
                )
            ),
        ).otherwise(F.array(F.array_min(hs)))

    hs = F.element_at(F.transform(F.array(s), hashes), 1)
    return F.element_at(F.transform(F.array(hs), minima), 1)


def winnow_fingerprint_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    kernel: str = "native",
) -> DataFrame:
    """Exploded winnowing fingerprints — one row per (doc_id, fp) — with
    a choice of kernel:

      * ``kernel="native"`` — the :func:`winnow_fingerprints` expression
        (whole plan stays JVM-side; the default everywhere).
      * ``kernel="arrow"`` — an Arrow-batched numpy kernel
        (``mapInArrow``): code points via utf-32 reinterpretation, the
        k-gram Rabin–Karp fold as k shifted vectorized multiply-adds,
        window minima via a stride-tricks sliding view. BIT-IDENTICAL
        output (parity-tested against the native kernel and the pure-
        Python replay, null/empty/short rows included).

    Why the slow-path exception exists: per-CHAR expression kernels are
    where "UDFs are the slow path" inverts — Catalyst evaluates
    higher-order functions interpreted, one closure call per element,
    while numpy does the same fold as a handful of SIMD passes over a
    contiguous buffer. Measured at sf0.1 (5000 docs): 0.30 s single-core
    numpy vs 2.7 s for the 32-thread interpreted HOF. The native kernel
    stays the default because it keeps the plan free of Python workers
    (no Arrow hop, works under any Python-less deployment); flip to
    "arrow" when the fingerprint scan dominates a 100 TB run.

    uint64 note: numpy multiplication wraps mod 2^64 and the fold masks
    to 54 bits each step, exactly like the native long arithmetic.
    """
    if kernel == "native":
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(winnow_fingerprints(text_col, k, w)).alias("fp"),
        )
    if kernel != "arrow":
        raise ValueError(f"unknown kernel: {kernel!r}")

    id_type = df.schema[id_col].dataType.simpleString()
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("s"))

    def batches(it):
        import numpy as np
        import pyarrow as pa

        base = np.uint64(WINNOW_BASE)
        mask = np.uint64(WINNOW_MASK)

        def fps_of(text):
            if text is None:
                return None  # native kernel yields a single NULL fp
            codes = np.frombuffer(
                text.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.uint64)
            n = len(codes)
            if n < k:
                acc = np.uint64(0)
                for c in codes:
                    acc = (acc * base + c) & mask
                return [int(acc)]
            acc = np.zeros(n - k + 1, dtype=np.uint64)
            for j in range(k):
                acc = (acc * base + codes[j : n - k + 1 + j]) & mask
            if len(acc) < w:
                return [int(acc.min())]
            sw = np.lib.stride_tricks.sliding_window_view(acc, w)
            return np.unique(sw.min(axis=1)).astype(np.int64)

        for batch in it:
            ids = batch.column("doc_id").to_pylist()
            texts = batch.column("s").to_pylist()
            out_ids, out_fps = [], []
            for i, t in zip(ids, texts):
                fps = fps_of(t)
                if fps is None:
                    out_ids.append(i)
                    out_fps.append(None)
                    continue
                out_ids.extend([i] * len(fps))
                out_fps.extend(int(x) for x in fps)
            if not out_ids:
                # empty pa.array([]) infers the null type and breaks the
                # declared schema — skip empty batches instead
                continue
            yield pa.record_batch(
                [
                    pa.array(out_ids, type=batch.column("doc_id").type),
                    pa.array(out_fps, type=pa.int64()),
                ],
                names=["doc_id", "fp"],
            )

    return src.mapInArrow(batches, schema=f"doc_id {id_type}, fp long")


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 1000,
    kernel: str = "native",
) -> DataFrame:
    """Document pairs (id_a < id_b, shared_fps) sharing at least
    ``min_shared`` winnowing fingerprints — the MOSS plagiarism-
    detection join, distributable: explode fingerprints, self-join on
    the fingerprint value (ids-only through the shuffle), count shared.

    ``max_df`` drops fingerprints appearing in more than that many docs
    (boilerplate) before the join — the posting-list cap that keeps a
    100 TB self-join from quadratic blowup on common headers/footers.

    The exploded posting list feeds four plan branches (the df-frequency
    aggregate, its join back, and both self-join sides); it is persisted
    so the rolling-hash kernel runs ONCE, and released before returning
    with the (small) pair output snapshotted — the module's standard
    eager-materialize/release contract.
    """
    from pyspark.storagelevel import StorageLevel

    fps = winnow_fingerprint_rows(
        df, id_col, text_col, k, w, kernel=kernel
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        posts = fps
        if max_df is not None:
            freq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df_count"))
            posts = fps.join(freq.where(F.col("df_count") <= max_df), "fp").select(
                "doc_id", "fp"
            )
        l = posts.select(F.col("doc_id").alias("id_a"), "fp")
        r = posts.select(F.col("doc_id").alias("id_b"), "fp")
        out = (
            l.join(r, "fp")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared_fps"))
            .where(F.col("shared_fps") >= min_shared)
        )
        return out.localCheckpoint(eager=True)
    finally:
        fps.unpersist(blocking=False)


# ---------------------------------------------------------------------------
# edit-distance near-dup join (Ed-Join-style q-gram prefix filtering)
# ---------------------------------------------------------------------------


def edjoin_density_probe(
    strings: list[str], q: int, max_distance: int
) -> float:
    """Estimated Ed-Join candidate FRACTION for gram size ``q`` — the
    share of all string pairs the banded join would emit as candidates,
    from a pure-Python miniature of :func:`edit_distance_pairs`'s
    prefix selection and positional banding over a bounded sample.

    Replays the real pipeline's shape: positional q-grams, sample-local
    df counts, the (df, gram, pos) rarity order cut at ``q·k + 1``
    prefix grams per string, then per-(gram, band) bucket counts with
    the probe side's ±1 band replication: Σ choose(c,2)·3 over buckets,
    divided by choose(n,2). The fraction is scale-free (bucket counts
    and total pairs both grow with the sample), so one threshold serves
    any sample size. Benign corpora measure ≪1%; the documented
    adversarial input (aligned fixed-width keys over a shared
    low-entropy alphabet, SCALING.md "Adversarial bound") pushes it
    toward 1 because every prefix gram is frequent AND co-banded.
    """
    k = max_distance
    band = k + 1
    per_string: list[list[tuple[str, int]]] = []
    df_count: dict[str, int] = {}
    for s in strings:
        grams = [(s[i : i + q], i + 1) for i in range(len(s) - q + 1)]
        per_string.append(grams)
        for g, _ in grams:
            df_count[g] = df_count.get(g, 0) + 1
    n = len(per_string)
    if n < 2:
        return 0.0
    buckets: dict[tuple[str, int], int] = {}
    for grams in per_string:
        grams.sort(key=lambda t: (df_count[t[0]], t[0], t[1]))
        for g, pos in grams[: q * k + 1]:
            key = (g, pos // band)
            buckets[key] = buckets.get(key, 0) + 1
    pairs = sum(c * (c - 1) // 2 for c in buckets.values())
    return min(1.0, 3.0 * pairs / (n * (n - 1) / 2.0))


def edjoin_autotune(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 1,
    q: int = 2,
    guard_sample: int = 2000,
    guard_candidate_frac: float = 0.05,
    max_q: int = 8,
) -> int:
    """Pick the gram size for :func:`edit_distance_pairs` by probing
    candidate density on a sample — the auto-guard for the documented
    adversarial input (SCALING.md "Adversarial bound": aligned
    low-entropy fixed-width keys run candidate-quadratic at any fixed
    q because rarity/position/length stay lossless but only trim
    constants; the named mitigation is a larger q over the dense
    field).

    The operator is EXACT for every q (all filters are lossless given
    q, and strings too short for a q route to the exact short-string
    block), so this tunes the PLAN only — output is identical at any
    returned q. That makes the probe's sampling nondeterminism benign.

    Doubles q while the sampled candidate fraction exceeds
    ``guard_candidate_frac`` (share of all pairs the banded join would
    emit — scale-free, so the threshold is sample-size independent),
    stopping at ``max_q`` or when a larger q would push ≥5% of the
    sampled strings below the long-string threshold (fixed-width keys
    all drop to the short block together — an all-pairs tier that must
    stay the tiny-minority path). Warns when even the chosen q stays
    dense — which includes inputs whose TRUE result is itself
    near-quadratic (short shared-alphabet keys where most pairs really
    are within k edits: no algorithm beats its own output size) — the
    remaining mitigations (normalize layout-constant regions, split the
    dense column) need schema knowledge the engine cannot infer.

    The probe draws a REPRESENTATIVE sample: rows ordered by a seeded
    ``xxhash64(text, id)`` and the top ``guard_sample`` taken — Spark
    runs that as TakeOrderedAndProject (per-partition top-K, bounded
    memory, merged on the driver), so the slice is uniform over the
    whole input rather than whatever ``limit()`` happens to read from
    the first partitions (a head-only probe under- or over-escalates q
    whenever the dense adversarial key region isn't in the head). One
    bounded collect + pure Python; at 100 TB this one projected-column
    pass is noise next to the join it protects.
    """
    import warnings

    k = max_distance
    sample = [
        r[0]
        for r in df.select(
            F.col(text_col).cast("string").alias("_t"),
            F.xxhash64(F.col(text_col), F.col(id_col)).alias("_h"),
        )
        .where(F.col("_t").isNotNull())
        .orderBy("_h", "_t")
        .limit(guard_sample)
        .collect()
    ]
    if not sample:
        return q
    lengths = sorted(len(s) for s in sample)
    q_try = q
    best_q, best_d = q, float("inf")
    while True:
        # viability: ≥95% of sampled strings stay on the long-string
        # path at this q (short tier is all-pairs within a length band)
        min_long = q_try * k + q_try
        if lengths[max(0, int(0.05 * len(lengths)) - 1)] < min_long + k:
            if lengths[0] < min_long + k and q_try > q:
                break  # escalation would dump the sample into the short block
        longs = [s for s in sample if len(s) >= min_long]
        d = edjoin_density_probe(longs, q_try, k) if longs else 0.0
        if d < best_d:
            best_q, best_d = q_try, d
        if d <= guard_candidate_frac:
            return q_try
        if q_try >= max_q:
            break
        nxt = q_try * 2
        nxt_min_long = nxt * k + nxt
        if sum(1 for s in sample if len(s) >= nxt_min_long) < 0.95 * len(
            sample
        ):
            break
        q_try = nxt
    warnings.warn(
        f"edit_distance_pairs input stays candidate-dense at every viable "
        f"gram size (best q={best_q}, ~{100 * best_d:.1f}% of all pairs become "
        f"candidates): "
        f"likely aligned fixed-width low-entropy keys. Normalize away "
        f"layout-constant regions before gramming, or split the dense "
        f"column (SCALING.md 'Adversarial bound').",
        RuntimeWarning,
        stacklevel=2,
    )
    return best_q


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 1,
    q: int = 2,
    auto_guard: bool = False,
) -> DataFrame:
    """EXACT pairs (id_a < id_b) with levenshtein ≤ ``max_distance``,
    without the naive n² comparison (Xiao/Wang/Lin's Ed-Join shape):

      1. positional q-grams per string (native substring+sequence);
      2. global rarity order (df_count, gram, pos) — one edit destroys at
         most q grams, so two strings within distance k MUST share a gram
         among their first ``q·k + 1`` rarest tokens (prefix filter,
         lossless); rarity ordering keeps high-frequency grams (shared
         constant prefixes like 'Customer#0000…') out of the join keys;
      3. positional filter |pos_a − pos_b| ≤ k on the shared gram
         (lossless — k edits shift any surviving gram by at most k
         positions; Ed-Join's location-based filter). This removes
         candidates whose shared gram sits at incompatible offsets —
         decisive when near-identical key populations differ by
         layout shift (measured: it is what separates position-shifted
         replicas in SCALING.md's sf1 decade);
      4. length filter |len_a − len_b| ≤ k (lossless);
      5. exact ``levenshtein`` verify on the surviving candidates only.

    Documented worst case (SCALING.md "Adversarial bound"): fixed-layout
    keys over a shared low-entropy alphabet — zero-padded serial numbers
    — make every gram frequent AND position-aligned, so rarity,
    position, and length all stay lossless but only trim constants and
    candidates grow ~n² (measured 349 s for 150k aligned 18-char
    serials). Mitigations at scale: normalize away layout-constant
    regions before gramming, raise q over the dense field, or route
    fixed-width key columns to the short-string block tier below.

    Strings shorter than ``q·k + q`` have fewer than q·k+1 grams, so the
    prefix argument doesn't hold — they take an all-pairs block against
    the (tiny at corpus scale) ≤ ``q·k+q−1+k`` length band instead.

    ``auto_guard=True`` routes around the adversarial bound
    automatically: :func:`edjoin_autotune` probes candidate density on
    a bounded sample and escalates ``q`` (output-identical at any q —
    the filters are lossless per q) before the join is planned, warning
    when no viable q escapes the density.

    Scale shape: candidate generation shuffles (gram, id) tokens only —
    q·k+1 per string regardless of string length; the rarity ordering is
    one window over the gram shuffle; verify re-joins the strings once
    per surviving pair. Internal persists release before returning (same
    eager contract as ``minhash_dedup_pairs``).
    """
    from pyspark.sql.window import Window
    from pyspark.storagelevel import StorageLevel

    if auto_guard:
        q = edjoin_autotune(df, id_col, text_col, max_distance, q)
    k = max_distance
    min_long = q * k + q
    base = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("s"))
        .where(F.col("s").isNotNull())
        .withColumn("len", F.length("s"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    prefix = None
    try:
        longs = base.where(F.col("len") >= min_long)
        toks = longs.select(
            "doc_id",
            "len",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.col("len") - (q - 1)),
                    lambda i: F.col("s").substr(i, F.lit(q)),
                )
            ).alias("pos", "gram"),
        )
        freq = toks.groupBy("gram").agg(F.count(F.lit(1)).alias("df_count"))
        w_doc = Window.partitionBy("doc_id").orderBy("df_count", "gram", "pos")
        prefix = (
            toks.join(freq, "gram")
            .withColumn("rn", F.row_number().over(w_doc))
            .where(F.col("rn") <= q * k + 1)
            .select("doc_id", "len", "gram", "pos")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # The positional filter must live in the EQUI-JOIN KEY, not just
        # the residual condition: a sort-merge join still enumerates the
        # full per-gram bucket cross-product before a residual
        # |pos_a − pos_b| ≤ k can reject anything, so gram-only keys stay
        # candidate-quadratic whenever a frequent gram recurs at many
        # positions (measured: 349 s → 92 s with the residual filter →
        # ~linear with banding, SCALING.md sf1 decade). Banding: key =
        # (gram, ⌊pos/(k+1)⌋); any pair with |Δpos| ≤ k lands in the
        # same or an adjacent band, so the probe side replicates each
        # gram into its 3 neighboring bands (lossless; a fixed (pos_a,
        # pos_b) matches exactly ONE of the 3, so no duplicate
        # candidates). The residual predicates below stay as the exact
        # cut inside each band.
        band = k + 1
        l = prefix.select(
            F.col("doc_id").alias("id_a"),
            F.col("len").alias("len_a"),
            "gram",
            F.col("pos").alias("pos_a"),
            F.floor(F.col("pos") / band).alias("band_a"),
        )
        r = prefix.select(
            F.col("doc_id").alias("id_b"),
            F.col("len").alias("len_b"),
            F.col("gram").alias("gram_b"),
            F.col("pos").alias("pos_b"),
            F.explode(
                F.array(
                    *[F.floor(F.col("pos") / band) + d for d in (-1, 0, 1)]
                )
            ).alias("band_b"),
        )
        long_cand = (
            l.join(
                r,
                (F.col("gram") == F.col("gram_b"))
                & (F.col("band_a") == F.col("band_b"))
                & (F.col("id_a") < F.col("id_b"))
                & (F.abs(F.col("pos_a") - F.col("pos_b")) <= k)
                & (F.abs(F.col("len_a") - F.col("len_b")) <= k),
            )
            .select("id_a", "id_b")
        )
        shorts_band = base.where(F.col("len") <= min_long - 1 + k)
        sa = shorts_band.select(
            F.col("doc_id").alias("id_a"), F.col("len").alias("len_a")
        )
        sb = shorts_band.select(
            F.col("doc_id").alias("id_b"), F.col("len").alias("len_b")
        )
        short_cand = (
            sa.join(
                sb,
                (F.col("id_a") < F.col("id_b"))
                & (F.abs(F.col("len_a") - F.col("len_b")) <= k),
            )
        ).select("id_a", "id_b")
        cand = long_cand.union(short_cand).dropDuplicates(["id_a", "id_b"])
        stra = base.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"))
        strb = base.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
        out = (
            cand.join(stra, "id_a")
            .join(strb, "id_b")
            .withColumn(
                "edit_dist", F.levenshtein("s_a", "s_b").cast("long")
            )
            .where(F.col("edit_dist") <= k)
            .select("id_a", "id_b", "edit_dist")
        )
        return out.localCheckpoint(eager=True)
    finally:
        base.unpersist(blocking=False)
        if prefix is not None:
            prefix.unpersist(blocking=False)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_portable(col: Column | str) -> Column:
    """60-bit engine-portable SimHash of the token multiset (long).

    Charikar's construction, fully native and shuffle-free. Equivalent
    reformulation of the textbook ±1 counters: slot j's counter is
    ``2·ones_j − T`` (ones_j = tokens with bit j set, T = token count),
    so the output bit is simply ``2·ones_j > T`` — only the bit-COUNTS
    are accumulated.

    Expression shape matters 3× here: the tokens are hashed ONCE into a
    bound array of longs, then each bit position folds that array with a
    branch-free ``+ getbit(h, j)`` — no per-token array allocation, no
    per-element conditional. The textbook form (``aggregate`` carrying
    the counter array rebuilt by ``zip_with`` per token) allocated
    tokens×bits array cells per row; on 64-bit signatures it measured
    4.4 s for sf0.1 vs 1.4 s for this fold (bit-identical output,
    verified over the full corpus).

    The per-token hash is the 60-bit md5 prefix
    (``functions/portable_hash.md5_long60``) and only bits 0..59 are
    folded, so the value stays non-negative and every step — md5,
    shift, popcount — has an exact twin in any SQL engine. An external
    oracle replays the full signature, banding, and Hamming verify
    bit-for-bit (``__spark_entry__.py`` simhash_neardup oracle).
    """
    from merchant_classification_spark.functions.portable_hash import md5_long60

    hs = F.transform(tokens(col), lambda t: md5_long60(t))

    def build(h: Column) -> Column:
        n = F.size(h)
        ones = F.transform(
            F.sequence(F.lit(0), F.lit(59)),
            lambda j: F.aggregate(
                h, F.lit(0).cast("long"), lambda a, x: a + F.getbit(x, j)
            ),
        )
        pow2 = F.expr(sql_lit([1 << j for j in range(60)], "array<bigint>"))
        bits = F.zip_with(
            ones,
            F.sequence(F.lit(1), F.lit(60)),
            lambda o, j: F.when(o * 2 > n, F.element_at(pow2, j)).otherwise(
                F.lit(0).cast("long")
            ),
        )
        return F.aggregate(bits, F.lit(0).cast("long"), lambda a, b: a.bitwiseOR(b))

    return F.element_at(F.transform(F.array(hs), build), 1)


def hamming64(a: Column | str, b: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs with SimHash Hamming distance ≤ max_hamming.

    Candidates come from 4 band buckets of 15 bits each over the
    oracle-replayable 60-bit :func:`simhash_portable` signature;
    pigeonhole: distance ≤ 3 guarantees at least one identical band.
    Candidates are verified by exact bit_count.

    The module's standard materialize/release contract: the signature
    projection is persisted (BOTH self-join sides consume it — lazily it
    is computed twice, measured 1.65x the query at sf0.1), the small
    verified-pair output is snapshotted via ``localCheckpoint``, and the
    persist is released before returning.
    """
    from pyspark.storagelevel import StorageLevel

    base = df.select(
        F.col(id_col).alias("doc_id"), simhash_portable(text_col).alias("sim")
    )

    def pairs(b: DataFrame) -> DataFrame:
        banded = b.select(
            "doc_id",
            "sim",
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("sim"), i * 15).bitwiseAND(
                            F.lit(0x7FFF)
                        )
                        for i in range(4)
                    ]
                )
            ).alias("band", "band_val"),
        )
        l = banded.select(
            F.col("doc_id").alias("id_a"),
            F.col("sim").alias("sim_a"),
            "band",
            "band_val",
        )
        r = banded.select(
            F.col("doc_id").alias("id_b"),
            F.col("sim").alias("sim_b"),
            "band",
            "band_val",
        )
        return (
            l.join(r, ["band", "band_val"])
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .withColumn("hamming", hamming64("sim_a", "sim_b"))
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return pairs(base).localCheckpoint(eager=True)
    finally:
        base.unpersist(blocking=False)


# ---------------------------------------------------------------------------
# representative assignment (connected components over duplicate pairs)
# ---------------------------------------------------------------------------


def assign_representatives(
    ids: DataFrame, pairs: DataFrame, max_iterations: int = 10
) -> DataFrame:
    """Map every id to its duplicate-cluster representative (min id in the
    connected component) by iterative min-label propagation.

    `ids` must have column `doc_id`; `pairs` columns `id_a`, `id_b`.
    Converges in O(component diameter) joins — duplicate clusters are
    short chains in practice; `max_iterations` bounds pathological chains,
    and convergence is checked each round so typical data stops early.
    """
    # materialize the edge list once (WITH self-loops): every iteration's
    # action would otherwise replay the (possibly expensive)
    # pair-generation lineage — at scale that is a full re-hash +
    # self-join per round. The self-loop rows make each round a single
    # join + aggregate: min(rep) over neighbors∪self is the new label,
    # and the self-loop row carries the node's own old label out of the
    # same aggregate, so neither the isolated-node fill-in nor the
    # convergence probe needs a second join.
    sym = pairs.select("id_a", "id_b").union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    self_loops = ids.select(
        F.col("doc_id").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    edges = sym.union(self_loops).distinct().persist()
    labels = ids.select("doc_id", F.col("doc_id").alias("rep"))
    prev_persisted = None
    for _ in range(max_iterations):
        new_labels = (
            edges.join(labels, edges.id_b == labels.doc_id)
            .groupBy("id_a")
            .agg(
                F.min("rep").alias("rep"),
                F.min(F.when(F.col("id_b") == F.col("id_a"), F.col("rep"))).alias(
                    "old_rep"
                ),
            )
            .withColumnRenamed("id_a", "doc_id")
            .persist()
        )
        changed = (
            new_labels.where(F.col("rep") != F.col("old_rep")).limit(1).count()
        )
        if prev_persisted is not None:
            prev_persisted.unpersist(blocking=False)
        prev_persisted = new_labels
        labels = new_labels.select("doc_id", "rep")
        if changed == 0:
            break
    # snapshot the final (small: one row per id) labels and release the
    # loop's caches — no persisted block outlives the call
    out = labels.localCheckpoint(eager=True)
    if prev_persisted is not None:
        prev_persisted.unpersist(blocking=False)
    edges.unpersist(blocking=False)
    return out


def exact_substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2021, arXiv:2107.06499
    §3.1 "ExactSubstr"): whenever a run of ≥ ``k`` tokens appears more
    than once in the corpus, keep only its FIRST occurrence (earliest
    ``(doc_id, position)``) and delete every token covered by a later
    occurrence, then reassemble each document from its surviving tokens.

    Differs from :func:`remove_boilerplate` (C4-style) on all three
    axes: sliding windows instead of a fixed non-overlapping grid, a
    ≥ 2-occurrence trigger instead of a ≥ N-distinct-docs threshold,
    and first-copy-preserving (the canonical occurrence survives)
    instead of drop-everywhere. Lee et al. implement this with a
    corpus-wide suffix array; the Spark-native equivalent is sliding
    k-gram keys + a first-occurrence aggregate — same removal semantics
    at k-token granularity, expressed as joins Catalyst can partition.

    Plan shape (100 TB): the occurrence table is one map-side
    tokenize+slice pass shuffled on the 60-bit portable gram key
    (~16 B/row hashed); duplicate keys are found with one aggregate
    (``min(struct(doc_id, pos))`` + count, map-side combined), and only
    occurrences of duplicated keys — the ~3% tail Lee et al. measure on
    web corpora — flow into the k× position explode, the coverage
    distinct, and the token-level anti-join. Everything is
    candidate-driven and whole-stage codegen; no all-pairs shape
    anywhere. The occurrence table feeds two branches (aggregate +
    probe), so it is persisted for the operator's lifetime and released
    before returning (the module's materialize/release contract).

    Returns (doc_id, clean_text, n_tokens, n_removed) — one row per
    input document, including zero-token documents ('' , 0, 0) and
    documents scrubbed to emptiness.
    """
    if k <= 1:
        raise ValueError("k must be at least 2")
    from pyspark.storagelevel import StorageLevel

    from merchant_classification_spark.functions.portable_hash import md5_long60

    base = (
        df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t"))
        .withColumn("n_tokens", F.size("t"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        grams = base.where(F.col("n_tokens") >= k).select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n_tokens") - k),
                    lambda i: F.array_join(F.slice(F.col("t"), i + 1, k), " "),
                )
            ).alias("gpos", "gram"),
        )
        occ = occ_persisted = grams.select(
            "doc_id", "gpos", md5_long60(F.col("gram")).alias("gk")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            dup_first = (
                occ.groupBy("gk")
                .agg(
                    F.min(F.struct("doc_id", "gpos")).alias("first"),
                    F.count(F.lit(1)).alias("occs"),
                )
                .where(F.col("occs") > 1)
                .select("gk", "first")
            )
            dup_occ = (
                occ.join(dup_first, "gk")
                .where(
                    (F.col("doc_id") != F.col("first.doc_id"))
                    | (F.col("gpos") != F.col("first.gpos"))
                )
                .select("doc_id", "gpos")
            )
            cover = dup_occ.select(
                "doc_id",
                F.explode(
                    F.sequence(F.col("gpos"), F.col("gpos") + (k - 1))
                ).alias("tpos"),
            ).distinct()
            toks = base.select(
                "doc_id", F.posexplode("t").alias("tpos", "tok")
            )
            kept = toks.join(cover, ["doc_id", "tpos"], "left_anti")
            rebuilt = kept.groupBy("doc_id").agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                        lambda s: s["tok"],
                    ),
                    " ",
                ).alias("_clean"),
                F.count(F.lit(1)).alias("_n_kept"),
            )
            # rebuild from base so zero-token documents AND documents
            # scrubbed to emptiness (no surviving rows in `kept`) both
            # come back as one ('', n, n-0/n) row
            out = (
                base.select("doc_id", "n_tokens")
                .join(rebuilt, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce(F.col("_clean"), F.lit("")).alias(
                        "clean_text"
                    ),
                    F.col("n_tokens").cast("int").alias("n_tokens"),
                    (
                        F.col("n_tokens")
                        - F.coalesce(F.col("_n_kept"), F.lit(0))
                    )
                    .cast("int")
                    .alias("n_removed"),
                )
            )
            # the two persisted inputs feed multiple branches of this one
            # plan; materialize the result before releasing them
            return out.localCheckpoint(eager=True)
        finally:
            occ_persisted.unpersist(blocking=False)
    finally:
        base.unpersist(blocking=False)


def lsh_params(
    threshold: float,
    num_hashes: int = 64,
    fn_weight: float = 1.0,
) -> tuple[int, int]:
    """Choose ``(bands, rows_per_band)`` for MinHash LSH targeting a
    Jaccard ``threshold`` — the S-curve solver every banding deployment
    needs (Leskovec/Rajaraman/Ullman, *Mining of Massive Datasets* §3.4).

    A pair with Jaccard similarity s collides in at least one of b bands
    of r rows with probability ``1 − (1 − s^r)^b``. Over every (b, r)
    factorization with ``b·r ≤ num_hashes``, minimize estimated error
    mass: the false-positive integral of the collision curve below the
    threshold plus ``fn_weight ×`` the miss integral above it
    (rectangle rule, step 0.01 — exact enough to pick a factorization;
    raise ``fn_weight`` to bias toward recall, the usual choice for
    dedup where a missed duplicate is worse than a verified-away
    candidate).

    Driver-side arithmetic only — use it to parameterize
    :func:`minhash_dedup_pairs`; at 100 TB the choice trades shuffle
    volume (∝ bands) against verify volume (false positives), which is
    exactly what the two integrals measure.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if num_hashes <= 0:
        raise ValueError("num_hashes must be positive")
    if fn_weight <= 0:
        raise ValueError("fn_weight must be positive")
    best: tuple[float, int, int] | None = None
    for r in range(1, num_hashes + 1):
        b = num_hashes // r
        if b == 0:
            break
        fp = fn = 0.0
        for i in range(1, 101):
            s = (i - 0.5) / 100.0
            p = 1.0 - (1.0 - s**r) ** b
            if s < threshold:
                fp += p * 0.01
            else:
                fn += (1.0 - p) * 0.01
        err = fp + fn_weight * fn
        if best is None or err < best[0]:
            best = (err, b, r)
    assert best is not None
    return best[1], best[2]
