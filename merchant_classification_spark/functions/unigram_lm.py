"""Unigram-LM (SentencePiece-style) subword tokenizer tier.

Completes the tokenizer family next to deterministic BPE
(``functions/bpe.py``): the unigram language-model tokenizer of Kudo
2018 (arXiv:1804.10959 — the algorithm behind SentencePiece's default
mode, used by T5/ALBERT/XLNet-class pipelines). Where BPE greedily
grows merges, unigram LM starts from a LARGE candidate piece inventory
and prunes it under an EM objective, segmenting by highest-likelihood
split (Viterbi).

Engine discipline — identical to the BPE tier, so the whole fit is
oracle-replayable:

  * **bounded fit aggregate**: the corpus word-frequency table (ONE
    explode → count aggregate capped with a total tie-break —
    ``bpe.corpus_word_freq``) is a sufficient statistic: the tokenizer
    segments within words, so the fit never needs the corpus twice.
  * **deterministic driver-side fit**: seed candidates are all
    substrings (length ≤ ``max_piece_len``) of vocab words scored by
    occurrence-weighted frequency; a FIXED number of hard-EM rounds
    (Viterbi E-step with a total tie-break, add-one-smoothed M-step)
    re-estimates piece log-probs; pruning keeps the top ``vocab_size``
    pieces by (count desc, piece asc) while ALWAYS retaining single
    characters (full coverage — every vocab word stays segmentable).
    Every loop runs in sorted order: the fit is a bit-reproducible pure
    function of the word-frequency table, shared with external
    checkers like ``fit_bpe`` / ``math.log``.
  * **map-side scoring**: vocab words carry their driver-side Viterbi
    segmentation as a broadcast ``word → segments`` dimension (never a
    literal map — the ``GetMapValue`` O(V) trap); OOV words fall back
    to character granularity, the same vocabulary-capped contract as
    the BPE tier. Hard-EM (Viterbi counts instead of full
    forward-backward expectations) is the standard deterministic
    variant; the segmentation step IS exact Viterbi.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from merchant_classification_spark.functions.text_analysis import tokens

__all__ = [
    "fit_unigram_lm",
    "viterbi_encode",
    "unigram_segment",
    "unigram_token_counts",
]


def viterbi_encode(
    word: str, piece_logprob: dict[str, float], max_piece_len: int = 6
) -> list[str]:
    """Highest-log-likelihood segmentation of ``word`` under the piece
    table — exact Viterbi DP, deterministic tie-break.

    ``best[i]`` is the best score for the prefix of length i; at each
    position candidate pieces are tried LONGEST FIRST and a candidate
    must be STRICTLY better to displace the incumbent, so ties resolve
    to the longest-piece split found first — a total rule any replay
    reproduces. Characters absent from the table make the word
    unsegmentable (ValueError): the fit guarantees single-character
    coverage for its vocabulary, and scoring never Viterbi-encodes
    out-of-vocabulary words (they char-split).
    """
    n = len(word)
    if n == 0:
        return []
    neg_inf = float("-inf")
    best = [neg_inf] * (n + 1)
    back: list[int] = [0] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        lo = max(0, i - max_piece_len)
        for j in range(lo, i):  # longer pieces first (smaller j)
            if best[j] == neg_inf:
                continue
            lp = piece_logprob.get(word[j:i])
            if lp is None:
                continue
            s = best[j] + lp
            if s > best[i]:
                best[i] = s
                back[i] = j
    if best[n] == neg_inf:
        raise ValueError(f"word {word!r} not segmentable under the table")
    out: list[str] = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    out.reverse()
    return out


def fit_unigram_lm(
    word_freq: dict[str, int],
    vocab_size: int = 512,
    rounds: int = 4,
    max_piece_len: int = 6,
    seed_factor: int = 4,
) -> tuple[dict[str, float], dict[str, int]]:
    """Fit the unigram-LM piece table from a word-frequency table.

    Returns ``(piece_logprob, word_n_pieces)``: the final
    add-one-smoothed piece log-probabilities, and every vocab word's
    piece count under the final table (the scoring sufficient
    statistic, like ``fit_bpe``'s ``word_n_tokens`` — tests assert it
    equals replaying :func:`viterbi_encode`).

    Determinism: candidates/words iterate in sorted order, pruning uses
    the (count desc, piece asc) total tie-break, Viterbi's tie rule is
    fixed, and log-probs are ``math.log`` of exact integer ratios — a
    pure function of ``word_freq``.
    """
    if not word_freq:
        raise ValueError("word_freq must be non-empty (fit first)")
    if vocab_size <= 0 or rounds < 1 or max_piece_len < 1 or seed_factor < 1:
        raise ValueError("vocab_size/rounds/max_piece_len/seed_factor must be positive")
    if any((not w) or c <= 0 for w, c in word_freq.items()):
        raise ValueError("word_freq must map non-empty words to positive counts")

    # --- seed: substring inventory scored by occurrence-weighted freq --
    cand: dict[str, int] = {}
    for w in sorted(word_freq):
        f = word_freq[w]
        n = len(w)
        for i in range(n):
            top = min(max_piece_len, n - i)
            for ln in range(1, top + 1):
                p = w[i : i + ln]
                cand[p] = cand.get(p, 0) + f
    chars = sorted({c for w in word_freq for c in w})
    head = sorted(cand.items(), key=lambda t: (-t[1], t[0]))
    pieces: dict[str, int] = dict(head[: seed_factor * vocab_size])
    for c in chars:
        pieces.setdefault(c, cand[c])

    def _logprobs(counts: dict[str, int]) -> dict[str, float]:
        tot = 0
        for p in sorted(counts):
            tot += counts[p]
        denom = float(tot + len(counts))
        return {
            p: math.log((counts[p] + 1) / denom) for p in sorted(counts)
        }

    lp = _logprobs(pieces)
    # --- hard-EM rounds: Viterbi counts -> prune -> re-estimate --------
    for _ in range(rounds):
        counts: dict[str, int] = {}
        for w in sorted(word_freq):
            f = word_freq[w]
            for p in viterbi_encode(w, lp, max_piece_len):
                counts[p] = counts.get(p, 0) + f
        used = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
        keep = dict(used[:vocab_size])
        for c in chars:
            keep.setdefault(c, counts.get(c, 0))
        lp = _logprobs(keep)
    word_n_pieces = {
        w: len(viterbi_encode(w, lp, max_piece_len))
        for w in sorted(word_freq)
    }
    return lp, word_n_pieces


def unigram_segment(
    spark: SparkSession,
    df: DataFrame,
    piece_logprob: dict[str, float],
    word_freq: dict[str, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 6,
) -> DataFrame:
    """Per-document piece arrays under a fitted table — the unigram-LM
    twin of ``bpe.bpe_segment`` (same plan shape: posexplode →
    broadcast word→segments join → ordered refold; OOV words split to
    characters, zero-token documents yield empty arrays).

    Returns (doc_id, uni_tokens array<string>, n_uni_tokens int).
    """
    if not word_freq:
        raise ValueError("word_freq must be non-empty (fit first)")
    seg_rows = [
        (w, viterbi_encode(w, piece_logprob, max_piece_len))
        for w in sorted(word_freq)
    ]
    from merchant_classification_spark.functions.literals import literal_table

    # bounded fitted dimension -> folded plan literal (no parallelize job)
    vt = literal_table(spark, seg_rows, "word string, segs array<string>")
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode_outer(tokens(text_col)).alias("pos", "word"),
    )
    joined = ex.join(F.broadcast(vt), "word", "left").withColumn(
        "_segs",
        F.when(F.col("word").isNull(), F.array().cast("array<string>"))
        .when(F.col("segs").isNotNull(), F.col("segs"))
        .otherwise(F.filter(F.split("word", ""), lambda x: x != F.lit(""))),
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "_segs"))),
                    lambda x: x["_segs"],
                )
            ).alias("uni_tokens")
        )
        .select(
            "doc_id", "uni_tokens", F.size("uni_tokens").alias("n_uni_tokens")
        )
    )


def unigram_token_counts(
    spark: SparkSession,
    df: DataFrame,
    word_n_pieces: dict[str, int],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document unigram-LM token counts under a fitted vocabulary —
    the twin of ``bpe.bpe_token_counts`` (broadcast vocab join, one
    doc-key map-side-combined aggregate; OOV at character granularity).

    Returns (doc_id, n_words, n_uni_tokens, n_oov).
    """
    if not word_n_pieces:
        raise ValueError("word_n_pieces must be non-empty (fit first)")
    from merchant_classification_spark.functions.literals import literal_table

    # bounded fitted vocabulary -> folded plan literal (no parallelize job)
    vt = literal_table(
        spark, sorted(word_n_pieces.items()), "word string, word_pieces int"
    )
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(tokens(text_col)).alias("word"),
    )
    joined = ex.join(F.broadcast(vt), "word", "left")
    return joined.groupBy("doc_id").agg(
        F.count("word").cast("int").alias("n_words"),
        F.coalesce(
            F.sum(F.coalesce(F.col("word_pieces"), F.length("word"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_uni_tokens"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("word").isNotNull()
                    & F.col("word_pieces").isNull(),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("int")
        .alias("n_oov"),
    )
