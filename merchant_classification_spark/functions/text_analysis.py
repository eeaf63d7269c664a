"""Text-analysis operators for training-data pipelines (north-star surface).

Language ID, quality scoring, token counting, and document fingerprinting —
each a pure native-Spark column expression over the `documents` table, so
the whole stage is one codegen'd projection that scales linearly with no
shuffle at all.

Determinism contract: every score is built from integer counts combined in
a FIXED expression order, so Spark and any SQL oracle computing the same
expression produce bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from merchant_classification_spark.functions.literals import sql_lit

# tiny per-language stopword sets for the n-gram/stopword-ratio heuristic;
# deliberately small so the oracle SQL can inline them
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "du", "que"),
    "de": ("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"),
}
LANG_ORDER = tuple(LANG_STOPWORDS)  # fixed tie-break order


def _as_col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the lowercased, punctuation-stripped text.

    NULL-safe: null text behaves as empty text (empty array) so downstream
    dedup/analysis operators never silently drop rows through explode.
    Empty/blank text yields an empty array (split('') would yield ['']).
    """
    safe = F.coalesce(_as_col(col).cast("string"), F.lit(""))
    cleaned = F.trim(F.regexp_replace(F.lower(safe), r"[^a-z0-9']+", " "))
    return F.when(cleaned == "", F.array().cast("array<string>")).otherwise(
        F.split(cleaned, " ")
    )


def tokens_sql(col_sql: str) -> str:
    """SQL-text twin of :func:`tokens` for plan-build-cost-critical
    callers that render their whole expression as ONE ``F.expr`` string
    (the ``functions/literals.py`` discipline — a py4j round trip per
    expression node costs ~1 ms on the driver; the SQL text parses in
    ~ms and resolves to the same evaluation semantics).

    ``col_sql`` is a SQL expression string (quote identifiers with
    backticks). Token-for-token the same operations in the same order
    as :func:`tokens`: coalesce→lower→regexp_replace→trim, empty guard,
    split on single space. Bit-parity with :func:`tokens` is
    fuzz-asserted in ``tests/test_retrieval_inverted.py``."""
    pat = sql_lit(r"[^a-z0-9']+", "string")
    cleaned = (
        f"trim(regexp_replace(lower(coalesce(CAST({col_sql} AS STRING), '')),"
        f" {pat}, ' '))"
    )
    return (
        f"CASE WHEN {cleaned} = '' THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE split({cleaned}, ' ') END"
    )


def token_count(col: Column | str) -> Column:
    """Whitespace token count (int)."""
    return F.size(tokens(col))


def subword_count(col: Column | str) -> Column:
    """BPE-ish unit count: word fragments of ≤4 chars plus standalone
    punctuation — a deterministic proxy for LLM token counts (int).

    ``\\w{1,4}`` approximates subword pieces; punctuation counts one each.
    """
    return F.regexp_count(_as_col(col), F.lit(r"\w{1,4}|[^\w\s]"))


def stopword_hits(
    col: Column | str, lang: str, tokens_col: Column | None = None
) -> Column:
    """Number of tokens that are stopwords of `lang` (int, with repeats).

    Pass `tokens_col` (a pre-computed ``tokens(...)`` column) when scoring
    several languages over one text — otherwise each call re-tokenizes,
    multiplying the regex cost by the number of languages.
    """
    toks = tokens(col) if tokens_col is None else tokens_col
    stopset = F.expr(sql_lit(LANG_STOPWORDS[lang], "array<string>"))
    return F.size(F.filter(toks, lambda t: F.array_contains(stopset, t)))


def lang_id(
    col: Column | str,
    tokens_col: Column | None = None,
    hits: dict[str, Column] | None = None,
) -> Column:
    """Heuristic language ID: argmax stopword-hit rate over LANG_ORDER,
    'und' (undetermined) when no stopword of any language appears.

    Pass ``hits`` (lang → already-materialized ``stopword_hits`` column)
    when those counts exist as real columns anyway: referencing them
    keeps each interpreted stopword filter evaluated ONCE — Catalyst's
    CollapseProject declines to inline the non-cheap HOF into its
    multiple use sites here, where inlining the expression directly
    would re-run every filter inside each comparison branch (measured
    2.3× on the lang-profile probe at sf0.1)."""
    toks = tokens(col) if tokens_col is None else tokens_col
    n = F.size(toks)
    if hits is None:
        hits = {
            lang: stopword_hits(col, lang, tokens_col=toks)
            for lang in LANG_ORDER
        }
    best = F.lit("und")
    best_hits = F.lit(0)
    # strict > with in-order iteration: the FIRST language in LANG_ORDER
    # reaching the maximum hit count wins ties
    for lang in LANG_ORDER:
        is_better = hits[lang] > best_hits
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_hits = F.when(is_better, hits[lang]).otherwise(best_hits)
    return F.when(n == 0, F.lit("und")).otherwise(best)


def quality_score(
    col: Column | str, tokens_col: Column | None = None
) -> Column:
    """Document quality in [0,1] from deterministic integer ratios:

        0.4 * clamp(n_tokens/100)            (enough content)
      + 0.3 * (1 - punct_chars/chars)        (not symbol soup)
      + 0.3 * (1 - digit_chars/chars)        (not a number dump)

    All counts are ints; the combination order is fixed, so the double
    result is reproducible bit-for-bit by any engine evaluating the same
    expression. Pass ``tokens_col`` to reuse an existing tokenization
    (otherwise this re-tokenizes for the content term).
    """
    c = _as_col(col)
    n_chars = F.length(c)
    n_tok = (
        F.size(tokens_col) if tokens_col is not None else token_count(col)
    ).cast("double")
    punct = F.length(F.regexp_replace(c, r"[\w\s]+", ""))
    digits = F.length(F.regexp_replace(c, r"[^0-9]+", ""))
    content = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    safe_chars = F.when(n_chars == 0, F.lit(1)).otherwise(n_chars).cast("double")
    punct_term = F.lit(1.0) - punct.cast("double") / safe_chars
    digit_term = F.lit(1.0) - digits.cast("double") / safe_chars
    return (
        F.lit(0.4) * content + F.lit(0.3) * punct_term + F.lit(0.3) * digit_term
    )


def bigrams(tokens_col: Column) -> Column:
    """Adjacent token bigrams WITH repeats (array<string>) — unlike
    ``dedup.shingles`` this keeps duplicates, because repetition counting
    is the point. Empty array for texts of < 2 tokens.

    The token array is bound through a one-element-array lambda (same
    pattern as ``dedup.shingles``): a raw ``tokens(col)`` argument would
    otherwise be inlined by CollapseProject into every ``element_at`` of
    the position lambda — O(tokens) re-tokenizations per row.
    """

    def _bg(t: Column) -> Column:
        n = F.size(t)
        return F.when(n < 2, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
                lambda i: F.concat_ws(
                    " ", F.element_at(t, i), F.element_at(t, i + 1)
                ),
            )
        )

    return F.element_at(F.transform(F.array(tokens_col), _bg), 1)


def top_count(arr: Column) -> Column:
    """Highest occurrence count of any element in the array (int; null
    for empty arrays).

    Sort + one run-length scan: O(n log n) per row inside codegen, vs the
    naive distinct×filter formulation which is O(n·distinct) — quadratic
    on high-diversity documents (the common case in a web corpus). `arr`
    must be a plain column reference (pre-materialize expensive exprs).
    """
    srt = F.array_sort(arr)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.when(
        F.size(arr) > 0, F.aggregate(srt, init, step, lambda acc: acc["best"])
    )


def repetition_scores(
    df, text_col: str, id_col: str = "doc_id"
):
    """Gopher-style repetition quality signals per document:

      * ``distinct_ratio``    — distinct tokens / tokens (low = repetitive)
      * ``top_token_share``   — most frequent token's share of all tokens
      * ``top_bigram_share``  — most frequent bigram's share of all bigrams

    All ratios are exact integer divisions in a fixed order (bit-exact in
    any engine); degenerate docs (0 tokens / <2 tokens) yield NULLs.
    One shuffle-free codegen projection; tokenize-once via materialized
    columns.
    """
    t = tokens(F.col(text_col))
    out = (
        df.select(F.col(id_col), t.alias("_t"))
        .withColumn("_bg", bigrams(F.col("_t")))
        .select(
            id_col,
            F.size("_t").alias("n_tokens"),
            F.size(F.array_distinct("_t")).alias("n_distinct"),
            top_count(F.col("_t")).alias("_topt"),
            F.size("_bg").alias("_nbg"),
            top_count(F.col("_bg")).alias("_topbg"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_distinct",
            F.when(
                F.col("n_tokens") > 0, F.col("n_distinct") / F.col("n_tokens")
            ).alias("distinct_ratio"),
            F.when(F.col("n_tokens") > 0, F.col("_topt") / F.col("n_tokens")).alias(
                "top_token_share"
            ),
            F.when(F.col("_nbg") > 0, F.col("_topbg") / F.col("_nbg")).alias(
                "top_bigram_share"
            ),
        )
    )
    return out


def dup_ngram_coverage(
    df, text_col: str, id_col: str = "doc_id", n: int = 5
):
    """Gopher duplicate-n-gram character coverage (Rae et al. 2021,
    arXiv:2112.11446 §A1.1): the fraction of a document's token
    characters that sit inside word n-grams occurring ≥ 2 times WITHIN
    the document — each covered character counted once even when
    duplicated n-grams overlap (the metric Gopher pairs with the
    top-n-gram shares that :func:`repetition_scores` already computes;
    high coverage = machine-generated / boilerplate-repetitive text).

    Exact, engine-portable semantics: "characters" are the characters
    of the whitespace :func:`tokens` (separators excluded, so the
    numerator and denominator count the same alphabet); a token
    position p is covered iff ANY n-gram window containing p is
    duplicated; ``dup_char_frac = covered_chars / total_chars`` — one
    integer÷integer division, bit-exact in any engine.

    Scale shape: one shuffle-free codegen projection per document —
    grams via slice windows, the within-doc duplicate set via
    ``array_sort`` + neighbor equality (O(G log G), no explode, no
    per-doc groupBy), coverage via a bounded ±n window probe per
    position. Linear in corpus bytes, embarrassingly parallel; the
    degenerate cases (< 2 grams) yield 0 covered and a NULL/0-guarded
    fraction.

    Returns (id_col, n_tokens, dup_grams, covered_chars, total_chars,
    dup_char_frac).
    """
    if n < 2:
        raise ValueError("n must be >= 2 (n=1 duplicate tokens is "
                         "distinct_ratio's job)")
    empty_s = F.array().cast("array<string>")
    t = tokens(F.col(text_col))
    base = df.select(F.col(id_col), t.alias("_t"))
    g_cnt = F.size("_t") - F.lit(n) + F.lit(1)
    grams = F.when(
        g_cnt >= 1,
        F.transform(
            F.sequence(F.lit(1), g_cnt),
            lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i, F.lit(n))),
        ),
    ).otherwise(empty_s)
    with_g = base.select(id_col, "_t", grams.alias("_g"))
    with_s = with_g.select(
        id_col, "_t", "_g", F.array_sort("_g").alias("_sg")
    )
    dups = F.when(
        F.size("_g") >= 2,
        F.array_distinct(
            F.filter(
                F.transform(
                    F.sequence(F.lit(2), F.size("_g")),
                    lambda i: F.when(
                        F.element_at("_sg", i)
                        == F.element_at("_sg", i - F.lit(1)),
                        F.element_at("_sg", i),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ),
    ).otherwise(empty_s)
    with_d = with_s.select(id_col, "_t", "_g", dups.alias("_d"))
    flags = F.transform(F.col("_g"), lambda g: F.array_contains("_d", g))
    with_f = with_d.select(
        id_col, "_t", "_d", F.size("_g").alias("_gc"), flags.alias("_f")
    )
    zero = F.lit(0).cast("bigint")
    covered = F.when(
        F.col("_gc") >= 1,
        F.aggregate(
            F.sequence(F.lit(1), F.size("_t")),
            zero,
            lambda a, p: a
            + F.when(
                F.exists(
                    F.sequence(
                        F.greatest(F.lit(1), p - F.lit(n) + F.lit(1)),
                        F.least(p, F.col("_gc")),
                    ),
                    lambda i: F.element_at("_f", i),
                ),
                F.length(F.element_at("_t", p)).cast("bigint"),
            ).otherwise(zero),
        ),
    ).otherwise(zero)
    total = F.aggregate(
        F.col("_t"), zero, lambda a, w: a + F.length(w).cast("bigint")
    )
    return with_f.select(
        id_col,
        F.size("_t").alias("n_tokens"),
        F.size("_d").alias("dup_grams"),
        covered.alias("covered_chars"),
        total.alias("total_chars"),
    ).select(
        id_col,
        "n_tokens",
        "dup_grams",
        "covered_chars",
        "total_chars",
        F.when(
            F.col("total_chars") > 0,
            F.col("covered_chars") / F.col("total_chars"),
        ).alias("dup_char_frac"),
    )


def fingerprint(col: Column | str) -> Column:
    """Canonical content fingerprint: md5 over the sorted distinct token
    set — invariant to token order and repetition, so permuted/near-
    boilerplate duplicates collide. Portable across engines (md5 is md5).
    """
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col))))
    return F.md5(canon)


# ---------------------------------------------------------------------------
# unigram-LM perplexity filtering (CCNet-style quality screen)
# ---------------------------------------------------------------------------


def unigram_model(
    df, text_col: str = "text", top_k: int = 256
) -> tuple[list[tuple[str, float]], float]:
    """Fit an add-one-smoothed unigram language model over a corpus and
    return it as a bounded literal table: ``([(token, logprob)], oov_logprob)``
    (the CCNet recipe — Wenzek et al., arXiv:1911.00359 — scores documents
    with a *pretrained* LM and filters on perplexity; the unigram tier is
    the engine-portable core of that screen).

    Model: with N = total token count, V = distinct token count, the
    probability of a seen token is (c+1)/(N+V+1) and of the single shared
    OOV type 1/(N+V+1); only the ``top_k`` most frequent tokens (ties by
    token ascending) are materialized — everything else scores as OOV,
    which is exactly the bounded-vocabulary contract a literal/broadcast
    model table needs at scale.

    Scale shape: one explode + map-side-combined count aggregate (state is
    O(vocabulary), not O(rows)), one scalar aggregate, one
    TakeOrderedAndProject top-k — the only driver materialization is the
    ``top_k``-row model itself, the same bounded-driver-scalar pattern as
    the sampler rate dicts. Log-probs are computed ONCE in Python and
    embedded as double literals, so a SQL oracle replaying the same
    integer counts through the same ``math.log`` reproduces every score
    bit-for-bit (no cross-engine transcendental drift: engines only ever
    ADD these literals).
    """
    import math

    if top_k <= 0:
        raise ValueError("top_k must be positive")
    toks = df.select(F.explode(tokens(text_col)).alias("tok"))
    # the count table feeds TWO driver jobs (scalar totals + top-k);
    # persist it so the tokenize+explode+aggregate pass runs once
    counts = (
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).persist()
    )
    try:
        tot = counts.agg(
            F.coalesce(F.sum("c"), F.lit(0)).alias("n"),
            F.count(F.lit(1)).alias("v"),
        ).collect()[0]
        n, v = int(tot["n"]), int(tot["v"])
        top = counts.orderBy(F.col("c").desc(), "tok").limit(top_k).collect()
    finally:
        counts.unpersist(blocking=False)
    denom = float(n + v + 1)
    model = [(r["tok"], math.log((r["c"] + 1) / denom)) for r in top]
    return model, math.log(1.0 / denom)


def perplexity_scores(
    df,
    model: list[tuple[str, float]],
    oov_logprob: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    tau: float | None = None,
):
    """Score documents against a fitted :func:`unigram_model` and
    optionally flag which pass a log-perplexity screen.

    Returns (id, n_tokens, oov_count, logprob_sum, avg_neg_logprob
    [, keep]): ``logprob_sum`` is the left-to-right fold of per-token
    log-probs seeded at 0.0 (fixed IEEE order — replayable),
    ``avg_neg_logprob`` is -(sum/n) (the log of perplexity; NULL for
    empty docs), and ``keep`` is ``n_tokens > 0 AND avg_neg_logprob <=
    tau`` — low perplexity = in-distribution text, the CCNet keep rule.

    Scale shape: the model rides in the plan as crc32-bucketed literal
    arrays (``functions/lookup.py`` — a probe costs O(top_k / buckets),
    not the O(top_k) linear scan a ``create_map`` literal costs under
    ``GetMapValue``), so the whole operator is ONE map-only projection —
    no join, no shuffle, linear in corpus bytes. For vocabularies too
    large to inline, the same semantics become a broadcast join on the
    exploded tokens plus a sorted-struct refold — measured SLOWER than
    the literal tier at every graded table size (SCALING.md
    "literal-table lookup A/B"); the literal tier is the fast path for
    the bounded models CCNet-style screens actually use.
    """
    from merchant_classification_spark.functions.lookup import (
        bucketed_lookup,
    )

    look = bucketed_lookup([(t, float(lp)) for t, lp in model])
    oov = F.lit(float(oov_logprob))
    # Expression shape: the token array is bound ONCE per row (the
    # transform(array(tokens), t -> …) binding idiom — see
    # _dsir_features), the per-token lookup values are bound ONCE as a
    # second-level array (one probe per token — the fold and the OOV
    # filter both read the bound values, where probing inside each
    # would double the lookup work), and the three aggregates come back
    # as one struct bound by a dedicated projection. Written as free
    # column expressions, tokens() re-ran its regex pipeline ~4× per
    # row (size, fold, filter, size again) — measured 7.0 s → 2.4 s for
    # the sf0.1 probe. CollapseProject keeps the struct projection
    # separate because `_s` is non-cheap and referenced repeatedly.
    # lookup: NULL (never an ANSI error) on a miss -> OOV fallback
    stats = F.element_at(
        F.transform(
            F.array(tokens(text_col)),
            lambda t: F.element_at(
                F.transform(
                    F.array(F.transform(t, look)),
                    lambda vs: F.struct(
                        F.size(t).alias("n"),
                        F.aggregate(
                            vs,
                            F.lit(0.0),
                            lambda a, v: a + F.coalesce(v, oov),
                        ).alias("lp_sum"),
                        F.size(
                            F.filter(vs, lambda v: v.isNull())
                        ).alias("n_oov"),
                    ),
                ),
                1,
            ),
        ),
        1,
    )
    bound = df.select(F.col(id_col), stats.alias("_s"))
    s = F.col("_s")
    n = s["n"]
    avg_neg = F.when(n > 0, -(s["lp_sum"] / n.cast("double")))
    cols = [
        F.col(id_col),
        n.cast("int").alias("n_tokens"),
        s["n_oov"].cast("int").alias("oov_count"),
        s["lp_sum"].alias("logprob_sum"),
        avg_neg.alias("avg_neg_logprob"),
    ]
    if tau is not None:
        cols.append(((n > 0) & (avg_neg <= F.lit(float(tau)))).alias("keep"))
    return bound.select(*cols)


#: bigram-key separator: 0x1F cannot occur inside a token (tokens keep
#: only [a-z0-9']), so "ab␟c" and "a␟bc" never collide
_BIGRAM_SEP = "\x1f"


def bigram_backoff_model(
    df,
    text_col: str = "text",
    top_k: int = 256,
    top_k2: int = 512,
    alpha: float = 0.4,
) -> tuple[list[tuple[str, float]], list[tuple[str, float]], float, float]:
    """Fit a stupid-backoff bigram LM (Brants et al. 2007, EMNLP —
    "Large Language Models in Machine Translation": the scoring rule
    built for DISTRIBUTED LMs, score = c(w₁w₂)/c(w₁) when the bigram is
    seen, else α·s_uni(w₂); no normalization at the bigram level, which
    is exactly what makes every score precomputable) over a corpus.

    Returns ``(uni_model, bigram_model, oov_logprob, log_alpha)``:
    ``uni_model`` is the add-one-smoothed unigram table of
    :func:`unigram_model`; ``bigram_model`` maps "w₁␟w₂" →
    ``log(c(w₁w₂)/c(w₁))`` for the ``top_k2`` most frequent bigrams
    (ties by pair ascending) whose FIRST word is in the unigram top-k —
    the bound that keeps c(w₁) available from the already-collected
    unigram table, so both literal tables stay bounded by construction.
    Backoff positions score ``log_alpha + uni`` — engines only ever ADD
    the Python-computed literals, so an external oracle replaying the
    same integer counts is bit-exact.

    Scale shape (round 11): ONE corpus pass fits BOTH tables — each
    row tokenizes once (bound via the one-element-array transform
    trick) and explodes its n unigram positions tagged ``w2 = NULL``
    concatenated with its n−1 bigram positions, into a single
    map-side-combined (w₁, w₂) count aggregate. The persisted counts
    frame (|vocab| + |distinct bigrams| rows — tiny next to the
    corpus) then serves the three bounded driver actions (totals,
    unigram top-k, bigram top-k2). The previous shape ran TWO corpus
    passes, each re-tokenizing — the regex tokenize was the dominant
    cost, making this the bench's most expensive member (6.8 s at
    sf0.1; the round-10 verdict's item #7). Trade-off, pinned
    deliberately: the single shuffle now carries ALL distinct bigrams
    where the two-pass form pre-filtered to w₁ ∈ top-k before its
    second shuffle — at scale the corpus re-scan dwarfs the extra
    distinct-pair shuffle rows (map-side combine bounds them per
    partition), so one pass wins. Integer counts and identical
    tie-break orders make the fitted tables — and every downstream
    double — bit-identical to the two-pass form (test-asserted).
    """
    import math

    if top_k <= 0 or top_k2 <= 0:
        raise ValueError("top_k and top_k2 must be positive")
    if not (0.0 < alpha <= 1.0):
        raise ValueError("alpha must be in (0, 1]")
    # one tokenize per row feeding both counts: unigram positions are
    # tagged with a NULL w2, bigram positions carry (w1, w2)
    combo_col = F.element_at(
        F.transform(
            F.array(tokens(text_col)),
            lambda t: F.concat(
                F.transform(
                    t,
                    lambda a: F.struct(
                        a.alias("w1"),
                        F.lit(None).cast("string").alias("w2"),
                    ),
                ),
                F.zip_with(
                    F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                    F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ),
        ),
        1,
    )
    counts = (
        df.select(F.explode(combo_col).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    try:
        uni_counts = counts.where(F.col("w2").isNull())
        # same math and tie-breaks as :func:`unigram_model`
        # (test-asserted), integer counts available for c(w₁)
        tot = uni_counts.agg(
            F.coalesce(F.sum("c"), F.lit(0)).alias("n"),
            F.count(F.lit(1)).alias("v"),
        ).collect()[0]
        n_tot, v = int(tot["n"]), int(tot["v"])
        top = (
            uni_counts.orderBy(F.col("c").desc(), "w1")
            .limit(top_k)
            .collect()
        )
        denom = float(n_tot + v + 1)
        uni_model = [
            (r["w1"], math.log((int(r["c"]) + 1) / denom)) for r in top
        ]
        oov_lp = math.log(1.0 / denom)
        prev_c = {r["w1"]: int(r["c"]) for r in top}
        top_bi = (
            counts.where(
                F.col("w2").isNotNull() & F.col("w1").isin(*prev_c.keys())
            )
            .orderBy(F.col("c").desc(), "w1", "w2")
            .limit(top_k2)
            .collect()
        )
    finally:
        counts.unpersist(blocking=False)
    bigram_model = [
        (
            r["w1"] + _BIGRAM_SEP + r["w2"],
            math.log(int(r["c"]) / prev_c[r["w1"]]),
        )
        for r in top_bi
    ]
    return uni_model, bigram_model, oov_lp, math.log(alpha)


def bigram_perplexity_scores(
    df,
    uni_model: list[tuple[str, float]],
    bigram_model: list[tuple[str, float]],
    oov_logprob: float,
    log_alpha: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    tau: float | None = None,
):
    """Score documents under a fitted :func:`bigram_backoff_model`.

    Position 1 scores the unigram table (OOV fallback); positions ≥ 2
    score the bigram table when the pair is present, else backoff:
    ``log_alpha +`` the unigram score of the current token.
    ``logprob_sum`` folds left-to-right seeded at the FIRST token's
    score (fixed IEEE order — replayable); ``n_backoff`` counts the
    pair positions that fell back. ``keep`` = ``n_tokens > 0 AND
    avg_neg_logprob <= tau``.

    Scale shape: both models ride as crc32-bucketed literal arrays
    (``functions/lookup.py`` — O(V/B) probes; the earlier ``create_map``
    encoding paid ``GetMapValue``'s O(V) linear scan at EVERY pair
    position and made this the single most expensive bench member), one
    map-only projection — the token array is bound once per row, the
    per-pair probe values are bound once (the fold and the backoff
    counter both read them — one table probe per pair position, where
    the map encoding probed twice), and all four outputs come back in
    one struct (the binding idiom; see :func:`perplexity_scores`). For
    vocabularies too large to inline, the same semantics become
    broadcast joins on the exploded pairs plus a sorted refold —
    measured slower at every graded table size (SCALING.md).

    Returns (id, n_tokens, n_backoff, logprob_sum, avg_neg_logprob
    [, keep]).
    """
    from merchant_classification_spark.functions.lookup import (
        bucketed_lookup,
    )

    look_u = bucketed_lookup([(t, float(lp)) for t, lp in uni_model])
    look_b = bucketed_lookup([(k, float(lp)) for k, lp in bigram_model])
    oov = F.lit(float(oov_logprob))
    la = F.lit(float(log_alpha))

    def uni(x):
        return F.coalesce(look_u(x), oov)

    def stats(t):
        s1 = F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0)))
        s2 = F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0)))
        # one bigram-table probe per pair position, bound as an array:
        # NULL marks a backoff position, so the score fold and the
        # backoff counter share the probes
        pv = F.zip_with(
            s1,
            s2,
            lambda a, b: look_b(F.concat(a, F.lit(_BIGRAM_SEP), b)),
        )

        def agg(pvs):
            pair_lps = F.zip_with(
                pvs, s2, lambda p, b: F.coalesce(p, la + uni(b))
            )
            first = uni(F.element_at(t, 1))
            return F.struct(
                F.size(t).alias("n"),
                F.when(
                    F.size(t) > 0,
                    F.aggregate(pair_lps, first, lambda a, x: a + x),
                )
                .otherwise(F.lit(0.0))
                .alias("lp_sum"),
                F.size(
                    F.filter(pvs, lambda p: p.isNull())
                ).alias("n_backoff"),
            )

        return F.element_at(F.transform(F.array(pv), agg), 1)

    bound = df.select(
        F.col(id_col),
        F.element_at(
            F.transform(F.array(tokens(text_col)), stats), 1
        ).alias("_s"),
    )
    s = F.col("_s")
    n = s["n"]
    avg_neg = F.when(n > 0, -(s["lp_sum"] / n.cast("double")))
    cols = [
        F.col(id_col),
        n.cast("int").alias("n_tokens"),
        s["n_backoff"].cast("int").alias("n_backoff"),
        s["lp_sum"].alias("logprob_sum"),
        avg_neg.alias("avg_neg_logprob"),
    ]
    if tau is not None:
        cols.append(((n > 0) & (avg_neg <= F.lit(float(tau)))).alias("keep"))
    return bound.select(*cols)


# ---------------------------------------------------------------------------
# DSIR: data selection via hashed n-gram importance resampling
# ---------------------------------------------------------------------------


def _dsir_features(col: Column | str) -> Column:
    """Unigram + adjacent-bigram feature array (bigrams joined with '_',
    which cannot appear inside a token — ``tokens`` keeps only
    ``[a-z0-9']``), unigrams first, both in document order: the fixed
    fold order every engine replays.

    Expression shape matters ~40× here, twice over:

    1. Bigrams are ``zip_with`` over two slices, NOT
       ``transform(sequence(…), i → element_at(t, i))``: a free
       reference to ``t`` inside a lambda re-evaluates PER ELEMENT, and
       ``t`` is the whole tokenize (regex+split) expression — the index
       form re-tokenized the document twice per bigram, O(tokens²)
       regex work per row (measured: 130 s for the sf0.1 vocab suite).
    2. The token array is BOUND ONCE per row as a lambda variable (the
       ``transform(array(tokens), t → …)`` binding idiom, same as
       ``span_table``): written as a plain column expression, ``t``
       appears 4× row-level (two slices, size, concat) and codegen CSE
       does not share it across the lambda boundary — each extra
       occurrence re-runs the regex pipeline (measured: ~2 s → ~0.6 s
       per sf0.1 pass).

    Empty/1-token documents produce no bigrams (slice length 0 → empty
    array; equal slice lengths → no null padding)."""
    return F.element_at(
        F.transform(
            F.array(tokens(col)),
            lambda t: F.concat(
                t,
                F.zip_with(
                    F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                    F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                    lambda a, b: F.concat(a, F.lit("_"), b),
                ),
            ),
        ),
        1,
    )


def dsir_logratios(
    df,
    text_col: str,
    is_target: Column,
    n_buckets: int = 128,
) -> list[float]:
    """Fit the DSIR importance model (Xie et al. 2023, arXiv:2302.03169):
    hashed uni+bigram features bucketed by ``md5_long60(feature) %
    n_buckets``, add-one-smoothed bag-of-buckets models for the target
    subcorpus (rows where ``is_target``) and the raw corpus (all rows),
    returned as the per-bucket literal list ``log p_target(b) −
    log p_raw(b)``.

    Both models come from ONE pass: a single explode + count/conditional
    -count aggregate whose state is O(n_buckets), followed by an
    ``n_buckets``-row collect — the bounded-driver-scalar pattern (same
    as the sampler rate dicts). Log-ratios are computed once in Python
    and embedded as double literals, so scoring engines only ever ADD
    them: an external SQL oracle replaying the same integer counts
    through the same ``math.log`` is bit-exact.
    """
    import math

    from merchant_classification_spark.functions.portable_hash import md5_long60

    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    b = df.select(
        is_target.alias("w"),
        F.explode(
            F.transform(
                _dsir_features(text_col),
                lambda f: F.pmod(md5_long60(f), F.lit(n_buckets)),
            )
        ).alias("b"),
    )
    rows = (
        b.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("c_raw"),
            F.sum(F.when(F.col("w"), 1).otherwise(0)).alias("c_tgt"),
        )
        .collect()
    )
    raw = {int(r["b"]): int(r["c_raw"]) for r in rows}
    tgt = {int(r["b"]): int(r["c_tgt"]) for r in rows}
    n_raw = sum(raw.values())
    n_tgt = sum(tgt.values())
    d_raw = float(n_raw + n_buckets)
    d_tgt = float(n_tgt + n_buckets)
    return [
        math.log((tgt.get(i, 0) + 1) / d_tgt)
        - math.log((raw.get(i, 0) + 1) / d_raw)
        for i in range(n_buckets)
    ]


def dsir_scores(
    df,
    logratios: list[float],
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Score documents with a fitted :func:`dsir_logratios` model:
    ``dsir_logratio`` is the left-to-right sum (seeded at 0.0 — fixed
    IEEE order) of the per-feature bucket log-ratios, i.e. the DSIR
    importance log-weight ``log p_target(doc) − log p_raw(doc)`` under
    the hashed bag-of-buckets model; ``keep`` marks target-leaning
    documents (positive weight, non-empty).

    Scale shape: the model rides in the plan as an ``n_buckets`` double
    literal array, so scoring is ONE map-only codegen projection — no
    join, no shuffle, linear in corpus bytes (the actual DSIR selection
    step — rank by weight or Gumbel-top-k resample — composes downstream
    with the engine's top-k / weighted-sample operators).

    Returns (id, n_features, dsir_logratio, keep).
    """
    from merchant_classification_spark.functions.portable_hash import md5_long60

    n_buckets = len(logratios)
    if n_buckets == 0:
        raise ValueError("logratios must be non-empty")
    # one F.expr of sql_lit text: one py4j call (F.lit(list) is
    # F.array(*lits), one call per bucket), constant-folded to ONE array
    # Literal, so the transform lambda below never rebuilds it per element
    lit = F.expr(sql_lit(logratios, "array<double>"))

    # bind the feature array ONCE per row (one-element-array lambda +
    # dedicated select): naively, (fold, size, keep) reference the
    # feature expression — which embeds the tokenize regex — 4× per row
    # and codegen CSE does not share across lambda boundaries, so each
    # reference re-ran the regex (round-7 fix, same trap as the fit)
    def fold(fs):
        vals = F.transform(
            fs,
            lambda f: F.element_at(
                lit,
                (F.pmod(md5_long60(f), F.lit(n_buckets)) + 1).cast("int"),
            ),
        )
        return F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)

    bound = df.select(
        F.col(id_col),
        F.element_at(
            F.transform(
                F.array(_dsir_features(text_col)),
                lambda fs: F.struct(
                    F.size(fs).alias("n"), fold(fs).alias("s")
                ),
            ),
            1,
        ).alias("_sn"),
    )
    n = F.col("_sn").getField("n")
    s = F.col("_sn").getField("s")
    return bound.select(
        F.col(id_col),
        n.cast("int").alias("n_features"),
        s.alias("dsir_logratio"),
        ((n > 0) & (s > F.lit(0.0))).alias("keep"),
    )
