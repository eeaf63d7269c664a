"""BM25 lexical retrieval scoring over a document corpus.

Training-data pipelines use lexical retrieval for quality-targeted
selection (pull documents similar to a trusted seed set), decontamination
triage, and eval-set construction; BM25 (Robertson/Spärck Jones's Okapi
weighting) is the standard scorer. The reference engine has no retrieval
tier (its similarity surface is embedding ANN); this implements the
classic bag-of-words twin so a query set can be scored corpus-wide as a
single map-only projection.

Engine-portability discipline (same as ``tfidf.py`` / the DSIR fit): the
corpus statistics — per-term document frequency, average document length
— are computed in ONE bounded aggregate pass, converted to double
literals in Python, and baked into the scoring expression, so an external
SQL oracle replaying the same integer counts through the same ``math.log``
reproduces every score bit-for-bit (engines only ever multiply/add the
same literals in the same order).
"""

from __future__ import annotations

import math
import numbers

from pyspark.sql import Column, DataFrame, functions as F

from merchant_classification_spark.functions.literals import (
    literal_table,
    sql_lit,
)
from merchant_classification_spark.functions.text_analysis import tokens


def bm25_fit(
    df: DataFrame, query_terms: list[str], text_col: str = "text"
) -> tuple[list[tuple[str, float]], float]:
    """Corpus statistics for :func:`bm25_scores`: returns
    ``([(term, idf)], avgdl)`` with ``idf = ln(1 + (N − df + 0.5)/(df +
    0.5))`` (the non-negative Robertson–Spärck Jones form) and ``avgdl``
    the mean token count.

    Scale shape: ONE aggregate pass — the token array is bound once per
    row (the ``transform(array(tokens), …)`` binding idiom, see
    ``dedup.shingles``) into a struct carrying the doc length and a
    ROLLED per-term flags array (``transform`` over the term literal,
    one ``F.expr`` of ``sql_lit`` text — one py4j call regardless of
    |terms|, where ``F.lit(list)`` makes one per term; the unrolled one-
    ``array_contains``-column-per-term form cost ~0.6 s of pure driver
    expression construction at 27 terms, round 11), then a single
    scalar aggregate reduces to |terms| + 2 driver scalars (the
    bounded-driver-scalar pattern — the per-term df sums ride as ONE
    ``array(sum(...), …)`` aggregate rendered as SQL text). No explode,
    no shuffle beyond the partial-aggregate merge. The returned model
    floats depend only on these integer counts, so the restructuring
    cannot move any downstream score by a bit.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct")
    terms_lit = F.expr(sql_lit(query_terms, "array<string>"))
    stats = F.element_at(
        F.transform(
            F.array(tokens(text_col)),
            lambda t: F.struct(
                F.size(t).alias("dl"),
                F.transform(
                    terms_lit, lambda tm: F.array_contains(t, tm)
                ).alias("flags"),
            ),
        ),
        1,
    )
    bound = df.select(stats.alias("_s"))
    dfs_sql = (
        "array("
        + ",".join(
            f"sum(if(_s.flags[{i}], 1, 0))" for i in range(len(query_terms))
        )
        + ")"
    )
    row = bound.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col("_s")["dl"]), F.lit(0)).alias("dl_sum"),
        F.expr(dfs_sql).alias("dfs"),
    ).collect()[0]
    n = int(row["n"])
    if n == 0:
        raise ValueError("cannot fit BM25 statistics on an empty corpus")
    avgdl = float(row["dl_sum"]) / float(n)
    dfs = row["dfs"]
    model = [
        (
            term,
            math.log(
                1.0 + (n - int(dfs[i]) + 0.5) / (int(dfs[i]) + 0.5)
            ),
        )
        for i, term in enumerate(query_terms)
    ]
    return model, avgdl


def bm25_scores(
    df: DataFrame,
    model: list[tuple[str, float]],
    avgdl: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every document against a fitted BM25 model:
    ``bm25 = Σ_terms idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``,
    accumulated left-to-right in the model's term order (fixed IEEE
    order — replayable); ``matched`` counts query terms present.

    Scale shape: the model is |terms| literals in the plan, so scoring is
    ONE map-only codegen projection — no join, no shuffle, linear in
    corpus bytes; ranking composes downstream with the engine's top-k
    operators. Term frequencies come from ``F.filter`` inside the same
    bound-token lambda, so the document is tokenized exactly once.

    Returns (id, n_tokens, matched, bm25).
    """
    if not model:
        raise ValueError("model must be non-empty")
    if avgdl <= 0:
        raise ValueError("avgdl must be positive")

    def score_struct(t: Column) -> Column:
        dl = F.size(t)
        norm = F.lit(float(k1)) * (
            F.lit(1.0 - b) + F.lit(float(b)) * (dl.cast("double") / F.lit(float(avgdl)))
        )
        s: Column = F.lit(0.0)
        matched: Column = F.lit(0)
        for term, idf in model:
            tf = F.size(F.filter(t, lambda x: x == F.lit(term))).cast("double")
            s = s + F.lit(float(idf)) * tf * F.lit(float(k1 + 1.0)) / (tf + norm)
            matched = matched + F.when(tf > 0, 1).otherwise(0)
        return F.struct(
            dl.cast("int").alias("n_tokens"),
            matched.alias("matched"),
            s.alias("bm25"),
        )

    stats = F.element_at(
        F.transform(F.array(tokens(text_col)), score_struct), 1
    )
    bound = df.select(F.col(id_col), stats.alias("_s"))
    return bound.select(
        F.col(id_col),
        F.col("_s")["n_tokens"].alias("n_tokens"),
        F.col("_s")["matched"].alias("matched"),
        F.col("_s")["bm25"].alias("bm25"),
    )


def query_term_sets(
    texts: list[tuple[object, str]], per_query: int
) -> list[tuple[object, list[str]]]:
    """Driver-side query→term extraction for per-query retrieval: the
    first ``per_query`` DISTINCT tokens of each query text, in document
    order — the same ``[^a-z0-9']+``-on-lower tokenization as
    :func:`~merchant_classification_spark.functions.text_analysis.tokens`,
    replayed in plain Python because the selection runs ONCE on the
    bounded query set and its output becomes plan literals (the
    shared-fit discipline: an oracle reruns this same function on the
    same texts, so no cross-engine tokenizer parity is needed).

    Returns ``[(query_id, [term, ...]), ...]`` preserving input order;
    queries with no tokens get an empty list (callers should skip them
    — BM25 of an empty term set is degenerate).
    """
    import re

    if per_query <= 0:
        raise ValueError("per_query must be positive")
    out: list[tuple[object, list[str]]] = []
    for qid, text in texts:
        cleaned = re.sub(r"[^a-z0-9']+", " ", (text or "").lower()).strip()
        toks = cleaned.split(" ") if cleaned else []
        seen: list[str] = []
        for t in toks:
            if t and t not in seen:
                seen.append(t)
                if len(seen) >= per_query:
                    break
        out.append((qid, seen))
    return out


def rrf_fuse(
    lex: DataFrame,
    sem: DataFrame,
    k: int = 10,
    k_rrf: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_lex_col: str = "rank_lex",
    rank_sem_col: str = "rank_sem",
) -> DataFrame:
    """Reciprocal rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    of two ranked candidate lists — the standard hybrid-retrieval
    combiner (lexical BM25 ⊕ embedding ANN): per (query, doc),
    ``rrf = Σ_legs 1/(k_rrf + rank)``, a missing leg contributing 0,
    then top-``k`` per query by (rrf DESC, id).

    Rank-only fusion is the point: the legs' raw scores never mix (no
    calibration problem), and because ranks are INTEGERS the fused
    doubles are the same two divisions and one add in any engine —
    bit-exact replayable with no float-order ceremony.

    Scale shape: both legs arrive already top-N-per-query (bounded:
    |queries|·N rows), so the full-outer join and the re-rank window
    are driver-trivial at any corpus size — the heavy lifting happened
    inside the legs, which scan the corpus map-side.

    Returns (query_col, id_col, rank_lex, rank_sem, rrf, rank) — leg
    ranks NULL where a doc appeared in only one list.
    """
    from merchant_classification_spark.operators.relational import group_topk

    l = lex.select(query_col, id_col, rank_lex_col)
    s = sem.select(query_col, id_col, rank_sem_col)
    fused = l.join(s, [query_col, id_col], "full_outer").select(
        query_col,
        id_col,
        rank_lex_col,
        rank_sem_col,
        (
            F.coalesce(
                F.lit(1.0)
                / (F.lit(k_rrf) + F.col(rank_lex_col)).cast("double"),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0)
                / (F.lit(k_rrf) + F.col(rank_sem_col)).cast("double"),
                F.lit(0.0),
            )
        ).alias("rrf"),
    )
    return group_topk(
        fused,
        [query_col],
        [F.col("rrf").desc(), F.col(id_col)],
        k,
        keep_rank=True,
    )


def _check_qids(query_models: list[tuple[object, list]]) -> None:
    """Query ids in the multi-query scorers become a BIGINT output
    column; a non-integral qid (e.g. a string id) would silently cast
    to NULL and corrupt every row of that query — fail loudly instead
    and let the caller map external ids to ints first. Any
    ``numbers.Integral`` is accepted (``numpy.int64`` qids arrive
    naturally from pandas-built query batches and were valid inputs
    before this guard existed — round-10 advice); bool is excluded
    because a True/False qid is always a caller bug, not an id."""
    for qid, _ in query_models:
        if isinstance(qid, bool) or not isinstance(qid, numbers.Integral):
            raise TypeError(
                f"query_id must be an integer (got {type(qid).__name__}: "
                f"{qid!r}); map external ids to ints before scoring"
            )


def bm25_scores_multi(
    df: DataFrame,
    query_models: list[tuple[object, list[tuple[str, float]]]],
    avgdl: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every document against a BATCH of per-query BM25 models in
    ONE corpus pass — the multi-query form of :func:`bm25_scores`
    (which bakes a single term list). Scoring N queries as N separate
    ``bm25_scores`` branches re-reads and re-tokenizes the corpus N
    times; here the document is tokenized ONCE, each UNION term's tf is
    computed ONCE (queries share tf cells — query term sets overlap in
    practice), and each query's score is the same left-to-right chain
    over ITS term order referencing the shared tf array, so every
    double is bit-identical to the one-query formulation (same
    arithmetic, same order — only the expression sharing changed).

    ``query_models`` is ``[(query_id, [(term, idf), ...]), ...]`` —
    idfs come from one corpus-level :func:`bm25_fit` over the union
    term set.

    Returns (id_col, query_id, bm25) — |docs|·|queries| rows; compose
    with a per-query top-k downstream (WindowGroupLimit keeps the
    shuffle bounded).

    Plan-size discipline (round 11): the tf array and the per-query
    chains are higher-order functions over LITERAL arrays
    (``transform`` over the union-term literal; ``zip_with`` of each
    query's (idf, tf-index) literal arrays folded with ``aggregate``),
    not O(|queries|·|union terms|) unrolled expression nodes — and the
    WHOLE scoring expression is rendered as ONE SQL string
    (``functions/literals.py``'s discipline: the py4j/Column form of the
    same HOF tree cost ~1.0 s per call at 8 queries and ~2.2 s at 24 in
    pure driver round trips, measured; the SQL text parses in ~ms). The
    VALUES are unchanged bit-for-bit: element count/order, the
    ((idf·tf)·(k1+1))/(tf+norm) contribution shape, and the
    left-to-right 0.0-seeded fold are all identical IEEE operations in
    the identical order (pinned by test_retrieval_multi_hof_identity
    against the unrolled pre-round-11 reference, plus the oracle's
    bit-exact replay of hybrid_retrieval/bm25_auto).
    """
    if not query_models:
        raise ValueError("query_models must be non-empty")
    if avgdl <= 0:
        raise ValueError("avgdl must be positive")
    _check_qids(query_models)
    from merchant_classification_spark.functions.text_analysis import (
        tokens_sql,
    )

    union_terms: list[str] = []
    for _, model in query_models:
        for term, _ in model:
            if term not in union_terms:
                union_terms.append(term)
    t_ix = {term: i for i, term in enumerate(union_terms)}

    terms_sql = sql_lit(union_terms, "array<string>")

    def dbl(x: float) -> str:
        # bit-exact repr round trip (functions/literals.py)
        return sql_lit(x, "double")

    # norm = k1 * ((1 - b) + b * (dl / avgdl))
    norm_sql = (
        f"{dbl(k1)} * ({dbl(1.0 - b)} + {dbl(b)} * "
        f"(CAST(size(_t) AS DOUBLE) / {dbl(avgdl)}))"
    )
    # one tf cell per union term, in union order
    tfs_sql = (
        f"transform({terms_sql}, _tm -> "
        f"CAST(size(filter(_t, _x -> _x = _tm)) AS DOUBLE))"
    )
    k1p1 = dbl(k1 + 1.0)
    per_query = []
    for qid, model in query_models:
        # per-term contributions in the query's term order:
        # ((idf · tf) · (k1+1)) / (tf + norm), then the left-to-right
        # fold seeded at 0.0 — identical IEEE adds in identical order
        idfs = sql_lit([idf for _, idf in model], "array<double>")
        idxs = sql_lit([t_ix[term] + 1 for term, _ in model], "array<int>")
        contribs = (
            f"zip_with({idfs}, {idxs}, (_idf, _ix) -> "
            f"_idf * element_at(_b.tfs, CAST(_ix AS INT)) * {k1p1} / "
            f"(element_at(_b.tfs, CAST(_ix AS INT)) + _b.norm))"
        )
        s = f"aggregate({contribs}, 0.0D, (_acc, _x) -> _acc + _x)"
        per_query.append(
            f"named_struct('query_id', {sql_lit(qid, 'bigint')}, "
            f"'bm25', {s})"
        )
    # bind (tfs, norm) once — every query's chain reads the same
    # evaluated cells instead of re-inlining the token filters; the
    # outer one-element-array binds the token array once per row
    entries_sql = (
        f"element_at(transform(array(named_struct("
        f"'tfs', {tfs_sql}, 'norm', {norm_sql})), "
        f"_b -> array({','.join(per_query)})), 1)"
    )
    arr_sql = (
        f"element_at(transform(array({tokens_sql(f'`{text_col}`')}), "
        f"_t -> {entries_sql}), 1)"
    )
    arr = F.expr(arr_sql)
    return df.select(F.col(id_col), F.explode(arr).alias("_e")).select(
        F.col(id_col),
        F.col("_e")["query_id"].alias("query_id"),
        F.col("_e")["bm25"].alias("bm25"),
    )


#: literal→inverted dispatch threshold for :func:`bm25_scores_auto`,
#: from the measured round-10 crossover (SCALING.md): literal plan
#: build grows ~linearly in |queries| (2.5 s at 8 → 15.4 s at 128)
#: while the inverted plan is flat; execution favors the literal form
#: below the crossover (no explode, shared tf cells). Measured
#: crossover lands between 8 and 32 queries — 16 splits the band.
BM25_AUTO_THRESHOLD = 16


def bm25_scores_auto(
    df: DataFrame,
    query_models: list[tuple[object, list[tuple[str, float]]]],
    avgdl: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    threshold: int = BM25_AUTO_THRESHOLD,
) -> DataFrame:
    """Dispatch between the literal multi-query scorer (small batches:
    fastest per corpus row, but plan size O(|q|·|union terms|)) and the
    inverted-index tier (plan O(1) in |q|) on the measured crossover.
    Safe to switch on batch size because the two produce BIT-IDENTICAL
    scores for matched pairs — the only shape difference is that the
    inverted form omits unmatched pairs, which the literal form emits
    with bm25 = 0.0 exactly; ``matched_only`` makes the output shapes
    identical for either branch (and is the form any top-k consumer
    wants anyway).

    Return contract: one row per MATCHED (doc, query) pair — a query
    whose terms match zero documents is ABSENT from the output
    entirely (either branch). Callers that need every query id present
    (e.g. to report "no results" per query) must left-join the output
    back to their query list; this operator does not invent zero-score
    rows."""
    if len(query_models) <= threshold:
        out = bm25_scores_multi(
            df, query_models, avgdl, text_col, id_col, k1=k1, b=b
        )
        return out.where(F.col("bm25") > 0.0)
    return bm25_scores_inverted(
        df, query_models, avgdl, text_col, id_col, k1=k1, b=b
    )


def bm25_scores_inverted(
    df: DataFrame,
    query_models: list[tuple[object, list[tuple[str, float]]]],
    avgdl: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Inverted-index twin of :func:`bm25_scores_multi` for UNBOUNDED
    query batches: explode document tokens, join a broadcast
    (term, query, idf) table, aggregate per-(doc, query) — the plan is
    O(1) in the number of queries, where the literal form compiles
    O(|queries| · |union terms|) scoring branches into the plan
    (codegen/Janino blow up at production query counts; the literal
    form stays the small-batch fast path — no scan of non-query tokens
    ever leaves the map side there).

    BIT-IDENTICAL scores for every MATCHED (doc, query) pair, by
    construction: a term with tf = 0 contributes ``idf·0·(k1+1)/(0 +
    norm) = +0.0`` to the literal chain, and ``x + 0.0 == x`` exactly
    for the non-negative partial sums BM25 produces, so the literal
    chain over ALL the query's terms equals the same left-to-right
    chain over just its PRESENT terms. This operator therefore sorts
    each pair's per-term contributions by the term's position in the
    query model and folds them seeded at 0.0 — the identical IEEE adds
    in the identical order (asserted against the literal form in
    tests/test_retrieval_inverted.py). The one shape difference:
    UNMATCHED pairs are absent here, where the literal form emits them
    with bm25 = 0.0 exactly (idf > 0 always, so matched ⟺ bm25 > 0 —
    filter the literal output on ``bm25 > 0`` to compare). Downstream
    top-k per query is unaffected whenever every query has ≥ k matched
    documents.

    Scale shape: the term table is |Σ model terms| rows — broadcast,
    riding as ONE folded array-of-structs literal below
    ``literal_table``'s row cap (no ``createDataFrame`` parallelize
    round trip — ~0.3 s of fixed driver cost per call, round 11) and
    as a plain ``createDataFrame`` local relation above it. The corpus
    side explodes to one row per token occurrence, but the broadcast
    hash join discards non-query tokens before any shuffle; only
    matched (doc, query, term-position) triples reach the
    count-aggregate, and the per-pair ordered fold runs over ≤ |query
    terms| elements. One corpus pass, one bounded shuffle, and the
    plan's OPERATOR/CODEGEN shape is constant in |queries| — only the
    one folded data literal grows, bounded by the cap (asserted in
    tests/test_retrieval_inverted.py). (A filter-the-token-array-before-explode
    variant was A/B'd and is NOT faster — 3.4 vs 3.3 s at 64 queries
    on sf0.1, outputs identical: the explode is pipelined codegen and
    the broadcast hash probe prunes as cheaply as a literal
    array_contains scan, without the O(|union terms|) per-token cost
    that the literal filter would add at production term counts.)
    """
    if not query_models:
        raise ValueError("query_models must be non-empty")
    if avgdl <= 0:
        raise ValueError("avgdl must be positive")
    _check_qids(query_models)

    term_rows = []
    for qid, model in query_models:
        if not model:
            raise ValueError(f"query {qid!r} has an empty term model")
        for pos, (term, idf) in enumerate(model):
            term_rows.append((term, int(qid), pos, float(idf)))
    spark = df.sparkSession
    # literal_table: the bounded (term, query, idf) dimension rides as a
    # folded plan literal instead of an RDD parallelize — same rows,
    # same types, ~0.3 s less fixed cost per call (round 11); batches
    # past the literal cap fall back to createDataFrame automatically
    terms = literal_table(
        spark, term_rows, "term string, query_id long, term_pos int, idf double"
    )

    exploded = df.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(
        F.col(id_col),
        F.size("_toks").alias("_dl"),
        F.explode("_toks").alias("term"),
    )
    # one row per (doc, query, term) with its occurrence count; _dl/idf
    # are constant within the group — max() just carries them through
    tf = (
        exploded.join(F.broadcast(terms), "term")
        .groupBy(F.col(id_col), F.col("query_id"), F.col("term_pos"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("_tf"),
            F.max("_dl").alias("_dl"),
            F.max("idf").alias("_idf"),
        )
    )
    # per-term contribution in the literal chain's exact expression
    # order: ((idf · tf) · (k1+1)) / (tf + norm)
    norm = F.lit(float(k1)) * (
        F.lit(1.0 - b)
        + F.lit(float(b)) * (F.col("_dl").cast("double") / F.lit(float(avgdl)))
    )
    contrib = (
        F.col("_idf") * F.col("_tf") * F.lit(float(k1 + 1.0))
        / (F.col("_tf") + norm)
    )
    scored = tf.withColumn("_c", contrib)
    # ordered fold: sort the pair's contributions by query-term position
    # and accumulate left-to-right from 0.0 (the literal chain's order)
    return (
        scored.groupBy(F.col(id_col), F.col("query_id"))
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("term_pos").alias("p"),
                            F.col("_c").alias("c"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["c"],
            ).alias("bm25")
        )
        .select(F.col(id_col), F.col("query_id"), F.col("bm25"))
    )
