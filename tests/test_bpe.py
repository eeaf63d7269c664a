"""BPE tokenizer tier: deterministic fit, encode replay, Spark scoring.

The fit is verified against an independent naive reference (textbook
Sennrich get_stats/merge loop, written from the paper, not from
functions/bpe.py) on hand cases and hypothesis-fuzzed word tables; the
Spark scoring path is verified against a pure-Python recount; and the
pack/budget-mix integration shows BPE counts flowing through the token
budgeting operators.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from merchant_classification_spark.functions.bpe import (
    bpe_token_counts,
    corpus_word_freq,
    encode_word,
    fit_bpe,
)


def naive_fit(word_freq, num_merges, min_pair_freq=2):
    """Independent reference: the paper's loop, dicts rebuilt each round."""
    segs = {w: list(w) for w in word_freq if w}
    merges = []
    for _ in range(num_merges):
        stats = {}
        for w, syms in segs.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                stats[p] = stats.get(p, 0) + word_freq[w]
        if not stats:
            break
        best_freq = max(stats.values())
        if best_freq < min_pair_freq:
            break
        best = sorted(p for p in stats if stats[p] == best_freq)[0]
        merges.append(best)
        for w in segs:
            syms = segs[w]
            out = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(best[0] + best[1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segs[w] = out
    return merges, {w: len(s) for w, s in segs.items()}


def test_fit_matches_naive_hand_case():
    wf = {"lower": 5, "low": 7, "newest": 6, "widest": 3}
    merges, wnt = fit_bpe(wf, 10, min_pair_freq=2)
    n_merges, n_wnt = naive_fit(wf, 10, min_pair_freq=2)
    assert merges == n_merges
    assert wnt == n_wnt
    # the classic example merges 'es','est','lo','low' (orders may vary
    # by tie-break, but 'lo' must appear and 'low' collapses to 1-2 toks)
    assert ("l", "o") in merges
    assert wnt["low"] <= 2


def test_fit_deterministic_and_tiebreak():
    # all pairs equal freq -> lexicographically smallest merges first
    wf = {"ab": 2, "cd": 2, "ef": 2}
    merges, _ = fit_bpe(wf, 3, min_pair_freq=2)
    assert merges == [("a", "b"), ("c", "d"), ("e", "f")]
    assert fit_bpe(wf, 3, min_pair_freq=2) == fit_bpe(wf, 3, min_pair_freq=2)


def test_fit_overlapping_pairs_counted_like_reference():
    # 'aaa' contributes 2 to (a,a); greedy left pass yields ['aa','a']
    wf = {"aaa": 3}
    merges, wnt = fit_bpe(wf, 1, min_pair_freq=2)
    assert merges == [("a", "a")]
    assert wnt["aaa"] == 2
    assert naive_fit(wf, 1, 2) == (merges, wnt)


def test_min_pair_freq_stops_fit():
    wf = {"ab": 1, "cd": 1}
    merges, wnt = fit_bpe(wf, 5, min_pair_freq=2)
    assert merges == []
    assert wnt == {"ab": 2, "cd": 2}


def test_encode_word_replays_fit_segmentation():
    wf = {"lower": 5, "low": 7, "newest": 6, "widest": 3, "a'b": 2}
    merges, wnt = fit_bpe(wf, 8, min_pair_freq=2)
    for w in wf:
        assert len(encode_word(w, merges)) == wnt[w], w
    # OOV word with no applicable merges stays at char granularity
    assert encode_word("xyzq", merges) == ["x", "y", "z", "q"]


@settings(max_examples=60, deadline=None)
@given(
    st.dictionaries(
        st.text(alphabet="ab'c", min_size=1, max_size=8),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=0, max_value=12),
)
def test_fit_fuzz_matches_naive(wf, num_merges):
    assert fit_bpe(wf, num_merges) == naive_fit(wf, num_merges)
    merges, wnt = fit_bpe(wf, num_merges)
    for w in wf:
        if w:
            assert len(encode_word(w, merges)) == wnt[w]


TOKEN_RE = re.compile(r"[^a-z0-9']+")


def py_tokens(text):
    if text is None:
        return []
    cleaned = TOKEN_RE.sub(" ", text.lower()).strip()
    return cleaned.split(" ") if cleaned else []


@pytest.fixture(scope="module")
def tiny_docs(spark):
    rows = [
        (0, "low low lower newest"),
        (1, "widest newest low"),
        (2, ""),  # zero-token doc must survive with zeros
        (3, None),  # null text behaves as empty
        (4, "zebra low"),  # zebra can fall OOV under a tight cap
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_spark_counts_match_python(spark, tiny_docs):
    wf = corpus_word_freq(tiny_docs, "text", 4096)
    # python recount of the same corpus agrees with the Spark aggregate
    exp_wf = {}
    for _, t in [(0, "low low lower newest"), (1, "widest newest low"),
                 (2, ""), (3, None), (4, "zebra low")]:
        for w in py_tokens(t):
            exp_wf[w] = exp_wf.get(w, 0) + 1
    assert wf == exp_wf
    _, wnt = fit_bpe(wf, 10)
    out = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"], r["n_oov"])
        for r in bpe_token_counts(spark, tiny_docs, wnt).collect()
    }
    assert set(out) == {0, 1, 2, 3, 4}
    assert out[2] == (0, 0, 0) and out[3] == (0, 0, 0)
    for doc_id, text in [(0, "low low lower newest"),
                         (1, "widest newest low"), (4, "zebra low")]:
        words = py_tokens(text)
        exp = (
            len(words),
            sum(wnt.get(w, len(w)) for w in words),
            sum(1 for w in words if w not in wnt),
        )
        assert out[doc_id] == exp, doc_id


def test_oov_fallback_under_vocab_cap(spark, tiny_docs):
    # cap the vocab to the 3 most frequent words: the rest go OOV and
    # count at char granularity
    wf = corpus_word_freq(tiny_docs, "text", 3)
    assert len(wf) == 3 and "low" in wf  # freq-desc cap keeps the head
    _, wnt = fit_bpe(wf, 10)
    out = {
        r["doc_id"]: r for r in bpe_token_counts(spark, tiny_docs, wnt).collect()
    }
    assert out[4]["n_oov"] >= 1  # zebra is outside the capped vocab
    words4 = py_tokens("zebra low")
    assert out[4]["n_bpe_tokens"] == sum(
        wnt.get(w, len(w)) for w in words4
    )


def test_empty_vocab_rejected(spark, tiny_docs):
    with pytest.raises(ValueError):
        bpe_token_counts(spark, tiny_docs, {})
    with pytest.raises(ValueError):
        corpus_word_freq(tiny_docs, "text", 0)
    with pytest.raises(ValueError):
        fit_bpe({"ab": 1}, -1)


def test_pack_and_budget_mix_accept_bpe_counts(spark, tiny_docs):
    from merchant_classification_spark.operators.chunking import pack_documents
    from merchant_classification_spark.operators.sampling import budget_mix

    wf = corpus_word_freq(tiny_docs, "text", 4096)
    _, wnt = fit_bpe(wf, 10)
    counts = bpe_token_counts(spark, tiny_docs, wnt)
    docs = tiny_docs.join(counts, "doc_id")

    packed = pack_documents(
        docs, "doc_id", "text", budget=4, n_tokens_col="n_bpe_tokens"
    ).collect()
    got = {r["doc_id"]: r for r in packed}
    # zero-token docs are excluded; sizes are the BPE counts
    cnt = {r["doc_id"]: r["n_bpe_tokens"] for r in counts.collect()}
    assert set(got) == {d for d, n in cnt.items() if n > 0}
    # replay the offset rule in python over id order
    cum = 0
    for d in sorted(got):
        assert got[d]["n_tokens"] == cnt[d]
        assert got[d]["pack_id"] == cum // 4
        assert got[d]["pack_offset"] == cum % 4
        cum += cnt[d]

    mixed = budget_mix(
        docs.withColumn("source", (docs.doc_id % 2).cast("string")),
        ["doc_id"],
        "source",
        "n_bpe_tokens",
        default_budget=5,
    ).collect()
    # per source, admitted sizes obey the crossing-document rule
    by_src = {}
    for r in mixed:
        by_src.setdefault(r["source"], []).append(r)
    for src, rows in by_src.items():
        rows.sort(key=lambda r: r["mix_rank"])
        for r in rows:
            assert r["cum_size"] - r["n_bpe_tokens"] < 5  # started in budget


def test_bpe_segment_matches_counts_and_replay(spark, tiny_docs):
    from merchant_classification_spark.functions.bpe import bpe_segment

    wf = corpus_word_freq(tiny_docs, "text", 4096)
    merges, wnt = fit_bpe(wf, 10)
    segs = {
        r["doc_id"]: (list(r["bpe_tokens"]), r["n_bpe_tokens"])
        for r in bpe_segment(spark, tiny_docs, merges, wf).collect()
    }
    counts = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_counts(spark, tiny_docs, wnt).collect()
    }
    assert set(segs) == set(counts)
    for d, (toks, n) in segs.items():
        assert n == len(toks) == counts[d], d
    # replay doc 0 in python: fitted segmentation per word, in order
    expect = []
    for w in py_tokens("low low lower newest"):
        expect.extend(encode_word(w, merges))
    assert segs[0][0] == expect
    # empty/null docs -> empty arrays
    assert segs[2] == ([], 0) and segs[3] == ([], 0)


def test_bpe_segment_oov_chars(spark, tiny_docs):
    from merchant_classification_spark.functions.bpe import bpe_segment

    wf = corpus_word_freq(tiny_docs, "text", 3)  # tight cap -> zebra OOV
    merges, _ = fit_bpe(wf, 10)
    row = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_segment(spark, tiny_docs, merges, wf).collect()
    }[4]
    # 'zebra' (OOV) splits to chars; 'low' uses the fitted segmentation
    assert row[: 5] == ["z", "e", "b", "r", "a"]
    assert "".join(row[5:]) == "low"


def test_save_load_bpe_roundtrip(tmp_path, spark, tiny_docs):
    from merchant_classification_spark.functions.bpe import load_bpe, save_bpe

    wf = corpus_word_freq(tiny_docs, "text", 4096)
    merges, wnt = fit_bpe(wf, 10)
    p = str(tmp_path / "bpe.json")
    save_bpe(p, merges, wf)
    merges2, wf2 = load_bpe(p)
    assert merges2 == merges and wf2 == wf
    # re-deriving the count table from the loaded artifact is identical
    wnt2 = {w: len(encode_word(w, merges2)) for w in wf2}
    assert wnt2 == wnt
    # format guard
    bad = str(tmp_path / "bad.json")
    open(bad, "w").write('{"format": "other"}')
    with pytest.raises(ValueError):
        load_bpe(bad)
