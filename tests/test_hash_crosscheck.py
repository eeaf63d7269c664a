"""Independent full-output cross-checks for the hash-based dedup tiers.

The driver-graded `minhash_neardup` / `simhash_neardup` queries hash with
the engine-portable md5 construction (functions/portable_hash.py) and are
oracle-checked end-to-end in DuckDB. This module checks the same operators
against an exact independent recomputation in pure Python: a hashlib-based
replay of the 60-bit md5-prefix hashes, universal-hash permutations,
banding, and verify.

Each test compares the FULL output pair set (ids and similarity values,
bit-exact) against the Spark operator. See COVERAGE.md.
"""

from __future__ import annotations

import re

from merchant_classification_spark.operators.dedup import (
    minhash_dedup_pairs,
    simhash_dedup_pairs,
)
from merchant_classification_spark.sources import load_table

# ---------------------------------------------------------------------------
# Pure-Python replicas of the tokenize/shingle/hash pipeline
# ---------------------------------------------------------------------------


def py_tokens(text: str | None) -> list[str]:
    cleaned = re.sub(r"[^a-z0-9']+", " ", (text or "").lower()).strip()
    return cleaned.split(" ") if cleaned else []


def py_shingles(text: str | None, n: int = 3) -> list[str]:
    t = py_tokens(text)
    k = max(len(t) - (n - 1), 1)
    seen, out = set(), []
    for i in range(k):
        s = " ".join(t[i : i + n])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def py_md5_long60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def test_md5_minhash_neardup_full_output_crosscheck(spark, sf_dir):
    """Replay the portable md5-scheme MinHash-LSH pipeline — 60-bit md5
    prefixes, universal-hash permutations mod 2^31-1 with the module's
    constants, ':'-joined band keys, exact-Jaccard verify — in pure
    Python; compare the full pair set bit-exact with the operator."""
    from merchant_classification_spark.functions.portable_hash import (
        MERSENNE31,
        minhash_perms,
    )

    threshold, shingle_size, num_hashes, bands = 0.6, 3, 64, 16
    r_per_band = num_hashes // bands
    pa, pb = minhash_perms(num_hashes)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    shh = {
        r.doc_id: [py_md5_long60(s) for s in py_shingles(r.text, shingle_size)]
        for r in docs
    }
    sigs = {
        d: [
            min((pa[i] * (h % MERSENNE31) + pb[i]) % MERSENNE31 for h in hs)
            for i in range(num_hashes)
        ]
        for d, hs in shh.items()
    }
    buckets: dict[tuple[int, str], list[int]] = {}
    for d, sig in sigs.items():
        for b in range(bands):
            key = ":".join(str(v) for v in sig[b * r_per_band : (b + 1) * r_per_band])
            buckets.setdefault((b, key), []).append(d)
    expected = set()
    for ids in buckets.values():
        for i, a in enumerate(ids):
            for b_ in ids[i + 1 :]:
                lo, hi = min(a, b_), max(a, b_)
                sa, sb = set(shh[lo]), set(shh[hi])
                union = len(sa | sb)
                j = len(sa & sb) / union if union else 0.0
                if j >= threshold:
                    expected.add((lo, hi, j))

    got = {
        (r.id_a, r.id_b, r.jaccard_sim)
        for r in minhash_dedup_pairs(
            spark.createDataFrame(
                [(r.doc_id, r.text) for r in docs], ["doc_id", "text"]
            ),
            "doc_id",
            "text",
            threshold=threshold,
            shingle_size=shingle_size,
            num_hashes=num_hashes,
            bands=bands,
        ).collect()
    }
    assert got == expected
    assert expected, "corpus must actually contain near-duplicates"


def py_simhash_portable(text: str | None) -> int:
    hs = [py_md5_long60(t) for t in py_tokens(text)]
    n = len(hs)
    u = 0
    for j in range(60):
        ones = sum((h >> j) & 1 for h in hs)
        if 2 * ones > n:
            u |= 1 << j
    return u


def test_md5_simhash_neardup_full_output_crosscheck(spark, sf_dir):
    """Replay the portable 60-bit SimHash + 4x15-bit banding + Hamming
    verify in pure Python; compare the full pair set with distances."""
    max_hamming = 6
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    sims = {r.doc_id: py_simhash_portable(r.text) for r in docs}

    buckets: dict[tuple[int, int], list[int]] = {}
    for d, s in sims.items():
        for b in range(4):
            buckets.setdefault((b, (s >> (b * 15)) & 0x7FFF), []).append(d)
    expected = set()
    for ids in buckets.values():
        for i, a in enumerate(ids):
            for b_ in ids[i + 1 :]:
                lo, hi = min(a, b_), max(a, b_)
                ham = bin(sims[lo] ^ sims[hi]).count("1")
                if ham <= max_hamming:
                    expected.add((lo, hi, ham))

    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_dedup_pairs(
            spark.createDataFrame(
                [(r.doc_id, r.text) for r in docs], ["doc_id", "text"]
            ),
            "doc_id",
            "text",
            max_hamming=max_hamming,
        ).collect()
    }
    assert got == expected
    assert expected, "corpus must actually contain near-duplicates"


def test_portable_kernels_unicode_fuzz(spark):
    """Seeded fuzz over exotic unicode (CJK, emoji, combining marks,
    control chars, high astral planes): every portable kernel — the
    60-bit md5 hash, the winnowing Rabin–Karp code-point fold, and the
    hash-sample percentile — matches its pure-Python replay exactly.
    Guards the cross-engine claim where it is most likely to break:
    code-point vs byte indexing and non-BMP characters."""
    import hashlib
    import random as _random

    from pyspark.sql import functions as F

    from merchant_classification_spark.functions.portable_hash import md5_long60
    from merchant_classification_spark.operators.dedup import (
        WINNOW_BASE,
        WINNOW_MASK,
        winnow_fingerprints,
    )

    rng = _random.Random(99)
    pools = [
        (0x20, 0x7E),        # ascii
        (0xA0, 0x2FF),       # latin supplements
        (0x300, 0x36F),      # combining marks
        (0x4E00, 0x9FFF),    # CJK
        (0x1F300, 0x1F6FF),  # emoji (astral plane)
        (0x10000, 0x10FFF),  # linear B etc.
    ]
    strings = ["", "a", "́", "🎉🎉🎉🎉🎉🎉🎉🎉🎉🎉🎉🎉"]
    for _ in range(60):
        n = rng.randint(1, 40)
        strings.append(
            "".join(
                chr(rng.randint(*rng.choice(pools))) for _ in range(n)
            )
        )
    df = spark.createDataFrame([(s,) for s in strings], ["s"])
    rows = df.select(
        "s",
        md5_long60("s").alias("h60"),
        winnow_fingerprints("s", 8, 4).alias("fps"),
    ).collect()

    def py_h60(s: str) -> int:
        return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)

    def py_poly(s: str) -> int:
        acc = 0
        for ch in s:
            acc = (acc * WINNOW_BASE + ord(ch)) & WINNOW_MASK
        return acc

    def py_winnow(s: str, k: int = 8, w: int = 4) -> set[int]:
        hs = (
            [py_poly(s[i : i + k]) for i in range(len(s) - k + 1)]
            if len(s) >= k
            else [py_poly(s)]
        )
        if len(hs) >= w:
            return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}
        return {min(hs)}

    for r in rows:
        assert r.h60 == py_h60(r.s), f"md5_long60 mismatch on {r.s!r}"
        assert set(r.fps) == py_winnow(r.s), f"winnow mismatch on {r.s!r}"
