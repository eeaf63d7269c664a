"""Cleaning-kernel tests.

1. The 14 golden pairs from the reference's unit test
   (reference tests/export.csv via tests_regex.py — SURVEY.md §5) pin the
   end-to-end chain semantics.
2. A fuzz corpus pins Python-dialect (re) ↔ Java-dialect (Spark native
   regexp_replace) parity — the survey's highest-flagged correctness risk
   (SURVEY.md §4.3).
3. The pre-guard chain (``cleaning_steps_legacy.json``) pins the output:
   the guarded patterns must clean every string exactly as it did.
4. The DuckDB mirror of the chain (RE2 dialect) must agree with the
   Python oracle on text without numeric dates.
"""

import json
import os
import random
import re

import pytest
from pyspark.sql import functions as F

from merchant_classification_spark.functions.cleaning import (
    POST_DATE_STEPS,
    clean_narrative,
    clean_text,
)
from merchant_classification_spark.functions.fasttext_format import (
    from_fasttext_label,
    to_fasttext_line,
)
from merchant_classification_spark.functions.patterns import (
    DATETIME_PATTERN,
    build_datetime_pattern,
)

# original,expected — verbatim from the reference's golden file
GOLDEN_PAIRS = [
    ("virgin media cd 5347 deb", "virgin media cd 5347 deb"),
    ("the works cd 5347 deb", "the works cd 5347 deb"),
    ("paypal *microsoft cd 5347 14sep19 deb", "paypal microsoft cd 5347 deb"),
    ("costa @ next  cd 5347 deb", "costa next cd 5347 deb"),
    ("amznfreetime cd 5347 deb", "amznfreetime cd 5347 deb"),
    ("paypal *littleclub cd 5347 deb", "paypal littleclub cd 5347 deb"),
    ("co-op group  cd 5347 deb", "co op group cd 5347 deb"),
    ("paypal *helixdigit cd 5347 deb", "paypal helixdigit cd 5347 deb"),
    ("itunes.com/bill cd 5347 13oct19 deb", "itunes com bill cd 5347 deb"),
    ("national trust cd 5347 29dec19 deb", "national trust cd 5347 deb"),
    ("national trust cd 5347 deb", "national trust cd 5347 deb"),
    ("paypal *microsoft cd 5347 deb", "paypal microsoft cd 5347 deb"),
    ("co-op group  cd 5347 28sep19 deb", "co op group cd 5347 deb"),
    ("virgin media cd 5347 deb", "virgin media cd 5347 deb"),
]

EXTRA_CASES = [
    "pay 12.34 gbp at shop",
    "lunch 2021-04-01 12:30pm",
    "foo 01/04/2021 bar",
    "shop 4th of july 2021",
    "xx-xx-2021 card",
    "mask xxxx 1234 deb",
    "price 12,34% off",
    "time 9.45pm now",
    "2021-04.01 mixed delim",
    "transfer 31st december '99",
    "sept 2021 invoice (ref) a&b",
    "AMZN Mktp DE*2L50X1EG4 14:05",
]


def test_golden_pairs_python():
    for original, expected in GOLDEN_PAIRS:
        assert clean_text(original, trim=False) == expected


def test_golden_pairs_spark_native(spark):
    df = spark.createDataFrame([(o,) for o, _ in GOLDEN_PAIRS], ["raw"])
    got = [r.clean for r in df.select(clean_narrative("raw", trim=False).alias("clean")).collect()]
    assert got == [e for _, e in GOLDEN_PAIRS]


def _fuzz_corpus(n=300, seed=7):
    rng = random.Random(seed)
    tokens = [
        "paypal", "*shop", "amzn", "mktp", "cd", "deb", "&", "(ref)", "xx",
        "xxxx", "14sep19", "2021-04-01", "12:30pm", "9.45", "12.34",
        "gbp", "12,34%", "4th", "of", "july", "2021", "co-op", "@", "a/b",
        "31st", "dec", "'99", "xx-xx-2021", "13oct19", " ", "1st", "may",
        "2nd", "feb", "00.00", "23h59", "12.05.2019", "20190401", "O'Neil",
        "é", "١٢", "Ｋ", "\u212a", "ß", "\t", "\n", "_",
    ]
    out = []
    for _ in range(n):
        k = rng.randint(1, 12)
        out.append(" ".join(rng.choice(tokens) for _ in range(k)))
    return out


MONTHS = ["january", "february", "march", "april", "may", "june", "july",
          "august", "september", "october", "november", "december", "jan",
          "feb", "mar", "apr", "jun", "jul", "aug", "sept", "sep", "oct",
          "nov", "dec", "Sept", "OCT"]
ORDINALS = ["1st", "22nd", "3rd", "15th", "first", "second", "third",
            "fourth", "fifth", "sixth", "seventh", "eighth", "ninth", "Ninth"]


def _narratives(n, seed=3):
    """Card narratives shaped like the ETL's input: merchant words plus
    the noise the chain strips (prefixes, places, prices, masks, card
    numbers, wordy dates, times)."""
    rng = random.Random(seed)
    words = ["north", "star", "royal", "coffee", "market", "books", "taxi", "deli"]
    out = []
    for _ in range(n):
        parts = [rng.choice(["", "paypal *", "card payment to "])
                 + " ".join(rng.sample(words, rng.randint(1, 2)))]
        if rng.random() < 0.3:
            parts.append(rng.choice(["(leeds)", "@ york", "& co", "co-op"]))
        if rng.random() < 0.3:
            parts.append(f"{rng.randint(1, 499)}.{rng.randint(0, 99):02d} gbp")
        if rng.random() < 0.2:
            parts.append(f"xxxx {rng.randint(1000, 9999)}")
        parts.append(f"cd {rng.randint(1000, 9999)}")
        r = rng.random()
        if r < 0.5:
            parts.append(f"{rng.randint(1, 31):02d}{rng.choice(MONTHS)}{rng.randint(18, 24)}")
        elif r < 0.7:
            parts.append(f"{rng.choice(ORDINALS)} of {rng.choice(MONTHS)} 20{rng.randint(18, 24)}")
        if rng.random() < 0.2:
            parts.append(f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}")
        parts.append("deb")
        out.append(" ".join(parts))
    return out


def test_python_java_dialect_parity(spark):
    """The same pattern string must behave identically under Python `re`
    and Spark's Java regex engine — run both on a fuzz corpus."""
    corpus = [o for o, _ in GOLDEN_PAIRS] + EXTRA_CASES + _fuzz_corpus()
    df = spark.createDataFrame([(s,) for s in corpus], ["raw"])
    got = [
        r.clean
        for r in df.select(clean_narrative("raw").alias("clean"))
        .collect()
    ]
    expected = [clean_text(s) for s in corpus]
    mismatches = [
        (s, e, g) for s, e, g in zip(corpus, expected, got) if e != g
    ]
    assert not mismatches, f"{len(mismatches)} dialect mismatches, first: {mismatches[:3]}"


def _legacy():
    with open(os.path.join(os.path.dirname(__file__), "cleaning_steps_legacy.json")) as f:
        return json.load(f)


def test_guarded_chain_matches_legacy_chain(spark):
    """The guarded date pattern and the respelled steps must clean every
    string byte-for-byte like the pre-guard chain, with and without trim."""
    fuzz = _fuzz_corpus(n=5000, seed=11)
    glued = [s.replace(" ", "") for s in fuzz[:2000]]  # letters touch digits
    corpus = EXTRA_CASES + fuzz + glued + _narratives(5000)
    df = spark.createDataFrame([(s,) for s in corpus], ["raw"])
    for trim in (True, False):
        old = F.col("raw")
        for pattern, repl in _legacy()["cleaning_steps"]:
            old = F.regexp_replace(old, pattern, repl)
        old = F.trim(old) if trim else old
        diff = df.where(~clean_narrative("raw", trim=trim).eqNullSafe(old))
        assert diff.count() == 0, diff.limit(3).collect()


def test_rewrite_shape():
    """The RE2 date pattern is unchanged and unguarded; the backtracking
    one keeps groups 1-4; the redundant whitespace pass is gone."""
    legacy = _legacy()
    assert build_datetime_pattern(False) == legacy["datetime_re2"]
    assert "(?=" not in build_datetime_pattern(False)
    assert re.compile(DATETIME_PATTERN).groups == 4
    assert len(POST_DATE_STEPS) == len(legacy["cleaning_steps"]) - 2


def test_duckdb_mirror_matches_python_oracle():
    """``_sql_clean_chain`` (DuckDB, RE2 dialect, no numeric-date branch)
    agrees with ``clean_text`` on ASCII text without numeric dates."""
    import duckdb

    import __spark_entry__ as entry

    full = re.compile(DATETIME_PATTERN, re.ASCII)
    re2 = re.compile(build_datetime_pattern(False), re.ASCII)
    corpus = [  # ASCII strings where the numeric-date branch changes nothing
        s for s in [o for o, _ in GOLDEN_PAIRS] + EXTRA_CASES
        + _fuzz_corpus(n=2000, seed=5) + _narratives(2000, seed=5)
        if s.isascii() and full.sub(" ", s) == re2.sub(" ", s)
    ]
    with duckdb.connect() as con:
        con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(corpus)))
        got = dict(con.execute(f"SELECT i, {entry._sql_clean_chain('s')} FROM t").fetchall())
    mismatches = [(s, clean_text(s), got[i]) for i, s in enumerate(corpus)
                  if clean_text(s) != got[i]]
    assert len(corpus) > 2000
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[:3]}"


def test_fasttext_roundtrip(spark):
    df = spark.createDataFrame(
        [("virgin media", "virgin media cd 5347 deb")], ["merchant", "clean"]
    )
    line = df.select(to_fasttext_line("merchant", "clean").alias("ft"))
    assert line.collect()[0].ft == "__label__virgin-media virgin media cd 5347 deb"
    back = line.select(
        from_fasttext_label(F.split("ft", " ").getItem(0)).alias("m")
    )
    assert back.collect()[0].m == "virgin media"


def test_native_plan_has_no_python_worker(spark):
    """The cleaner must stay JVM-side: no ArrowEvalPython/BatchEvalPython
    node may appear in the physical plan."""
    df = spark.range(10).select(F.concat(F.lit("x "), F.col("id")).alias("raw"))
    plan = df.select(clean_narrative("raw").alias("c"))._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
