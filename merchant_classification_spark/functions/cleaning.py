"""Narrative cleaning kernel — the engine's hot-path string pipeline.

Re-expresses the reference's 8-step cleaning chain
(reference 01_merchcat_etl.py:52-66 — SURVEY.md §2.3 E1-E7/E16) as ONE
native Spark column expression: a stack of ``regexp_replace`` calls that
Catalyst constant-folds into a single whole-stage-codegen'd projection.

The reference runs its date scrub as an Arrow pandas UDF because its
pattern is Python-dialect-only; our pattern (see ``patterns.py``) is
dialect-portable, so the whole chain stays JVM-side — no Python worker, no
Arrow hop, ~10-100x cheaper per the usual UDF tax. A pandas-UDF fallback
(``clean_narrative_python``) is kept for parity testing and as an escape
hatch, plus a pure-Python ``clean_text`` used by tests as the oracle.

The steps are spelled for Java's backtracking engine, whose per-row cost
is most of a scoring pass:

  * the non-alphanumeric step is ``[\\W_]+``, not the equal
    ``[^a-zA-Z0-9]+``: on JDK 17 the negated multi-range class costs
    about 3x as much (5 vs 1.7 µs per narrative on one Xeon core);
  * parentheses go in one ``[()]+`` step;
  * there is no ``\\s+`` collapse: after the non-alphanumeric step every
    whitespace run is already a single space.

The Python oracle compiles every step with ``re.ASCII`` so that ``\\d \\s \\W``
and ``(?i)`` mean what they mean in Java (ASCII only); without it, ``\\W``
would keep non-ASCII letters and digits that Spark replaces.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from merchant_classification_spark.functions.patterns import (
    DATETIME_PATTERN,
    PRICE_PATTERN,
)

# (pattern, replacement) steps applied in order after the date scrub.
# Portable between Python `re` (with re.ASCII), Java regex and RE2 (the
# DuckDB mirror in __spark_entry__._sql_clean_chain runs them too).
POST_DATE_STEPS: list[tuple[str, str]] = [
    (PRICE_PATTERN, ""),  # price tokens: 12.34 gbp / 12,34%
    (r"[()]+", ""),  # parentheses
    ("&", " and "),  # ampersand → word
    (r"[\W_]+", " "),  # any non-alphanumeric run → one space
    (r"\s+x{2,}\s+", " "),  # masked-digit runs ("xxxx 1234")
]

# Full chain including the date/time scrub, for introspection/tests.
CLEANING_STEPS: list[tuple[str, str]] = [(DATETIME_PATTERN, " ")] + POST_DATE_STEPS


def clean_narrative(col: Column | str, trim: bool = True) -> Column:
    """Native (JVM, codegen) narrative cleaner. Returns a string Column.

    `trim=True` matches the ETL chain (reference 01_merchcat_etl.py:65);
    the reference's unit-test chain omits trim (tests_regex.py:8-16) —
    pass trim=False to reproduce that exact variant.
    """
    out = F.col(col) if isinstance(col, str) else col
    out = out.cast("string")
    for pattern, repl in CLEANING_STEPS:
        out = F.regexp_replace(out, pattern, repl)
    return F.trim(out) if trim else out


# --- Python path (oracle + escape hatch) ----------------------------------

_COMPILED = [(re.compile(p, re.ASCII), r) for p, r in CLEANING_STEPS]


def clean_text(text: str, trim: bool = True) -> str:
    """Pure-Python reference implementation of the same chain."""
    out = str(text)
    for pattern, repl in _COMPILED:
        out = pattern.sub(repl, out)
    return out.strip() if trim else out


def clean_narrative_python(col: Column | str, trim: bool = True) -> Column:
    """Arrow pandas-UDF fallback running the Python `re` engine.

    Only for dialect-parity testing — the native path is the product.
    """

    @F.pandas_udf("string")
    def _clean(s: pd.Series) -> pd.Series:
        return s.map(lambda v: clean_text(v, trim=trim))

    return _clean(F.col(col) if isinstance(col, str) else col)
