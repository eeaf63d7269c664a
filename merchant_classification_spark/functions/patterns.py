"""Date / time / price regex kernel for transaction-narrative cleaning.

Semantics replicated (re-derived, not copied) from the reference's cleaning
kernel (reference utils/regex_utils.py:4-109, golden-tested by
reference tests/export.csv — SURVEY.md §2.3 E16, §4.3): strip wordy dates
("14sep19", "4th of July 2021"), numeric dates ("2021-04-01", "01/04/2021"),
times ("12:30pm"), and prices ("12.34 gbp", "12,34%") from free-text card
narratives.

Dialect portability is the design constraint (SURVEY.md §4.3 calls this the
highest correctness risk): the reference compiles a Python-dialect pattern
(``(?P<name>)`` named groups, ``(?P=name)`` backrefs, ``re.VERBOSE``) that
Java's regex engine — and therefore Spark's native, codegen'd
``regexp_replace`` — cannot parse. Instead of translating at runtime we
BUILD the pattern from components, emitting a single compact string that is
simultaneously valid Python and Java dialect:

  * numbered backrefs only (``(\\x)...\\1``) — identical syntax in both;
  * no free-spacing mode — components are joined compactly;
  * inline flags ``(?i)`` — identical in both;
  * only portable constructs (``\\d \\D \\W \\s``, non-capturing groups,
    alternation, bounded quantifiers).

The capture-group budget is therefore load-bearing: the four delimiter
groups of the numeric-date alternatives are the ONLY capturing groups in
the final pattern, so they are always groups 1-4 in both engines. Tests
assert the Python path and the Spark/Java path agree on a fuzz corpus.

Two dialects, two engines. The full pattern (``include_numeric=True``)
runs on backtracking engines: Java's ``java.util.regex`` inside Spark and
Python's ``re`` in the oracle. A backtracking ``find`` retries the whole
alternation at every character of the input, and most characters of a
narrative are letters inside words, where no date or time can start. So
that pattern carries zero-width, non-capturing lookaheads, each a
necessary condition for what follows it; the set of matches, and the
numbering of groups 1-4, do not change:

  * ``(?:^|(?=\\W|.?\\d))`` in front of everything: a match starts at the
    string edge, at a non-word character (wordy date), at a digit (time)
    or one character before a digit (numeric date);
  * ``(?=[0-9adefjmnostx])`` after the wordy date's leading edge: its body
    starts with a digit, an ordinal, a month name or the ``xx`` mask;
  * ``(?=[0-9fstne])`` in front of the ordinals (``1st`` ... ``ninth``);
  * ``(?=[adfjmnos])`` in front of the month names (their first letters);
  * ``(?=\\d)`` after the numeric date's leading edge.

With them the date step costs about 18 instead of 33 µs per narrative on
one core (JDK 17, Xeon). The backref-free variant
(``include_numeric=False``) is for RE2-class engines (DuckDB), which cannot
parse lookaround and whose automaton needs no guard; it stays unguarded.

Java's ``\\d \\s \\W`` and ``(?i)`` are ASCII-only by default, so the Python
side compiles these patterns with ``re.ASCII`` (``cleaning.py``).
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# numeric dates: 2021-04-01 / 01.04.2021 / 20210401 ...
# ---------------------------------------------------------------------------

_D2 = r"(?:[0-3]?\d)"  # day 0-31 (loose), optional leading zero
_M2 = r"(?:1[012]|0?[1-9])"  # month 1-12, optional leading zero
_Y4 = r"(?:(?:19|20)\d\d)"  # 20th/21st-century 4-digit year
_DSEP = r"([/\-._]?)"  # CAPTURING: delimiter, repeated via backref


def _numeric_date(groups_before: int) -> str:
    """Numeric date in any of 4 field orders, each requiring its internal
    delimiters to match via a backref (so ``2021-04.01`` does not match).

    ``groups_before`` = number of capturing groups already emitted to the
    left of this component in the final pattern; backref numbers are
    computed from it, keeping the component relocatable.
    """
    alts = []
    for i, (a, b, c) in enumerate(
        [(_Y4, _M2, _D2), (_Y4, _D2, _M2), (_D2, _M2, _Y4), (_M2, _D2, _Y4)]
    ):
        ref = groups_before + i + 1
        alts.append(f"(?:{a}{_DSEP}{b}\\{ref}{c})")
    body = "|".join(alts)
    # non-digit (or string edge) guards prevent eating into longer numbers;
    # every field order starts with a digit
    return rf"(?:(?:^|\D)(?=\d)(?:{body})(?:\D|$))"


# ---------------------------------------------------------------------------
# wordy dates: 14sep19 / 4th of July 2021 / sept-21 ...
# ---------------------------------------------------------------------------

_ORDINAL = (
    r"(?:[23]?1st|2{1,2}nd|\d{1,2}th|2?3rd"
    r"|first|second|third|fourth|fifth|sixth|seventh|eighth|ninth)"
)
_MONTH_W = (
    r"(?:january|february|march|april|may|june|july|august|september"
    r"|october|november|december"
    r"|jan|feb|mar|apr|jun|jul|aug|sept|sep|oct|nov|dec)"
)
_YEAR_W = r"(?:(?:[12]?\d|')?\d\d)"  # 2-digit, 3/4-digit, or 'YY year
_YEAR_W4 = r"(?:[12]\d\d\d)"
_WSEP = r"(?:\s*(?:[\s.\-\\/,]|(?:of))\s*)"  # " of ", ". ", "-", ...


def _wordy_date(guarded: bool) -> str:
    """``guarded`` prefixes the body, the ordinals and the month names with
    a lookahead on their possible first characters (see the module
    docstring)."""
    ordinal = ("(?=[0-9fstne])" if guarded else "") + _ORDINAL
    day = rf"(?:{ordinal}|(?:[0123]?\d))"
    month = ("(?=[adfjmnos])" if guarded else "") + _MONTH_W
    day_month = rf"(?:{day}{_WSEP}{month})|(?:{month}{_WSEP}{day})"
    ymd = rf"(?:(?:{_YEAR_W4}{_WSEP})?(?:{day_month})(?:{_WSEP}{_YEAR_W})?)"
    month_year = rf"(?:{month}{_WSEP}{_YEAR_W})"
    compact = rf"(?:{day}{month}{_YEAR_W})|(?:{day}{month}{_YEAR_W4})"
    masked = rf"(?:xx{_WSEP}xx{_WSEP}{_YEAR_W4})"
    body = rf"{ymd}|{month_year}|{compact}|{masked}"
    # non-word (or string edge) guards; a body starts with a year or day
    # digit, an ordinal, a month name or the "xx" mask
    guard = "(?=[0-9adefjmnostx])" if guarded else ""
    return rf"(?:(?:^|\W){guard}(?:{body})(?:$|\W))"


# ---------------------------------------------------------------------------
# times: 12:30 / 9.45pm / 14h05:30
# ---------------------------------------------------------------------------

_TIME = (
    r"(?:[0-5]?\d(?:[:.h])[0-5]\d"  # HH:MM (also . and h separators)
    r"(?::[0-5]\d)?"  # optional :SS
    r"(?:\s*[ap]\.?m\.?)?)"  # optional am/pm
)


def build_datetime_pattern(include_numeric: bool = True) -> str:
    """The combined date+time scrub pattern, portable Python/Java dialect.

    Structure: (time? wordy-date time?) | (time? numeric-date time?) | time.
    Matches are replaced with a single space by the cleaner.

    ``include_numeric=False`` drops the numeric-date branch — the only one
    using backrefs — yielding a pattern RE2-class engines (DuckDB, Go) can
    also run. On text containing no numeric dates the two variants are
    equivalent, which is how the oracle cross-checks the full kernel.

    ``include_numeric=True`` (the backtracking-engine pattern) also carries
    zero-width guards; see the module docstring. The RE2 variant has none.
    """
    wordy = _wordy_date(guarded=include_numeric)
    if not include_numeric:
        return rf"(?i)(?:(?:(?:{_TIME}?{wordy}{_TIME}?))|(?:{_TIME}))"
    numeric = _numeric_date(groups_before=0)  # groups 1-4 live here
    combined = (
        rf"(?:(?:{_TIME}?{wordy}{_TIME}?)|(?:{_TIME}?{numeric}{_TIME}?))"
        rf"|(?:{_TIME})"
    )
    # a match starts at the string edge, at a non-word char (wordy date),
    # at a digit (time), or one char before a digit (numeric date)
    return rf"(?i)(?:^|(?=\W|.?\d))(?:{combined})"


DATETIME_PATTERN = build_datetime_pattern()

# price tokens: "12.34 gbp", "1.234,56gbp", "12,34%", "3.5%"
# (reference utils/regex_utils.py:107). No backrefs — portable as-is.
PRICE_PATTERN = r"(?:(?:\d+\.)*\d+,\d+|\d+\.\d+)[/\s]*(?:gbp|%)"
