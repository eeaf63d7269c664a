"""Bounded literal lookup tables without the O(V) ``GetMapValue`` scan.

The engine's bounded-fit screens (unigram/bigram perplexity, and any
future literal string→double table) need a per-token dictionary probe
against a driver-fitted model table. The obvious encoding —
``F.try_element_at(F.create_map(*lits), key)`` — hits a measured
Catalyst trap: ``GetMapValue`` on a literal map is a LINEAR scan of
``ArrayBasedMapData`` (no hash index), so every probe costs O(V) string
compares; at V=256 bigram entries probed at every token position it was
the single most expensive bench member (see SCALING.md "literal-table
lookup A/B").

This module keeps the map-only, shuffle-free plan shape but cuts the
scan V → V/B:

  * the table is partitioned at plan-build time into ``n_buckets``
    buckets by ``crc32(key) % n_buckets`` — crc32 because Spark
    (``java.util.zip.CRC32``) and Python (``zlib.crc32``) implement the
    same CRC-32/ISO-HDLC polynomial, so the Python-side bucket split and
    the JVM-side probe agree bit-for-bit (fuzz-asserted in
    ``tests/test_lookup.py``);
  * keys/values ride the plan as nested ARRAY literals
    (``F.array(F.lit(bucket)...)`` — constant-folded to one Literal, so
    a free reference inside a lambda is an O(1) value reference, never
    re-built per element the way a ``CreateArray``/``CreateMap`` would
    be);
  * a probe is crc32 + two O(1) ``element_at`` hops + an
    ``array_position`` scan of the ~V/B-entry bucket.

Values are returned EXACTLY as fitted (the caller's Python doubles ride
as literals), so swapping ``create_map`` for this lookup cannot change
any score: same table, same doubles, different probe mechanics. The
oracle replays keep using flat ``list_position`` tables.

For tables too large to inline at all (≫ tens of thousands of entries),
the right shape stops being a literal and becomes a broadcast join on
the exploded keys plus a sorted refold — measured slower than this
lookup for every bounded screen the engine grades (SCALING.md), so the
literal tier stays the default.
"""

from __future__ import annotations

import zlib

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "crc32_bucket_py",
    "crc32_bucket_col",
    "bucketed_lookup",
    "literal_table",
    "sql_str_lit",
    "sql_double_lit",
]


def sql_str_lit(s: str) -> str:
    """Render a Python string as a Spark SQL string literal (escaping
    backslash and quote — the only characters the default non-legacy
    string lexer treats specially that can appear in corpus tokens;
    fuzz-asserted byte-for-byte against ``F.lit`` in tests)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_double_lit(x: float) -> str:
    """Render a Python float as a Spark SQL DOUBLE literal with the
    exact same bits: ``repr`` emits the shortest decimal that
    round-trips, and Java's ``parseDouble`` of that decimal yields the
    identical nearest double. Non-finite values go through a string
    CAST (no bare SQL token exists for them)."""
    r = repr(float(x))
    if "inf" in r or "nan" in r:
        return f"CAST('{r}' AS DOUBLE)"
    return r + "D"


#: literal_table falls back to createDataFrame above this many rows: a
#: bounded dimension table belongs in the plan as a folded literal, an
#: unbounded one does not (the SQL text would grow without limit and the
#: RDD path's distribution machinery is the right shape there anyway).
_LITERAL_TABLE_MAX_ROWS = 20_000


def _sql_cell(v, typ: str) -> str:
    if typ == "string":
        return sql_str_lit(v)
    if typ in ("int", "integer"):
        return f"CAST({int(v)} AS INT)"
    if typ in ("long", "bigint"):
        return f"CAST({int(v)} AS BIGINT)"
    if typ == "double":
        return sql_double_lit(v)
    if typ.replace(" ", "") == "array<string>":
        if not v:
            return "CAST(array() AS ARRAY<STRING>)"
        return "array(" + ",".join(sql_str_lit(x) for x in v) + ")"
    raise ValueError(f"unsupported literal_table column type: {typ!r}")


def literal_table(spark, rows, schema: str):
    """A bounded rows-list as a DataFrame WITHOUT the ``createDataFrame``
    driver round trip: the rows render as ONE
    ``inline(array(named_struct(...)))`` SQL expression that
    constant-folds into the plan, so building the frame costs a SQL
    parse (~ms) instead of an RDD ``parallelize`` + its own scan job —
    measured ~0.25-0.3 s of fixed overhead per ``createDataFrame``
    dimension table at bench scale (round 11). Values are byte/bit-exact
    to the ``createDataFrame`` twin: strings via :func:`sql_str_lit`,
    doubles via :func:`sql_double_lit` (both fuzz-asserted), integers
    exactly.

    ``schema`` is the same DDL string the ``createDataFrame`` call sites
    used (``"name type, ..."``); supported column types: string,
    int/integer, long/bigint, double, array<string> (none of which
    carries a top-level comma, so the split below is safe). Rows must be
    non-null in every cell — these are fitted model/dimension tables,
    never observational data.

    Tables larger than ``_LITERAL_TABLE_MAX_ROWS`` (20 000) rows — or
    empty ones — take the ``createDataFrame`` path
    unchanged: the literal form exists for BOUNDED fitted tables; at
    unbounded cardinality the RDD path's distribution machinery is the
    right shape.
    """
    from pyspark.sql import functions as F

    rows = list(rows)
    cols = []
    for part in schema.split(","):
        name, typ = part.strip().split(None, 1)
        cols.append((name, typ.strip().lower()))
    if not rows or len(rows) > _LITERAL_TABLE_MAX_ROWS:
        return spark.createDataFrame(rows, schema)
    structs = ",".join(
        "named_struct("
        + ",".join(
            f"{sql_str_lit(name)},{_sql_cell(v, typ)}"
            for (name, typ), v in zip(cols, row)
        )
        + ")"
        for row in rows
    )
    # SELECT over OneRowRelation (not spark.range(1)): one partition, so
    # a downstream broadcast build scans 1 task, not defaultParallelism
    # near-empty ones. The array of structs constant-folds to a single
    # Literal; inline() of a literal is a constant-size codegen loop —
    # the plan's operator/codegen shape is O(1) in the row count (only
    # its printed text carries the data).
    return spark.sql(f"SELECT inline(array({structs}))")


def crc32_bucket_py(key: str, n_buckets: int) -> int:
    """Python twin of :func:`crc32_bucket_col` (zlib.crc32 == JVM CRC32)."""
    return zlib.crc32(key.encode("utf-8")) % n_buckets


def crc32_bucket_col(key: Column, n_buckets: int) -> Column:
    """0-based bucket of a string column: ``crc32(utf8(key)) % n``.

    crc32 output is already non-negative (0..2^32−1), so plain ``pmod``
    involves no sign handling; the cast to int is safe (result < n)."""
    return F.pmod(
        F.crc32(F.encode(key, "utf-8")), F.lit(n_buckets)
    ).cast("int")


def bucketed_lookup(
    entries: list[tuple[str, float]], n_buckets: int | None = None
):
    """Build an O(V/B)-probe lookup over a bounded str→double table.

    Returns ``look(key_col) -> Column`` yielding the table value as a
    double, NULL on a miss (the ``try_element_at`` contract the callers'
    OOV-fallback ``coalesce`` already expects). ``n_buckets`` defaults
    to ~6 keys per bucket, capped at 1024 buckets.

    The returned closure is safe to call inside higher-order-function
    lambdas: both nested-array literals constant-fold, so per-element
    re-evaluation of the free references is O(1).
    """
    if n_buckets is None:
        n_buckets = max(1, min(1024, (len(entries) + 5) // 6))
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    bucket_keys: list[list[str]] = [[] for _ in range(n_buckets)]
    bucket_vals: list[list[float]] = [[] for _ in range(n_buckets)]
    for k, v in entries:
        i = crc32_bucket_py(k, n_buckets)
        bucket_keys[i].append(k)
        bucket_vals[i].append(float(v))
    # one F.expr per nested literal, not one py4j call per element:
    # the element-wise F.array(*[F.lit(...)...]) form cost ~1 ms per
    # entry of pure driver round-trips (~0.9 s for a 512-entry table —
    # measured round 11); the SQL text parses in ~3 ms and
    # constant-folds to the IDENTICAL Literal (same strings
    # byte-for-byte, same doubles bit-for-bit — escaping/repr
    # round-trips are fuzz-asserted in tests/test_lookup.py)
    keys_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(sql_str_lit(k) for k in b) + ")"
            if b
            else "CAST(array() AS ARRAY<STRING>)"
            for b in bucket_keys
        )
        + ")"
    )
    vals_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(sql_double_lit(v) for v in b) + ")"
            if b
            else "CAST(array() AS ARRAY<DOUBLE>)"
            for b in bucket_vals
        )
        + ")"
    )

    def look(key: Column) -> Column:
        b1 = crc32_bucket_col(key, n_buckets) + F.lit(1)
        idx = F.array_position(F.element_at(keys_lit, b1), key).cast("int")
        # when() evaluates its value branch lazily, so element_at never
        # sees index 0 (an ANSI error) on a miss
        return F.when(
            idx > 0, F.element_at(F.element_at(vals_lit, b1), idx)
        )

    return look
