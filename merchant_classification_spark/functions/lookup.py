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
    (``functions/literals.py`` ``sql_lit`` — constant-folded to one
    Literal, so a free reference inside a lambda is an O(1) value
    reference, never re-built per element the way a
    ``CreateArray``/``CreateMap`` would be);
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

from merchant_classification_spark.functions.literals import sql_lit

__all__ = [
    "crc32_bucket_py",
    "crc32_bucket_col",
    "bucketed_lookup",
]


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
    # a null key or value raises a ValueError naming it ("[3].key")
    # here, not an AttributeError from crc32_bucket_py below
    sql_lit(entries, "array<struct<key:string,value:double>>")
    bucket_keys: list[list[str]] = [[] for _ in range(n_buckets)]
    bucket_vals: list[list[float]] = [[] for _ in range(n_buckets)]
    for k, v in entries:
        i = crc32_bucket_py(k, n_buckets)
        bucket_keys[i].append(k)
        bucket_vals[i].append(v)
    # one F.expr per nested literal (sql_lit), not one py4j call per
    # element; both constant-fold to the identical Literal
    keys_lit = F.expr(sql_lit(bucket_keys, "array<array<string>>"))
    vals_lit = F.expr(sql_lit(bucket_vals, "array<array<double>>"))

    def look(key: Column) -> Column:
        b1 = crc32_bucket_col(key, n_buckets) + F.lit(1)
        idx = F.array_position(F.element_at(keys_lit, b1), key).cast("int")
        # when() evaluates its value branch lazily, so element_at never
        # sees index 0 (an ANSI error) on a miss
        return F.when(
            idx > 0, F.element_at(F.element_at(vals_lit, b1), idx)
        )

    return look
