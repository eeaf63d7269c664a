"""Skew-robust joins — when one key owns a disproportionate share of rows.

AQE's skew-join splitting (on in session.py) handles skewed sort-merge
joins at runtime and is the FIRST answer. This operator is the explicit
fallback for the cases AQE can't touch: streaming joins, plans that
aren't SMJ, or engines/pipelines where the skew is known ahead of time
and deterministic layout matters.

``salted_join`` splits each hot left-side key across ``salt`` shuffle
partitions by appending a uniform salt; the right side is replicated
``salt``× so every (key, salt) pair finds its match. Replication cost is
|right| × salt — use it fact-to-DIMENSION (small right side), never
fact-to-fact. The companion ``group_topk_salted``
(operators/relational.py) applies the same trick to aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from merchant_classification_spark.functions.literals import sql_lit

_SALT = "_salt__"


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    salt: int = 16,
    how: str = "inner",
    seed: int = 7,
) -> DataFrame:
    """Equi-join with salted keys: left rows scatter uniformly (seeded)
    across `salt` sub-keys; right rows replicate to all of them. Result
    is row-identical to ``left.join(right, on, how)`` for inner/left
    joins (each left row still meets every matching right row exactly
    once)."""
    keys = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left joins, got {how!r} — right/"
            "outer would need the salt on the other side"
        )
    salted_left = left.withColumn(_SALT, (F.rand(seed) * salt).cast("int"))
    salts = F.explode(F.expr(sql_lit(range(salt), "array<int>")))
    salted_right = right.withColumn(_SALT, salts)
    return salted_left.join(salted_right, keys + [_SALT], how).drop(_SALT)
