"""Physical-plan introspection helpers.

The engine's performance posture is "declare the plan, let Catalyst pick
the physics" (SURVEY.md §4) — these helpers make that checkable in tests
and during tuning instead of eyeballing `.explain()` output:

  * did my filter reach the parquet scan? (`pushed_filters`)
  * did the dim join go broadcast? (`has_broadcast_join`)
  * how many shuffles does this plan pay? (`count_exchanges`)
  * did a Python worker sneak into the hot path? (`assert_no_python_eval`)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the data source (parquet scan pushdown)."""
    plan = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (each is a full data
    re-partitioning — the dominant cost at scale). Matches both the
    compact form (`Exchange hashpartitioning(...)`) and the formatted
    node-list form (`(n) Exchange` + an Arguments partitioning line);
    broadcast and reused exchanges are excluded.
    """
    plan = explain_str(df)
    compact = len(
        re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan
        )
    )
    formatted = len(re.findall(r"\(\d+\) Exchange\b", plan))
    return max(compact, formatted)


# Node names that mean a Python worker is in the execution path.
_PYTHON_NODES = ("EvalPython", "MapInPandas", "FlatMapGroupsInPandas", "InPandas")


def has_python_stage(df: DataFrame) -> bool:
    plan = explain_str(df)
    return any(node in plan for node in _PYTHON_NODES)


def assert_no_python_eval(df: DataFrame) -> None:
    if has_python_stage(df):
        raise AssertionError(
            "plan contains a Python worker stage:\n" + explain_str(df)
        )
