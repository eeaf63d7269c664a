"""Dump `.explain("formatted")` for named member queries to files.

Usage: python tools/dump_plans.py <out_dir> <suffix> [member ...]

Writes <out_dir>/<member>_<suffix>.txt for each named member (default:
every BRANCH_QUERIES member). The plan is the formatted physical plan
as `df.explain("formatted")` prints it — the evidence for plan-shape
claims in OPTIMIZATION_*.md — with the run-dependent counters masked:
expression ids (`#1804L` -> `#N`), PySpark lambda-variable suffixes
(`x_3` -> `x_N`) and `plan_id=N`. All members share one session, so
these counters shift with whatever ran before; masked, two runs of the
same tree write identical files. Run it at the parent and at the change
with two suffixes (e.g. `before`, `after`) and diff the pairs.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from merchant_classification_spark.plans.explain import explain_str  # noqa: E402
from merchant_classification_spark.session import build_session  # noqa: E402

_MASKS = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
)


def mask_plan(plan: str) -> str:
    for pat, repl in _MASKS:
        plan = pat.sub(repl, plan)
    return plan


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or sorted(entry_mod.BRANCH_QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(app_name="dump-plans")
    for name in names:
        try:
            df = entry_mod.BRANCH_QUERIES[name](spark, sf_dir)
            plan = explain_str(df)
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {type(e).__name__}: {e}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(mask_plan(plan).rstrip() + "\n")
        print("wrote", path)


if __name__ == "__main__":
    main()
