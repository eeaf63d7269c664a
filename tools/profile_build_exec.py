"""Split member-probe cost into BUILD (Python expression construction +
eager fit collects) vs EXEC (noop force of the built plan) — guide §1.2
step 2: know whether the time is driver-side plan construction or
cluster execution before touching either.

Usage: python tools/profile_build_exec.py member [member ...]
       (default: the committed artifact's heaviest members)

Each member is timed by bench.time_warm: one warm-up pass, then REPS
measured passes; reports min build / min exec / min total.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from bench import time_warm
from merchant_classification_spark.session import build_session

REPS = int(os.environ.get("PROFILE_REPS", "3"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    if not names:
        import json

        with open(
            os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench_results.json")
        ) as f:
            art = json.load(f)
        flat = [
            (t, m)
            for ms in art.get("members", {}).values()
            for m, t in ms.items()
        ]
        names = [m for _, m in sorted(flat, reverse=True)[:15]]
    spark = build_session(app_name="profile-build-exec")

    print(f"{'member':32s} {'build':>8s} {'exec':>8s} {'total':>8s}")
    for name in names:
        fn = entry_mod.BRANCH_QUERIES[name]
        passes = time_warm(spark, lambda: fn(spark, sf_dir), REPS)
        builds, execs = zip(*passes)
        print(
            f"{name:32s} {min(builds):8.3f} {min(execs):8.3f}"
            f" {min(b + e for b, e in passes):8.3f}"
        )


if __name__ == "__main__":
    main()
