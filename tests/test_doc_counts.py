"""Doc-drift guards: the gate counts quoted in README.md and
COVERAGE.md must equal what tools/gate_counts.py derives from the live
SUITES/ROWS_ONLY tables. Rounds 5, 7, and 9 each shipped some flavor
of hand-maintained-number drift; the counts became tool-generated in
round 7 — this test makes the remaining manual step (pasting the right
numbers) fail loudly when skipped."""

import importlib.util
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _counts():
    spec = importlib.util.spec_from_file_location(
        "gate_counts", os.path.join(ROOT, "tools", "gate_counts.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.counts()


def test_readme_gate_counts_match_tool():
    c = _counts()
    with open(os.path.join(ROOT, "README.md")) as f:
        md = f.read().replace("\n  ", " ")  # unwrap bullets
    want = (
        f"{c['declared_queries']} declared entries = "
        f"{c['oracle_suites']} oracle-graded suites covering "
        f"{c['oracle_member_probes']} member probes + "
        f"{len(c['rows_only'])} rows-only ({c['total_probes']} probes total)"
    )
    assert want in md, (
        f"README gate-counts bullet out of date — run "
        f"`python tools/gate_counts.py` and paste: {want!r}"
    )


def test_coverage_gate_counts_match_tool():
    c = _counts()
    with open(os.path.join(ROOT, "COVERAGE.md")) as f:
        md = f.read()
    m = re.search(
        r"exactly (\d+)\ndeclared entries \((\d+) oracle-graded suites "
        r"covering (\d+) member probes",
        md,
    )
    assert m, "COVERAGE.md counts sentence not found"
    assert (
        int(m.group(1)),
        int(m.group(2)),
        int(m.group(3)),
    ) == (
        c["declared_queries"],
        c["oracle_suites"],
        c["oracle_member_probes"],
    ), f"COVERAGE.md counts stale vs tool: {m.groups()} != tool"
