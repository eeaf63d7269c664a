"""The data-dependent oracles degrade loudly: importing the driver
contract with no readable grading data must not raise, must name every
member it leaves out in a warning, and must keep the declared surface
(50 queries, 45 suites, ann_ivf graded rows-only)."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: every member whose oracle fits on the grading data at import
DATA_MEMBERS = [
    "ann_ivf",
    "ann_pq",
    "diversity_sample",
    "semantic_dedup",
    "perplexity_filter",
    "bigram_perplexity",
    "lang_model",
    "dsir_weights",
    "bm25_retrieval",
    "hybrid_retrieval",
    "hybrid_inverted",
    "bm25_auto",
    "quality_model",
    "bpe_tokens",
    "unigram_tokens",
    "bpe_pack",
    "temperature_mix",
    "corpus_funnel",
]

_PROBE = r"""
import json
import warnings

with warnings.catch_warnings(record=True) as caught:
    warnings.simplefilter("always")
    import __spark_entry__ as m
print(json.dumps({
    "warnings": [str(w.message) for w in caught],
    "rows_only": m.ROWS_ONLY,
    "suites": m.SUITES,
    "n_queries": len(m.queries()),
}))
"""


def test_unreadable_grading_data_warns_per_member(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_ORACLE_SF_DIR=str(tmp_path))
    run = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    got = json.loads(run.stdout.strip().splitlines()[-1])

    for member in DATA_MEMBERS:
        named = [w for w in got["warnings"] if f"no oracle for {member} " in w]
        assert len(named) == 1, (member, got["warnings"])
        assert "No files found" in named[0], named[0]

    assert got["rows_only"][0] == "ann_ivf"
    graded = {n for ms in got["suites"].values() for n in ms}
    assert graded.isdisjoint(DATA_MEMBERS), graded & set(DATA_MEMBERS)
    assert got["n_queries"] == 50
    assert len(got["suites"]) == 45
