"""Scaling-curve probe: measure headline operators across scale factors.

Runs one representative probe per operator family at every
`/root/testdata/sf*` directory given (default sf0.001, sf0.01, sf0.1 —
a 100x data range), records the warm wall time of the full plan (noop
sink, no driver collection), and writes SCALING.md with the measured
growth exponent alpha per decade, where  t ~ sf^alpha:

  * alpha <= ~1   — linear or better: the operator is overhead- or
    scan-bound, the shape survives a scale-up;
  * 1 < alpha < 2 — superlinear: look at the plan before trusting it at
    1000x (usually a shuffle whose key cardinality grows with data);
  * alpha >= ~2   — quadratic: an all-pairs somewhere; does NOT survive.

The exponent is reported for the LAST decade (sf0.01 -> sf0.1), where
real work best dominates the fixed local-mode overhead (~0.2-0.5 s of
job scheduling per query at any size); small absolute times make the
exponent noisy, so times below 1 s are flagged rather than judged.

Usage: python tools/scale_curve.py [out.md] [sf_dir ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from bench import time_warm
from pyspark.sql import functions as F

from merchant_classification_spark.session import build_session

# one probe per family, biased toward the operators where quadratic
# blow-up is an actual design risk (near-dup joins, ANN, decontamination)
PROBES = [
    ("tpch_q1_pricing", "scan + group-agg (lineitem)"),
    ("tpch_q3_shipping", "3-way join + agg + top-k"),
    ("window_percent_rank", "global window rank"),
    ("median_by_group", "exact grouped quantiles (histogram+window)"),
    ("etl_clean_format", "regex-chain ETL (codegen)"),
    ("dedup_exact", "exact dedup (hash agg)"),
    ("minhash_neardup", "MinHash LSH near-dup join"),
    ("simhash_neardup", "SimHash banded near-dup join"),
    ("ngram_jaccard_neardup", "exact Jaccard PPJoin"),
    ("edit_distance_neardup", "Ed-Join edit-distance pairs"),
    ("dedup_rep_assign", "iterative label propagation"),
    ("doc_winnow", "winnowing rolling-hash fingerprints"),
    ("ann_bruteforce", "exact ANN top-k (broadcast queries)"),
    ("ann_lsh", "SRP-LSH ANN"),
    ("ann_ivf", "IVF ANN (sampled KMeans fit)"),
    ("decontaminate_overlap", "train/eval n-gram decontamination"),
    ("token_stats", "tokenize + count (documents)"),
    ("chunk_documents", "overlapping-window chunking"),
    ("pack_documents", "sequence packing (prefix-sum window)"),
    ("sessionize_batch", "sessionization (gap windows)"),
    ("asof_last_click", "as-of join"),
    ("merge_upsert", "batch MERGE upsert (broadcast plan)"),
    ("incremental_agg", "mergeable agg-state maintenance"),
    ("k_anonymity", "k-anonymity suppression (broadcast semi)"),
    ("udtf_words", "Python UDTF lateral explode + re-agg"),
    ("variant_extract", "VARIANT parse + typed get"),
    ("recursive_cte", "recursive CTE transitive closure"),
    ("dense_ids", "dense surrogate ids (bucketed row_number)"),
    ("snapshot_diff", "snapshot CDC diff (full-outer)"),
    ("heavy_hitters", "exact heavy hitters (hash agg)"),
    ("boilerplate_scrub", "C4 boilerplate removal (span-hash agg + anti-join)"),
    ("weighted_sample", "weighted A-Res sample (WindowGroupLimit top-k)"),
    ("nucleus_sources", "coverage top-p per group (window cumsum)"),
    ("corpus_mix", "token-budget mixing (per-source window cumsum)"),
    ("equidepth_bins", "equi-depth bins (dense-rank + broadcast N)"),
    ("decontaminate_scrub", "contamination span removal (islands regroup)"),
    ("grouped_linear_fit", "applyInPandas exact-moment OLS"),
    ("winnow_pairs", "MOSS pair join (arrow kernel, df-capped postings)"),
]


# --- skewed-key stress probes -------------------------------------------
# The uniform probes above can't show skew behavior: these run the same
# operator family against a pathological key distribution (HALF of all
# lineitem rows on ONE key — the Amazon-vs-corner-shop shape) so the
# straggler-task risk is measured, not argued.


def _skewed_lineitem(spark, sf_dir, amplify: int = 8):
    """lineitem re-keyed so HALF of all rows share key 0, amplified
    ``amplify``x (deterministic explode — still derived solely from the
    driver's testdata): at sf0.1 the hot key holds ~2.4M rows, enough
    that a single-task window sort is a real straggler rather than
    scheduling noise."""
    li = entry_mod._t(spark, sf_dir, "lineitem")
    return li.select(
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(0))
        .otherwise(F.pmod(F.col("l_orderkey"), 1000))
        .alias("key"),
        F.col("l_extendedprice").alias("val"),
        "l_orderkey",
        "l_linenumber",
        F.explode(F.sequence(F.lit(1), F.lit(amplify))).alias("replica"),
    )


def _skew_probes():
    from merchant_classification_spark.operators.relational import (
        group_topk,
        group_topk_salted,
    )
    from merchant_classification_spark.operators.sampling import (
        with_class_percentile,
    )

    order = [
        F.col("val").desc(),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("replica"),
    ]
    return [
        (
            "skew_topk_plain",
            "per-key top-5, single window (straggler-exposed)",
            lambda s, d: group_topk(_skewed_lineitem(s, d), ["key"], order, 5),
        ),
        (
            "skew_topk_salted",
            "per-key top-5, salted two-phase window",
            lambda s, d: group_topk_salted(
                _skewed_lineitem(s, d), ["key"], order, 5
            ),
        ),
        (
            "skew_class_percentile",
            "per-class seeded percent_rank on the skewed key",
            lambda s, d: with_class_percentile(_skewed_lineitem(s, d), "key"),
        ),
    ]


def _curve(spark, probes, sf_dirs, sfs):
    """(name, desc, times, alpha) per probe: the min of two warm passes
    at each scale factor, and the exponent over the last decade."""
    rows = []
    for name, desc, fn in probes:
        times = [
            min(b + e for b, e in time_warm(spark, lambda: fn(spark, d), 2))
            for d in sf_dirs
        ]
        alpha = math.log(times[-1] / times[-2]) / math.log(sfs[-1] / sfs[-2])
        rows.append((name, desc, times, alpha))
        print(name, [round(t, 2) for t in times], "alpha=%.2f" % alpha, flush=True)
    return rows


def _write_table(f, kind: str, rows, sfs) -> None:
    f.write(f"| probe | {kind} | " + " | ".join(f"sf{s}" for s in sfs) + " | alpha | verdict |\n")
    f.write("|---|---|" + "---|" * (len(sfs) + 2) + "\n")
    for name, desc, times, alpha in rows:
        small = times[-1] < 1.0
        verdict = (
            "overhead-bound"
            if small
            else "linear-or-better"
            if alpha <= 1.15
            else "superlinear — see plan notes"
            if alpha < 2.0
            else "QUADRATIC — fix"
        )
        f.write(
            "| %s | %s | %s | %s | %s |\n"
            % (
                name,
                desc,
                " | ".join("%.2f" % t for t in times),
                ("~%.2f" % alpha) if small else "%.2f" % alpha,
                verdict,
            )
        )


def main() -> None:
    args = sys.argv[1:]
    out_path = args[0] if args and args[0].endswith(".md") else "SCALING.md"
    sf_dirs = [a for a in args if not a.endswith(".md")] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    sfs = [float(d.rsplit("sf", 1)[1]) for d in sf_dirs]

    spark = build_session(app_name="mcs-scale-curve")
    probes = [
        (name, desc, entry_mod.BRANCH_QUERIES.get(name) or entry_mod.queries().get(name))
        for name, desc in PROBES
    ]
    rows = _curve(spark, [p for p in probes if p[2] is not None], sf_dirs, sfs)
    skew_rows = _curve(spark, _skew_probes(), sf_dirs, sfs)

    with open(out_path, "w") as f:
        f.write(
            "# SCALING — measured growth across a 100x data range\n\n"
            "Warm wall time of the FULL plan (noop sink) per scale factor on\n"
            "local[32]; `alpha` is the fitted exponent t ~ sf^alpha over the\n"
            "last decade (sf%s -> sf%s). Linear scan growth is alpha = 1;\n"
            "sub-second timings are overhead-dominated and their exponent is\n"
            "not meaningful (marked ~). Generated by tools/scale_curve.py.\n\n"
            % (sfs[-2], sfs[-1])
        )
        _write_table(f, "family", rows, sfs)
        f.write(
            "\nReading guide: every near-dup/ANN operator above ships with a\n"
            "banded/bucketed candidate stage precisely so this table stays\n"
            "sub-quadratic; if a future change pushes one to alpha >= 2 at a\n"
            "size where times are seconds, the candidate stage regressed.\n"
        )

        f.write(
            "\n## Skewed-key stress (50% of lineitem rows on ONE key)\n\n"
            "Same methodology; the key distribution is pathological by\n"
            "construction, so these rows measure straggler behavior the\n"
            "uniform probes cannot.\n\n"
        )
        _write_table(f, "shape", skew_rows, sfs)
        by_name = {n: t for n, _, t, _ in skew_rows}
        if "skew_topk_plain" in by_name and "skew_topk_salted" in by_name:
            plain, salted = by_name["skew_topk_plain"][-1], by_name["skew_topk_salted"][-1]
            f.write(
                "\nFinding (measured, and visible in the physical plan): at sf%s the\n"
                "PLAIN single-window top-k ran %.2f s vs %.2f s salted on the\n"
                "50%%-one-key distribution. Spark >= 3.5 plans a map-side PARTIAL\n"
                "`WindowGroupLimit` below the exchange for rank-limit windows, so\n"
                "each input partition ships at most k rows per key and the hot key\n"
                "never lands 50%% of the data on one task — the planner already\n"
                "salts top-k. `group_topk_salted` therefore only pays for its\n"
                "second window here; it remains the escape hatch for engines\n"
                "without the rule and for full-window functions (percent_rank,\n"
                "running sums) that admit no group-limit pushdown — which is why\n"
                "skew_class_percentile above is the probe that actually carries\n"
                "the hot key's full sort.\n"
                % (sfs[-1], plain, salted)
            )
    print("wrote", out_path)


if __name__ == "__main__":
    main()
