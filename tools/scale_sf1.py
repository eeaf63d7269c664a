"""Heavy-tier scaling decade: sf0.1 → derived sf1.

SCALING.md's 100x curve (sf0.001→sf0.1) ends where several near-dup/ANN
probes are still overhead-bound, so their fitted exponents are noisy.
This tool measures the NEXT decade for the heaviest candidate-driven
operators at a size where times are multi-second, using an sf1 dataset
DERIVED deterministically from the driver's sf0.1 tables (the same
precedent as scale_curve's skew amplifier — no new synthetic data, only
a deterministic transform of the provided testdata):

  * documents ×10 — replica r rewrites every letter AND digit via a
    rotated `translate` alphabet, so cross-replica token sets are
    disjoint: the near-dup structure is 10 independent copies of the
    original (output pairs scale linearly, not quadratically in
    replicas, which naive duplication would cause and which would
    measure output blowup rather than operator scaling). Lengths are
    preserved, so n_chars stays valid. Digits MUST rotate too: a
    letters-only rotation left the digit-heavy c_name tails aligned
    across replicas, so every replica shared its rare positional
    q-grams with every other — Ed-Join candidates grew ~replicas²
    (measured 339 s at sf1, alpha 2.03) from the derivation artifact,
    not the operator. That run is kept in SCALING.md prose as the
    measured adversarial-input bound for gram-sharing keys.
  * embeddings ×10 — replica r>0 adds a deterministic per-(row, dim)
    sine jitter, so replicas are far apart in cosine space (top-k and
    bucket structure stay non-degenerate).
  * customer ×10 — letter rotation on c_name PLUS a per-replica
    DIGIT alphabet (each replica's digits map to their own 10-char
    Cyrillic block). Rotating digits within '0123456789' is NOT
    independence for serial-like keys: every replica's digit q-grams
    stay content-identical and position-aligned with every other
    replica's, and Ed-Join's candidate set grows ~replicas² (measured
    349 s / alpha 2.20 at sf1 with gram-only join keys) even though
    the TRUE cross-replica pair count is zero (verified: 0 ed≤2 pairs
    between replicas) — the derivation, not the operator, violated
    the independence contract above. Position-shift prefixes (3–4
    chars per replica step) only partially helped (92→74 s) because
    the ~9-char digit region spans several position bands, so
    neighboring replicas still shared (gram, band) join keys.
    Disjoint digit alphabets make replica gram sets fully disjoint —
    the same construction the documents derivation uses for tokens.
    The aligned-serial runs are kept in SCALING.md prose as the
    measured adversarial-input bound for shared-alphabet fixed-layout
    keys.

The derived tables live under .scale/sf1/ (git-ignored, rebuilt on
demand) and keep the driver's schemas, so every BRANCH_QUERIES probe
runs unmodified against the directory.

Usage: python tools/scale_sf1.py [--rebuild] [--only name1,name2]
Appends/refreshes the "Heavy-tier decade" section in SCALING.md
(--only re-measures just the named probes and merges them into the
existing table).
"""

from __future__ import annotations

import math
import os
import re
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from pyspark.sql import functions as F

from merchant_classification_spark.session import build_session

SRC = "/root/testdata/sf0.1"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "sf1")
REPLICAS = 10
ID_STRIDE = 10_000_000
ALPHA = "abcdefghijklmnopqrstuvwxyz"
DIGITS = "0123456789"


def _rot_map(r: int) -> tuple[str, str]:
    """Source/target alphabets for replica r: letters and digits each
    rotate within their own class (case/class preserved, lengths
    preserved, replicas pairwise disjoint for r=0..9)."""
    return ALPHA + DIGITS, _rot(ALPHA, r) + _rot(DIGITS, r)

HEAVY = [
    ("minhash_neardup", "MinHash LSH near-dup join"),
    ("simhash_neardup", "SimHash banded near-dup join"),
    ("ngram_jaccard_neardup", "exact Jaccard PPJoin"),
    ("edit_distance_neardup", "Ed-Join edit-distance pairs"),
    ("winnow_pairs", "MOSS pair join (arrow kernel)"),
    ("doc_winnow", "winnowing fingerprints"),
    ("ann_lsh", "SRP-LSH ANN + exact twin"),
    ("ann_ivf", "portable IVF ANN + exact twin"),
    ("ann_bruteforce", "exact ANN top-k"),
    ("dedup_rep_assign", "duplicate-cluster label propagation"),
    ("boilerplate_scrub", "C4 boilerplate removal"),
    ("decontaminate_overlap", "train/eval decontamination flag"),
    ("decontaminate_scrub", "contamination span removal"),
    ("substring_dedup", "Lee-et-al exact substring dedup"),
    ("perplexity_filter", "CCNet unigram-LM perplexity screen"),
    ("dsir_weights", "DSIR hashed importance weights"),
    ("bm25_retrieval", "BM25 lexical retrieval scoring"),
    ("token_stats", "tokenize + count"),
    ("etl_clean_format", "regex-chain ETL over orders narratives"),
    # round-6 additions (VERDICT r5 #7): the windowed/TPC-H tier — the
    # full-partition percent_rank window and the two largest TPC-H joins
    ("window_percent_rank", "full-window per-class percent_rank"),
    ("tpch_q9_profit", "TPC-H Q9 5-table profit join"),
    ("tpch_q21_waiting", "TPC-H Q21 multi-exists suppliers"),
    ("bpe_tokens", "BPE fit + broadcast-vocab token counts"),
    ("quality_model", "curated-vs-crawl LR quality screen"),
    ("bpe_pack", "BPE counts -> two-phase prefix-sum packing"),
    ("pack_documents", "whitespace-token two-phase packing"),
    # round-8 additions (VERDICT r7 #4 + the two new graded members):
    # every graded family carries a growth exponent
    ("temperature_mix", "temperature source rebalancing"),
    ("bigram_perplexity", "stupid-backoff bigram LM screen"),
    ("lang_model", "hashed char-3-gram softmax language ID"),
    ("unigram_tokens", "unigram-LM fit + broadcast-vocab piece counts"),
    ("corpus_funnel", "prepare_corpus screens+gate+dedup ladder"),
    ("dup_ngram_coverage", "Gopher dup-5-gram char coverage"),
    ("source_dup_matrix", "cross-source duplication matrix"),
    # round-9 additions: the PQ/ADC ANN tier and the cluster-balanced
    # diversity cap
    ("ann_pq", "IVF-PQ ADC + refine ANN + exact twin"),
    ("diversity_sample", "cluster-balanced diversity cap"),
    ("hybrid_retrieval", "BM25 + cosine reciprocal rank fusion"),
    ("hybrid_inverted", "inverted-index BM25 leg + RRF fusion"),
    # round-11 addition: the auto-dispatcher graded at the crossover
    ("bm25_auto", "auto-dispatch BM25, 24-query inverted leg"),
]
# probes whose inputs exist in the derived dir
DERIVED_TABLES = {
    "documents",
    "embeddings",
    "customer",
    "orders",
    "lineitem",
    "supplier",
    "part",
    "nation",
    "region",
}
SKIP: set[str] = set()


def _rot(s: str, r: int) -> str:
    return s[r % len(s):] + s[: r % len(s)]


def derive(spark) -> None:
    os.makedirs(OUT, exist_ok=True)
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    parts = []
    for r in range(REPLICAS):
        text = (
            F.col("text")
            if r == 0
            else F.translate("text", *_rot_map(r))
        )
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(r * ID_STRIDE)).alias("doc_id"),
                text.alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    reduce(lambda a, b: a.unionByName(b), parts).coalesce(8).write.mode(
        "overwrite"
    ).parquet(f"{OUT}/documents.parquet")

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    parts = []
    for r in range(REPLICAS):
        if r == 0:
            vec = F.col("embedding")
        else:
            vec = F.transform(
                "embedding",
                lambda x, i: (
                    x.cast("double")
                    + F.sin(
                        (F.col("vec_id") % 97 + i.cast("double") + F.lit(r * 13))
                        * F.lit(1.7)
                    )
                    * F.lit(0.5)
                ).cast("float"),
            )
        parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(r * ID_STRIDE)).alias("vec_id"),
                vec.alias("embedding"),
                "label",
            )
        )
    reduce(lambda a, b: a.unionByName(b), parts).coalesce(8).write.mode(
        "overwrite"
    ).parquet(f"{OUT}/embeddings.parquet")

    cust = spark.read.parquet(f"{SRC}/customer.parquet")
    parts = []
    for r in range(REPLICAS):
        # rotation keeps letter grams replica-disjoint, and each
        # replica's DIGITS map to their own 10-char Cyrillic block —
        # rotating digits within '0123456789' keeps them on a shared
        # alphabet, which leaves every replica's digit q-grams
        # content-identical and position-aligned with every other's
        # (the measured adversarial case in the module docstring).
        # Disjoint digit alphabets make replica gram sets fully
        # disjoint — the same independence construction the documents
        # derivation uses for tokens. Lengths are preserved.
        digits_r = "".join(chr(0x0430 + 10 * (r - 1) + d) for d in range(10))
        name = (
            F.col("c_name")
            if r == 0
            else F.translate("c_name", ALPHA + DIGITS, _rot(ALPHA, r) + digits_r)
        )
        parts.append(
            cust.select(
                (F.col("c_custkey") + F.lit(r * ID_STRIDE)).alias("c_custkey"),
                name.alias("c_name"),
                "c_nationkey",
                "c_acctbal",
                "c_mktsegment",
            )
        )
    reduce(lambda a, b: a.unionByName(b), parts).coalesce(8).write.mode(
        "overwrite"
    ).parquet(f"{OUT}/customer.parquet")

    # relational tier (round 6): facts and per-SF dims replicate with
    # key strides (the TPC-H scaling contract — customer/orders/lineitem
    # /supplier/part grow with SF); foreign keys shift by the SAME
    # stride as their parent so every join resolves within a replica.
    # Fixed dims (nation, region) copy verbatim — per-dim-key fan-in
    # grows 10x, which is exactly what an SF decade does to them.
    def replicate(name: str, key_cols: list[str]) -> None:
        src = spark.read.parquet(f"{SRC}/{name}.parquet")
        reps = []
        for r in range(REPLICAS):
            cols = [
                (F.col(c) + F.lit(r * ID_STRIDE)).alias(c)
                if c in key_cols
                else F.col(c)
                for c in src.columns
            ]
            reps.append(src.select(*cols))
        reduce(lambda a, b: a.unionByName(b), reps).coalesce(8).write.mode(
            "overwrite"
        ).parquet(f"{OUT}/{name}.parquet")

    replicate("orders", ["o_orderkey", "o_custkey"])
    replicate("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"])
    replicate("supplier", ["s_suppkey"])
    replicate("part", ["p_partkey"])
    for name in ("nation", "region"):
        spark.read.parquet(f"{SRC}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{OUT}/{name}.parquet")


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def measure(spark, fn, sf_dir: str, reps: int = 2) -> float:
    force(fn(spark, sf_dir))
    spark.catalog.clearCache()
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        force(fn(spark, sf_dir))
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
        spark.catalog.clearCache()
    import gc

    gc.collect()
    jvm = getattr(spark.sparkContext, "_jvm", None)
    if jvm is not None:
        jvm.System.gc()
    return best


def _parse_prev_table() -> dict[str, tuple[float, float, float]]:
    """Existing (sf0.1, sf1, alpha) rows from SCALING.md, for --only
    merges."""
    try:
        with open("SCALING.md") as f:
            md = f.read()
    except OSError:
        return {}
    out: dict[str, tuple[float, float, float]] = {}
    for m in re.finditer(
        r"^\| (\w+) \| [^|]+ \| ([0-9.]+) \| ([0-9.]+) \| (-?[0-9.]+) \|",
        md,
        re.M,
    ):
        out[m.group(1)] = (
            float(m.group(2)),
            float(m.group(3)),
            float(m.group(4)),
        )
    return out


def main() -> None:
    only: set[str] | None = None
    for i, a in enumerate(sys.argv):
        if a == "--only" and i + 1 < len(sys.argv):
            only = set(sys.argv[i + 1].split(","))
    spark = build_session(app_name="mcs-scale-sf1")
    if "--rebuild" in sys.argv or not os.path.exists(
        f"{OUT}/documents.parquet"
    ):
        print("deriving sf1 tables ...", flush=True)
        derive(spark)

    prev = _parse_prev_table()
    rows = []
    for name, desc in HEAVY:
        if name in SKIP:
            continue
        if only is not None and name not in only:
            if name in prev:
                rows.append((name, desc, *prev[name]))
            continue
        fn = entry_mod.BRANCH_QUERIES.get(name) or entry_mod.queries().get(name)
        if fn is None:
            continue
        t01 = measure(spark, fn, SRC)
        t1 = measure(spark, fn, OUT)
        alpha = math.log(t1 / t01) / math.log(10.0)
        rows.append((name, desc, t01, t1, alpha))
        print(
            f"{name:26s} sf0.1={t01:6.2f}s sf1={t1:7.2f}s alpha={alpha:5.2f}",
            flush=True,
        )

    section = [
        "\n## Heavy-tier decade: sf0.1 -> sf1 (derived)\n\n",
        "The heaviest candidate-driven operators measured one decade\n"
        "further, on a 10x dataset derived deterministically from the\n"
        "driver's sf0.1 tables (tools/scale_sf1.py: per-replica letter+digit\n"
        "rotation for text — cross-replica token sets are disjoint, so\n"
        "near-dup output scales linearly — and per-(row,dim) sine jitter\n"
        "for embeddings). Times are multi-second here, so the exponents\n"
        "are work-dominated, unlike the small-sf decades above.\n\n"
        "Adversarial bound found en route: rotating c_name's digits maps\n"
        "them onto the SAME 10-char alphabet, so every replica's digit\n"
        "q-grams stayed content-identical and position-aligned with every\n"
        "other replica's — Ed-Join's candidate set grew ~replicas-squared\n"
        "(measured 349 s at sf1, alpha 2.20, with the positional filter\n"
        "as a residual join predicate) even though the TRUE cross-replica\n"
        "pair count is zero (verified by sampled naive levenshtein: 0\n"
        "ed<=2 pairs between replicas). Two operator findings fell out:\n"
        "(1) residual join predicates do NOT cut join WORK — a sort-merge\n"
        "join enumerates the full per-gram bucket cross-product before\n"
        "|delta-pos|<=k can reject, so the positional filter must live in\n"
        "the equi-join KEY (banding: (gram, floor(pos/(k+1))), probe side\n"
        "replicated to +-1 band, lossless); banding cut the aligned-\n"
        "alphabet run 349 s -> 74-87 s. (2) Even banded, fixed-layout\n"
        "keys over a shared low-entropy alphabet (zero-padded serials)\n"
        "remain candidate-quadratic in principle: every gram is frequent\n"
        "AND co-banded, so rarity/position/length stay lossless but only\n"
        "trim constants. At 100 TB the mitigations are key normalization\n"
        "(strip layout-constant regions before gramming), a larger q for\n"
        "the dense field, or the short-string block tier. The derivation\n"
        "now gives each replica a disjoint digit alphabet (the same\n"
        "independence construction the documents table uses for tokens),\n"
        "so the table row below measures the 10-independent-copies\n"
        "contract; the aligned-alphabet numbers above stay as the\n"
        "documented worst-case input bound.\n\n"
        "Round 6 turns the larger-q mitigation into an AUTO-GUARD\n"
        "(`edjoin_autotune`, dedup.py): a bounded-sample collect replays\n"
        "the prefix+banding pipeline in pure Python and estimates the\n"
        "candidate FRACTION (share of all pairs the banded join would\n"
        "emit — scale-free, one threshold for any sample size); while it\n"
        "exceeds 5% the guard doubles q, stopping when escalation would\n"
        "push the sample into the all-pairs short block (then it warns —\n"
        "that residue includes inputs whose TRUE output is itself\n"
        "near-quadratic, where no plan wins). Output is identical at any\n"
        "q (every filter is lossless per q), so the guard tunes only the\n"
        "plan. Measured on the adversarial shape (aligned 16-char keys,\n"
        "14 random digits on the shared 10-char alphabet, k=2): 30k\n"
        "keys guarded (q 2->4) 8.6 s\n"
        "vs 67.6 s unguarded, outputs identical; 150k keys guarded 29.0 s\n"
        "(the same scale that measured 74-87 s banded-q2 / 349 s\n"
        "residual-only in round 5); benign sf0.1 customer names probe to\n"
        "q=2 — the benign plan is untouched.\n\n"
        "MinHash banding A/B at sf1 (round 6, threshold 0.8, 64 hashes,\n"
        "warmed medians of 3 in one session): the S-curve solver's banding\n"
        "replaces the hardcoded 16x4 as the minhash_dedup_pairs default.\n"
        "16x4 centers its collision curve near s~0.5, so at t=0.8 it\n"
        "over-collides far below the verify threshold AND pays a 16-band\n"
        "explode shuffle; the solver centers on the threshold.\n\n"
        "| banding | verified pairs | median s | note |\n"
        "|---|---|---|---|\n"
        "| 16x4 (legacy hardcoded) | 2560 | 9.23 | curve centered ~0.5 |\n"
        "| 5x11 (solver, fn_weight=1) | 2493 | 8.03 | -2.6% recall |\n"
        "| 7x9 (solver, fn_weight=2) | 2546 | 7.61 | DEFAULT: 99.5% of 16x4's pairs, 1.2x faster, 2.3x less banding shuffle |\n\n"
        "fn_weight=2 is the shipped default (dedup prefers recall: a missed\n"
        "duplicate leaks, a false candidate is verified away); the graded\n"
        "minhash_neardup oracle replays the solver's (bands, rows) from the\n"
        "same lsh_params call, so the banding stays bit-exactly graded.\n\n"
        "The relational tier (round 6) joins the decade with the same\n"
        "derivation contract: facts and per-SF dims replicate with key\n"
        "strides (foreign keys shift with their parents), fixed dims\n"
        "(nation/region) copy verbatim so per-dim-key fan-in grows 10x —\n"
        "exactly what an SF decade does. window_percent_rank carries the\n"
        "hot-key story: 5 o_orderpriority partitions each sort 10x the\n"
        "rows (300k/partition at sf1), the documented full-window cost\n"
        "that the map-only hash tier avoids (see the skew section above).\n\n"
        "Round-9 readings: ann_pq is fixed-cost dominated (bounded fit,\n"
        "16-query exact twin, plan compile); what grows is the map-only\n"
        "encode and the cell-bounded ADC join, both linear by\n"
        "construction. Two measured constant-factor rules from the same\n"
        "data: (1) the ADC fold as F.aggregate(sequence(1,M),...) ran\n"
        "the interpreted HOF path per candidate pair — the static\n"
        "unrolled chain (identical association order, oracle unchanged)\n"
        "cut index search at 20k rows 11.1 s -> 1.67 s; plan-time-\n"
        "constant loops should unroll, HOF folds are for data-dependent\n"
        "lengths. (2) the Arrow pq_encode batches the ~1k-lambda-per-row\n"
        "HOF encode in numpy (dimension-ordered left-assoc\n"
        "accumulation, bit-identity test-asserted): 0.32 s vs 1.53 s\n"
        "for the 20k-row corpus pass; with pq_fit -> pq_encode ->\n"
        "parquet -> pq_search the corpus pass is one-time and the codes\n"
        "table is ~32x smaller than the fp32 column. hybrid_retrieval's\n"
        "lexical leg scores all queries in ONE corpus pass\n"
        "(bm25_scores_multi) — the 8-separate-branch form measured\n"
        "13.9 s at sf0.1 before batching (3.4x).\n\n"
        "Round-10 reading — the literal-vs-inverted BM25 crossover\n"
        "(measured, sf0.01 documents, 8 fitted terms/query): the literal\n"
        "multi-query scorer compiles O(|q|*|union terms|) scoring\n"
        "branches, so its PLAN BUILD grows linearly in |q| — 2.5 s at 8\n"
        "queries, 5.3 s at 32, 7.8 s at 64, 15.4 s at 128 (execution\n"
        "stays ~0.5-1 s; the cost is analysis + codegen, and Janino\n"
        "limits loom past that) — while bm25_scores_inverted (explode\n"
        "tokens, broadcast term table, per-(doc,query) ordered fold)\n"
        "holds flat at ~1.4-2.1 s total across the same sweep. Crossover\n"
        "lands between 8 and 32 queries on this shape; per-corpus-row\n"
        "work favors the literal form (no explode, tf cells shared\n"
        "across queries), so the graded hybrid_retrieval keeps it for\n"
        "its bounded 8-query batch and hybrid_inverted is the production\n"
        "tier above the crossover. The two produce bit-identical scores\n"
        "on matched pairs (same IEEE adds in the same order — unmatched\n"
        "pairs contribute exact +0.0 in the literal chain), so switching\n"
        "tiers by |q| changes no result. The residual-PQ A/B from the\n"
        "same round (raw 0.8625 avg / 0.80 min recall@10 vs residual\n"
        "0.8750 / 0.70 at the graded dial) kept RAW as the ann_pq\n"
        "default: the synthetic vectors are weakly clustered, so the\n"
        "coarse quantizer leaves the residual codebooks nothing extra\n"
        "to model; PQ codes quantize the raw vector.\n"
        "Round 11 ran the next recall lever from the literature under\n"
        "the same adopt-on-evidence discipline: a parametric-OPQ\n"
        "rotation (PCA + balanced eigenvalue allocation, Ge et al.\n"
        "CVPR 2013, fitted on the same deterministic stride sample)\n"
        "measured at the identical graded dial: raw 0.8625 avg / 0.80\n"
        "min recall@10\n"
        "vs OPQ-rotated 0.8438 / 0.70 — REJECTED, raw stays the\n"
        "default, for the same structural reason (near-isotropic\n"
        "synthetic embeddings give the rotation no correlated variance\n"
        "to rebalance, so it only perturbs the codebook geometry). No\n"
        "rotation ships.\n\n",
        "| probe | family | sf0.1 | sf1 (derived) | alpha | verdict |\n",
        "|---|---|---|---|---|---|\n",
    ]
    for name, desc, t01, t1, alpha in rows:
        verdict = (
            "linear-or-better"
            if alpha <= 1.15
            else "superlinear — see plan notes"
            if alpha < 2.0
            else "QUADRATIC — fix"
        )
        section.append(
            f"| {name} | {desc} | {t01:.2f} | {t1:.2f} | {alpha:.2f} | {verdict} |\n"
        )
    text = "".join(section)

    with open("SCALING.md") as f:
        md = f.read()
    md = re.sub(
        r"\n## Heavy-tier decade: sf0\.1 -> sf1 \(derived\)\n.*?(?=\n## |\Z)",
        "",
        md,
        flags=re.S,
    )
    with open("SCALING.md", "w") as f:
        f.write(md.rstrip("\n") + "\n" + text)
    print("SCALING.md updated", flush=True)


if __name__ == "__main__":
    main()
