"""Benchmark harness: times the engine's graded queries end to end.

Prints one JSON object per line, in this order:

  {"metric": "streaming_throughput_rps", "value", "unit", "floor", "floor_violated"}
  {"metric": "streaming_ann_serve_qps", "value", "unit", "floor", "floor_violated"}
  {"metric": "streaming_ann_serve_qps_1024", "value", "unit"}
  {"metric": "main_pass_remeasured", "queries", "session_drift"}    (if any)
  a floor line again, with "late_retry": true                        (on a breach)
  {"queries": {name: sec}, "members": {suite: {member: sec}}, "sf"}
  {"metric": "bench_regression_gate", ...}            (if an artifact exists)
  {"metric": "headline_queries_total", "value", "unit", "sf", "cpus",
   "n_queries", "queries"}

A probe that raises prints {"metric", "error"} in place of its line. The
headline, with the flat per-query map, is the last line, alone and compact:
a reader that keeps only the last ~2000 characters of the output still gets
it. Every number, with the rep spreads and every probe draw, is also written
to $SPARK_GRAFT_BENCH_OUT (default bench_results.json; empty disables), which
no tail capture truncates.

Method: `time_warm` is the one timing loop. An untimed warm-up pass comes
first (whole-stage codegen and JIT make a fresh JVM's first run 3-10x slower;
$SPARK_GRAFT_BENCH_WARMUP=0 records cold runs), then timed passes that build
the plan and `force` it into the `noop` sink, so no driver collect skews the
number. `release` runs after every pass (see there).

- Suite queries: the min of $SPARK_GRAFT_BENCH_REPS (default 2) passes; the
  min keeps one ambient-load hiccup on a shared host out of the headline.
- Suite members ($SPARK_GRAFT_BENCH_MEMBERS=0 skips): a suite total cannot
  attribute a regression to one of its 2-6 members, so each member's
  standalone plan is timed too, as the median of
  $SPARK_GRAFT_BENCH_MEMBER_REPS (default 3) passes. The median tolerates one
  hiccup, where the min would hide a real regression that shows as steady
  slowness.

The streaming probes run first, on the fresh JVM: run after the batch passes
they inherit the heap and block-manager churn those leave and read about half
their isolated rate. Each has a floor ($SPARK_GRAFT_STREAM_FLOOR, default
30000 rows/s; $SPARK_GRAFT_ANN_SERVE_FLOOR, default 50 q/s) below its
isolated noise band but far above the ~10x regressions it exists to catch
(per-row Python in the stream path, a lost state-store shortcut or
broadcast); a breach exits 2. The 1024-query serving rate is a capacity
number and has no floor. $SPARK_GRAFT_BENCH_STREAMING=0 skips the probes.

Offenders are re-measured before they count: an ambient-load burst shifts
every rep of whatever runs inside its window, while a real regression
reproduces minutes later.
- A floor breach is probed again at once, and once more after the batch
  passes: the first probes may run while the host still digests what ran
  before the bench.
- Against the last committed artifact (the file at $SPARK_GRAFT_BENCH_OUT
  before this run overwrites it), a suite query whose min exceeds the
  artifact's by more than 1.5x after session-drift normalization is timed
  again, keeping the better observation.
- tools/bench_compare.py flags a member whose median moved beyond tolerance
  with non-overlapping rep spreads. Offenders are timed again and any left
  exit 3 ($SPARK_GRAFT_BENCH_COMPARE=0 reports without failing).
When the artifact was measured at another core count than this session the
gate is report-only: members legitimately scale with cores.

Data dir from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1);
parallelism from $SPARK_GRAFT_CPUS (default all cores).
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
    """Execute a batch plan in full, with no driver collect."""
    df.write.mode("overwrite").format("noop").save()


def release(spark) -> None:
    """Drop cached blocks and collect both heaps between passes.

    Operators that persist internally (dedup, ANN index builds) would
    otherwise serve the next pass from cache. ``clearCache`` does not
    free ``localCheckpoint`` blocks: the ContextCleaner frees those only
    once the driver-side DataFrame refs are garbage-collected. Without
    the collects the checkpoint-heavy operators' blocks pile up and
    later passes run slower and slower. Only the classic py4j gateway
    exposes ``_jvm``; under Spark Connect this is the Python-side
    collect alone."""
    spark.catalog.clearCache()
    gc.collect()
    jvm = getattr(spark.sparkContext, "_jvm", None)
    if jvm is not None:
        jvm.System.gc()


def time_warm(spark, build, reps: int, warmup: bool = True):
    """Time ``reps`` passes of the plan ``build()`` returns.

    Each pass builds the plan (Python construction plus any eager fit
    jobs) and forces it. An untimed warm-up pass runs first when
    ``warmup``; the session is released after every pass. Returns one
    ``(build_s, exec_s)`` per timed pass, in order."""
    if warmup:
        force(build())
        release(spark)
    passes = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        force(df)
        passes.append((t1 - t0, time.perf_counter() - t1))
        release(spark)
    return passes


def _totals(spark, fn, sf_dir: str, reps: int, warmup: bool) -> list[float]:
    """Sorted build+exec seconds of the timed passes of one query."""
    passes = time_warm(spark, lambda: fn(spark, sf_dir), reps, warmup)
    return sorted(b + e for b, e in passes)


def _time_query(spark, sf_dir: str, name: str, reps: int, warmup: bool):
    """(min, [lo, hi]) seconds of one suite query."""
    obs = _totals(spark, entry_mod.QUERIES[name], sf_dir, reps, warmup)
    return round(obs[0], 3), [round(obs[0], 3), round(obs[-1], 3)]


def _time_member(spark, sf_dir: str, name: str, reps: int, warmup: bool):
    """(median, [lo, hi]) seconds of one member's standalone plan, which
    gets its own warm-up: it compiles differently from the suite union."""
    obs = _totals(spark, entry_mod.BRANCH_QUERIES[name], sf_dir, reps, warmup)
    return round(obs[len(obs) // 2], 3), [round(obs[0], 3), round(obs[-1], 3)]


#: every timed draw of the two floored streaming probes, in order (rows/s
#: and q/s). The probes report their best draw, which can only hide drift;
#: the artifact keeps the others so drift stays visible.
PROBE_OBS: dict[str, list[float]] = {"ingest_rps": [], "serve_qps": []}


def _streaming_throughput(
    spark, rows: int = 200_000, warmup_rows: int = 20_000
) -> float:
    """Rows/sec through the streaming ingest path: rate-micro-batch
    source → enrich_stream (regex cleaning chain) →
    dedup_stream_by_fingerprint (watermarked stateful dedup) → noop
    sink, one deterministic micro-batch of `rows` rows.

    A small warm-up batch first amortizes codegen and state-store
    initialization, which otherwise sit inside the measured window and
    understate steady-state throughput by ~20%; then two measured
    batches, each on a fresh checkpoint."""
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
    # best of two: the floor is a tripwire for ~10x regressions, not a
    # drift detector, and single draws on this path have measured half
    # the rate of the next draw in the same session
    obs = [round(rows / one_batch(rows), 1) for _ in (1, 2)]
    PROBE_OBS["ingest_rps"].extend(obs)
    return max(obs)


def _streaming_ann_serve_rate(
    spark, sf_dir: str, n_queries: int = 256
) -> float:
    """Steady-state queries/sec through the streaming-ANN serving path
    (streaming/ann.py): a persisted PQ index and one micro-batch of
    ``n_queries`` queries scored via foreachBatch pq_search with the
    fetch-and-rescore refine.

    The index is built once (the deployment precondition, not the
    serving cost) and one ServingIndex is pinned across every pass, the
    steady-state posture of start_ann_stream, so a timed trigger plans
    and probes the cached index instead of re-reading parquet. A warm-up
    batch amortizes codegen and JIT; then batches of new query files
    against the same checkpoint, the steady-state trigger shape, are
    timed. What is left per trigger is stream machinery, planning and
    the index scan, so the rate is a trigger-latency floor more than a
    scoring throughput; SCALING.md carries the scan's scaling."""
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
        # best of two timed passes: the per-trigger cost has a long
        # ambient tail on a shared host (single draws of the same code
        # ranged 20-104 q/s), and the floor is a lost-broadcast
        # tripwire, not a drift detector
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


def floor_probe(metric: str, unit: str, measure, floor=None, best=None):
    """Run one streaming probe, print its metric line and return
    ``(value, floor_violated)``.

    A value below ``floor`` is measured once more and the better draw
    kept. ``best`` is the value an earlier call kept for a breached
    floor: passing it makes this the late retry, which measures once,
    keeps the better of the two and marks its line ``"late_retry":
    true``. A probe that raises prints ``{"metric", "error"}`` and
    returns the value kept so far, with the floor violated only if it
    already was."""
    late = best is not None
    value = best
    try:
        draw = measure()
        value = draw if value is None else max(value, draw)
        if not late and floor is not None and value < floor:
            value = max(value, measure())
    except Exception as e:  # never let a probe sink the batch bench
        print(json.dumps({"metric": metric, "error": str(e)[:200]}))
        return value, late
    violated = floor is not None and value < floor
    line = {"metric": metric, "value": value, "unit": unit}
    if floor is not None:
        line.update(floor=floor, floor_violated=violated)
    if late:
        line["late_retry"] = True
    print(json.dumps(line))
    return value, violated


def _gate_cpus_mismatch(prev: dict, cpus: int) -> bool:
    """True when the committed artifact was measured at a different core
    count than this session: the regression gate then only reports (no
    re-measures, no nonzero exit), because member times legitimately
    shift with the core count. Artifacts without "cpus" gate as usual."""
    return prev.get("cpus") is not None and prev.get("cpus") != cpus


def _remeasure_queries(prev_q: dict, timings, query_spread, time_query):
    """Time again each suite query whose min exceeds the artifact's by
    more than 1.5x beyond the session drift, keeping the better
    observation; prints ``main_pass_remeasured`` when any was."""
    ratios = sorted(timings[n] / prev_q[n] for n in timings if prev_q.get(n))
    # session drift: the median ratio, slowdowns only
    drift = max(ratios[len(ratios) // 2] if len(ratios) >= 10 else 1.0, 1.0)
    retried = {}
    for name in list(timings):
        pa = prev_q.get(name)
        if not pa or max(pa, timings[name]) < 1.0:
            continue
        if timings[name] / pa / drift > 1.5:
            sec, spread = time_query(name)
            retried[name] = sec
            if sec < timings[name]:
                timings[name], query_spread[name] = sec, spread
    if retried:
        print(
            json.dumps(
                {
                    "metric": "main_pass_remeasured",
                    "queries": retried,
                    "session_drift": round(drift, 3),
                }
            )
        )


def _remeasure_members(bc, prev: dict, members, member_spread, time_member):
    """Compare the member pass with the artifact, timing each offender
    once more; returns the final report.

    Loops because a re-measure moves the session-drift median, and the
    re-compare can then flag a member that never got its retry. Each
    member is retried at most once, so the loop ends."""
    run = {"members": members, "member_spread": member_spread}
    report = bc.compare(prev, run)
    retried = {}
    for _ in range(5):
        fresh = [
            o["member"]
            for o in report.get("offenders", [])
            if o["member"] not in retried
        ]
        if not fresh:
            break
        for key in fresh:
            suite, name = key.split("/", 1)
            members[suite][name], member_spread[suite][name] = time_member(name)
            retried[key] = members[suite][name]
        report = bc.compare(prev, run)
    if retried:
        report["retried_members"] = retried
    return report


def _load_bench_compare():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_compare",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "tools",
            "bench_compare.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    # a process that runs main() more than once must not carry an earlier
    # run's draws into this run's artifact
    for draws in PROBE_OBS.values():
        draws.clear()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "bench_results.json")
    warmup = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    member_reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_MEMBER_REPS", "3")))
    stream_floor = float(os.environ.get("SPARK_GRAFT_STREAM_FLOOR", "30000"))
    ann_floor = float(os.environ.get("SPARK_GRAFT_ANN_SERVE_FLOOR", "50"))

    spark = build_session(app_name="mcs-bench")
    cpus = spark.sparkContext.defaultParallelism

    def time_query(name):
        return _time_query(spark, sf_dir, name, reps, warmup)

    def time_member(name):
        return _time_member(spark, sf_dir, name, member_reps, warmup)

    stream_rps = ann_qps = ann_qps_1k = None
    stream_violated = ann_violated = False
    if os.environ.get("SPARK_GRAFT_BENCH_STREAMING", "1") != "0":
        stream_rps, stream_violated = floor_probe(
            "streaming_throughput_rps", "rows/sec",
            lambda: _streaming_throughput(spark), stream_floor,
        )
        release(spark)
        ann_qps, ann_violated = floor_probe(
            "streaming_ann_serve_qps", "queries/sec",
            lambda: _streaming_ann_serve_rate(spark, sf_dir), ann_floor,
        )
        ann_qps_1k, _ = floor_probe(
            "streaming_ann_serve_qps_1024", "queries/sec",
            lambda: _streaming_ann_serve_rate(spark, sf_dir, n_queries=1024),
        )
        release(spark)

    # warm the JVM/codegen once so timings measure the queries, not startup
    force(entry_mod.q_class_histogram(spark, sf_dir))
    timings: dict[str, float] = {}
    query_spread: dict[str, list[float]] = {}
    for name in entry_mod.queries():
        timings[name], query_spread[name] = time_query(name)

    members: dict[str, dict[str, float]] = {}
    member_spread: dict[str, dict[str, list[float]]] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_MEMBERS", "1") != "0":
        for suite, names in entry_mod.SUITES.items():
            if len(names) < 2:
                continue
            members[suite], member_spread[suite] = {}, {}
            for name in names:
                members[suite][name], member_spread[suite][name] = time_member(name)

    # the artifact on disk is the last committed run when the tree is
    # clean, which is how the bench is meant to be invoked
    compare_report = None
    cpus_mismatch = False
    if members and out_path and os.path.exists(out_path):
        try:
            bc = _load_bench_compare()
            with open(out_path) as f:
                prev = json.load(f)
            cpus_mismatch = _gate_cpus_mismatch(prev, cpus)
            if cpus_mismatch:
                compare_report = bc.compare(
                    prev, {"members": members, "member_spread": member_spread}
                )
            else:
                _remeasure_queries(
                    prev.get("queries", {}) or {}, timings, query_spread, time_query
                )
                compare_report = _remeasure_members(
                    bc, prev, members, member_spread, time_member
                )
        except Exception as e:  # a broken/old artifact never sinks the bench
            compare_report = {"error": str(e)[:200]}

    if stream_violated:
        stream_rps, stream_violated = floor_probe(
            "streaming_throughput_rps", "rows/sec",
            lambda: _streaming_throughput(spark), stream_floor, best=stream_rps,
        )
        release(spark)
    if ann_violated:
        ann_qps, ann_violated = floor_probe(
            "streaming_ann_serve_qps", "queries/sec",
            lambda: _streaming_ann_serve_rate(spark, sf_dir), ann_floor,
            best=ann_qps,
        )
        release(spark)

    total = sum(timings.values())
    print(json.dumps({"queries": timings, "members": members, "sf": sf}))
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
                        "streaming_floor_violated": stream_violated,
                        "streaming_ann_serve_qps": ann_qps,
                        "streaming_ann_serve_qps_1024": ann_qps_1k,
                        "streaming_ann_serve_floor": ann_floor,
                        "streaming_ann_serve_floor_violated": ann_violated,
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
    if stream_violated or ann_violated:
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
