"""The benchmark's workloads and the harness they share.

Each workload is a closed loop: one client issues an operation, waits for
it to complete and checks its output, then issues the next, until the
run's measuring time is up. The library is driven only through its public
functions and receives only rows made by ``gen``.

Set-up (input generation and loading the input into Spark) is repeated
``SETUP_REPS`` times per run and reported as its median, so that work
moved from an operation into set-up shows in ``setup_s``. The session is
started once, before it, and reported as ``session.start_s``.

Sizes are set so that a whole run, JVM start and warm-up included, takes
about a minute on a 4-core host; CHANGES.md records the runs behind them.
"""

from __future__ import annotations

import dataclasses
import os
import statistics
import sys
import time
import traceback

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import SparkContext
from pyspark.sql import Observation
from pyspark.sql import functions as F

import __spark_entry__
import gen
from spans import Tracer, plan_ms
from merchant_classification_spark.config import EngineConfig
from merchant_classification_spark.ml.classifier import (
    NarrativeClassifier,
    NarrativeClassifierModel,
)
from merchant_classification_spark.ml.tracking import RunTracker
from merchant_classification_spark.pipelines import etl as etl_mod
from merchant_classification_spark.pipelines import train as train_mod
from merchant_classification_spark.session import build_session
from merchant_classification_spark.streaming.dedup import dedup_stream_by_fingerprint
from merchant_classification_spark.streaming.enrichment import enrich_stream

SETUP_REPS = 5
N_MERCHANTS = 40
TRAIN_ROWS = 10_000
#: classes the ETL keeps: the count threshold sits at the size of the
#: KEPT_CLASSES-th largest class, so the Zipf tail below it is dropped
KEPT_CLASSES = 30
#: per-class sample cap; binds on the few largest classes
SAMPLE_SIZE = 800
STREAM_ROWS = 5_000
STREAM_WARMUP = 2
STREAM_TRIGGERS = 4
#: the library default of 2**18 features runs the multinomial fit out of
#: a 1 GB driver heap, and 50 iterations make one fit ~20 s
CLASSIFIER = NarrativeClassifier(num_features=1 << 12, max_iter=5)
#: the generator's overlap puts avg_acc near 0.9; far below means broken
ACC_FLOOR = 0.75
#: graded queries of ``__spark_entry__.queries()`` that score's traced run
#: passes over for the ``operators`` layer: one per operator family
#: (relational, cleaning, dedup); a full 49-query pass takes ~80 s on 4
#: cores, which no run of about a minute can hold
SUITE = ("flagship_accuracy", "etl_clean_format", "simhash_neardup")
#: untimed passes before the suite is traced: on 4 cores a pass gets faster
#: (JIT of the planner and of generated code) from ~10 s cold to ~2 s
#: after a few passes, and slowly to ~1.5 s over ~25 more
SUITE_WARMUP = 6
SUITE_PASSES = 4
#: score's input: generated rows over the merchants the model knows, each
#: scored SCORE_COPIES times per operation, so that an operation is mostly
#: per-row kernel work without generating millions of rows in Python
SCORE_ROWS = 10_000
SCORE_COPIES = 8


def now() -> float:
    return time.perf_counter()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Bench:
    """One benchmark run: its Spark session, tracer and measurements."""

    def __init__(self, work: str, seed: int, seconds: int, trace: bool,
                 scale: float = 1.0):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scale = scale
        self.tracer = Tracer(enabled=False)
        self.spark = None
        self.session_start_s: float | None = None
        self.setup_times: list[float] = []
        self.gen_times: list[float] = []
        self._gen_s = 0.0
        self.input_bytes = 0
        self.summary: list[str] = []
        self._t0 = now()

    def phase(self, name: str) -> None:
        """Log the time since the run started, to standard error."""
        print(f"perfbench: {now() - self._t0:7.2f}s {name}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def rows(self, n: int) -> int:
        """``n`` scaled down for a smoke run."""
        return max(1000, int(n * self.scale))

    def setup(self, prepare):
        """Start the session, then run ``prepare`` ``SETUP_REPS`` times;
        returns the last ``prepare()`` result."""
        t = now()
        self.spark = build_session(extra_conf={
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
        })
        self.session_start_s = now() - t
        self.tracer.bind(self.spark)
        for _ in range(SETUP_REPS):
            t = now()
            self._gen_s = 0.0
            state = prepare()
            self.setup_times.append(now() - t)
            self.gen_times.append(self._gen_s)
        return state

    def generate(self, fn, *args):
        """``fn(*args)``, its time counted as input generation."""
        t = now()
        out = fn(*args)
        self._gen_s += now() - t
        return out

    def frame(self, rows, copies: int = 1):
        """Cached DataFrame of generated transaction rows, each ``copies``
        times."""
        pdf = pd.DataFrame(rows, columns=["tr_merchant", "tr_description", "tr_amount"])
        self.input_bytes = int(pdf.memory_usage(deep=True).sum()) * copies
        df = self.spark.createDataFrame(pdf, gen.SCHEMA)
        if copies > 1:
            # four tasks per core, so a core another tenant slows holds up
            # a quarter of its share of the operation, not all of it
            parts = 4 * self.spark.sparkContext.defaultParallelism
            df = df.crossJoin(self.spark.range(copies)).drop("id").repartition(parts)
        df = df.cache()
        df.count()
        return df

    def loop(self, op, warmup: int = 2):
        """Closed loop over ``op(i, traced)`` for ``seconds`` after
        ``warmup`` untimed operations, numbered from -1 down. The first
        operation runs on a cold JVM and the second is still ~20% slow. In
        a traced run every other operation is traced, so the two medians
        give the tracing overhead. Returns
        ``(untraced_times, traced_times, attempted, failed)``."""
        self.phase("set-up done")
        warm = []
        for i in range(warmup):
            t = now()
            if not op(-1 - i, False):
                raise RuntimeError("warm-up operation failed its output check")
            warm.append(now() - t)
        self.summary.append("warm-up times " + " ".join(f"{t:.3f}" for t in warm) + " s")
        self.phase("warm-up done")
        times: dict[bool, list[float]] = {False: [], True: []}
        attempted = failed = 0
        deadline = now() + self.seconds
        i = 0
        while i == 0 or now() < deadline:
            traced = self.trace and i % 2 == 0
            self.tracer.enabled, self.tracer.op = traced, i
            t = now()
            try:
                ok = op(i, traced)
            except Exception:  # an operation that raises counts as failed
                traceback.print_exc()
                ok = False
            dt = now() - t
            self.tracer.enabled = False
            attempted += 1
            if ok:
                times[traced].append(dt)
            else:
                failed += 1
            if traced:
                self.tracer.collect()
            i += 1
        self.phase("measured")
        return times[False], times[True], attempted, failed

    def peak_rss_mb(self) -> float:
        """VmHWM of this Python driver plus its JVM child, in MB."""
        pids = [os.getpid()]
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            pids.append(proc.pid)
        kb = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def kernel_layers(self, df, rows: int, model=None) -> dict:
        """``functions.clean``: ``clean_transactions`` alone to a noop sink
        on the workload's input; with ``model``, also ``ml.classifier``'s
        scoring of the cleaned rows. Medians of three passes."""
        def passes(build):
            plans, secs = [], []
            for _ in range(3):
                out = build()
                plans.append(plan_ms(out))
                t = now()
                out.write.format("noop").mode("overwrite").save()
                secs.append(now() - t)
            return median(plans), median(secs)

        _, s = passes(lambda: etl_mod.clean_transactions(df))
        out = {"functions.clean.exec_s": (s, "s"),
               "functions.clean.rows_per_s": (rows / s, "rows/s")}
        if model is not None:
            p, s = passes(lambda: model.transform(etl_mod.clean_transactions(df)))
            out["ml.classifier.score_plan_ms"] = (p, "ms")
            out["ml.classifier.score_exec_s"] = (s, "s")
        return out

    def result(self, untraced, traced, attempted, failed, headline: str,
               e2e: dict, layers: dict, correct: bool) -> dict:
        """The run's JSON result. ``e2e`` maps each end-to-end metric of
        the workload to ``(value, unit, samples)``; ``headline`` names the
        one reported as ``op_s``. All of them go into the summary lines."""
        e2e = {
            **e2e,
            "setup_s": (median(self.setup_times), "s", len(self.setup_times)),
            "failed_frac": (failed / attempted, "frac", attempted),
            "peak_rss_mb": (self.peak_rss_mb(), "MB", 1),
        }
        self.summary += [f"{k} {v:.6g} {u} n={n}" for k, (v, u, n) in e2e.items()]
        self.summary.append("op times " + " ".join(
            f"{t:.3f}" for t in untraced or traced) + " s")
        if self.trace:
            overhead = median(traced) / median(untraced) - 1 if untraced and traced else 0.0
            self.summary.append(
                f"tracing overhead {overhead:+.3f} (traced n={len(traced)}, "
                f"untraced n={len(untraced)})")
            metrics = {
                **{name: (0.0, unit) for name, unit in PER_LAYER_UNITS.items()},
                "session.start_s": (self.session_start_s, "s"),
                "sources.gen_s": (median(self.gen_times), "s"),
                "sources.input_bytes": (self.input_bytes, "bytes"),
                **layers,
                "trace.overhead_frac": (overhead, "frac"),
            }
        else:
            v, u, _ = e2e[headline]
            metrics = {
                "setup_s": e2e["setup_s"][:2],
                "op_s": (v / 1000 if u == "ms" else v, "s"),
                "peak_rss_mb": e2e["peak_rss_mb"][:2],
            }
        return {
            "summary": self.summary,
            "correct": correct and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }


#: every per-layer metric; a workload reports 0 for layers it does not reach
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.gen_s": "s",
    "sources.input_bytes": "bytes",
    "functions.clean.exec_s": "s",
    "functions.clean.rows_per_s": "rows/s",
    "operators.sampling.s": "s",
    "operators.sampling.jobs": "count",
    "operators.sampling.kept_ratio": "frac",
    "operators.sampling.classes_kept": "count",
    "pipelines.etl.s": "s",
    "pipelines.etl.jobs": "count",
    "ml.classifier.fit_s": "s",
    "ml.classifier.fit_jobs": "count",
    "ml.classifier.fit_tasks": "count",
    "ml.classifier.fit_executor_run_s": "s",
    "ml.classifier.fit_driver_s": "s",
    "ml.classifier.fit_shuffle_bytes": "bytes",
    "ml.classifier.score_plan_ms": "ms",
    "ml.classifier.score_exec_s": "s",
    "ml.evaluate.s": "s",
    "ml.evaluate.jobs": "count",
    "ml.tracking.save_s": "s",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_commit_ms": "ms",
    "streaming.dedup_drop_ratio": "frac",
    "operators.build_s": "s",
    "operators.eager_jobs": "count",
    "operators.plan_ms": "ms",
    "operators.exec_s": "s",
    "operators.executor_run_s": "s",
    "operators.driver_s": "s",
    "operators.shuffle_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "trace.overhead_frac": "frac",
}


def _config(b: Bench, sizes: dict[str, int]) -> EngineConfig:
    ranked = sorted(sizes.values(), reverse=True)
    return EngineConfig(
        sample_size=int(SAMPLE_SIZE * b.rows(TRAIN_ROWS) / TRAIN_ROWS),
        count_threshold=ranked[KEPT_CLASSES - 1],
        seed=b.seed,
        model_path=b.path("models"),
        model_name="bench",
    )


def _train_input(b: Bench):
    names = gen.merchants(N_MERCHANTS)
    rows, sizes = b.generate(gen.transactions, b.seed, b.rows(TRAIN_ROWS), names)
    return b.frame(rows), sizes


def _kept(sizes: dict[str, int], cfg: EngineConfig) -> list[str]:
    return [m for m, n in sizes.items() if n >= cfg.count_threshold]


def _span_stats(b: Bench, name: str) -> list[dict]:
    """Per traced operation: the summed wall time and inclusive counters of
    the spans called ``name`` that are not nested in another one."""
    by_op: dict[int, dict] = {}
    for s in b.tracer.spans:
        if s["name"] != name or any(
            p["id"] == s["parent"] and p["name"] == name for p in b.tracer.spans
        ):
            continue
        acc = by_op.setdefault(s["op"], {"op": s["op"], "s": 0.0})
        acc["s"] += s["end"] - s["start"]
        for k, v in b.tracer.inclusive(s).items():
            acc[k] = acc.get(k, 0) + v
        acc["plan_ms"] = acc.get("plan_ms", 0) + s.get("plan_ms", 0)
    return list(by_op.values())


def _med(stats: list[dict], key: str) -> float:
    return median([s[key] for s in stats])


def train(b: Bench) -> dict:
    """raw rows -> ``train_merchant_classifier``: etl_pipeline (clean,
    format, stratified sample, split) -> fit -> evaluate (scores the
    held-out split) -> save + log + register. The traced run also streams
    a few files through the last model, for the streaming layer."""
    raw, sizes = b.setup(lambda: _train_input(b))
    cfg = _config(b, sizes)
    b.summary.append(f"input rows={b.rows(TRAIN_ROWS)} merchants={N_MERCHANTS} "
                     f"count_threshold={cfg.count_threshold} "
                     f"sample_size={cfg.sample_size} class_sizes={list(sizes.values())}")
    accs = []
    models = []
    spans = [
        (train_mod, "etl_pipeline", "pipelines.etl"),
        (etl_mod, "stratified_sample", "operators.sampling"),
        (etl_mod, "class_percentile_split", "operators.sampling"),
        (NarrativeClassifier, "fit", "ml.classifier.fit"),
        (train_mod, "evaluate_per_class", "ml.evaluate"),
        (NarrativeClassifierModel, "save", "ml.tracking"),
        (RunTracker, "log_run", "ml.tracking"),
        (RunTracker, "register", "ml.tracking"),
    ]

    def op(i, traced):
        with b.tracer.instrument(spans):
            res = train_mod.train_merchant_classifier(
                raw, cfg, dataclasses.replace(CLASSIFIER))
        accs.append(res.metrics["avg_acc"])
        models[:] = [res.model]
        return res.metrics["avg_acc"] >= ACC_FLOOR

    untraced, traced, attempted, failed = b.loop(op, warmup=3)
    times = untraced or traced
    layers = {}
    correct = True
    if b.trace:
        etl = _span_stats(b, "pipelines.etl")
        sampling = _span_stats(b, "operators.sampling")
        fit = _span_stats(b, "ml.classifier.fit")
        ev = _span_stats(b, "ml.evaluate")
        out = etl_mod.etl_pipeline(raw, cfg.sample_size, cfg.count_threshold,
                                   cfg.test_fraction, cfg.seed)
        sampled = out["train"].count() + out["test"].count()
        label = CLASSIFIER.label_col
        stream_layers, correct = _stream_layers(b, models[0], _kept(sizes, cfg))
        layers = {
            **b.kernel_layers(raw, b.rows(TRAIN_ROWS), models[0]),
            "operators.sampling.s": (_med(sampling, "s"), "s"),
            "operators.sampling.jobs": (_med(sampling, "jobs"), "count"),
            "operators.sampling.kept_ratio": (sampled / out["formatted"].count(), "frac"),
            "operators.sampling.classes_kept": (
                out["train"].select(label).distinct().count(), "count"),
            "pipelines.etl.s": (_med(etl, "s"), "s"),
            "pipelines.etl.jobs": (_med(etl, "jobs"), "count"),
            "ml.classifier.fit_s": (_med(fit, "s"), "s"),
            "ml.classifier.fit_jobs": (_med(fit, "jobs"), "count"),
            "ml.classifier.fit_tasks": (_med(fit, "tasks"), "count"),
            "ml.classifier.fit_executor_run_s": (_med(fit, "executor_run_s"), "s"),
            "ml.classifier.fit_driver_s": (
                median([s["s"] - s["job_s"] for s in fit]), "s"),
            "ml.classifier.fit_shuffle_bytes": (_med(fit, "shuffle_bytes"), "bytes"),
            "ml.evaluate.s": (_med(ev, "s"), "s"),
            "ml.evaluate.jobs": (_med(ev, "jobs"), "count"),
            "ml.tracking.save_s": (_med(_span_stats(b, "ml.tracking"), "s"), "s"),
            **stream_layers,
        }
    acc = median(accs)
    e2e = {"train_s": (median(times), "s", len(times)),
           "avg_acc": (acc, "frac", len(accs))}
    return b.result(untraced, traced, attempted, failed, "train_s", e2e, layers,
                    correct and acc >= ACC_FLOOR)


def _stream_layers(b: Bench, model, kept: list[str]) -> tuple[dict, bool]:
    """Streaming layer: a parquet file source, one ``STREAM_ROWS``-row file
    per trigger, -> ``enrich_stream(model)`` -> ``dedup_stream_by_fingerprint``
    -> noop, for ``STREAM_WARMUP`` untimed and ``STREAM_TRIGGERS`` measured
    triggers. Each trigger must emit exactly the file's first-seen
    fingerprints. Returns the layer metrics and whether every trigger
    did."""
    n_rows = b.rows(STREAM_ROWS)
    source = gen.StreamBatches(f"{b.seed}/stream", kept, n_rows)
    in_dir = b.path("stream", "in")
    os.makedirs(in_dir)
    schema = pa.schema([("tr_merchant", pa.string()), ("tr_description", pa.string()),
                        ("tr_amount", pa.float64()), ("ts", pa.timestamp("ms", tz="UTC"))])
    src = (b.spark.readStream.schema(
        "tr_merchant string, tr_description string, tr_amount double, ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(in_dir))
    out = dedup_stream_by_fingerprint(
        enrich_stream(src, model=model), text_col="tr_description_clean", ts_col="ts")
    out = out.observe("emitted", F.count(F.lit(1)).alias("rows"))
    query = (out.writeStream.format("noop")
             .option("checkpointLocation", b.path("stream", "checkpoint")).start())
    measured: list[dict] = []
    ok, last = True, -1
    try:
        for k in range(STREAM_WARMUP + STREAM_TRIGGERS):
            cols, fresh = source.next()
            stage = b.path("stream", f"batch-{k:05d}.parquet")
            pq.write_table(pa.table(cols, schema=schema), stage)
            os.rename(stage, os.path.join(in_dir, os.path.basename(stage)))
            query.processAllAvailable()
            progress = [p for p in query.recentProgress if p["batchId"] > last]
            last = progress[-1]["batchId"] if progress else last
            progress = [p for p in progress if p["numInputRows"] > 0]
            ok = ok and len(progress) == 1 and int(
                progress[0]["observedMetrics"]["emitted"]["rows"]) == fresh
            if k >= STREAM_WARMUP:
                measured.extend(progress)
    finally:
        query.stop()

    def dur(key):
        return median([p["durationMs"].get(key, 0) for p in measured])

    def state(key):
        return median([p["stateOperators"][0][key] for p in measured if p["stateOperators"]])

    n_in = sum(p["numInputRows"] for p in measured)
    n_out = sum(int(p["observedMetrics"]["emitted"]["rows"]) for p in measured)
    return {
        "streaming.trigger_ms": (dur("triggerExecution"), "ms"),
        "streaming.add_batch_ms": (dur("addBatch"), "ms"),
        "streaming.query_planning_ms": (dur("queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (dur("walCommit"), "ms"),
        "streaming.commit_offsets_ms": (dur("commitOffsets"), "ms"),
        "streaming.state_rows": (state("numRowsTotal"), "count"),
        "streaming.state_commit_ms": (state("commitTimeMs"), "ms"),
        "streaming.dedup_drop_ratio": (1 - n_out / n_in if n_in else 0.0, "frac"),
    }, ok


def score(b: Bench) -> dict:
    """``model.transform(clean_transactions(raw))`` -> noop over generated
    rows. The model is fitted once, after set-up, on train's input. An
    operation fails if its output row count differs from its input or its
    accuracy against the generator's merchant falls below ``ACC_FLOOR``.
    The traced run also measures the ``operators`` layer, by passes over
    graded queries."""
    names = gen.merchants(N_MERCHANTS)
    n_in = b.rows(SCORE_ROWS) * SCORE_COPIES
    held = []

    def prepare():
        rows, sizes = b.generate(gen.transactions, f"{b.seed}/score",
                                 b.rows(SCORE_ROWS), names, 0.0)
        if held:
            held.pop()[0].unpersist()
        held.append((b.frame(rows, SCORE_COPIES), sizes))
        return held[-1]

    raw, sizes = b.setup(prepare)
    t = now()
    train_rows, _ = gen.transactions(b.seed, b.rows(TRAIN_ROWS), names)
    model = dataclasses.replace(CLASSIFIER).fit(etl_mod.clean_transactions(
        b.spark.createDataFrame(
            pd.DataFrame(train_rows, columns=["tr_merchant", "tr_description", "tr_amount"]),
            gen.SCHEMA)))
    b.summary.append(f"input rows={n_in} ({b.rows(SCORE_ROWS)} generated x {SCORE_COPIES}) "
                     f"merchants={N_MERCHANTS} fit_s={now() - t:.3f} "
                     f"class_sizes={list(sizes.values())}")
    label, pred = CLASSIFIER.label_col, CLASSIFIER.prediction_col
    accs = []

    def op(i, traced):
        obs = Observation()
        out = model.transform(etl_mod.clean_transactions(raw)).observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.sum((F.col(pred) == F.col(label)).cast("long")).alias("hits"))
        with b.tracer.span("ml.classifier.score"):
            out.write.format("noop").mode("overwrite").save()
        got = obs.get
        accs.append(got["hits"] / max(1, got["rows"]))
        return got["rows"] == n_in and accs[-1] >= ACC_FLOOR

    untraced, traced, attempted, failed = b.loop(op)
    times = untraced or traced
    layers = {}
    correct = True
    if b.trace:
        suite_layers, correct = _suite_layers(b)
        layers = {**b.kernel_layers(raw, n_in, model), **suite_layers}
    e2e = {"score_s": (median(times), "s", len(times)),
           "score_rows_per_s": (n_in / median(times), "rows/s", len(times)),
           "acc": (median(accs), "frac", len(accs))}
    return b.result(untraced, traced, attempted, failed, "score_s", e2e, layers,
                    correct and median(accs) >= ACC_FLOOR)


def _suite_layers(b: Bench) -> tuple[dict, bool]:
    """``operators`` layer: passes over the ``SUITE`` queries of
    ``__spark_entry__.queries()`` on generated tables, each query built and
    run to a noop sink; ``SUITE_WARMUP`` untimed passes, then
    ``SUITE_PASSES`` traced ones. The first pass records every query's row
    count; a query fails if it raises or returns another count. Returns
    the layer metrics and whether no query failed."""
    tables_dir = b.path("tables")
    os.makedirs(tables_dir)
    for name, tab in gen.tables(b.seed).items():
        pq.write_table(tab, os.path.join(tables_dir, f"{name}.parquet"))
    queries = __spark_entry__.queries()
    suite = SUITE if b.scale >= 1 else SUITE[:2]
    warmup = SUITE_WARMUP if b.scale >= 1 else 1
    expected: dict[str, int] = {}
    failed = 0
    pass_s, query_s = [], []
    for k in range(warmup + SUITE_PASSES):
        traced = k >= warmup
        b.tracer.enabled, b.tracer.op = traced, f"suite-{k}"
        t0 = now()
        for name in suite:
            t = now()
            obs = Observation()
            try:
                with b.tracer.span("operators.build") as rec:
                    df = queries[name](b.spark, tables_dir).observe(
                        obs, F.count(F.lit(1)).alias("rows"))
                if traced:
                    rec["plan_ms"] = plan_ms(df)
                with b.tracer.span("operators.exec"):
                    df.write.format("noop").mode("overwrite").save()
                rows = obs.get["rows"]
            except Exception:
                traceback.print_exc()
                rows = None
            if rows is None or expected.setdefault(name, rows) != rows:
                failed += 1
            if traced:
                query_s.append(now() - t)
        b.tracer.enabled = False
        if traced:
            pass_s.append(now() - t0)
            b.tracer.collect()
    b.summary.append(f"suite tables={gen.TABLE_ROWS} rows={expected} "
                     f"traced suite_s={median(pass_s):.4f} s n={len(pass_s)} "
                     f"query_p50_s={median(query_s):.4f} s n={len(query_s)} "
                     f"query_failed={failed}")
    build = {s["op"]: s for s in _span_stats(b, "operators.build")}
    exe = {s["op"]: s for s in _span_stats(b, "operators.exec")}
    passes = [(build[k], exe[k]) for k in build if k in exe]

    def both(key):
        return median([bd[key] + ex[key] for bd, ex in passes])

    return {
        "operators.build_s": (median([bd["s"] for bd, _ in passes]), "s"),
        "operators.eager_jobs": (median([bd["jobs"] for bd, _ in passes]), "count"),
        "operators.plan_ms": (median([bd["plan_ms"] for bd, _ in passes]), "ms"),
        "operators.exec_s": (median([ex["s"] for _, ex in passes]), "s"),
        "operators.executor_run_s": (both("executor_run_s"), "s"),
        "operators.driver_s": (
            median([bd["s"] - bd["job_s"] + ex["s"] - ex["job_s"]
                    for bd, ex in passes]), "s"),
        "operators.shuffle_bytes": (both("shuffle_bytes"), "bytes"),
        "operators.spill_bytes": (both("spill_bytes"), "bytes"),
    }, failed == 0


WORKLOADS = {"train": train, "score": score}
