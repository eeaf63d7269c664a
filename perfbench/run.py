"""Benchmark of the merchant-classification pipeline. Run from the root of
the repository:

    python3 perfbench/run.py --workload train --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each was chosen):

  train        raw rows -> train_merchant_classifier (clean, format,
               stratified sample, split, fit, evaluate, save, log, register);
               the traced run also streams files through the model
               (enrich_stream -> dedup_stream_by_fingerprint -> noop)
  score        model.transform(clean_transactions(raw)) -> noop over
               generated rows, the model fitted once after set-up; the
               traced run also passes over graded queries of
               __spark_entry__.queries() on generated tables

Every input is generated from ``--seed`` by ``gen.py``. With ``--trace 0``
the run reports the end-to-end metrics; with ``--trace 1`` it traces every
other operation, reports the per-layer metrics and the tracing overhead,
and writes its spans to ``.perfbench_work/spans.jsonl``. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it are a
readable summary that names every end-to-end metric of the workload with
its unit and sample count. Everything the run writes stays under
``.perfbench_work/`` in the repository. ``--scale`` shrinks the inputs for
the smoke test in ``perfbench/tests``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: JVM options per workload. score's per-row kernels are a few hot loops
#: that at the JIT's default thresholds still get faster for several
#: operations after warm-up; compiling after a fifth of the invocations
#: steadies them within it. train plans many distinct jobs per operation,
#: and the same setting kept two compiler threads busy (2.2 of 4 cores)
#: through its measurement, so train runs with the defaults.
JVM_OPTS = {"train": "", "score": " -XX:CompileThresholdScaling=0.2"}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(JVM_OPTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    return ap.parse_args(argv)


def _confine(work: str, workload: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``, and
    make the library importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData{JVM_OPTS[workload]}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "merchant_classification_spark", "__init__.py")):
        print(f"perfbench: no merchant_classification_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    _confine(work, args.workload)

    import workloads

    bench = workloads.Bench(work, args.seed, args.seconds, bool(args.trace), args.scale)
    try:
        result = workloads.WORKLOADS[args.workload](bench)
    finally:
        bench.phase("closing")
        bench.close()
    if args.trace:
        bench.tracer.write(os.path.join(work, "spans.jsonl"))
    for line in result.pop("summary"):
        print(f"# {args.workload}: {line}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
