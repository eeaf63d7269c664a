"""Regression-gate decision rule (tools/bench_compare.py compare()) and
bench.py's Spark-free helpers (floor_probe, time_warm)."""

import importlib.util
import json
import os


def _load():
    spec = importlib.util.spec_from_file_location(
        "bench_compare",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
            "bench_compare.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


BC = _load()


def _run(median, spread):
    return {
        "members": {"s": {"m": median}},
        "member_spread": {"s": {"m": spread}},
    }


def test_shifted_median_nonoverlapping_spread_flags():
    rep = BC.compare(_run(2.0, [1.8, 2.2]), _run(6.0, [5.5, 6.5]))
    assert [o["member"] for o in rep["offenders"]] == ["s/m"]


def test_overlapping_spread_never_flags():
    # median doubled but the spreads overlap: ambient contention shape
    rep = BC.compare(_run(2.0, [1.8, 5.9]), _run(4.0, [2.1, 6.0]))
    assert rep["offenders"] == []


def test_within_tolerance_never_flags():
    rep = BC.compare(_run(2.0, [1.9, 2.1]), _run(2.8, [2.7, 2.9]))
    assert rep["offenders"] == []  # 1.4x < 1.5x default


def test_improvement_never_flags():
    rep = BC.compare(_run(6.0, [5.5, 6.5]), _run(2.0, [1.8, 2.2]))
    assert rep["offenders"] == []


def test_sub_threshold_members_skipped():
    rep = BC.compare(_run(0.05, [0.04, 0.06]), _run(0.2, [0.19, 0.21]))
    assert rep["offenders"] == []  # both under MIN_SEC


def test_missing_spread_degrades_to_ratio_only():
    a = {"members": {"s": {"m": 2.0}}}
    b = {"members": {"s": {"m": 6.0}}}
    rep = BC.compare(a, b)
    assert len(rep["offenders"]) == 1


def _many(median_map, spread_map):
    return {
        "members": {"s": dict(median_map)},
        "member_spread": {"s": dict(spread_map)},
    }


def test_session_drift_normalized_out():
    # 12 members all uniformly 1.6x slower (a slow machine): no offender
    a = _many({f"m{i}": 2.0 for i in range(12)},
              {f"m{i}": [1.9, 2.1] for i in range(12)})
    b = _many({f"m{i}": 3.2 for i in range(12)},
              {f"m{i}": [3.1, 3.3] for i in range(12)})
    rep = BC.compare(a, b)
    assert rep["session_drift"] == 1.6
    assert rep["offenders"] == []


def test_real_regression_survives_drift_normalization():
    # same slow session, but one member is 4x: still flagged
    med_a = {f"m{i}": 2.0 for i in range(12)}
    spr_a = {f"m{i}": [1.9, 2.1] for i in range(12)}
    med_b = {f"m{i}": 3.2 for i in range(12)}
    spr_b = {f"m{i}": [3.1, 3.3] for i in range(12)}
    med_b["m5"], spr_b["m5"] = 8.0, [7.8, 8.2]
    rep = BC.compare(_many(med_a, spr_a), _many(med_b, spr_b))
    assert [o["member"] for o in rep["offenders"]] == ["s/m5"]


# --- round 12: per-query driver contract + core-aware gate -----------------


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "bench.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_gate_is_report_only_across_core_counts():
    bench = _load_bench()
    assert bench._gate_cpus_mismatch({"cpus": 32}, 8) is True
    assert bench._gate_cpus_mismatch({"cpus": 32}, 32) is False
    # artifacts predating the field keep the old always-gating behavior
    assert bench._gate_cpus_mismatch({}, 8) is False


def test_headline_line_with_per_query_map_fits_tail_capture():
    """The driver parses ONLY the final printed line and its tail
    capture truncates around ~2000 chars; the round-12 headline carries
    the flat per-query map, so the rendered line must stay inside that
    window for the full declared-query surface (worst-case 4-digit
    seconds per query)."""
    import json
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as entry

    names = list(entry.queries())
    assert len(names) >= 50
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": 9999.999,
            "unit": "sec",
            "sf": 0.1,
            "cpus": 32,
            "n_queries": len(names),
            "queries": {n: 9999.999 for n in names},
        },
        separators=(",", ":"),
    )
    assert len(line) < 1900, len(line)


def _probe_lines(bench, capsys, draws, floor=5.0, best=None):
    it = iter(draws)

    def measure():
        v = next(it)
        if isinstance(v, Exception):
            raise v
        return v

    got = bench.floor_probe("m", "u", measure, floor, best=best)
    return got, [json.loads(ln) for ln in capsys.readouterr().out.splitlines()]


def test_floor_probe_pass_prints_one_line(capsys):
    bench = _load_bench()
    got, lines = _probe_lines(bench, capsys, [10.0])
    assert got == (10.0, False)
    assert lines == [
        {"metric": "m", "value": 10.0, "unit": "u", "floor": 5.0,
         "floor_violated": False}
    ]
    assert list(lines[0]) == ["metric", "value", "unit", "floor", "floor_violated"]


def test_floor_probe_breach_retries_once_and_keeps_the_max(capsys):
    bench = _load_bench()
    got, lines = _probe_lines(bench, capsys, [3.0, 8.0])
    assert got == (8.0, False)
    assert [ln["value"] for ln in lines] == [8.0]


def test_floor_probe_breach_on_both_tries_then_late_retry(capsys):
    bench = _load_bench()
    got, lines = _probe_lines(bench, capsys, [3.0, 4.0])
    assert got == (4.0, True)
    assert lines[0]["floor_violated"] is True and "late_retry" not in lines[0]
    # the late retry measures once and keeps the better draw
    got, lines = _probe_lines(bench, capsys, [2.0], best=4.0)
    assert got == (4.0, True)
    assert lines == [
        {"metric": "m", "value": 4.0, "unit": "u", "floor": 5.0,
         "floor_violated": True, "late_retry": True}
    ]


def test_floor_probe_without_floor_and_on_error(capsys):
    bench = _load_bench()
    got, lines = _probe_lines(bench, capsys, [1.0], floor=None)
    assert got == (1.0, False)
    assert lines == [{"metric": "m", "value": 1.0, "unit": "u"}]
    got, lines = _probe_lines(bench, capsys, [RuntimeError("boom")])
    assert got == (None, False)
    assert lines == [{"metric": "m", "error": "boom"}]
    # a retry that raises keeps the first draw
    got, lines = _probe_lines(bench, capsys, [3.0, RuntimeError("boom")])
    assert got == (3.0, False)
    assert lines == [{"metric": "m", "error": "boom"}]
    # a late retry that raises keeps the earlier value and the breach
    got, lines = _probe_lines(bench, capsys, [RuntimeError("boom")], best=4.0)
    assert got == (4.0, True)
    assert lines == [{"metric": "m", "error": "boom"}]


def test_time_warm_times_every_pass_but_the_warm_up(monkeypatch):
    """One untimed warm-up pass, then `reps` timed (build_s, exec_s)
    passes on a fake clock, the session released after every pass."""
    import types

    bench = _load_bench()
    now = [0.0]
    events = []
    monkeypatch.setattr(
        bench, "time", types.SimpleNamespace(perf_counter=lambda: now[0])
    )

    class Plan:
        """Stands in for a DataFrame: plan.write.mode().format().save()."""

        def __init__(self, n):
            self.n = n
            self.write = self

        def mode(self, mode):
            assert mode == "overwrite"
            return self

        def format(self, fmt):
            assert fmt == "noop"
            return self

        def save(self):
            events.append(f"exec{self.n}")
            now[0] += 10.0 * self.n

    built = []

    def build():
        n = len(built)
        built.append(n)
        events.append(f"build{n}")
        now[0] += n
        return Plan(n)

    session = types.SimpleNamespace(
        catalog=types.SimpleNamespace(
            clearCache=lambda: events.append("clear")
        ),
        sparkContext=types.SimpleNamespace(
            _jvm=types.SimpleNamespace(
                System=types.SimpleNamespace(gc=lambda: events.append("gc"))
            )
        ),
    )
    passes = bench.time_warm(session, build, 3)
    # build 0 is the warm-up and is not returned
    assert passes == [(1.0, 10.0), (2.0, 20.0), (3.0, 30.0)]
    assert events == [
        e for n in range(4) for e in (f"build{n}", f"exec{n}", "clear", "gc")
    ]
    events.clear()
    built.clear()
    assert bench.time_warm(session, build, 2, warmup=False) == [
        (0.0, 0.0),
        (1.0, 10.0),
    ]
    assert events.count("clear") == events.count("gc") == 2
