"""bench.py is a thin front over perfbench/run.py: these tests replace the
perfbench call and the driver queries with fakes (no Spark) and check the
contract line the driver parses."""

from __future__ import annotations

import importlib.util
import json
import os
import signal

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONTRACT = {"metric", "value", "unit", "queries", "sf"}
HOST = {"nproc": 4, "cpu_count": 4, "mem_total_mb": 15000, "cpu_model": "test cpu", "engine": "git:0"}


def _stdout(workload: str, trace: str, events_per_s: float) -> str:
    """What perfbench/run.py prints for one workload."""
    if trace == "1":
        metrics = {"mor.compact_latest.wall_s": {"value": 1.5, "unit": "s"},
                   "merge.merge_into.plan_s": {"value": 0.0, "unit": "s"}}
    else:
        metrics = {k: {"value": v, "unit": "x"} for k, v in
                   (("cpu_s_per_mevent", 300.0), ("write_amp", 2.0), ("setup_s", 9.0),
                    ("peak_rss_mb", 1500.0))}
        if workload == "mor-replay-skewed":
            metrics.update(scaling_eff={"value": 0.7, "unit": "ratio"},
                           cpu_parity={"value": 1.2, "unit": "ratio"})
    lines = [f"# {workload} trace={trace} cores=4 attempted=9 failed=0"]
    if trace == "0":
        lines.append(f"{'events_per_s':<22} {events_per_s:>14.4f} {'events/s':<12}")
    lines += [f"{'error_rate':<22} {0.0:>14.4f} {'ratio':<12}", f"host: {json.dumps(HOST)}",
              json.dumps({"correct": True, "attempted": 9, "failed": 0, "metrics": metrics})]
    return "\n".join(lines) + "\n"


RATES = {"mor-replay-skewed": 12000.0, "cow-trickle-uniform": 500.0, "stream-open-loop": 4000.0}


@pytest.fixture
def bench(monkeypatch, tmp_path):
    """A fresh bench module per test (its contract line is module state),
    writing its artifacts under tmp_path, with fake perfbench and queries."""
    spec = importlib.util.spec_from_file_location("bench_under_test", os.path.join(ROOT, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(mod, "OUT_JSON", str(tmp_path / "BENCH.json"))
    monkeypatch.setattr(mod, "OUT_MD", str(tmp_path / "BENCH.md"))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sf0.1"))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_BUDGET_S", raising=False)
    mod.calls = []

    def fake_perfbench(args, timeout):
        mod.calls.append(args)
        return 0, _stdout(args[0], args[args.index("--trace") + 1], RATES[args[0]]), ""

    def fake_queries(sf_dir, cores, timed_passes=2, time_left=None):
        out = {}
        for name in mod.HEADLINE:
            if time_left is not None and time_left() < 45:
                break
            out[name] = 0.25
        return out

    monkeypatch.setattr(mod, "run_perfbench", fake_perfbench)
    monkeypatch.setattr(mod, "bench_queries", fake_queries)
    saved = {s: signal.getsignal(s) for s in (signal.SIGTERM, signal.SIGINT, signal.SIGALRM)}
    yield mod
    signal.alarm(0)
    for s, h in saved.items():
        signal.signal(s, h)


def _one_line(capsys) -> dict:
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert len(lines) == 1, lines
    return json.loads(lines[0])


def test_full_run_prints_one_contract_line(bench, capsys, tmp_path):
    bench.main()
    line = _one_line(capsys)
    assert CONTRACT <= set(line)
    assert line["metric"] == "cdc_events_per_sec_local4"
    assert line["value"] == 12000.0 and line["unit"] == "events/sec" and line["sf"] == 0.1
    assert list(line["queries"]) == bench.HEADLINE
    assert line["scaling_efficiency_N_to_4N"] == 0.7 and line["cpu_parity"] == 1.2
    assert line["cow_events_per_sec"] == 500.0
    assert line["stream_open_loop_events_per_sec"] == 4000.0
    assert line["skipped"] == {} and line["cdc_correct"] is True
    assert [c[0] for c in bench.calls] == [
        "mor-replay-skewed", "cow-trickle-uniform", "stream-open-loop", "mor-replay-skewed"]
    assert "--scaling" in bench.calls[0] and bench.calls[3][-1] == "1"
    full = json.loads((tmp_path / "BENCH.json").read_text())
    assert full["sections"]["layers"]["metrics"]["mor.compact_latest.wall_s"] == 1.5
    md = (tmp_path / "BENCH.md").read_text()
    assert "mor.compact_latest.wall_s" in md and "merge.merge_into.plan_s" not in md
    assert "bypassMergeThreshold=" in md


def test_failed_section_is_reported_not_fatal(bench, capsys, monkeypatch):
    ok = bench.run_perfbench

    def stream_fails(args, timeout):
        if args[0] == "stream-open-loop":
            return 1, "", "Traceback ...\nperfbench: stream-open-loop timed out:\n"
        return ok(args, timeout)

    monkeypatch.setattr(bench, "run_perfbench", stream_fails)
    bench.main()
    line = _one_line(capsys)
    assert CONTRACT <= set(line)
    assert "stream_open_loop_events_per_sec" not in line
    assert "exited 1" in line["skipped"]["stream"] and "timed out" in line["skipped"]["stream"]
    assert line["value"] == 12000.0 and line["cow_events_per_sec"] == 500.0
    assert len(line["queries"]) == len(bench.HEADLINE)


def test_exhausted_budget_skips_sections_with_reasons(bench, capsys, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET_S", "60")
    bench.main()
    line = _one_line(capsys)
    assert CONTRACT <= set(line)
    assert line["value"] is None and line["queries"] == {}
    assert bench.calls == []
    assert set(line["skipped"]) == {"mor", "queries", "cow", "stream", "layers"}
    assert all(r.startswith("budget") for r in line["skipped"].values())


def test_alarm_flushes_one_partial_line(bench, capsys, monkeypatch):
    exits = []

    def fake_exit(code):
        exits.append(code)
        raise SystemExit(code)

    monkeypatch.setattr(bench.os, "_exit", fake_exit)
    bench._COMPACT.update(metric="cdc_events_per_sec_local4", value=12000.0, unit="events/sec",
                          queries={"q1_pricing_summary": 1.0}, sf=0.1)
    with pytest.raises(SystemExit):
        bench._on_signal(signal.SIGALRM, None)
    bench._emit_compact()  # a second flush (e.g. SIGTERM right after) prints nothing
    line = _one_line(capsys)
    assert CONTRACT <= set(line) and line["value"] == 12000.0
    assert exits == [0]
