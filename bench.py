"""Driver front for the engine benchmark: prints ONE JSON line.

The line carries ``metric`` / ``value`` / ``unit`` / ``queries`` / ``sf``:
the MoR replay's events/s, and the wall seconds of the HEADLINE driver
queries at $SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS]. Every CDC number comes from perfbench/run.py (see
SECTIONS); this file only translates its results. A section that fails, or whose
worst case no longer fits the budget ($SPARK_GRAFT_BENCH_BUDGET_S, default
1500 s), lands under ``skipped`` with the reason; SIGTERM or the budget alarm
flushes the partial line. Detail goes to BENCH.json / BENCH.md.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
import traceback

REPO = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.join(REPO, "perfbench", "run.py")
OUT_JSON = os.path.join(REPO, "BENCH.json")
OUT_MD = os.path.join(REPO, "BENCH.md")
CALL_BOUND_S = 170  # perfbench's own bound on one call; twice that with --scaling
MARGIN_S = 30  # perfbench's start and teardown around its bound; ours after the last section
SECTIONS = [  # (name, contract key for its events/s, perfbench arguments, worst-case s)
    ("mor", "value", ["mor-replay-skewed", "--trace", "0", "--scaling"], 2 * CALL_BOUND_S),
    ("cow", "cow_events_per_sec", ["cow-trickle-uniform", "--trace", "0"], CALL_BOUND_S),
    ("stream", "stream_open_loop_events_per_sec", ["stream-open-loop", "--trace", "0"], CALL_BOUND_S),
    ("layers", None, ["mor-replay-skewed", "--trace", "1"], CALL_BOUND_S),
]

_COMPACT: dict = {}  # the contract line, filled in as sections land
_EMITTED = False
_CHILDREN: set = set()  # live perfbench processes, for the signal handlers


def _log(msg: str) -> None:
    print(f"[bench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _emit_compact() -> None:
    global _EMITTED
    if not _EMITTED:
        _EMITTED = True
        sys.stdout.flush()
        print(json.dumps(_COMPACT), flush=True)


def _kill_children() -> None:
    """SIGKILL every live perfbench call with its whole tree (perfbench runs
    its child and JVM in a session of their own)."""
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import host

    for root in list(_CHILDREN):
        for pid in host.tree_pids(root):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _on_signal(signum, frame):
    """Driver SIGTERM (exit 143) or the own budget alarm (exit 0): the
    partial line goes out before anything else."""
    _log(f"signal {signum}: emitting the partial result")
    _emit_compact()
    _kill_children()
    os._exit(0 if signum == signal.SIGALRM else 143)


def run_perfbench(args: list[str], timeout: float) -> tuple[int, str, str]:
    """One perfbench/run.py call → (returncode, stdout, stderr)."""
    proc = subprocess.Popen([sys.executable, PERFBENCH, "--workload", *args], cwd=REPO,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    _CHILDREN.add(proc.pid)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        _kill_children()
        out, err = proc.communicate()
        return -9, out, err + f"\nperfbench: killed after {timeout:.0f} s"
    finally:
        _CHILDREN.discard(proc.pid)
    return proc.returncode, out, err


def perfbench(args: list[str], bound_s: float) -> dict:
    """Run perfbench and read what it prints: the last JSON line (the result
    object), the ``events_per_s`` line, the cores and the host fingerprint.
    Raises RuntimeError with perfbench's own reason when it fails."""
    rc, out, err = run_perfbench(args, bound_s + MARGIN_S)
    lines = out.splitlines()
    results = [ln for ln in lines if ln.startswith("{")]
    if rc != 0 or not results:
        said = [ln for ln in err.splitlines() if ln.startswith("perfbench:")] or err.splitlines()
        raise RuntimeError(f"perfbench exited {rc}: {said[-1] if said else 'no output'}")
    sec = json.loads(results[-1])
    sec["metrics"] = {k: m["value"] for k, m in sec["metrics"].items()}
    for ln in lines:
        if ln.startswith("events_per_s "):
            sec["events_per_s"] = float(ln.split()[1])
        elif ln.startswith("# ") and " cores=" in ln:
            sec["cores"] = int(ln.split(" cores=")[1].split()[0])
        elif ln.startswith("host: "):
            sec["host"] = json.loads(ln[len("host: "):])
    return sec


def _mk_spark(cores: int, app: str):
    from openmrs_module_epts_etl_spark.session import get_spark

    return get_spark(app, master=f"local[{cores}]", shuffle_partitions=64)


HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "latest_event_per_user", "user_sessions", "doc_quality",
    "exact_dup_groups", "minhash_signatures_16", "simhash_near_dups", "ann_cosine_topk",
    "label_centroids", "token_stats", "doc_fingerprints", "embedding_near_dup_pairs",
    "reconciliation_report", "conv_reassembly", "conv_stats", "dup_assistant_turns",
    "decontamination", "pii_redaction", "doc_repetition", "near_dup_jaccard_pairs",
    "near_dup_components", "user_state_scd2", "ann_ivf_topk", "session_window_agg",
    # first of the CDC queries: the session-cached replay + table build in
    # plans/cdc_queries is paid under its untimed pass, not the diff's
    "cdc_replayed_state", "cdc_snapshot_diff", "cdc_changes_replayed",
]


def bench_queries(
    sf_dir: str, cores: int, timed_passes: int = 2, time_left=None
) -> dict[str, float]:
    from openmrs_module_epts_etl_spark.plans import QUERIES

    spark = _mk_spark(cores, "query-bench")
    out = {}
    try:
        # steady-state timing: each query runs once untimed (absorbs its own
        # whole-stage-codegen JIT — a per-JVM one-time cost, e.g. q1's decimal
        # agg shape costs ~12s to compile and 1.8s to run — plus parquet
        # footer caches), then ``timed_passes`` timed keeping the best (a
        # co-tenant burst on this shared host can inflate a single pass 5×).
        # The steady-state number is what a resident cluster serving repeated
        # queries sees. ``time_left`` (callable → seconds) stops the loop
        # early under a tight driver budget — partial coverage beats rc=124.
        for name in HEADLINE:
            if time_left is not None and time_left() < 45:
                _log(f"query bench stopping early before {name} (budget)")
                break
            fn = QUERIES[name]
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = None
            for _ in range(max(timed_passes, 1)):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                w = time.perf_counter() - t0
                best = w if best is None or w < best else best
            out[name] = round(best, 3)
    finally:
        spark.stop()
    return out


def main() -> None:
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGALRM):
        signal.signal(sig, _on_signal)
    total = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "1500"))
    signal.alarm(max(int(total) - 25, 1))
    deadline = time.monotonic() + total

    def remaining() -> float:
        return deadline - time.monotonic()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sections, skipped = {}, {}
    _COMPACT.update({
        "metric": f"cdc_events_per_sec_local{cpus}", "value": None, "unit": "events/sec",
        "queries": {}, "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "bench_budget_s": total, "skipped": skipped,
    })

    def queries() -> None:
        # the queries may use what the later sections' worst cases leave over
        reserve, t = sum(s[-1] + 2 * MARGIN_S for s in SECTIONS[1:]), time.monotonic()
        try:
            _COMPACT["queries"] = bench_queries(sf_dir, cpus, time_left=lambda: remaining() - reserve)
        except Exception as e:  # noqa: BLE001 - a missing data set must not cost the CDC numbers
            traceback.print_exc(file=sys.stderr)
            skipped["queries"] = f"{type(e).__name__}: {e}"
        _log(f"queries: {len(_COMPACT['queries'])} timed in {time.monotonic() - t:.0f} s")
        if "queries" not in skipped and len(_COMPACT["queries"]) < len(HEADLINE):
            skipped["queries"] = f"budget: {len(_COMPACT['queries'])}/{len(HEADLINE)} timed"

    for i, (name, key, args, bound) in enumerate(SECTIONS):
        if remaining() < bound + 2 * MARGIN_S:
            skipped[name] = f"budget: worst case {bound} s, {remaining():.0f} s left"
        else:
            _log(f"{name}: perfbench --workload {' '.join(args)}")
            try:
                sec = sections[name] = perfbench(args, bound)
            except RuntimeError as e:
                skipped[name] = str(e)
            else:
                if key:
                    _COMPACT[key] = sec.get("events_per_s")
                if "scaling_eff" in sec["metrics"]:
                    _COMPACT.update({
                        "metric": f"cdc_events_per_sec_local{sec.get('cores', cpus)}",
                        "scaling_efficiency_N_to_4N": sec["metrics"]["scaling_eff"],
                        "cpu_parity": sec["metrics"]["cpu_parity"]})
        _log(f"{name}: {skipped.get(name, 'done')} at {total - remaining():.0f} s")
        if i == 0:  # the MoR headline first, then the driver queries
            queries()
    _COMPACT["cdc_correct"] = all(s["correct"] for s in sections.values()) if sections else None
    _COMPACT["bench_elapsed_s"] = round(total - remaining(), 1)

    result = {**_COMPACT, "query_cores": cpus, "sf_dir": sf_dir, "sections": sections}
    with open(OUT_JSON, "w") as fh:
        json.dump(result, fh, indent=1)
    with open(OUT_MD, "w") as fh:
        fh.write(bench_md(result))
    signal.alarm(0)
    _emit_compact()


def _fmt(v) -> str:
    if not isinstance(v, float):
        return "—" if v is None else str(v)
    return f"{v:.4g}" if abs(v) < 1e4 else f"{v:.0f}"


def bench_md(r: dict) -> str:
    from openmrs_module_epts_etl_spark.session import STREAMING_TRANSPORT, TUNED_TRANSPORT

    thr, codec = "spark.shuffle.sort.bypassMergeThreshold", "spark.io.compression.codec"
    secs = r["sections"]
    host = next((s["host"] for s in secs.values() if "host" in s), {})
    gated = ("cpu_s_per_mevent", "write_amp", "setup_s", "peak_rss_mb")
    rows = [f"| {n} | {_fmt(s.get('events_per_s'))} | {s['correct']} | "
            + " | ".join(_fmt(s["metrics"].get(k)) for k in gated) + " |"
            for n, s in secs.items() if n != "layers"]
    layers = secs.get("layers", {}).get("metrics", {})
    lrows = [f"| {k} | {_fmt(v)} |" for k, v in layers.items() if v]
    qrows = [f"| {k} | {v} |" for k, v in r["queries"].items()]
    skips = [f"- **{k}**: {v}" for k, v in r["skipped"].items()] or ["- none"]
    nl = "\n"
    return f"""# BENCH — bench.py over perfbench/run.py

Host: {host.get('nproc', '?')} CPUs ({host.get('cpu_model', '?')}), {host.get('mem_total_mb', '?')} MB RAM;
engine {host.get('engine', '?')}; {r['bench_elapsed_s']} s of a {r['bench_budget_s']:.0f} s budget.
BENCH_r01–r05 were measured on a 32-core host and are not comparable.

## CDC workloads (perfbench, seed 1; shapes and metric meanings in perfbench/spec.json)

| section | events/s | correct | {' | '.join(gated)} |
|---|---|---|---|---|---|---|
{nl.join(rows)}

mor = `mor-replay-skewed` (the headline `value`), cow = `cow-trickle-uniform`, stream =
`stream-open-loop`. The stream is **open loop**: files arrive at a fixed offered rate, which
bounds its events/s; it shows whether the engine keeps up, not the engine's capacity.
**Scaling 1→{secs.get('mor', {}).get('cores', '?')} cores: {_fmt(r.get('scaling_efficiency_N_to_4N'))}**
(target ≥ 0.8 per BASELINE.json), CPU-bill parity {_fmt(r.get('cpu_parity'))}: the same first
epochs of the same feed pinned to 1 core and to all cores (`--scaling`). Shuffle transport:
batch sessions (session.py TUNED_TRANSPORT) use **{TUNED_TRANSPORT[codec]}** and
`{thr}={TUNED_TRANSPORT[thr]}`; the stream section's streaming profile (session.py
STREAMING_TRANSPORT, `get_spark(profile="streaming")`) uses `{thr}={STREAMING_TRANSPORT[thr]}`.

Skipped sections:
{nl.join(skips)}

## Per-layer breakdown: one traced `mor-replay-skewed` run, per-call medians

| layer metric | value |
|---|---|
{nl.join(lrows)}

## Headline queries (sf={r['sf']}, local[{r['query_cores']}]): best timed pass after an untimed one, s

| query | sec |
|---|---|
{nl.join(qrows)}
"""


if __name__ == "__main__":
    try:
        main()
    except Exception:  # last-resort contract keeper: whatever landed still reaches the driver
        traceback.print_exc(file=sys.stderr)
        _emit_compact()
        sys.exit(1)
