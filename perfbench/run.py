"""CDC engine benchmark: one workload per call, or every workload.

    python3 perfbench/run.py --workload mor-replay-skewed --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload mor-replay-skewed --seed 1 --scaling
    python3 perfbench/run.py            # every workload, untraced then traced

Each workload runs in a fresh child process (child.py) pinned to this host's
CPUs, in a fresh work directory under the checkout that is removed
afterwards. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. Workload knobs and the metric/layer map are in spec.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402

RUN_BUDGET_S = 170  # one call must end within 180 s
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
ENGINE = os.path.join(ROOT, "openmrs_module_epts_etl_spark", "__init__.py")
WORKING_SET_MB = 1024  # feeds + tables + shuffle files of the largest workload


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def stop_group(proc: subprocess.Popen) -> None:
    """Kill the child's process group (the child and its JVM) and wait
    until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RuntimeError(f"process group {proc.pid} still alive after SIGKILL")


def run_child(args, level: str, work: str, heap_mb: int, deadline: float) -> dict:
    """Run child.py at one core level ("all" or a count); returns its result."""
    env = dict(os.environ)
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["PYSPARK_PYTHON"] = sys.executable
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "SPARK_DRIVER_MEMORY"):
        env.pop(k, None)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    argv = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--level", level, "--host-cpus", str(len(host.allowed_cpus())),
        "--heap-mb", str(heap_mb), "--work", work,
    ]
    log_path = os.path.join(work, f"child-{level}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(argv, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            out = None
        finally:
            stop_group(proc)
    lines = [ln for ln in (out or "").splitlines() if ln.startswith("PERFBENCH_RESULT ")]
    if not lines:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        why = "timed out" if out is None else f"exited {proc.returncode} without a result"
        raise RuntimeError(f"{args.workload} {why}:\n{tail}")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def end_to_end(res: dict) -> dict:
    """The gated metrics. Wall-clock throughput, latency and read times are
    printed by describe() but not gated: on a shared host they drift by a
    third within minutes (see spec.json)."""
    return {
        "cpu_s_per_mevent": res["cpu_s_per_mevent"],
        "write_amp": res["write_amp"],
        "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(res: dict, names: list[str]) -> dict:
    """Every per-layer metric of BENCHMARK.json; a layer the workload never
    calls reports 0."""
    pl = {n: 0.0 for n in names}
    pl.update(res.get("per_layer", {}))
    pl["session.get_spark_s"] = res["get_spark_s"]
    pl["harness.feedgen_s"] = res.get("feedgen_s", 0.0)
    pl["harness.generator_late_s"] = res.get("generator_late_s", 0.0)
    pl["streaming.backlog_files_max"] = float(res.get("backlog_files_max", 0))
    pl["follow.catchup_s"] = res.get("follow_catchup_s", 0.0)
    return {n: pl[n] for n in names}


def describe(workload: str, trace: int, full: dict) -> list[str]:
    """Human-readable lines: the workload-specific metric names with units."""
    lines = [f"# {workload} trace={trace} cores={full['cores']} attempted={full['attempted']}"
             f" failed={full['failed']}"]

    def put(name, value, unit, note=""):
        lines.append(f"{name:<22} {value:>14.4f} {unit:<12} {note}".rstrip())

    if trace == 0:
        put("events_per_s", full["events_per_s"], "events/s")
        lat = full.get("epoch_lat") or full["fresh_lat"]
        kind, tail = ("epoch", full.get("epoch_tail")) if full.get("epoch_lat") else ("freshness", full.get("fresh_tail"))
        put(f"{kind}_p50_s", statistics.median(lat), "s", f"n={len(lat)}")
        if tail:
            put(f"{kind}_tail_s", tail[1], "s", f"p{tail[0]:.0f}, n={len(lat)}")
        else:
            lines.append(f"{kind}_tail_s            (needs >= 11 samples, have {len(lat)})")
        put("read_state_s", full["read_state_s"], "s")
        put("read_state_cpu_s", full["read_state_cpu_s"], "cpu-s")
        put("write_amp", full["write_amp"], "ratio")
        put("cpu_s_per_mevent", full["cpu_s_per_mevent"], "cpu-s/Mevent")
        put("setup_s", full["setup_s"], "s", f"feedgen_s={full.get('feedgen_s', 0):.2f} excluded")
        put("peak_rss_mb", full["peak_rss_mb"], "MB")
        if "scaling_eff" in full:
            put("scaling_eff", full["scaling_eff"], "ratio", "first epochs, 1 core vs all cores")
            put("cpu_parity", full["cpu_parity"], "ratio")
    if "follow_catchup_s" in full:
        put("follow_catchup_s", full["follow_catchup_s"], "s", "traced run: the follower runs only there")
    put("error_rate", full["failed"] / max(full["attempted"], 1), "ratio")
    return lines


def run_workload(args, bench: dict) -> dict:
    """Run one workload in a fresh child and work directory; returns the
    result object. With ``args.scaling`` (mor-replay-skewed, untraced) a
    second child replays the same feed's first epochs pinned to 1 core; the
    level that goes first alternates with the seed."""
    levels = ["all"]
    if args.scaling:
        levels = ["all", "1"] if args.seed % 2 == 0 else ["1", "all"]
    deadline = time.monotonic() + RUN_BUDGET_S * len(levels)
    plan = host.memory_plan(WORKING_SET_MB)
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        by_level = {lv: run_child(args, lv, work, plan["driver_heap_mb"], deadline) for lv in levels}
        res = by_level["all"]
        if args.scaling:
            one = by_level["1"]
            # the same first epochs of the same feed at both levels
            a, b = res["scaling_prefix"], one["scaling_prefix"]
            res["scaling_eff"] = b["wall"] / (res["cores"] * a["wall"])
            res["cpu_parity"] = a["cpu"] / b["cpu"]
            res["feedgen_s"] = max(res["feedgen_s"], one["feedgen_s"])
            for k in ("attempted", "failed"):
                res[k] += one[k]
            res["errors"] += one["errors"]
            res["checks"].update({f"{k}@1core": v for k, v in one["checks"].items()})
        spans = os.path.join(work, f"spans-{res['cores']}.json")
        if args.trace and args.spans_out and os.path.exists(spans):
            shutil.copy(spans, args.spans_out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        names = [m["name"] for m in bench["per_layer"]]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        values = per_layer(res, names)
    else:
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        values = end_to_end(res)
        if args.scaling:
            units.update(scaling_eff="ratio", cpu_parity="ratio")
            values.update(scaling_eff=res["scaling_eff"], cpu_parity=res["cpu_parity"])
    checks_ok = bool(res["checks"]) and all(c["ok"] for c in res["checks"].values())
    return {
        "lines": describe(args.workload, args.trace, res),
        "errors": res["errors"],
        "fingerprint": host.fingerprint(ROOT),
        "memory": plan,
        "result": {
            "correct": checks_ok and res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", help="one workload of spec.json; all of them when omitted")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="timed seconds (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), help="0 = end-to-end, 1 = per-layer (both when omitted with no --workload)")
    ap.add_argument("--spans-out", help="with --trace 1, copy the recorded spans (JSON) here")
    ap.add_argument("--scaling", action="store_true",
                    help="mor-replay-skewed, untraced: also replay at 1 core and print scaling_eff")
    args = ap.parse_args(argv)

    if not os.path.exists(ENGINE):
        print(f"perfbench: the engine package is missing under {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    bench = load_benchmark()
    from child import load_spec

    # BENCHMARK.json lists the workloads the regression gate runs; spec.json
    # may hold more (cow-trickle-uniform), which run by name or in the
    # one-command mode
    names = list(load_spec()["workloads"])
    if args.seconds is None:
        args.seconds = bench["run_seconds"]
    if args.workload is not None and args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {names}", file=sys.stderr)
        return 2

    if args.scaling and (args.workload != "mor-replay-skewed" or args.trace):
        print("perfbench: --scaling needs --workload mor-replay-skewed --trace 0", file=sys.stderr)
        return 2

    if args.workload is not None:
        args.trace = args.trace or 0
        try:
            out = run_workload(args, bench)
        except (RuntimeError, host.HostTooSmall) as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 1
        print("\n".join(out["lines"]))
        for e in out["errors"][:3]:
            print(f"error: {e.strip().splitlines()[-1] if e.strip() else e}")
        print(f"host: {json.dumps(out['fingerprint'])}")
        print(json.dumps(out["result"]))
        return 0

    # one command for everything: each workload untraced, then traced
    combined, ok = {}, True
    for wl in names:
        for trace in ((0, 1) if args.trace is None else (args.trace,)):
            a = argparse.Namespace(**vars(args))
            a.workload, a.trace = wl, trace
            a.scaling = wl == "mor-replay-skewed" and trace == 0
            try:
                out = run_workload(a, bench)
            except (RuntimeError, host.HostTooSmall) as e:
                print(f"perfbench: {e}", file=sys.stderr)
                return 1
            print("\n".join(out["lines"]), flush=True)
            ok = ok and out["result"]["correct"]
            combined[f"{wl}/trace{trace}"] = out["result"]
    print(f"host: {json.dumps(host.fingerprint(ROOT))}")
    print(json.dumps({"correct": ok, "runs": combined}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
