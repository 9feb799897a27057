"""One workload at one core level, in a fresh process pinned to its CPUs.

``run.py`` starts this script; it pins itself before the JVM starts (so Spark
inherits the mask), generates or reuses the workload's feed, sets up, runs
the timed region, checks the final state against the DuckDB oracle and
prints one ``PERFBENCH_RESULT {json}`` line. With ``--trace 1`` the layer
calls are wrapped in spans (see spans.py) and per-layer numbers are added.

The engine is driven only through its public entry points: CdcPipeline.run,
mor.read_state, LakeTable, StreamingCdcRunner.start,
TableFollower.run_until_caught_up and cdc.generator.generate_feed.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import host  # noqa: E402

RESULT_TAG = "PERFBENCH_RESULT "


def load_spec() -> dict:
    with open(os.path.join(HERE, "spec.json")) as fh:
        return json.load(fh)


class StopReplay(Exception):
    """Raised from an on_batch callback to end a time-bounded replay; the
    pipeline has already committed and checkpointed the epoch."""


# ----------------------------------------------------------------- helpers
def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten samples
    beyond it, or None with fewer than 11 samples."""
    n = len(values)
    if n < 11:
        return None
    v = sorted(values)
    i = n - 11
    return 100.0 * (i + 1) / n, v[i]


def parquet_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Run:
    """State shared by one child: Spark session, work dir, counters."""

    def __init__(self, args, spec: dict):
        self.args = args
        self.spec = spec
        self.work = args.work
        self.cpus = host.cores_for_level(args.level)
        self.cores = len(self.cpus)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.checks: dict = {}
        self.out: dict = {"level": args.level, "cores": self.cores}
        self.tracer = None
        self.spark = None
        self.t_start = time.perf_counter()

    def log(self, what: str) -> None:
        """Phase marks on stderr (the parent keeps them in the child log)."""
        print(f"[perfbench] {time.perf_counter() - self.t_start:7.1f}s level={self.args.level} {what}",
              file=sys.stderr, flush=True)

    # ------------------------------------------------------------ accounting
    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def cpu_s(self) -> float:
        return host.tree_cpu_s(os.getpid())

    # ---------------------------------------------------------------- spark
    def start_spark(self, streaming: bool = False) -> float:
        from openmrs_module_epts_etl_spark.session import get_spark

        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.memory": f"{self.args.heap_mb}m",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata files in the system temp dir
            # -Xms = -Xmx: the heap never resizes, so peak RSS does not hinge
            # on when G1 decides to expand
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData -Xms{self.args.heap_mb}m"
            ),
            # feed and state files carry UTC-adjusted micros, like table files
            "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update({
                "spark.ui.enabled": "true", "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.args.workload}-{self.cores}",
            master=f"local[{self.cores}]",
            # one shuffle width at every level, so levels differ only in cores
            shuffle_partitions=4 * self.args.host_cpus,
            extra_conf=conf,
            profile="streaming" if streaming else "batch",
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        dt = time.perf_counter() - t0
        self.out["get_spark_s"] = dt
        return dt

    def quiesce(self) -> None:
        """A full JVM garbage collection before a timed unit, so no unit
        pays for the garbage the one before it left."""
        self.spark.sparkContext._jvm.System.gc()

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # --------------------------------------------------------------- tracing
    def make_tracer(self):
        import spans as tr

        from openmrs_module_epts_etl_spark.cdc import follow, mor, pipeline
        from openmrs_module_epts_etl_spark.cdc.follow import TableFollower
        from openmrs_module_epts_etl_spark.cdc.pipeline import CdcPipeline
        from openmrs_module_epts_etl_spark.lake.table import LakeTable

        t = tr.Tracer(self.spark)

        def rows_of(files):
            return sum(f.rows for f in files)

        def write_post(sp, _state, args, _kw, out):
            table, (files, _rel) = args[0], out
            sp.attrs["rows_out"] = rows_of(files)
            sp.attrs["file_bytes"] = sum(
                os.path.getsize(os.path.join(table.path, f.path)) for f in files
            )

        def compact_pre(args, kw):
            return rows_of(args[0].files)

        def compact_post(sp, rows_in, _a, _kw, commit):
            sp.attrs["rows_in"] = rows_in
            sp.attrs["rows_out"] = rows_of(commit.files) if commit is not None else rows_in

        def merge_pre(args, kw):
            return {f.path for f in args[0].files}

        def merge_post(sp, before, _a, _kw, res):
            sp.attrs.update({f"t_{k}": v for k, v in res.timings.items()})
            sp.attrs["rows_changed"] = res.rows_changed
            sp.attrs["stale_skip"] = res.applied.get("stale_skip", 0)
            sp.attrs["skipped_epoch"] = res.skipped_epoch
            if res.commit is not None:
                sp.attrs["rows_written"] = rows_of([f for f in res.commit.files if f.path not in before])

        def feed_post(sp, _s, _a, _kw, df):
            sp.attrs["lazy"] = True  # changes_as_feed only plans; its jobs run under merge_into

        def poll_post(sp, _s, _a, _kw, res):
            sp.attrs["caught_up"] = res is None  # the closing no-op poll
            sp.attrs["rows_emitted"] = res.rows_changed if res is not None else 0

        # bindings the callers look up at call time
        t.wrap(pipeline, "merge_into", "merge.merge_into", merge_pre, merge_post)
        t.wrap(follow, "merge_into", "merge.merge_into", merge_pre, merge_post)
        t.wrap(mor, "append_delta", "mor.append_delta")
        t.wrap(mor, "compact_latest", "mor.compact_latest", compact_pre, compact_post)
        t.wrap(follow, "changes_as_feed", "follow.changes_as_feed", post=feed_post)
        t.wrap(TableFollower, "poll_once", "follow.poll_once", post=poll_post)
        t.wrap(CdcPipeline, "run", "pipeline.run")
        t.wrap(CdcPipeline, "save_checkpoint", "pipeline.save_checkpoint")
        t.wrap(LakeTable, "write_data_files", "lake.write_data_files", post=write_post)
        t.wrap(LakeTable, "commit", "lake.commit")
        t.wrap(LakeTable, "epoch_already_applied", "lake.epoch_already_applied")
        self.tracer = t
        return t

    def finish_trace(self, t0: float, t1: float, wall: float) -> None:
        """Per-layer metrics from the spans recorded in [t0, t1]."""
        import spans as tr

        t = self.tracer
        t.restore()
        try:
            tr.harvest_stage_metrics(self.spark, t, skew_for=("mor.compact_latest",))
        except Exception as e:  # the REST API is a diagnostic, not the result
            self.errors.append(f"stage harvest: {e!r}")
        t.dump(os.path.join(self.work, f"spans-{self.cores}.json"))
        spans = t.by_name(t0, t1)

        def med(name, f):
            xs = [f(s) for s in spans.get(name, [])]
            xs = [x for x in xs if x is not None]
            return statistics.median(xs) if xs else 0.0

        pl = {}
        pl["pipeline.run.self_s"] = med("pipeline.run", lambda s: s.self_s)
        pl["pipeline.save_checkpoint.wall_s"] = med("pipeline.save_checkpoint", lambda s: s.wall_s)
        pl["lake.epoch_already_applied.wall_s"] = med("lake.epoch_already_applied", lambda s: s.wall_s)
        for k, f in (
            ("wall_s", lambda s: s.wall_s), ("cpu_s", lambda s: s.attrs.get("incl_cpu_s")),
            ("shuffle_write_bytes", lambda s: s.attrs.get("incl_shuffle_write_bytes")),
            ("spill_bytes", lambda s: s.attrs.get("incl_spill_bytes")),
            ("bytes_out", lambda s: s.attrs.get("file_bytes")),
        ):
            pl[f"lake.write_data_files.{k}"] = med("lake.write_data_files", f)
        pl["lake.commit.wall_s"] = med("lake.commit", lambda s: s.wall_s)
        pl["mor.append_delta.wall_s"] = med("mor.append_delta", lambda s: s.wall_s)
        pl["mor.append_delta.self_s"] = med("mor.append_delta", lambda s: s.self_s)
        for k, f in (
            ("wall_s", lambda s: s.wall_s), ("cpu_s", lambda s: s.attrs.get("incl_cpu_s")),
            ("shuffle_write_bytes", lambda s: s.attrs.get("incl_shuffle_write_bytes")),
            ("spill_bytes", lambda s: s.attrs.get("incl_spill_bytes")),
            ("task_skew", lambda s: s.attrs.get("task_skew")),
            ("rows_in", lambda s: s.attrs.get("rows_in")),
            ("rows_out", lambda s: s.attrs.get("rows_out")),
        ):
            pl[f"mor.compact_latest.{k}"] = med("mor.compact_latest", f)
        for k in ("hint", "plan", "write"):
            pl[f"merge.merge_into.{k}_s"] = med("merge.merge_into", lambda s, k=k: s.attrs.get(f"t_{k}"))
        merges = spans.get("merge.merge_into", [])
        written = sum(s.attrs.get("rows_written", 0) for s in merges)
        pl["merge.merge_into.useful_ratio"] = (
            sum(s.attrs.get("rows_changed", 0) for s in merges) / written if written else 0.0
        )
        pl["merge.merge_into.stale_skip"] = float(sum(s.attrs.get("stale_skip", 0) for s in merges))
        pl["follow.poll_once.wall_s"] = med("follow.poll_once", lambda s: None if s.attrs["caught_up"] else s.wall_s)
        pl["follow.changes_as_feed.wall_s"] = med("follow.changes_as_feed", lambda s: s.wall_s)
        pl["follow.rows_emitted"] = float(sum(s.attrs.get("rows_emitted", 0) for s in spans.get("follow.poll_once", [])))
        # share of the timed wall the layer spans below pipeline.run cover
        layer_self = sum(
            s.self_s for name, ss in spans.items() if name != "pipeline.run" for s in ss
        )
        pl["harness.span_coverage"] = layer_self / wall if wall > 0 else 0.0
        self.out["per_layer"] = pl

    # ------------------------------------------------------------- feeds
    def feed_spec(self, knobs: dict, n_events: int, seed: int):
        from openmrs_module_epts_etl_spark.cdc import FeedSpec

        evo = knobs.get("schema_evolution_at")
        return FeedSpec(
            n_events=n_events, n_convs=knobs["n_convs"], max_turns=knobs["max_turns"],
            seed=seed, update_ratio=knobs["update_ratio"], delete_ratio=knobs["delete_ratio"],
            hot_key_fraction=knobs["hot_key_fraction"], n_hot_convs=knobs.get("n_hot_convs", 3),
            out_of_order_window=knobs["out_of_order_window"],
            schema_evolution_lsn=int(n_events * evo) if evo is not None else None,
            text_pad_chars=knobs["text_pad_chars"],
        )

    def write_once(self, path: str, build) -> float:
        """Write a parquet feed unless an earlier level of this run already
        did (same seed, same bytes). Returns the seconds spent."""
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return 0.0
        t0 = time.perf_counter()
        build().write.mode("overwrite").parquet(path)
        return time.perf_counter() - t0


def payload_columns(feed_df) -> list[str]:
    skip = {"lsn", "op", "conv_id", "turn_idx", "origin", "delivery_seq"}
    return [c for c in feed_df.columns if c not in skip]


def noop_read(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def timed_reads(r: Run, make_df, n: int, warmup: int) -> dict:
    """``warmup`` untimed reads, then ``n`` timed ones, each through a noop
    write after a full GC; each read is one operation. The first reads of a
    run are up to twice as slow while the JIT compiles the read path; the
    workloads run these after the oracle check, which reads the same state
    once more. Returns the median wall and process-tree CPU-s of a read."""
    walls, cpus = [], []
    for _ in range(warmup + n):
        r.quiesce()
        cpu0 = r.cpu_s()
        walls.append(noop_read(make_df()))
        cpus.append(r.cpu_s() - cpu0)
        r.op(True)
    r.log(f"reads {' '.join(f'{w:.2f}s/{c:.2f}cpu-s' for w, c in zip(walls, cpus))}")
    return {"read_state_s": statistics.median(walls[warmup:]),
            "read_state_cpu_s": statistics.median(cpus[warmup:])}


def check_state(r: Run, name: str, state_df, feed_glob: str, payload: list[str], **kw) -> None:
    import check

    path = os.path.join(r.work, f"state-{name}-{r.cores}")
    state_df.write.mode("overwrite").parquet(path)
    res = check.check_against_oracle(
        os.path.join(path, "*.parquet"), feed_glob, payload,
        scratch=os.path.join(r.work, f"applied-{name}-{r.cores}.parquet"), **kw,
    )
    r.checks[name] = res
    r.op(res["ok"], f"oracle mismatch on {name}: {res}")
    r.log(f"checked {name}")


# --------------------------------------------------------------- workloads
def mor_replay(r: Run) -> None:
    """Set up (warm-up rounds), then replays of the feed into fresh tables:
    untraced until --seconds are used (at least one replay); when traced,
    one untraced and one traced replay, the order alternating with the seed;
    at the 1-core level of a scaling run, the first scaling_epochs epochs."""
    from openmrs_module_epts_etl_spark.cdc import CdcPipeline, PipelineConfig, generate_feed, read_state, transcript_schema
    from openmrs_module_epts_etl_spark.lake import LakeTable, days, mbucket

    w = r.spec["workloads"]["mor-replay-skewed"]
    knobs = w["feed"]
    spark = r.spark
    n = knobs["n_events"]
    # one lsn range per partition lets each epoch's delivery_seq filter prune
    # row groups without a range shuffle; the partition count does not depend
    # on the level, so both levels of a scaling run replay the same bytes
    feed_path = os.path.join(r.work, "feed")
    r.out["feedgen_s"] = r.write_once(
        feed_path, lambda: generate_feed(spark, r.feed_spec(knobs, n, r.args.seed), 2 * r.args.host_cpus)
    )
    # the epoch size that cuts the feed into exactly ``epochs`` epochs
    batch_size = math.ceil((n + knobs["out_of_order_window"]) / w["epochs"])

    def replay(tag: str, size: int, max_epochs: int | None = None, compact_every: int = w["compact_every"]):
        """Replay the feed into a fresh table. Returns the wall, the epoch
        latencies, the table path, the CPU-s and the (wall, CPU-s) of the
        first ``scaling_epochs`` epochs."""
        tpath = os.path.join(r.work, f"t-{tag}-{r.cores}")
        LakeTable.create(spark, tpath, transcript_schema(), [days("ts"), mbucket(16, "conv_id")])
        pipe = CdcPipeline(spark, PipelineConfig(
            table_path=tpath, checkpoint_dir=os.path.join(r.work, f"ck-{tag}-{r.cores}"),
            batch_size=size, mode="mor", compact_every=compact_every,
        ))
        lat, last, prefix = [], [time.perf_counter()], {}

        def on_batch(epoch, res):
            now = time.perf_counter()
            lat.append(now - last[0])
            last[0] = now
            r.op(not res.skipped_epoch, f"unexpected skipped_epoch at epoch {epoch}")
            if len(lat) == w["scaling_epochs"]:
                prefix.update(wall=now - t0, cpu=r.cpu_s() - cpu0)

        cpu0, t0 = r.cpu_s(), time.perf_counter()
        pipe.run(spark.read.parquet(feed_path), max_epochs=max_epochs, on_batch=on_batch)
        wall = time.perf_counter() - t0
        r.log(f"replay {tag} {wall:.1f}s {r.cpu_s() - cpu0:.1f}cpu-s")
        return wall, lat, tpath, r.cpu_s() - cpu0, prefix

    # set-up, several times: each round creates a fresh table and appends
    # the feed's first small epoch; a traced run or the 1-core level reports
    # no setup_s, one round warms it up
    rounds = []
    for k in range(1 if r.args.trace or r.cores < r.args.host_cpus else w["setup_rounds"]):
        t0 = time.perf_counter()
        replay(f"setup{k}", w["warmup_batch"], max_epochs=1, compact_every=None)
        rounds.append(time.perf_counter() - t0)
    r.out["setup_s"] = r.out["get_spark_s"] + statistics.median(rounds)
    payload = payload_columns(spark.read.parquet(feed_path))
    feed_glob = os.path.join(feed_path, "*.parquet")

    if r.cores < r.args.host_cpus:
        # the 1-core level of a scaling run: the first scaling_epochs epochs,
        # the same events the all-core level times for scaling_eff
        k = w["scaling_epochs"]
        _, _, tpath, _, prefix = replay("rep0", batch_size, max_epochs=k)
        r.out["scaling_prefix"] = prefix
        check_state(r, "mor", read_state(LakeTable(spark, tpath)), feed_glob, payload,
                    max_delivery_seq=k * batch_size)
        return

    # warm-up, untimed: the feed's epochs up to the first compaction. The
    # JIT keeps compiling through the first replays: on 4 vCPUs the first
    # full replay costs about 1.6x the CPU-s of the fifth, the second 1.2x
    replay("warm", batch_size, max_epochs=w["compact_every"])
    order = [False, True] if r.args.seed % 2 == 0 else [True, False]
    walls, lats, cpus, traced_wall = [], [], [], None
    t_start = time.perf_counter()
    i = 0
    while True:
        with_trace = r.args.trace and order[i]
        if with_trace:
            r.make_tracer()
        r.quiesce()
        tt0 = time.perf_counter()
        wall, lat, tpath, cpu, prefix = replay(f"rep{i}", batch_size)
        if with_trace:
            r.finish_trace(tt0, time.perf_counter(), wall)
            traced_wall = wall
        else:
            cpus.append(cpu)
            walls.append(wall)
            lats.extend(lat)
            r.out["scaling_prefix"] = prefix
        i += 1
        # at least two replays, then (untraced) until --seconds are used
        if i >= 2 and (r.args.trace or time.perf_counter() - t_start >= r.args.seconds):
            break
    table = LakeTable(spark, tpath)
    check_state(r, "mor", read_state(table), feed_glob, payload)
    # a traced run reports per-layer numbers only: one read is enough there
    reads = timed_reads(r, lambda: read_state(table), 1 if r.args.trace else w["reads"], w["warmup_reads"])
    r.out.update({
        "events": n, "reps": len(walls),
        "events_per_s": n / statistics.median(walls),
        "epoch_lat": lats,
        "epoch_tail": tail_percentile(lats),
        **reads,
        "write_amp": parquet_bytes(tpath) / parquet_bytes(feed_path),
        "cpu_s": statistics.median(cpus), "cpu_s_per_mevent": statistics.median(cpus) / n * 1e6,
    })
    if traced_wall is not None:
        r.out["per_layer"]["harness.trace_overhead"] = traced_wall / walls[0]


def cow_trickle(r: Run) -> None:
    from pyspark.sql import functions as F

    from openmrs_module_epts_etl_spark.cdc import CdcPipeline, PipelineConfig, generate_feed, transcript_schema
    from openmrs_module_epts_etl_spark.lake import LakeTable, bucket, days

    w = r.spec["workloads"]["cow-trickle-uniform"]
    knobs = w["feed"]
    spark = r.spark
    keys = knobs["n_convs"] * knobs["max_turns"]
    seed_dir = os.path.join(r.work, "seed")
    feed_dir = os.path.join(r.work, "feed")
    all_dir = os.path.join(r.work, "events")  # seed + trickle: what the oracle replays

    def seed_events():
        # one insert per key of the whole key space, lsn 1..keys
        spec = r.feed_spec(dict(knobs, update_ratio=0.0, delete_ratio=0.0, out_of_order_window=1),
                           keys, r.args.seed + 2)
        df = generate_feed(spark, spec, r.cores)
        k = F.col("lsn") - 1
        return df.withColumn(
            "conv_id", F.concat(F.lit("conv-"), F.lpad((k / knobs["max_turns"]).cast("long").cast("string"), 6, "0"))
        ).withColumn("turn_idx", (k % knobs["max_turns"]).cast("int")).withColumn("delivery_seq", F.col("lsn"))

    def trickle_events():
        n = knobs["epoch_events"] * knobs["max_epochs"]
        df = generate_feed(spark, r.feed_spec(knobs, n, r.args.seed + 1), r.cores)
        return (
            df.withColumn("lsn", F.col("lsn") + keys)
            .withColumn("delivery_seq", F.col("delivery_seq") + keys)
            .repartitionByRange(8, "delivery_seq")
        )

    r.out["feedgen_s"] = r.write_once(seed_dir, seed_events) + r.write_once(feed_dir, trickle_events)
    os.makedirs(all_dir, exist_ok=True)
    for src, tag in ((seed_dir, "s"), (feed_dir, "f")):
        for p in glob.glob(os.path.join(src, "*.parquet")):
            dst = os.path.join(all_dir, f"{tag}-{os.path.basename(p)}")
            if not os.path.exists(dst):
                os.link(p, dst)

    # set-up: create + seed through the engine + warm-up epochs
    t0 = time.perf_counter()
    tpath = os.path.join(r.work, "t")
    LakeTable.create(spark, tpath, transcript_schema(), [days("ts"), bucket(16, "conv_id")])
    CdcPipeline(spark, PipelineConfig(
        table_path=tpath, checkpoint_dir=os.path.join(r.work, "ck-seed"),
        batch_size=keys + 1, mode="cow", fence_key="seed",
    )).run(spark.read.parquet(seed_dir))
    pipe = CdcPipeline(spark, PipelineConfig(
        table_path=tpath, checkpoint_dir=os.path.join(r.work, "ck"),
        batch_size=knobs["epoch_events"], mode="cow",
    ))
    feed = spark.read.parquet(feed_dir)

    def segment(stop_after: float | None, max_epochs: int | None):
        """One CdcPipeline.run call that resumes from the checkpoint and stops
        after ``max_epochs`` epochs or the first epoch ending past
        ``stop_after`` seconds."""
        lat, last, t_start = [], [time.perf_counter()], time.perf_counter()
        applied = []

        def on_batch(epoch, res):
            now = time.perf_counter()
            lat.append(now - last[0])
            last[0] = now
            applied.append(epoch)
            r.op(not res.skipped_epoch, f"unexpected skipped_epoch at epoch {epoch}")
            if (max_epochs is not None and len(lat) >= max_epochs) or (
                stop_after is not None and now - t_start >= stop_after
            ):
                raise StopReplay

        try:
            pipe.run(feed, on_batch=on_batch)
            r.op(False, "trickle feed ran out before the time budget")
        except StopReplay:
            pass
        return time.perf_counter() - t_start, lat, applied

    segment(None, w["warmup_epochs"])
    r.out["setup_s"] = r.out["get_spark_s"] + (time.perf_counter() - t0)

    cpu0, bytes0 = r.cpu_s(), parquet_bytes(tpath)
    if r.args.trace:
        # half the budget untraced, half traced, order alternating with the seed
        halves = [False, True] if r.args.seed % 2 == 0 else [True, False]
        res = {}
        for with_trace in halves:
            if with_trace:
                r.make_tracer()
                tt0 = time.perf_counter()
            res[with_trace] = segment(r.args.seconds / 2, None)
            if with_trace:
                r.finish_trace(tt0, time.perf_counter(), res[True][0])
        wall = res[False][0] + res[True][0]
        lat = res[False][1]
        epochs = res[False][2] + res[True][2]
        r.out["per_layer"]["harness.trace_overhead"] = (
            statistics.median(res[True][1]) / statistics.median(res[False][1])
        )
    else:
        wall, lat, epochs = segment(r.args.seconds, None)
    cpu, bytes1 = r.cpu_s() - cpu0, parquet_bytes(tpath)
    n_epochs, last_epoch = len(epochs), max(epochs)
    size = knobs["epoch_events"]
    ds = F.col("delivery_seq")
    events = feed.filter((ds >= min(epochs) * size) & (ds < (last_epoch + 1) * size)).count()
    table = LakeTable(spark, tpath)
    check_state(
        r, "cow", table.read(), os.path.join(all_dir, "*.parquet"),
        payload_columns(feed), max_delivery_seq=(last_epoch + 1) * knobs["epoch_events"],
    )
    reads = timed_reads(r, table.read, 5, 2)
    tail = tail_percentile(lat)
    r.out.update({
        "events": events, "epochs": n_epochs,
        "events_per_s": events / wall,
        "epoch_lat": lat,
        "epoch_tail": tail,
        **reads,
        # timed epochs only: bytes the table gained / trickle bytes they read
        "write_amp": (bytes1 - bytes0) / (parquet_bytes(feed_dir) * n_epochs / knobs["max_epochs"]),
        "cpu_s": cpu, "cpu_s_per_mevent": cpu / events * 1e6,
        "timed_s": wall,
    })


def stream_open_loop(r: Run) -> None:
    from openmrs_module_epts_etl_spark.cdc import TableFollower, generate_feed, read_state, transcript_schema
    from openmrs_module_epts_etl_spark.cdc.generator import write_feed_batches
    from openmrs_module_epts_etl_spark.lake import LakeTable, bucket, days, mbucket
    from openmrs_module_epts_etl_spark.streaming import StreamingCdcRunner

    w = r.spec["workloads"]["stream-open-loop"]
    knobs = w["feed"]
    spark = r.spark
    per_file = knobs["events_per_file"]
    interval, trigger = w["release_interval_s"], w["trigger_interval_s"]
    # whole triggers' worth of files, so every trigger picks up the same
    # number of files in every run and the freshness median sits between
    # the same two release offsets
    per_trigger = round(trigger / interval)
    n_timed = per_trigger * math.ceil(r.args.seconds / trigger)
    n_warm = w["warmup_files"]
    first_timed = n_warm + w["steady_warmup_files"]
    # delivery_seq runs up to n + out_of_order_window - 1: this n fills
    # exactly first_timed + n_timed files
    n = per_file * (first_timed + n_timed) - knobs["out_of_order_window"]

    # feed: one parquet file per delivery_seq slice, staged on the same
    # filesystem as the watched directory so a release is one rename
    gen_dir, stage, watch = (os.path.join(r.work, d) for d in ("gen", "stage", "watch"))
    t0 = time.perf_counter()
    write_feed_batches(generate_feed(spark, r.feed_spec(knobs, n, r.args.seed), r.cores), gen_dir, per_file)
    os.makedirs(stage)
    os.makedirs(watch)
    files = []
    for d in sorted(glob.glob(os.path.join(gen_dir, "__batch=*")), key=lambda d: int(d.rsplit("=", 1)[1])):
        (part,) = glob.glob(os.path.join(d, "*.parquet"))
        dst = os.path.join(stage, f"f{len(files):05d}.parquet")
        os.rename(part, dst)
        files.append(dst)
    shutil.rmtree(gen_dir)
    r.out["feedgen_s"] = time.perf_counter() - t0
    r.log(f"feed {len(files)} files {r.out['feedgen_s']:.1f}s")
    first = spark.read.parquet(files[0])
    feed_schema, payload = first.schema, payload_columns(first)
    feed_bytes = sum(os.path.getsize(f) for f in files)

    t_setup = time.perf_counter()
    up, down = os.path.join(r.work, "up"), os.path.join(r.work, "down")
    LakeTable.create(spark, up, transcript_schema(), [days("ts"), mbucket(w["buckets"], "conv_id")])
    runner = StreamingCdcRunner(
        spark, watch, feed_schema, up, os.path.join(r.work, "ck-stream"),
        max_files_per_trigger=w["max_files_per_trigger"], mode="mor",
        compact_every=w["compact_every"],
    )

    # the light poller: when does each table version appear in the commit
    # log, and how much CPU has the process tree used by then?
    seen: list[tuple[float, int, float]] = []
    stop_poll = threading.Event()

    def poll():
        last = 0
        while not stop_poll.is_set():
            v = LakeTable(spark, up).version
            if v > last:
                seen.append((time.time(), v, r.cpu_s()))
                last = v
            stop_poll.wait(0.05)

    poller = threading.Thread(target=poll, name="perfbench-commit-poller", daemon=True)
    poller.start()

    released: list[tuple[float, float]] = []  # (scheduled, actual), wall clock

    def release(i: int, due: float) -> None:
        now = time.time()
        os.utime(files[i], (now, now))  # the file source orders new files by mtime
        os.rename(files[i], os.path.join(watch, os.path.basename(files[i])))
        released.append((due, time.time()))

    trigger_cpu: list[tuple[float, float]] = []  # (wall clock, CPU-s) before each timed trigger

    def release_schedule(first: int, count: int, base: float) -> None:
        """Release files[first:first+count], one every ``interval`` seconds
        from ``base``, whatever the engine does; after the last file before
        each trigger, note the process tree's CPU-s."""
        for j in range(count):
            due = base + j * interval
            time.sleep(max(due - time.time(), 0))
            release(first + j, due)
            if (j + 1) % per_trigger == 0:
                trigger_cpu.append((time.time(), r.cpu_s()))

    # the warm-up files are in place before the query starts: its first
    # micro-batch reads them all
    for i in range(n_warm):
        release(i, time.time())
    query = runner.start(processing_time=f"{trigger} seconds")
    src_log = os.path.join(r.work, "ck-stream", "sources", "0")

    def file_batches() -> dict[str, int]:
        """file name -> micro-batch id, from the file source's own log in
        the query checkpoint (plain batch files and compacted ones)."""
        out = {}
        for name in os.listdir(src_log) if os.path.isdir(src_log) else []:
            if name.startswith(".") or name.endswith(".tmp"):
                continue
            with open(os.path.join(src_log, name)) as fh:
                for line in fh.read().splitlines()[1:]:
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
        return out

    def commit_times() -> dict[int, tuple[float, float]]:
        """micro-batch id -> (time, CPU-s) when the poller first saw its
        append commit."""
        out = {}
        hist = LakeTable(spark, up).history()
        for c in hist:
            ep = c.epoch or {}
            if ep.get("fence_key") == runner.fence_key:
                at = next(((t, cpu) for t, v, cpu in seen if v >= c.version), None)
                if at is not None:
                    out[int(ep["epoch_id"])] = at
        return out

    def wait_committed(names: list[str], timeout: float) -> bool:
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            if query.exception() is not None:
                return False
            fb = file_batches()
            if all(nm in fb for nm in names):
                ct = commit_times()
                if all(fb[nm] in ct for nm in names):
                    return True
            time.sleep(0.05)
        return False

    names = [os.path.basename(f) for f in files]
    ok = True
    try:
        ok = wait_committed(names[:n_warm], 120)
        r.op(ok, "warm-up files not committed")
        r.out["setup_s"] = r.out["get_spark_s"] + (time.perf_counter() - t_setup)
        r.log(f"set up {r.out['setup_s']:.1f}s")
        # warm-up, untimed: one full-size micro-batch after the first, so
        # the timed ones run compiled code
        for i in range(n_warm, first_timed):
            release(i, time.time())
        ok = ok and wait_committed(names[:first_timed], 120)
        r.op(ok, "steady warm-up files not committed")
        if r.args.trace:
            r.make_tracer()
            # even micro-batches traced, odd ones not: the addBatch ratio is
            # the tracing overhead
            r.tracer.epoch_filter = lambda epoch: epoch % 2 == 0

        # Spark fires a processing-time trigger at wall-clock multiples of
        # its interval, so the schedule starts half a release interval after
        # such a multiple: every trigger then picks up the same number of
        # files at the same offsets, in every run
        t0p = time.perf_counter()
        t0 = (math.floor(time.time() / trigger) + 1) * trigger + interval / 2
        r.quiesce()
        time.sleep(max(t0 - time.time(), 0))
        release_schedule(first_timed, len(files) - first_timed, t0)
        ok = ok and wait_committed(names, 120)
        r.op(ok, "timed files not committed within 120 s of the last release")
        r.log("timed files committed")
    finally:
        query.stop()
        stop_poll.set()
        poller.join(10)
    r.op(not spark.streams.active and not poller.is_alive(), "streaming query or poller still active after stop")
    if not ok:
        raise RuntimeError(f"stream did not commit every file: {query.exception()}")

    fb, ct = file_batches(), commit_times()
    timed = range(first_timed, len(files))
    fresh = [ct[fb[names[i]]][0] - released[i][0] for i in timed]
    t_end = max(ct[fb[names[i]]][0] for i in timed)
    wall = t_end - t0
    events = spark.read.parquet(*(os.path.join(watch, names[i]) for i in timed)).count()
    batches = sorted(set(fb.values()))
    for b in batches:
        r.op(b in ct, f"micro-batch {b} has no commit")
    # backlog: files released but not yet committed, sampled at each release
    backlog = max(
        sum(1 for k in range(i + 1) if ct[fb[names[k]]][0] > released[i][1]) for i in timed
    )
    # CPU-s of the timed micro-batches: from just before the trigger that
    # starts each one (or from the commit before it, when it started at
    # once) to its commit; the idle waits between triggers are left out
    timed_batches = sorted({fb[names[i]] for i in timed})
    cpu, prev = 0.0, (t0, trigger_cpu[0][1])
    for b in timed_batches:
        tc, cc = ct[b]
        start = next(((t, c) for t, c in trigger_cpu if prev[0] <= t < tc), prev)
        cpu += cc - start[1]
        prev = (tc, cc)

    if r.args.trace:
        # downstream propagation after the stream quiesces: one cold CoW
        # merge of the whole upstream, 13-20 s on 4 CPUs, so it runs in the
        # traced run only and the untraced runs stay within their budget
        r.tracer.epoch_filter = None  # the follower's merge is traced whole
        LakeTable.create(spark, down, transcript_schema(), [days("ts"), bucket(w["buckets"], "conv_id")])
        follower = TableFollower(spark, up, down, os.path.join(r.work, "ck-follow"), mode="cow")
        tf = time.perf_counter()
        polls = follower.run_until_caught_up()
        r.out["follow_catchup_s"] = time.perf_counter() - tf
        r.log(f"follower caught up {r.out['follow_catchup_s']:.1f}s")
        for p in polls:
            r.op(not p.skipped_epoch, "unexpected skipped_epoch in follower poll")
        t1p = time.perf_counter()
        r.finish_trace(t0p, t1p, t1p - t0p)

    prog = []
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        if d.get("numInputRows", 0):
            prog.append(d)

    upt = LakeTable(spark, up)
    check_state(r, "stream", read_state(upt), os.path.join(watch, "*.parquet"), payload)
    reads = timed_reads(r, lambda: read_state(upt), w["reads"], w["warmup_reads"])
    tail = tail_percentile(fresh)
    r.out.update({
        "events": events, "files": len(files), "timed_files": n_timed, "micro_batches": len(batches),
        "events_per_s": events / wall,
        "fresh_lat": fresh,
        "fresh_tail": tail,
        **reads,
        "write_amp": parquet_bytes(up) / feed_bytes,
        "cpu_s": cpu, "cpu_s_per_mevent": cpu / events * 1e6,
        "timed_s": wall,
        "generator_late_s": max(a - d for d, a in released),
        "backlog_files_max": backlog,
    })
    if r.args.trace:
        # micro-batch phases from the query's own progress reports
        pl = r.out["per_layer"]
        for key, name in (("trigger_s", "triggerExecution"), ("add_batch_s", "addBatch"),
                          ("planning_s", "queryPlanning"), ("wal_commit_s", "walCommit")):
            xs = [d["durationMs"].get(name, 0) / 1e3 for d in prog]
            pl[f"streaming.{key}"] = statistics.median(xs) if xs else 0.0
        ab = {d["batchId"]: d["durationMs"].get("addBatch", 0) for d in prog}
        even = [v for b, v in ab.items() if b % 2 == 0 and b in timed_batches]
        odd = [v for b, v in ab.items() if b % 2 == 1 and b in timed_batches]
        pl["harness.trace_overhead"] = statistics.median(even) / statistics.median(odd) if even and odd else 1.0

    if not r.args.trace:
        return
    import check

    down_p = os.path.join(r.work, "state-down")
    LakeTable(spark, down).read().write.mode("overwrite").parquet(down_p)
    res = check.check_tables_equal(
        os.path.join(down_p, "*.parquet"), os.path.join(r.work, f"state-stream-{r.cores}", "*.parquet"), payload
    )
    r.checks["follower"] = res
    r.op(res["ok"], f"follower state differs from upstream: {res}")


WORKLOADS = {
    "mor-replay-skewed": (mor_replay, False),
    "cow-trickle-uniform": (cow_trickle, False),
    "stream-open-loop": (stream_open_loop, True),
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--level", default="all")
    ap.add_argument("--host-cpus", type=int, required=True)
    ap.add_argument("--heap-mb", type=int, required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)
    args.level = args.level if args.level == "all" else int(args.level)

    r = Run(args, load_spec())
    host.pin_cores(r.cpus)  # before the JVM exists, so it inherits the mask
    fn, streaming = WORKLOADS[args.workload]
    status = 0
    try:
        r.start_spark(streaming=streaming)
        fn(r)
    except Exception:
        r.op(False, traceback.format_exc())
        status = 1
    finally:
        r.out["peak_rss_mb"] = host.tree_peak_rss_mb(os.getpid())
        try:
            if r.spark is not None:
                for q in r.spark.streams.active:
                    q.stop()
        finally:
            r.stop_spark()
    r.out.update({"attempted": r.attempted, "failed": r.failed, "errors": r.errors[:5], "checks": r.checks})
    print(RESULT_TAG + json.dumps(r.out, default=float), flush=True)
    return status


if __name__ == "__main__":
    sys.exit(main())
