"""Structured Streaming path: readStream over the feed directory →
foreachBatch MERGE, resume from Spark checkpoint, fence on replay."""

from __future__ import annotations

import glob
import os
import shutil

import pandas as pd
import pyspark.sql.functions as F
import pytest

from openmrs_module_epts_etl_spark.cdc import FeedSpec, generate_feed, transcript_schema
from openmrs_module_epts_etl_spark.cdc.generator import write_feed_batches
from openmrs_module_epts_etl_spark.cdc.schemas import event_schema
from openmrs_module_epts_etl_spark.lake import LakeTable, bucket, days
from openmrs_module_epts_etl_spark.streaming import StreamingCdcRunner

from test_cdc_pipeline import assert_state_matches

SPEC = FeedSpec(n_events=3000, n_convs=30, max_turns=15, out_of_order_window=200)


@pytest.fixture(scope="module")
def feed_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("feed"))
    df = generate_feed(spark, SPEC)
    write_feed_batches(df, d, batch_size=500)
    return d


def _runner(spark, feed_dir, tpath, ck):
    schema = event_schema(False)
    from pyspark.sql.types import LongType, StructField

    schema = schema.add(StructField("delivery_seq", LongType()))
    return StreamingCdcRunner(
        spark, feed_dir, schema, tpath, ck, max_files_per_trigger=2
    )


def _assert_fused_compactions(table, fence_key="cdc-stream"):
    """Each compaction commit carries its micro-batch's applied fence — the
    last slice's when sliced — then the compaction fence, and every epoch or
    slice fence appears in exactly one commit (no delta was appended
    first)."""
    hist = table.refresh().history()[1:]
    fused = [c for c in hist if c.metrics["mode"] == "mor-compact"]
    assert fused
    applied = [f for c in hist for f in c.fences if f[0] != fence_key + "-compact"]
    assert len(applied) == len(set(applied))
    stride = StreamingCdcRunner._SLICE_STRIDE
    for c in fused:
        (fk, fe), (ck, ce) = c.fences
        assert ck == fence_key + "-compact"
        if fk == fence_key:
            assert fe == ce
        else:
            assert fe // stride == ce
            assert fe == max(e for k, e in applied if k == fk and e // stride == ce)
        assert c.metrics["applied"].get("delta_upsert")


def test_streaming_replay_matches_oracle(spark, tmp_path, feed_dir):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), transcript_schema(), [days("ts"), bucket(8, "conv_id")]
    )
    runner = _runner(spark, feed_dir, t.path, str(tmp_path / "ck"))
    results = runner.run_available_now()
    assert len(results) >= 2  # several micro-batches
    feed_pd = spark.read.parquet(feed_dir).drop("delivery_seq", "__batch").toPandas()
    assert_state_matches(t.refresh(), feed_pd, ["role", "text", "tool", "ts"])


def test_streaming_resume_and_fence(spark, tmp_path, feed_dir):
    """Restarting the stream on the same checkpoint processes only new files;
    wiping the checkpoint but keeping the table → every epoch fenced."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), transcript_schema(), [days("ts"), bucket(8, "conv_id")]
    )
    ck = str(tmp_path / "ck")
    r1 = _runner(spark, feed_dir, t.path, ck)
    r1.run_available_now()
    v = t.refresh().version

    # restart on same checkpoint: nothing new to process
    r2 = _runner(spark, feed_dir, t.path, ck)
    out2 = r2.run_available_now()
    assert all(r.skipped_epoch or r.rows_changed == 0 for r in out2)
    assert t.refresh().version == v or all(r.skipped_epoch for r in out2)

    # wipe Spark checkpoint (simulates losing it): commit-log fence holds iff
    # epoch ids realign — they do with availableNow from scratch
    shutil.rmtree(ck)
    r3 = _runner(spark, feed_dir, t.path, ck)
    out3 = r3.run_available_now()
    assert all(r.skipped_epoch for r in out3)
    assert t.refresh().version == v


def test_metrics_stream_watermarked_window(spark, tmp_path, feed_dir):
    """Watermarked tumbling-window metrics: counts per (window, op) over the
    whole feed must reconcile with a plain batch aggregation (availableNow
    drains everything, so nothing is late at end-of-stream)."""
    runner = _runner(spark, feed_dir, str(tmp_path / "unused"), str(tmp_path / "ck"))
    m = runner.metrics_stream(window="10 minutes", watermark="5 minutes")
    q = (
        m.writeStream.format("memory")
        .queryName("op_metrics")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "mck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("op_metrics").groupBy("op").sum("events").collect()
    got = {r["op"]: r["sum(events)"] for r in got}
    want = {
        r["op"]: r["n"]
        for r in spark.read.parquet(feed_dir).groupBy("op").agg(F.count("*").alias("n")).collect()
    }
    # append mode emits only windows closed by the watermark; the final
    # windows stay open at end-of-stream, so emitted <= total per op
    assert set(got) <= set(want)
    assert all(got[k] <= want[k] for k in got)
    assert sum(got.values()) > 0


def test_streaming_mor_mode_matches_oracle(spark, tmp_path, feed_dir):
    """mode="mor": foreachBatch appends lsn-stamped deltas with periodic
    compaction instead of CoW MERGE — the ingest-optimized streaming
    topology. Final user-visible state must equal the CoW/oracle state."""
    from openmrs_module_epts_etl_spark.cdc.mor import read_state

    t = LakeTable.create(
        spark, str(tmp_path / "t"), transcript_schema(), [days("ts"), bucket(8, "conv_id")]
    )
    runner = _runner(spark, feed_dir, t.path, str(tmp_path / "ck"))
    runner.mode = "mor"
    runner.compact_every = 2
    results = runner.run_available_now()
    assert len(results) >= 2
    _assert_fused_compactions(t)
    feed_pd = spark.read.parquet(feed_dir).drop("delivery_seq", "__batch").toPandas()
    from openmrs_module_epts_etl_spark.cdc.oracle import expected_state_pandas

    got = (
        read_state(t.refresh())
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    payload = ["role", "text", "tool", "ts"]
    exp = expected_state_pandas(feed_pd, payload)
    cols = ["conv_id", "turn_idx", *payload]
    pd.testing.assert_frame_equal(exp[cols], got[cols], check_dtype=False)


def test_stateful_conversation_progress(spark, tmp_path, feed_dir):
    """applyInPandasWithState keyed state survives micro-batch boundaries:
    the LAST update emitted per conversation must equal the batch groupby of
    the whole feed (cumulative counts / maxima)."""
    from pyspark.sql.types import LongType, StructField

    from openmrs_module_epts_etl_spark.streaming import (
        conversation_progress,
        progress_oracle,
    )

    schema = event_schema(False).add(StructField("delivery_seq", LongType()))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(feed_dir)
    )
    q = (
        conversation_progress(stream.drop("delivery_seq"))
        .writeStream.format("memory")
        .queryName("conv_progress")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    upd = spark.sql("select * from conv_progress").toPandas()
    assert len(upd) > len(upd["conv_id"].unique()), "expected multiple update rows per conv"
    # last update per conversation (max cumulative n_events) = final snapshot
    got = upd.sort_values("n_events").groupby("conv_id").tail(1)
    got = got.sort_values("conv_id").reset_index(drop=True)
    feed_pd = spark.read.parquet(feed_dir).drop("delivery_seq", "__batch").toPandas()
    exp = progress_oracle(feed_pd)
    for col in ["n_events", "n_deletes", "max_turn_idx", "max_lsn"]:
        assert list(got[col].astype("int64")) == list(exp[col].astype("int64")), col
    assert list(got["last_ts"]) == list(exp["last_ts"])


def test_live_trigger_and_progress_ledger(spark, tmp_path, feed_dir):
    """start() with a processing-time trigger drives the same fenced merge
    path, and the ProgressLedger listener persists one JSON line per
    micro-batch (the progress-meter persistence analog)."""
    import json
    import time

    from openmrs_module_epts_etl_spark.streaming import ProgressLedger

    t = LakeTable.create(
        spark, str(tmp_path / "t"), transcript_schema(), [days("ts"), bucket(8, "conv_id")]
    )
    runner = _runner(spark, feed_dir, t.path, str(tmp_path / "ck"))
    ledger = ProgressLedger(str(tmp_path / "progress.jsonl"))
    spark.streams.addListener(ledger.listener())
    q = runner.start(processing_time="1 seconds")
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if runner.batch_results and os.path.exists(ledger.path):
                lines = open(ledger.path).read().strip().splitlines()
                if len(lines) >= 2:
                    break
            time.sleep(0.5)
    finally:
        q.stop()
        spark.streams.removeListener(ledger.listener())
    rows = [json.loads(ln) for ln in open(ledger.path).read().strip().splitlines()]
    assert rows and all("batch_id" in r and "num_input_rows" in r for r in rows)
    assert sum(r["num_input_rows"] for r in rows) > 0
    assert any(r["duration_ms"] for r in rows)


def test_max_offsets_per_trigger_bounds_apply_size(spark, tmp_path, feed_dir):
    """Event-granular trigger sizing (the file-source analog of Kafka's
    maxOffsetsPerTrigger): each micro-batch is sliced into lsn windows of
    width w and applied as fenced sub-epochs, so no single merge ever sees
    more than w offsets. Final state must still match the oracle, and a
    checkpoint-wipe replay must fence every sub-epoch (deterministic ids)."""
    w = 300
    t = LakeTable.create(
        spark, str(tmp_path / "t"), transcript_schema(), [days("ts"), bucket(8, "conv_id")]
    )
    ck = str(tmp_path / "ck")
    runner = _runner(spark, feed_dir, t.path, ck)
    runner.max_offsets_per_trigger = w
    runner.mode = "mor"
    runner.compact_every = 2
    results = runner.run_available_now()
    # more applies than micro-batches (3000 events / 2-file triggers of ~1000)
    assert len(results) > 3
    for r in results:
        assert sum(r.applied.values()) <= w, r.applied
    _assert_fused_compactions(t)
    feed_pd = spark.read.parquet(feed_dir).drop("delivery_seq", "__batch").toPandas()
    from openmrs_module_epts_etl_spark.cdc.mor import read_state
    from openmrs_module_epts_etl_spark.cdc.oracle import expected_state_pandas

    payload = ["role", "text", "tool", "ts"]
    got = (
        read_state(t.refresh()).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    exp = expected_state_pandas(feed_pd, payload)
    cols = ["conv_id", "turn_idx", *payload]
    pd.testing.assert_frame_equal(exp[cols], got[cols], check_dtype=False)

    # replay from a wiped checkpoint: identical slice bounds → identical
    # sub-epoch ids → every apply fenced, table version unchanged
    v = t.refresh().version
    shutil.rmtree(ck)
    r2 = _runner(spark, feed_dir, t.path, ck)
    r2.max_offsets_per_trigger = w
    r2.mode = "mor"
    r2.compact_every = 2
    out2 = r2.run_available_now()
    assert out2 and all(r.skipped_epoch for r in out2)
    assert t.refresh().version == v


def test_suppress_redelivery_dedupes_by_lsn(spark, tmp_path, feed_dir):
    """At-least-once source: every feed file delivered twice. With
    suppress_redelivery the duplicates die at ingest (state bounded by the
    watermark); final table state is unchanged either way — the lsn fence
    would also have absorbed them, just at merge cost."""
    dup_dir = str(tmp_path / "dupfeed")
    os.makedirs(dup_dir)
    for i, f in enumerate(
        sorted(glob.glob(os.path.join(feed_dir, "**", "*.parquet"), recursive=True))
    ):
        shutil.copy(f, os.path.join(dup_dir, f"f{i:04d}a.parquet"))
        shutil.copy(f, os.path.join(dup_dir, f"f{i:04d}b.parquet"))

    t = LakeTable.create(
        spark, str(tmp_path / "t"), transcript_schema(), [days("ts"), bucket(8, "conv_id")]
    )
    schema = event_schema(False)
    from pyspark.sql.types import LongType, StructField

    schema = schema.add(StructField("delivery_seq", LongType()))
    runner = StreamingCdcRunner(
        spark,
        dup_dir,
        schema,
        t.path,
        str(tmp_path / "ck"),
        max_files_per_trigger=4,
        # must exceed the feed's event-time lateness horizon (the generator
        # plants events up to late_by_seconds=1 day in the past) or genuine
        # late events are dropped with the duplicates — see runner docstring
        suppress_redelivery="2 days",
    )
    runner.run_available_now()
    feed_pd = spark.read.parquet(feed_dir).drop("delivery_seq", "__batch").toPandas()
    assert_state_matches(t.refresh(), feed_pd, ["role", "text", "tool", "ts"])


def test_trigger_cap_removal_does_not_fence_out_new_batches(spark, tmp_path, feed_dir):
    """Fence-namespace regression: sliced sub-epoch ids for micro-batch 0 are
    0·STRIDE+i = 0..k. If they shared the plain-epoch fence namespace, an
    operator removing max_offsets_per_trigger on the SAME checkpoint would
    see later micro-batches (epoch ids 1..k) as "already applied" and
    silently drop real events. Sliced fences live under fence_key+"-sliced",
    so the plain namespace stays clean and every new batch applies."""
    files = sorted(glob.glob(os.path.join(feed_dir, "**", "*.parquet"), recursive=True))
    assert len(files) >= 4
    stage = str(tmp_path / "stagedfeed")
    os.makedirs(stage)
    for i, f in enumerate(files[:2]):
        shutil.copy(f, os.path.join(stage, f"f{i:04d}.parquet"))

    t = LakeTable.create(
        spark, str(tmp_path / "t"), transcript_schema(), [days("ts"), bucket(8, "conv_id")]
    )
    ck = str(tmp_path / "ck")
    # phase 1: capped — micro-batch 0 splits into several lsn-window slices,
    # so fence ids 0..k are recorded for this checkpoint's epoch 0
    r1 = _runner(spark, stage, t.path, ck)
    r1.max_files_per_trigger = 100  # everything present in one micro-batch
    r1.max_offsets_per_trigger = 300
    out1 = r1.run_available_now()
    assert len(out1) >= 3  # epoch 0 really was sliced (ids 0,1,2,... issued)
    assert any(sum(r.applied.values()) for r in out1)

    # phase 2: operator removes the cap; NEW files arrive as epochs 1,2,...
    for i, f in enumerate(files[2:]):
        shutil.copy(f, os.path.join(stage, f"g{i:04d}.parquet"))
    r2 = _runner(spark, stage, t.path, ck)
    r2.max_offsets_per_trigger = None
    out2 = r2.run_available_now()
    assert out2, "new micro-batches must be processed"
    assert any(
        sum(r.applied.values()) for r in out2
    ), "plain epochs 1..k were fenced out by sliced sub-epoch ids"

    feed_pd = spark.read.parquet(feed_dir).drop("delivery_seq", "__batch").toPandas()
    assert_state_matches(t.refresh(), feed_pd, ["role", "text", "tool", "ts"])


def test_streaming_session_windows_deterministic(spark, tmp_path):
    """Native session windows on a STREAMING DataFrame (the capability the
    lag-based sessionize cannot offer): watermark + session_window, in-order
    feed, gap 5 minutes. Three files arrive as three micro-batches; the final
    file carries a far-future sentinel that pushes the watermark past every
    real session, so append mode must emit EXACTLY the batch sessions of the
    real conversations (the sentinel's own session stays open and unemitted).
    Session bound semantics pinned: an event exactly gap after the previous
    one still MERGES (a new session needs a strictly greater gap) — the
    oracle SQL mirrors this with ``> 1800s``."""
    import datetime as dt

    from pyspark.sql.types import StringType, StructType, TimestampType
    from pyspark.sql.types import StructField as SF

    from openmrs_module_epts_etl_spark.operators.windows import session_window_stats

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    schema = StructType([SF("conv_id", StringType()), SF("ts", TimestampType())])
    files = [
        # file 1: conv A session 1 (2 events), conv B session 1 starts
        [("A", t0), ("A", t0 + 1 * m), ("B", t0 + 2 * m)],
        # file 2: conv A session 2 — note t0+20m; B event at EXACTLY +5m gap
        # from t0+2m → still MERGES (boundary is inclusive; a split needs
        # a gap strictly greater)
        [("A", t0 + 20 * m), ("B", t0 + 7 * m)],
        # file 3: sentinel far in the future → watermark passes everything
        [("Z", t0 + 300 * m)],
    ]
    feed = str(tmp_path / "sessfeed")
    os.makedirs(feed)
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(tmp_path / f"stage{i}")
        )
        src_file = glob.glob(str(tmp_path / f"stage{i}" / "*.parquet"))[0]
        shutil.copy(src_file, os.path.join(feed, f"f{i:04d}.parquet"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .withWatermark("ts", "10 seconds")
    )
    q = (
        session_window_stats(stream, ["conv_id"], "ts", gap="5 minutes")
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("sess_stream").toPandas()
    got_set = set(map(tuple, got[["conv_id", "session_start", "session_end", "n_events"]].itertuples(index=False)))
    g = dt.timedelta(minutes=5)
    expected = {
        ("A", t0, t0 + 1 * m + g, 2),
        ("A", t0 + 20 * m, t0 + 25 * m, 1),
        ("B", t0 + 2 * m, t0 + 12 * m, 2),  # inclusive bound: +5m gap merges
    }
    assert got_set == expected


def test_stateful_progress_with_idle_ttl(spark, tmp_path, feed_dir):
    """ProcessingTimeTimeout variant: with a TTL far beyond the test's wall
    clock, results must equal the NoTimeout run (the TTL arm registers the
    timeout but never fires here — firing is covered by the unit test
    below)."""
    from pyspark.sql.types import LongType, StructField

    from openmrs_module_epts_etl_spark.streaming import (
        conversation_progress,
        progress_oracle,
    )

    schema = event_schema(False).add(StructField("delivery_seq", LongType()))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(feed_dir)
    )
    # A ProcessingTimeTimeout asks for a no-data batch after every batch, so
    # neither availableNow termination nor processAllAvailable would ever see
    # the stream drained. No-data batches only matter for firing timeouts,
    # which this TTL never does: turn them off for this query (the conf is
    # captured when the query starts), drain, then stop.
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(no_data)
    spark.conf.set(no_data, "false")
    try:
        q = (
            conversation_progress(stream.drop("delivery_seq"), idle_ttl_minutes=60)
            .writeStream.format("memory")
            .queryName("conv_progress_ttl")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(no_data, prev)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    upd = spark.sql("select * from conv_progress_ttl").toPandas()
    got = upd.sort_values("n_events").groupby("conv_id").tail(1)
    got = got.sort_values("conv_id").reset_index(drop=True)
    feed_pd = spark.read.parquet(feed_dir).drop("delivery_seq", "__batch").toPandas()
    exp = progress_oracle(feed_pd)
    for col in ["n_events", "n_deletes", "max_turn_idx", "max_lsn"]:
        assert list(got[col].astype("int64")) == list(exp[col].astype("int64")), col


def test_stateful_timeout_branch_evicts_silently():
    """The hasTimedOut arm drops state and emits nothing — unit-tested with a
    fake GroupState because ProcessingTimeTimeout firing needs real wall
    clock."""
    from openmrs_module_epts_etl_spark.streaming.stateful import _update_conversation

    class _FakeState:
        hasTimedOut = True
        removed = False

        def remove(self):
            self.removed = True

    st = _FakeState()
    out = list(_update_conversation(("c1",), iter(()), st, ttl_ms=1000))
    assert out == []
    assert st.removed


def test_streaming_session_windows_equal_batch(spark, tmp_path):
    """The r3 session-window operator's streaming claim, driven end-to-end on
    REAL data: the SAME ``session_window_stats`` call runs (a) as a batch
    aggregation over the sf0.001 events table and (b) as a watermarked
    streaming aggregation over the same rows delivered as time-ordered
    micro-batch files under availableNow — and the emitted session sets must
    be EQUAL. A far-future sentinel file pushes the final watermark past
    every real event so append mode flushes all session state; the sentinel
    user's own (still-open) session is the only row allowed to differ."""
    import datetime as dt

    from openmrs_module_epts_etl_spark.operators.windows import session_window_stats

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        # the parquet reads as TIMESTAMP_NTZ, which withWatermark rejects;
        # the UTC session makes the cast value-preserving
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    )
    batch = session_window_stats(ev, ["user_id"], "ts", gap="30 minutes").toPandas()

    # deliver the identical rows as 3 time-ordered files + a sentinel: each
    # file holds a contiguous ts range, so the watermark only ever advances
    # past rows already delivered (no late drops to confound the equality)
    # tercile cut points: tiny test table (sf0.001 = 1000 rows), so collect
    # the sorted distinct timestamps and index — type-safe for TIMESTAMP_NTZ,
    # which approxQuantile/double casts reject
    all_ts = sorted(r[0] for r in ev.select("ts").distinct().collect())
    q1 = all_ts[len(all_ts) // 3]
    q2 = all_ts[2 * len(all_ts) // 3]
    parts = [
        ev.where(F.col("ts") <= F.lit(q1)),
        ev.where((F.col("ts") > F.lit(q1)) & (F.col("ts") <= F.lit(q2))),
        ev.where(F.col("ts") > F.lit(q2)),
    ]
    sentinel_ts = ev.agg(F.max("ts")).first()[0] + dt.timedelta(days=365)
    parts.append(
        spark.createDataFrame([(-1, sentinel_ts)], schema=ev.schema)
    )
    feed = str(tmp_path / "sessfeed2")
    os.makedirs(feed)
    for i, p in enumerate(parts):
        stage = str(tmp_path / f"sw_stage{i}")
        p.coalesce(1).write.parquet(stage)
        shutil.copy(
            glob.glob(os.path.join(stage, "*.parquet"))[0],
            os.path.join(feed, f"f{i:04d}.parquet"),
        )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .withWatermark("ts", "1 second")
    )
    q = (
        session_window_stats(stream, ["user_id"], "ts", gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sess_eq_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sw_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("sess_eq_stream").toPandas()
    got = got[got.user_id != -1]

    key = ["user_id", "session_start", "session_end", "n_events"]
    got_set = set(map(tuple, got[key].itertuples(index=False)))
    want_set = set(map(tuple, batch[key].itertuples(index=False)))
    assert got_set == want_set
    assert len(got) == len(batch)  # no duplicate emissions either


def test_streaming_transport_profile(spark, tmp_path, feed_dir):
    """Streaming sessions are built with get_spark(profile="streaming"),
    which applies the stock 200-partition shuffle-writer crossover (the
    batch default of 64 is tuned for 32M-row exchanges and costs the
    micro-batch path a measured 15%). bypassMergeThreshold is a launch-time
    core conf, so the runner can only DETECT a batch-tuned session — it
    records a transport warning by default and stays silent when the caller
    opts out."""
    from openmrs_module_epts_etl_spark.session import (
        STREAMING_TRANSPORT,
        TUNED_TRANSPORT,
    )

    # profile tables: streaming overrides exactly the writer crossover
    assert STREAMING_TRANSPORT["spark.shuffle.sort.bypassMergeThreshold"] == "200"
    assert TUNED_TRANSPORT["spark.shuffle.sort.bypassMergeThreshold"] == "64"
    with pytest.raises(ValueError, match="profile"):
        from openmrs_module_epts_etl_spark.session import get_spark

        get_spark("bad-profile", profile="interactive")

    # the shared test session is batch-profile → the runner flags it...
    r = _runner(spark, feed_dir, str(tmp_path / "tp_t"), str(tmp_path / "tp_ck"))
    assert r.transport_warnings and "profile='streaming'" in r.transport_warnings[0]
    # ...unless the caller deliberately shares a batch-tuned session
    schema = spark.read.parquet(feed_dir).schema
    r2 = StreamingCdcRunner(
        spark, feed_dir, schema, str(tmp_path / "tp_t2"),
        str(tmp_path / "tp_ck2"), transport_profile=False,
    )
    assert r2.transport_warnings == []


def test_runner_refreshes_one_table_handle(spark, tmp_path, feed_dir, monkeypatch):
    """One LakeTable handle per runner, refreshed each micro-batch: commit
    JSON loads per micro-batch stay flat as the log grows and rise only with
    the commits another writer adds (a fresh handle per micro-batch re-read
    the whole log every time)."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), transcript_schema(), [days("ts"), bucket(8, "conv_id")]
    )
    runner = _runner(spark, feed_dir, t.path, str(tmp_path / "ck"))
    runner.mode = "mor"
    runner.compact_every = 3
    files = sorted(glob.glob(os.path.join(feed_dir, "**", "*.parquet"), recursive=True))
    assert len(files) >= 6
    loads = [0]
    real = LakeTable._load_commit

    def counting(self, version):
        loads[0] += 1
        return real(self, version)

    monkeypatch.setattr(LakeTable, "_load_commit", counting)
    per_batch = []
    for e, f in enumerate(files[:6]):
        if e == 4:  # another writer commits between micro-batches 3 and 4
            LakeTable(spark, t.path).commit([], metrics={"operation": "noop"})
        loads[0] = 0
        runner._apply_batch(spark.read.parquet(f), e)
        per_batch.append(loads[0])
    assert t.refresh().version == 7
    # first: open + full fence scan of v0; then one head refresh each, plus
    # the one foreign commit folded at micro-batch 4
    assert per_batch == [2, 1, 1, 1, 2, 1]
