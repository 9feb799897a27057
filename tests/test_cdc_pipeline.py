"""End-to-end CDC correctness per FIXTURES.md §4: replay-idempotence,
out-of-order delivery, delete-then-reinsert, mid-stream schema evolution,
lsn-guarded staleness, bidirectional final check vs an independent
DuckDB/pandas oracle."""

from __future__ import annotations

import duckdb
import pandas as pd
import pyspark.sql.functions as F
import pytest

from openmrs_module_epts_etl_spark.cdc import (
    CdcPipeline,
    FeedSpec,
    PipelineConfig,
    generate_feed,
    merge_into,
    transcript_schema,
)
from openmrs_module_epts_etl_spark.cdc.schemas import payload_columns as _payload_columns


def payload_columns(schema):
    return [c for c in _payload_columns(schema) if c not in ("conv_id", "turn_idx")]
from openmrs_module_epts_etl_spark.lake import LakeTable, bucket, days

SPEC = FeedSpec(
    n_events=4000,
    n_convs=40,
    max_turns=20,
    out_of_order_window=300,
    schema_evolution_lsn=None,
)
SPEC_EVOLVED = FeedSpec(
    n_events=4000,
    n_convs=40,
    max_turns=20,
    out_of_order_window=300,
    schema_evolution_lsn=2000,
)


def make_table(spark, path, evolved=False):
    return LakeTable.create(
        spark,
        path,
        transcript_schema(evolved=evolved),
        [days("ts"), bucket(8, "conv_id")],
    )


def oracle_df(feed_pandas: pd.DataFrame, payload_cols) -> pd.DataFrame:
    con = duckdb.connect()
    con.register("ev", feed_pandas)
    cols = ", ".join(payload_cols)
    q = f"""
        WITH ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
            FROM ev)
        SELECT conv_id, turn_idx, {cols}
        FROM ranked WHERE rn = 1 AND op IN ('I','U')
        ORDER BY conv_id, turn_idx
    """
    return con.execute(q).df()


def table_state(table: LakeTable, payload_cols) -> pd.DataFrame:
    return (
        table.read(include_hidden=False)
        .select("conv_id", "turn_idx", *payload_cols)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )


def assert_state_matches(table, feed_pd, payload_cols):
    got = table_state(table, payload_cols).reset_index(drop=True)
    want = oracle_df(feed_pd, payload_cols).reset_index(drop=True)
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@pytest.fixture(scope="module")
def feed(spark):
    df = generate_feed(spark, SPEC).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def feed_pd(feed):
    return feed.drop("delivery_seq").toPandas()


def run_pipeline(spark, feed, path, ckpt, batch_size=700, **kw):
    pipe = CdcPipeline(
        spark,
        PipelineConfig(table_path=path, checkpoint_dir=ckpt, batch_size=batch_size),
    )
    return pipe, pipe.run(feed, **kw)


def test_full_replay_matches_oracle(spark, tmp_path, feed, feed_pd):
    t = make_table(spark, str(tmp_path / "t"))
    _, results = run_pipeline(spark, feed, t.path, str(tmp_path / "ck"))
    assert len(results) > 3  # actually micro-batched
    assert_state_matches(t.refresh(), feed_pd, payload_columns(feed.drop("delivery_seq").schema))


def test_replay_idempotence(spark, tmp_path, feed, feed_pd):
    """Apply the full feed twice (fresh checkpoint dir the second time, so
    only the epoch fence protects) → identical state, zero changes applied."""
    t = make_table(spark, str(tmp_path / "t"))
    _, r1 = run_pipeline(spark, feed, t.path, str(tmp_path / "ck1"))
    v1 = LakeTable(spark, t.path).version
    _, r2 = run_pipeline(spark, feed, t.path, str(tmp_path / "ck2"))
    assert all(r.skipped_epoch for r in r2)  # every epoch fenced out
    assert LakeTable(spark, t.path).version == v1  # no new commits
    assert_state_matches(t.refresh(), feed_pd, payload_columns(feed.drop("delivery_seq").schema))


def test_resume_from_checkpoint_mid_replay(spark, tmp_path, feed, feed_pd):
    t = make_table(spark, str(tmp_path / "t"))
    ck = str(tmp_path / "ck")
    pipe, partial = run_pipeline(spark, feed, t.path, ck, max_epochs=3)
    assert len(partial) == 3
    # simulate crash+restart: new pipeline object, same checkpoint
    _, rest = run_pipeline(spark, feed, t.path, ck)
    assert not any(r.skipped_epoch for r in rest)
    assert_state_matches(t.refresh(), feed_pd, payload_columns(feed.drop("delivery_seq").schema))


def test_crash_between_commit_and_checkpoint(spark, tmp_path, feed, feed_pd):
    """Kill after the table commit but before the checkpoint write → replayed
    epoch must be fenced to a no-op (exactly-once)."""
    t = make_table(spark, str(tmp_path / "t"))
    ck = str(tmp_path / "ck")
    pipe = CdcPipeline(
        spark, PipelineConfig(table_path=t.path, checkpoint_dir=ck, batch_size=700)
    )

    class Boom(Exception):
        pass

    calls = []

    def crash_after(epoch, res):
        calls.append(epoch)
        if len(calls) == 2:
            # roll the checkpoint back by one epoch: commit exists, ckpt doesn't
            pipe.save_checkpoint({"last_epoch": epoch - 1})
            raise Boom()

    with pytest.raises(Boom):
        pipe.run(feed, on_batch=crash_after)
    results = pipe.run(feed)  # restart
    assert results[0].skipped_epoch  # the replayed epoch was fenced
    assert not any(r.skipped_epoch for r in results[1:])
    assert_state_matches(t.refresh(), feed_pd, payload_columns(feed.drop("delivery_seq").schema))


def test_out_of_order_delivery_converges(spark, tmp_path, feed, feed_pd):
    """Delivery order (delivery_seq) ≠ lsn order; final state must equal the
    max-lsn oracle regardless."""
    shuffled = feed.withColumn(
        "delivery_seq", (F.col("delivery_seq") + F.pmod(F.xxhash64("lsn"), F.lit(200))).cast("long")
    )
    t = make_table(spark, str(tmp_path / "t"))
    run_pipeline(spark, shuffled, t.path, str(tmp_path / "ck"))
    assert_state_matches(t.refresh(), feed_pd, payload_columns(feed.drop("delivery_seq").schema))


def test_delete_then_reinsert(spark, tmp_path):
    """I … D … I per key, including D+I inside one micro-batch: survivor is the
    max-lsn insert payload; D after all I's removes the row."""
    import datetime as dt

    base = dt.datetime(2026, 1, 1)
    rows = [
        # key A: I, D, I  → survives with lsn 30's text
        (10, "I", "A", 1, "user", "first", None, base, "s"),
        (20, "D", "A", 1, None, None, None, base, "s"),
        (30, "I", "A", 1, "user", "reborn", None, base, "s"),
        # key B: I then D → gone
        (11, "I", "B", 1, "user", "hello", None, base, "s"),
        (40, "D", "B", 1, None, None, None, base, "s"),
        # key C: D then stale I (lower lsn) → gone
        (50, "D", "C", 1, None, None, None, base, "s"),
        (45, "I", "C", 1, "user", "late", None, base, "s"),
    ]
    from openmrs_module_epts_etl_spark.cdc.schemas import EVENT_SCHEMA

    ev = spark.createDataFrame(rows, EVENT_SCHEMA)
    t = make_table(spark, str(tmp_path / "t"))
    # one batch: D+I collapse must keep last op per key
    res = merge_into(t, ev, fence_key="x", epoch_id=0)
    state = t.read(include_hidden=False).orderBy("conv_id").toPandas()
    assert list(state["conv_id"]) == ["A"]
    assert state["text"][0] == "reborn"
    assert res.applied["insert"] == 1  # only A survives as insert


def test_delete_then_reinsert_across_batches(spark, tmp_path):
    import datetime as dt

    from openmrs_module_epts_etl_spark.cdc.schemas import EVENT_SCHEMA

    base = dt.datetime(2026, 1, 1)
    t = make_table(spark, str(tmp_path / "t"))
    b1 = spark.createDataFrame([(10, "I", "A", 1, "user", "v1", None, base, "s")], EVENT_SCHEMA)
    b2 = spark.createDataFrame([(20, "D", "A", 1, None, None, None, base, "s")], EVENT_SCHEMA)
    b3 = spark.createDataFrame([(30, "I", "A", 1, "user", "v3", None, base, "s")], EVENT_SCHEMA)
    r1 = merge_into(t, b1)
    assert r1.applied.get("insert") == 1
    r2 = merge_into(t, b2)
    assert r2.applied.get("delete") == 1
    assert t.read().count() == 0
    r3 = merge_into(t, b3)
    # reinsert lands on the delete tombstone → resurrection is an "update"
    assert r3.applied.get("update") == 1
    assert t.read(include_hidden=False).collect()[0]["text"] == "v3"


def test_stale_insert_after_delete_does_not_resurrect(spark, tmp_path):
    """Regression (found by end-to-end drive): a delete must leave an
    lsn-stamped tombstone, else an out-of-order stale insert in a LATER epoch
    resurrects the key."""
    import datetime as dt

    from openmrs_module_epts_etl_spark.cdc.schemas import EVENT_SCHEMA

    base = dt.datetime(2026, 1, 1)
    t = make_table(spark, str(tmp_path / "t"))
    merge_into(t, spark.createDataFrame([(10, "I", "A", 1, "user", "v1", None, base, "s")], EVENT_SCHEMA))
    merge_into(t, spark.createDataFrame([(50, "D", "A", 1, None, None, None, base, "s")], EVENT_SCHEMA))
    # late, stale insert (lsn 30 < 50) delivered in its own later batch
    res = merge_into(
        t, spark.createDataFrame([(30, "I", "A", 1, "user", "zombie", None, base, "s")], EVENT_SCHEMA)
    )
    assert res.applied.get("stale_skip") == 1
    assert t.read().count() == 0
    # delete-before-any-insert (out-of-order first contact) also fences
    merge_into(t, spark.createDataFrame([(90, "D", "B", 2, None, None, None, base, "s")], EVENT_SCHEMA))
    res2 = merge_into(
        t, spark.createDataFrame([(80, "I", "B", 2, "user", "zombie2", None, base, "s")], EVENT_SCHEMA)
    )
    assert res2.applied.get("stale_skip") == 1
    assert t.read().count() == 0


def test_vacuum_tombstones(spark, tmp_path):
    import datetime as dt

    from openmrs_module_epts_etl_spark.cdc.merge import vacuum_tombstones
    from openmrs_module_epts_etl_spark.cdc.schemas import EVENT_SCHEMA

    base = dt.datetime(2026, 1, 1)
    t = make_table(spark, str(tmp_path / "t"))
    merge_into(t, spark.createDataFrame([(10, "I", "A", 1, "user", "v1", None, base, "s")], EVENT_SCHEMA))
    merge_into(t, spark.createDataFrame([(20, "D", "A", 1, None, None, None, base, "s")], EVENT_SCHEMA))
    assert t.read(include_hidden=True).count() == 1  # tombstone present
    assert vacuum_tombstones(t, min_lsn_keep=15) is None  # still in horizon
    assert vacuum_tombstones(t, min_lsn_keep=100) is not None
    assert t.read(include_hidden=True).count() == 0  # GC'd
    assert vacuum_tombstones(t, min_lsn_keep=100) is None  # idempotent


def test_conflict_lsn_guard(spark, tmp_path):
    """Stale update (lower lsn) delivered after a newer one was applied →
    newer payload retained, event recorded as stale_skip."""
    import datetime as dt

    from openmrs_module_epts_etl_spark.cdc.schemas import EVENT_SCHEMA

    base = dt.datetime(2026, 1, 1)
    t = make_table(spark, str(tmp_path / "t"))
    merge_into(t, spark.createDataFrame([(100, "U", "A", 1, "user", "new", None, base, "s")], EVENT_SCHEMA))
    res = merge_into(
        t, spark.createDataFrame([(50, "U", "A", 1, "user", "old", None, base, "s")], EVENT_SCHEMA)
    )
    assert res.applied.get("stale_skip") == 1
    assert "update" not in res.applied
    assert t.read(include_hidden=False).collect()[0]["text"] == "new"


def test_schema_evolution_mid_stream(spark, tmp_path):
    """Feed switches to evolved schema at schema_evolution_lsn: table gains
    columns, pre-evolution rows read as null, post rows populated."""
    feed = generate_feed(spark, SPEC_EVOLVED).persist()
    try:
        t = make_table(spark, str(tmp_path / "t"), evolved=False)
        assert "meta_tokens" not in [f.name for f in t.schema.fields]
        run_pipeline(spark, feed, t.path, str(tmp_path / "ck"), batch_size=700)
        t.refresh()
        cols = [f.name for f in t.schema.fields]
        assert "tool_version" in cols and "meta_tokens" in cols
        state = t.read()
        pre = state.filter((F.col("_lsn") < 2000) & F.col("meta_tokens").isNotNull()).count()
        post = state.filter((F.col("_lsn") >= 2000) & F.col("meta_tokens").isNull()).count()
        assert pre == 0  # pre-evolution rows have nulls
        assert post == 0  # post-evolution rows populated
        # full oracle equality including evolved cols
        feed_pd = feed.drop("delivery_seq").toPandas()
        assert_state_matches(t, feed_pd, payload_columns(feed.drop("delivery_seq").schema))
    finally:
        feed.unpersist()


def test_final_check_bidirectional_antijoin(spark, tmp_path, feed, feed_pd):
    """Reference's final data verification (Engine.java:135-162): anti-join in
    both directions between table state and oracle must be empty."""
    t = make_table(spark, str(tmp_path / "t"))
    run_pipeline(spark, feed, t.path, str(tmp_path / "ck"))
    pay = payload_columns(feed.drop("delivery_seq").schema)
    got = t.refresh().read(include_hidden=False).select("conv_id", "turn_idx", *pay)
    want = spark.createDataFrame(oracle_df(feed_pd, pay))
    key = ["conv_id", "turn_idx"]
    assert got.join(want, key, "left_anti").count() == 0
    assert want.join(got, key, "left_anti").count() == 0
    # per-turn text equality under stable (conv_id, turn_idx) ordering
    g = got.orderBy(*key).select("text").toPandas()["text"]
    w = want.orderBy(*key).select("text").toPandas()["text"]
    assert list(g) == list(w)


def test_metrics_and_lineage_recorded(spark, tmp_path, feed):
    t = make_table(spark, str(tmp_path / "t"))
    _, results = run_pipeline(spark, feed, t.path, str(tmp_path / "ck"))
    total_applied = sum(r.applied.get("insert", 0) + r.applied.get("update", 0) for r in results)
    assert total_applied > 0
    # lineage: every commit carries per-partition action counts
    commits = [c for c in t.refresh().history() if c.metrics]
    assert commits
    sample = commits[-1].metrics["by_partition"]
    assert all({"partition", "rows", "files"} <= set(e) for e in sample)
    # applied/skipped action counts travel on every data commit
    assert any(set(c.metrics.get("applied", {})) & {"insert", "update"} for c in commits)
    # epoch fences recorded on every commit
    assert all(c.epoch and c.epoch["fence_key"] == "cdc-pipeline" for c in commits)
