"""Merge-on-read mode: delta appends + read-time latest-wins must produce the
exact same table state as the copy-on-write MERGE, under the same adversarial
feed (out-of-order, delete-then-reinsert, schema evolution, replay)."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from openmrs_module_epts_etl_spark.cdc import (
    CdcPipeline,
    FeedSpec,
    PipelineConfig,
    compact_latest,
    generate_feed,
    read_state,
    transcript_schema,
)
from openmrs_module_epts_etl_spark.lake import LakeTable, bucket, days

from test_cdc_pipeline import oracle_df, payload_columns

SPEC = FeedSpec(
    n_events=4000, n_convs=40, max_turns=20, out_of_order_window=300,
    schema_evolution_lsn=2000,
)


@pytest.fixture(scope="module")
def feed(spark):
    df = generate_feed(spark, SPEC).persist()
    df.count()
    yield df
    df.unpersist()


def _mor_pipe(
    spark, tmp_path, tag, compact_every=None, dedupe_appends=False,
    compact_min_files=None,
):
    t = LakeTable.create(
        spark, str(tmp_path / tag), transcript_schema(evolved=False),
        [days("ts"), bucket(8, "conv_id")],
    )
    cfg = PipelineConfig(
        table_path=t.path, checkpoint_dir=str(tmp_path / f"{tag}-ck"),
        batch_size=700, mode="mor", compact_every=compact_every,
        mor_dedupe_appends=dedupe_appends, compact_min_files=compact_min_files,
    )
    return t, CdcPipeline(spark, cfg)


def _assert_matches(spark, table, feed, pay):
    got = (
        read_state(table.refresh())
        .select("conv_id", "turn_idx", *pay)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    want = oracle_df(feed.drop("delivery_seq").toPandas(), pay).reset_index(drop=True)
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_mor_replay_matches_oracle(spark, tmp_path, feed):
    pay = payload_columns(feed.drop("delivery_seq").schema)
    t, pipe = _mor_pipe(spark, tmp_path, "t1")
    results = pipe.run(feed)
    assert len(results) > 3
    assert any(r.applied.get("delta_delete") for r in results)
    _assert_matches(spark, t, feed, pay)
    # evolved columns made it through the delta appends
    assert "tool_version" in t.refresh().read().columns


def test_mor_with_periodic_compaction_same_state(spark, tmp_path, feed):
    pay = payload_columns(feed.drop("delivery_seq").schema)
    t, pipe = _mor_pipe(spark, tmp_path, "t2", compact_every=3)
    pipe.run(feed)
    _assert_matches(spark, t, feed, pay)


def test_mor_compaction_shrinks_and_preserves(spark, tmp_path, feed):
    pay = payload_columns(feed.drop("delivery_seq").schema)
    t, pipe = _mor_pipe(spark, tmp_path, "t3")
    pipe.run(feed)
    t.refresh()
    rows_before = t.read(include_hidden=True).count()
    compact_latest(t, fence_key="manual-compact", epoch_id=0)
    t.refresh()
    rows_after = t.read(include_hidden=True).count()
    assert rows_after < rows_before  # version history collapsed
    _assert_matches(spark, t, feed, pay)
    # compaction is fenced: same epoch id is a no-op
    v = t.version
    assert compact_latest(t, fence_key="manual-compact", epoch_id=0) is None
    assert t.refresh().version == v


def test_mor_selective_compaction_bounded_and_state_invariant(spark, tmp_path, feed):
    """compact_partitions touches ONLY partitions at/over the file threshold:
    state is unchanged (local winners discard only globally-dominated rows),
    files in cold partitions are byte-identical survivors, and the hot
    partitions collapse. A second run at the same fence is a no-op."""
    from collections import Counter

    from openmrs_module_epts_etl_spark.cdc import compact_partitions

    pay = payload_columns(feed.drop("delivery_seq").schema)
    t, pipe = _mor_pipe(spark, tmp_path, "t3sel")
    pipe.run(feed)
    t.refresh()
    files_before = {f.path for f in t.files}
    per_part = Counter(tuple(sorted(f.partition.items())) for f in t.files)
    thresh = 4
    hot = {p for p, n in per_part.items() if n >= thresh}
    cold_files = {
        f.path for f in t.files if tuple(sorted(f.partition.items())) not in hot
    }
    assert hot and cold_files, "feed must produce both hot and cold partitions"
    c = compact_partitions(t, min_files=thresh, fence_key="sel-compact", epoch_id=0)
    assert c is not None
    t.refresh()
    files_after = {f.path for f in t.files}
    # cold partitions untouched — the bounded-I/O guarantee
    assert cold_files <= files_after
    # hot partitions rewritten: none of their old files survive
    assert not (files_before - cold_files) & files_after
    _assert_matches(spark, t, feed, pay)
    # fenced: replay is a no-op
    v = t.version
    assert compact_partitions(t, min_files=thresh, fence_key="sel-compact", epoch_id=0) is None
    assert t.refresh().version == v
    # below-threshold table: nothing qualifies, no commit
    assert compact_partitions(t, min_files=10_000) is None


def test_mor_pipeline_policy_compaction(spark, tmp_path, feed):
    """PipelineConfig.compact_min_files routes the periodic compaction to
    the partition-selective path; final state still matches the oracle."""
    pay = payload_columns(feed.drop("delivery_seq").schema)
    t = LakeTable.create(
        spark, str(tmp_path / "t3pol"), transcript_schema(evolved=False),
        [days("ts"), bucket(8, "conv_id")],
    )
    cfg = PipelineConfig(
        table_path=t.path, checkpoint_dir=str(tmp_path / "t3pol-ck"),
        batch_size=700, mode="mor", compact_every=3, compact_min_files=3,
    )
    CdcPipeline(spark, cfg).run(feed)
    _assert_matches(spark, t, feed, pay)


def test_mor_dedupe_appends_same_state_fewer_rows(spark, tmp_path, feed):
    """mor_dedupe_appends=True pre-collapses each epoch per key: identical
    final state (read-time winner selection is the same), strictly fewer
    delta rows on disk (the epochs here average >1 event per key)."""
    pay = payload_columns(feed.drop("delivery_seq").schema)
    t_plain, pipe_plain = _mor_pipe(spark, tmp_path, "t-nodd")
    pipe_plain.run(feed)
    t_dd, pipe_dd = _mor_pipe(spark, tmp_path, "t-dd", dedupe_appends=True)
    pipe_dd.run(feed)
    _assert_matches(spark, t_dd, feed, pay)
    rows_plain = t_plain.refresh().read(include_hidden=True).count()
    rows_dd = t_dd.refresh().read(include_hidden=True).count()
    assert rows_dd < rows_plain


def test_mor_replay_idempotent(spark, tmp_path, feed):
    pay = payload_columns(feed.drop("delivery_seq").schema)
    t, pipe = _mor_pipe(spark, tmp_path, "t4")
    pipe.run(feed)
    v = t.refresh().version
    # lost checkpoint, same feed: every epoch fenced; state unchanged
    cfg = PipelineConfig(
        table_path=t.path, checkpoint_dir=str(tmp_path / "t4-ck-new"),
        batch_size=700, mode="mor",
    )
    out = CdcPipeline(spark, cfg).run(feed)
    assert all(r.skipped_epoch for r in out)
    assert t.refresh().version == v
    _assert_matches(spark, t, feed, pay)


def test_mor_stale_insert_after_delete_fenced(spark, tmp_path):
    """Out-of-order stale insert delivered in a later epoch than the delete
    must not resurrect the key — read-time max_by(lsn) sees the tombstone."""
    import datetime as dt

    from openmrs_module_epts_etl_spark.cdc import append_delta
    from openmrs_module_epts_etl_spark.cdc.schemas import event_schema

    ts = dt.datetime(2026, 1, 1)
    rows1 = [(5, "D", "c1", 0, None, None, None, ts, "o")]
    rows2 = [(3, "I", "c1", 0, "user", "stale", None, ts, "o")]
    t = LakeTable.create(
        spark, str(tmp_path / "t5"), transcript_schema(), [days("ts"), bucket(4, "conv_id")]
    )
    append_delta(t, spark.createDataFrame(rows1, event_schema()), fence_key="f", epoch_id=0)
    append_delta(t.refresh(), spark.createDataFrame(rows2, event_schema()), fence_key="f", epoch_id=1)
    assert read_state(t.refresh()).count() == 0


def test_pipeline_chaining_via_incremental_read(spark, tmp_path):
    """Table A is MoR-ingested from the feed; a DOWNSTREAM pipeline tails A's
    incremental changes (table_changes_as_feed) and merges them into table B.
    B's final user state must equal A's — the lake-side analog of chaining
    sync stages through detected_record_info."""
    from openmrs_module_epts_etl_spark.cdc import (
        append_delta,
        merge_into,
        read_state,
        table_changes_as_feed,
    )

    feed = generate_feed(spark, SPEC, num_partitions=8).persist()
    a = LakeTable.create(
        spark, str(tmp_path / "a"), transcript_schema(evolved=True),
        [days("ts"), bucket(8, "conv_id")],
    )
    v_marks = [a.version]
    # ingest the feed into A as 3 MoR delta epochs
    bounds = feed.agg(F.min("delivery_seq"), F.max("delivery_seq")).collect()[0]
    span = (int(bounds[1]) - int(bounds[0])) // 3 + 1
    for e in range(3):
        b = feed.filter(
            (F.col("delivery_seq") >= int(bounds[0]) + e * span)
            & (F.col("delivery_seq") < int(bounds[0]) + (e + 1) * span)
        ).drop("delivery_seq")
        append_delta(a, b, fence_key="chain-a", epoch_id=e)
        a.refresh()
        v_marks.append(a.version)

    b_table = LakeTable.create(
        spark, str(tmp_path / "b"), transcript_schema(evolved=True),
        [days("ts"), bucket(8, "conv_id")],
    )
    # downstream: consume A's increments epoch by epoch into B
    for e in range(3):
        changes = table_changes_as_feed(a, v_marks[e], v_marks[e + 1])
        merge_into(b_table, changes, fence_key="chain-b", epoch_id=e)
        b_table.refresh()

    key = ["conv_id", "turn_idx"]
    a_state = read_state(a).orderBy(*key).toPandas()
    b_state = b_table.read().select(*a_state.columns).orderBy(*key).toPandas()
    pd.testing.assert_frame_equal(a_state, b_state, check_dtype=False)


# ------------------------------------------------------- fused compaction epochs
FENCE, CFENCE = "cdc-pipeline", "cdc-pipeline-compact"


def _epoch_batch(feed, epoch, size=700):
    lo = epoch * size
    return feed.filter(
        (F.col("delivery_seq") >= lo) & (F.col("delivery_seq") < lo + size)
    ).drop("delivery_seq")


def _no_duplicate_versions(table):
    dup = (
        table.read(include_hidden=True)
        .groupBy("conv_id", "turn_idx", "_lsn").count()
        .filter(F.col("count") > 1)
    )
    assert dup.count() == 0, "an epoch's events were applied twice"


@pytest.mark.parametrize("min_files", [None, 3], ids=["whole-table", "min-files"])
def test_fused_compaction_epochs_one_commit_each(spark, tmp_path, feed, min_files):
    """Every K-th epoch lands as ONE compaction commit carrying the epoch
    fence and the compaction fence — no delta is appended first — on both
    compaction routes; state equals the oracle."""
    pay = payload_columns(feed.drop("delivery_seq").schema)
    t, pipe = _mor_pipe(
        spark, tmp_path, f"fused-{min_files}", compact_every=3,
        compact_min_files=min_files,
    )
    results = pipe.run(feed)
    _assert_matches(spark, t, feed, pay)
    hist = t.refresh().history()
    assert len(hist) == 1 + len(results)  # one commit per epoch
    mode = "mor-compact" if min_files is None else "mor-compact-partitions"
    fused = [e for e in range(len(results)) if (e + 1) % 3 == 0]
    assert fused
    for c in hist[1:]:
        e = c.epoch["epoch_id"]
        if e in fused:
            assert c.metrics["mode"] == mode
            assert c.fences == [(FENCE, e), (CFENCE, e)]
            assert results[e].applied and not results[e].skipped_epoch
            assert results[e].applied == {
                k: v for k, v in c.metrics["applied"].items()
                if k in ("delta_upsert", "delta_delete")
            }
        else:
            assert c.metrics["mode"] == "mor-delta" and c.fences == [(FENCE, e)]


def _partitions_of_removed(table):
    hist = table.refresh().history()
    before, after = {f.path: f for f in hist[-2].files}, {f.path for f in hist[-1].files}
    return {tuple(sorted(f.partition.items())) for p, f in before.items() if p not in after}


def test_fused_partition_threshold_counts_the_epochs_file(spark, tmp_path, feed):
    """On the min_files route a folded-in epoch counts as the file its
    append would have added to each partition it touches: the fused
    compaction selects exactly the partitions append-then-compact does."""
    from collections import Counter

    from openmrs_module_epts_etl_spark.cdc import append_delta, compact_partitions
    from openmrs_module_epts_etl_spark.cdc.mor import compact_with_epoch

    tables = []
    for tag in ("two-step", "fused"):
        t = LakeTable.create(
            spark, str(tmp_path / tag), transcript_schema(evolved=False),
            [days("ts"), bucket(8, "conv_id")],
        )
        for e in (0, 1):
            append_delta(t, _epoch_batch(feed, e), fence_key=FENCE, epoch_id=e)
        tables.append(t)
    two_step, fused = tables
    per_part = Counter(tuple(sorted(f.partition.items())) for f in fused.files)
    assert 2 in per_part.values(), "some partition must sit one file short of min_files=3"

    append_delta(two_step, _epoch_batch(feed, 2), fence_key=FENCE, epoch_id=2)
    assert compact_partitions(two_step, min_files=3, fence_key=CFENCE, epoch_id=2)
    res = compact_with_epoch(
        fused, _epoch_batch(feed, 2), fence_key=FENCE, epoch_id=2,
        compact_fence_key=CFENCE, compact_epoch_id=2, min_files=3,
    )
    assert res.commit.fences == [(FENCE, 2), (CFENCE, 2)]
    chosen = _partitions_of_removed(fused)
    assert {p for p in chosen if per_part[p] == 2}, "the epoch's file must count"
    assert chosen == _partitions_of_removed(two_step)


def test_fused_partition_route_appends_when_nothing_qualifies(spark, tmp_path, feed):
    """No partition reaches min_files: a compaction epoch is the plain
    append it was on the append-then-compact path — no dedupe shuffle, no
    compaction commit, no compaction fence — and state equals the oracle."""
    pay = payload_columns(feed.drop("delivery_seq").schema)
    t, pipe = _mor_pipe(
        spark, tmp_path, "fused-noq", compact_every=3, compact_min_files=10_000,
    )
    results = pipe.run(feed)
    _assert_matches(spark, t, feed, pay)
    hist = t.refresh().history()
    assert len(hist) == 1 + len(results)
    for e, c in enumerate(hist[1:]):
        assert c.metrics["mode"] == "mor-delta" and c.fences == [(FENCE, e)]
        assert results[e].applied and not results[e].skipped_epoch


def test_fold_in_events_need_their_fence(spark, tmp_path, feed):
    t, _ = _mor_pipe(spark, tmp_path, "fused-nofence")
    with pytest.raises(ValueError, match="events_fence"):
        compact_latest(t, events=_epoch_batch(feed, 0))


def test_fused_epoch_counts_match_append_delta_with_widening(spark, tmp_path, feed):
    """The fused projection is append_delta's: same delta_upsert/delta_delete
    for the same events, also when the epoch widens the table schema, and
    the same resulting state."""
    from openmrs_module_epts_etl_spark.cdc import append_delta
    from openmrs_module_epts_etl_spark.cdc.mor import compact_with_epoch

    first = _epoch_batch(feed, 0).drop("tool_version", "meta_tokens")  # pre-evolution
    widening = _epoch_batch(feed, 3)  # delivery 2100..2800: evolved columns
    assert "tool_version" in widening.columns

    tables = []
    for tag in ("append", "fused"):
        t = LakeTable.create(
            spark, str(tmp_path / tag), transcript_schema(evolved=False),
            [days("ts"), bucket(8, "conv_id")],
        )
        append_delta(t, first, fence_key=FENCE, epoch_id=0)
        assert "tool_version" not in t.schema.fieldNames()
        tables.append(t)
    ref = append_delta(tables[0], widening, fence_key=FENCE, epoch_id=1)
    res = compact_with_epoch(
        tables[1], widening, fence_key=FENCE, epoch_id=1,
        compact_fence_key=CFENCE, compact_epoch_id=1,
    )
    assert ref.applied["delta_upsert"] > 0 and ref.applied["delta_delete"] > 0
    assert res.applied == ref.applied
    assert "tool_version" in tables[1].refresh().schema.fieldNames()
    key = ["conv_id", "turn_idx"]
    a = read_state(tables[0].refresh()).orderBy(*key).toPandas()
    b = read_state(tables[1]).orderBy(*key).toPandas()
    assert a["tool_version"].notna().any()
    pd.testing.assert_frame_equal(a, b[a.columns], check_dtype=False)


def test_fused_epoch_killed_before_commit_resumes(spark, tmp_path, feed, monkeypatch):
    """A kill between write_data_files and commit at a compaction epoch: the
    resumed run re-applies the epoch, matches the oracle, and the files the
    dead attempt wrote are in no manifest."""
    pay = payload_columns(feed.drop("delivery_seq").schema)
    t, pipe = _mor_pipe(spark, tmp_path, "fused-kill", compact_every=3)

    class Boom(Exception):
        pass

    written: list[str] = []
    real_write, real_commit = LakeTable.write_data_files, LakeTable.commit

    def spy_write(self, df, arrange=True):
        files, rel = real_write(self, df, arrange=arrange)
        written[:] = [f.path for f in files]
        return files, rel

    def dying_commit(self, add, *a, **kw):
        if (kw.get("metrics") or {}).get("mode") == "mor-compact":
            raise Boom()
        return real_commit(self, add, *a, **kw)

    monkeypatch.setattr(LakeTable, "write_data_files", spy_write)
    monkeypatch.setattr(LakeTable, "commit", dying_commit)
    with pytest.raises(Boom):
        pipe.run(feed)
    monkeypatch.setattr(LakeTable, "commit", real_commit)
    orphans = set(written)
    assert orphans and pipe.load_checkpoint()["last_epoch"] == 1

    CdcPipeline(spark, pipe.config).run(feed)
    _assert_matches(spark, t, feed, pay)
    for c in t.refresh().history():
        assert not orphans & {f.path for f in c.files}


def test_fused_epoch_rerun_before_checkpoint_is_skipped(spark, tmp_path, feed):
    """Fused commit published, checkpoint not yet saved: the rerun finds the
    epoch fence and adds no version."""
    t, pipe = _mor_pipe(spark, tmp_path, "fused-rerun", compact_every=3)
    pipe.run(feed, max_epochs=3)  # epochs 0, 1 and the fused epoch 2
    v = t.refresh().version
    assert t._commit.fences == [(FENCE, 2), (CFENCE, 2)]
    pipe.save_checkpoint({"last_epoch": 1})  # the checkpoint write was lost
    out = CdcPipeline(spark, pipe.config).run(feed, max_epochs=1)
    assert len(out) == 1 and out[0].skipped_epoch
    assert t.refresh().version == v


def test_resume_after_append_then_compact_died_between(spark, tmp_path, feed):
    """A table the two-commit path left with the epoch's delta committed but
    not its compaction: resume compacts once and does not re-apply the
    events."""
    from openmrs_module_epts_etl_spark.cdc import append_delta

    pay = payload_columns(feed.drop("delivery_seq").schema)
    t, pipe = _mor_pipe(spark, tmp_path, "fused-legacy", compact_every=3)
    pipe.run(feed, max_epochs=2)
    append_delta(t.refresh(), _epoch_batch(feed, 2), fence_key=FENCE, epoch_id=2)
    v = t.version

    out = CdcPipeline(spark, pipe.config).run(feed, max_epochs=1)
    assert len(out) == 1 and out[0].skipped_epoch
    t.refresh()
    assert t.version == v + 1
    assert t._commit.fences == [(CFENCE, 2)]
    assert t._commit.metrics["mode"] == "mor-compact"
    _no_duplicate_versions(t)
    CdcPipeline(spark, pipe.config).run(feed)
    _assert_matches(spark, t, feed, pay)


def test_rollback_across_fused_commit_reapplies_epoch(spark, tmp_path, feed):
    from openmrs_module_epts_etl_spark.lake import rollback_to_version

    pay = payload_columns(feed.drop("delivery_seq").schema)
    t, pipe = _mor_pipe(spark, tmp_path, "fused-rb", compact_every=3)
    pipe.run(feed, max_epochs=3)
    v_fused = t.refresh().version
    rb = rollback_to_version(t, v_fused - 1)
    assert sorted(map(tuple, rb.metrics["invalidated_fences"])) == [(FENCE, 2), (CFENCE, 2)]
    fresh = LakeTable(spark, t.path)
    assert not fresh.epoch_already_applied(FENCE, 2)
    assert not fresh.epoch_already_applied(CFENCE, 2)

    cfg = PipelineConfig(**{**pipe.config.__dict__, "checkpoint_dir": str(tmp_path / "rb-ck2")})
    out = CdcPipeline(spark, cfg).run(feed)
    assert [r.skipped_epoch for r in out[:3]] == [True, True, False]
    _no_duplicate_versions(t.refresh())
    _assert_matches(spark, t, feed, pay)


def test_expire_snapshots_keeps_both_fused_fences(spark, tmp_path, feed):
    from openmrs_module_epts_etl_spark.lake import expire_snapshots
    from openmrs_module_epts_etl_spark.lake.maintenance import load_expired_fences

    t, pipe = _mor_pipe(spark, tmp_path, "fused-exp", compact_every=3)
    pipe.run(feed)
    v = t.refresh().version
    expire_snapshots(t, keep_last=1)
    kept = load_expired_fences(t)
    assert {(FENCE, 2), (CFENCE, 2)} <= kept
    cfg = PipelineConfig(**{**pipe.config.__dict__, "checkpoint_dir": str(tmp_path / "exp-ck2")})
    out = CdcPipeline(spark, cfg).run(feed)
    assert out and all(r.skipped_epoch for r in out)
    assert t.refresh().version == v
