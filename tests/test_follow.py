"""TableFollower (cdc/follow.py): downstream table tracks upstream through
changelog re-emission — including deletes (the lsn-stamp subtlety), crash
replay (fence), and MoR downstream mode."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from openmrs_module_epts_etl_spark.cdc import (
    CdcPipeline,
    FeedSpec,
    PipelineConfig,
    generate_feed,
    read_state,
    transcript_schema,
)
from openmrs_module_epts_etl_spark.cdc.follow import TableFollower
from openmrs_module_epts_etl_spark.lake import LakeTable, bucket, days

SPEC = FeedSpec(
    n_events=4000,
    n_convs=40,
    max_turns=20,
    out_of_order_window=300,
    delete_ratio=0.20,
)


def _mk(spark, path, evolved=False):
    return LakeTable.create(
        spark, path, transcript_schema(evolved=evolved), [days("ts"), bucket(8, "conv_id")]
    )


def _state(df) -> pd.DataFrame:
    return (
        df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )


def _setup(spark, tmp, dst_mode="cow"):
    feed = generate_feed(spark, SPEC)
    _mk(spark, f"{tmp}/src")
    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            table_path=f"{tmp}/src", checkpoint_dir=f"{tmp}/ckpt", batch_size=1500
        ),
    )
    _mk(spark, f"{tmp}/dst")
    fol = TableFollower(
        spark, f"{tmp}/src", f"{tmp}/dst", f"{tmp}/fckpt", mode=dst_mode
    )
    return feed, pipe, fol


def test_follower_tracks_upstream_including_deletes(spark, tmp_path):
    tmp = str(tmp_path)
    feed, pipe, fol = _setup(spark, tmp)
    # stage 1: first epoch upstream, then catch up
    pipe.run(feed, max_epochs=1)
    r1 = fol.poll_once()
    assert r1 is not None and r1.commit is not None
    src = LakeTable(spark, f"{tmp}/src")
    dst = LakeTable(spark, f"{tmp}/dst")
    pd.testing.assert_frame_equal(_state(src.read()), _state(dst.read()))
    # stage 2: the rest of the feed (updates + deletes + reinserts), one poll
    pipe.run(feed)
    assert fol.poll_once() is not None
    src, dst = src.refresh(), dst.refresh()
    a, b = _state(src.read()), _state(dst.read())
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)
    # deletes actually propagated: some stage-1 rows must be gone downstream
    assert fol.poll_once() is None  # caught up


def test_follower_crash_replay_is_fenced(spark, tmp_path):
    tmp = str(tmp_path)
    feed, pipe, fol = _setup(spark, tmp)
    pipe.run(feed)
    assert fol.poll_once() is not None
    head = LakeTable(spark, f"{tmp}/dst").version
    state_before = _state(LakeTable(spark, f"{tmp}/dst").read())
    # crash between downstream commit and checkpoint save: rewind the ckpt
    fol._save(0)
    replay = fol.poll_once()
    assert replay is not None and replay.skipped_epoch
    dst = LakeTable(spark, f"{tmp}/dst")
    assert dst.version == head
    pd.testing.assert_frame_equal(_state(dst.read()), state_before)
    assert fol.last_propagated() == LakeTable(spark, f"{tmp}/src").version


def test_follower_mor_downstream(spark, tmp_path):
    tmp = str(tmp_path)
    feed, pipe, fol = _setup(spark, tmp, dst_mode="mor")
    pipe.run(feed, max_epochs=1)
    fol.poll_once()
    pipe.run(feed)
    fol.poll_once()
    src = LakeTable(spark, f"{tmp}/src")
    dst = LakeTable(spark, f"{tmp}/dst")
    pd.testing.assert_frame_equal(_state(src.read()), _state(read_state(dst)))


def test_follow_as_process_operation(spark, tmp_path):
    """op_type='follow' wires the follower into the process layer: chained
    after the upstream stage, status FINISHED, state equality downstream."""
    from openmrs_module_epts_etl_spark.process import OperationConfig, ProcessRunner

    tmp = str(tmp_path)
    feed, pipe, _ = _setup(spark, tmp)
    pipe.run(feed)
    op = OperationConfig(
        name="mirror",
        op_type="follow",
        options={
            "srcPath": f"{tmp}/src",
            "dstPath": f"{tmp}/dst",
            "checkpointDir": f"{tmp}/fckpt-op",
        },
    )
    out = ProcessRunner(spark, "proc", f"{tmp}/status").run([op], run_id=0)
    assert out["mirror"]["state"] == "FINISHED"
    assert out["mirror"]["items"]["follow"]["polls"] >= 1
    src = LakeTable(spark, f"{tmp}/src")
    dst = LakeTable(spark, f"{tmp}/dst")
    pd.testing.assert_frame_equal(_state(src.read()), _state(dst.read()))
    # second run: already caught up — zero polls, state untouched
    out2 = ProcessRunner(spark, "proc2", f"{tmp}/status2").run([op], run_id=1)
    assert out2["mirror"]["items"]["follow"]["polls"] == 0


def test_follower_transform_hook(spark, tmp_path):
    """The chained stage's transform step: a projection on the change feed
    (op/lsn/key preserved) lands transformed downstream."""
    tmp = str(tmp_path)
    feed, pipe, _ = _setup(spark, tmp)

    def upper_role(df):
        return df.withColumn("role", F.upper("role"))

    fol = TableFollower(
        spark, f"{tmp}/src", f"{tmp}/dst", f"{tmp}/fckpt2", transform=upper_role
    )
    pipe.run(feed)
    fol.poll_once()
    dst = LakeTable(spark, f"{tmp}/dst")
    roles = {r[0] for r in dst.read().select("role").distinct().collect()}
    assert roles and all(r == r.upper() for r in roles)
    src_n = LakeTable(spark, f"{tmp}/src").read().count()
    assert dst.read().count() == src_n


def test_follower_refreshes_one_handle_per_table(spark, tmp_path, monkeypatch):
    """Each poll refreshes the follower's two table handles instead of
    opening new ones, so commit JSON loads per poll stay flat while both
    logs grow."""
    tmp = str(tmp_path)
    feed, pipe, fol = _setup(spark, tmp, dst_mode="mor")
    loads = [0]
    real = LakeTable._load_commit

    def counting(self, version):
        loads[0] += 1
        return real(self, version)

    per_poll = []
    for _ in range(3):
        pipe.run(feed, max_epochs=1)
        monkeypatch.setattr(LakeTable, "_load_commit", counting)
        loads[0] = 0
        assert fol.poll_once() is not None
        per_poll.append(loads[0])
        monkeypatch.setattr(LakeTable, "_load_commit", real)
    assert per_poll[1] == per_poll[2] < per_poll[0]
    src, dst = LakeTable(spark, f"{tmp}/src"), LakeTable(spark, f"{tmp}/dst")
    pd.testing.assert_frame_equal(_state(src.read()), _state(read_state(dst)))
