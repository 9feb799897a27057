"""Row-level changelog (cdc/changelog.py) vs an independent DuckDB oracle:
snapshot_diff must emit exactly the insert/delete/update_pre+post rows that
separate two versions' visible states, for both CoW and MoR tables; a
compaction-only interval must diff to zero rows; changes_as_feed replayed
into a second table must reproduce the source table's state (pipeline
chaining)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from openmrs_module_epts_etl_spark.cdc import (
    CdcPipeline,
    FeedSpec,
    PipelineConfig,
    generate_feed,
    merge_into,
    read_state,
    snapshot_diff,
    transcript_schema,
)
from openmrs_module_epts_etl_spark.cdc.changelog import CHANGE_TYPE_COL, changes_as_feed
from openmrs_module_epts_etl_spark.lake import LakeTable, bucket, days

SPEC = FeedSpec(
    n_events=4000,
    n_convs=40,
    max_turns=20,
    out_of_order_window=300,
    delete_ratio=0.15,
)
BATCH = 2000  # two epochs


def _run(spark, tmp, mode):
    feed = generate_feed(spark, SPEC)
    LakeTable.create(
        spark, f"{tmp}/t", transcript_schema(), [days("ts"), bucket(8, "conv_id")]
    )
    cfg = PipelineConfig(
        table_path=f"{tmp}/t",
        checkpoint_dir=f"{tmp}/ckpt",
        batch_size=BATCH,
        mode=mode,
        compact_every=None,
    )
    results = CdcPipeline(spark, cfg).run(feed)
    # out-of-order delivery smears delivery_seq past n_events, so the epoch
    # count is ≥ 2; the diff window is epoch 0's commit → the final commit
    assert len(results) >= 2 and all(r.commit is not None for r in results)
    table = LakeTable(spark, f"{tmp}/t")
    return feed.toPandas(), table, [results[0].commit.version, results[-1].commit.version]


def oracle_diff(feed_pd: pd.DataFrame, seq_cut: int) -> pd.DataFrame:
    """Expected change rows between state(delivery_seq < seq_cut) and the
    final state, computed independently in DuckDB."""
    con = duckdb.connect()
    con.register("ev", feed_pd)
    q = f"""
    WITH w1 AS (
      SELECT * FROM (SELECT *, row_number() OVER (
          PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) rn
        FROM ev WHERE delivery_seq < {seq_cut}) WHERE rn = 1),
    w2 AS (
      SELECT * FROM (SELECT *, row_number() OVER (
          PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) rn
        FROM ev) WHERE rn = 1),
    a AS (SELECT * FROM w1 WHERE op <> 'D'),
    j AS (SELECT coalesce(a.conv_id, b.conv_id) conv_id,
                 coalesce(a.turn_idx, b.turn_idx) turn_idx,
                 a.lsn a_lsn, a.text a_text, b.lsn b_lsn, b.text b_text,
                 a.conv_id IS NOT NULL alive_a,
                 b.conv_id IS NOT NULL AND b.op <> 'D' alive_b
          FROM a FULL OUTER JOIN w2 b
            ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx)
    SELECT conv_id, turn_idx, b_lsn AS lsn, b_text AS text,
           'insert' AS change_type FROM j WHERE NOT alive_a AND alive_b
    UNION ALL
    -- a delete carries the pre-image payload stamped with the DELETING
    -- event's lsn (the version-b tombstone winner), like the engine
    SELECT conv_id, turn_idx, coalesce(b_lsn, a_lsn), a_text, 'delete'
      FROM j WHERE alive_a AND NOT alive_b
    UNION ALL
    SELECT conv_id, turn_idx, a_lsn, a_text, 'update_preimage'
      FROM j WHERE alive_a AND alive_b AND a_lsn <> b_lsn
    UNION ALL
    SELECT conv_id, turn_idx, b_lsn, b_text, 'update_postimage'
      FROM j WHERE alive_a AND alive_b AND a_lsn <> b_lsn
    ORDER BY conv_id, turn_idx, change_type
    """
    return con.execute(q).df()


def got_diff(table, v_from, v_to) -> pd.DataFrame:
    return (
        snapshot_diff(table, v_from, v_to)
        .select(
            "conv_id",
            "turn_idx",
            F.col("_lsn").alias("lsn"),
            "text",
            F.col(CHANGE_TYPE_COL).alias("change_type"),
        )
        .orderBy("conv_id", "turn_idx", "change_type")
        .toPandas()
    )


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_snapshot_diff_matches_oracle(spark, tmp_path, mode):
    feed_pd, table, versions = _run(spark, str(tmp_path / mode), mode)
    got = got_diff(table, versions[0], versions[1]).reset_index(drop=True)
    want = oracle_diff(feed_pd, BATCH).reset_index(drop=True)
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # every change type is exercised by this feed
    assert set(got["change_type"]) == {
        "insert",
        "delete",
        "update_preimage",
        "update_postimage",
    }


def test_diff_from_empty_version_is_full_insert_state(spark, tmp_path):
    """diff(v0 → head) on a CoW table = the whole visible state as inserts."""
    feed_pd, table, versions = _run(spark, str(tmp_path / "full"), "cow")
    d = snapshot_diff(table, 0, versions[1])
    types = {r[0] for r in d.select(CHANGE_TYPE_COL).distinct().collect()}
    assert types == {"insert"}
    assert d.count() == table.read().count()


def test_compaction_only_interval_diffs_to_zero(spark, tmp_path):
    """Relayout commits (MoR compaction) change files, not state — the diff
    across them must be empty even though every file differs."""
    from openmrs_module_epts_etl_spark.cdc import compact_latest

    _, table, versions = _run(spark, str(tmp_path / "compact"), "mor")
    c = compact_latest(table, fence_key="t-compact", epoch_id=0)
    assert c is not None
    table = table.refresh()
    assert snapshot_diff(table, versions[1], table.version).count() == 0
    # and the pre→post-compaction diff equals the pre-compaction diff
    got = got_diff(table, versions[0], table.version)
    want = got_diff(table, versions[0], versions[1])
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
    )


def test_same_version_diff_empty_and_bad_range_raises(spark, tmp_path):
    _, table, versions = _run(spark, str(tmp_path / "same"), "cow")
    assert snapshot_diff(table, versions[1], versions[1]).count() == 0
    with pytest.raises(ValueError):
        snapshot_diff(table, versions[1], versions[0])


def test_changes_as_feed_replays_downstream(spark, tmp_path):
    """Pipeline chaining: replaying the changelog into a fresh table
    reproduces the source's visible state — the lake-side analog of the
    reference's detected_record_info → next-stage loop (SURVEY.md §3.2)."""
    _, table, versions = _run(spark, str(tmp_path / "chain"), "cow")
    downstream = LakeTable.create(
        spark,
        str(tmp_path / "chain" / "dst"),
        transcript_schema(),
        [days("ts"), bucket(8, "conv_id")],
    )
    feed = changes_as_feed(table, 0, versions[1])
    merge_into(downstream, feed)
    src = table.read().orderBy("conv_id", "turn_idx").toPandas()
    dst = downstream.read().orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(
        src.reset_index(drop=True), dst.reset_index(drop=True), check_dtype=False
    )


def test_mor_diff_prunes_unchanged_buckets(spark, tmp_path):
    """A one-key epoch must not drag the whole table through the diff: the
    candidate file lists for both sides stay bounded by the touched bucket,
    and the diff is exactly the one update."""
    feed_pd, table, versions = _run(spark, str(tmp_path / "prune"), "mor")
    # apply a third epoch touching exactly one key
    one = (
        table.spark.createDataFrame(
            [("c0", 1, "user", "patched text", None)],
            "conv_id string, turn_idx int, role string, text string, tool string",
        )
        .withColumn("ts", F.lit("2026-01-02 00:00:00").cast("timestamp"))
        .select(
            F.lit("U").alias("op"),
            F.lit(10_000_000).cast("long").alias("lsn"),
            F.lit("test").alias("origin"),
            "conv_id",
            "turn_idx",
            "role",
            "text",
            "tool",
            "ts",
        )
    )
    from openmrs_module_epts_etl_spark.cdc import append_delta

    append_delta(table, one)
    table = table.refresh()
    d = snapshot_diff(table, versions[1], table.version).collect()
    types = sorted(r[CHANGE_TYPE_COL] for r in d)
    assert types in (
        ["update_postimage", "update_preimage"],
        ["insert"],  # (c0, 1) may not exist in the base feed's state
    )
    assert all(r["conv_id"] == "c0" and r["turn_idx"] == 1 for r in d)


def test_full_diff_releases_touched_cache(spark, tmp_path):
    """A full diff (the versions share no data file) persists nothing, and
    must not leave a frame an earlier partial diff persisted cached either."""
    from openmrs_module_epts_etl_spark.functions import _cache

    _, table, versions = _run(spark, str(tmp_path / "cache"), "mor")
    jsc = spark.sparkContext._jsc
    snapshot_diff(table, versions[0], versions[1]).count()  # partial: persists
    assert "snapshot_diff.touched" in _cache._live
    n_partial = len(jsc.getPersistentRDDs())
    snapshot_diff(table, 0, versions[1]).count()  # v0 has no files: full diff
    assert "snapshot_diff.touched" not in _cache._live
    assert len(jsc.getPersistentRDDs()) == n_partial - 1
