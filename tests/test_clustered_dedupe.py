"""Clustered one-exchange dedupe + murmur-bucket layout alignment.

The claim under test (cdc/dedupe.py:dedupe_latest_clustered,
lake/partitioning.py:mbucket): a single ``repartition(N, conv_id)`` serves
the partition-local rank() winner selection AND the partitioned write —
task id ``pmod(hash(c), N)`` determines bucket ``pmod(hash(c), n)`` when
``N % n == 0`` — so the MoR compaction/dedupe-append plan carries exactly
ONE exchange and no join, and ``arrange=False`` writes stay
one-bucket-per-task."""

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
from openmrs_module_epts_etl_spark.cdc.dedupe import (
    dedupe_latest,
    dedupe_latest_clustered,
)
from openmrs_module_epts_etl_spark.lake import LakeTable, days, mbucket

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


def test_mbucket_task_purity(spark):
    """repartition(N, col) task assignment determines the mbucket(n) value
    when N is a multiple of n — the alignment arrange=False relies on."""
    df = spark.range(0, 20_000).select(
        F.concat(F.lit("conv-"), (F.col("id") % 997)).alias("conv_id")
    )
    n, big_n = 16, 32
    got = (
        df.repartition(big_n, F.col("conv_id"))
        .withColumn("part", F.spark_partition_id())
        .withColumn("bucket", F.pmod(F.hash(F.col("conv_id")), F.lit(n)).cast("int"))
        .groupBy("part")
        .agg(F.countDistinct("bucket").alias("nb"), F.first("bucket").alias("b"),
             F.first("part").alias("p"))
        .collect()
    )
    assert got and all(r["nb"] == 1 for r in got)
    # and the bucket is exactly task_id % n, i.e. derivable from placement
    assert all(r["b"] == r["p"] % n for r in got)


def test_clustered_dedupe_matches_plain(spark, feed):
    plain = dedupe_latest(feed, order_col="lsn")
    clustered = dedupe_latest_clustered(
        feed, order_col="lsn", cluster_col="conv_id", num_partitions=32
    )
    a = plain.orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    b = clustered.orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    # a (key, lsn) tie at the max keeps every tied row, as dedupe_latest's
    # (key, lsn) join-back does; a tie below the max keeps none
    rows = [
        ("a", 1, 10, "old"),
        ("a", 1, 12, "t1"),     # tied winners for (a, 1)
        ("a", 1, 12, "t2"),
        ("a", 2, 5, "low1"),    # tie below the max
        ("a", 2, 5, "low2"),
        ("a", 2, 6, "win"),
        ("b", 1, 3, "only"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, lsn long, text string")
    key = ["conv_id", "turn_idx"]
    plain = dedupe_latest(df, key=key, order_col="lsn")
    clustered = dedupe_latest_clustered(
        df, key=key, order_col="lsn", cluster_col="conv_id", num_partitions=4
    )
    got = sorted(tuple(r) for r in clustered.collect())
    assert got == sorted(tuple(r) for r in plain.collect())
    assert got == [
        ("a", 1, 12, "t1"), ("a", 1, 12, "t2"), ("a", 2, 6, "win"), ("b", 1, 3, "only"),
    ]


def test_clustered_dedupe_null_key_contract(spark):
    """Documented contract: NULL key/order rows are dropped — but only under
    the EXPLICIT on_null='drop' opt-out (the default raises; see
    test_clustered_dedupe_null_key_raises_loudly). The generic dedupe_latest
    keeps them."""
    rows = [
        ("a", 1, 10, "x"),
        ("a", 1, 11, "y"),      # winner for (a, 1)
        (None, 1, 7, "n2"),     # NULL key: dropped by the clustered variant
        ("b", None, 9, "m2"),   # NULL key: dropped by the clustered variant
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "lsn", "text"])
    out = dedupe_latest_clustered(
        df, key=["conv_id", "turn_idx"], order_col="lsn",
        cluster_col="conv_id", num_partitions=8, on_null="drop",
    )
    got = {tuple(r) for r in out.select("conv_id", "turn_idx", "text").collect()}
    assert got == {("a", 1, "y")}
    kept = dedupe_latest(df, key=["conv_id", "turn_idx"], order_col="lsn")
    assert kept.count() == 3


def _exchanges_and_joins(df) -> tuple[int, bool, str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange "), "Join" in plan, plan


def test_clustered_dedupe_one_exchange_no_join(spark, feed):
    """The whole point: exactly ONE Exchange — the payload cluster
    repartition — and no join; the partition-local rank() and the output
    carry the cluster partitioning with no further exchange."""
    clustered = dedupe_latest_clustered(
        feed, order_col="lsn", cluster_col="conv_id", num_partitions=32
    )
    n_exchanges, has_join, plan = _exchanges_and_joins(clustered)
    assert n_exchanges == 1, plan
    assert not has_join, plan
    assert "WindowGroupLimit" in plan, plan


def test_mor_pipeline_mbucket_clustered_state(spark, tmp_path, feed):
    """End-to-end: mbucket spec + deduped appends + final compaction reach
    the oracle state, byte-identical to the generic path."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), transcript_schema(evolved=False),
        [days("ts"), mbucket(8, "conv_id")],
    )
    cfg = PipelineConfig(
        table_path=t.path, checkpoint_dir=str(tmp_path / "ck"),
        batch_size=700, mode="mor", compact_every=4, mor_dedupe_appends=True,
    )
    CdcPipeline(spark, cfg).run(feed)
    compact_latest(t.refresh(), fence_key="final", epoch_id=0)
    pay = payload_columns(feed.drop("delivery_seq").schema)
    got = (
        read_state(t.refresh())
        .select("conv_id", "turn_idx", *pay)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    want = oracle_df(feed.drop("delivery_seq").toPandas(), pay).reset_index(drop=True)
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(got, want)
    # the compacted layout is one row per key and bucket-pure on disk
    t = t.refresh()
    for f in t.files:
        assert "conv_id_bucket" in f.partition


def test_compaction_write_is_exchange_free(spark, tmp_path, feed):
    """With an mbucket spec the compaction's winner frame reaches the writer
    pre-clustered: overwrite_partitions(arrange=False) must not REBALANCE.
    Proxy check: the dedupe output plan has one exchange, and compaction on
    an mbucket table produces no more files than write tasks × days."""
    t = LakeTable.create(
        spark, str(tmp_path / "t2"), transcript_schema(evolved=False),
        [days("ts"), mbucket(8, "conv_id")],
    )
    cfg = PipelineConfig(
        table_path=t.path, checkpoint_dir=str(tmp_path / "ck2"),
        batch_size=1000, mode="mor",
    )
    CdcPipeline(spark, cfg).run(feed)
    t = t.refresh()
    pre_files = len(t.files)
    compact_latest(t, fence_key="c", epoch_id=0)
    t = t.refresh()
    assert 0 < len(t.files) <= pre_files
    buckets = {f.partition.get("conv_id_bucket") for f in t.files}
    assert buckets <= {str(i) for i in range(8)}


def test_clustered_dedupe_null_key_raises_loudly(spark):
    """The non-null feed contract is enforced, not assumed: a NULL in any
    key/order column must RAISE at execution (on_null='error', the default)
    instead of silently dropping the row."""
    rows = [("a", 1, 10, "x"), (None, 2, 11, "y")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, lsn long, text string")
    out = dedupe_latest_clustered(
        df, key=["conv_id", "turn_idx"], order_col="lsn", num_partitions=4
    )
    with pytest.raises(Exception, match="non-null feed contract"):
        out.collect()


def test_clustered_dedupe_on_null_drop_is_explicit(spark):
    """Explicit opt-out keeps the old silent-drop behavior for callers that
    pre-filter; an invalid mode is rejected eagerly."""
    rows = [("a", 1, 10, "x"), (None, 2, 11, "y"), ("a", 1, 12, "z")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, lsn long, text string")
    got = dedupe_latest_clustered(
        df, key=["conv_id", "turn_idx"], order_col="lsn",
        num_partitions=4, on_null="drop",
    ).collect()
    assert [(r.conv_id, r.lsn) for r in got] == [("a", 12)]
    with pytest.raises(ValueError, match="on_null"):
        dedupe_latest_clustered(df, key=["conv_id"], on_null="quarantine")


def test_clustered_dedupe_guard_keeps_one_exchange(spark):
    """The guard must ride the existing scan: the on_null='error' expression
    may not add an exchange to the engineered one-exchange plan."""
    df = spark.range(0, 1000).select(
        F.concat(F.lit("c"), (F.col("id") % 50).cast("string")).alias("conv_id"),
        (F.col("id") % 7).cast("int").alias("turn_idx"),
        F.col("id").alias("lsn"),
        F.lit("payload").alias("text"),
    )
    guarded = dedupe_latest_clustered(
        df, key=["conv_id", "turn_idx"], order_col="lsn",
        cluster_col="conv_id", num_partitions=8,
    )
    # one exchange total: the payload clustering — identical to the
    # unguarded plan shape
    n_exchanges, has_join, plan = _exchanges_and_joins(guarded)
    assert n_exchanges == 1, plan
    assert "Exchange hashpartitioning" in plan, plan
    assert not has_join, plan
