"""Deterministic synthetic change-feed generator (transcript mutations).

Replaces the reference's CHANGED/NEW_RECORDS_DETECTOR output
(api:changedrecordsdetector/engine/ChangedRecordsDetectorProcessor.java:26-71):
in our engine the binlog/WAL-style feed *is* the input, so tests and benches
synthesize it deterministically (FIXTURES.md §2 knobs: skew, out-of-order,
deletes/reinserts, late events, mid-stream schema evolution).

Scale design: one event per ``spark.range`` id, every attribute derived with
seeded ``xxhash64`` arithmetic — embarrassingly parallel, zero shuffle, no
Python in the loop, identical output at any parallelism (the benchmark's
scaling pair replays byte-identical input at 1 core and at all cores).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import event_schema


@dataclass(frozen=True)
class FeedSpec:
    n_events: int
    n_convs: int = 100
    max_turns: int = 50
    seed: int = 42
    # op mix: P(I)=1-update_ratio-delete_ratio
    update_ratio: float = 0.30
    delete_ratio: float = 0.10
    # skew: hot_key_fraction of events hit n_hot_convs conversations
    hot_key_fraction: float = 0.30
    n_hot_convs: int = 3
    # delivery order: event surfaces up to out_of_order_window lsns late
    out_of_order_window: int = 1000
    # event-time lateness: late_fraction of events carry ts far in the past
    late_fraction: float = 0.02
    late_by_seconds: int = 86400
    # additive schema evolution switches on at this lsn (None = never)
    schema_evolution_lsn: int | None = None
    text_pad_chars: int = 64
    base_ts: str = "2026-01-01 00:00:00"
    seconds_per_event: float = 0.01


def _u01(col: Column, salt: int, seed: int) -> Column:
    """Deterministic uniform [0,1) from a column + salt."""
    return (F.pmod(F.xxhash64(col, F.lit(salt), F.lit(seed)), F.lit(1_000_000_007)) / 1_000_000_007.0)


def _uint(col: Column, salt: int, seed: int, n: int) -> Column:
    return F.pmod(F.xxhash64(col, F.lit(salt), F.lit(seed)), F.lit(n))


def generate_feed(spark: SparkSession, spec: FeedSpec, num_partitions: int | None = None) -> DataFrame:
    """Returns the feed as a DataFrame with ``delivery_seq`` (the order events
    arrive) alongside ``lsn`` (the order they were produced). Columns follow
    ``event_schema(evolved=spec.schema_evolution_lsn is not None)``.
    """
    evolved = spec.schema_evolution_lsn is not None
    rng = spark.range(0, spec.n_events, 1, num_partitions or spark.sparkContext.defaultParallelism)
    lsn = (F.col("id") + 1).alias("lsn")
    df = rng.select(lsn)

    # --- key: hot-key skew on conv_id -------------------------------------
    is_hot = _u01(F.col("lsn"), 1, spec.seed) < spec.hot_key_fraction
    hot_conv = _uint(F.col("lsn"), 2, spec.seed, spec.n_hot_convs)
    cold_conv = _uint(F.col("lsn"), 3, spec.seed, spec.n_convs)
    conv = F.when(is_hot, hot_conv).otherwise(cold_conv)
    df = df.withColumn("conv_id", F.concat(F.lit("conv-"), F.lpad(conv.cast("string"), 6, "0")))
    df = df.withColumn("turn_idx", _uint(F.col("lsn"), 4, spec.seed, spec.max_turns).cast("int"))

    # --- op mix ------------------------------------------------------------
    r_op = _u01(F.col("lsn"), 5, spec.seed)
    df = df.withColumn(
        "op",
        F.when(r_op < spec.delete_ratio, F.lit("D"))
        .when(r_op < spec.delete_ratio + spec.update_ratio, F.lit("U"))
        .otherwise(F.lit("I")),
    )

    # --- payload (null for deletes) -----------------------------------------
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
        (_uint(F.col("lsn"), 6, spec.seed, 4) + 1).cast("int"),
    )
    pad = F.repeat(F.lit("x"), spec.text_pad_chars)
    text = F.concat(
        F.col("conv_id"), F.lit("/t"), F.col("turn_idx").cast("string"),
        F.lit("/v"), F.col("lsn").cast("string"), F.lit("/"), pad,
    )
    is_del = F.col("op") == "D"
    df = df.withColumn("role", F.when(is_del, F.lit(None)).otherwise(role))
    df = df.withColumn("text", F.when(is_del, F.lit(None)).otherwise(text))
    df = df.withColumn(
        "tool",
        F.when(is_del | (role != "tool"), F.lit(None)).otherwise(
            F.concat(F.lit("tool_"), _uint(F.col("lsn"), 7, spec.seed, 8).cast("string"))
        ),
    )

    # --- event time: monotone-ish with jitter + late stragglers -------------
    base = F.lit(spec.base_ts).cast("timestamp")
    offset = (F.col("lsn") * spec.seconds_per_event).cast("double")
    jitter = _u01(F.col("lsn"), 8, spec.seed) * 2.0
    late = _u01(F.col("lsn"), 9, spec.seed) < spec.late_fraction
    lateness = F.when(late, F.lit(float(spec.late_by_seconds))).otherwise(F.lit(0.0))
    df = df.withColumn("ts", F.timestamp_add("SECOND", (offset + jitter - lateness).cast("long"), base))

    # --- additive evolution columns -----------------------------------------
    if evolved:
        post = F.col("lsn") >= spec.schema_evolution_lsn
        df = df.withColumn(
            "tool_version",
            F.when(post & ~is_del & F.col("tool").isNotNull(),
                   F.concat(F.lit("v1."), _uint(F.col("lsn"), 10, spec.seed, 5).cast("string"))),
        )
        df = df.withColumn(
            "meta_tokens",
            F.when(post & ~is_del, (_uint(F.col("lsn"), 11, spec.seed, 512) + 1).cast("int")),
        )

    df = df.withColumn("origin", F.concat(F.lit("site-"), _uint(F.col("lsn"), 12, spec.seed, 4).cast("string")))

    # --- delivery order: bounded out-of-order permutation --------------------
    # delivery_seq = lsn + uniform(0, window); sorting by (delivery_seq, lsn)
    # yields a delivery order where an event can surface up to `window` lsns
    # later than produced. Ties broken by lsn → total order, deterministic.
    shift = _uint(F.col("lsn"), 13, spec.seed, max(spec.out_of_order_window, 1))
    df = df.withColumn("delivery_seq", (F.col("lsn") + shift).cast("long"))

    schema = event_schema(evolved)
    cols = [f.name for f in schema.fields] + ["delivery_seq"]
    return df.select(*[F.col(c).cast(schema[c].dataType) if c != "delivery_seq" else F.col(c) for c in cols])


def write_feed_batches(df: DataFrame, out_dir: str, batch_size: int) -> int:
    """Materialize the feed as parquet files sliced by delivery order — the
    on-disk binlog a Structured Streaming file source tails.

    Slicing is by ``delivery_seq`` *value range* (delivery_seq ≈ dense), not by
    a global row_number sort — no single-partition sort, so this scales to any
    feed size. Returns the number of batch slices written.
    """
    sliced = df.withColumn("__batch", F.floor(F.col("delivery_seq") / batch_size).cast("int"))
    (
        sliced.repartition("__batch")
        .sortWithinPartitions("delivery_seq", "lsn")
        .write.mode("overwrite")
        .partitionBy("__batch")
        .parquet(out_dir)
    )
    import os

    return sum(1 for d in os.listdir(out_dir) if d.startswith("__batch="))
