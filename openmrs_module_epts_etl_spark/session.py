"""SparkSession factory tuned for this engine.

Defaults mirror what we'd set on a real cluster: AQE on (runtime skew-join and
coalesce), Arrow on (all pandas-UDF transfer), sane shuffle partitioning for
local testing. On a 1000-executor cluster only ``shuffle_partitions`` changes
(≈ 2-3× total cores), everything else carries over.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Single source of truth for the tuned static transport confs: get_spark
# applies them, the BENCH.md that bench.py generates states them, and
# tests/test_bench_artifact.py asserts the committed BENCH.md prose matches —
# so the artifact can never again contradict the code it fingerprints (the
# round-3 BENCH.md described a bypassMergeThreshold=1 policy the session had
# already moved off).
TUNED_TRANSPORT = {
    "spark.io.compression.codec": "zstd",
    "spark.shuffle.sort.bypassMergeThreshold": "64",
}

# Launch-time transport overrides for a dedicated STREAMING session (a
# streaming deployment owns its spark-submit, so profile selection belongs
# at session build — bypassMergeThreshold is a core conf Spark refuses to
# modify after the context starts). Micro-batch shuffles move ~1M rows for
# tens of ms, where the sort writer's per-task row buffering is pure
# overhead and the bypass writer's open-stream count stays harmless even at
# 128-200 partitions: restoring Spark's stock 200-partition crossover
# measured +15% sustained streaming throughput (3/3 alternating A/B reps on
# a 32-core host: 295k → 341k ev/s median, 4M events, local[32]). The
# batch default of 64 protects the 32M-row payload exchanges the batch
# replay runs (see the crossover note below); the two shapes never share a
# session in deployment, so each gets its own right answer.
STREAMING_TRANSPORT = {
    "spark.shuffle.sort.bypassMergeThreshold": "200",
}


def get_spark(
    app_name: str = "epts-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str = "batch",
) -> SparkSession:
    if profile not in ("batch", "streaming"):
        raise ValueError(f"profile must be 'batch' or 'streaming', got {profile!r}")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cpus:
        master = f"local[{cpus}]"
    # local[N] → N; a real cluster would use 2-3× total executor cores.
    # local[N,maxFailures] is valid Spark syntax — only the first field is cores.
    inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
    try:
        session_cores = int(inner.split(",")[0])
    except ValueError:
        session_cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = session_cores

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Scan-side parallelism floor. FilePartition packing targets
        # bytesPerCore = totalBytes / defaultParallelism, so a medium table
        # (one that fits in ~cores × maxPartitionBytes) scans as EXACTLY one
        # task per core — a single wave with no slack, where any per-task
        # asymmetry (pushdown pruning keeping uneven row-group subsets, a
        # straggling vCPU) becomes a stage-long tail with idle cores behind
        # it. Measured on the 8M-event MoR replay at 8 pinned cores: scan
        # stages ran as 8 tasks with a 3.2s max over a 1.9s mean, total
        # replay+compact 23.5s at 0.68 core-utilization; floored to the same
        # 2-3×-cores rule the shuffle side uses, the same run is 18.9s at
        # 0.84 utilization (2-core level unchanged — its 8 tasks already
        # formed 4 self-balancing waves). Large tables are unaffected
        # (maxPartitionBytes still caps split size); this only splits scans
        # that would otherwise under-wave the executors.
        .config("spark.sql.files.minPartitionNum", str(4 * session_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Manifest-driven reads pass explicit file lists (LakeTable.read), so
        # file listing is a stat() per known path — at the default threshold
        # (32 paths) Spark runs it as a cluster JOB whose task-scheduling
        # overhead dwarfs the stats themselves (measured: 7s for 767 files on
        # 2 cores, pure fixed cost per table read). Driver-side threaded
        # listing handles thousands of paths in milliseconds on any FS; past
        # this threshold (100 TB tables → 100k+ files) the job path resumes.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        # Shuffle/spill/broadcast transport codec. The ingest pipeline is
        # memory-bandwidth-bound at high core counts (a perfectly parallel
        # numpy streaming sum scales at only ~0.6 efficiency 2->8 cores on
        # this class of host — DRAM saturates long before the cores do, and
        # the same holds for a multi-executor node in a real cluster).
        # zstd moves ~2x fewer bytes than lz4 through that bottleneck for
        # CPU the hot levels have to spare. Measured on the 32M-event MoR
        # replay: 8-core throughput 301k -> 507k events/s (+68%), 2-core
        # 126k -> 145k, N->4N raw scaling efficiency 0.60 -> 0.87.
        .config("spark.io.compression.codec", TUNED_TRANSPORT["spark.io.compression.codec"])
        # Shuffle-writer crossover policy: bypass writer for shuffles with
        # ≤64 reduce partitions, sort-based (Unsafe) writer above that. At the
        # default bypassMergeThreshold (200) Spark picks the bypass writer for
        # most shuffles, which keeps one OPEN COMPRESSED STREAM PER REDUCE PARTITION
        # per map task — with zstd that is partitions × concurrent-tasks live
        # compression contexts (128 × 32 here), and their buffer memory +
        # context-switching throttles the whole map stage. The sort writer
        # compresses one spill stream at a time per task. Measured on the
        # 32M-event MoR replay at local[32]: 333k (zstd/bypass) -> 659k
        # events/s (zstd/sort) vs 458k for the best lz4 config.
        #
        # BELOW ~64 reduce partitions the trade inverts: the sort writer
        # buffers every row in execution memory before writing, and a
        # payload-wide exchange (the MoR compaction clustering 32M rows for
        # its partitioned write) overflows the per-task share — measured
        # 2.9 GB spilled and 159 CPU-s on ONE map stage at 8 cores, with the
        # whole-run CPU bill 1.5× the 2-core level's for identical work
        # (spill encode/decode cycles), capping N→4N scaling at ~0.63. The
        # bypass writer streams straight to per-partition files with no
        # buffering, and at ≤64 partitions its open-stream count stays modest
        # even at 32 concurrent tasks. Same replay, 64-partition compaction
        # exchange at local[32]: compact 42.5s -> 18.0s, total CPU 1287s ->
        # 752s; 32M scale pair total 77s -> 56s at 8 cores, 196s -> 187s at
        # 2 cores (raw N→4N 0.63 -> 0.84). 64 is the measured crossover on
        # this zstd config: the 128-partition cliff stays on the sort side,
        # every partition count tested at or below 64 wins on bypass. On a
        # real cluster wide shuffles exceed 200 partitions anyway, so large
        # exchanges keep the sort writer's cluster behavior either way.
        .config(
            "spark.shuffle.sort.bypassMergeThreshold",
            TUNED_TRANSPORT["spark.shuffle.sort.bypassMergeThreshold"],
        )
        # Data-file codec stays Spark's snappy default — measured A/B at the
        # scaling-protocol shape (32M-event MoR replay, same quiet host,
        # back-to-back): snappy 129k/421k ev/s at 2/8 cores (raw N→4N 0.81)
        # vs zstd-parquet 107k/319k (raw 0.74). Unlike the shuffle transport
        # (where zstd won ~2x), parquet pages are written once and read once,
        # and zstd's encode CPU exceeds its bandwidth savings on both levels.
        # Overridable per-session for re-running that A/B.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "snappy"),
        )
        # Accept subset-key co-partitioning for joins (both sides already
        # hash-partitioned on a subset of the join keys). The one plan it
        # changes is ``dedupe_latest(tie_break=True)`` (merge_into's re-run
        # on a (key, lsn) tie, operators.latest_per_key): its second
        # join-back on (key, lsn, hash) reuses the first join-back's
        # (key, lsn) partitioning instead of re-shuffling the payload — 9
        # exchanges instead of 10 (compared via explain() on a 4-CPU host).
        # The plain dedupe_latest, the merge_into planning and apply joins,
        # snapshot_diff and the MoR paths plan the same exchanges either
        # way. The default TRUE exists because subset keys can concentrate
        # skew; here the subset is (key, lsn), whose groups hold only tied rows.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if profile == "streaming":
        for k, v in STREAMING_TRANSPORT.items():
            b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
