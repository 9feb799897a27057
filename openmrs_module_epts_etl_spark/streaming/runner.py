"""Structured Streaming front-end: readStream tails the feed directory,
foreachBatch applies each micro-batch through the same lsn-guarded MERGE.

The north-star topology — readStream → watermark/dedupe → foreachBatch MERGE —
with exactly-once provided by TWO fences layered:

1. Spark's checkpointLocation (offsets/commits) makes micro-batches replayable
   with stable epoch_ids;
2. the lake commit log's (fence_key, epoch_id) fence makes replayed epochs
   no-ops — covering the crash window between sink commit and checkpoint
   commit, exactly like the batch pipeline (cdc/pipeline.py).

Watermarking note: ``withWatermark`` + ``dropDuplicates`` would bound state
for streaming dedupe, but per-key *latest-wins by lsn* cannot drop late
events — they must reach the MERGE where the lsn guard decides. So dedupe
happens inside foreachBatch (bounded by batch size, no unbounded state), and
the watermark is used only for the optional windowed metrics stream. This is
a deliberate semantic choice mirroring the reference: conflict resolution at
apply time (EtlDatabaseObject.java:614-726), not at ingest time.

The one ingest-time dedupe that IS sound: suppressing exact redeliveries by
event identity (lsn) via ``dropDuplicatesWithinWatermark`` — see
``suppress_redelivery``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..cdc.merge import merge_into
from ..cdc.schemas import TRANSCRIPT_KEY
from ..lake.table import LakeTable, refreshed


class StreamingCdcRunner:
    def __init__(
        self,
        spark: SparkSession,
        feed_dir: str,
        feed_schema: StructType,
        table_path: str,
        checkpoint_dir: str,
        fence_key: str = "cdc-stream",
        key: list[str] | None = None,
        max_files_per_trigger: int = 4,
        max_offsets_per_trigger: int | None = None,
        mode: str = "cow",
        compact_every: int | None = 8,
        policy=None,
        suppress_redelivery: str | None = None,
        transport_profile: bool = True,
    ):
        self.spark = spark
        self.feed_dir = feed_dir
        self.feed_schema = feed_schema
        self.table_path = table_path
        self.checkpoint_dir = checkpoint_dir
        self.fence_key = fence_key
        self.key = key or TRANSCRIPT_KEY
        self.max_files_per_trigger = max_files_per_trigger
        # Event-granular trigger sizing over the file source — the
        # maxOffsetsPerTrigger a binlog-shaped source (Kafka/Kinesis) gives
        # natively, recovered here by slicing each file-triggered micro-batch
        # into lsn windows of this width and applying each window as its own
        # fenced sub-epoch (the batch pipeline's delivery_seq-range mechanism,
        # cdc/pipeline.py). Kafka semantics exactly: the cap bounds the
        # OFFSET SPAN per apply (rows per apply ≤ cap when lsns are dense,
        # which a binlog's are). Slice bounds derive only from the batch's
        # min lsn — deterministic under Spark's micro-batch replay, so the
        # (fence_key, sub-epoch) fence still makes replays no-ops.
        self.max_offsets_per_trigger = max_offsets_per_trigger
        # same mode dial as the batch pipeline (PipelineConfig.mode): "cow" =
        # lsn-guarded MERGE rewrite per micro-batch (read-optimized), "mor" =
        # delta append + periodic compaction (ingest-optimized — the topology
        # a 10^10-event/day streaming deployment runs)
        self.mode = mode
        self.compact_every = compact_every
        # conflict policy (cdc/conflict.py), CoW mode only — same constraint
        # and reasoning as PipelineConfig.policy
        if mode == "mor" and policy is not None and not policy.is_default:
            raise ValueError("explicit conflict policies require mode='cow'")
        self.policy = policy
        # At-least-once sources redeliver the SAME event (same lsn). The lsn
        # guard already makes redeliveries no-ops at apply time, but each one
        # still costs a merge join. suppress_redelivery (a watermark delay,
        # e.g. "10 minutes") drops exact duplicates by lsn at ingest with
        # dropDuplicatesWithinWatermark — state bounded by the delay, unlike
        # plain dropDuplicates. This is safe precisely because lsn identifies
        # the EVENT (latest-wins per key still happens at merge); keying the
        # suppression by conv/turn instead would wrongly drop newer versions.
        # SIZE IT to cover the source's max EVENT-TIME lateness, not just the
        # redelivery spacing: Spark drops any event older than the watermark
        # here, so a delay below the lateness horizon silently loses genuine
        # late events that the merge's lsn guard would have handled. When the
        # horizon is unknown, leave this off — the merge fence alone is
        # always correct, just costlier per redelivery.
        self.suppress_redelivery = suppress_redelivery
        self.batch_results: list = []
        # one handle on the target table, refreshed per micro-batch: its fence
        # cache then folds only the commits added since the previous one
        self._table: LakeTable | None = None
        # Streaming transport check: the session should be built with
        # ``get_spark(profile="streaming")`` — micro-batch shuffles move ~1M
        # rows for tens of ms, where the batch profile's sort-writer
        # crossover (64, tuned for 32M-row payload exchanges) costs a
        # measured 15% of sustained throughput (3/3 alternating A/B reps on
        # a 32-core host: 295k → 341k ev/s median at 4M events).
        # bypassMergeThreshold is a LAUNCH-TIME core conf (Spark raises
        # CANNOT_MODIFY_CONFIG on a live session), so the runner can only
        # surface the mismatch, not fix it: transport_profile=True (default)
        # records a warning into ``transport_warnings`` when the session
        # carries the batch crossover; False silences the check for callers
        # deliberately sharing a batch-tuned session.
        self.transport_warnings: list[str] = []
        if transport_profile:
            try:
                thr = spark.conf.get("spark.shuffle.sort.bypassMergeThreshold")
            except Exception:
                thr = None
            from ..session import STREAMING_TRANSPORT

            want = STREAMING_TRANSPORT["spark.shuffle.sort.bypassMergeThreshold"]
            if thr is not None and thr != want:
                self.transport_warnings.append(
                    f"session bypassMergeThreshold={thr} (batch profile); "
                    f"build streaming sessions with get_spark(profile='streaming') "
                    f"for the measured +15% micro-batch throughput (want {want})"
                )

    def _reader(self) -> DataFrame:
        reader = (
            self.spark.readStream.schema(self.feed_schema)
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .parquet(self.feed_dir)
        )
        if self.suppress_redelivery is not None:
            reader = reader.withWatermark(
                "ts", self.suppress_redelivery
            ).dropDuplicatesWithinWatermark(["lsn"])
        return reader

    # fence sub-epoch id = micro_batch_epoch * STRIDE + slice_index: unique as
    # long as one micro-batch never needs 2^20 slices (guarded below), and a
    # replayed micro-batch regenerates the identical ids so the fence holds.
    # Sliced ids live in their own fence namespace, keyed by the WINDOW WIDTH
    # too (fence_key + f"-sliced-{w}"): epoch 0's slices are 0*STRIDE+i =
    # 0..k, which would collide with PLAIN epoch ids 1..k if the operator
    # later removes the trigger cap on the same checkpoint, and a replayed
    # micro-batch re-sliced under a CHANGED cap computes different lsn
    # windows for the same ids — either collision would silently fence out
    # (drop) never-applied rows. Disjoint namespaces make false "already
    # applied" impossible; the reverse direction (a config flip re-applying
    # an overlap once) is a no-op by the lsn guard / latest-wins compaction,
    # which the replay-idempotence tests pin down.
    _SLICE_STRIDE = 1 << 20

    def _apply_batch(self, batch_df, epoch_id: int) -> None:
        cols = [f.name for f in self.feed_schema.fields if f.name != "delivery_seq"]
        batch = batch_df.select(*cols)
        # compaction cadence stays at micro-batch granularity regardless of
        # slicing. A compaction epoch's events are folded into the compaction
        # (one commit carrying both fences, mor.compact_with_epoch); when
        # sliced, the micro-batch's last slice is the one folded in
        compact_epoch = (
            int(epoch_id)
            if self.mode == "mor"
            and self.compact_every
            and (int(epoch_id) + 1) % self.compact_every == 0
            else None
        )
        if self.max_offsets_per_trigger is None:
            self._apply_slice(batch, int(epoch_id), compact_epoch=compact_epoch)
        else:
            w = int(self.max_offsets_per_trigger)
            # one materialization: the min agg, the window-index distinct and
            # every per-slice filter below otherwise each rescan the trigger's
            # source files (k+2 reads of the same input per micro-batch)
            batch = batch.persist()
            try:
                lo = batch.agg(F.min("lsn")).first()[0]
                # non-empty lsn windows only — one metadata-bounded agg (at
                # most span/w indices; with a sane cap that is a handful).
                # `div` keeps the index in exact long arithmetic: a double
                # quotient rounds for offsets beyond 2^53 and can disagree
                # with the exact integer slice-bound filters below, assigning
                # a boundary row to a window that is never iterated.
                idx = (
                    []
                    if lo is None  # empty micro-batch: no slices, cadence below still runs
                    else sorted(
                        r[0]
                        for r in batch.select(
                            F.expr(f"(lsn - {lo}L) div {w}L").alias("i")
                        )
                        .distinct()
                        .collect()
                    )
                )
                if idx and idx[-1] >= self._SLICE_STRIDE:
                    raise ValueError(
                        f"micro-batch spans {idx[-1] + 1} lsn windows of {w}; "
                        "raise max_offsets_per_trigger or shrink maxFilesPerTrigger"
                    )
                for i in idx:
                    sl = batch.filter(
                        (F.col("lsn") >= lo + i * w)
                        & (F.col("lsn") < lo + (i + 1) * w)
                    )
                    self._apply_slice(
                        sl,
                        int(epoch_id) * self._SLICE_STRIDE + i,
                        fence_suffix=f"-sliced-{w}",
                        compact_epoch=compact_epoch if i == idx[-1] else None,
                    )
                if compact_epoch is not None and not idx:
                    from ..cdc.mor import compact_latest

                    self._table = refreshed(self._table, batch_df.sparkSession, self.table_path)
                    compact_latest(
                        self._table,
                        key=list(self.key),
                        fence_key=self.fence_key + "-compact", epoch_id=compact_epoch,
                    )
            finally:
                batch.unpersist()

    def _apply_slice(
        self, batch, fence_epoch: int, fence_suffix: str = "",
        compact_epoch: int | None = None,
    ) -> None:
        """Apply one (slice of a) micro-batch under its fence; with
        ``compact_epoch`` set, fold it into that micro-batch's compaction."""
        self._table = table = refreshed(self._table, batch.sparkSession, self.table_path)
        fence_key = self.fence_key + fence_suffix
        if self.mode == "mor":
            from ..cdc import mor

            if compact_epoch is not None:
                res = mor.compact_with_epoch(
                    table, batch, key=list(self.key),
                    fence_key=fence_key, epoch_id=fence_epoch,
                    compact_fence_key=self.fence_key + "-compact",
                    compact_epoch_id=compact_epoch,
                )
            else:
                res = mor.append_delta(
                    table, batch, key=list(self.key), fence_key=fence_key,
                    epoch_id=fence_epoch,
                )
        else:
            res = merge_into(
                table,
                batch,
                key=self.key,
                fence_key=fence_key,
                epoch_id=fence_epoch,
                policy=self.policy,
            )
        self.batch_results.append(res)

    def metrics_stream(
        self, window: str = "1 minute", watermark: str = "2 minutes"
    ) -> DataFrame:
        """Watermarked tumbling-window op counts over the feed — the streaming
        analog of the reference's progress meter refresh
        (api:engine/EtlProgressMeter.java:39-96). The watermark bounds this
        aggregation's state; events later than it drop out of the *metrics*
        only. Applying the same cutoff to table state would be wrong — late
        events must still reach the MERGE, where the lsn guard (not event
        time) decides — which is exactly why dedupe lives in foreachBatch and
        the watermark lives here. Returns an unstarted streaming DataFrame;
        the caller picks the sink."""
        reader = (
            self.spark.readStream.schema(self.feed_schema)
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .parquet(self.feed_dir)
        )
        return (
            reader.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("win"), F.col("op"))
            .agg(F.count("*").alias("events"), F.max("lsn").alias("max_lsn"))
            .select(
                F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "op",
                "events",
                "max_lsn",
            )
        )

    def start(self, processing_time: str | None = None):
        """Start the live query and return the StreamingQuery (caller owns
        its lifecycle). ``processing_time`` (e.g. ``"10 seconds"``) sets a
        processing-time trigger — the deployment shape; None triggers as
        fast as micro-batches complete. Rate limiting: maxFilesPerTrigger at
        the file source, plus event-granular max_offsets_per_trigger (lsn
        windows applied as fenced sub-epochs) when set."""
        writer = self._reader().writeStream.foreachBatch(self._apply_batch).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if processing_time is not None:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def run_available_now(self, await_seconds: int = 600) -> list:
        """Process everything currently in the feed directory and stop —
        the batch-bounded trigger used by tests and replay jobs. A live
        deployment uses the same query via ``start()``."""
        q = (
            self._reader().writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(await_seconds)
        return self.batch_results


class ProgressLedger:
    """StreamingQueryListener that persists per-micro-batch progress as one
    JSON line each — the streaming analog of the reference's progress-meter
    persistence (api:engine/EtlProgressMeter.java:39-96 saved through the
    operation status files, api:controller/OperationController.java:550-578).
    A monitoring consumer tails the file; nothing rides the data path.

    Note ``num_input_rows`` is Spark's *source scan* accounting: a
    foreachBatch body that runs several jobs over the micro-batch (the merge
    path does — dedupe aggregation, then join-back + write) re-scans the
    file-source batch and the metric counts each pass. Unique applied-event
    counts live in the commit metrics (``applied``), not here.

    Usage::

        ledger = ProgressLedger(path)
        spark.streams.addListener(ledger.listener())
        ... run the query ...
        spark.streams.removeListener(ledger.listener())
    """

    def __init__(self, path: str):
        self.path = path
        self._listener = None

    def listener(self):
        if self._listener is not None:
            return self._listener
        import json as _json

        from pyspark.sql.streaming import StreamingQueryListener

        ledger_path = self.path

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                row = {
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "input_rows_per_second": p.inputRowsPerSecond,
                    "processed_rows_per_second": p.processedRowsPerSecond,
                    "duration_ms": dict(p.durationMs or {}),
                    "timestamp": p.timestamp,
                }
                with open(ledger_path, "a") as fh:
                    fh.write(_json.dumps(row) + "\n")

            def onQueryTerminated(self, event):
                pass

            def onQueryIdle(self, event):
                pass

        self._listener = _L()
        return self._listener
