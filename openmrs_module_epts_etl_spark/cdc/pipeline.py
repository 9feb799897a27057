"""Checkpointed micro-batch runner: tail the feed → dedupe → MERGE, resumable.

The reference's resume machinery — per-thread interval-checkpoint JSON files
re-saved after each processed interval
(api:engine/record_intervals_manager/ThreadRecordIntervalsManager.java:227-254)
plus already-finished short-circuits
(api:controller/OperationController.java:325-356) — collapses here into:

- the feed is sliced into epochs by ``delivery_seq`` value range (the analog
  of maxOffsetsPerTrigger / the reference's processingBatch of 1000-4000 rows,
  api:conf/EtlOperationConfig.java:41,95);
- a checkpoint JSON records the last *completed* epoch (atomic rename);
- every MERGE commit is fenced with (fence_key, epoch_id) — if the process
  dies between the table commit and the checkpoint write, the replayed epoch
  is detected in the commit log and skipped: exactly-once end to end.

Value-range slicing needs no global sort and no driver materialization, so the
same runner works at 10^10 events: each epoch's filter is pushed down to the
feed scan (min/max row-group pruning on delivery_seq / the __batch hive key).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake.table import LakeTable
from .conflict import ConflictPolicy
from .merge import MergeResult, merge_into
from .schemas import TRANSCRIPT_KEY


@dataclass
class PipelineConfig:
    table_path: str
    checkpoint_dir: str
    fence_key: str = "cdc-pipeline"
    batch_size: int = 100_000
    key: tuple[str, ...] = tuple(TRANSCRIPT_KEY)
    # dead-letter table for malformed events (None = strict mode: a malformed
    # event surfaces as a merge-time error instead of being diverted)
    quarantine_path: str | None = None
    # "cow": lsn-guarded MERGE rewrite per epoch (read-optimized);
    # "mor": append lsn-stamped deltas + periodic compaction (ingest-optimized
    # — see cdc/mor.py; read the table via mor.read_state between compactions)
    mode: str = "cow"
    # mor only: every K-th epoch is a compaction epoch — its events are
    # folded into the compaction (mor.compact_with_epoch: one write, one
    # commit carrying both fences) instead of appended as a delta the
    # compaction would rewrite at once; on the compact_min_files route an
    # epoch with no qualifying partition is a plain append. None: append
    # only, never compact.
    compact_every: int | None = 8
    # mor only: when set, the periodic compaction is PARTITION-SELECTIVE —
    # only partitions holding >= this many data files are rewritten
    # (mor.compact_partitions; bounded I/O, the 100 TB shape). None keeps the
    # whole-table compact_latest (small tables / full relayout).
    compact_min_files: int | None = None
    # mor only: pre-collapse each epoch to one row per key before appending
    # (append_delta(dedupe=True); no effect on an epoch folded into a
    # compaction, whose dedupe collapses it anyway). Pure compression — read-time/compaction
    # winner selection resolves per-key versions either way, so final state
    # is identical. Measured on a 4-CPU host, perfbench `--trace 0`, 5
    # alternating pairs each, dedupe ON vs OFF (medians): mor-replay-skewed
    # write_amp 0.758 -> 0.302 but cpu_s_per_mevent 89 -> 111 (+25%);
    # stream-open-loop write_amp 0.839 -> 0.665 but cpu_s_per_mevent
    # 159 -> 254 (+60%). OFF stays the default: the per-epoch dedupe shuffle
    # costs more CPU than the smaller deltas save, and the appended deltas
    # then carry exact per-event lineage rows. Turn it on where write
    # bytes, not CPU, are the scarce resource.
    mor_dedupe_appends: bool = False
    # NULL-key policy for the clustered (mbucket-layout) dedupe the MoR path
    # uses in deduped appends and compaction (cdc/dedupe.py contract):
    # "error" (default) raises loudly on a NULL key/order value; "drop"
    # discards such rows — the documented recovery path for a table a raw
    # (dedupe=False) append already contaminated, which would otherwise
    # wedge every future compaction. Prevention belongs upstream:
    # quarantine_path diverts NULL-keyed events before they are ever
    # appended. CoW / non-mbucket tables use the generic dedupe, which
    # keeps NULL-key groups and ignores this setting.
    on_null_keys: str = "error"
    # Conflict-resolution policy for matched rows (cdc/conflict.py —
    # ConflictResolutionType analog). Only the default newer-wins policy is
    # expressible in MoR mode: its read-time winner is max-lsn by construction.
    policy: "ConflictPolicy | None" = None


class CdcPipeline:
    def __init__(self, spark: SparkSession, config: PipelineConfig):
        self.spark = spark
        self.config = config
        os.makedirs(config.checkpoint_dir, exist_ok=True)

    # ------------------------------------------------------------ checkpoint
    def _ckpt_path(self) -> str:
        return os.path.join(self.config.checkpoint_dir, "checkpoint.json")

    def load_checkpoint(self) -> dict:
        p = self._ckpt_path()
        if os.path.exists(p):
            with open(p) as fh:
                return json.load(fh)
        return {"last_epoch": -1}

    def save_checkpoint(self, state: dict) -> None:
        p = self._ckpt_path()
        tmp = p + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        os.rename(tmp, p)

    # ------------------------------------------------------------------ run
    def run(
        self,
        feed: DataFrame,
        max_epochs: int | None = None,
        on_batch=None,
    ) -> list[MergeResult]:
        """Replay the feed in delivery order as fenced epochs. ``feed`` must
        carry a ``delivery_seq`` column (the binlog position). Resumes from
        the checkpoint; safe to kill and re-run at any point.
        """
        cfg = self.config
        if cfg.mode == "mor" and cfg.policy is not None and not cfg.policy.is_default:
            raise ValueError(
                "explicit conflict policies require mode='cow' — MoR's read-time "
                "winner is max-lsn (newer_wins) by construction"
            )
        table = LakeTable(self.spark, cfg.table_path)
        qtable = None
        if cfg.quarantine_path is not None:
            from .quarantine import quarantine_table

            qtable = quarantine_table(self.spark, cfg.quarantine_path, feed.drop("delivery_seq").schema)
        bounds = feed.select(
            F.min("delivery_seq").alias("lo"), F.max("delivery_seq").alias("hi")
        ).collect()[0]
        if bounds["hi"] is None:
            return []
        first_epoch = int(bounds["lo"]) // cfg.batch_size
        last_epoch = int(bounds["hi"]) // cfg.batch_size

        state = self.load_checkpoint()
        start = max(state["last_epoch"] + 1, first_epoch)
        results: list[MergeResult] = []
        done = 0
        for epoch in range(start, last_epoch + 1):
            lo = epoch * cfg.batch_size
            hi = lo + cfg.batch_size
            # pushed-down range scan on the feed — no global ordering needed
            batch = feed.filter((F.col("delivery_seq") >= lo) & (F.col("delivery_seq") < hi)).drop(
                "delivery_seq"
            )
            if qtable is not None:
                from .quarantine import append_quarantine, split_quarantine

                batch, bad = split_quarantine(batch, list(cfg.key))
                append_quarantine(
                    qtable, bad, epoch_id=epoch, fence_key=cfg.fence_key + "-quarantine"
                )
            if cfg.mode == "mor":
                from . import mor

                if cfg.compact_every and (epoch + 1) % cfg.compact_every == 0:
                    res = mor.compact_with_epoch(
                        table, batch, key=list(cfg.key),
                        fence_key=cfg.fence_key, epoch_id=epoch,
                        compact_fence_key=cfg.fence_key + "-compact",
                        compact_epoch_id=epoch,
                        min_files=cfg.compact_min_files,
                        dedupe=cfg.mor_dedupe_appends,
                        on_null=cfg.on_null_keys,
                    )
                else:
                    res = mor.append_delta(
                        table, batch, key=list(cfg.key), fence_key=cfg.fence_key,
                        epoch_id=epoch, dedupe=cfg.mor_dedupe_appends,
                        on_null=cfg.on_null_keys,
                    )
            else:
                res = merge_into(
                    table,
                    batch,
                    key=list(cfg.key),
                    fence_key=cfg.fence_key,
                    epoch_id=epoch,
                    policy=cfg.policy,
                )
            results.append(res)
            self.save_checkpoint({"last_epoch": epoch})
            if on_batch is not None:
                on_batch(epoch, res)
            done += 1
            if max_epochs is not None and done >= max_epochs:
                break
        return results
