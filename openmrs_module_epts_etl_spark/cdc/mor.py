"""Merge-on-read (MoR) ingest: append lsn-stamped deltas, resolve at read.

The copy-on-write MERGE (cdc/merge.py) rewrites every affected partition per
epoch — with hot conversations touching most buckets, that is a near-full
table rewrite per epoch: write amplification O(table_size × epochs). Real
10^10-event/day ingest systems (Iceberg v2 equality deletes, Hudi MoR) take
the dual trade: ingest appends small delta files and defers conflict
resolution to readers and to a periodic compaction. This module is that dual,
over the same lake format, same event semantics, same fences:

- **append_delta**: append the batch, optionally deduped per key first
  (max-lsn winner: the narrow-agg + join-back operator CoW uses, or on an
  ``mbucket`` table the one-exchange partition-local ``rank()`` of
  ``dedupe_latest_clustered``), stamp ``_lsn``/``_origin``/``_deleted``.
  No target scan, no planning join, no rewrite: one clustered write per
  epoch (plus the dedupe shuffle when asked for), which is why ingest
  scales like the append it is. Epoch fencing is identical to CoW
  (commit-log (fence_key, epoch_id)), so replays are no-ops.
- **read_state**: snapshot read = latest row per key by ``_lsn`` with delete
  tombstones filtered. An out-of-order stale insert arriving *after* a
  delete loses the max-lsn contest to the delete's higher lsn — the same guard CoW
  enforces at write time, enforced here at read time. Conflict-resolution
  semantics (newer-wins ≈ observationDateFields,
  api:model/EtlDatabaseObject.java:677-714) are therefore byte-identical
  between modes.
- **compact_latest**: collapse all versions of each key to the winner (on
  an ``mbucket`` table one payload exchange on conv_id and a
  partition-local ``rank()``, which the bucketed write reuses), rewriting
  the table back to one-row-per-key — after which reads are plain scans
  again. Run every K epochs or by delta-file-count policy; replay-safe via
  its own fence.
- **compaction epochs are fused**: the epoch that triggers a compaction is
  not appended first (a delta the compaction would read straight back and
  rewrite). ``compact_with_epoch`` hands its events to the compaction
  (``events=``), which projects them to delta rows exactly as
  ``append_delta`` does, unions them with the files it rewrites, runs the
  same max-``_lsn`` winner selection, and publishes ONE overwrite commit
  carrying both the epoch's fence and the compaction's — the stage-area
  resolve-then-load of the reference
  (api:resolveconflictsinstagearea/processor/ResolveConflictsInStageAreaProcessor.java:26-66).
  On the whole-table route that saves, per K epochs, one data write, one
  commit and the read-back of the epoch's delta. On the ``min_files``
  route an epoch counts as one more file in each partition it touches (one
  job over the events, when some partition is one file short), so the same
  partitions qualify as after an append; the fused commit then skips the
  write and read-back of the selected partitions' share of the epoch. When
  no partition qualifies the epoch is a plain ``append_delta``, as before:
  nothing is saved, and nothing is added but that job.

Choosing a mode: CoW when reads dominate and epochs are large; MoR when
ingest throughput/latency dominates and a compaction window exists. The
pipeline exposes both (PipelineConfig.mode) over the same feed, table,
checkpoint, and oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..lake.table import Commit, LakeTable
from .dedupe import dedupe_latest, dedupe_latest_clustered
from .merge import HIVE_NULL, MergeResult
from .schemas import TRANSCRIPT_KEY, payload_columns


def _clustered_plan(table: LakeTable, key: list[str]) -> tuple[str, int] | None:
    """(cluster_col, num_partitions) when the table's spec murmur-buckets a
    key column — the layout under which a single ``repartition(N, col)``
    serves the partition-local winner selection AND the partitioned write
    (``arrange=False``): N is the shuffle-partition count rounded up to
    a multiple of the bucket count so the task id determines the bucket
    (lake/partitioning.py:mbucket). xxhash64 ``bucket`` specs return None —
    their bucket value is not derivable from Spark's task assignment."""
    for p in table.partition_spec:
        if p.transform.startswith("mbucket(") and p.source in key:
            n = int(p.transform[len("mbucket(") :].split(",")[0])
            sp = int(table.spark.conf.get("spark.sql.shuffle.partitions", "200"))
            return p.source, max(-(-sp // n) * n, n)
    return None


def _dedupe_for_table(
    table: LakeTable, df: DataFrame, key: list[str], order_col: str,
    on_null: str = "error",
) -> tuple[DataFrame, bool]:
    """Winner selection shaped to the table's layout: clustered one-exchange
    plan when the spec allows (second return True → write with
    ``arrange=False``), the generic narrow-agg + join-back otherwise.

    ``on_null`` is the clustered path's NULL-key policy, plumbed through
    every public entry point that can reach this (``append_delta``,
    ``compact_partitions``, ``compact_latest``, ``PipelineConfig``): the
    default ``"error"`` enforces the non-null feed contract loudly, but the
    default *append* path writes events raw (dedupe=False), so a NULL-keyed
    row that slipped into an mbucket table would otherwise wedge every
    future compaction with no recovery path short of manual table surgery —
    ``on_null="drop"`` is that recovery path (the dropped row could never
    win a read-time max-lsn contest usefully anyway: ``read_state``'s
    generic dedupe groups it under the NULL key, which no real key matches).
    The generic path keeps NULL-key groups (SQL semantics) either way."""
    plan = _clustered_plan(table, key)
    if plan:
        return (
            dedupe_latest_clustered(
                df, key=key, order_col=order_col,
                cluster_col=plan[0], num_partitions=plan[1], on_null=on_null,
            ),
            True,
        )
    return dedupe_latest(df, key=key, order_col=order_col), False


def _delta_rows(events: DataFrame, key: list[str]) -> tuple[DataFrame, Observation]:
    """Project events to MoR delta rows — key + payload (nulled on deletes,
    except ``ts``), ``_lsn``/``_origin``/``_deleted`` stamps — with the
    {delta_upsert, delta_delete} counts observed on the projection. Shared
    by ``append_delta`` and the fused compaction so both report the same
    counts for the same events."""
    is_del = F.col("op") == "D"
    cols = [F.col(k) for k in key]
    for c in payload_columns(events.schema):
        if c in key:
            continue
        if c == "ts":
            # ts persists on delete tombstones for partition placement,
            # exactly like the CoW path
            cols.append(F.col(c))
        else:
            cols.append(F.when(is_del, F.lit(None)).otherwise(F.col(c)).alias(c))
    delta = events.select(
        *cols,
        F.col("lsn").alias("_lsn"),
        F.col("origin").alias("_origin"),
        is_del.alias("_deleted"),
    )
    obs = Observation()
    delta = delta.observe(
        obs,
        F.count_if(~F.col("_deleted")).alias("delta_upsert"),
        F.count_if(F.col("_deleted")).alias("delta_delete"),
    )
    return delta, obs


def _observed(obs: Observation) -> dict[str, int]:
    return {k: int(v) for k, v in obs.get.items() if v}


def append_delta(
    table: LakeTable,
    events: DataFrame,
    key: list[str] | None = None,
    fence_key: str | None = None,
    epoch_id: int | None = None,
    dedupe: bool = False,
    on_null: str = "error",
) -> MergeResult:
    """Apply one epoch as an appended delta. Returns applied counts
    {delta_upsert, delta_delete} (exact split between insert/update is
    unknowable without reading the target — that is the point of MoR).

    ``dedupe=False`` (default) appends every event as its own delta row: the
    read-time / compaction-time max-lsn winner selection resolves per-key winners
    anyway, so a per-epoch dedupe is pure compression — it removes the only
    table-wide shuffle-with-aggregation in the append path (the remaining
    exchange just clusters rows by partition value for the writer). Enable it
    when write bytes matter more than CPU: on a 4-CPU host (perfbench
    medians, 5 pairs) it cut write_amp 0.758 -> 0.302 on mor-replay-skewed
    and 0.839 -> 0.665 on stream-open-loop, at +25% and +60% CPU-s per
    Mevent (PipelineConfig.mor_dedupe_appends exposes this)."""
    key = key or TRANSCRIPT_KEY
    if fence_key is not None and epoch_id is not None:
        if table.epoch_already_applied(fence_key, epoch_id):
            return MergeResult(commit=None, skipped_epoch=True)
    epoch = {"fence_key": fence_key, "epoch_id": epoch_id} if fence_key is not None else None

    clustered = False
    if dedupe:
        batch, clustered = _dedupe_for_table(table, events, key, "lsn", on_null=on_null)
    else:
        batch = events
    delta, obs = _delta_rows(batch, key)

    # additive evolution before the write so new columns survive the
    # projection to table schema (same order of operations as LakeTable.append)
    new_schema = table.evolved_schema(delta.schema)
    if new_schema is not None:
        table._commit.schema_json = new_schema.json()
    added, _ = table.write_data_files(delta, arrange=not clustered)
    applied = _observed(obs)
    commit = table.commit(
        added, epoch=epoch, new_schema=new_schema,
        metrics={"applied": applied, "mode": "mor-delta"},
    )
    return MergeResult(commit=commit, applied=applied)


def read_state(table: LakeTable, key: list[str] | None = None) -> DataFrame:
    """User-facing snapshot under MoR: latest version per key, tombstones
    hidden, engine columns dropped. On a freshly compacted table this
    degenerates to a plain scan of one row per key (the dedupe is a no-op
    aggregation over singleton groups)."""
    key = key or TRANSCRIPT_KEY
    df = table.read(include_hidden=True)
    latest = dedupe_latest(df, key=key, order_col="_lsn")
    alive = latest.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
    return alive.select(*[c for c in alive.columns if not c.startswith("_")])


def table_changes_as_feed(
    table: LakeTable, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Convert an incremental scan of a MoR-ingested table into the engine's
    change-event contract (op/lsn/origin + payload) so a *downstream*
    pipeline can consume this table as its binlog — pipeline chaining, the
    lake-side analog of the reference emitting detected_record_info for the
    next stage (SURVEY.md §3.2). Exact row granularity on MoR delta commits
    (each delta row is one applied event, tombstones → op='D'). A compaction
    commit — including a fused compaction epoch, whose events arrive only as
    compacted rows — returns every row it rewrote: a superset of what
    changed, which the downstream max-lsn contest absorbs (replayed rows
    carry their original lsns). For row-exact changes across compactions use
    changelog.snapshot_diff."""
    inc = table.read_incremental(from_version, to_version, include_hidden=True)
    deleted = F.coalesce(F.col("_deleted"), F.lit(False))
    payload = [c for c in inc.columns if not c.startswith("_")]
    return inc.select(
        F.when(deleted, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("_lsn").alias("lsn"),
        F.col("_origin").alias("origin"),
        *payload,
    )


def _compact(
    table: LakeTable,
    files: list,
    key: list[str],
    fence_key: str | None,
    epoch_id: int | None,
    keep_tombstones: bool,
    on_null: str,
    events: DataFrame | None,
    events_fence: tuple[str, int] | None,
    applied: dict,
    mode: str,
) -> Commit:
    """Rewrite ``files`` — unioned with ``events`` projected to delta rows,
    when given — as their max-``_lsn`` winners in one overwrite commit that
    carries ``events_fence`` (first) and the compaction's fence. The events'
    additive schema widening happens before the read, so old files come
    back null-filled in the new columns."""
    new_schema = None
    fences = []
    if events is not None:
        delta, obs = _delta_rows(events, key)
        new_schema = table.evolved_schema(delta.schema)
        if new_schema is not None:
            table._commit.schema_json = new_schema.json()
        fences.append({"fence_key": events_fence[0], "epoch_id": events_fence[1]})
    df = table.read(files=files, include_hidden=True)
    if events is not None:
        df = df.unionByName(delta, allowMissingColumns=True)
    winners, clustered = _dedupe_for_table(table, df, key, "_lsn", on_null=on_null)
    if not keep_tombstones:
        winners = winners.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
    added, _ = table.write_data_files(winners, arrange=not clustered)
    if events is not None:
        applied.update(_observed(obs))
    if fence_key is not None:
        fences.append({"fence_key": fence_key, "epoch_id": epoch_id})
    return table.commit(
        added,
        remove_paths={f.path for f in files},
        epoch=fences,
        new_schema=new_schema,
        metrics={"applied": applied, "mode": mode},
    )


def _unapplied(
    table: LakeTable, events: DataFrame | None, events_fence: tuple[str, int] | None
) -> DataFrame | None:
    """``events``, or None when their fence is already in the log:
    re-applying them would leave duplicate (key, lsn) rows, which winner
    selection keeps both of."""
    if events is None:
        return None
    if events_fence is None:
        raise ValueError("events need their events_fence (fence_key, epoch_id)")
    return None if table.epoch_already_applied(*events_fence) else events


def _partitions_of(table: LakeTable, events: DataFrame) -> set[tuple]:
    """The (spec_id, sorted partition items) groups ``events`` would be
    written to under the current spec, in the manifest's string form. One
    global collect_set job over the events' partition values: a partial set
    per task and a single final task, no shuffle-partition fan-out."""
    spec = table.partition_spec
    if not spec:
        return {(table.spec_id, ())}
    values = F.struct(
        *[
            F.coalesce(p.expr_fn(p.source).cast("string"), F.lit(HIVE_NULL)).alias(p.name)
            for p in spec
        ]
    )
    rows = events.select(F.collect_set(values).alias("v")).first()["v"]
    return {(table.spec_id, tuple(sorted(r.asDict().items()))) for r in rows}


def compact_partitions(
    table: LakeTable,
    key: list[str] | None = None,
    min_files: int = 8,
    fence_key: str | None = None,
    epoch_id: int | None = None,
    keep_tombstones: bool = True,
    on_null: str = "error",
    events: DataFrame | None = None,
    events_fence: tuple[str, int] | None = None,
) -> Commit | None:
    """Partition-selective compaction: collapse versions only in partitions
    holding ≥ ``min_files`` data files — the bounded-I/O form a 100 TB MoR
    table actually runs (``compact_latest``'s whole-table rewrite is the
    small-table / migration tool; at scale compaction must touch only the
    hot buckets the ingest skew keeps appending to).

    Correctness does not depend on partition semantics at all: the dedupe is
    max-``_lsn`` restricted to the SELECTED FILES, and any row it discards
    is dominated by a same-key higher-lsn row inside the selection — which
    dominates it globally too, so ``read_state``'s global winner selection
    is unchanged. A key whose global winner lives in an unselected file may
    keep a locally-winning stale version; the read-time contest still picks
    the global winner. Old-spec files in a selected group get rewritten
    under the current spec as a side effect (incremental layout migration).

    ``events`` folds an epoch into the compaction — see ``compact_latest``.
    Each partition the events touch counts one file more, the file their
    append would have added there (one job over the events, run only when
    some partition is one file short), so a partition qualifies exactly
    when it would after append_delta. The events' rows join the dedupe
    whichever partitions they fall in (the argument above holds for
    selection ∪ events). When no partition qualifies this returns None and
    the events are NOT applied; the caller appends them
    (``compact_with_epoch`` does).

    Cost: O(selected partitions), one dedupe shuffle over their rows. Files
    grouped by (spec_id, partition tuple) — stale pre-evolution partition
    values only affect GROUPING granularity, never correctness."""
    key = key or TRANSCRIPT_KEY
    if fence_key is not None and epoch_id is not None:
        if table.epoch_already_applied(fence_key, epoch_id):
            return None
    events = _unapplied(table, events, events_fence)
    groups: dict[tuple, list] = {}
    for f in table.files:
        groups.setdefault((f.spec_id, tuple(sorted(f.partition.items()))), []).append(f)
    # only a partition one file short needs the events' partitions: the
    # file their append would have added is what makes it qualify
    short = any(len(g) == min_files - 1 for g in groups.values())
    touched = _partitions_of(table, events) if events is not None and short else set()
    chosen = [g for p, g in groups.items() if len(g) + (p in touched) >= min_files]
    if not chosen:
        return None
    selected = [f for g in chosen for f in g]
    applied = {
        "compacted_files": len(selected),
        "compacted_partitions": len(chosen),
        "skipped_files": len(table.files) - len(selected),
    }
    return _compact(
        table, selected, key, fence_key, epoch_id, keep_tombstones, on_null,
        events, events_fence, applied, "mor-compact-partitions",
    )


def compact_latest(
    table: LakeTable,
    key: list[str] | None = None,
    fence_key: str | None = None,
    epoch_id: int | None = None,
    keep_tombstones: bool = True,
    on_null: str = "error",
    events: DataFrame | None = None,
    events_fence: tuple[str, int] | None = None,
) -> Commit | None:
    """Collapse every key to its winning version; rewrites the whole current
    file set (the MoR analog of the CoW epoch rewrite, paid once per K
    epochs instead of every epoch). Tombstones are kept by default so the
    lsn fence against stale out-of-order inserts survives compaction; drop
    them only past the feed's out-of-order horizon (see vacuum_tombstones).

    ``events`` folds an epoch's raw events into the compaction instead of
    appending them first; ``events_fence`` (fence_key, epoch_id) must come
    with them. They are projected exactly as ``append_delta`` projects them
    (the commit's ``applied`` carries the same delta_upsert/delta_delete
    counts), join the winner selection, and the one commit records
    ``events_fence`` ahead of the compaction fence. An events fence already
    in the log drops the events (the epoch was applied by an earlier
    append) and the compaction runs alone. Returns None when the compaction
    fence is already in the log (the events are then not applied either)
    or there is nothing to do.
    """
    key = key or TRANSCRIPT_KEY
    if fence_key is not None and epoch_id is not None:
        if table.epoch_already_applied(fence_key, epoch_id):
            return None
    events = _unapplied(table, events, events_fence)
    files = table.files
    if not files and events is None:
        return None
    return _compact(
        table, files, key, fence_key, epoch_id, keep_tombstones, on_null,
        events, events_fence, {"compacted_files": len(files)}, "mor-compact",
    )


def compact_with_epoch(
    table: LakeTable,
    events: DataFrame,
    fence_key: str,
    epoch_id: int,
    compact_fence_key: str,
    compact_epoch_id: int,
    key: list[str] | None = None,
    min_files: int | None = None,
    dedupe: bool = False,
    on_null: str = "error",
) -> MergeResult:
    """Apply a compaction epoch: ``events`` (fenced by (fence_key,
    epoch_id)) folded into the periodic compaction (fenced by
    (compact_fence_key, compact_epoch_id)) — whole-table ``compact_latest``,
    or ``compact_partitions`` when ``min_files`` is set — as one commit. The
    batch pipeline and the streaming runner call this on every K-th epoch
    instead of ``append_delta``.

    Returns the epoch's MergeResult with the same applied counts
    ``append_delta`` would report. When the compaction does not take the
    events, they go through ``append_delta`` (with ``dedupe``), which is
    what the append-then-compact path did with them:
    - no partition qualifies on the ``min_files`` route: a plain append, and
      no compaction commit;
    - the events' fence is already in the log: ``skipped_epoch``. That is a
      replay after the fused commit (no new version), or a resume after an
      append-then-compact run died between its two commits (the compaction
      runs once, the events are not re-applied)."""
    kw = dict(
        key=key, fence_key=compact_fence_key, epoch_id=compact_epoch_id,
        on_null=on_null, events=events, events_fence=(fence_key, epoch_id),
    )
    if min_files is not None:
        commit = compact_partitions(table, min_files=min_files, **kw)
    else:
        commit = compact_latest(table, **kw)
    if commit is None or (fence_key, epoch_id) not in commit.fences:
        return append_delta(
            table, events, key=key, fence_key=fence_key, epoch_id=epoch_id,
            dedupe=dedupe, on_null=on_null,
        )
    applied = commit.metrics["applied"]
    return MergeResult(
        commit=commit,
        applied={k: applied[k] for k in ("delta_upsert", "delta_delete") if k in applied},
    )
