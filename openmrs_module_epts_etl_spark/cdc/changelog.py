"""Row-level changelog between two table versions (snapshot diff).

The Delta-CDF / Iceberg-``create_changelog_view`` analog for this lake
format, and the exact-row-granularity upgrade of ``mor.table_changes_as_feed``
(which is file-granular and MoR-only). It closes the reference's
CHANGED/NEW_RECORDS_DETECTOR loop from the *lake side*
(api:changedrecordsdetector/engine/ChangedRecordsDetectorProcessor.java:26-71
emits detected_record_info rows for the next stage; here any downstream
pipeline can ask "what changed between version A and version B" and get back
typed change rows): INSERT / DELETE / UPDATE_PREIMAGE / UPDATE_POSTIMAGE.

Works uniformly on copy-on-write and merge-on-read tables because both stamp
``_lsn`` / ``_deleted`` on every row (cdc/merge.py, cdc/mor.py): the visible
state at a version is "max-``_lsn`` winner per key, tombstones hidden", so
the diff of two versions is the diff of two winner sets.

100 TB design — the diff never touches the unchanged bulk of the table:

1. **File symmetric difference** (driver-side, manifest metadata only):
   files added/removed between the two commits. Files common to both
   versions are byte-identical (data files are immutable) — only the
   difference can carry change.
2. **Touched keys**: one scan of ONLY the differing files yields the key set
   that can possibly have changed.
3. **One fused pruned read**: each version's candidate file list is pruned
   three ways — same-spec bucket partitions not touched by any differing
   file are skipped (every version of a key lands in the same key-derived
   bucket), per-file key-column min/max stats against the touched-key bounds
   skip further (sound under any spec / ts mutation) — and then the UNION of
   the two lists is scanned ONCE with per-row version-membership flags
   (files common to both versions are immutable, so their rows belong to
   both sides; scanning them twice, as the earlier two-``state()`` form did,
   paid double I/O and double winner aggregation for identical bytes).
4. One narrow aggregation over (key, _lsn, flags) computes BOTH versions'
   winner stamps side by side (``max(when(in_a, _lsn))`` /
   ``max(when(in_b, _lsn))`` — map-side combined, ~32-byte rows), a
   null-safe ``left_semi`` against the touched keys makes the result exact
   regardless of how much file pruning applied, and a single join-back
   re-attaches the winning rows' payloads. Classification happens on the
   narrow winner frame; pre/post images explode from the matched payload
   rows directly — no full-outer join, no second payload shuffle (the
   winner frame is touched-keys-sized, so AQE broadcasts it).

Cost is O(changed data + key-matched slices of both snapshots), the same
order as Delta's CDF-less changelog path; a compaction- or clustering-only
interval diffs to zero rows (state is invariant under relayout), which the
tests assert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..functions._cache import cycle_persist, release
from ..lake.table import Commit, DataFile, LakeTable, file_may_match
from .schemas import TRANSCRIPT_KEY

CHANGE_TYPE_COL = "_change_type"
CHANGE_TYPES = ("insert", "delete", "update_preimage", "update_postimage")


def _pruned_files(
    commit: Commit,
    changed: list[DataFile],
    changed_buckets: dict[str, set] | None,
    key_bounds: list[tuple[str, str, object]],
    cur_spec_id: int,
) -> list[DataFile]:
    """Candidate files of one version that may hold a touched key.

    Bucket pruning applies only to files laid out under the CURRENT spec
    (stale partition values on older-spec files — same soundness rule as
    LakeTable.read's partition_filter); stats pruning applies to every file
    (column min/max stay valid across spec evolution)."""
    out = []
    for f in commit.files:
        if (
            changed_buckets is not None
            and f.spec_id == cur_spec_id
            and any(
                f.partition.get(name) not in vals
                for name, vals in changed_buckets.items()
                if f.partition.get(name) is not None
            )
        ):
            continue
        if key_bounds and not file_may_match(f, key_bounds):
            continue
        out.append(f)
    return out


def snapshot_diff(
    table: LakeTable,
    from_version: int,
    to_version: int | None = None,
    key: list[str] | None = None,
) -> DataFrame:
    """Exact row-level changes between two versions of a CDC-maintained table.

    Returns one row per change: the table's user-facing payload columns plus
    ``_lsn`` (the emitted row's version stamp) and ``_change_type`` ∈
    {insert, delete, update_preimage, update_postimage}. ``update_preimage``
    carries the *old* row (version ``from_version``'s winner); ``insert``
    and ``update_postimage`` carry the new; ``delete`` carries the old row's
    payload stamped with the DELETING event's lsn (the retained tombstone's
    — falling back to the pre-image lsn if the tombstone was vacuumed), so
    a replayed delete survives a downstream lsn guard. A key whose
    winner is identical in both versions (same ``_lsn``) emits nothing —
    rewrites that only move rows between files (compaction, clustering,
    z-order, spec migration) therefore diff to zero rows.

    Per-epoch changelogs are ``snapshot_diff(table, v, v + 1)``; for the
    cheap MoR-delta tailing shape see ``mor.table_changes_as_feed``. Both
    versions must still be retained (maintenance.expire_snapshots).
    """
    key = list(key or TRANSCRIPT_KEY)
    to_version = table.version if to_version is None else to_version
    if to_version < from_version:
        raise ValueError(f"to_version {to_version} < from_version {from_version}")
    ca = table._load_commit(from_version)
    cb = table._load_commit(to_version)
    schema = table.schema
    names = {f.name for f in schema.fields}
    if "_lsn" not in names or "_deleted" not in names:
        raise ValueError(
            "snapshot_diff requires a CDC-maintained table (_lsn/_deleted columns)"
        )
    for k in key:
        if k not in names:
            raise ValueError(f"unknown key column {k!r}")
    payload = [f.name for f in schema.fields if not f.name.startswith("_")]
    has_origin = "_origin" in names
    out_schema = StructType(
        [schema[c] for c in payload]
        + [schema["_lsn"]]
        + ([schema["_origin"]] if has_origin else [])
        + [StructField(CHANGE_TYPE_COL, StringType(), False)]
    )

    pa = {f.path for f in ca.files}
    pb = {f.path for f in cb.files}
    changed = [f for f in cb.files if f.path not in pa] + [
        f for f in ca.files if f.path not in pb
    ]
    if not changed:
        return table.spark.createDataFrame([], out_schema)

    def _cap_tiny_scan(df: DataFrame, files: list[DataFile]) -> DataFrame:
        """Manifest-stats scan-partition cap for small candidate sets.

        The session floors scan parallelism (files.minPartitionNum, a
        scan-WAVE fix for the big replay levels), so a kilobyte-scale
        candidate slice still fans out into hundreds of near-empty tasks —
        and every one of them pays the shuffle writer's fixed setup
        (bypass writer: one compressed stream per reduce partition PER MAP
        TASK; profiled at sf0.1: ~0.4 s executor time per ~4 KB task,
        ~100 CPU-s per 0.9 MB stage — pure per-task cost, zero data). The
        manifest already knows the candidate row count, so cap the scan at
        ~50k rows/partition via a narrow ``coalesce`` (no shuffle). Large
        candidate sets are untouched — at scale the floor never binds."""
        est = sum(f.rows or 0 for f in files)
        if 0 < est <= 4_000_000:
            return df.coalesce(max(int(est) // 50_000 + 1, 4))
        return df

    # touched keys: one scan of only the differing files (persisted — reused
    # by the bounds probe and both semi-joins, then recycled next call).
    # SHORTCUT: when the two versions share NO data file (epoch-over-epoch
    # CoW diffs after a near-full rewrite, or any diff from version 0), the
    # candidate files below are exactly the union of both full file sets and
    # every key in them is by definition "touched" — the touched-set
    # restriction is a provable no-op, so its scan job, bounds collect, and
    # semi-join are skipped outright (unchanged keys still vanish in the
    # classification filter; profiled at sf0.1 this was ~3 s of pure
    # fixed cost on a 42k-row diff).
    full_diff = not (pa & pb)
    key_bounds: list[tuple[str, str, object]] = []
    if full_diff:
        # nothing to persist here — and nothing an earlier partial diff
        # persisted may stay cached either
        release("snapshot_diff.touched")
        touched = None
    else:
        touched = cycle_persist(
            "snapshot_diff.touched",
            _cap_tiny_scan(
                table.read(files=changed, include_hidden=True).select(*key).distinct(),
                changed,
            ),
        )

        # driver-side pruning hints: len(key) min/max scalar pairs (bounded
        # collect) + the bucket partition values of the changed files
        # (manifest metadata, no I/O)
        bounds_row = touched.agg(
            *[F.min(k).alias(f"lo_{k}") for k in key],
            *[F.max(k).alias(f"hi_{k}") for k in key],
        ).collect()[0]
        for k in key:
            if bounds_row[f"lo_{k}"] is not None:
                key_bounds += [
                    (k, ">=", bounds_row[f"lo_{k}"]),
                    (k, "<=", bounds_row[f"hi_{k}"]),
                ]

    cur = table._commit.spec_id
    changed_buckets: dict[str, set] | None = None
    if ca.spec_id == cur == cb.spec_id and all(f.spec_id == cur for f in changed):
        # every version of a key shares its key-derived bucket value, so the
        # buckets present in the changed files are the only buckets any
        # touched key can live in — regardless of ts-derived fields moving
        bucket_fields = [
            pf.name
            for pf in table.partition_spec
            if pf.transform.startswith("bucket(") and pf.source in key
        ]
        if bucket_fields:
            changed_buckets = {
                name: {f.partition.get(name) for f in changed} for name in bucket_fields
            }

    # ---- fused pruned read: union of both versions' candidate files, each
    # file scanned ONCE with membership flags (a file common to both commits
    # is byte-identical in both — the earlier two-`state()` form scanned the
    # common set twice and ran a separate winner agg + semi + join-back per
    # side, roughly doubling the fixed job-chain overhead on small diffs)
    files_a = _pruned_files(ca, changed, changed_buckets, key_bounds, cur)
    files_b = _pruned_files(cb, changed, changed_buckets, key_bounds, cur)
    paths_a = {f.path for f in files_a}
    paths_b = {f.path for f in files_b}

    def _read_flagged(files: list[DataFile], in_a: bool, in_b: bool) -> DataFrame | None:
        if not files:
            return None
        return table.read(files=files, include_hidden=True).select(
            "*", F.lit(in_a).alias("__in_a"), F.lit(in_b).alias("__in_b")
        )

    parts = [
        p
        for p in (
            _read_flagged([f for f in files_a if f.path in paths_b], True, True),
            _read_flagged([f for f in files_a if f.path not in paths_b], True, False),
            _read_flagged([f for f in files_b if f.path not in paths_a], False, True),
        )
        if p is not None
    ]
    if not parts:
        return table.spark.createDataFrame([], out_schema)
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionByName(p)
    rows = _cap_tiny_scan(
        rows,
        [f for f in files_a] + [f for f in files_b if f.path not in paths_a],
    )

    # ---- one narrow winner aggregation computes BOTH versions' stamps:
    # per-key max is independent of other keys, so aggregate-then-restrict
    # ≡ restrict-then-aggregate; the agg input is (key, _lsn, deleted,
    # origin, flags) — map-side combined, never the payload. ``max_by``
    # pulls the winning row's tombstone flag / origin alongside the stamp
    # (its (value, ordering) buffer is flat fixed-width, so this stays a
    # HashAggregate; rows whose ordering is NULL — the other side's — are
    # skipped). NOTE the _lsn non-null contract: every CDC write path stamps
    # _lsn from the feed's lsn, so a NULL _lsn cannot name a winner.
    deleted = F.coalesce(F.col("_deleted"), F.lit(False))
    w = (
        rows.select(*key, "_lsn", deleted.alias("__del"), "__in_a", "__in_b")
        .groupBy(*key)
        .agg(
            F.max(F.when(F.col("__in_a"), F.col("_lsn"))).alias("__a_lsn"),
            F.max(F.when(F.col("__in_b"), F.col("_lsn"))).alias("__b_lsn"),
            F.max_by(F.col("__del"), F.when(F.col("__in_a"), F.col("_lsn"))).alias("__a_del"),
            F.max_by(F.col("__del"), F.when(F.col("__in_b"), F.col("_lsn"))).alias("__b_del"),
        )
    )
    # clip to the touched keys (null-safe — groupBy keeps NULL-key groups,
    # so the restriction must too); exactness no longer depends on how much
    # file pruning applied. Skipped on a full diff (see the shortcut above).
    if touched is not None:
        cond = None
        t = touched
        for k in key:
            e = w[k].eqNullSafe(t[k])
            cond = e if cond is None else cond & e
        w = w.join(t, cond, "left_semi")

    # classify on the narrow frame and DROP unchanged keys before the
    # join-back — the build side carries only keys that will emit rows
    alive_a = F.col("__a_lsn").isNotNull() & ~F.coalesce(F.col("__a_del"), F.lit(False))
    alive_b = F.col("__b_lsn").isNotNull() & ~F.coalesce(F.col("__b_del"), F.lit(False))
    w = w.withColumn(
        "__cls",
        F.when(~alive_a & alive_b, F.lit("I"))
        .when(alive_a & ~alive_b, F.lit("D"))
        .when(alive_a & alive_b & (F.col("__a_lsn") != F.col("__b_lsn")), F.lit("U")),
    ).filter(F.col("__cls").isNotNull())

    if has_origin:
        # b-side tombstone origins, needed only to stamp deletes. Kept OUT of
        # the winner aggregation above: a string-valued max_by buffer
        # disqualifies Tungsten hash aggregation, and one such function
        # demotes the WHOLE aggregate to SortAggregate — sorting the narrow
        # frame on both sides of its exchange (observed in the physical
        # plan; max/max_by over long/boolean buffers stay HashAggregate).
        # This side aggregate sorts only the b-side tombstone rows —
        # O(deletes in the candidate slice), not O(candidates) — and
        # left-joins onto the already changed-keys-only winner frame.
        # fresh key aliases (__bo_*) give the aggregate output new attribute
        # ids, so the w ⋈ borig self-join lineage stays unambiguous
        borig = (
            rows.filter(F.col("__in_b") & deleted)
            .select(
                *[F.col(k).alias(f"__bo_{k}") for k in key], "_lsn", "_origin"
            )
            .groupBy(*[f"__bo_{k}" for k in key])
            .agg(F.max_by(F.col("_origin"), F.col("_lsn")).alias("__b_origin"))
        )
        oc = None
        for k in key:
            e = w[k].eqNullSafe(borig[f"__bo_{k}"])
            oc = e if oc is None else oc & e
        w = w.join(borig, oc, "left").drop(*[f"__bo_{k}" for k in key])

    # ---- single join-back re-attaches the winning payload rows (either
    # side's); the winner frame is touched-keys-sized, so AQE demotes the
    # shuffle-hash to broadcast on small diffs
    wj = w.hint("shuffle_hash")
    jc = None
    for k in key:
        e = rows[k].eqNullSafe(wj[k])
        jc = e if jc is None else jc & e
    is_aw = F.col("__in_a") & rows["_lsn"].eqNullSafe(wj["__a_lsn"])
    is_bw = F.col("__in_b") & rows["_lsn"].eqNullSafe(wj["__b_lsn"])
    m = rows.join(wj, jc & (is_aw | is_bw), "inner")

    def chg(ctype: str, lsn: F.Column, origin: F.Column | None) -> F.Column:
        """Change struct: payload from the matched winner row, version stamp
        (_lsn/_origin) as passed. A delete's payload is the pre-image (side
        a's winner) but its stamp is the DELETION — side b's tombstone —
        falling back to the pre-image stamp only when the tombstone was
        vacuumed: a downstream replay (changes_as_feed → lsn-guarded MERGE)
        must see the delete as newer than the row it removes, or the guard
        would skip it."""
        return F.struct(
            *[rows[k].alias(k) for k in key],
            *[rows[c].alias(c) for c in payload if c not in key],
            lsn.alias("_lsn"),
            *([origin.alias("_origin")] if has_origin else []),
            F.lit(ctype).alias(CHANGE_TYPE_COL),
        )

    row_origin = rows["_origin"] if has_origin else None
    del_origin = (
        F.coalesce(wj["__b_origin"], rows["_origin"]) if has_origin else None
    )
    cls = wj["__cls"]
    changes = (
        F.when(is_bw & (cls == "I"), F.array(chg("insert", rows["_lsn"], row_origin)))
        .when(
            is_aw & (cls == "D"),
            F.array(chg("delete", F.coalesce(wj["__b_lsn"], rows["_lsn"]), del_origin)),
        )
        .when(is_aw & (cls == "U"), F.array(chg("update_preimage", rows["_lsn"], row_origin)))
        .when(is_bw & (cls == "U"), F.array(chg("update_postimage", rows["_lsn"], row_origin)))
    )
    # explode skips null arrays — a matched row whose side doesn't emit for
    # its class (e.g. the b-side tombstone of a delete) vanishes here
    out = m.select(F.explode(changes).alias("__c")).select("__c.*")
    return out


def changes_as_feed(
    table: LakeTable,
    from_version: int,
    to_version: int | None = None,
    key: list[str] | None = None,
) -> DataFrame:
    """The snapshot diff re-expressed in the engine's change-event contract
    (op/lsn/origin-less feed rows) so a downstream CdcPipeline can replay it:
    insert/update_postimage → op='U' with the new payload, delete → op='D'
    (payload from the pre-image, as binlogs do). Preimages are folded away —
    a feed consumer only needs the post-state and the delete keys."""
    d = snapshot_diff(table, from_version, to_version, key=key)
    keep = d.filter(F.col(CHANGE_TYPE_COL) != "update_preimage")
    payload = [c for c in d.columns if c not in ("_lsn", "_origin", CHANGE_TYPE_COL)]
    origin = (
        F.col("_origin") if "_origin" in d.columns else F.lit(None).cast("string")
    )
    return keep.select(
        F.when(F.col(CHANGE_TYPE_COL) == "delete", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("_lsn").alias("lsn"),
        origin.alias("origin"),
        *payload,
    )
