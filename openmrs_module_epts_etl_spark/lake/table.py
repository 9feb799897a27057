"""A minimal ACID table format over parquet ("lake table").

No Iceberg/Delta jars exist in this environment, so the engine ships its own
Iceberg-shaped table format, built from scratch:

- **Commit log**: ``_commits/{version:020d}.json`` files; each commit is the
  complete snapshot (schema + file manifest + lineage metrics + epoch fence).
  A commit is published with an atomic ``os.rename`` — readers either see the
  old snapshot or the new one, never a partial write (same atomicity trick the
  reference uses for export files: ``.tmp`` → ``.json`` rename,
  api:export/processor/DBExportProcessor.java:84-96).
- **Snapshot isolation / time travel**: ``LakeTable(spark, path, version=N)``
  reads any retained snapshot.
- **Partition-level copy-on-write**: commits replace whole files; the merge
  path rewrites only files in affected partitions (see cdc/merge.py).
- **Additive schema evolution**: a commit may carry a wider schema; old files
  are read through the new schema (missing columns → null), mirroring Iceberg
  ``ALTER TABLE ADD COLUMN`` + the reference's flat additive model
  (SURVEY.md §1.3).
- **Epoch fencing**: each commit can record one or more
  ``(fence_key, epoch_id)`` fences (a MoR compaction epoch records both the
  epoch's and the compaction's); re-applying an already-committed epoch is
  a detectable no-op. This replaces
  the reference's interval-checkpoint files + finished-markers
  (api:engine/record_intervals_manager/ThreadRecordIntervalsManager.java:227-254)
  and gives exactly-once sink semantics under foreachBatch replay.

Scale notes: the file manifest is PAGED like Iceberg's manifest lists — a
commit JSON carries references to immutable manifest files
(``_commits/manifests/m-*.json``, ≤ ``_MANIFEST_MAX_FILES`` entries each)
instead of an inline file list. Committing reuses every page untouched by
the commit verbatim, so metadata write amplification is O(files changed +
dirty pages), not O(table) — at 800 k files (≈100 TB of 128 MB files) an
epoch append writes one new page and one small commit JSON, never a
160 MB manifest rewrite. Each page reference carries a per-column min/max
summary unioned over its files, so predicate reads skip whole *pages*
before parsing them (two-level pruning: page summary → per-file stats).
Data reads/writes are fully distributed Spark parquet jobs; the driver only
touches metadata.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from dataclasses import dataclass
from typing import Callable, Iterable
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .partitioning import PartitionField, from_json as spec_from_json

_COMMITS = "_commits"
_DATA = "data"
_MANIFEST_DIR = os.path.join(_COMMITS, "manifests")
# page size: 5k files/page keeps a page ≈1 MB of JSON; a 100 TB table is
# ~160 pages, and a typical epoch commit touches 1-2 of them
_MANIFEST_MAX_FILES = 5000
# small-page compaction: when a commit would carry ≥ this many pages smaller
# than _MANIFEST_SMALL_FILES, they are merged (Iceberg's manifest rewrite) so
# a long run of tiny epoch appends can't grow the page list unboundedly
_MANIFEST_SMALL_FILES = 256
_MANIFEST_COMPACT_MIN_PAGES = 8

# Immutable once published, so a process-wide cache is sound; bounded crudely
# (cleared when oversized) because entries are only ~1 MB each at the cap.
_MANIFEST_CACHE: dict[str, list["DataFile"]] = {}
_MANIFEST_CACHE_MAX = 1024


@dataclass
class DataFile:
    path: str                      # relative to table root
    partition: dict[str, str]      # partition col -> hive string value
    rows: int
    # Per-column [min, max] harvested from the parquet footer at write time —
    # the manifest-level data-skipping stats Iceberg keeps per data file.
    # Values are JSON-safe (numbers/strings/bools; timestamps as ISO strings,
    # which order lexicographically). A column absent here means "unknown" and
    # never causes a skip. None on manifests written before stats existed.
    stats: dict[str, list] | None = None
    # Which partition spec this file was laid out under (Iceberg's per-file
    # spec-id). Partition-value pruning is only sound against files of the
    # CURRENT spec — a file written before evolve_partition_spec has stale
    # (or same-named but differently-derived, e.g. rebucketed) partition
    # values and must be treated as may-match. Column stats above stay valid
    # across evolution regardless.
    spec_id: int = 0

    def to_json(self) -> dict:
        d = {"path": self.path, "partition": self.partition, "rows": self.rows}
        if self.stats:
            d["stats"] = self.stats
        if self.spec_id:
            d["spec_id"] = self.spec_id
        return d

    @staticmethod
    def from_json(d: dict) -> "DataFile":
        return DataFile(
            d["path"], d["partition"], d["rows"], d.get("stats"), d.get("spec_id", 0)
        )


# ------------------------------------------------------- data skipping stats
# predicate ops supported for manifest-level file skipping; anything else
# must be expressed as a plain df.filter (no skipping, still correct)
_SKIP_OPS = ("=", "<", "<=", ">", ">=")
_STATS_MAX_COLS = 16

# SparkSession conf is process-global; write_data_files temporarily overrides
# two confs (parquet timestamp type, AQE advisory size) around its write.
# Parallel items (process.py) share one session — without a guard, racing
# set/restore pairs can leave a temp value permanently set or revert another
# thread's in-flight write to INT96 (blinding its stats). The lock serializes
# only the conf-sensitive write stage; reads/planning elsewhere is unaffected.
_WRITE_CONF_LOCK = threading.Lock()


def _norm_stat_value(v):
    """JSON-safe, order-preserving encoding shared by harvest and compare."""
    import datetime as _dt

    if hasattr(v, "isoformat"):  # datetime / pandas.Timestamp / date
        if getattr(v, "tzinfo", None) is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    return v


def _stats_may_match(stats: dict | None, where: list[tuple[str, str, object]]) -> bool:
    """Can anything covered by ``stats`` satisfy ALL predicates? Conservative:
    unknown stats (missing column entry, pre-stats manifest, incomparable
    types) never skip. Each predicate is checked independently, which is
    sound for a conjunction: skipped only when some single predicate is
    unsatisfiable by every covered row. Shared by per-file skipping and
    manifest-page skipping (a page summary is the union of its files)."""
    for col, op, val in where:
        st = (stats or {}).get(col)
        if not st or val is None:
            continue
        mn, mx = st
        v = _norm_stat_value(val)
        try:
            if (
                (op == "=" and (v < mn or v > mx))
                or (op == ">" and mx <= v)
                or (op == ">=" and mx < v)
                or (op == "<" and mn >= v)
                or (op == "<=" and mn > v)
            ):
                return False
        except TypeError:
            continue  # mixed types — treat as unknown
    return True


def _fence_list(epoch: dict | list[dict] | None) -> list[dict]:
    """The ``{"fence_key", "epoch_id"}`` dicts a commit carries: ``epoch``
    may name one fence or several; entries without a fence_key fence
    nothing."""
    if not epoch:
        return []
    es = [epoch] if isinstance(epoch, dict) else list(epoch)
    return [e for e in es if e and e.get("fence_key") is not None]


def _apply_commit_fences(fences: set, c: "Commit") -> None:
    """Fold one commit into an accumulating fence set, in log order: a
    rollback commit drops the fences it invalidates and restores the ones it
    revalidates; an epoch commit adds every fence it carries. Shared by the
    live-history scan (epoch_already_applied), rollback_to_version (fence set
    at the target vs at the head) and snapshot expiration (which replays the
    same semantics into the sidecar)."""
    m = c.metrics or {}
    if m.get("operation") == "rollback":
        for e in m.get("invalidated_fences") or []:
            fences.discard((e[0], e[1]))
        for e in m.get("revalidated_fences") or []:
            fences.add((e[0], e[1]))
    fences.update(c.fences)


def file_may_match(f: DataFile, where: list[tuple[str, str, object]]) -> bool:
    return _stats_may_match(f.stats, where)


@dataclass
class ManifestRef:
    """Commit-side reference to one immutable manifest page."""

    path: str                      # relative to table root
    n_files: int
    rows: int
    # per-column [min, max] unioned over the page's files; a column appears
    # only when EVERY file in the page has usable stats for it (otherwise the
    # page's range is unknown and must never cause a skip)
    stats: dict[str, list] | None = None

    def to_json(self) -> dict:
        d = {"path": self.path, "n_files": self.n_files, "rows": self.rows}
        if self.stats:
            d["stats"] = self.stats
        return d

    @staticmethod
    def from_json(d: dict) -> "ManifestRef":
        return ManifestRef(d["path"], d["n_files"], d["rows"], d.get("stats"))


def _page_summary(files: list[DataFile]) -> dict[str, list] | None:
    agg: dict[str, list] | None = None
    for f in files:
        if not f.stats:
            return None
        if agg is None:
            agg = {c: list(v) for c, v in f.stats.items()}
            continue
        for c in list(agg):
            st = f.stats.get(c)
            if st is None:
                del agg[c]
                continue
            try:
                agg[c][0] = min(agg[c][0], st[0])
                agg[c][1] = max(agg[c][1], st[1])
            except TypeError:
                del agg[c]
    return agg or None


def _load_manifest(table_path: str, rel: str) -> list[DataFile]:
    full = os.path.join(table_path, rel)
    got = _MANIFEST_CACHE.get(full)
    if got is None:
        with open(full) as fh:
            got = [DataFile.from_json(d) for d in json.load(fh)]
        if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
            _MANIFEST_CACHE.clear()
        _MANIFEST_CACHE[full] = got
    return got


def _write_manifests(table_path: str, files: list[DataFile]) -> list[ManifestRef]:
    """Write ``files`` as one or more immutable manifest pages (chunked at
    _MANIFEST_MAX_FILES) and return their refs. Pages are published with the
    same tmp→rename trick as commits; uuid names cannot collide, so a page is
    durable the moment it is renamed (an OCC-losing commit's pages become
    orphans, swept by maintenance.remove_orphan_files)."""
    if not files:
        return []
    os.makedirs(os.path.join(table_path, _MANIFEST_DIR), exist_ok=True)
    refs = []
    for i in range(0, len(files), _MANIFEST_MAX_FILES):
        chunk = files[i : i + _MANIFEST_MAX_FILES]
        rel = os.path.join(_MANIFEST_DIR, f"m-{uuid.uuid4().hex[:16]}.json")
        full = os.path.join(table_path, rel)
        tmp = full + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump([f.to_json() for f in chunk], fh)
        os.rename(tmp, full)
        _MANIFEST_CACHE[full] = chunk
        refs.append(
            ManifestRef(rel, len(chunk), sum(f.rows for f in chunk), _page_summary(chunk))
        )
    return refs


class Commit:
    """One snapshot. ``files`` stays the universal in-memory API (every
    consumer — merge, MoR, maintenance, tests — reads it), but on disk the
    list lives in immutable manifest pages referenced by ``manifests``;
    resolution is lazy and per-page, so a predicate read that skips a page
    via its summary never parses it."""

    def __init__(
        self,
        version: int,
        schema_json: str,
        partition_spec: list[dict],
        files: list[DataFile] | None = None,
        # {"fence_key": str, "epoch_id": int}, or a list of them
        epoch: dict | list[dict] | None = None,
        metrics: dict | None = None,     # lineage/applied counts for this commit
        parent: int | None = None,
        properties: dict | None = None,
        manifests: list[ManifestRef] | None = None,
        table_path: str | None = None,
        spec_id: int = 0,
    ):
        if files is None and manifests is None:
            raise ValueError("Commit needs files or manifests")
        self.version = version
        self.schema_json = schema_json
        self.partition_spec = partition_spec
        self.spec_id = spec_id
        self._fence_dicts = _fence_list(epoch)
        self.metrics = metrics
        self.parent = parent
        self.properties = properties or {}
        self.manifests = manifests
        self._table_path = table_path
        self._files = files

    @property
    def epoch(self) -> dict | None:
        """The commit's first fence (the applied epoch's, on a commit that
        carries several); see ``fences`` for all of them."""
        return self._fence_dicts[0] if self._fence_dicts else None

    @property
    def fences(self) -> list[tuple]:
        """Every (fence_key, epoch_id) this commit records."""
        return [(e["fence_key"], e.get("epoch_id")) for e in self._fence_dicts]

    @property
    def files(self) -> list[DataFile]:
        if self._files is None:
            out: list[DataFile] = []
            for ref in self.manifests or []:
                out.extend(_load_manifest(self._table_path, ref.path))
            self._files = out
        return self._files

    def iter_pages(self):
        """Yield (ref | None, load) per manifest page — ``ref`` carries the
        skip summary, ``load()`` parses the page (cached). Inline/legacy
        commits yield one ref-less page."""
        if self.manifests is not None and self._table_path is not None:
            for ref in self.manifests:
                yield ref, (lambda r=ref: _load_manifest(self._table_path, r.path))
        else:
            yield None, (lambda: self.files)

    def to_json(self) -> dict:
        d = {
            "version": self.version,
            "schema_json": self.schema_json,
            "partition_spec": self.partition_spec,
            "spec_id": self.spec_id,
            "epoch": self.epoch,
            "metrics": self.metrics,
            "parent": self.parent,
            "properties": self.properties,
        }
        if len(self._fence_dicts) > 1:
            # "epoch" keeps its one-fence shape for every reader of it
            d["extra_fences"] = self._fence_dicts[1:]
        if self.manifests is not None:
            d["manifests"] = [r.to_json() for r in self.manifests]
        else:
            d["files"] = [f.to_json() for f in self.files]
        return d

    @staticmethod
    def from_json(d: dict, table_path: str | None = None) -> "Commit":
        return Commit(
            version=d["version"],
            schema_json=d["schema_json"],
            partition_spec=d["partition_spec"],
            files=(
                [DataFile.from_json(f) for f in d["files"]] if "files" in d else None
            ),
            epoch=[d.get("epoch"), *d.get("extra_fences", [])],
            metrics=d.get("metrics"),
            parent=d.get("parent"),
            properties=d.get("properties", {}),
            manifests=(
                [ManifestRef.from_json(r) for r in d["manifests"]]
                if "manifests" in d
                else None
            ),
            table_path=table_path,
            spec_id=d.get("spec_id", 0),
        )


class CommitConflict(RuntimeError):
    """Another writer published this version first; commit() rebases and
    retries (OCC) — raised only when the conflict is not rebase-safe or
    retries are exhausted."""


class EpochAlreadyApplied(CommitConflict):
    """During an OCC rebase the refreshed log showed one of this commit's own
    (fence_key, epoch_id) fences already applied by a concurrent writer — the
    whole epoch is a duplicate, not just the version number."""


class LakeTable:
    """Handle on a lake table. Cheap to construct; state is the commit log."""

    def __init__(self, spark: SparkSession, path: str, version: int | None = None):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._commit = self._load_commit(version)
        self._fences: set[tuple] | None = None
        self._fences_at: int = -1  # log head version the fence cache reflects

    # ------------------------------------------------------------- creation
    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema: StructType,
        partition_by: list[PartitionField] | None = None,
        properties: dict | None = None,
    ) -> "LakeTable":
        path = os.path.abspath(path)
        os.makedirs(os.path.join(path, _COMMITS), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA), exist_ok=True)
        c = Commit(
            version=0,
            schema_json=schema.json(),
            partition_spec=[p.to_json() for p in (partition_by or [])],
            files=[],
            manifests=[],
            properties=properties or {},
            table_path=path,
        )
        LakeTable._write_commit(path, c)
        return LakeTable(spark, path)

    @staticmethod
    def exists(path: str) -> bool:
        d = os.path.join(os.path.abspath(path), _COMMITS)
        return os.path.isdir(d) and bool(os.listdir(d))

    # ------------------------------------------------------------- metadata
    def _commit_dir(self) -> str:
        return os.path.join(self.path, _COMMITS)

    def _versions(self) -> list[int]:
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(self._commit_dir())
            # skip sidecars (e.g. _expired_fences.json) — snapshots only
            if f.endswith(".json") and not f.startswith("_")
        )

    def _load_commit(self, version: int | None) -> Commit:
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no commits at {self.path}")
        v = versions[-1] if version is None else version
        with open(os.path.join(self._commit_dir(), f"{v:020d}.json")) as fh:
            return Commit.from_json(json.load(fh), table_path=self.path)

    def refresh(self) -> "LakeTable":
        self._commit = self._load_commit(None)
        return self

    @property
    def version(self) -> int:
        return self._commit.version

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self._commit.schema_json))

    @property
    def partition_spec(self) -> list[PartitionField]:
        return spec_from_json(self._commit.partition_spec)

    @property
    def spec_id(self) -> int:
        return self._commit.spec_id

    @property
    def files(self) -> list[DataFile]:
        return list(self._commit.files)

    def history(self) -> list[Commit]:
        return [self._load_commit(v) for v in self._versions()]

    def epoch_already_applied(self, fence_key: str, epoch_id: int) -> bool:
        """Exactly-once fence: True iff some commit already recorded this
        epoch. The fence set is cached in-memory and extended on commit, so a
        long-running pipeline pays the full commit-log scan once, not per
        epoch (the log itself stays the durable source of truth).

        The log is replayed in version order because rollback commits
        (maintenance.rollback_to_version) EDIT the fence set: they drop the
        fences of the commits they undo (so a replay re-applies those epochs
        onto the restored state) and restore fences an intermediate rollback
        had dropped. Order matters — a fence can be applied, invalidated by a
        rollback, then re-applied by the replay.

        The cache is refreshed INCREMENTALLY against the log head on every
        call (one driver-side listdir): a stale cache that merely lacks new
        fences would be conservative (the re-attempted merge dies on
        EpochAlreadyApplied at commit), but a concurrent ROLLBACK makes a
        stale cache unsafe in the other direction — it would keep reporting
        an invalidated epoch as applied and this handle would silently skip
        re-applying it forever."""
        versions = self._versions()
        head = versions[-1] if versions else -1
        if self._fences is None:
            from .maintenance import load_expired_fences

            # fences from expired snapshots survive in the sidecar — an old
            # epoch replayed after expire_snapshots must still be a no-op
            self._fences = set(load_expired_fences(self))
            self._fences_at = -1
            for v in versions:
                _apply_commit_fences(self._fences, self._load_commit(v))
            self._fences_at = head
        elif getattr(self, "_fences_at", head) < head:
            for v in versions:
                if v > self._fences_at:
                    _apply_commit_fences(self._fences, self._load_commit(v))
            self._fences_at = head
        return (fence_key, epoch_id) in self._fences

    # ----------------------------------------------------------------- read
    def read(
        self,
        files: Iterable[DataFile] | None = None,
        partition_filter: Callable[[dict[str, str]], bool] | None = None,
        include_hidden: bool = False,
        where: list[tuple[str, str, object]] | None = None,
    ) -> DataFrame:
        """Snapshot read. ``partition_filter`` prunes files driver-side (the
        analog of Iceberg partition pruning); Spark's parquet reader still does
        row-group min/max + pushdown below that. Old (pre-evolution) files are
        read through the current schema: missing columns come back null.

        ``where`` is a conjunction of simple predicates ``(col, op, value)``
        with op ∈ {=, <, <=, >, >=}. Each predicate is BOTH used to skip whole
        files via the manifest's per-file min/max stats (Iceberg data
        skipping — files never reach Spark's file index at all) AND applied
        as a real ``filter`` on the result, so semantics are exact whether or
        not a file carries stats. At 100 TB this is the difference between a
        point-lookup touching a handful of files and listing the whole table.

        The user-facing default hides engine columns (``_``-prefixed) and
        filters delete tombstones (``_deleted``); the merge path reads with
        ``include_hidden=True`` to see both.
        """
        if where:
            for col, op, _v in where:
                if op not in _SKIP_OPS:
                    raise ValueError(f"unsupported predicate op {op!r}; use {_SKIP_OPS}")
                if col not in {f.name for f in self.schema.fields}:
                    raise ValueError(f"unknown column {col!r} in where predicate")
        if files is None:
            # two-level pruning: a page whose summary excludes the predicates
            # is skipped before it is even parsed, then surviving pages prune
            # per file
            sel = []
            for ref, load in self._commit.iter_pages():
                if where and ref is not None and not _stats_may_match(ref.stats, where):
                    continue
                sel.extend(load())
        else:
            sel = list(files)
        if partition_filter is not None:
            # partition-value pruning is only sound against files laid out by
            # the CURRENT spec; pre-evolution files (older spec_id) have stale
            # partition values — possibly same-named but differently derived
            # (rebucketing) — so they always survive the filter. Column-stats
            # `where` skipping below is layout-independent and still applies.
            cur = self._commit.spec_id
            sel = [f for f in sel if f.spec_id != cur or partition_filter(f.partition)]
        if where:
            sel = [f for f in sel if file_may_match(f, where)]
        schema = self.schema
        if not sel:
            df = self.spark.createDataFrame([], schema)
        else:
            paths = [os.path.join(self.path, f.path) for f in sel]
            df = self.spark.read.schema(schema).parquet(*paths)
        if where:
            ops: dict[str, Callable] = {
                "=": lambda c, v: c == v,
                "<": lambda c, v: c < v,
                "<=": lambda c, v: c <= v,
                ">": lambda c, v: c > v,
                ">=": lambda c, v: c >= v,
            }
            for col, op, v in where:
                df = df.filter(ops[op](F.col(col), F.lit(v)))
        if not include_hidden:
            if "_deleted" in df.columns:
                df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
            df = df.select(*[c for c in df.columns if not c.startswith("_")])
        return df

    def read_incremental(
        self, from_version: int, to_version: int | None = None, include_hidden: bool = False
    ) -> DataFrame:
        """Incremental scan: rows in data files *added* after ``from_version``
        up to ``to_version`` (default: current) — the Iceberg
        incremental-read analog, and the lake-side counterpart of the
        reference's CHANGED/NEW_RECORDS_DETECTOR (SURVEY.md §2.1): a
        downstream pipeline can tail this table as its change feed and chain.

        Granularity is file-level: exact for append-style commits (MoR
        deltas — each returned row is a newly applied event), while a
        copy-on-write rewrite returns the rewritten partitions' current rows
        (a superset of what changed). Both snapshots must still be retained
        (see maintenance.expire_snapshots).
        """
        to_version = self.version if to_version is None else to_version
        if to_version < from_version:
            raise ValueError(f"to_version {to_version} < from_version {from_version}")
        base = {f.path for f in self._load_commit(from_version).files}
        added = [f for f in self._load_commit(to_version).files if f.path not in base]
        return self.read(files=added, include_hidden=include_hidden)

    # ---------------------------------------------------------------- write
    def write_data_files(
        self, df: DataFrame, arrange: bool = True
    ) -> tuple[list[DataFile], str]:
        """Write a DataFrame as new data files laid out by the partition spec.
        Returns (files, rel_dir) — rel_dir lets a caller abort by deleting the
        written directory before anything is committed.

        Partition values are *derived* copies (``__p_<name>``) so the original
        columns stay in the parquet files — the hive directory encoding is
        layout only, and any file can be read standalone with the table schema.
        This is a distributed write; the driver only lists results after.

        ``arrange=False`` skips the pre-write repartition for callers whose
        plan already clusters rows by partition value (e.g. the merge path,
        whose dst branch is partition-pure per scan task) — the writer then
        runs exchange-free.
        """
        spec = self.partition_spec
        commit_uuid = uuid.uuid4().hex[:12]
        rel_dir = os.path.join(_DATA, f"c-{commit_uuid}")
        out_dir = os.path.join(self.path, rel_dir)

        # Project to table schema order (fills evolution gaps with nulls).
        cols = [f.name for f in self.schema.fields]
        for c in cols:
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None).cast(self.schema[c].dataType))
        df = df.select(*cols)

        writer = df
        pnames = []
        for p in spec:
            pname = f"__p_{p.name}"
            writer = writer.withColumn(pname, p.expr_fn(p.source))
            pnames.append(pname)
        if pnames and arrange:
            # Cluster rows by partition value before the partitioned write —
            # otherwise every task opens a file per partition it sees
            # (tasks × partitions small files). REBALANCE (AQE) instead of a
            # plain hash repartition: a hot partition value (one conversation
            # carrying 30% of an epoch) is *split* across several writer tasks
            # at ~advisory-size granularity, while runt partitions are merged
            # into shared tasks — a static salt can't do both, and a
            # fixed-by-key salt doesn't spread a single hot key at all (the
            # straggler that caps N→4N scaling: one task encoding a 60 MB
            # parquet group while the median task writes 5 k rows).
            writer = writer.hint("rebalance", *[F.col(p) for p in pnames])
        w = writer.write.mode("append")
        if pnames:
            w = w.partitionBy(*pnames)
        # modern timestamp encoding: Spark's default INT96 writes no usable
        # column min/max, which would blind the manifest's data-skipping
        # stats for ts columns (and INT96 is deprecated in parquet anyway)
        tstype = "spark.sql.parquet.outputTimestampType"
        advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        _WRITE_CONF_LOCK.acquire()
        prev_ts = self.spark.conf.get(tstype, None)
        self.spark.conf.set(tstype, "TIMESTAMP_MICROS")
        prev = self.spark.conf.get(advisory, None)
        # target write-task granularity. AQE compares *compressed* shuffle
        # bytes (lz4 ≈ 5-10× on text), so the advisory sits below the desired
        # on-disk file size: 4 MB compressed ≈ 15-30 MB of parquet. Measured
        # sweep (1M-row epoch, 8 cores): 2MB → 2.2s (file-count overhead),
        # 4/8/16MB → ~1.4s; 4MB keeps a hot group fanned over ~3 tasks. A
        # 100 TB deployment raises this via table property
        # `write.advisory-bytes` (hot groups there are GB-sized compressed,
        # so the fan-out survives a 32-64 MB target).
        self.spark.conf.set(
            advisory, self._commit.properties.get("write.advisory-bytes", "4MB")
        )
        try:
            w.parquet(out_dir)
        finally:
            try:
                if prev is None:
                    self.spark.conf.unset(advisory)
                else:
                    self.spark.conf.set(advisory, prev)
                if prev_ts is None:
                    self.spark.conf.unset(tstype)
                else:
                    self.spark.conf.set(tstype, prev_ts)
            finally:
                _WRITE_CONF_LOCK.release()

        # zero-row files (empty write tasks) carry no row groups, so they
        # have no stats and would blind their whole page's skip summary —
        # and they contribute nothing to reads; keep them out of the manifest
        files = [f for f in self._discover_files(rel_dir, spec) if f.rows > 0]
        return files, rel_dir

    def _discover_files(self, rel_dir: str, spec: list[PartitionField]) -> list[DataFile]:
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        todo: list[tuple[str, str, dict[str, str]]] = []
        base = os.path.join(self.path, rel_dir)
        for root, _dirs, names in os.walk(base):
            partition: dict[str, str] = {}
            for part in os.path.relpath(root, base).split(os.sep):
                if "=" in part:
                    k, _, v = part.partition("=")
                    # hive-escapes special chars (space/':'/'%') as %XX in the
                    # directory name; manifests store the RAW value so pruning
                    # comparisons against DataFrame-side values (cast to
                    # string) match. f.path keeps the literal on-disk name.
                    partition[k.removeprefix("__p_")] = unquote(v)
            for n in names:
                if n.endswith(".parquet"):
                    full = os.path.join(root, n)
                    todo.append((full, os.path.relpath(full, self.path), partition))
        if not todo:
            return []

        # The _STATS_MAX_COLS budget is allocated by PRIORITY, not schema
        # order: engine columns (_lsn drives vacuum_tombstones' manifest
        # skipping, _deleted the tombstone scans) and partition-source
        # columns (epoch slicing / pruning predicates) first, then the rest
        # of the schema. Taking schema order would silently drop the engine
        # columns on any payload wider than ~13 columns — degrading
        # maintenance jobs to full scans.
        schema_cols = [f.name for f in self.schema.fields]
        part_sources = [p.source for p in spec]
        ranked = (
            [c for c in schema_cols if c.startswith("_")]
            + [c for c in part_sources if c in schema_cols and not c.startswith("_")]
        )
        ranked += [c for c in schema_cols if c not in ranked]
        allowed = set(ranked[:_STATS_MAX_COLS])

        def load(item) -> DataFile:
            full, rel, partition = item
            # footer-only read; parallel because this is pure I/O + C parsing.
            # Harvest per-column min/max for data skipping while we're here —
            # the footer is already in memory, so the stats are free.
            md = pq.ParquetFile(full).metadata
            agg: dict[str, list] = {}
            dead: set[str] = set()
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for i in range(rg.num_columns):
                    c = rg.column(i)
                    name = c.path_in_schema
                    if "." in name or name in dead or name not in allowed:
                        continue
                    st = c.statistics
                    if st is None or not st.has_min_max or isinstance(st.min, bytes):
                        # a row group without usable stats poisons the column:
                        # its rows' range is unknown, so no bound is safe
                        agg.pop(name, None)
                        dead.add(name)
                        continue
                    mn, mx = _norm_stat_value(st.min), _norm_stat_value(st.max)
                    if name in agg:
                        e = agg[name]
                        e[0] = min(e[0], mn)
                        e[1] = max(e[1], mx)
                    else:
                        agg[name] = [mn, mx]
            return DataFile(
                path=rel,
                partition=partition,
                rows=md.num_rows,
                stats=agg or None,
                spec_id=self._commit.spec_id,
            )

        with ThreadPoolExecutor(max_workers=min(16, len(todo))) as ex:
            return list(ex.map(load, todo))

    def commit(
        self,
        add: list[DataFile],
        remove_paths: set[str] | None = None,
        new_schema: StructType | None = None,
        epoch: dict | list[dict] | None = None,
        metrics: dict | None = None,
        max_retries: int = 10,
        new_partition_spec: list[PartitionField] | None = None,
        new_spec_id: int | None = None,
    ) -> Commit:
        """Publish a new version. Multi-writer safe via optimistic
        concurrency (the reference runs many engines against one destination,
        api:controller/OperationController.java:371-376): on a version
        collision the loop reloads the log, re-validates — none of our fences
        (``epoch``: one fence dict or a list) may have been applied
        meanwhile, and every file we remove must still be
        live (a concurrent compaction/rewrite of the same files is NOT
        rebase-safe) — re-merges additive schema evolution onto the winner's
        schema, and re-publishes at the next version. Writers touching
        disjoint files/partitions always converge; true write-write conflicts
        surface as CommitConflict after the loop."""
        remove_paths = remove_paths or set()
        fences = _fence_list(epoch)
        base = self._commit
        for attempt in range(max_retries + 1):
            schema_json = (new_schema or StructType.fromJson(json.loads(base.schema_json))).json()
            # Page layout with reuse: a page no removed file lives in is
            # carried over AS A REFERENCE (no bytes rewritten); dirty pages
            # are rewritten minus the removed files; `add` becomes fresh
            # pages. Metadata write cost is O(add + dirty pages) — the
            # property that keeps 800k-file tables committing in ~constant
            # time. Legacy inline commits fall back to a full page build.
            reused: list[ManifestRef] = []
            rewrite: list[DataFile] = []    # survivors of dirty pages
            if base.manifests is not None:
                if not remove_paths:
                    # append-only (the MoR epoch path): every page is reused
                    # by reference without even parsing it
                    reused = list(base.manifests)
                else:
                    for ref, load in base.iter_pages():
                        page = load()
                        if any(f.path in remove_paths for f in page):
                            rewrite.extend(f for f in page if f.path not in remove_paths)
                        else:
                            reused.append(ref)
            else:
                rewrite = [f for f in base.files if f.path not in remove_paths]
            small = [r for r in reused if r.n_files < _MANIFEST_SMALL_FILES]
            if len(small) >= _MANIFEST_COMPACT_MIN_PAGES:
                small_set = {id(r) for r in small}
                reused = [r for r in reused if id(r) not in small_set]
                for r in small:
                    rewrite.extend(_load_manifest(self.path, r.path))
            manifests = reused + _write_manifests(self.path, rewrite + add)
            if new_partition_spec is not None:
                part_spec_json = [p.to_json() for p in new_partition_spec]
                # evolution mints the next id; rollback passes new_spec_id to
                # RESTORE an earlier spec under its original id so the
                # restored files stay current-layout for every pruning path
                spec_id = base.spec_id + 1 if new_spec_id is None else new_spec_id
            else:
                part_spec_json, spec_id = base.partition_spec, base.spec_id
            c = Commit(
                version=base.version + 1,
                schema_json=schema_json,
                partition_spec=part_spec_json,
                spec_id=spec_id,
                manifests=manifests,
                epoch=epoch,
                metrics=metrics,
                parent=base.version,
                properties=base.properties,
                table_path=self.path,
            )
            try:
                self._write_commit(self.path, c)
            except CommitConflict:
                if attempt == max_retries:
                    raise
                fresh = LakeTable(self.spark, self.path)
                for e in fences:
                    if fresh.epoch_already_applied(e["fence_key"], e.get("epoch_id")):
                        raise EpochAlreadyApplied(
                            f"epoch {e} committed concurrently at {self.path}"
                        )
                live = {f.path for f in fresh._commit.files}
                gone = remove_paths - live
                if gone:
                    raise CommitConflict(
                        f"concurrent rewrite of {len(gone)} file(s) this commit "
                        f"also removes (e.g. {next(iter(gone))}) — not rebase-safe"
                    )
                if new_schema is not None:
                    # re-merge our additions onto the winner's (possibly also
                    # evolved) schema — additive unions always compose
                    merged = fresh.evolved_schema(new_schema)
                    new_schema = merged if merged is not None else StructType.fromJson(
                        json.loads(fresh._commit.schema_json)
                    )
                base = fresh._commit
                continue
            self._commit = c
            if self._fences is not None:
                _apply_commit_fences(self._fences, c)
                if self._fences_at == c.parent:
                    # no commit slipped in between: the cache now reflects
                    # the log through ours, so the next check loads nothing
                    self._fences_at = c.version
            return c

    @staticmethod
    def _write_commit(path: str, c: Commit) -> None:
        final = os.path.join(path, _COMMITS, f"{c.version:020d}.json")
        tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(c.to_json(), fh)
        try:
            # atomic CLAIM: link() fails with EEXIST if the version is taken —
            # unlike rename(), which silently replaces and would let two
            # writers at the same version lose one commit. This is the entire
            # multi-writer mutual exclusion, so it must be a true
            # compare-and-swap on the filesystem, not check-then-rename.
            os.link(tmp, final)
        except FileExistsError:
            raise CommitConflict(f"version {c.version} already committed at {path}")
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    # ----------------------------------------------------------- evolution
    def evolved_schema(self, incoming: StructType) -> StructType | None:
        """Additive evolution: fields in ``incoming`` missing from the table
        schema (ignoring hidden ``_`` columns) are appended. Returns the new
        schema or None if nothing changed. Type changes are rejected —
        additive-only, like the north rule requires.
        """
        current = self.schema
        have = {f.name for f in current.fields}
        for f in incoming.fields:
            if f.name in have:
                cur_t = current[f.name].dataType
                if cur_t != f.dataType:
                    raise ValueError(
                        f"non-additive schema change on {f.name}: {cur_t} -> {f.dataType}"
                    )
        added = [f for f in incoming.fields if f.name not in have and not f.name.startswith("__")]
        if not added:
            return None
        return StructType(current.fields + [f for f in added])

    def evolve_partition_spec(self, new_spec: list[PartitionField]) -> Commit:
        """Change the table's partition layout going forward — Iceberg
        partition-spec evolution, the operation that makes repartitioning a
        100 TB table unnecessary: this is a METADATA-ONLY commit (no file is
        touched). Existing files keep their old layout and are stamped with
        their original spec_id; every pruning path treats them as may-match
        (merge bucket hints, read(partition_filter)), so correctness is
        immediate and pruning on old data degrades gracefully instead of
        silently mis-pruning. New writes lay out under the new spec.

        Run lake.maintenance.migrate_layout to rewrite old-spec files into
        the current layout (incrementally, partition by partition) and
        restore full pruning on historical data.

        Typical uses: widen bucket(conv_id) as key cardinality grows
        (bucket(8)→bucket(64)), or add/drop a time dimension.
        """
        return self.commit(
            [],
            new_partition_spec=new_spec,
            metrics={
                "operation": "evolve_partition_spec",
                "spec": [p.to_json() for p in new_spec],
            },
        )

    # ------------------------------------------------------------ utilities
    def append(
        self, df: DataFrame, epoch: dict | list[dict] | None = None, metrics: dict | None = None
    ) -> Commit:
        new_schema = self.evolved_schema(df.schema)
        if new_schema is not None:
            self._commit.schema_json = new_schema.json()
        added, _ = self.write_data_files(df)
        return self.commit(added, epoch=epoch, metrics=metrics, new_schema=new_schema)

    def overwrite_partitions(
        self,
        df: DataFrame,
        replaced: list[DataFile],
        epoch: dict | list[dict] | None = None,
        metrics: dict | None = None,
        new_schema: StructType | None = None,
        arrange: bool = True,
    ) -> Commit:
        if new_schema is not None:
            self._commit.schema_json = new_schema.json()
        added, _ = self.write_data_files(df, arrange=arrange)
        return self.commit(
            added,
            remove_paths={f.path for f in replaced},
            epoch=epoch,
            metrics=metrics,
            new_schema=new_schema,
        )


def refreshed(table: LakeTable | None, spark: SparkSession, path: str) -> LakeTable:
    """A long-lived caller's one handle on ``path``: ``table`` switched to
    ``spark`` and refreshed to the log head, or a new handle when there is
    none yet. Keeping the handle keeps its fence cache, so each refresh
    folds only the commits added since the previous one."""
    if table is None:
        return LakeTable(spark, path)
    table.spark = spark
    return table.refresh()
