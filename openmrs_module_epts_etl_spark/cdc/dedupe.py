"""Per-key winner selection: keep the max-lsn event per (conv_id, turn_idx).

Semantics mirror the reference's stage-area duplicate resolution —
``EtlStageRecordVO.chooseMostRecent`` keeps the most recent record per uuid
(api:common/model/EtlStageRecordVO.java:398-418, driven by
api:resolveconflictsinstagearea/processor/ResolveConflictsInStageAreaProcessor.java:26-66)
— with lsn as the total order instead of date_changed/date_voided, so
delete-then-reinsert inside one batch keeps the *last op*, never collapsing
D+I into a no-op (SURVEY.md §7.3).

Physical strategy (measured, 4M rows / 8 cores, see BENCH.md):

- ``max_by(struct(*cols), lsn)`` — the obvious one-pass form — compiles to
  **SortAggregate** because the struct-valued aggregation buffer disqualifies
  Tungsten hash aggregation: Spark sorts the full payload on BOTH sides of
  the exchange (~9 s, and it barely scales 2→8 cores because the sorts
  dominate).
- The generic ``dedupe_latest`` is **narrow-agg + join-back**: ``max(lsn)``
  per key is a pure HashAggregate over ~24-byte rows with map-side partial
  aggregation (a hot conv_id pre-reduces inside every map task), then a
  ``left_semi`` join on (key, lsn) re-attaches the payload (~2-3 s, scales).
  The build side is winner keys only; ``shuffle_hash`` keeps it scalable when
  winners exceed broadcast size, and AQE still demotes to broadcast-hash when
  the winner set is small. The payload is never sorted and never aggregated.
- ``dedupe_latest_clustered`` (MoR compaction and deduped appends on
  ``mbucket`` tables) is **one exchange + partition-local rank**: the
  payload is repartitioned once on the cluster column and ``rank() == 1``
  over (key, lsn desc) picks the winners inside each partition (Sort →
  WindowGroupLimit → Window). One scan, one exchange, no aggregate, no
  join; the output keeps the cluster partitioning the ``arrange=False``
  write needs. On a 4-CPU host (150k-event skewed MoR replay) this bills
  the compaction 1.75 executor CPU-s where the narrow-agg + join-back form
  bills 2.09: its second scan, second exchange, aggregate and join cost
  more than sorting the clustered partitions.

Invariant: ``order_col`` (lsn = binlog position) is unique per key occurrence;
a (key, lsn) duplicate would survive either path as two rows. The feed
contract guarantees lsn uniqueness (exactly-once fences keep re-delivered
epochs out), matching the reference's assumption that stage-area records have
distinct ids (api:common/model/EtlStageRecordVO.java:398-418).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .schemas import TRANSCRIPT_KEY


def dedupe_latest(
    events: DataFrame,
    key: list[str] | None = None,
    order_col: str = "lsn",
    tie_break: bool = False,
) -> DataFrame:
    """One row per key: the event with the maximal ``order_col``.

    Narrow hash-aggregation (max over the order column alone — map-side
    combined, skew-safe) + null-safe left-semi join-back on (key, order_col)
    to re-attach the payload. The payload is never sorted, never shuffled
    with an aggregation buffer, and the source is scanned twice — cheap for
    every caller here (persisted feed slice, parquet files, or foreachBatch
    frame). Output columns = input columns.

    ``tie_break=True`` additionally resolves (key, order_col) TIES to one
    deterministic winner: content-distinct tie rows are discriminated by a
    min content hash (a pure row function — stable across branch
    recomputation, unlike monotonically_increasing_id, whose per-partition
    numbering shifts when a shuffled branch is recomputed and would make the
    build and probe sides disagree), and byte-identical duplicates (the
    realistic case: duplicate delivery) collapse under a final ``distinct``
    — group-by-all-columns HashAggregate, still sort-free, over the already
    winner-sized output. Measured ~2× the join work of the plain path. The
    CDC merge path leaves it off because the feed contract guarantees lsn
    uniqueness per key and merge_into *detects* violations in its hint
    aggregation, re-running with tie_break=True only when one is present;
    the generic ``latest_per_key`` operator keeps it on (no uniqueness
    contract there).
    """
    key = key or TRANSCRIPT_KEY
    cols = events.columns
    winners = events.groupBy(*key).agg(F.max(order_col).alias(order_col))
    out = _join_back(events, winners, key, order_col)
    if tie_break:
        # map-typed columns are unhashable/un-distinct-able in Spark — hash
        # their to_json image instead (per-row deterministic: the map's entry
        # order is a function of how the row was computed, which is the same
        # on both sides of the self-join), and collapse byte-identical
        # duplicates by (key, order, hash) rather than a full-row distinct,
        # which would also choke on maps. Hash collisions conflating two
        # genuinely different tie rows are 2^-64 — the same exposure any
        # hash-based shuffle already carries.
        def _hashable(c: str):
            return (
                F.to_json(F.col(c)) if _has_map(events.schema[c].dataType) else F.col(c)
            )

        # temp hash column name salted against the input's own columns — a
        # user column literally named "__h" must not be clobbered
        h = "__h"
        while h in cols:
            h += "_"
        out = out.withColumn(h, F.xxhash64(*[_hashable(c) for c in cols]))
        ties = out.groupBy(*key, order_col).agg(F.min(h).alias(h))
        out = _join_back(out, ties, [*key, order_col], h).dropDuplicates(
            [*key, order_col, h]
        )
    return out.select(*cols)


def _has_map(dt) -> bool:
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _has_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_has_map(f.dataType) for f in dt.fields)
    return False


def _join_back(events: DataFrame, winners: DataFrame, key: list[str], order_col: str) -> DataFrame:
    """Null-safe left-semi join-back: ``eqNullSafe`` on every join column —
    groupBy keeps a NULL-key group (SQL semantics), so the join-back must
    too; plain equality would silently drop it (latest_per_key exposes this
    operator generically, where NULL keys/order values are legal). Null-safe
    keys cost nothing: same ShuffledHashJoin, same exchanges (measured)."""
    w = winners.hint("shuffle_hash")
    cond = None
    for c in [*key, order_col]:
        e = events[c].eqNullSafe(w[c])
        cond = e if cond is None else cond & e
    return events.join(w, cond, "left_semi")


def dedupe_latest_clustered(
    events: DataFrame,
    key: list[str] | None = None,
    order_col: str = "lsn",
    cluster_col: str | None = None,
    num_partitions: int | None = None,
    on_null: str = "error",
) -> DataFrame:
    """``dedupe_latest`` arranged around ONE payload exchange.

    The plain path exchanges the payload on (key, order) for the semi-join
    and leaves the output partitioned by a key the partitioned write cannot
    use, so a caller that writes the winners pays a second payload exchange
    (write clustering) plus the narrow winner-aggregation exchange. Here the
    payload is repartitioned ONCE on ``cluster_col`` (a prefix of ``key`` —
    conv_id for transcripts) and the winner is picked inside each partition:
    ``rank()`` over ``partitionBy(*key).orderBy(order_col desc)``, filtered
    to rank 1. HashPartitioning(cluster_col) satisfies the window's
    ClusteredDistribution(key) because the partitioning expressions are a
    subset of the key, so Spark plans Sort → WindowGroupLimit → Window with
    no second scan, no narrow exchange and no join, and the output still
    clusters by cluster_col — so a table whose spec buckets by
    ``mbucket(n, cluster_col)`` can write it with ``arrange=False`` and ZERO
    further exchange as long as ``num_partitions`` is a multiple of n (task
    id ``pmod(hash(c), N)`` determines bucket ``pmod(hash(c), n)``;
    lake/partitioning.py:mbucket). ``rank()`` keeps every row tied at the
    max order value, exactly like ``dedupe_latest``'s (key, order) join-back.

    Use when the caller controls the write layout (MoR compaction,
    deduped-epoch appends). Skew note: a hot conv_id lands in one task,
    which sorts its rows; the WindowGroupLimit keeps only the first rank per
    key, so the post-dedupe write is at most one row per turn and the write
    skew the plain path's REBALANCE guards against is structurally absent.

    CONTRACT (unlike the generic ``dedupe_latest``): key and order columns
    must be non-NULL. The CDC feed contract guarantees non-null (conv_id,
    turn_idx, lsn), so a NULL there is a corrupt event, and the MoR path
    that calls this must not store it as a row no real key ever reads. The
    contract is ENFORCED, not assumed: under the default ``on_null="error"``
    a NULL key/order value raises at execution time (``raise_error`` folded
    into the order column, so it rides the existing scan — no extra job, no
    extra shuffle, and column pruning cannot drop it because the window
    sorts on the order column). A caller that has pre-filtered NULLs and
    wants them dropped must say so explicitly with ``on_null="drop"`` (an
    ``isNotNull`` filter on every key/order column before the exchange);
    callers with legitimate NULL keys want ``dedupe_latest``."""
    key = key or TRANSCRIPT_KEY
    cluster_col = cluster_col or key[0]
    assert cluster_col in key, "cluster_col must be part of the key"
    if on_null not in ("error", "drop"):
        raise ValueError(f"on_null must be 'error' or 'drop', got {on_null!r}")
    cols = events.columns
    any_null = None
    for c in [*key, order_col]:
        e = F.col(c).isNull()
        any_null = e if any_null is None else any_null | e
    if on_null == "error":
        msg = (
            "dedupe_latest_clustered: NULL in key/order column "
            f"({', '.join([*key, order_col])}) violates the non-null "
            "feed contract; use dedupe_latest for NULL-keyed data "
            "or pass on_null='drop' after pre-filtering"
        )
        # Only the order column carries the guard: the window sorts every
        # row on it, so the guard (which reads every key column) runs on
        # every row, and no inferred filter sits beneath it to drop a NULL
        # row unseen.
        events = events.withColumn(
            order_col,
            F.when(any_null, F.raise_error(F.lit(msg)).cast(events.schema[order_col].dataType))
            .otherwise(F.col(order_col)),
        )
    else:
        events = events.filter(~any_null)

    if num_partitions:
        clustered = events.repartition(num_partitions, F.col(cluster_col))
    else:
        clustered = events.repartition(F.col(cluster_col))
    # temp rank column name salted against the input's own columns
    r = "__rank"
    while r in cols:
        r += "_"
    w = Window.partitionBy(*key).orderBy(F.col(order_col).desc())
    return clustered.withColumn(r, F.rank().over(w)).filter(F.col(r) == 1).select(*cols)
