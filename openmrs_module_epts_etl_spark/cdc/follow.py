"""Table follower: continuously propagate one lake table's changes into
another — pipeline chaining with the upstream TABLE as the feed.

The reference chains stages by materializing detected_record_info rows for
the next stage to consume (SURVEY.md §3.2; operation chaining at
api:controller/ProcessController.java:232-270). Here the upstream table's
commit log IS the queue: each poll diffs the last-propagated version against
the head (cdc/changelog.snapshot_diff — row-exact, prunes to the changed
slice), re-emits the diff in the change-event contract, and applies it
downstream through the same lsn-guarded MERGE / MoR append every other feed
uses. Deletes propagate because the changelog stamps them with the deleting
event's lsn (see snapshot_diff), so they win the downstream guard.

Exactly-once shape, identical to CdcPipeline:
- a checkpoint JSON records the last *propagated* upstream version
  (atomic rename);
- every downstream commit is fenced with (fence_key, head_version) — a crash
  between the downstream commit and the checkpoint write replays the same
  interval, the fence skips the exact duplicate, and a *widened* interval
  (upstream advanced meanwhile) re-applies an overlap that the lsn guard /
  max-lsn winner selection makes a no-op. Both legs are pinned by the
  pipeline replay-idempotence tests.

Retention contract: upstream snapshot expiration must keep every version the
follower has not yet propagated (the read_incremental caveat) — a missing
from-version surfaces as an explicit error, never silent data loss.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import SparkSession

from ..lake.table import LakeTable, refreshed
from .changelog import changes_as_feed
from .merge import MergeResult, merge_into
from .schemas import TRANSCRIPT_KEY


class TableFollower:
    def __init__(
        self,
        spark: SparkSession,
        src_path: str,
        dst_path: str,
        checkpoint_dir: str,
        key: list[str] | None = None,
        fence_key: str = "table-follow",
        mode: str = "cow",
        transform=None,
    ):
        self.spark = spark
        self.src_path = src_path
        self.dst_path = dst_path
        self.checkpoint_dir = checkpoint_dir
        self.key = list(key or TRANSCRIPT_KEY)
        self.fence_key = fence_key
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        self.mode = mode
        # optional DataFrame -> DataFrame hook on the change feed (the
        # chained stage's transform step — field mapping / filtering /
        # pandas-UDF enrichment, config.py's surface); it must preserve the
        # op/lsn/key contract
        self.transform = transform
        # one handle per table, refreshed each poll: their fence caches then
        # fold only the commits since the previous poll
        self._src: LakeTable | None = None
        self._dst: LakeTable | None = None
        os.makedirs(checkpoint_dir, exist_ok=True)

    # ---------------------------------------------------------- checkpoint
    def _ckpt(self) -> str:
        return os.path.join(self.checkpoint_dir, "follower.json")

    def last_propagated(self) -> int:
        p = self._ckpt()
        if os.path.exists(p):
            with open(p) as fh:
                return int(json.load(fh)["last_version"])
        return 0

    def _save(self, version: int) -> None:
        p = self._ckpt()
        tmp = p + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump({"last_version": version}, fh)
        os.rename(tmp, p)

    def seed_checkpoint(self, version: int) -> None:
        """Declare ``version`` already propagated — the bootstrap contract
        for attaching a follower to a destination that was seeded out of
        band (a bulk snapshot load, a restored backup): the first
        ``poll_once`` then diffs ``version → head`` instead of replaying
        from the beginning of retained history. The caller asserts the
        destination's state matches the upstream at ``version``; the
        lsn-guarded downstream merge makes an over-seeded checkpoint safe
        (a replayed overlap applies as a no-op) but an under-seeded one
        silently skips the gap."""
        self._save(version)

    # ---------------------------------------------------------------- poll
    def poll_once(self) -> MergeResult | None:
        """Propagate everything committed upstream since the last poll.
        Returns the downstream MergeResult, or None when already caught up."""
        self._src = refreshed(self._src, self.spark, self.src_path)
        src = self._src
        last, head = self.last_propagated(), src.version
        if head <= last:
            return None
        try:
            src._load_commit(last)
        except FileNotFoundError as e:
            raise RuntimeError(
                f"upstream version {last} expired before it was propagated — "
                "widen expire_snapshots retention past the follower's lag"
            ) from e
        feed = changes_as_feed(src, last, head, key=self.key)
        if self.transform is not None:
            feed = self.transform(feed)
        self._dst = refreshed(self._dst, self.spark, self.dst_path)
        dst = self._dst
        if self.mode == "mor":
            from .mor import append_delta

            res = append_delta(
                dst, feed, key=self.key, fence_key=self.fence_key, epoch_id=head
            )
        else:
            res = merge_into(
                dst, feed, key=self.key, fence_key=self.fence_key, epoch_id=head
            )
        self._save(head)
        return res

    def run_until_caught_up(self, max_polls: int = 1000) -> list[MergeResult]:
        """Poll until the downstream has the upstream's head (each poll
        covers every version committed since the previous one, so under a
        quiet upstream this is a single diff)."""
        out: list[MergeResult] = []
        for _ in range(max_polls):
            r = self.poll_once()
            if r is None:
                return out
            out.append(r)
        return out
