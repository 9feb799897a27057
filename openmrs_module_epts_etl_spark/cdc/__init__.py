from .schemas import (
    EVENT_SCHEMA,
    EVENT_SCHEMA_EVOLVED,
    TRANSCRIPT_KEY,
    event_schema,
    transcript_schema,
)
from .conflict import KEEP_EXISTING, NEWER_WINS, UPDATE_EXISTING, ConflictPolicy
from .generator import FeedSpec, generate_feed
from .dedupe import dedupe_latest
from .merge import MergeResult, compact, merge_into, vacuum_tombstones
from .changelog import CHANGE_TYPE_COL, changes_as_feed, snapshot_diff
from .follow import TableFollower
from .mor import (
    append_delta,
    compact_latest,
    compact_partitions,
    read_state,
    table_changes_as_feed,
)
from .pipeline import CdcPipeline, PipelineConfig
from .oracle import expected_state_pandas, expected_state_sql

__all__ = [
    "EVENT_SCHEMA",
    "EVENT_SCHEMA_EVOLVED",
    "TRANSCRIPT_KEY",
    "transcript_schema",
    "event_schema",
    "ConflictPolicy",
    "NEWER_WINS",
    "KEEP_EXISTING",
    "UPDATE_EXISTING",
    "FeedSpec",
    "generate_feed",
    "dedupe_latest",
    "MergeResult",
    "merge_into",
    "vacuum_tombstones",
    "compact",
    "CHANGE_TYPE_COL",
    "snapshot_diff",
    "changes_as_feed",
    "TableFollower",
    "append_delta",
    "compact_latest",
    "compact_partitions",
    "read_state",
    "table_changes_as_feed",
    "CdcPipeline",
    "PipelineConfig",
    "expected_state_pandas",
    "expected_state_sql",
]
