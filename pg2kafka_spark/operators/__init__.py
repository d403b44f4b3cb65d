"""Operator library — SURVEY.md §2 inventory re-expressed Spark-first.

Batch/column-expression operators live here; streaming composition in
``pg2kafka_spark.streaming``. Every public function returns DataFrames
or Columns so Catalyst sees the whole plan (pushdown, pruning, codegen).
"""

from pg2kafka_spark.operators.snapshot import snapshot_events
from pg2kafka_spark.operators.diff import (
    changed_columns_json,
    full_row_json,
    capture_changes,
    suppress_noops,
)
from pg2kafka_spark.operators.wire import to_wire, topic_name
from pg2kafka_spark.operators.compaction import latest_state, latest_state_agg

__all__ = [
    "snapshot_events",
    "changed_columns_json",
    "full_row_json",
    "capture_changes",
    "suppress_noops",
    "to_wire",
    "topic_name",
    "latest_state",
    "latest_state_agg",
]
