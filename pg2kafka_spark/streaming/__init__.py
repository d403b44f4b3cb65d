"""Structured Streaming half of the engine (SURVEY.md §7 M4).

The reference's relay daemon (main.go) is a LISTEN/NOTIFY loop that
drains an outbox table to Kafka. Here the outbox is a streaming source,
the drain loop is the micro-batch scheduler, and the mark-processed
cursor is the checkpoint:

* O12 paginated scan   → ``maxFilesPerTrigger`` micro-batch pacing
* O13 page-count drain → ``Trigger.AvailableNow`` backlog drain
* O14 mark-processed   → ``checkpointLocation`` offset commit
* O17 keyed produce    → ``writeStream`` with key/value/topic columns
* O19 drain-then-listen→ availableNow run, then processingTime run
"""

from pg2kafka_spark.streaming.relay import (
    bootstrap_outbox,
    read_event_stream,
    start_relay,
)
from pg2kafka_spark.streaming.windows import (
    change_stats_stream,
    dedup_events_by_uuid,
    events_per_session_window,
    events_per_window,
    join_streams_within,
    latest_state_stream,
)

__all__ = [
    "bootstrap_outbox",
    "read_event_stream",
    "start_relay",
    "change_stats_stream",
    "dedup_events_by_uuid",
    "events_per_session_window",
    "events_per_window",
    "join_streams_within",
    "latest_state_stream",
]
