"""Structured Streaming half of the engine (SURVEY.md §7 M4).

The reference's relay daemon (main.go) is a LISTEN/NOTIFY loop that
drains an outbox table to Kafka. Here the outbox is a streaming source,
the drain loop is the micro-batch scheduler, and the mark-processed
cursor is the checkpoint:

* O8 outbox insert     → ``append_outbox``: ids above a persisted high
  water, files published in id order
* O12 paginated scan   → ``maxFilesPerTrigger`` micro-batch pacing
* O13 page-count drain → ``Trigger.AvailableNow`` backlog drain
* O14 mark-processed   → ``checkpointLocation`` offset commit
* O17 keyed produce    → a per-micro-batch sink write with key/value/topic columns
* O19 drain-then-listen→ availableNow run, then processingTime run
"""

from pg2kafka_spark.streaming.relay import (
    append_outbox,
    bootstrap_outbox,
    read_event_stream,
    start_relay,
)

__all__ = [
    "append_outbox",
    "bootstrap_outbox",
    "read_event_stream",
    "start_relay",
]
