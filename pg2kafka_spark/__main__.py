"""The relay daemon entry point: ``python -m pg2kafka_spark``.

Mirrors the reference daemon's env-config surface (main.go:34-93) so
an operator of pg2kafka can map their deployment 1:1:

| reference env        | engine env              | meaning |
|----------------------|-------------------------|---------|
| ``DATABASE_URL``     | ``OUTBOX_DIR``          | where the outbox/change log lives (file dir here; jdbc/kafka via sources.py) |
| ``KAFKA_BROKER``     | ``KAFKA_BROKER``        | sink brokers |
| ``TOPIC_NAMESPACE``  | ``TOPIC_NAMESPACE``     | optional topic prefix (main.go:215-222) |
| ``DRY_RUN``          | ``DRY_RUN``             | log to console instead of producing (main.go:158-160) |
| ``DATABASE`` (from url, main.go:207-213) | ``DATABASE`` | db segment of the topic name |
| ``PERFORM_MIGRATIONS`` (main.go:58-61) | ``PERFORM_MIGRATIONS`` | bootstrap the outbox on start (dir + schema/registry manifest, migrations.py) |
| (drain then LISTEN, main.go:85-93)       | ``RELAY_ONCE``          | "true": availableNow drain then exit; else continuous micro-batches |
| (poll pacing)        | ``RELAY_TRIGGER``       | processingTime interval for continuous mode (default "5 seconds"; one Spark cannot parse exits 2) |
| (page size O12)      | ``RELAY_PAGE_FILES``    | maxFilesPerTrigger, a positive integer (unset: one unbounded batch) |

Every micro-batch is delivered in per-key id order (the reference's
murmur2 key partitioning + sync produce, README.md:38-40); see
``streaming.relay.start_relay``.

Exit behavior matches O19: RELAY_ONCE drains the backlog and stops;
continuous mode runs until interrupted (checkpoint makes either mode
resume-safe).
"""

from __future__ import annotations

import os
import sys

from pyspark.errors import IllegalArgumentException

from pg2kafka_spark.session import get_spark
from pg2kafka_spark.sources import kafka_sink_options
from pg2kafka_spark.streaming.relay import read_event_stream, start_relay


def main(env: dict[str, str] | None = None) -> int:
    env = dict(os.environ if env is None else env)
    outbox = env.get("OUTBOX_DIR")
    if not outbox:
        print("OUTBOX_DIR is required", file=sys.stderr)
        return 2
    page_files = env.get("RELAY_PAGE_FILES")
    if page_files and not (page_files.isdecimal() and int(page_files) > 0):
        print(f"RELAY_PAGE_FILES must be a positive integer, got {page_files!r}", file=sys.stderr)
        return 2
    if env.get("PERFORM_MIGRATIONS", "").lower() in ("1", "true", "yes"):
        # main.go:58-61: run migrations before relaying; idempotent,
        # fails fast on an envelope conflict
        from pg2kafka_spark.migrations import perform_migrations

        perform_migrations(outbox)
    database = env.get("DATABASE", "postgres")
    namespace = env.get("TOPIC_NAMESPACE") or None
    dry_run = env.get("DRY_RUN", "").lower() in ("1", "true", "yes")
    once = env.get("RELAY_ONCE", "true").lower() in ("1", "true", "yes")
    trigger = env.get("RELAY_TRIGGER", "5 seconds")
    checkpoint = env.get("CHECKPOINT_DIR", os.path.join(outbox, "_checkpoint"))
    brokers = env.get("KAFKA_BROKER")

    spark = get_spark("pg2kafka_spark-relay")
    events = read_event_stream(
        spark, outbox, max_files_per_trigger=int(page_files) if page_files else None
    )
    if not once:
        # only Spark's parser knows its interval syntax: try the trigger
        # on an unstarted writer so a bad value is a config error too
        try:
            events.writeStream.trigger(processingTime=trigger)
        except (IllegalArgumentException, ValueError) as e:
            print(f"RELAY_TRIGGER must be a processing-time interval, got {trigger!r}: {e}", file=sys.stderr)
            return 2
    if dry_run or not brokers:
        sink, kafka_options = "console", None
    else:
        sink, kafka_options = "kafka", kafka_sink_options(brokers)
    query = start_relay(
        events,
        database=database,
        topic_namespace=namespace,
        sink=sink,
        checkpoint_dir=checkpoint,
        available_now=once,
        processing_time=None if once else trigger,
        kafka_options=kafka_options,
    )
    query.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
