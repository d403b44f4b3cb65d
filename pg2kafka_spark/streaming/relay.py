"""The relay daemon (reference main.go) as Structured Streaming.

Reference lifecycle (E3, SURVEY.md §3): on start, drain the full
outbox backlog in id-order pages of 1000 (main.go:106-115,
eventqueue/event_queue.go:15-21), then block on LISTEN/NOTIFY
(main.go:117-138); per event: JSON-encode, produce keyed message to
``pg2kafka.$namespace.$table``, wait for the delivery ack, mark
processed (main.go:140-177).

Spark-first mapping — none of that machinery survives as code:

* The outbox is a **streaming source** (``readStream`` over the
  append-only event log). ``maxFilesPerTrigger`` is the page-size
  analog; source offsets give the same id-ordered resumability the
  ``processed`` flag provided (O12/O14).
* Backlog drain is ``Trigger.AvailableNow`` (O13/O19): process
  everything present, in bounded micro-batches, then stop. The
  long-running relay is the same query with a processing-time trigger
  — LISTEN/NOTIFY becomes the micro-batch scheduler.
* The Kafka producer is the Kafka **sink**: per-row ``topic`` routing,
  ``key`` = external_id (NULL key ⇒ unkeyed message, exactly the
  ByteString-nil behavior), at-least-once from checkpointing — the
  same floor as the reference's produce-then-mark protocol, but
  batched and pipelined instead of one in-flight message.
* DRY_RUN (main.go:158-160) is the console/memory sink.

At 100 TB the relay is embarrassingly parallel: the wire projection is
stateless, so throughput scales with source partitions. Per-key
ordering (README.md:38-40, the reference's core delivery contract)
needs one more step at the sink edge: a micro-batch's rows for one
key can span source files/partitions, so a parallel producer must
first co-locate and sort them — ``operators/wire.py::
ordered_for_delivery`` (repartition on key + sortWithinPartitions on
(key, id)), pinned end-to-end by
tests/test_streaming.py::test_per_key_order_survives_parallel_sink.
A micro-batch whose planned input is at or below AQE's coalescing
floor (1 MB by default) skips that shuffle: it is read and sorted as
one task, the shape AQE would have coalesced the shuffle into anyway.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from pg2kafka_spark.event import EVENT_SCHEMA
from pg2kafka_spark.operators.snapshot import snapshot_events
from pg2kafka_spark.operators.wire import ordered_for_delivery, to_wire, wire_columns


def bootstrap_outbox(
    table_df: DataFrame,
    outbox_dir: str,
    table_name: str,
    external_id_column: str | None,
    mode: str = "append",
) -> None:
    """O10 setup/snapshot: write the current table state into the
    outbox log as SNAPSHOT events *before* the change feed starts
    appending.

    The reference guarantees no gap/overlap between snapshot and
    trigger installation with an ACCESS EXCLUSIVE lock
    (sql/triggers.sql:100-111). The log equivalent: files written here
    sort before later change files, and the stream reads the directory
    in file order — the snapshot is simply the log prefix. On a real
    deployment the same holds with Kafka/Delta offsets: record the
    offset after the snapshot write, start the change producer at it.
    """
    events = snapshot_events(table_df, table_name, external_id_column)
    events.write.mode(mode).parquet(outbox_dir)


def read_event_stream(
    spark: SparkSession,
    outbox_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The outbox as an unbounded stream of canonical events (O2/O12).

    File-based source here (tests, and any log-shipping deployment);
    swapping ``format`` for ``kafka``/Delta CDF changes nothing
    downstream — the schema is the fixed event envelope.
    ``max_files_per_trigger`` bounds each micro-batch like the
    reference's ``LIMIT 1000`` page bounds a drain iteration.
    """
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(outbox_dir)


def start_relay(
    events: DataFrame,
    database: str,
    topic_namespace: str | None = None,
    sink: str = "memory",
    query_name: str = "pg2kafka_relay",
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    processing_time: str | None = None,
    kafka_options: dict[str, str] | None = None,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    ordered: bool = False,
    ordered_partitions: int | None = None,
) -> StreamingQuery:
    """Run the relay: canonical events → wire projection → sink.

    ``ordered=True`` applies :func:`~pg2kafka_spark.operators.wire.
    ordered_for_delivery` to each micro-batch before the wire
    projection: repartition on external_id + sort (key, id) within
    tasks, so a PARALLEL sink emits every entity's events in outbox
    order — the reference's delivery contract (README.md:38-40) at
    any parallelism. A streaming frame cannot sort pre-sink
    (Spark forbids it), so ordered mode routes through foreachBatch
    where the batch is static: your ``foreach_batch`` then receives
    the ordered wire frame; without one, kafka/console batch writers
    are generated (``memory`` has no batch twin — unsupported with
    ``ordered``). For the Kafka sink the producer side must also keep
    retries ordered, which the default
    :func:`~pg2kafka_spark.sources.kafka_sink_options` map does via
    enable.idempotence. A micro-batch whose planned input size is at
    or below AQE's coalescing floor
    (``spark.sql.adaptive.coalescePartitions.minPartitionSize``, 1 MB
    by default) is sorted as one task with no shuffle; a larger one
    costs one keyed shuffle (bounded by the paging knob). An explicit
    ``ordered_partitions`` always keeps the keyed shuffle, sized to
    that many tasks. The wire projection is built once per query;
    each micro-batch only sorts and selects.

    ``sink``:
      * ``"kafka"``  — O17: key/value/topic columns route per row;
        pass brokers etc. via ``kafka_options`` (compression, acks
        and partitioner are producer configs, exactly like the
        reference's librdkafka map at main.go:179-201).
      * ``"memory"`` / ``"console"`` — DRY_RUN analogs (O18).
      * ``foreach_batch`` — custom per-micro-batch delivery (e.g.
        transactional sinks); receives the wire-shaped DataFrame.

    ``available_now=True`` = drain-the-backlog-then-stop (O19's start
    phase); a ``processing_time`` trigger = the steady-state loop.
    """
    if ordered:
        if sink == "memory" and foreach_batch is None:
            raise ValueError(
                "ordered delivery requires a batch-writable sink "
                "(kafka/console/foreach_batch) — the memory sink has "
                "no batch twin"
            )
        user_fb = foreach_batch
        wire_cols = wire_columns(database, topic_namespace)

        def _ordered_fb(batch_df: DataFrame, batch_id: int) -> None:
            w = ordered_for_delivery(batch_df, ordered_partitions).select(*wire_cols)
            if user_fb is not None:
                user_fb(w, batch_id)
            elif sink == "kafka":
                wr = w.write.format("kafka")
                for k, v in (kafka_options or {}).items():
                    wr = wr.option(k, v)
                wr.save()
            else:
                w.write.format(sink).save()

        writer = events.writeStream.queryName(query_name)
        if checkpoint_dir is not None:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time is not None:
            writer = writer.trigger(processingTime=processing_time)
        return writer.foreachBatch(_ordered_fb).start()
    wire = to_wire(events, database, topic_namespace)
    writer = wire.writeStream.queryName(query_name)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    elif sink == "kafka":
        writer = writer.format("kafka")
        for k, v in (kafka_options or {}).items():
            writer = writer.option(k, v)
    else:
        writer = writer.format(sink)
    return writer.start()


def scrub_virgin_checkpoint(spark: SparkSession, checkpoint_dir: str) -> int:
    """Remove orphan metadata-log temp files from a checkpoint that has
    made NO committed progress; returns how many files were removed.

    The maintained-state loops' drain-timeout contract is "stop + raise,
    re-run the cycle" — but a ``q.stop()`` (or crash) that interrupts the
    very FIRST offset write leaves only a ``.0.<uuid>.tmp`` behind in
    ``<checkpoint>/offsets``: the batch never committed, yet Spark 4.x's
    restart validation (MicroBatchExecution.verifyNewCheckpointDirectory)
    sees a non-empty directory for what the empty offset log says is a
    NEW checkpoint and refuses to start with
    [STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY], breaking the re-run.
    Temp files are never progress (HDFSMetadataLog publishes entries by
    atomic rename), and the scrub refuses to touch a checkpoint holding
    ANY committed offset entry, so real resume state is unreachable by
    construction. Goes through the Hadoop FileSystem of the checkpoint
    path, so non-local checkpoint schemes behave the same.
    """
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    root = hadoop_path(checkpoint_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    offsets = hadoop_path(root, "offsets")
    if not fs.exists(offsets):
        return 0
    names = [st.getPath().getName() for st in fs.listStatus(offsets)]
    if any(n.isdigit() for n in names):
        return 0  # committed progress — never touch
    removed = 0
    for sub in ("offsets", "commits"):
        d = hadoop_path(root, sub)
        if not fs.exists(d):
            continue
        for st in fs.listStatus(d):
            n = st.getPath().getName()
            if n.startswith(".") and n.endswith(".tmp"):
                fs.delete(st.getPath(), False)
                removed += 1
    return removed
