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
* DRY_RUN (main.go:158-160) is the console sink.

At 100 TB the relay is embarrassingly parallel: the wire projection is
stateless, so throughput scales with source partitions. Per-key
ordering (README.md:38-40, the reference's core delivery contract)
always holds and needs one more step at the sink edge: a micro-batch's
rows for one key can span source files/partitions, so a parallel
producer must first co-locate and sort them — ``operators/wire.py::
ordered_for_delivery`` (repartition on key + sortWithinPartitions on
(key, id)) on every micro-batch, pinned end-to-end by
tests/test_streaming.py::test_per_key_order_survives_parallel_sink.
A micro-batch whose planned input is at or below AQE's coalescing
floor (1 MB by default) skips that shuffle: it is read and sorted as
one task, the shape AQE would have coalesced the shuffle into anyway.
Above the floor, ``spark.sql.shuffle.partitions`` sizes the keyed
exchange.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from pg2kafka_spark.event import EVENT_SCHEMA
from pg2kafka_spark.operators.snapshot import snapshot_events
from pg2kafka_spark.operators.wire import ordered_for_delivery, wire_columns


def bootstrap_outbox(
    table_df: DataFrame,
    outbox_dir: str,
    table_name: str,
    external_id_column: str | None,
) -> None:
    """O10 setup/snapshot: write the current table state into the
    outbox log as SNAPSHOT events *before* the change feed starts
    appending.

    The reference guarantees no gap/overlap between snapshot and
    trigger installation with an ACCESS EXCLUSIVE lock
    (sql/triggers.sql:100-111), and its BIGSERIAL id orders the
    snapshot before every later event. Here the write only appends —
    an overwrite would erase the log. The snapshot is delivered before
    a key's later changes only when every later writer's outbox ids
    AND file modification times exceed the snapshot's: the file source
    pages by file time and ``ordered_for_delivery`` sorts by id. The
    default ids (``monotonically_increasing_id()``, restarted per
    write) do not guarantee that — ROADMAP item 1 reproduces an UPDATE
    delivered before its key's SNAPSHOT. On a Kafka/Delta log the same
    holds with offsets: record the offset after the snapshot write,
    start the change producer at it.
    """
    events = snapshot_events(table_df, table_name, external_id_column)
    events.write.mode("append").parquet(outbox_dir)


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
    sink: str = "console",
    query_name: str = "pg2kafka_relay",
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    processing_time: str | None = None,
    kafka_options: dict[str, str] | None = None,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    ordered: bool = True,
) -> StreamingQuery:
    """Run the relay: canonical events → per-key order → wire
    projection → sink.

    Every micro-batch goes through :func:`~pg2kafka_spark.operators.
    wire.ordered_for_delivery` before the wire projection, so a
    PARALLEL sink emits every entity's events in outbox order — the
    reference's delivery contract (README.md:38-40) at any
    parallelism. A streaming frame cannot sort pre-sink (Spark forbids
    it), so the relay runs through foreachBatch, where the batch is
    static. A micro-batch whose planned input size is at or below
    AQE's coalescing floor
    (``spark.sql.adaptive.coalescePartitions.minPartitionSize``, 1 MB
    by default) is sorted as one task with no shuffle; a larger one
    costs one keyed shuffle (bounded by the paging knob), sized by
    ``spark.sql.shuffle.partitions``. For the Kafka sink the producer
    side must also keep retries ordered, which the
    :func:`~pg2kafka_spark.sources.kafka_sink_options` map does via
    enable.idempotence. The wire projection is built once per query;
    each micro-batch only sorts and selects.

    ``sink`` (any batch-writable format):
      * ``"kafka"``  — O17: key/value/topic columns route per row;
        pass brokers etc. via ``kafka_options`` (compression, acks
        and partitioner are producer configs, exactly like the
        reference's librdkafka map at main.go:179-201).
      * ``"console"`` — the DRY_RUN analog (O18). ``"memory"`` has no
        batch twin and is rejected.
      * ``foreach_batch`` — custom per-micro-batch delivery (e.g.
        transactional sinks); receives the ordered wire frame.

    ``available_now=True`` = drain-the-backlog-then-stop (O19's start
    phase); a ``processing_time`` trigger = the steady-state loop.

    ``ordered`` accepts only ``True``: it stays because perfbench still
    passes ``ordered=True``, and goes with perfbench's next change.
    """
    if ordered is not True:
        raise ValueError("start_relay always delivers in per-key order; ordered must be True")
    if sink == "memory":
        raise ValueError(
            "the relay needs a batch-writable sink (kafka/console/"
            "foreach_batch) — the memory sink has no batch twin"
        )
    wire_cols = wire_columns(database, topic_namespace)

    def _deliver(batch_df: DataFrame, batch_id: int) -> None:
        wire = ordered_for_delivery(batch_df).select(*wire_cols)
        if foreach_batch is not None:
            foreach_batch(wire, batch_id)
            return
        wire.write.format(sink).options(**(kafka_options or {})).save()

    writer = events.writeStream.queryName(query_name)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.foreachBatch(_deliver).start()


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
