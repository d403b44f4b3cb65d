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
  analog; the checkpoint's committed source offsets replace the
  ``processed`` flag as the cursor (O12/O14): a restart delivers
  every outbox file not yet committed, at least once. The file source
  pages by file modification time; :func:`append_outbox`, the one
  writer of the outbox, assigns ids above every earlier append's and
  publishes its files in id order with ascending times, so the pages
  follow the log's id order (the reference's BIGSERIAL + ``ORDER BY
  id``, eventqueue/event_queue.go:15-21).
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
holds for an outbox written only through :func:`append_outbox`, by one
writer at a time, and needs one more step at the sink edge: a
micro-batch's rows for one key can span source files/partitions, so a
parallel producer must first co-locate and sort them —
``operators/wire.py::ordered_for_delivery`` (repartition on key +
sortWithinPartitions on (key, id)) on every micro-batch, pinned end-to-end by
tests/test_streaming.py::test_per_key_order_survives_parallel_sink.
A micro-batch whose planned input is at or below AQE's coalescing
floor (1 MB by default) skips that shuffle: it is read and sorted as
one task, the shape AQE would have coalesced the shuffle into anyway.
Above the floor, ``spark.sql.shuffle.partitions`` sizes the keyed
exchange.

The relay and every maintained-state loop start their streams here:
:func:`read_file_stream`, :func:`start_stream` (which first scrubs a
checkpoint with no committed progress, so a kill during the first
offset write never blocks the restart) and :func:`await_drain`; its
writer twin :func:`append_files` publishes a frame to a file log.
"""

from __future__ import annotations

import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from pg2kafka_spark.event import EVENT_COLUMNS, EVENT_SCHEMA, by_reference
from pg2kafka_spark.operators.snapshot import snapshot_events
from pg2kafka_spark.operators.wire import ordered_for_delivery, wire_columns


#: The outbox's high-water mark: the next id :func:`append_outbox`
#: assigns. The underscore keeps it out of the file source's listing.
HIGH_WATER_FILE = "_outbox_next_id"


def bootstrap_outbox(
    table_df: DataFrame,
    outbox_dir: str,
    table_name: str,
    external_id_column: str | None,
) -> None:
    """O10 setup/snapshot: append the current table state to the outbox
    log as SNAPSHOT events *before* the change feed starts appending.

    The reference guarantees no gap/overlap between snapshot and
    trigger installation with an ACCESS EXCLUSIVE lock
    (sql/triggers.sql:100-111), and its BIGSERIAL id orders the
    snapshot before every later event. Here :func:`append_outbox` gives
    the same order: every later append's ids and files follow the
    snapshot's. On a Kafka/Delta log the same holds with offsets:
    record the offset after the snapshot write, start the change
    producer at it.
    """
    append_outbox(snapshot_events(table_df, table_name, external_id_column), outbox_dir)


def append_outbox(events: DataFrame, outbox_dir: str) -> None:
    """O8: append outbox rows (e.g. ``capture_changes`` output) to the
    outbox log — the reference's INSERT with a BIGSERIAL ``id``
    (sql/migrations.sql:7), drained ``ORDER BY id``.

    ``id`` becomes ``high_water + monotonically_increasing_id()``, in
    the frame's row order, replacing any id the frame carries; a fresh
    outbox starts at 0. The new high water is observed on the write and
    persisted before :func:`append_files` publishes any file, so a
    crash leaves hidden staging files or an unused id range, never a
    reused id; an empty frame assigns no id and publishes nothing. One
    writer at a time: concurrent appends can reuse ids.
    """
    spark = events.sparkSession
    fs, root = _file_system(spark, outbox_dir)
    state = spark._jvm.org.apache.hadoop.fs.Path(root, HIGH_WATER_FILE)
    high_water = int(_read_text(spark, fs, state)) if fs.exists(state) else 0
    observed = Observation("outbox_high_water")
    # cast: a small high water is an INT literal, which compiles apart from a LONG one
    log = (
        events.withColumn(
            "id", by_reference(F.lit(high_water).cast("long")) + F.monotonically_increasing_id()
        )
        .select(*EVENT_COLUMNS)
        .observe(observed, F.max("id").alias("max_id"))
    )

    def persist_high_water() -> None:
        _replace_text(spark, fs, state, str(observed.get["max_id"] + 1))

    append_files(log, outbox_dir, before_publish=persist_high_water)


def append_files(
    frame: DataFrame,
    path: str,
    before_publish: Callable[[], None] | None = None,
) -> None:
    """Append ``frame`` to the parquet file log under ``path`` — the
    writer twin of :func:`read_file_stream`. The frame is written under
    a hidden ``_staging-<uuid>`` directory in ``path``; a write of no
    rows publishes nothing. Otherwise, after ``before_publish``, its
    part files get mtimes above every published file, ascending in
    part (= partition) order, and are renamed into ``path`` in that
    order. The file source lists visible names only, oldest first, so
    a reader sees each append whole or as a prefix of its parts, in
    write order. One writer at a time: every other ``_staging-*``
    directory is a crashed append's, and is deleted.
    """
    spark = frame.sparkSession
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    fs, root = _file_system(spark, path)
    staging = hadoop_path(root, f"_staging-{uuid.uuid4().hex}")
    written = Observation()
    frame.observe(written, F.count(F.lit(1)).alias("rows")).write.parquet(staging.toString())
    listing = fs.listStatus(root)
    for st in listing:
        name = st.getPath().getName()
        if name.startswith("_staging-") and name != staging.getName():
            fs.delete(st.getPath(), True)
    if written.get["rows"] == 0:
        fs.delete(staging, True)
        return
    if before_publish is not None:
        before_publish()
    parts = sorted(
        (st.getPath() for st in fs.listStatus(staging) if _visible(st.getPath().getName())),
        key=lambda p: p.getName(),
    )
    published = [
        st.getModificationTime()
        for st in listing
        if st.isFile() and _visible(st.getPath().getName())
    ]
    first_mtime = max([int(time.time() * 1000)] + [t + 1 for t in published])
    for i, part in enumerate(parts):
        fs.setTimes(part, first_mtime + i, -1)
        _publish(fs, part, hadoop_path(root, part.getName()))
    fs.delete(staging, True)


def _publish(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"could not publish {src.toString()} as {dst.toString()}")


def _visible(name: str) -> bool:
    """Whether the file source lists a file of this name."""
    return not name.startswith(("_", "."))


def _file_system(spark: SparkSession, path: str):
    """The Hadoop FileSystem of ``path``, and ``path`` as a Hadoop Path."""
    root = spark._jvm.org.apache.hadoop.fs.Path(path)
    return root.getFileSystem(spark._jsc.hadoopConfiguration()), root


def _read_text(spark: SparkSession, fs, path) -> str:
    stream = fs.open(path)
    try:
        return spark._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream).decode()
    finally:
        stream.close()


def _replace_text(spark: SparkSession, fs, path, text: str) -> None:
    """Write ``text`` to a temp file beside ``path``, then rename it
    over ``path`` in one step (FileContext's overwriting rename)."""
    jvm = spark._jvm
    tmp = path.suffix(f".{uuid.uuid4().hex}.tmp")
    jvm.org.apache.hadoop.fs.FileUtil.write(fs, tmp, text)
    rename = jvm.org.apache.hadoop.fs.Options.Rename
    overwrite = spark.sparkContext._gateway.new_array(rename, 1)
    overwrite[0] = rename.OVERWRITE
    jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        fs.makeQualified(path).toUri(), spark._jsc.hadoopConfiguration()
    ).rename(tmp, path, overwrite)


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet files landing under ``path`` as a stream of ``schema``
    rows; ``max_files_per_trigger`` bounds each micro-batch."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return reader.parquet(path)


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
    return read_file_stream(spark, outbox_dir, EVENT_SCHEMA, max_files_per_trigger)


def start_stream(
    stream: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None,
    available_now: bool = False,
    processing_time: str | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """Run ``process`` on every micro-batch of ``stream``, after
    :func:`scrub_virgin_checkpoint` on ``checkpoint_dir``.
    ``available_now`` drains what is present and stops; otherwise the
    query runs until stopped, every ``processing_time`` if given."""
    if checkpoint_dir is not None:
        scrub_virgin_checkpoint(stream.sparkSession, checkpoint_dir)
    writer = stream.writeStream.foreachBatch(process)
    if query_name is not None:
        writer = writer.queryName(query_name)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def await_drain(query: StreamingQuery, timeout_s: float, what: str) -> None:
    """Wait up to ``timeout_s`` for an availableNow ``query``; past it,
    stop the query and raise ``TimeoutError``. A maintenance cycle must
    not compact, retrain or serve over a still-running drain: a staged
    swap drops the rows appended in its read-to-swap window."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"{what} exceeded {timeout_s}s; stream stopped and the rest "
            "of the cycle skipped — re-run the cycle (the drain is "
            "checkpointed, so no progress is lost)"
        )


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
    :func:`start_stream` scrubs a ``checkpoint_dir`` with no committed
    progress (a kill during the first offset write) before the start.

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

    return start_stream(
        events, _deliver, checkpoint_dir, available_now, processing_time, query_name
    )


def scrub_virgin_checkpoint(spark: SparkSession, checkpoint_dir: str) -> int:
    """Remove orphan metadata-log temp files from a checkpoint that has
    made NO committed progress; returns how many files were removed.
    :func:`start_stream` runs it before every query start.

    A ``q.stop()`` (a maintenance cycle's drain timeout) or a kill that
    interrupts the very FIRST offset write leaves only a
    ``.0.<uuid>.tmp`` behind in ``<checkpoint>/offsets``: the batch
    never committed, yet Spark 4.x's restart validation
    (MicroBatchExecution.verifyNewCheckpointDirectory) sees a non-empty
    directory for what the empty offset log says is a NEW checkpoint
    and refuses to start with
    [STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY], breaking the restart.
    Temp files are never progress (HDFSMetadataLog publishes entries by
    atomic rename), and the scrub refuses to touch a checkpoint holding
    ANY committed offset entry, so real resume state is unreachable by
    construction. Goes through the Hadoop FileSystem of the checkpoint
    path, so non-local checkpoint schemes behave the same; a session
    without a JVM handle (Spark Connect) skips the scrub.
    """
    jvm = getattr(spark, "_jvm", None)
    if jvm is None:
        return 0
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    fs, root = _file_system(spark, checkpoint_dir)
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
