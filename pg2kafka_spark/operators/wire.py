"""O15/O16/O20 — wire-format JSON encode, topic routing, null-safe key.

Reference: ``json.Marshal(event)`` with ``json:"-"`` omissions leaves
exactly ``uuid, external_id, statement, data, created_at`` on the wire
(main.go:143-146, eventqueue/event_queue.go:41-50, README.md:76-86);
topic is ``pg2kafka.$namespace.$table`` where namespace is the database
name optionally prefixed by ``TOPIC_NAMESPACE`` (main.go:203-222);
message key = external_id, NULL key ⇒ unkeyed message
(eventqueue/event_queue.go:157-164, main_test.go:98-100).

Spark-first: projections only — the Kafka sink consumes ``key``,
``value``, ``topic`` columns directly, routing per-row, so one stream
serves every tracked table (the reference runs one topic per table from
one process the same way). NULL external_id naturally becomes a Kafka
null key (round-robin partition — same ordering caveat as the
reference).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: ``created_at`` on the wire: ISO-8601 with microseconds and offset,
#: the Postgres/Go rendering (README.md:85).
TIMESTAMP_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def parse_topic_namespace(database: str, topic_namespace: str | None = None) -> str:
    """``parseTopicNamespace`` (main.go:215-222): optional prefix + dbname."""
    if topic_namespace:
        return f"{topic_namespace}.{database}"
    return database


def topic_name(table_name: str, database: str, topic_namespace: str | None = None) -> str:
    """``topicName`` (main.go:203-205): ``pg2kafka.$namespace.$table``."""
    return f"pg2kafka.{parse_topic_namespace(database, topic_namespace)}.{table_name}"


def topic_column(database: str, topic_namespace: str | None = None) -> Column:
    """Per-row topic routing expression over ``table_name``."""
    ns = parse_topic_namespace(database, topic_namespace)
    return F.concat_ws(".", F.lit("pg2kafka"), F.lit(ns), F.col("table_name"))


def wire_value() -> Column:
    """The JSON wire payload (O15). ``data`` is already a JSON string;
    re-parsing it server-side just to re-serialize would be wasted work
    at scale, so we splice it in as a raw fragment: serialize the other
    four fields, strip the closing brace, append ``"data": <raw>``.

    ``created_at`` renders as :data:`TIMESTAMP_FORMAT`.
    """
    head = F.to_json(
        F.struct(
            F.col("uuid"),
            F.col("external_id"),
            F.col("statement"),
            F.date_format(F.col("created_at"), TIMESTAMP_FORMAT).alias("created_at"),
        ),
        {"ignoreNullFields": "false"},
    )
    # Splice on bytes: dropping the head's closing brace by octet
    # length skips the per-row UTF-8 character count that a string
    # ``substr``/``length`` pair pays. Over 416k cached events (noop
    # write, median of 6, 4 cores) it took 0.45 s against 0.60 s for
    # the string splice, with identical values.
    return F.concat(
        head.cast("binary").substr(F.lit(1), F.octet_length(head) - F.lit(1)),
        F.lit(',"data":').cast("binary"),
        F.col("data").cast("binary"),
        F.lit("}").cast("binary"),
    ).cast("string")


def _fits_one_task(events: DataFrame) -> bool:
    """Whether the optimizer's size estimate of ``events`` (for a file
    scan, the sum of its file sizes) is at or below AQE's coalescing
    floor, ``spark.sql.adaptive.coalescePartitions.minPartitionSize``.
    A keyed exchange of such a frame would be coalesced back into one
    reduce task anyway. False when the size is unknown: Spark then
    reports ``spark.sql.defaultSizeInBytes`` (above any floor), and a
    Spark Connect frame exposes no plan statistics at all."""
    jdf = getattr(events, "_jdf", None)
    if jdf is None:
        return False
    spark = events.sparkSession
    size = jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    floor = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    )
    return int(size) <= floor


def ordered_for_delivery(events: DataFrame) -> DataFrame:
    """Enforce the reference's per-key delivery order for a PARALLEL
    producer (README.md:38-40: murmur2 partitioning on external_id +
    one-in-flight sync produce ⇒ strict per-entity order).

    A micro-batch's rows for one key can span source partitions
    (different outbox files), and a parallel sink would interleave
    them. This is the standard Spark fix, applied ONCE at the sink
    edge: co-locate each key in exactly one task, then sort within
    each task by (external_id, id). A foreachBatch producer that
    iterates its partition in order then emits each key's events in
    outbox-id order; with the checkpoint's ordered micro-batches that extends to
    the whole stream. NULL keys (the reference's unkeyed ByteString-nil
    messages) all land in one task but carry no ordering contract,
    same as the reference's round-robin produce.

    The co-location is chosen from the frame's measured size, not from
    a setting. A frame whose planned input size is at or below AQE's
    coalescing floor
    (``spark.sql.adaptive.coalescePartitions.minPartitionSize``, 1 MB
    by default) is read as ONE task (``coalesce(1)``, no shuffle) and
    sorted there: AQE would merge its keyed shuffle into a single
    reduce task anyway, so the output shape is the same and the
    shuffle, the AQE re-plan and the second job are saved — the common
    case for a live tail's small micro-batches. A frame above the
    floor, or of unknown size, is hash-repartitioned on the key into
    ``spark.sql.shuffle.partitions`` tasks (before AQE coalescing).

    The wire projection (:func:`to_wire`) is narrow, so applying it
    AFTER this preserves the per-partition order. Scale: at most one
    shuffle of the micro-batch (bounded by the paging knob), sort is
    per-task over that batch's rows — the price of the reference's
    contract at any parallelism, vs the reference's single-process
    serial produce.
    """
    if _fits_one_task(events):
        parted = events.coalesce(1)
    else:
        parted = events.repartition(F.col("external_id"))
    return parted.sortWithinPartitions("external_id", "id")


def from_wire(messages: DataFrame, data_schema: str, rescue: bool = False) -> DataFrame:
    """CONSUMER-side decode of the ``value`` column — the inverse of
    :func:`wire_value`, the parse every downstream service of the
    reference writes by hand against the documented payload
    (README.md:75-90): one ``from_json`` recovers the envelope (uuid,
    external_id, statement, created_at) and the TYPED row under
    ``data`` (``data_schema`` is the tracked table's DDL —
    schema-pinned like every text source here, never inferred).
    Returns the input columns plus the five decoded ones; gate on
    ``data IS NULL`` for quarantine (PERMISSIVE parse, malformed
    payloads decode to NULL row).

    ``rescue=True`` adds a ``rescued`` column — ``map<string,string>``
    of the payload keys NOT in the pinned schema, each value the raw
    JSON text. A pinned ``from_json`` silently drops unknown keys, so
    an upstream ``ALTER TABLE ADD COLUMN`` (which the reference's
    schemaless jsonb capture forwards on the wire unasked,
    sql/triggers.sql:21-29) would otherwise be invisible downstream;
    with rescue the drifted keys are observable (alert on
    ``size(rescued) > 0``, backfill from the raw text after the
    schema catches up). Empty map = no drift; NULL = ``data`` is
    missing, null, not an object, or the message failed to parse.

    Scale shape: JVM-side JacksonParser projections inside codegen
    next to whatever scan carries the messages — the decode twin of
    the encode's splice, no Python, no shuffle. The envelope is parsed
    ONCE: it is projected under an alias that the decoded columns all
    read, and the optimizer does not inline a non-cheap expression
    referenced more than once. ``rescue`` costs one more parser pass
    (``data`` read as a ``map<string,string>``), still map-only."""
    full = (
        "uuid string, external_id string, statement string, "
        f"created_at string, data struct<{data_schema}>"
    )
    w = F.col("__w")
    cols = [
        w.getField("uuid").alias("uuid"),
        w.getField("external_id").alias("external_id"),
        w.getField("statement").alias("statement"),
        F.to_timestamp(w.getField("created_at"), TIMESTAMP_FORMAT).alias("created_at"),
        w.getField("data").alias("data"),
    ]
    if rescue:
        from pyspark.sql.types import StructType

        known = StructType.fromDDL(data_schema).names
        # map<string,string> keeps unknown structure: non-string JSON
        # values (numbers, nested objects) come through as raw text, so
        # nothing the producer added is lost.
        raw = F.from_json(F.col("value"), "data map<string,string>").getField("data")
        cols.append(F.map_filter(raw, lambda k, _v: ~k.isin(known)).alias("rescued"))
    staged = messages.select("*", F.from_json(F.col("value"), full).alias("__w"))
    return staged.select("*", *cols).drop("__w")


def wire_columns(database: str, topic_namespace: str | None = None) -> list[Column]:
    """The :func:`to_wire` projection as a column list. The columns are
    unresolved expressions, so one list serves any number of frames: a
    streaming relay builds it once per query and each micro-batch pays
    only its ``select``."""
    return [
        F.col("external_id").alias("key"),
        wire_value().alias("value"),
        topic_column(database, topic_namespace).alias("topic"),
        F.array(
            F.struct(
                F.lit("created_at").alias("key"),
                F.encode(
                    F.date_format(F.col("created_at"), TIMESTAMP_FORMAT), "UTF-8"
                ).alias("value"),
            )
        ).alias("headers"),
    ]


def to_wire(events: DataFrame, database: str, topic_namespace: str | None = None) -> DataFrame:
    """Project canonical events to Kafka sink shape:
    ``key`` (nullable binary-safe string), ``value`` (JSON),
    ``topic``, ``headers``.

    Drop-on-the-floor columns (``id``/``table_name``/``processed``)
    match the ``json:"-"`` omissions. Spark's Kafka sink consumes
    only key/value/topic/partition/headers — it cannot set the
    broker-side message timestamp from a column (that is assigned at
    produce time), so the event's own ``created_at`` rides as a
    ``created_at`` message HEADER (ISO-8601 µs, same rendering as the
    payload field) in addition to the JSON body. Consumers that read
    the reference's timestamped messages read the header instead.
    """
    return events.select(*wire_columns(database, topic_namespace))
