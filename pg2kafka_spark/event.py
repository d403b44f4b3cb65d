"""Canonical change-event envelope.

Mirrors the reference outbox row / Go ``Event`` struct
(reference: eventqueue/event_queue.go:41-50, sql/migrations.sql:6-15):
``id, uuid, external_id, table_name, statement, data, created_at,
processed``. Wire shape drops ``id``/``table_name``/``processed``
(json:"-" tags, eventqueue/event_queue.go:42-49).

In Spark the envelope is a fixed StructType; ``data`` stays a JSON
STRING (dynamic payload, per-table ``from_json`` when a consumer needs
columns) — SURVEY.md §1.3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

# Statement enum — sql/triggers.sql:40,70; legacy CREATE in main_test.go:43.
STMT_SNAPSHOT = "SNAPSHOT"
STMT_INSERT = "INSERT"
STMT_UPDATE = "UPDATE"
STMT_DELETE = "DELETE"

#: Full envelope (outbox analog). ``id`` is LONG: at 100 TB a 32-bit
#: sequence overflows; source offsets are 64-bit anyway.
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), nullable=False),
        T.StructField("uuid", T.StringType(), nullable=False),
        T.StructField("external_id", T.StringType(), nullable=True),
        T.StructField("table_name", T.StringType(), nullable=False),
        T.StructField("statement", T.StringType(), nullable=False),
        T.StructField("data", T.StringType(), nullable=False),
        T.StructField("created_at", T.TimestampType(), nullable=False),
        T.StructField("processed", T.BooleanType(), nullable=False),
    ]
)

EVENT_COLUMNS = tuple(f.name for f in EVENT_SCHEMA.fields)


def envelope(
    frame: DataFrame,
    table_name: str,
    external_id: Column | None,
    statement: Column,
    data: Column,
    id_column: Column | None = None,
) -> DataFrame:
    """Project ``frame`` to outbox rows in ``EVENT_COLUMNS`` order — the
    one place the outbox column defaults (sql/migrations.sql:7-13) are
    decided. ``id`` is ``id_column`` or ``monotonically_increasing_id()``;
    :func:`~pg2kafka_spark.streaming.relay.append_outbox` replaces it
    with the log's next ids. ``uuid()``, ``current_timestamp()`` and
    ``processed = false`` fill the rest. ``external_id`` None ⇒ NULL
    key (untracked table, unkeyed Kafka message)."""
    cols = {
        "id": id_column if id_column is not None else F.monotonically_increasing_id(),
        "uuid": F.expr("uuid()"),
        "external_id": external_id if external_id is not None else F.lit(None).cast("string"),
        "table_name": F.lit(table_name),
        "statement": statement,
        "data": data,
        "created_at": F.current_timestamp(),
        "processed": F.lit(False),
    }
    return frame.select(*[cols[c].alias(c) for c in EVENT_COLUMNS])
