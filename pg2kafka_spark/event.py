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

import time

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


def by_reference(value: Column | None = None) -> Column:
    """A per-call value as a column that compiles to the same Java on
    every call: ``value``, a constant, or with no ``value`` Spark's
    ``uuid()``, a random version-4 uuid per row.

    Spark spells a constant as a Java literal in the generated code,
    and ``uuid()`` its random seed, so a plan that carries a new one on
    every call compiles its classes anew on every call (Janino, then
    JIT warm-up). Here both reach the code through the plan's reference
    objects instead, and a plan of the same shape reuses the compiled
    classes of the first call. The constant is the one element of an
    array literal (Spark references non-primitive literals), read at an
    index the optimizer cannot fold back to a literal; ``uuid()`` sits
    under ``reflect``, which Spark evaluates through its reference and
    whose nondeterministic child it initializes per partition, so the
    generator, the format and a re-executed partition's uuids stay
    Spark's own. ``reflect`` has no whole-stage code, so the projection
    holding it runs as its own generated projection, compiled once too.
    ``value`` must be foldable, e.g. a ``lit``.
    """
    if value is None:
        return F.expr("reflect('java.lang.String', 'valueOf', uuid())")
    return F.element_at(F.array(value), F.spark_partition_id() * 0 + 1)


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
    with the log's next ids. ``uuid`` is Spark's ``uuid()``, random per
    row; ``created_at`` is the driver's clock when ``envelope`` is
    called, one value for every row of the call (``current_timestamp()``
    would be the query's start; every package caller writes the frame
    as soon as it builds it, so the two agree); ``processed`` is false.
    Both per-call values enter the generated code through
    :func:`by_reference`, so every call of one shape reuses the classes
    the first call compiled. ``external_id`` None ⇒ NULL key (untracked
    table, unkeyed Kafka message)."""
    cols = {
        "id": id_column if id_column is not None else F.monotonically_increasing_id(),
        "uuid": by_reference(),
        "external_id": external_id if external_id is not None else F.lit(None).cast("string"),
        "table_name": F.lit(table_name),
        "statement": statement,
        "data": data,
        "created_at": by_reference(F.timestamp_micros(F.lit(time.time_ns() // 1000))),
        "processed": F.lit(False),
    }
    return frame.select(*[cols[c].alias(c) for c in EVENT_COLUMNS])
