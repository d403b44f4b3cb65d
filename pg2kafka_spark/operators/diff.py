"""O4/O5/O6/O7 — row→JSON projection, changed-columns diff, no-op
suppression, DELETE projection.

Reference semantics (sql/triggers.sql:20-37, verified by
sql/sql_test.go:112-181):

* INSERT → payload is the full new row (``row_to_json(NEW)``).
* UPDATE → payload contains *only the columns whose value changed*,
  each with its full NEW value (the jsonb loop deletes keys where
  ``NEW.key = OLD.key``). Equality is null-safe and structural — a
  nested jsonb/hstore value compares as a whole, so a one-key change
  inside a map emits the whole new map under that column.
* UPDATE with empty diff ``{}`` is dropped entirely (never enqueued).
* DELETE → payload is the constant ``{}`` (key survives in external_id).
* Update-to-NULL must appear in the diff as ``"col": null``
  (sql/sql_test.go:112-144) — so the serializer cannot simply drop
  nulls.

Spark-first: all pure column expressions (whole-stage codegen; zero
shuffles, zero UDFs). The one subtlety is emitting ``"col": null`` for
changed-to-null while *omitting* unchanged columns: ``to_json`` can
either drop all nulls or keep all nulls, neither of which is the diff
semantics. We therefore build the JSON object from per-column
fragments: each column serializes independently via
``to_json(struct(col))`` (which yields ``{"c":<json value>}`` with
correct escaping/typing), the outer braces are stripped, unchanged
columns map to NULL fragments, and ``concat_ws`` skips NULLs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F, types as T

from pg2kafka_spark.event import STMT_INSERT, STMT_UPDATE, envelope

EMPTY_OBJECT = "{}"


def full_row_json(row: Column, columns: Sequence[str]) -> Column:
    """O4 ``row_to_json(NEW)`` — full-row JSON with nulls preserved."""
    return F.to_json(
        F.struct(*[row[c].alias(c) for c in columns]),
        {"ignoreNullFields": "false"},
    )


def _field_fragment(name: str, value: Column) -> Column:
    """``"name": <json value>`` for a single column, null-correct.

    ``to_json(struct(v as name), ignoreNullFields=false)`` produces the
    exact one-field JSON object; stripping the outer braces leaves the
    fragment. All JVM-side, codegen-friendly.
    """
    obj = F.to_json(F.struct(value.alias(name)), {"ignoreNullFields": "false"})
    return obj.substr(F.lit(2), F.length(obj) - F.lit(2))


def _comparable(value: Column, dtype: T.DataType | None) -> Column:
    """Project a value to a ``<=>``-orderable shape.

    Spark's null-safe equality cannot order MAP types; the trigger's
    ``jsonb = jsonb`` is order-insensitive structural equality, so a
    map (hstore analog) compares as its sorted entry array. Other types
    (including structs and arrays) already order natively.
    """
    if isinstance(dtype, T.MapType):
        return F.array_sort(F.map_entries(value))
    return value


def changed_columns_json(
    old: Column,
    new: Column,
    columns: Sequence[str],
    field_types: dict[str, T.DataType] | None = None,
) -> Column:
    """O5 — JSON object of only the columns where NEW differs from OLD.

    ``old``/``new`` are struct columns with identical fields.
    Null-safe structural equality (``eqNullSafe`` ≙ ``IS NOT DISTINCT
    FROM`` ≙ the trigger's ``jsonb = jsonb``); nested map/struct/array
    values compare whole, matching the hstore/jsonb tests. Pass
    ``field_types`` (column → Spark type) when any column is a MAP so
    equality can use its sorted-entries projection.
    """
    field_types = field_types or {}
    fragments = []
    for c in columns:
        t = field_types.get(c)
        unchanged = _comparable(new[c], t).eqNullSafe(_comparable(old[c], t))
        fragments.append(
            F.when(unchanged, F.lit(None).cast("string")).otherwise(_field_fragment(c, new[c]))
        )
    return F.concat(F.lit("{"), F.concat_ws(",", *fragments), F.lit("}"))


def suppress_noops(df: DataFrame) -> DataFrame:
    """O6 — drop UPDATE events whose diff is empty (sql/triggers.sql:34-37)."""
    return df.filter(~((F.col("statement") == STMT_UPDATE) & (F.col("data") == EMPTY_OBJECT)))


def capture_changes(
    changes: DataFrame,
    table_name: str,
    external_id_column: str | None,
    columns: Sequence[str],
    id_column: Column | None = None,
) -> DataFrame:
    """O2..O8 composed — turn a change feed with before/after images
    into canonical outbox events.

    ``changes`` needs: ``op`` (INSERT|UPDATE|DELETE), ``before`` and
    ``after`` struct columns (NULL-struct allowed where the op has no
    image). This is the Spark equivalent of the trigger body
    (sql/triggers.sql:1-47): key extraction from NEW on INSERT else OLD
    (lines 14-18), payload build (20-32), no-op filter (34-37), outbox
    append with defaults (39-41), the defaults set by
    :func:`~pg2kafka_spark.event.envelope`. Write the events with
    :func:`~pg2kafka_spark.streaming.relay.append_outbox`, which gives
    them the log's next ids. ``id_column`` sets the id of a frame that
    is not appended, e.g. a feed folded straight back to state with
    ``apply_change_feed`` in its source's version order.

    Scale: narrow map-only pipeline — preserves source partitioning, no
    shuffle; safe to run on an arbitrarily wide change feed.
    """
    op = F.col("op")
    before = F.col("before")
    after = F.col("after")
    after_type = changes.schema["after"].dataType
    field_types = (
        {f.name: f.dataType for f in after_type.fields}
        if isinstance(after_type, T.StructType)
        else {}
    )

    key = None
    if external_id_column is not None:
        # INSERT keys off NEW, UPDATE/DELETE key off OLD (sql/triggers.sql:14-18).
        key = (
            F.when(op == STMT_INSERT, after[external_id_column])
            .otherwise(before[external_id_column])
            .cast("string")
        )

    data = (
        F.when(op == STMT_INSERT, full_row_json(after, columns))
        .when(op == STMT_UPDATE, changed_columns_json(before, after, columns, field_types))
        .otherwise(F.lit(EMPTY_OBJECT))  # O7 DELETE projection (sql/triggers.sql:30-32)
    )

    return suppress_noops(envelope(changes, table_name, key, op, data, id_column))
