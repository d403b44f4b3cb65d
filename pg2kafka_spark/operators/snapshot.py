"""O1/O8 — snapshot scan: full table → SNAPSHOT events.

Reference: ``create_snapshot_events(regclass)`` loops ``SELECT * FROM
t``, wraps every row as a ``SNAPSHOT`` event via ``row_to_json`` and
appends it to the outbox with sequence/uuid/timestamp defaults
(sql/triggers.sql:49-75; defaults sql/migrations.sql:7-13).

Spark-first: one narrow ``select`` over the scan — no shuffle, no UDF.
At 100 TB the snapshot is embarrassingly parallel: each input split maps
straight to event rows; Catalyst prunes unread columns if the caller
projects, and the JSON serialization runs inside whole-stage codegen.

``id`` ordering: the reference gets a global sequence from Postgres.
Here :func:`~pg2kafka_spark.streaming.relay.bootstrap_outbox` appends
the snapshot through ``append_outbox``, which gives it the log's next
ids and publishes its files before any later write's, so a key's
SNAPSHOT precedes its later changes (README.md:38-40).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pg2kafka_spark.event import STMT_SNAPSHOT, envelope
from pg2kafka_spark.operators.diff import full_row_json


def snapshot_events(
    df: DataFrame,
    table_name: str,
    external_id_column: str | None,
) -> DataFrame:
    """Wrap every row of ``df`` as a SNAPSHOT event.

    ``external_id_column`` None ⇒ NULL external_id (untracked key —
    unkeyed Kafka message, sql/sql_test.go:220-222). A NULL value in
    the key column likewise passes through as NULL (ByteString nil
    semantics, eventqueue/event_queue.go:157-164).
    """
    key = F.col(external_id_column).cast("string") if external_id_column is not None else None
    # row_to_json(rec) analog (sql/triggers.sql:66); nulls kept as
    # JSON null — an explicit reference behavior (sql/sql_test.go:92-110).
    data = full_row_json(F.struct("*"), df.columns)
    return envelope(df, table_name, key, F.lit(STMT_SNAPSHOT), data)
