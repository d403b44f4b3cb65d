"""Latest-state compaction — the quintessential pg2kafka-consumer query.

The reference guarantees per-key in-order delivery (murmur2 key
partitioning, main.go:193, README.md:38-40) precisely so a consumer can
fold the change stream into current state. That fold is this operator:
keep, per key, the event that sorts last.

Two physical strategies, both correct:

* ``latest_state`` — ``row_number() OVER (PARTITION BY key ORDER BY ord
  DESC) = 1``. One shuffle on key + per-partition sort. Keeps *all*
  columns with zero extra plumbing. Skew-sensitive (a hot key lands on
  one task — AQE skew handling does not split window partitions).
* ``latest_state_agg`` — ``max_by(struct(cols), ord)`` hash aggregate.
  One shuffle but **partial aggregation runs map-side**, so at 100 TB
  the shuffle carries one row per key per input partition instead of
  every event — the right default at scale, and hot keys reduce
  map-side first (skew-proof).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from pg2kafka_spark.event import STMT_DELETE


def latest_state(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Window formulation: full rows, deterministic via ``order_cols``
    (pass a total order per key, e.g. ``["ts", "event_id"]``)."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_state_agg(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Aggregate formulation: map-side-combinable ``max_by``.

    Returns ``key_cols + value_cols`` (default: all non-key columns).
    ``order_cols`` form the per-key total order (struct-compares
    lexicographically, so ties on the first break on the second).
    """
    value_cols = [c for c in df.columns if c not in key_cols] if value_cols is None else list(value_cols)
    ord_struct = F.struct(*[F.col(c) for c in order_cols])
    picked = F.max_by(F.struct(*[F.col(c) for c in value_cols]), ord_struct).alias("__latest")
    out = df.groupBy(*key_cols).agg(picked)
    return out.select(*key_cols, *[F.col(f"__latest.{c}").alias(c) for c in value_cols])


def apply_change_feed(
    feed: DataFrame,
    key_cols: Sequence[str],
    version_col: str,
    payload_col: str,
    columns: Sequence[str],
) -> DataFrame:
    """Materialize current state from a changed-columns-only CDC feed —
    the consumer-side inverse of the trigger's diff (sql/triggers.sql:
    23-37): INSERT/SNAPSHOT rows carry the full row as JSON, UPDATE
    rows carry only changed columns (explicit JSON null = set to NULL,
    absent key = unchanged), DELETE removes the key. ``feed`` carries
    the event's ``statement`` column.

    Per key and column, the final value is the payload value of the
    LATEST feed row (by ``version_col``) whose JSON contains that
    column — one hash aggregate with a ``max_by`` per column, each
    ordered by a version that is NULL on rows not touching the column
    (max_by skips null orderings). The value rides inside a struct so
    "never set" (NULL struct → column never appeared) stays distinct
    from "set to NULL" (struct with NULL value). Keys whose latest
    statement is DELETE are dropped; a later INSERT resurrects them
    (full-row payload supersedes every earlier fragment).

    Map-side partial aggregation makes the shuffle carry one
    (key x columns) fragment row per input partition — the same
    100 TB-safe shape as ``latest_state_agg``, independent of how many
    versions each key has.
    """
    df = feed.withColumn("__m", F.from_json(F.col(payload_col), "map<string,string>"))
    aggs = []
    for c in columns:
        touched = F.map_contains_key(F.col("__m"), F.lit(c))
        aggs.append(
            F.max_by(
                F.struct(F.element_at(F.col("__m"), F.lit(c)).alias("v")),
                F.when(touched, F.col(version_col)),
            ).alias(f"__s_{c}")
        )
    aggs.append(F.max_by(F.col("statement"), F.col(version_col)).alias("__last"))
    state = df.groupBy(*key_cols).agg(*aggs)
    return state.filter(
        F.col("__last").isNull() | (F.col("__last") != STMT_DELETE)
    ).select(*key_cols, *[F.col(f"__s_{c}.v").alias(c) for c in columns])


def scd2_history(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    tiebreak_col: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Materialize the change feed as a slowly-changing-dimension
    type-2 history table: one row per key VERSION with its validity
    interval — ``valid_from`` = the change's timestamp, ``valid_to`` =
    the next change's (NULL while current), plus ``version`` (1-based
    per key) and ``is_current``. This is the standard warehouse
    consumption of a CDC feed when consumers need AS-OF queries over
    arbitrary history (``state_asof`` answers one point; the SCD2
    table answers all of them with a plain range predicate — and
    z-order it on (key, valid_from) for the 2-D prune).

    One window per key ordered by (ts, tiebreak): per-key state is a
    single row of lookahead (``lead``), keys are uniform (user ids),
    so the shuffle is the partition-by-key exchange and nothing else —
    the same shape as sessionization, scale-safe wherever that is.
    """
    w = Window.partitionBy(*key_cols).orderBy(ts_col, tiebreak_col)
    return df.select(
        *key_cols,
        *value_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead(ts_col).over(w).isNull().alias("is_current"),
    )
