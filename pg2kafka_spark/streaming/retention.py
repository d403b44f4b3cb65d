"""Self-maintaining retention pre-aggregate: the missing loop the r13
verdict named — `first_seen_update` + `retention_day_partial`
(operators/retention.py) wired into a Structured Streaming job with
the same shape as the dedup store's `start_ingest_stream`
(streaming/ingest.py), so a user gets the measured 105×
query-from-partials speedup (BASELINE.md, 0.41 s vs 43 s at 100 M
events) without hand-rolling the daily fold.

Reference parity: the outbox consumers in pg2kafka re-scan the event
queue per query (eventqueue/event_queue.go:60-75); this module is the
warehouse-side maintained rollup of that feed.

State is TWO append-only parquet tables, both replay-idempotent:

* ``first_seen_dir`` — per-batch (user, f_us) MIN-candidates. The
  effective first-seen table is ``min(f_us) per user`` over the
  accumulated candidates; duplicate candidate rows from an
  at-least-once replay change nothing (min is idempotent). The table
  grows with ACTIVE USERS PER BATCH, not events, and a compaction
  (rewrite as the folded one-row-per-user table) is itself just
  `first_seen_update(empty, candidates)` — safe at any time.
* ``partials_dir`` — the day's DISTINCT (cohort_day, week_offset,
  user) triples, batch_id-stamped. Serving re-dedups with
  countDistinct (`retention_from_partials`), so replayed duplicate
  rows are absorbed — the same consumer-dedups contract as the wire
  events.

Correctness precondition (same as the batch fold documents,
operators/retention.py:29-35): events arrive in per-user event-time
order across micro-batches — the outbox delivers in commit order — so
by the time any event of user U is cohorted, U's true first event is
either already in the candidates table or inside the current batch;
the in-memory fold (candidates ∪ batch-min) therefore computes the
FINAL f_us for every user the batch touches.

Crash contract (at-least-once, never loss): candidates are written
FIRST, partials second. Crash between the two → the replay recomputes
the same partials (its candidate rows are already present; min
unchanged) and appends them once. Crash after both, before the
checkpoint commit → the replay appends duplicate candidate AND
partial rows, both absorbed (min / countDistinct). No ordering makes
a window lossy because every batch recomputes its partials from its
own events plus the candidates union — nothing depends on the
partials table's prior contents.

Scale notes: per-batch work is two user-keyed shuffles of
batch-sized + user-sized frames (the day-min and the first-seen
join); the partials append is ≤2 rows per active user per batch
(operators/retention.py:78-85). ``partials_dir`` is PARTITIONED by
cohort_day (r15) so cohort-windowed triangle queries prune at the
scan, and ``run_retention_maintenance`` schedules the candidates
compaction between availableNow drains; neither changes the contract
above. Both compactions (``compact_first_seen``, ``compact_sketches``)
replace their table through ``swap.swap_in`` under a
``<dir>.__compacting__`` sentinel, which the streams refuse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import TimestampType

from pg2kafka_spark.operators.retention import (
    first_seen_update,
    retention_day_partial,
)
from pg2kafka_spark.streaming.ingest import _store_or_empty
from pg2kafka_spark.streaming.relay import (
    await_drain,
    read_file_stream,
    start_stream,
)
from pg2kafka_spark.streaming.swap import refuse_mid_swap, swap_in


def _to_micros(df: DataFrame, ts_col: str) -> tuple[DataFrame, str]:
    """Normalize the event-time column to epoch-µs bigint (the
    convention every retention operator uses); timestamp columns are
    converted, bigints pass through."""
    if isinstance(df.schema[ts_col].dataType, TimestampType):
        return (
            df.withColumn("__ts_us", F.unix_micros(F.col(ts_col))),
            "__ts_us",
        )
    return df, ts_col


def _candidates_or_empty(
    spark: SparkSession, first_seen_dir: str, like: DataFrame
) -> DataFrame:
    """The candidates store, or an empty frame on the true first
    batch — but RAISE when a compaction is mid-swap: the sentinel
    brackets the window where the directory legitimately does not
    exist, and folding that batch against an "empty" store would
    compute wrong first-seen values (wrong cohorts) silently. The
    failed micro-batch stays uncommitted in the checkpoint, so fixing
    the sentinel and restarting replays it losslessly."""
    refuse_mid_swap(
        _compaction_sentinel(first_seen_dir),
        f"candidates table {first_seen_dir!r}",
        "mid-compaction",
    )
    return _store_or_empty(spark, first_seen_dir, like)


def retention_maintain_batch(
    batch_df: DataFrame,
    first_seen_candidates: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch of the maintenance fold, PURE (no writes):
    returns ``(day_min, partials)`` — the batch's (user, f_us)
    MIN-candidate rows to append to the candidates table, and the
    batch's (cohort_day, week_offset, user) partial rows to append to
    the partials table. The streaming wrapper owns the writes; the
    replay-idempotence test drives this directly."""
    batch_df, ts_col = _to_micros(batch_df, ts_col)
    day_min = batch_df.groupBy(user_col).agg(F.min(ts_col).alias("f_us"))
    effective = first_seen_update(
        first_seen_candidates, batch_df, user_col, ts_col
    )
    partials = retention_day_partial(batch_df, effective, user_col, ts_col)
    return day_min, partials


def _compaction_sentinel(first_seen_dir: str) -> str:
    return first_seen_dir.rstrip("/") + ".__compacting__"


def retention_maintain_batch_sketch(
    batch_df: DataFrame,
    first_seen_candidates: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    lg_k: int = 12,
) -> tuple[DataFrame, DataFrame]:
    """PB-scale twin of :func:`retention_maintain_batch`: the batch's
    contribution as (cohort, week) HLL sketch rows instead of per-user
    triples — the maintained table carries O(2^lg_k) bytes per
    touched cell per batch and NO user key. Same crash contract by
    the same algebra: a replayed batch folds against a candidates
    table already containing its rows (min unchanged) and re-emits
    BIT-IDENTICAL sketch rows, which the serve's ``hll_union_agg``
    absorbs (union is idempotent). Same arrival precondition as the
    exact fold."""
    from pg2kafka_spark.operators.retention import retention_day_sketch

    batch_df, ts_col = _to_micros(batch_df, ts_col)
    day_min = batch_df.groupBy(user_col).agg(F.min(ts_col).alias("f_us"))
    effective = first_seen_update(
        first_seen_candidates, batch_df, user_col, ts_col
    )
    sketches = retention_day_sketch(
        batch_df, effective, user_col, ts_col, lg_k
    )
    return day_min, sketches


def start_retention_sketch_stream(
    spark: SparkSession,
    incoming_dir: str,
    schema,
    first_seen_dir: str,
    sketches_dir: str,
    checkpoint_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lg_k: int = 12,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Sketch-mode maintenance stream: identical loop and write-order
    contract to :func:`start_retention_stream`, but the maintained
    table is batch-stamped (cohort, week) HLL sketch rows — the shape
    whose serve cost is O(cells × 2^lg_k) bytes independent of users
    AND events. Serve with
    ``operators/retention.retention_from_sketches`` over the sketches
    table."""
    stream = read_file_stream(
        spark, incoming_dir, schema, max_files_per_trigger
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        like = (
            batch_df.select(F.col(user_col))
            .withColumn("f_us", F.lit(0).cast("long"))
            .schema
        )
        cands = _candidates_or_empty(
            sess, first_seen_dir, sess.createDataFrame([], like)
        )
        refuse_mid_swap(
            _compaction_sentinel(sketches_dir),
            f"sketch table {sketches_dir!r}",
            "mid-compaction",
        )
        day_min, sketches = retention_maintain_batch_sketch(
            batch_df, cands, user_col, ts_col, lg_k
        )
        # candidates FIRST, sketches second — the shared crash
        # contract (module docstring)
        day_min.write.mode("append").parquet(first_seen_dir)
        sketches.withColumn("batch_id", F.lit(int(batch_id))).write.mode(
            "append"
        ).parquet(sketches_dir)

    return start_stream(
        stream, _process, checkpoint_dir, available_now, "10 seconds"
    )


def compact_sketches(
    spark: SparkSession, sketches_dir: str
) -> None:
    """Fold the batch-stamped sketch table to ONE row per
    (cohort_day, week_offset) cell — HLL union is associative, so
    pre-merging batches preserves every serve estimate bit-for-bit
    while capping the table at O(cells) rows no matter how many
    batches accreted. Same between-runs ``swap_in`` as
    ``compact_first_seen``, under a ``<sketches_dir>.__compacting__``
    sentinel the sketch stream refuses (folded batch_id = -1 marks
    pre-merged rows)."""
    df = spark.read.parquet(sketches_dir)
    folded = (
        df.groupBy("cohort_day", "week_offset")
        .agg(F.hll_union_agg("sketch").alias("sketch"))
        .withColumn("batch_id", F.lit(-1))
    )
    staging = sketches_dir.rstrip("/") + ".__compact__"
    folded.write.mode("overwrite").parquet(staging)
    swap_in(staging, sketches_dir, _compaction_sentinel(sketches_dir))


def compact_first_seen(
    spark: SparkSession, first_seen_dir: str, user_col: str = "user_id"
) -> None:
    """Rewrite the append-only candidates table as its one-row-per-user
    fold — the scheduled compaction ``run_retention_maintenance``
    wires between drains. Value-safe by algebra (min over pre-folded
    rows is the same min), but run it BETWEEN stream runs: an append
    landing inside the read→swap window would be dropped by the
    directory swap.

    The fold goes in through ``swap.swap_in``, whose sentinel makes a
    reader racing the compaction RAISE (``_candidates_or_empty``)
    instead of mapping the missing path to an empty store — silently
    wrong cohorts. Both table states behind a stranded sentinel are
    value-identical, so either rename completes the compaction."""
    df = spark.read.parquet(first_seen_dir)
    folded = df.groupBy(user_col).agg(F.min("f_us").alias("f_us"))
    staging = first_seen_dir.rstrip("/") + ".__compact__"
    folded.write.mode("overwrite").parquet(staging)
    swap_in(staging, first_seen_dir, _compaction_sentinel(first_seen_dir))


def start_retention_stream(
    spark: SparkSession,
    incoming_dir: str,
    schema,
    first_seen_dir: str,
    partials_dir: str,
    checkpoint_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Start the retention-maintenance stream: event files landing in
    ``incoming_dir`` fold into the first-seen candidates table and
    append their day-partials, per micro-batch. ``available_now=True``
    drains the backlog then stops (the nightly-job mode);
    ``max_files_per_trigger`` bounds batch size, same knob as the
    ingest stream's."""
    stream = read_file_stream(
        spark, incoming_dir, schema, max_files_per_trigger
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()  # sever the source lineage
        sess = batch_df.sparkSession
        like = (
            batch_df.select(F.col(user_col))
            .withColumn("f_us", F.lit(0).cast("long"))
            .schema
        )
        cands = _candidates_or_empty(
            sess, first_seen_dir, sess.createDataFrame([], like)
        )
        day_min, partials = retention_maintain_batch(
            batch_df, cands, user_col, ts_col
        )
        # Write ORDER is the crash contract (module docstring):
        # candidates FIRST so a replayed batch folds against a
        # candidates table that already contains its own rows (min
        # unchanged), partials second so the replay re-emits identical
        # triples that serving's countDistinct absorbs. Partials are
        # partitioned by cohort_day so cohort-windowed serves prune.
        day_min.write.mode("append").parquet(first_seen_dir)
        partials.withColumn("batch_id", F.lit(int(batch_id))).write.mode(
            "append"
        ).partitionBy("cohort_day").parquet(partials_dir)

    return start_stream(
        stream, _process, checkpoint_dir, available_now, "10 seconds"
    )


def run_retention_maintenance(
    spark: SparkSession,
    incoming_dir: str,
    schema,
    first_seen_dir: str,
    partials_dir: str,
    checkpoint_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_files_per_trigger: int | None = None,
    compact: bool = True,
    timeout_s: int = 600,
) -> None:
    """One scheduled maintenance cycle (the nightly-job spelling):
    drain the backlog with an availableNow run, then — with the stream
    STOPPED, satisfying ``compact_first_seen``'s between-runs
    precondition — fold the candidates table. This is the loop that
    actually schedules the compaction the module docstring prescribes;
    call it per night/backfill window. Idempotent end to end: the
    drain is checkpointed, the compaction value-preserving. A drain
    that outlives ``timeout_s`` is stopped and raises ``TimeoutError``
    with the compaction skipped (``relay.await_drain``)."""
    import os

    q = start_retention_stream(
        spark,
        incoming_dir,
        schema,
        first_seen_dir=first_seen_dir,
        partials_dir=partials_dir,
        checkpoint_dir=checkpoint_dir,
        user_col=user_col,
        ts_col=ts_col,
        max_files_per_trigger=max_files_per_trigger,
        available_now=True,
    )
    await_drain(q, timeout_s, "retention drain")
    if compact and os.path.isdir(first_seen_dir):
        compact_first_seen(spark, first_seen_dir, user_col)
