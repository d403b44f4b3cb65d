"""Incrementally-maintained cohort retention: the warehouse fix for
the one measured linear-at-scale events query.

``weekly_retention_cohorts`` (q_relational.py) recomputes the
retention triangle from raw events per query; its
(cohort_day, week_offset, user) distinct carries EVERY event through
the shuffle — measured linear at ~0.35 s per million events
(BASELINE.md r12, 34.9 s at 100 M). The reference's consumers have the
same shape: every query re-aggregates the outbox table
(eventqueue/event_queue.go:60-75 — the ordered scan consumers page
through per query).

The standard fix is a per-ingest-day pre-aggregate, maintained by the
daily ingest job:

* ``first_seen_update`` folds a day's events into the user→first-event
  table — O(day) work, one user-keyed shuffle of user-sized frames;
* ``retention_day_partial`` emits the day's DISTINCT
  (cohort_day, week_offset, user_id) triples — at most one row per
  (user, week) per day instead of one per event;
* ``retention_from_partials`` is what the QUERY now reads: the
  partials union, distinct-counted. A (cohort, week, user) triple can
  recur across at most 8 ingest days (a 7-day offset window starting
  mid-day touches 8 calendar days), so query-time work is bounded by
  ~8× the triangle size — independent of how many EVENTS each user
  generated.

Correctness of the day-by-day fold relies only on the ingest contract
the streaming surface already documents (events arrive in event-time
order across days — the outbox delivers in commit order): processing
days ascending, a user's first event is in the table by the first day
that user appears, so ``f_us`` is final when any later event is
cohorted. Exactness of the distinct count is preserved because the
partial keeps the USER key (partial-dedup, not a count): merging never
double-counts a user who spans days. The HLL-merge variant (drop the
user key, keep per-day HLL sketches — operators/sketch.py) is the
rows-only twin for when exactness can be traded away.

Everything is plain column algebra — the one-pass batch twin
(``weekly_retention_incremental``) is DuckDB-hash-checked against the
raw-events formulation, and the sequential fold is pinned equal to it
by tests/test_retention.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DAY_US = 86_400_000_000
WEEK_US = 604_800_000_000


def first_seen_update(
    first_seen: DataFrame,
    day_events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
) -> DataFrame:
    """Fold one ingest day's events into the user→first-event-µs table
    ((user_col, f_us) rows). Idempotent (min is), so crash-replaying a
    day is harmless — the same at-least-once contract as the ingest
    store appends."""
    day_min = day_events.groupBy(user_col).agg(F.min(ts_col).alias("f_us"))
    return (
        first_seen.unionByName(day_min)
        .groupBy(user_col)
        .agg(F.min("f_us").alias("f_us"))
    )


def retention_day_partial(
    day_events: DataFrame,
    first_seen: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
) -> DataFrame:
    """One ingest day's contribution to the retention triangle: the
    DISTINCT (cohort_day, week_offset, user) triples among the day's
    events. ≤ 2 output rows per active user per day (a user's week
    boundary sits at f_us + k·week — mid-day in general — so one
    calendar day straddles at most two offsets), so the materialized
    partials table grows with ACTIVE USERS per day, not events. The first_seen join is user-keyed — same uniform key as
    the day-min shuffle; week math is integer µs floor division, the
    engine-portable convention the batch query uses."""
    j = day_events.join(first_seen, user_col)
    return (
        j.select(
            F.expr("f_us div 86400000000").cast("bigint").alias("cohort_day"),
            F.expr(f"({ts_col} - f_us) div 604800000000")
            .cast("bigint")
            .alias("week_offset"),
            user_col,
        )
        .groupBy("cohort_day", "week_offset", user_col)
        .agg(F.lit(1).alias("__one"))
        .drop("__one")
    )


def retention_from_partials(
    partials: DataFrame, user_col: str = "user_id"
) -> DataFrame:
    """The retention triangle read from the maintained partials table
    — what the at-scale query scans INSTEAD of events. countDistinct
    re-dedups the ≤7-day recurrence of a (cohort, week, user) triple;
    the shuffle carries the partials (≈ active-user-days), not
    events."""
    return partials.groupBy("cohort_day", "week_offset").agg(
        F.countDistinct(user_col).alias("n_users")
    )


def retention_day_sketch(
    day_events: DataFrame,
    first_seen: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    lg_k: int = 12,
) -> DataFrame:
    """PB-scale twin of :func:`retention_day_partial`: the day's
    contribution as ONE Datasketches HLL sketch per
    (cohort_day, week_offset) cell — O(2^lg_k) bytes per cell instead
    of one row per active (user, week). The user key is gone from the
    maintained table entirely, which is the trade: merging is
    duplicate-blind by construction (HLL union is idempotent), so the
    ≤8-day recurrence the exact partial re-dedups at query time costs
    the sketch variant nothing — but the count becomes an estimate
    (~1.6% rsd at lg_k=12). Same correctness precondition as the
    exact fold: days processed ascending so first_seen is final."""
    j = day_events.join(first_seen, user_col)
    return (
        j.select(
            F.expr("f_us div 86400000000").cast("bigint").alias("cohort_day"),
            F.expr(f"({ts_col} - f_us) div 604800000000")
            .cast("bigint")
            .alias("week_offset"),
            user_col,
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.hll_sketch_agg(user_col, lg_k).alias("sketch"))
    )


def retention_from_sketches(sketches: DataFrame) -> DataFrame:
    """The retention triangle estimated from maintained day sketches:
    union-merge per cell, then estimate. Query-time state is
    O(cells × 2^lg_k) bytes — independent of users AND events; the
    merge is the mergeable-aggregate shape every warehouse rollup
    wants at PB scale."""
    return (
        sketches.groupBy("cohort_day", "week_offset")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch"))
            .cast("bigint")
            .alias("n_users_approx")
        )
    )
