"""Incrementally-maintained retention (operators/retention.py): the
day-by-day maintenance fold must reproduce the raw-events triangle
exactly, survive at-least-once day replays, and the registered
one-pass twin must equal the original query."""

from __future__ import annotations

from pyspark.sql import functions as F

from pg2kafka_spark.catalog import load_table
from pg2kafka_spark.operators.retention import (
    DAY_US,
    first_seen_update,
    retention_day_partial,
    retention_from_partials,
)

SF = "/root/testdata/sf0.001"


def _events(spark):
    return load_table(spark, "events", SF).select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )


def _triangle_rows(df):
    return {
        (r.cohort_day, r.week_offset, r.n_users) for r in df.collect()
    }


def _batch_triangle(spark):
    from pg2kafka_spark.queries import QUERIES

    return _triangle_rows(QUERIES["weekly_retention_cohorts"](spark, SF))


def _fold_days(spark, ev, day_slices):
    """Run the daily maintenance loop over ascending day slices;
    returns (first_seen, accumulated partials)."""
    first_seen = spark.createDataFrame([], "user_id bigint, f_us bigint")
    partials = spark.createDataFrame(
        [], "cohort_day bigint, week_offset bigint, user_id bigint"
    )
    for lo, hi in day_slices:
        day = ev.filter(
            (F.col("ts_us") >= F.lit(lo * DAY_US))
            & (F.col("ts_us") < F.lit(hi * DAY_US))
        )
        # contract order: first_seen absorbs the day BEFORE the day's
        # partial is cohorted (a user whose first-ever event is today
        # must cohort to today, not be dropped by the join)
        first_seen = first_seen_update(first_seen, day).localCheckpoint()
        partials = partials.unionByName(
            retention_day_partial(day, first_seen)
        ).localCheckpoint()
    return first_seen, partials


def _day_slices(ev, n_slices):
    b = ev.agg(
        F.min(F.expr("ts_us div 86400000000")).alias("lo"),
        F.max(F.expr("ts_us div 86400000000")).alias("hi"),
    ).collect()[0]
    lo, hi = int(b.lo), int(b.hi) + 1
    step = max(1, (hi - lo + n_slices - 1) // n_slices)
    return [(d, min(d + step, hi)) for d in range(lo, hi, step)]


import pytest


@pytest.mark.parametrize("n_slices", [3, 6, 11])
def test_daily_fold_reproduces_batch_triangle(spark, n_slices):
    """Fold granularity must not matter: coarse (3), the daily-ish 6,
    and an uneven 11 (the last slice is shorter) all reproduce the
    one-pass triangle."""
    ev = _events(spark)
    slices = _day_slices(ev, n_slices)
    assert len(slices) >= 3, "fixture must span several day slices"
    _fs, partials = _fold_days(spark, ev, slices)
    got = _triangle_rows(retention_from_partials(partials))
    assert got == _batch_triangle(spark)


def test_partials_recur_bounded_and_shrink(spark):
    """The scale claim itself: each (cohort, week, user) triple occurs
    in ≤ 8 day-partials, and the partials table is strictly smaller
    than the event count it replaces."""
    ev = _events(spark)
    f = ev.groupBy("user_id").agg(F.min("ts_us").alias("f_us"))
    partials = (
        ev.join(f, "user_id")
        .select(
            F.expr("ts_us div 86400000000").alias("ingest_day"),
            F.expr("f_us div 86400000000").alias("cohort_day"),
            F.expr("(ts_us - f_us) div 604800000000").alias("week_offset"),
            "user_id",
        )
        .distinct()
    )
    dup = (
        partials.groupBy("cohort_day", "week_offset", "user_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert dup <= 8
    assert partials.count() < ev.count()


def test_day_replay_is_idempotent(spark):
    """At-least-once maintenance: re-folding an already-absorbed day
    (crash between partial append and checkpoint) changes nothing —
    first_seen is a min-fold and the triangle re-dedups the user key."""
    ev = _events(spark)
    slices = _day_slices(ev, 4)
    fs, partials = _fold_days(spark, ev, slices)
    lo, hi = slices[1]
    day = ev.filter(
        (F.col("ts_us") >= F.lit(lo * DAY_US))
        & (F.col("ts_us") < F.lit(hi * DAY_US))
    )
    fs2 = first_seen_update(fs, day)
    partials2 = partials.unionByName(retention_day_partial(day, fs2))
    assert _triangle_rows(retention_from_partials(partials2)) == _triangle_rows(
        retention_from_partials(partials)
    )
    assert fs2.count() == fs.count()


def test_registered_incremental_query_equals_batch(spark):
    from pg2kafka_spark.queries import QUERIES

    inc = _triangle_rows(QUERIES["weekly_retention_incremental"](spark, SF))
    assert inc == _batch_triangle(spark)


def test_hll_sketch_mode_within_tolerance_of_exact(spark):
    """The rows-only sketch query: exact (cohort, week) CELL SET and
    every estimate within HLL tolerance of the exact count (lg_k=12
    → ~1.6% rsd; the fixture's per-cell cardinalities are far below
    the sketch's dense threshold, so estimates are near-exact)."""
    from pg2kafka_spark.queries import QUERIES

    exact = {
        (r.cohort_day, r.week_offset): r.n_users
        for r in QUERIES["weekly_retention_cohorts"](spark, SF).collect()
    }
    approx = {
        (r.cohort_day, r.week_offset): r.n_users_approx
        for r in QUERIES["weekly_retention_hll"](spark, SF).collect()
    }
    assert set(approx) == set(exact)
    for cell, n in exact.items():
        est = approx[cell]
        assert abs(est - n) <= max(2, 0.05 * n), (cell, n, est)


def test_hll_day_sketch_fold_matches_one_pass(spark):
    """Day-by-day sketch maintenance (retention_day_sketch per slice,
    union-merged) estimates every cell identically to the one-pass
    registered query — HLL union is associative over the day split."""
    from pg2kafka_spark.operators.retention import (
        retention_day_sketch,
        retention_from_sketches,
    )
    from pg2kafka_spark.queries import QUERIES

    ev = _events(spark)
    slices = _day_slices(ev, 4)
    first_seen = spark.createDataFrame([], "user_id bigint, f_us bigint")
    sketches = None
    for lo, hi in slices:
        day = ev.filter(
            (F.col("ts_us") >= F.lit(lo * DAY_US))
            & (F.col("ts_us") < F.lit(hi * DAY_US))
        )
        first_seen = first_seen_update(first_seen, day).localCheckpoint()
        ds = retention_day_sketch(day, first_seen)
        sketches = ds if sketches is None else sketches.unionByName(ds)
        sketches = sketches.localCheckpoint()
    folded = {
        (r.cohort_day, r.week_offset): r.n_users_approx
        for r in retention_from_sketches(sketches).collect()
    }
    one_pass = {
        (r.cohort_day, r.week_offset): r.n_users_approx
        for r in QUERIES["weekly_retention_hll"](spark, SF).collect()
    }
    assert folded == one_pass


def test_hll_plan_has_no_user_keyed_aggregation(spark):
    """The scale property: after the first_seen join, NO aggregation
    keys on user_id — the shuffle carries sketch bytes per (day,
    cohort, week) cell, never per-user rows. (first_seen itself is a
    user-keyed min — that's the cohort definition, shared with every
    retention variant.)"""
    from pg2kafka_spark.queries import QUERIES

    plan = (
        QUERIES["weekly_retention_hll"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hll_sketch_agg" in plan and "hll_union_agg" in plan
    # exactly one user-keyed hash aggregation pair (partial+final for
    # first_seen's min) — the distinct-style Expand/dedup never appears
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_served_query_reads_maintained_table_and_matches(spark):
    """weekly_retention_served must equal the in-query rebuild — the
    serve path reads ONLY the at-rest partials table."""
    from pg2kafka_spark.queries import QUERIES

    served = _triangle_rows(QUERIES["weekly_retention_served"](spark, SF))
    inq = _triangle_rows(
        QUERIES["weekly_retention_incremental"](spark, SF)
    )
    assert served == inq


def test_retention_store_rekeys_when_source_changes(spark, tmp_path):
    """The at-rest store must be keyed by the SOURCE's identity: a
    regenerated events table (new mtime/size) gets a fresh store
    directory instead of serving stale partials."""
    import os
    import shutil

    from pg2kafka_spark.q_relational import _ensure_retention_store

    sf_copy = str(tmp_path / "sfcopy")
    os.makedirs(sf_copy)
    for t in ("events.parquet",):
        src = os.path.join(SF, t)
        dst = os.path.join(sf_copy, t)
        (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)
    root1 = _ensure_retention_store(spark, sf_copy)
    ev = os.path.join(sf_copy, "events.parquet")
    victim = (
        os.path.join(ev, sorted(os.listdir(ev))[0])
        if os.path.isdir(ev) else ev
    )
    st = os.stat(victim)
    os.utime(victim, (st.st_atime, st.st_mtime + 100))
    root2 = _ensure_retention_store(spark, sf_copy)
    assert root1 != root2, "changed source must not reuse the store"


