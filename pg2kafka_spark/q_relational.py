"""Relational consumer surface — SURVEY §7 M3: the batch operators a
CDC-feed consumer needs, TPC-H-ish (see qreg docstring for
determinism rules)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pg2kafka_spark.catalog import load_table
from pg2kafka_spark.qreg import query


# ---------------------------------------------------------------------------
# Relational consumer surface (SURVEY §7 M3) — TPC-H-ish
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-hash-agg. Filter + column pruning
    push to parquet; partial aggregation map-side; 2-key groupBy keeps
    the shuffle tiny regardless of input size.
    """
    li = load_table(spark, "lineitem", sf_dir)
    # exact DECIMAL arithmetic, cast to DOUBLE at the end: double
    # `round()` at half-cent boundaries differs between engines (Spark
    # rounds the shortest decimal repr, DuckDB the binary value)
    disc_price = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    )
    charge = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
        " * (1 + CAST(l_tax AS DECIMAL(18,2)))"
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "top_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort+limit → TakeOrderedAndProject (bounded heap per partition,
    N×partitions rows to the driver merge — no global sort at scale).
    Unique-key tiebreak makes the result deterministic.
    """
    o = load_table(spark, "orders", sf_dir)
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    )


@query(
    "events_hourly",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation: event-time bucketing + hash agg.
    Hour emitted as a formatted string so ns-vs-µs parquet precision
    cannot affect the comparison.
    """
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00").alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query(
    "dau_wau_stickiness",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             user_id
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    agg AS (
      SELECT g.day,
             count(DISTINCT CASE WHEN u.day = g.day THEN u.user_id END)
               AS dau,
             count(DISTINCT u.user_id) AS wau
      FROM days g JOIN du u
        ON u.day BETWEEN g.day - 6 AND g.day
      GROUP BY g.day
    )
    SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           CAST((dau * 1000000) // wau AS BIGINT) AS stickiness_micros
    FROM agg
    """,
)
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement-ratio classic next
    to retention: daily actives over 7-day-trailing actives, share in
    exact integer micros (truncating integer division, portable).

    Scale shape: ONE events-sized shuffle builds the distinct
    (day, user) pairs — active-user-days, the same cardinality the
    retention partials carry; the trailing window is that SMALL frame
    range-joined ONCE to a broadcast day grid (|days| rows), and BOTH
    counts come out of that single joined frame (DAU is the
    conditional distinct where the pair's day IS the grid day) — no
    second events pass, no per-metric rescan; the distinct pair
    shuffles ≤7× active-user-days. Plan pinned in
    tests/test_plans.py."""
    ev = load_table(spark, "events", sf_dir)
    du = ev.select(
        F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias("day"),
        "user_id",
    ).distinct()
    days = du.select("day").distinct()
    joined = du.withColumnRenamed("day", "uday").join(
        F.broadcast(days),
        (F.col("uday") >= F.col("day") - 6)
        & (F.col("uday") <= F.col("day")),
    )
    return (
        joined.groupBy("day")
        .agg(
            F.countDistinct(
                F.when(F.col("uday") == F.col("day"), F.col("user_id"))
            )
            .cast("bigint")
            .alias("dau"),
            F.countDistinct("user_id").cast("bigint").alias("wau"),
        )
        .select(
            "day",
            "dau",
            "wau",
            F.expr("dau * 1000000 div wau")
            .cast("bigint")
            .alias("stickiness_micros"),
        )
    )


# Shared by user_value_deciles (the exact global-ntile spelling) and
# user_value_deciles_scalable (the range-partitioned twin): both
# compute bit-identical deciles, so both check against this SQL.
_USER_VALUE_DECILES_ORACLE = """
    WITH uv AS (
      SELECT user_id, round(sum(value), 4) AS total_value
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT user_id, total_value,
             ntile(10) OVER (ORDER BY total_value DESC, user_id ASC)
               AS decile,
             round(percent_rank() OVER (
               ORDER BY total_value DESC, user_id ASC), 6) AS prank
      FROM uv
    )
    SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
           round(sum(total_value), 2) AS sum_value,
           round(min(prank), 6) AS min_prank,
           round(max(prank), 6) AS max_prank
    FROM ranked GROUP BY decile
    """


@query("user_value_deciles", oracle=_USER_VALUE_DECILES_ORACLE)
def user_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-LTV decile report (ntile + percent_rank — the rank-family
    window functions the surface didn't yet exercise): users ranked
    by total event value into 10 equal buckets with per-bucket
    totals. The order is fully tie-broken (value desc, user_id asc),
    so both engines assign identical deciles. Scale note: the global
    ntile needs a total order — fine over the user-level rollup
    (users ≪ events; the events-sized stage is the per-user sum,
    which partial-aggregates before its shuffle); never run ntile
    over raw events."""
    ev = load_table(spark, "events", sf_dir)
    uv = ev.groupBy("user_id").agg(
        F.round(F.sum("value"), 4).alias("total_value")
    )
    w = Window.orderBy(F.col("total_value").desc(), F.col("user_id").asc())
    ranked = uv.select(
        "user_id",
        "total_value",
        F.ntile(10).over(w).cast("bigint").alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
    )
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.sum("total_value"), 2).alias("sum_value"),
        F.round(F.min("prank"), 6).alias("min_prank"),
        F.round(F.max("prank"), 6).alias("max_prank"),
    )


@query("user_value_deciles_scalable", oracle=_USER_VALUE_DECILES_ORACLE)
def user_value_deciles_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE spelling of ``user_value_deciles`` (r18 verdict
    item 6): identical output, but the global total order is computed
    as a range-SLICED rank instead of a single-partition window —
    percentile cut points split the value order into contiguous
    slices, ``row_number`` runs inside a window PARTITIONED by the
    slice id, and per-slice count offsets fold through a tiny
    triangle self-join (slices × slices, bounded by
    ``spark.sql.shuffle.partitions``, broadcast both sides). No stage
    ever holds more than one slice of users, so the plan survives a
    user table 1000× this size; the exact global-ntile version stays
    registered as the oracle-checked reference spelling (both share
    one oracle — the outputs are bit-identical because the order is
    fully tie-broken).

    ntile/percent_rank are re-derived from the global row number rn
    (unique-key order ⇒ rank = rn): with n users and k=10 buckets,
    the first ``n mod k`` buckets take ``n div k + 1`` rows and the
    rest ``n div k`` (ntile's contract); percent_rank = (rn-1)/(n-1).

    The slice boundaries are approx-percentile cut points collected
    ONCE (n_slices-1 doubles — control-plane sized, same class as the
    repo's other bounded geometry collects) and embedded as literals,
    so slice assignment is a PURE function of the row: the rank
    branch and the per-slice-count branch can never disagree, no
    matter how Spark re-executes the shared subtree. (The tempting
    ``repartitionByRange`` + ``spark_partition_id`` spelling is NOT
    safe here — its sampled boundaries may differ between two
    materializations of the branched subtree unless exchange reuse
    kicks in.) Boundary skew only costs balance, never correctness.
    """
    ev = load_table(spark, "events", sf_dir)
    uv = ev.groupBy("user_id").agg(
        F.round(F.sum("value"), 4).alias("total_value")
    )
    n_slices = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    qs = [i / n_slices for i in range(1, n_slices)]
    row = uv.agg(
        F.percentile_approx("total_value", qs, 10000).alias("c")
    ).collect()[0]
    cuts = [float(c) for c in (row[0] or [])]
    # slice id = how many cut points sit at-or-above this value —
    # monotone in DESC value order, so slices partition the global
    # order into contiguous runs
    if cuts:
        cut_arr = F.array(*[F.lit(c) for c in cuts])
        pid = F.size(F.filter(cut_arr, lambda c: c >= F.col("total_value")))
    else:  # empty input — one (empty) slice
        pid = F.lit(0)
    ranged = uv.withColumn("__pid", pid)
    w = Window.partitionBy("__pid").orderBy(
        F.col("total_value").desc(), F.col("user_id").asc()
    )
    local = ranged.withColumn("__rn", F.row_number().over(w).cast("bigint"))
    # control-plane side: one row per slice. The cumulative offset is
    # a strict-lower-triangle self-join rather than a partitionless
    # window — slices² pairs at most (32² here), both sides broadcast.
    counts = ranged.groupBy("__pid").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt")
    )
    prior = counts.select(
        F.col("__pid").alias("__ppid"), F.col("__cnt").alias("__pcnt")
    )
    offsets = (
        counts.join(
            F.broadcast(prior), F.col("__ppid") < F.col("__pid"), "left"
        )
        .groupBy("__pid", "__cnt")
        .agg(F.coalesce(F.sum("__pcnt"), F.lit(0)).alias("__off"))
    )
    totals = counts.agg(F.sum("__cnt").cast("bigint").alias("__n"))
    ranked = (
        local.join(F.broadcast(offsets.select("__pid", "__off")), "__pid")
        .crossJoin(F.broadcast(totals))
        .withColumn("__grn", F.col("__rn") + F.col("__off"))
    )
    k = F.lit(10).cast("bigint")
    base = F.floor(F.col("__n") / k).cast("bigint")
    rem = F.col("__n") % k
    cutoff = rem * (base + 1)
    rn = F.col("__grn")
    decile = (
        F.when(rn <= cutoff, F.floor((rn - 1) / (base + 1)) + 1)
        .otherwise(rem + F.floor((rn - cutoff - 1) / base) + 1)
        .cast("bigint")
    )
    prank = F.when(F.col("__n") > 1, F.round(
        (rn - 1).cast("double") / (F.col("__n") - 1), 6
    )).otherwise(F.lit(0.0))
    out = ranked.select(
        decile.alias("decile"),
        F.col("total_value"),
        prank.alias("prank"),
    )
    return out.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.sum("total_value"), 2).alias("sum_value"),
        F.round(F.min("prank"), 6).alias("min_prank"),
        F.round(F.max("prank"), 6).alias("max_prank"),
    )


@query(
    "daily_new_vs_returning",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             user_id
      FROM events
    ),
    f AS (SELECT user_id, min(day) AS first_day FROM du GROUP BY user_id)
    SELECT du.day,
           CAST(sum(CASE WHEN du.day = f.first_day THEN 1 ELSE 0 END)
             AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN du.day > f.first_day THEN 1 ELSE 0 END)
             AS BIGINT) AS n_returning
    FROM du JOIN f USING (user_id)
    GROUP BY du.day
    """,
)
def daily_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New vs returning active users per day — the daily-engagement
    split next to stickiness and the retention cohorts: a user is NEW
    on their first active day, RETURNING after. Same active-user-day
    frame as the retention family (one events-sized distinct), a
    user-keyed min for the first day (the first_seen fold), and a
    day-keyed conditional rollup — at scale the first-seen join reads
    the same maintained table `_ensure_retention_store` serves
    (`first_seen`), so the daily job pays only the day's pairs."""
    ev = load_table(spark, "events", sf_dir)
    du = ev.select(
        F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias("day"),
        "user_id",
    ).distinct()
    f = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        du.join(f, "user_id")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_new"),
            F.sum(
                F.when(F.col("day") > F.col("first_day"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_returning"),
        )
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.1 "Joins": engine surface beyond the reference's
# registry probe — broadcast for dims, semi/anti for existence)
# ---------------------------------------------------------------------------


@query(
    "revenue_by_region",
    oracle="""
    SELECT r_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           count(*) AS n_lineitems
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY r_name
    """,
)
def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join fact→dims. All four dims broadcast
    (≤ customer, which is 1.5 % of lineitem) so lineitem never
    shuffles for the join — the only shuffle is the final 5-group agg.
    At 100 TB customer may exceed the broadcast threshold; AQE would
    then pick sort-merge with the same plan text.

    r20: projected + hash-spread by l_orderkey (serial-scan-head
    attribution, guide §2.5); identity at scale.
    """
    from pg2kafka_spark.operators.scale import spread_small_input

    region = load_table(spark, "region", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    lineitem = spread_small_input(
        load_table(spark, "lineitem", sf_dir).select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        key="l_orderkey",
    )
    joined = (
        # orders is a FACT table: no broadcast hint — the planner
        # broadcasts it at test SFs from file-size stats, and at real
        # scale AQE/stats correctly fall back to a shuffle join.
        # Hints are reserved for true dims (customer/nation/region).
        lineitem.join(orders.select("o_orderkey", "o_custkey"),
                      lineitem.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    rev = F.expr("CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))")
    return joined.groupBy("r_name").agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@query(
    "customer_order_stats",
    oracle="""
    SELECT c_custkey, c_name,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_spent,
           round(max(o_totalprice), 2) AS max_order
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
)
def customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim⋈fact + per-key agg. Aggregate orders FIRST (shrinks the fact
    to one row per customer), then broadcast-join the dim — the
    scale-correct order; joining first would shuffle every order row.
    """
    customer = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        F.round(F.max("o_totalprice"), 2).alias("max_order"),
    )
    return per_cust.join(
        F.broadcast(customer.select("c_custkey", "c_name")),
        per_cust.o_custkey == F.col("c_custkey"),
    ).select("c_custkey", "c_name", "n_orders", "total_spent", "max_order")


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS). Left side is the small dim; the probe
    side (orders) reduces to distinct keys before the join via
    Catalyst's aggregate pushdown on left-anti."""
    customer = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS) — no duplication from the many-side."""
    customer = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "brand_supplier_revenue",
    oracle="""
    SELECT p_brand, s_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY p_brand, s_name
    """,
)
def brand_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact with two broadcast dims on different keys — no fact shuffle
    until the final small agg. r20: the single-row-group test scan ran
    the whole join+decimal-agg stage as ONE task (the
    economy_revenue_share attribution, guide §2.5); project to the
    four used columns and hash-spread by l_partkey — identity at
    scale."""
    from pg2kafka_spark.operators.scale import spread_small_input

    lineitem = spread_small_input(
        load_table(spark, "lineitem", sf_dir).select(
            "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
        ),
        key="l_partkey",
    )
    part = load_table(spark, "part", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    return (
        lineitem.join(F.broadcast(part.select("p_partkey", "p_brand")),
                      lineitem.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")),
              lineitem.l_suppkey == F.col("s_suppkey"))
        .groupBy("p_brand", "s_name")
        .agg(F.sum(F.expr(
            "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
        )).cast("double").alias("revenue"))
    )


@query(
    "shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → broadcast semi-reduction
    of the fact → agg → top-k. The segment filter prunes customers
    before broadcast; ordering on the rounded alias keeps Spark and
    the oracle identical at ties."""
    customer = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = orders.join(F.broadcast(building), orders.o_custkey == F.col("c_custkey")).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return (
        lineitem.join(F.broadcast(o), lineitem.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(F.expr(
            "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
        )).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            # formatted string, not DATE: pandas date-vs-timestamp dtypes
            # differ between Spark and DuckDB result frames
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Window functions (SURVEY §2.1 "Window functions")
# ---------------------------------------------------------------------------


@query(
    "order_rank_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC
             ) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
)
def order_rank_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window + top-N-per-key filter. One shuffle on the
    partition key; Spark 3.5+ inserts WindowGroupLimit so each
    partition keeps only 3 rows before the full sort."""
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select("o_custkey", "o_orderkey", "o_totalprice",
                      F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "order_gap_days",
    oracle="""
    SELECT o_custkey, o_orderkey,
           date_diff('day', prev_date, CAST(o_orderdate AS DATE)) AS gap_days
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             lag(CAST(o_orderdate AS DATE)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev_date
      FROM orders
    ) WHERE prev_date IS NOT NULL
    """,
)
def order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() + date arithmetic: days between consecutive orders per
    customer (frame-free analytic window)."""
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey", "o_orderkey",
            F.col("o_orderdate").cast("date").alias("od"),
            F.lag(F.col("o_orderdate").cast("date")).over(w).alias("prev_date"),
        )
        .filter(F.col("prev_date").isNotNull())
        .select("o_custkey", "o_orderkey", F.datediff("od", "prev_date").alias("gap_days"))
    )


@query(
    "running_customer_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_total
    FROM orders
    """,
)
def running_customer_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec window: running sum with an explicit ROWS frame.
    Deterministic because the frame order carries the unique orderkey
    (rounding after the cumulative sum, same as the oracle)."""
    orders = load_table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@query(
    "sessionize_events",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(is_new) AS BIGINT) AS n_sessions
    FROM (
      SELECT user_id,
             CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM (
        SELECT user_id, epoch_us(ts) AS ts_us,
               lag(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS prev_ts
        FROM events
      )
    )
    GROUP BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min): lag → new-session flag →
    per-user counts. The batch analog of a session window in
    Structured Streaming; one shuffle on user_id serves both the
    window and the aggregation (same key)."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.select(
        "user_id",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w)) > 30 * 60 * 1_000_000),
            1,
        ).otherwise(0).alias("is_new"),
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("is_new").cast("bigint").alias("n_sessions"),
    )


# Shared sessionization CTE chain for the path-analysis oracles —
# IDENTICAL gap/order semantics to the sessionize_events oracle
# (30-min gap, (ts, event_id) order), extended with session ids and
# step numbers. Generated from the same constants operators/paths.py
# uses so query and oracle cannot drift.
def _session_cte(gap_us: int) -> str:
    return f"""
    WITH flagged AS (
      SELECT user_id, event_id, event_type, ts_us,
             CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > {gap_us}
                  THEN 1 ELSE 0 END AS is_new
      FROM (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
               lag(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS prev_ts
        FROM events
      )
    ),
    sess AS (
      SELECT user_id, event_id, event_type, ts_us,
             sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS session_id
      FROM flagged
    )
    """


def _session_steps_cte(
    gap_us: int, max_steps: int, window_us: int | None = None
) -> str:
    conv_ts = (
        "min(CASE WHEN step >= 2 AND event_type = 'purchase' "
        "THEN ts_us END)"
    )
    if window_us is None:
        converted = (
            "CAST(sum(CASE WHEN step >= 2 AND event_type = 'purchase'"
            " THEN 1 ELSE 0 END) > 0 AS BOOLEAN)"
        )
    else:
        # the funnel band: first qualifying purchase within window_us
        # of the session's entry event — same constants as the Spark
        # formulation (operators/paths.py::session_paths)
        converted = (
            f"CAST({conv_ts} IS NOT NULL AND {conv_ts} - "
            f"min(CASE WHEN step = 1 THEN ts_us END) <= {window_us} "
            "AS BOOLEAN)"
        )
    return _session_cte(gap_us) + f""",
    stepped AS (
      SELECT user_id, session_id, event_type, ts_us, event_id,
             row_number() OVER (
               PARTITION BY user_id, session_id
               ORDER BY ts_us, event_id
             ) AS step
      FROM sess
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY step)
               FILTER (WHERE step <= {max_steps}) AS path,
             max(CASE WHEN step = 1 THEN event_type END) AS entry_type,
             {converted}
               AS converted
      FROM stepped
      GROUP BY user_id, session_id
    )
    """


@query(
    "session_top_paths",
    oracle=_session_steps_cte(30 * 60 * 1_000_000, 5)
    + """
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path ASC
    LIMIT 20
    """,
)
def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 ordered session paths (first 5 event types per 30-min
    session) — "what do sessions actually look like", the
    product-analytics classic next to the funnel
    (operators/paths.py).

    Scale shape: the whole pipeline rides ONE user_id exchange
    (session assignment, step numbering, and the per-session path
    aggregation all cluster on user_id — ClusteredDistribution over a
    superset key, so Catalyst adds sorts, not exchanges); per-session
    state is capped at 5 structs; only (path, count) partials shuffle
    into the final tiny aggregation; top-20 is a bounded heap."""
    from pg2kafka_spark.operators.paths import top_paths

    ev = load_table(spark, "events", sf_dir)
    return top_paths(ev, max_steps=5, k=20)


@query(
    "session_path_conversion",
    oracle=_session_steps_cte(30 * 60 * 1_000_000, 5)
    + """
    SELECT entry_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted,
           CAST((CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END)
                      AS BIGINT) * 1000000) // count(*) AS BIGINT)
             AS conversion_micros
    FROM paths
    GROUP BY entry_type
    """,
)
def session_path_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion by session ENTRY event: which landing events lead
    to a purchase later in the same session (purchase at step ≥ 2 —
    a session that OPENS with a purchase converted from nothing).
    Share in exact integer micros: truncating integer division on
    both engines, no double ratios in the hash.

    Same one-exchange session pipeline as ``session_top_paths``; the
    entry aggregation is a handful of event-type keys."""
    from pg2kafka_spark.operators.paths import entry_conversion

    ev = load_table(spark, "events", sf_dir)
    return entry_conversion(ev, max_steps=5)


_CONV_WINDOW_US = 10 * 60 * 1_000_000  # 10-min conversion band


@query(
    "session_path_conversion_windowed",
    oracle=_session_steps_cte(
        30 * 60 * 1_000_000, 5, window_us=_CONV_WINDOW_US
    )
    + """
    SELECT entry_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted,
           CAST((CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END)
                      AS BIGINT) * 1000000) // count(*) AS BIGINT)
             AS conversion_micros
    FROM paths
    GROUP BY entry_type
    """,
)
def session_path_conversion_windowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Entry-event conversion under the funnel family's MAX-CONVERSION
    band (r13 verdict optional 7b): the purchase must land within
    10 min of the session's entry event, not merely before the 30-min
    gap closes the session — "did the landing convert QUICKLY". Same
    one-exchange session pipeline as ``session_path_conversion``; the
    band adds two conditional-min aggregates to the per-session fold
    (no extra window pass, operators/paths.py), and the oracle's
    converted expression is GENERATED from the same window constant,
    so query/oracle drift is impossible."""
    from pg2kafka_spark.operators.paths import entry_conversion

    ev = load_table(spark, "events", sf_dir)
    return entry_conversion(ev, max_steps=5, window_us=_CONV_WINDOW_US)


@query(
    "session_top_paths_windowed",
    oracle=_session_steps_cte(
        30 * 60 * 1_000_000, 5, window_us=_CONV_WINDOW_US
    )
    + """
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path ASC
    LIMIT 20
    """,
)
def session_top_paths_windowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 session paths WITH the 10-min conversion band (r14
    verdict optional 7b): each ranked path also reports how many of
    its sessions converted within the band of their entry event —
    "the most-travelled paths, and which convert quickly", completing
    the band across the path family (entry-conversion took it in
    r14). Same one-exchange session pipeline as ``session_top_paths``;
    the band is one conditional sum on the tiny (path, count)
    aggregation, and the oracle's converted expression is GENERATED
    from the same window constant."""
    from pg2kafka_spark.operators.paths import top_paths

    ev = load_table(spark, "events", sf_dir)
    return top_paths(ev, max_steps=5, k=20, window_us=_CONV_WINDOW_US)


def _session_funnel_oracle() -> str:
    from pg2kafka_spark.operators.funnel import funnel_oracle_sql

    return funnel_oracle_sql(
        ["view", "click", "purchase"],
        source="sess",
        keys=("user_id", "session_id"),
        ts_expr="ts_us",
        count_alias="n_sessions",
        with_prefix=_session_cte(30 * 60 * 1_000_000),
    )


@query("session_funnel_counts", oracle=_session_funnel_oracle())
def session_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered funnel WITHIN sessions: how many SESSIONS (not
    users) walk view → click → purchase in order before the 30-min
    gap closes them — the in-visit conversion report, stricter than
    the lifetime funnel (`event_funnel_counts`) and the third corner
    of the session-analytics family (paths, transitions, funnel).

    Same generic fold (operators/funnel.py), composite funnel unit:
    every stage's min and join hash the (user_id, session_id) key —
    which the session-assignment exchange already clusters, so the
    funnel stages add sorts and tiny aggregations, never a second
    event-sized shuffle. The oracle is GENERATED from the same stage
    list over the shared sessionization CTE.

    The sessionized frame is persisted (r19, §5): the chained stage
    frames nest it — stage k's plan contains stages 1..k−1 — so the
    un-persisted spelling re-ran the event-sized sessionization
    WindowExec six times per execution (Exchange reuse caught the
    shuffle, not the window compute above it; static plan: 12
    Exchange/12 Window nodes → 4/4 persisted). Same tracked-handle
    registry as every sketch intermediate — released between queries,
    never across runs."""
    from pg2kafka_spark.operators.dedup import _persist
    from pg2kafka_spark.operators.funnel import ordered_funnel
    from pg2kafka_spark.operators.paths import assign_sessions

    ev = load_table(spark, "events", sf_dir)
    sess = _persist(assign_sessions(ev))
    return ordered_funnel(
        sess,
        ["view", "click", "purchase"],
        user_col=["user_id", "session_id"],
        count_alias="n_sessions",
    )


@query(
    "session_transition_matrix",
    oracle=_session_cte(30 * 60 * 1_000_000)
    + """,
    trans AS (
      SELECT from_type, to_type FROM (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                 PARTITION BY user_id, session_id
                 ORDER BY ts_us, event_id
               ) AS to_type
        FROM sess
      ) WHERE to_type IS NOT NULL
    ),
    agg AS (
      SELECT from_type, to_type,
             CAST(count(*) AS BIGINT) AS n_transitions
      FROM trans GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           CAST((n_transitions * 1000000) //
                CAST(sum(n_transitions) OVER (PARTITION BY from_type)
                     AS BIGINT) AS BIGINT) AS prob_micros
    FROM agg
    """,
)
def session_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of within-session event
    steps (operators/paths.py::transition_matrix) — which event
    follows which, row-normalized per from_type in exact integer
    micros. Session boundaries respected by construction (lead()
    partitions on the session), so cross-session "transitions" never
    appear.

    Scale shape: the lead() window rides the same single user_id
    exchange as the rest of the path family; transitions aggregate
    map-side onto the |types|² key domain; the normalizing window
    runs over that already-tiny frame."""
    from pg2kafka_spark.operators.paths import transition_matrix

    ev = load_table(spark, "events", sf_dir)
    return transition_matrix(ev)


# ---------------------------------------------------------------------------
# Set ops / grouping sets (SURVEY §2.1 "Set ops", "Aggregations")
# ---------------------------------------------------------------------------


@query(
    "finished_only_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def finished_only_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) set op."""
    orders = load_table(spark, "orders", sf_dir)
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.subtract(o)  # subtract = ANSI EXCEPT (distinct)


@query(
    "both_status_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def both_status_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) set op."""
    orders = load_table(spark, "orders", sf_dir)
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(o)


@query(
    "union_segments",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000
    """,
)
def union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two filtered scans of the same table —
    Catalyst collapses to one scan with an OR filter."""
    customer = load_table(spark, "customer", sf_dir)
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_mktsegment")
    b = customer.filter(F.col("c_acctbal") > 5000).select("c_custkey", "c_mktsegment")
    return a.union(b).distinct()


@query(
    "rollup_returns",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total; NULL markers on
    rolled-up levels match ANSI)."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    return lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "cube_priority_status",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 grouping combinations)."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "user_event_type_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events
    GROUP BY user_id
    """,
)
def user_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event counts fanned into one column per type.
    The value list is pinned (never inferred — inference is an extra
    distinct job and nondeterministic column order), so the plan is a
    single hash aggregation with conditional counts."""
    events = load_table(spark, "events", sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


@query(
    "order_line_arrays",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS line_nums,
           length(list_sort(list(l_linenumber))) AS n_lines,
           list_contains(list(l_linenumber), 1) AS has_first,
           list_sort(list(l_linenumber))[1] AS min_line
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def order_line_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over a grouped collect: sorted
    collect_list (sorting makes the nondeterministic collect order
    portable), size, membership, element access — the jsonb-array
    passthrough analog of the reference's payloads, typed. The array
    itself is emitted joined to a string (the comparison harness
    hashes scalar columns)."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    arr = F.array_sort(F.collect_list("l_linenumber"))
    return lineitem.groupBy("l_orderkey").agg(
        F.array_join(arr.cast("array<string>"), ",").alias("line_nums"),
        F.size(arr).alias("n_lines"),
        F.array_contains(F.collect_list("l_linenumber"), 1).alias("has_first"),
        F.element_at(arr, 1).alias("min_line"),
    )


@query(
    "order_value_percentiles",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile``
    ≡ DuckDB ``quantile_cont``: both linear-interpolation on the
    sorted set). Exact percentile is a sort-based agg — fine per
    group here; at 100 TB switch to ``approx_percentile`` (KLL-style
    mergeable sketch, see ``user_value_sketches``)."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
    )


@query("user_value_sketches")  # rows-only: sketch internals are engine-specific
def user_value_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the mergeable, bounded-memory forms that
    replace exact distinct/percentile at 100 TB: HyperLogLog++
    (``approx_count_distinct``) and a quantile sketch
    (``approx_percentile``). Accuracy vs exact is asserted in
    tests/test_pipeline_ops.py; no oracle because sketch estimates
    are engine-specific by construction."""
    events = load_table(spark, "events", sf_dir)
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50_value"),
        F.count(F.lit(1)).alias("n"),
    )


def _sketch_oracle() -> str:
    """DuckDB spelling of the portable HLL + histogram-quantile math —
    generated from the same constants as operators/sketch.py so the
    two sides cannot drift. Float literals go in via repr + CAST
    (DuckDB parses bare decimals as DECIMAL, different arithmetic)."""
    from pg2kafka_spark.operators import sketch as K

    alpha_m2 = repr(K.HLL_ALPHA * K.HLL_M * K.HLL_M)
    m = K.HLL_M
    return f"""
    WITH hs AS (
      SELECT event_type,
             {K.portable_int_hash_sql("user_id")} AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    regs AS (
      SELECT event_type, h % {m} AS reg,
             max({K.hll_rank_sql(f"(h // {1 << K.HLL_REG_BITS})")}) AS mr
      FROM hs GROUP BY 1, 2
    ),
    hll AS (
      SELECT event_type,
             sum(power(CAST(2 AS DOUBLE), -mr)) AS ps,
             count(*) AS npres
      FROM regs GROUP BY 1
    ),
    hll_est AS (
      SELECT event_type,
             CASE WHEN raw <= CAST({repr(2.5 * m)} AS DOUBLE) AND ({m} - npres) > 0
                  THEN {m} * ln({m} / CAST({m} - npres AS DOUBLE))
                  ELSE raw END AS est
      FROM (SELECT event_type, npres,
                   CAST({alpha_m2} AS DOUBLE)
                     / (ps + CAST({m} - npres AS DOUBLE)) AS raw
            FROM hll)
    ),
    hist AS (
      SELECT event_type, CAST(floor(value * 16) AS BIGINT) AS bin, count(*) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bin, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM hist
    ),
    med AS (
      SELECT event_type,
             (bin + (CAST(0.5 AS DOUBLE) * n - (cum - c)) / c)
               / CAST(16 AS DOUBLE) AS est
      FROM (
        SELECT event_type, bin, c, cum, n,
               row_number() OVER (PARTITION BY event_type ORDER BY bin) AS rn
        FROM cum WHERE cum >= CAST(0.5 AS DOUBLE) * n
      ) WHERE rn = 1
    ),
    cnt AS (SELECT event_type, count(*) AS n_events FROM events GROUP BY 1)
    SELECT cnt.event_type,
           round(hll_est.est, 6) AS hll_users,
           round(med.est, 6) AS hist_p50_value,
           n_events
    FROM cnt
    JOIN hll_est ON hll_est.event_type = cnt.event_type
    JOIN med ON med.event_type = cnt.event_type
    """


@query("user_value_sketches_portable", oracle=_sketch_oracle())
def user_value_sketches_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-checkable twin of ``user_value_sketches``: the SAME
    sketch math — HLL register/rank voting with the standard bias
    constant, and a fixed-bin mergeable histogram quantile — from an
    engine-portable hash family, bit-identical between Spark column
    algebra and DuckDB SQL at 6-dp rounding (operators/sketch.py).

    Scale shape: two independent two-level aggregations (map-side
    partial per (group, register/bin), tiny per-group reduce) joined
    broadcast on the handful of group rows — per-group sketch state is
    O(64) registers / O(bins) counters, never the data."""
    from pg2kafka_spark.operators import sketch as K

    events = load_table(spark, "events", sf_dir)
    hll = K.hll_distinct(events, ["event_type"], "user_id", "hll_users")
    med = K.histogram_quantile(
        events, ["event_type"], "value", "hist_p50_value", q=0.5, scale=16
    )
    cnt = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return (
        cnt.join(F.broadcast(hll), "event_type")
        .join(F.broadcast(med), "event_type")
        .select("event_type", "hll_users", "hist_p50_value", "n_events")
    )


def _bloom_oracle() -> str:
    from pg2kafka_spark.operators import sketch as K

    build = K.bloom_build_sql(
        "SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'",
        "o_orderkey",
    )
    probe = K.bloom_might_contain_sql("l_orderkey")
    return f"""
    WITH {build},
    flagged AS (
      SELECT l.l_orderkey,
             {probe} AS bloom_pass,
             EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_orderkey = l.l_orderkey
                       AND o.o_orderpriority = '1-URGENT') AS is_match
      FROM lineitem l CROSS JOIN __bloom
    )
    SELECT count(*) AS n_probe,
           CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
             AS n_match,
           CAST(sum(CASE WHEN bloom_pass AND NOT is_match THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_pos,
           CAST(sum(CASE WHEN is_match AND NOT bloom_pass THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_neg
    FROM flagged
    """


@query("bloom_semijoin_prune", oracle=_bloom_oracle())
def bloom_semijoin_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning — the pushdown that saves a
    100 TB fact shuffle: build a 32 Kbit / 3-hash Bloom bitset over
    the urgent orderkeys (one tiny aggregate, broadcast as a single
    array row), then filter lineitem MAP-ONLY before any join would
    run. The summary row audits the filter: zero false negatives by
    construction, false positives at the designed ~1-2% rate —
    deterministic down to the exact false-positive set, since the
    hash mixer is the engine-portable sketch family
    (operators/sketch.py:bloom_build; oracle generated from the same
    constants)."""
    from pg2kafka_spark.operators import sketch as K

    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    bloom = K.bloom_build(urgent, "o_orderkey")
    flagged = (
        li.select("l_orderkey")
        .crossJoin(F.broadcast(bloom))
        .withColumn(
            "bloom_pass", K.bloom_might_contain(F.col("l_orderkey"), F.col("bloom"))
        )
        .join(
            F.broadcast(urgent.distinct().withColumn("__m", F.lit(1))),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .withColumn("is_match", F.col("__m").isNotNull())
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias("n_pass"),
        F.sum(F.when(F.col("is_match"), 1).otherwise(0)).alias("n_match"),
        F.sum(
            F.when(F.col("bloom_pass") & ~F.col("is_match"), 1).otherwise(0)
        ).alias("n_false_pos"),
        F.sum(
            F.when(F.col("is_match") & ~F.col("bloom_pass"), 1).otherwise(0)
        ).alias("n_false_neg"),
    )


def _cm_oracle() -> str:
    from pg2kafka_spark.operators import sketch as K

    return (
        K.count_min_heavy_hitters_sql("user_id", "events")
        .replace("SELECT k, cm_est", "SELECT k AS user_id, cm_est")
    )


@query("user_heavy_hitters_cm", oracle=_cm_oracle())
def user_heavy_hitters_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters over event traffic — the sketch that
    finds skewed keys (the keys ``user_event_rollup_salted`` exists
    to survive) without counting them exactly: a 4×64-counter table
    regardless of N, overestimate-only, with ``is_heavy`` flagging
    keys at ≥ 0.75% of traffic. Exact counts ride along so the
    CM error bound is visible; integer math end-to-end, so the
    oracle (generated from the same constants —
    operators/sketch.py:count_min_heavy_hitters_sql) hash-matches
    exactly."""
    from pg2kafka_spark.operators import sketch as K

    events = load_table(spark, "events", sf_dir)
    return K.count_min_heavy_hitters(events, "user_id")


@query(
    "customer_event_activity",
    oracle="""
    SELECT c_custkey, c_name, n_events, last_event_us
    FROM customer
    LEFT JOIN (
      SELECT user_id,
             count(*) AS n_events,
             max(epoch_us(ts)) AS last_event_us
      FROM events GROUP BY user_id
    ) e ON e.user_id = c_custkey
    WHERE c_custkey <= 300
    """,
)
def customer_event_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with null extension: customers keep a row even
    with no event activity (user_ids cover only a prefix of custkeys,
    so the null side is exercised). Aggregate-then-join: the event
    fact shrinks to one row per user BEFORE the join, so the shuffle
    carries keys, not events."""
    customer = load_table(spark, "customer", sf_dir)
    events = load_table(spark, "events", sf_dir)
    per_user = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.unix_micros("ts")).alias("last_event_us"),
    )
    return (
        customer.filter(F.col("c_custkey") <= 300)
        .join(per_user, customer.c_custkey == per_user.user_id, "left")
        .select("c_custkey", "c_name", "n_events", "last_event_us")
    )


@query(
    "purchase_error_full_outer",
    oracle="""
    SELECT coalesce(p.user_id, e.user_id) AS user_id,
           p.n_purchases, e.n_errors
    FROM (SELECT user_id, count(*) AS n_purchases FROM events
          WHERE event_type = 'purchase' GROUP BY user_id) p
    FULL OUTER JOIN
         (SELECT user_id, count(*) AS n_errors FROM events
          WHERE event_type = 'error' GROUP BY user_id) e
      ON p.user_id = e.user_id
    """,
)
def purchase_error_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two per-key aggregates (users that only
    purchase / only error survive on their side with NULLs opposite).
    Both sides pre-aggregate map-side, so the outer join shuffles one
    row per key per side."""
    events = load_table(spark, "events", sf_dir)
    p = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    e = (
        events.filter(F.col("event_type") == "error")
        .groupBy(F.col("user_id").alias("e_user_id"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    return p.join(e, p.user_id == e.e_user_id, "full_outer").select(
        F.coalesce(p.user_id, F.col("e_user_id")).alias("user_id"),
        "n_purchases",
        "n_errors",
    )


@query(
    "props_variant_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 90
    """,
)
def props_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-free payload access via the VARIANT type (Spark 4):
    ``parse_json`` once, typed ``variant_get`` extractions after —
    the engine's answer to the reference's dynamic jsonb payloads
    when no per-table schema is registered (SURVEY §1.3's
    alternative to fixed ``from_json`` schemas). Predicate on the
    extracted value filters post-parse but still inside codegen."""
    events = load_table(spark, "events", sf_dir)
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "bigint")
    return (
        events.select(
            "event_id",
            k.alias("k_value"),
            (k % 10).alias("k_mod"),
        )
        .filter(F.col("k_value") > 90)
    )


@query(
    "grouping_sets_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube are sugar
    for): per-flag totals, per-status totals, grand total in one
    expand + single-shuffle aggregation."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    return lineitem.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "order_stats_global",
    oracle="""
    SELECT count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_customers,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price,
           round(avg(o_totalprice), 4) AS avg_price,
           round(stddev_samp(o_totalprice), 4) AS sd_price
    FROM orders
    """,
)
def order_stats_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global aggregate incl. exact COUNT DISTINCT (expand+two-phase in
    Spark) and sample stddev."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.round(F.stddev_samp("o_totalprice"), 4).alias("sd_price"),
    )


# ---------------------------------------------------------------------------
# Scalar functions / subqueries (SURVEY §2.1 "Scalar functions")
# ---------------------------------------------------------------------------


@query(
    "scalar_functions",
    oracle="""
    SELECT o_orderkey,
           upper(substr(o_orderpriority, 1, 8)) AS prio_up,
           length(o_orderpriority) AS prio_len,
           concat(o_orderstatus, '-', CAST(o_orderkey % 7 AS VARCHAR)) AS tag,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,1)) AS DOUBLE) AS price_up,
           CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_bucket,
           abs(o_totalprice - 100000.0) > 50000.0 AS far_from_100k,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label
    FROM orders
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math/conditional scalar surface in one projection
    (reference's scalar inventory: format/cast/concat/ceil/
    current_timestamp — SURVEY §2.1; extended to the full consumer
    set). Pure codegen, no shuffle."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 8)).alias("prio_up"),
        F.length("o_orderpriority").alias("prio_len"),
        F.concat(F.col("o_orderstatus"), F.lit("-"), (F.col("o_orderkey") % 7).cast("string")).alias("tag"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,1)) AS DOUBLE)").alias("price_up"),
        F.floor(F.col("o_totalprice") / 1000).cast("bigint").alias("price_bucket"),
        (F.abs(F.col("o_totalprice") - 100000.0) > 50000.0).alias("far_from_100k"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias("status_label"),
    )


@query(
    "json_extract_events",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction on the dynamic payload column (the
    reference's jsonb surface: `->`/`->>`, sql/triggers.sql:23-29) +
    agg over the extracted value."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.select("event_type", F.get_json_object("props", "$.k").cast("bigint").alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("k"), 4).alias("avg_k"))
    )


@query(
    "orders_above_avg",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.5
    """,
)
def orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate: orders 1.5× above the global
    mean. Spark plans the inner agg as a one-row broadcast into the
    filter — no correlated re-execution."""
    orders = load_table(spark, "orders", sf_dir)
    avg_df = orders.agg((F.avg("o_totalprice") * 1.5).alias("__thr"))
    return (
        orders.join(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("__thr"))
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "events_hourly_gapfill",
    oracle="""
    WITH agg AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
             count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT date_trunc('hour', CAST(min(ts) AS TIMESTAMP)) AS lo,
             date_trunc('hour', CAST(max(ts) AS TIMESTAMP)) AS hi
      FROM events
    ),
    spine AS (
      SELECT t.event_type,
             unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS bucket
      FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b
    )
    SELECT s.event_type,
           strftime(s.bucket, '%Y-%m-%d %H:00:00') AS hour,
           coalesce(a.n_events, 0) AS n_events,
           coalesce(a.sum_value, 0.0) AS sum_value
    FROM spine s
    LEFT JOIN agg a ON s.event_type = a.event_type AND s.bucket = a.bucket
    """,
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup (hypertable-style continuous
    aggregate): like ``events_hourly`` but empty (event_type, hour)
    buckets appear with zero counts — the time spine is generated per
    dimension and left-joined onto the aggregate
    (operators/temporal.py::gap_filled_rollup). The fact table is
    scanned once; the spine is dims x hours, negligible at any scale.
    """
    from pg2kafka_spark.operators.temporal import gap_filled_rollup

    ev = load_table(spark, "events", sf_dir)
    out = gap_filled_rollup(
        ev,
        ts_col="ts",
        dim_cols=["event_type"],
        unit="hour",
        aggs={
            "n_events": F.count(F.lit(1)),
            "sum_value": F.round(F.sum("value"), 2),
        },
        fills={"n_events": F.lit(0), "sum_value": F.lit(0.0)},
    )
    return out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:00:00").alias("hour"),
        "n_events",
        "sum_value",
    )


# ---------------------------------------------------------------------------
# Skew strategies in anger (operators/skew.py)
# ---------------------------------------------------------------------------


@query(
    "user_event_rollup_salted",
    oracle="""
    SELECT user_id,
           count(value) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value,
           CAST(round(sum(CAST(value AS DECIMAL(20,6))) / count(value), 6) AS DOUBLE)
             AS avg_value
    FROM events
    GROUP BY user_id
    """,
)
def user_event_rollup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event rollup computed through the SALTED two-phase
    aggregation (operators/skew.py salted_agg) — the strategy for the
    Zipfian key AQE cannot split (AQE splits partitions, not keys).
    Result is exactly ``groupBy(user_id).agg(...)``; the oracle is the
    plain one-phase SQL, so the hash-match proves the salt+combine
    decomposition is value-exact on real data, not just on unit
    fixtures.

    The summed column is cast to DECIMAL first (same trick as
    pricing_summary): double summation is order-dependent, and a
    salted sum's order depends on partition layout — decimal sums are
    exact, so the result is bit-stable across core counts AND equal
    to the oracle's single-phase sum. min/max/count need no such care
    (order-free). Plan shape (pinned in tests/test_plans.py): two
    exchanges — (user_id, __salt) then user_id — each fed by a
    map-side partial aggregate."""
    from pg2kafka_spark.operators.skew import salted_agg

    ev = load_table(spark, "events", sf_dir).withColumn(
        "value_dec", F.col("value").cast("decimal(20,6)")
    )
    out = salted_agg(
        ev,
        keys=["user_id"],
        aggs={
            "n_events": ("count", "value"),
            "sum_value": ("sum", "value_dec"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
            "avg_value": ("avg", "value_dec"),
        },
        salt=16,
    )
    return out.select(
        "user_id",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
        F.round("avg_value", 6).cast("double").alias("avg_value"),
    )


@query(
    "events_hourly_interpolate",
    oracle="""
    WITH agg AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
             round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT date_trunc('hour', CAST(min(ts) AS TIMESTAMP)) AS lo,
             date_trunc('hour', CAST(max(ts) AS TIMESTAMP)) AS hi
      FROM events
    ),
    spine AS (
      SELECT t.event_type,
             unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS bucket
      FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b
    ),
    filled AS (
      SELECT s.event_type, s.bucket, a.sum_value
      FROM spine s
      LEFT JOIN agg a ON s.event_type = a.event_type AND s.bucket = a.bucket
    ),
    fx AS (
      SELECT event_type, bucket, sum_value,
             CAST(epoch(bucket) AS BIGINT) AS t,
             last_value(sum_value IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN sum_value IS NOT NULL
                             THEN CAST(epoch(bucket) AS BIGINT) END
                        IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             first_value(sum_value IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN sum_value IS NOT NULL
                              THEN CAST(epoch(bucket) AS BIGINT) END
                         IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM filled
    )
    SELECT event_type,
           strftime(bucket, '%Y-%m-%d %H:00:00') AS hour,
           pv AS sum_value_locf,
           CASE WHEN sum_value IS NOT NULL THEN CAST(sum_value AS DOUBLE)
                WHEN pt IS NULL THEN CAST(nv AS DOUBLE)
                WHEN nt IS NULL THEN CAST(pv AS DOUBLE)
                ELSE round(pv + (nv - pv) * ((t - pt) * 1.0 / (nt - pt)), 6)
           END AS sum_value_interp
    FROM fx
    """,
)
def events_hourly_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate fill modes (TimescaleDB ``locf()`` /
    ``interpolate()``): the gap-filled hourly rollup with NULL gaps,
    then last-observation-carried-forward and linear interpolation
    between neighboring observed buckets — what a feature pipeline
    feeds a model when a sensor/topic goes quiet. See
    ``operators/temporal.locf_and_interpolate`` (two IGNORE NULLS
    windows; the blend weight uses epoch differences only, so it's
    timezone-convention-independent)."""
    from pg2kafka_spark.operators.temporal import (
        gap_filled_rollup,
        locf_and_interpolate,
    )

    ev = load_table(spark, "events", sf_dir)
    filled = gap_filled_rollup(
        ev,
        ts_col="ts",
        dim_cols=["event_type"],
        unit="hour",
        aggs={"sum_value": F.round(F.sum("value"), 2)},
        fills={"sum_value": F.lit(None).cast("double")},
    )
    out = locf_and_interpolate(
        filled, bucket_col="bucket", dim_cols=["event_type"],
        value_col="sum_value",
    )
    return out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:00:00").alias("hour"),
        F.col("sum_value_locf"),
        F.col("sum_value_interp"),
    )


@query(
    "mktsegment_rollup_salted_join",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,12))) AS DOUBLE), 2)
             AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1
    """,
)
def mktsegment_rollup_salted_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Revenue per market segment through the SALTED join
    (operators/skew.salted_join): the big side carries a
    deterministic salt, the small side replicates salt×, so one hot
    customer key spreads over 16 shuffle partitions instead of one
    straggler task. Semantically identical to the plain equi-join —
    the oracle IS the plain join — and the sum runs in DECIMAL so the
    extra partitioning cannot flip a bit (the salted-agg
    discipline)."""
    from pg2kafka_spark.operators.skew import salted_join

    orders = load_table(spark, "orders", sf_dir).withColumnRenamed(
        "o_custkey", "custkey"
    )
    cust = load_table(spark, "customer", sf_dir).withColumnRenamed(
        "c_custkey", "custkey"
    )
    j = salted_join(orders, cust.select("custkey", "c_mktsegment"), on="custkey")
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(27,12)")).cast("double"),
            2,
        ).alias("revenue"),
    )


@query(
    "brand_share_by_year",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           round(CAST(sum(CASE WHEN p.p_type = 'ECONOMY'
                     THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(27,12))
                     ELSE CAST(0 AS DECIMAL(27,12)) END) AS DOUBLE)
                 / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(27,12))) AS DOUBLE), 6)
             AS economy_share
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1
    """,
)
def brand_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): per order year, the
    ECONOMY-type share of discounted revenue — the
    conditional-sum-over-sum aggregation pattern. ``part`` is a true
    dimension and broadcasts; ``orders`` is a FACT (¼ of lineitem's
    rows at any scale), so that join is deliberately left to the
    planner — at 100 TB it's the classic co-partitioned fact-fact
    join (bucket both by orderkey and it needs no shuffle at all;
    unbucketed, AQE picks SMJ/shuffle-hash), while at test scale AQE
    broadcasts it. Both sums run in DECIMAL (the revenue expression
    is a per-row double product cast BEFORE summing, so partial order
    can't flip bits) with ONE final double division rounded to 6.
    r20: projected + hash-spread by l_orderkey (serial-scan-head
    attribution, guide §2.5); identity at scale."""
    from pg2kafka_spark.operators.scale import spread_small_input

    li = spread_small_input(
        load_table(spark, "lineitem", sf_dir).select(
            "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
        ),
        key="l_orderkey",
    )
    orders = load_table(spark, "orders", sf_dir)
    part = load_table(spark, "part", sf_dir)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(27,12)"
    )
    j = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    ).join(
        F.broadcast(part.select("p_partkey", "p_type")),
        F.col("p_partkey") == F.col("l_partkey"),
    )
    econ = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(
        F.lit(0).cast("decimal(27,12)")
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(econ).cast("double") / F.sum(rev).cast("double"), 6
            ).alias("economy_share")
        )
    )


@query(
    "props_key_profile",
    oracle="""
    WITH k AS (
      SELECT event_type, unnest(json_keys(props)) AS key
      FROM events
    ),
    per AS (
      SELECT event_type, key, count(*) AS n_events
      FROM k GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, count(*) AS n_type_events
      FROM events GROUP BY 1
    )
    SELECT p.event_type, p.key, p.n_events, t.n_type_events,
           CAST((CAST(p.n_events AS HUGEINT) * 1000000) // t.n_type_events
                AS BIGINT) AS presence_micros
    FROM per p JOIN tot t USING (event_type)
    """,
)
def props_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC schema-drift detection: which JSON payload keys appear per
    event type, how often, and with what presence ratio — the
    consumer-side answer to "did a producer start emitting a new
    column?" (the reference's dynamic jsonb payloads make payload
    schema an emergent property the warehouse must OBSERVE, not
    declare; cf. pg2kafka's trigger emitting whatever columns changed).

    Scale shape: key explosion is map-only (json_object_keys inside
    codegen); both aggs partial-aggregate map-side on near-uniform
    keys; the per-type totals join broadcast (|event_types| rows).
    Presence ratio is exact DECIMAL(38) floor-division (the
    exact-multiple trick — counts·1e6 overflows int64 at real event
    volume)."""
    events = load_table(spark, "events", sf_dir)
    keys = events.select(
        "event_type", F.explode(F.json_object_keys("props")).alias("key")
    )
    per = keys.groupBy("event_type", "key").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    tot = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_type_events")
    )
    q = F.col("n_events").cast("decimal(38,0)") * F.lit(1000000)
    return per.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "key",
        "n_events",
        "n_type_events",
        ((q - q % F.col("n_type_events")) / F.col("n_type_events"))
        .cast("bigint")
        .alias("presence_micros"),
    )


@query(
    "large_quantity_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY 1
      HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 250
    )
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_totalprice,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): an IN-subquery over an
    AGGREGATED relation — the bulk-order keys — then a 3-way join and
    regroup. The classic "aggregate, filter on the aggregate, rejoin
    the detail" consumer pattern.

    Scale shape: the big-order key set is a lineitem shuffle with
    map-side partial sums that reduces to the ~1% of orders over
    threshold; it then SEMI-joins lineitem broadcast (the planner
    turns the IN into a LeftSemi), so the detail re-read never
    shuffles on the full key space; customer/orders join broadcast on
    the shrunken fact side. DECIMAL sums (double partial-sum order is
    partition-dependent; the r5 lesson).

    r20: ONE projected hash-spread by l_orderkey feeds BOTH consumers
    (the big-order key aggregate — whose groupBy reuses the spread
    partitioning, no extra exchange — and the semi-joined detail
    re-read; the spread exchange is runtime-reused between them).
    Serial-scan-head attribution per guide §2.5; identity at scale."""
    from pg2kafka_spark.operators.scale import spread_small_input

    li = spread_small_input(
        load_table(spark, "lineitem", sf_dir).select(
            "l_orderkey", "l_quantity"
        ),
        key="l_orderkey",
    )
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    qty = F.col("l_quantity").cast("decimal(12,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("__sq"))
        .filter(F.col("__sq") > 250)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big), "l_orderkey", "left_semi")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
        )
        .agg(F.sum(qty).cast("double").alias("sum_qty"))
    )


@query(
    "late_shipment_priority_counts",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60
    )
    GROUP BY 1
    """,
)
def late_shipment_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated semi-join — orders with at
    least one lineitem shipped more than 60 days after the order
    date, counted by priority. (The reference fixture carries no
    commitdate/receiptdate; ship-lag stands in for the late-delivery
    predicate — the SHAPE is the point: a non-aggregated EXISTS that
    must plan as a semi-join, never a join+distinct.)

    Scale shape: lineitem projects to (orderkey, shipdate) at the
    scan; the semi-join deduplicates ON THE JOIN (one output row per
    order regardless of lineitem fan-out), then a tiny 5-key agg
    with map-side partials."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    orders = load_table(spark, "orders", sf_dir)
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate").cast("date")
        > F.date_add(F.col("o_orderdate").cast("date"), 60)
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "economy_revenue_share",
    oracle="""
    SELECT CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS ship_year,
           CAST(sum(CASE WHEN p_type = 'ECONOMY'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             AS economy_revenue,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS total_revenue,
           CAST((CAST(sum(CASE WHEN p_type = 'ECONOMY'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) * 10000 AS HUGEINT)
                 * 1000000)
                // CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000
                     AS HUGEINT) AS BIGINT) AS economy_share_micros
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
)
def economy_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promo-revenue share): a fact-to-dim join with
    a CONDITIONAL aggregate in the numerator and the same aggregate
    unconditioned in the denominator — one pass, no self-join. Share
    reported in exact integer micros (DECIMAL floor-division; the
    exact sums are DECIMAL so the conditional/total ratio is
    engine-exact, no double partial-sum order dependence).

    Scale shape: part broadcasts (dim-sized); one year-keyed exchange
    with map-side partial sums."""
    from pg2kafka_spark.operators.scale import spread_small_input

    # r20: event-log attribution showed the whole query serial — the
    # sf parquet is ONE row group, so the scan stage (decode + BHJ
    # probe + DECIMAL partial aggregation, ~0.95 task-s) ran as a
    # single real task and wall == that task (guide §2.5, the 8-core
    # inversion in the r19 scaling check: 0.74). Project to the four used
    # columns (§2.3 insurance) and hash-spread the small scan by
    # l_partkey (200 k distinct — no sortBeforeRepartition cost, see
    # spread_small_input) so the decimal compute and partial agg run
    # at session parallelism; identity at real scale, where the scan
    # has ≥ parallelism row groups already.
    li = spread_small_input(
        load_table(spark, "lineitem", sf_dir).select(
            "l_partkey", "l_extendedprice", "l_discount", "l_shipdate"
        ),
        key="l_partkey",
    )
    part = load_table(spark, "part", sf_dir)
    rev = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    )
    zero = F.expr("CAST(0 AS DECIMAL(18,2))")
    econ = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(zero)
    esum = F.sum(econ)
    tsum = F.sum(rev)
    # integer fixed point on BOTH engines: DuckDB's `//` on DECIMAL
    # routes through double (off-by-one at 1e14), so the share divides
    # exact integers — rev is DECIMAL scale 4 (scale-2 price × scale-2
    # factor), so the sums are scale-4 and ×10000 clears EVERY
    # fractional digit before the decimal(38,0)/HUGEINT casts: no
    # rounding happens on either engine, the value is integral
    e2 = (esum * 10000).cast("decimal(38,0)")
    t2 = (tsum * 10000).cast("decimal(38,0)")
    q = e2 * F.lit(1000000)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.year(F.col("l_shipdate").cast("date")).cast("int").alias("ship_year")
        )
        .agg(
            esum.cast("double").alias("economy_revenue"),
            tsum.cast("double").alias("total_revenue"),
            ((q - q % t2) / t2).cast("bigint").alias("economy_share_micros"),
        )
    )


@query(
    "customer_order_distribution",
    oracle="""
    WITH co AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY 1
    )
    SELECT c_count, count(*) AS custdist
    FROM co
    GROUP BY 1
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): how many customers
    placed k orders each, for every k including zero — the classic
    LEFT-join-then-double-aggregate (the zero bucket is why the join
    must be outer). The priority filter stands in for Q13's
    comment-pattern exclusion (the fixture carries no comment column).

    Scale shape: orders pre-aggregates to per-customer counts FIRST
    (one shuffle with map-side partial counts — never the join-then-
    count that shuffles every order row through the join), then an
    outer join against customer on the same uniform key fills the
    zero bucket via coalesce, and the second aggregate is over the
    tiny k-domain (~bounded by max orders/customer). Two shuffles
    total, both reducing."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    per_cust = (
        orders.filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        cust.join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("__n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "small_quantity_revenue",
    oracle="""
    WITH brand AS (
      SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'
    ),
    avgq AS (
      SELECT l_partkey, 0.2 * avg(l_quantity) AS lim
      FROM lineitem JOIN brand ON l_partkey = p_partkey
      GROUP BY 1
    )
    SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly,
           count(*) AS n_small_lines
    FROM lineitem JOIN avgq ON lineitem.l_partkey = avgq.l_partkey
    WHERE l_quantity < lim
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): a correlated
    scalar subquery — each lineitem compares against 0.2× the MEAN
    quantity of ITS part — de-correlated into an aggregate-then-
    rejoin, restricted to one brand.

    Scale shape: the brand key set broadcasts into a semi-filter so
    the per-part average is computed only over the ~1/|brands| of
    lineitem that can match; the per-part limits are |parts-of-brand|
    rows that join back on the same uniform partkey (AQE picks
    broadcast when they fit). The double mean is deterministic here:
    quantities are small integers, so the partial sums are exact in
    IEEE double regardless of partition order (the r5 double-sum rule
    needs DECIMAL only when addends have fractional bits)."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    brand = part.filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    li_b = li.join(
        F.broadcast(brand), F.col("l_partkey") == F.col("p_partkey")
    )
    avgq = li_b.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("__lim")
    )
    small = li_b.drop("p_partkey").join(
        avgq.withColumnRenamed("l_partkey", "__pk"),
        F.col("l_partkey") == F.col("__pk"),
    ).filter(F.col("l_quantity") < F.col("__lim"))
    return small.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / F.lit(7.0)
        ).cast("double").alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small_lines"),
    )


@query(
    "disjunctive_part_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicate): an
    OR of three (brand, size-range, quantity-range) conjunctions that
    straddles the join — the query optimizers historically fumbled by
    evaluating the whole disjunction post-join.

    Scale shape: each side's implied disjunction is factored out and
    applied BELOW the join — part scans only the three (brand, size)
    slices (predicate reaches the parquet scan), lineitem only
    quantity ∈ [1, 30] — so the join's build side is ~3 brands' worth
    of parts (broadcast) and the probe side is pre-shrunk; the full
    cross-side disjunction then filters the survivors. The factored
    prefilters are implied by the disjunction (no semantics change) —
    this is the manual CNF extraction Q19 is the textbook case for."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    part_side = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15))
    )
    full = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    )
    return (
        li.filter(F.col("l_quantity").between(1, 30))
        .join(
            F.broadcast(part.filter(part_side)),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .filter(full)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "sole_late_suppliers",
    oracle="""
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
        AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 60
    )
    SELECT s_name, count(*) AS numwait
    FROM late l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
      )
    GROUP BY 1
    """,
)
def sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for
    finished orders, the supplier whose line shipped late (>60 days
    after the order date — the fixture's ship-lag stand-in for
    commit/receipt lateness, as in `late_shipment_priority_counts`)
    on a MULTI-supplier order where NO OTHER supplier was late: an
    EXISTS (semi) and a NOT EXISTS (anti) against the same fact,
    correlated on (same order, different supplier).

    Scale shape: the late set reduces lineitem⨝orders once (status +
    lag predicates pushed below the join; orderkey-keyed shuffle),
    and both quantifiers join it on the SAME orderkey partitioning —
    the semi probes raw lineitem pruned to (orderkey, suppkey), the
    anti probes the late set itself. The late set is consumed by BOTH
    l1 and l3, and Spark does not canonicalize the two branches into
    one exchange (verified at runtime — no ReusedExchange), so it is
    a LAZY localCheckpoint: the ~1% late slice materializes once
    instead of running the lineitem⨝orders shuffle twice (the
    graph.py/BPE shared-frame precedent). The inequality rides the
    equi-join as a residual condition, never a cartesian. Supplier is
    dim-sized: broadcast."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    late = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            orders.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(
            F.col("l_shipdate").cast("date")
            > F.date_add(F.col("o_orderdate").cast("date"), 60)
        )
        .select("l_orderkey", "l_suppkey")
        .localCheckpoint(eager=False)
    )
    l2 = li.select(
        F.col("l_orderkey").alias("__ok2"), F.col("l_suppkey").alias("__sk2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("__ok3"), F.col("l_suppkey").alias("__sk3")
    )
    l1 = (
        late.join(
            l2,
            (F.col("__ok2") == F.col("l_orderkey"))
            & (F.col("__sk2") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("__ok3") == F.col("l_orderkey"))
            & (F.col("__sk3") != F.col("l_suppkey")),
            "left_anti",
        )
    )
    return (
        l1.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "dormant_customer_balances",
    oracle="""
    WITH t AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s,
             count(*) AS n
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer, t
    WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY 1
    """,
)
def dormant_customer_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with an
    above-average positive balance who have LAPSED — no order since
    2000-01-01 — a scalar aggregate threshold plus a NOT EXISTS
    anti-join, grouped by market segment (the fixture's stand-in for
    Q22's phone country code; "never ordered" is degenerate in this
    fixture — every customer has at least one order — so the recency
    cutoff keeps the anti-join populated while preserving the shape).

    Scale shape: the threshold is a 1-row (sum, count) aggregate that
    broadcasts into the filter as an exact cross-multiplied DECIMAL
    comparison (bal·n > sum — never a double average, whose rounding
    could flip boundary rows between engines); the anti-join shuffles
    on the uniform custkey; the final aggregate is 5 segments wide
    with map-side partials."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    t = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal).cast("decimal(38,2)").alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        cust.join(F.broadcast(t))
        .filter(bal * F.col("__n") > F.col("__s"))
        .join(
            orders.filter(
                F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
            ).select("o_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
    )


@query(
    "nation_trade_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS l_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing between two
    nations in either direction, by supplier nation × customer nation
    × ship year — the star-shaped 6-way join with a cross-dimension
    disjunction.

    Scale shape: supplier and nation are dim-sized and BROADCAST —
    the supplier side is pre-restricted to the two nations before it
    broadcasts, so lineitem shrinks ~|nations|-fold at its FIRST
    join, before the only two big shuffles (orderkey to reach orders,
    custkey to reach customer). The either-direction disjunction
    filters the surviving pairs post-join; the aggregate is
    (2 × years) keys with map-side partials."""
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    names = ("NATION_1", "NATION_2")
    n1 = nation.select(
        F.col("n_nationkey").alias("__nk1"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin(*names))
    n2 = nation.select(
        F.col("n_nationkey").alias("__nk2"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin(*names))
    s2 = supp.join(F.broadcast(n1), F.col("s_nationkey") == F.col("__nk1")).select(
        "s_suppkey", "supp_nation"
    )
    c2 = cust.join(F.broadcast(n2), F.col("c_nationkey") == F.col("__nk2")).select(
        "c_custkey", "cust_nation"
    )
    rev = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    )
    pair = (
        (F.col("supp_nation") == names[0]) & (F.col("cust_nation") == names[1])
    ) | ((F.col("supp_nation") == names[1]) & (F.col("cust_nation") == names[0]))
    return (
        li.join(F.broadcast(s2), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c2, F.col("c_custkey") == F.col("o_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate").cast("date")).cast("int").alias("l_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "top_revenue_suppliers",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
)
def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): per-supplier revenue over one
    quarter, returning the supplier(s) achieving the maximum — the
    view-plus-scalar-max-subquery pattern, de-correlated into an
    aggregate consumed twice (once for the max, once for the join).

    Scale shape: the quarter filter pushes to the parquet scan; the
    per-supplier aggregate is one uniform-key shuffle with map-side
    partial DECIMAL sums (exact, so the max-equality comparison
    cannot be split by double partial-sum order — ties are real
    ties); the 1-row max broadcasts back into the filter and supplier
    is dim-sized broadcast. The per-supplier aggregate feeds both the
    max and the join, and Spark does not canonicalize the two
    branches into one exchange (verified at runtime — no
    ReusedExchange), so the supplier-sized frame is a LAZY
    localCheckpoint: the quarter slice of lineitem is scanned and
    shuffled exactly once."""
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    rev_expr = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    )
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev_expr).alias("__tr"))
        .localCheckpoint(eager=False)
    )
    mx = rev.agg(F.max("__tr").alias("__mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("__tr") == F.col("__mx"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("__tr").cast("double").alias("total_revenue")
        )
    )


@query(
    "event_funnel_counts",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(epoch_us(ts)) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE event_type = 'click' AND epoch_us(ts) > t1
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(epoch_us(ts)) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE event_type = 'purchase' AND epoch_us(ts) > t2
      GROUP BY 1
    )
    SELECT * FROM (
      SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM s1
      UNION ALL
      SELECT 2 AS step, 'click' AS event_type, count(*) AS n_users FROM s2
      UNION ALL
      SELECT 3 AS step, 'purchase' AS event_type, count(*) AS n_users FROM s3
    )
    """,
)
def event_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): users
    completing each prefix IN TIMESTAMP ORDER — step k counts users
    whose earliest step-k event is strictly after their earliest
    qualifying step-(k-1) event. The sequential-pattern query every
    product-analytics engine ships; timestamps compare as integer
    epoch-µs (the qreg rule — never raw ts).

    Scale shape: each stage filters events to ONE type at the scan
    (predicate pushdown), aggregates to a user-sized min, and joins
    the previous stage on the SAME user key — every exchange in the
    chain hashes the one uniform key, and each stage's frame only
    shrinks (funnels are monotone). No windows, no per-user sorts.
    Since r13 the chain is the generic N-stage fold
    (operators/funnel.py) — identical composition, any length."""
    from pg2kafka_spark.operators.funnel import ordered_funnel

    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    return ordered_funnel(ev, ("view", "click", "purchase"))


@query(
    "event_funnel_windowed_counts",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(epoch_us(ts)) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE event_type = 'click'
        AND epoch_us(ts) > t1 AND epoch_us(ts) <= t1 + 604800000000
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(epoch_us(ts)) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE event_type = 'purchase'
        AND epoch_us(ts) > t2 AND epoch_us(ts) <= t2 + 604800000000
      GROUP BY 1
    )
    SELECT * FROM (
      SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM s1
      UNION ALL
      SELECT 2 AS step, 'click' AS event_type, count(*) AS n_users FROM s2
      UNION ALL
      SELECT 3 AS step, 'purchase' AS event_type, count(*) AS n_users FROM s3
    )
    """,
)
def event_funnel_windowed_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ordered funnel with a MAX-CONVERSION-WINDOW constraint (the
    product-analytics default): step k counts only when its earliest
    qualifying event lands within 7 days of the previous step's
    conversion instant — users who 'converted' months later are churn,
    not funnel progress. Same shape as ``event_funnel_counts`` plus
    one band predicate per stage; window arithmetic is integer µs.

    Scale shape unchanged: per-stage scan-pushed type filter →
    user-sized min → same-key join; the band filter is map-side.
    Since r13 the chain is the generic N-stage fold
    (operators/funnel.py) — identical composition, any length."""
    from pg2kafka_spark.operators.funnel import ordered_funnel

    week_us = 604_800_000_000
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    return ordered_funnel(
        ev, ("view", "click", "purchase"), window_us=week_us
    )


_STAGES_4 = ("signup", "view", "click", "purchase")
_WEEK_US = 604_800_000_000


def _stages4_oracle() -> str:
    from pg2kafka_spark.operators.funnel import funnel_oracle_sql

    return funnel_oracle_sql(_STAGES_4, window_us=_WEEK_US)


@query("event_funnel_stages", oracle=_stages4_oracle())
def event_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOUR-stage windowed funnel (signup → view → click → purchase,
    7-day band per step) through the generic N-stage fold
    (operators/funnel.py) — the generalization the 3-stage queries now
    share: same plan shape at any funnel length (scan-pushed type
    filter → user-sized min → same-key join per stage), and the DuckDB
    oracle is GENERATED from the same stage list, so query and oracle
    cannot drift."""
    from pg2kafka_spark.operators.funnel import ordered_funnel

    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    return ordered_funnel(ev, _STAGES_4, window_us=_WEEK_US)


@query(
    "weekly_retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT user_id, min(epoch_us(ts)) AS f_us FROM events GROUP BY 1
    )
    SELECT CAST(f_us // 86400000000 AS BIGINT) AS cohort_day,
           CAST((epoch_us(ts) - f_us) // 604800000000 AS BIGINT)
             AS week_offset,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users cohorted by their FIRST event's day,
    counted distinct in each subsequent week offset — the classic
    retention triangle. Week arithmetic is pure integer µs floor
    division (positive epochs, so div == floor on both engines) —
    no calendar-week truncation, whose week-start convention is an
    engine-specific trap.

    Scale shape: first-event frame is one user-keyed shuffle with
    map-side partial mins; the rejoin hashes the same key; the
    distinct count is the standard two-phase
    (cohort, week, user)-keyed partial-dedup then count — uniform
    keys throughout, no windows."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    f = ev.groupBy("user_id").agg(F.min("ts_us").alias("f_us"))
    j = ev.join(f, "user_id")
    return (
        j.select(
            F.expr("f_us div 86400000000").cast("bigint").alias("cohort_day"),
            F.expr("(ts_us - f_us) div 604800000000")
            .cast("bigint")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "weekly_retention_incremental",
    oracle="""
    WITH f AS (
      SELECT user_id, min(epoch_us(ts)) AS f_us FROM events GROUP BY 1
    ),
    p AS (
      SELECT DISTINCT
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS ingest_day,
             CAST(f_us // 86400000000 AS BIGINT) AS cohort_day,
             CAST((epoch_us(ts) - f_us) // 604800000000 AS BIGINT)
               AS week_offset,
             e.user_id
      FROM events e JOIN f ON e.user_id = f.user_id
    )
    SELECT cohort_day, week_offset, count(DISTINCT user_id) AS n_users
    FROM p GROUP BY 1, 2
    """,
)
def weekly_retention_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The retention triangle read through the PER-INGEST-DAY
    pre-aggregate (operators/retention.py) — the at-scale twin of
    ``weekly_retention_cohorts``, whose (cohort, week, user) distinct
    is the one measured linear-at-100M-events shuffle (BASELINE.md
    r12). Here the distinct happens per ingest day FIRST (one row per
    active (user, week) per day — the table the daily job maintains
    incrementally via ``retention_day_partial``), and the query-time
    merge carries only those partials: ~8× the triangle size at most,
    independent of per-user event volume.

    This one-pass batch spelling builds all day-partials in a single
    aggregation so DuckDB can hash-check it; the day-by-day
    maintenance fold is pinned equal by tests/test_retention.py, and
    the stress axis measures the query-from-partials vs
    query-from-events gap at the events decades."""
    from pg2kafka_spark.operators.retention import retention_from_partials

    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    f = ev.groupBy("user_id").agg(F.min("ts_us").alias("f_us"))
    partials = (
        ev.join(f, "user_id")
        .select(
            F.expr("ts_us div 86400000000").cast("bigint").alias("ingest_day"),
            F.expr("f_us div 86400000000").cast("bigint").alias("cohort_day"),
            F.expr("(ts_us - f_us) div 604800000000")
            .cast("bigint")
            .alias("week_offset"),
            "user_id",
        )
        .distinct()
    )
    return retention_from_partials(partials)


@query("weekly_retention_hll")  # rows-only BY DESIGN: HLL estimates
def weekly_retention_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKETCH mode of the incremental retention family
    (operators/retention.py::retention_day_sketch /
    retention_from_sketches) — the rows-only twin the module
    docstring names, registered for real per the approx-profiler
    precedent (orders_table_profile_approx). Maintained state is one
    Datasketches HLL sketch per (ingest_day, cohort, week) cell —
    O(2^lg_k) bytes, NO user key anywhere — and the query-time merge
    is `hll_union_agg` + estimate: independent of users and events
    both. No oracle (sketch estimates are engine-specific by
    construction); the exact twins carry the hash evidence, and
    tests/test_retention.py pins every cell's estimate within
    tolerance of the exact triangle plus the exact (cohort, week)
    cell set EQUAL."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    f = ev.groupBy("user_id").agg(F.min("ts_us").alias("f_us"))
    day_sketches = (
        ev.join(f, "user_id")
        .select(
            F.expr("ts_us div 86400000000").cast("bigint").alias("ingest_day"),
            F.expr("f_us div 86400000000").cast("bigint").alias("cohort_day"),
            F.expr("(ts_us - f_us) div 604800000000")
            .cast("bigint")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("ingest_day", "cohort_day", "week_offset")
        .agg(F.hll_sketch_agg("user_id", 12).alias("sketch"))
    )
    from pg2kafka_spark.operators.retention import retention_from_sketches

    return retention_from_sketches(day_sketches)


def _ensure_retention_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the maintained retention state once per session per
    sf_dir — the tables the day-by-day fold of operators/retention.py
    (`first_seen_update`, `retention_day_partial`) keeps up, backfilled
    here in one pass (the nightly-backfill spelling; the day-by-day
    fold is pinned equal to it by tests/test_retention.py).
    Same idempotence convention as `_ensure_bucketed_tables`: skip
    only when the store's `_COMPLETE` marker (written LAST, removed
    before any rebuild — r17, the ANN-store convention) and data
    files are both present; a bare data check would accept another
    process's overwrite-in-flight `_temporary` task files as a
    complete store. Layout is
    `<root>/partials` (ingest_day, cohort_day, week_offset, user_id)
    and `<root>/first_seen` (user_id, f_us) — at 100 TB partition
    partials by cohort_day so triangle queries prune."""
    import os
    import tempfile

    from pg2kafka_spark.catalog import source_signature

    # key the store by the SOURCE's identity, not just its path: the
    # driver regenerates /root/testdata between rounds, and serving
    # stale partials against fresh events would be a wrong answer —
    # a changed events table gets a fresh store directory
    from pg2kafka_spark.catalog import store_build_lock

    h = source_signature(sf_dir, "events")
    root = os.path.join(tempfile.gettempdir(), f"pg2kafka_retention_{h}")
    part_dir = os.path.join(root, "partials")
    fs_dir = os.path.join(root, "first_seen")

    def _has_data(d: str) -> bool:
        # recursive: the partials table is cohort_day-partitioned
        # (r15), so its parquet files live in cohort_day=N subdirs —
        # a flat listdir would MISS them and rebuild the store on
        # every call (and concurrent rebuilds of one path race)
        if not os.path.isdir(d):
            return False
        for _cur, _dirs, files in os.walk(d):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    with store_build_lock(root):
        return _build_retention_store(
            spark, sf_dir, root, part_dir, fs_dir, _has_data
        )


def _build_retention_store(
    spark, sf_dir, root, part_dir, fs_dir, _has_data
) -> str:
    import os

    marker = os.path.join(root, "_COMPLETE")
    if (
        os.path.exists(marker)
        and _has_data(part_dir)
        and _has_data(fs_dir)
    ):
        return root
    if os.path.exists(marker):
        os.remove(marker)
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    f = ev.groupBy("user_id").agg(F.min("ts_us").alias("f_us"))
    partials = (
        ev.join(f, "user_id")
        .select(
            F.expr("ts_us div 86400000000").cast("bigint").alias("ingest_day"),
            F.expr("f_us div 86400000000").cast("bigint").alias("cohort_day"),
            F.expr("(ts_us - f_us) div 604800000000")
            .cast("bigint")
            .alias("week_offset"),
            "user_id",
        )
        .distinct()
    )
    # cohort_day partitioning: cohort-windowed triangle queries prune
    # at the scan (PartitionFilters) instead of reading every cohort —
    # the prune the module's 100 TB note prescribes (r14 verdict #2)
    partials.write.mode("overwrite").partitionBy("cohort_day").parquet(part_dir)
    f.write.mode("overwrite").parquet(fs_dir)
    with open(marker, "w"):
        pass
    return root


@query(
    "weekly_retention_served",
    oracle="""
    WITH f AS (
      SELECT user_id, min(epoch_us(ts)) AS f_us FROM events GROUP BY 1
    ),
    p AS (
      SELECT DISTINCT
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS ingest_day,
             CAST(f_us // 86400000000 AS BIGINT) AS cohort_day,
             CAST((epoch_us(ts) - f_us) // 604800000000 AS BIGINT)
               AS week_offset,
             e.user_id
      FROM events e JOIN f ON e.user_id = f.user_id
    )
    SELECT cohort_day, week_offset, count(DISTINCT user_id) AS n_users
    FROM p GROUP BY 1, 2
    """,
)
def weekly_retention_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention triangle SERVED from the maintained partials
    table that `_ensure_retention_store` builds. Where
    `weekly_retention_incremental`
    demonstrates the pre-aggregate's ALGEBRA by rebuilding partials
    in-query, this query reads the at-rest table the maintenance job
    keeps up and only pays `retention_from_partials`: a
    (cohort, week)-keyed countDistinct over ~active-user-day rows —
    the measured 105× at 100 M events (BASELINE.md r13) as a
    registered query instead of a hand-rolled fold. Same reference
    lineage as the family: the outbox consumers re-aggregate the
    queue per query (eventqueue/event_queue.go:60-75); this is that
    feed rolled up once and served many times."""
    import os

    from pg2kafka_spark.operators.retention import retention_from_partials

    root = _ensure_retention_store(spark, sf_dir)
    # partition-column type inference narrows cohort_day to int on
    # read-back; restore the store's declared bigint
    partials = spark.read.parquet(os.path.join(root, "partials")).withColumn(
        "cohort_day", F.col("cohort_day").cast("bigint")
    )
    return retention_from_partials(partials)


# First calendar week of the generator's deterministic 2024-01-01..30
# event range, as days-since-epoch — the cohort window the pruned
# serve reads. Constants shared verbatim by query and oracle.
_COHORT_WINDOW_LO = 19723
_COHORT_WINDOW_HI = 19729


@query(
    "weekly_retention_served_cohort_window",
    oracle=f"""
    WITH f AS (
      SELECT user_id, min(epoch_us(ts)) AS f_us FROM events GROUP BY 1
    ),
    p AS (
      SELECT DISTINCT
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS ingest_day,
             CAST(f_us // 86400000000 AS BIGINT) AS cohort_day,
             CAST((epoch_us(ts) - f_us) // 604800000000 AS BIGINT)
               AS week_offset,
             e.user_id
      FROM events e JOIN f ON e.user_id = f.user_id
    )
    SELECT cohort_day, week_offset, count(DISTINCT user_id) AS n_users
    FROM p
    WHERE cohort_day BETWEEN {_COHORT_WINDOW_LO} AND {_COHORT_WINDOW_HI}
    GROUP BY 1, 2
    """,
)
def weekly_retention_served_cohort_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohort-WINDOWED serve from the maintained partials table — the
    read pattern the cohort_day partitioning (r15) exists for: the
    window predicate lands on the partition column BEFORE the widening
    cast, so the scan prunes to the window's directories
    (PartitionFilters, pinned in tests/test_plans.py) instead of
    reading every cohort. At 100 TB this is the difference between
    scanning a week and scanning the table's full history."""
    import os

    from pg2kafka_spark.operators.retention import retention_from_partials

    root = _ensure_retention_store(spark, sf_dir)
    partials = (
        spark.read.parquet(os.path.join(root, "partials"))
        .filter(
            F.col("cohort_day").between(_COHORT_WINDOW_LO, _COHORT_WINDOW_HI)
        )
        .withColumn("cohort_day", F.col("cohort_day").cast("bigint"))
    )
    return retention_from_partials(partials)


def _profile_col_sql(col: str, kind: str) -> str:
    """One UNION branch of the orders-profile oracle. DuckDB scans per
    branch; Spark computes every column in ONE pass (Expand-planned
    multi-distinct) — same values, different engine idiom."""
    if kind == "ts":
        mn, mx = f"epoch_us(min({col}))", f"epoch_us(max({col}))"
        nd = f"count(DISTINCT epoch_us({col}))"
    elif kind == "num":
        mn, mx = f"CAST(min({col}) AS DOUBLE)", f"CAST(max({col}) AS DOUBLE)"
        nd = f"count(DISTINCT CAST({col} AS DOUBLE))"
    else:
        mn, mx, nd = f"min({col})", f"max({col})", f"count(DISTINCT {col})"
    num = kind in ("ts", "num")
    return f"""
      SELECT '{col}' AS column_name, count(*) AS n_rows,
             CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
             {nd} AS n_distinct,
             {f'CAST({mn} AS DOUBLE)' if num else 'CAST(NULL AS DOUBLE)'}
               AS min_num,
             {f'CAST({mx} AS DOUBLE)' if num else 'CAST(NULL AS DOUBLE)'}
               AS max_num,
             {'CAST(NULL AS VARCHAR)' if num else mn} AS min_str,
             {'CAST(NULL AS VARCHAR)' if num else mx} AS max_str
      FROM orders"""


@query(
    "orders_table_profile",
    oracle="\nUNION ALL\n".join(
        [
            _profile_col_sql("o_orderkey", "num"),
            _profile_col_sql("o_custkey", "num"),
            _profile_col_sql("o_totalprice", "num"),
            _profile_col_sql("o_orderdate", "ts"),
            _profile_col_sql("o_orderstatus", "str"),
            _profile_col_sql("o_orderpriority", "str"),
        ]
    ),
)
def orders_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profile of ``orders``: per-column nulls, exact distinct
    cardinality, typed min/max — DESCRIBE-surface data-quality stats
    in ONE scan (Expand-planned multi-distinct aggregate; the oracle
    unions per-column scans instead — same values, engine idiom
    each). See ``operators/profile.table_profile``."""
    from pg2kafka_spark.operators.profile import table_profile

    orders = load_table(spark, "orders", sf_dir)
    return table_profile(
        orders,
        numeric_cols=("o_orderkey", "o_custkey", "o_totalprice"),
        string_cols=("o_orderstatus", "o_orderpriority"),
        ts_cols=("o_orderdate",),
        spread_key="o_orderkey",
    )


@query("orders_table_profile_approx")
def orders_table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PB-scale twin of ``orders_table_profile``: HyperLogLog++
    ``approx_count_distinct`` (rsd 5%) replaces the exact
    multi-distinct, removing the Expand from the plan — the shuffle
    carries O(n_cols × HLL registers) bytes instead of n_cols
    partially-deduped copies of every key. Rows-only by design (an
    HLL estimate is engine-specific); the exact twin is the oracle
    evidence, and tests/test_pipeline_ops.py pins every approx
    n_distinct within tolerance of the exact profile plus every
    non-sketch column (nulls, min/max, n_rows) EQUAL to it."""
    from pg2kafka_spark.operators.profile import table_profile

    orders = load_table(spark, "orders", sf_dir)
    return table_profile(
        orders,
        numeric_cols=("o_orderkey", "o_custkey", "o_totalprice"),
        string_cols=("o_orderstatus", "o_orderpriority"),
        ts_cols=("o_orderdate",),
        approximate=True,
        spread_key="o_orderkey",
    )


def _ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize customer + orders bucketed by custkey (16 buckets,
    shared contract) once per session per sf_dir — the ingest-time
    shuffle that every downstream key join then skips. Idempotent:
    catalog-existence check makes re-runs (bench best-of-N) read the
    at-rest layout instead of re-paying the write — but catalog
    existence alone is not proof the DATA is there (the tempdir
    warehouse can be cleaned while the session catalog persists), so
    the skip also requires both external paths to still hold files;
    write_bucketed's overwrite mode makes the rebuild safe. Keyed by
    the SOURCES' identity (r15 — was path-only, which would have
    served a stale bucketed layout against regenerated testdata, the
    wrong-answer class the retention store's keying pre-empts).

    r17: a shared on-disk ``_COMPLETE`` marker gates the rebuild
    across PROCESSES (the ANN-store convention) — the session-local
    catalog check alone made every new process sharing a tempdir
    rebuild and overwrite files a sibling might be reading
    (store_build_lock only serializes build-vs-build). With the
    marker + data present, a catalog miss REGISTERS the existing
    layout (CREATE ... CLUSTERED BY ... LOCATION) instead of
    rewriting it; the marker is written last and removed before any
    rebuild, so a crashed build never gates."""
    import hashlib
    import os
    import tempfile

    from pg2kafka_spark.catalog import source_signature, store_build_lock
    from pg2kafka_spark.operators.bucketed import write_bucketed

    h = hashlib.md5(
        (
            source_signature(sf_dir, "customer")
            + source_signature(sf_dir, "orders")
        ).encode()
    ).hexdigest()[:8]
    tc, to = f"bkt_customer_{h}", f"bkt_orders_{h}"
    root = os.path.join(tempfile.gettempdir(), f"pg2kafka_bucketed_{h}")

    def _has_data(sub: str) -> bool:
        d = os.path.join(root, sub)
        return os.path.isdir(d) and any(
            f.endswith(".parquet") for f in os.listdir(d)
        )

    marker = os.path.join(root, "_COMPLETE")

    def _register(table: str, sub: str) -> None:
        # Register the at-rest layout without rewriting it: bucket
        # metadata lives in the catalog, so a fresh process re-declares
        # the same (c_custkey, 16) contract over the existing files
        # instead of overwriting bytes a sibling process may be reading.
        d = os.path.join(root, sub)
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in spark.read.parquet(d).schema.fields
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {table} ({ddl}) USING parquet "
            f"CLUSTERED BY (c_custkey) INTO 16 BUCKETS "
            f"LOCATION '{d}'"
        )

    # store_build_lock: the bench warms plans from a thread pool —
    # without the lock two threads can pass the exists-check together
    # and race the DROP/overwrite (the same race the retention and
    # ANN ensures were locked against; r15 advice).
    with store_build_lock(root):
        complete = (
            os.path.exists(marker)
            and _has_data("customer")
            and _has_data("orders")
        )
        if complete:
            if not spark.catalog.tableExists(tc):
                _register(tc, "customer")
            if not spark.catalog.tableExists(to):
                _register(to, "orders")
            return tc, to
        if os.path.exists(marker):
            os.remove(marker)
        for t in (tc, to):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        customer = load_table(spark, "customer", sf_dir).select(
            "c_custkey", "c_mktsegment"
        )
        orders = load_table(spark, "orders", sf_dir).select(
            F.col("o_custkey").alias("c_custkey"), "o_totalprice"
        )
        write_bucketed(
            customer,
            tc,
            "c_custkey",
            16,
            path=os.path.join(root, "customer"),
        )
        write_bucketed(
            orders, to, "c_custkey", 16, path=os.path.join(root, "orders")
        )
        with open(marker, "w"):
            pass
    return tc, to


@query(
    "bucketed_customer_order_stats",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, c_mktsegment, count(*) AS n_orders,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY 1, 2
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(n_orders) AS BIGINT) AS n_orders,
           CAST(sum(spend) AS DOUBLE) AS total_spent
    FROM per_cust GROUP BY 1
    """,
)
def bucketed_customer_order_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-segment order rollup computed ENTIRELY on the bucketed
    layout (operators/bucketed.py): customer and orders are
    materialized bucketed by custkey under a shared (key, 16)
    contract, so BOTH the join and the per-customer aggregate consume
    the scans in place — the only Exchange left in the plan is the
    5-key segment rollup (pinned by tests/test_plans.py). Bucketing
    changes the plan, not the answer: values oracle-checked against
    the plain-parquet formulation.

    At 100 TB this is the reference's repeated-outbox-scan problem
    (eventqueue/event_queue.go:60-75) solved at the storage layer:
    the nightly ingest pays ONE custkey shuffle writing the layout;
    every consumer query after that is map-side until the final
    tiny rollup."""
    from pg2kafka_spark.operators.bucketed import cocluster_join

    tc, to = _ensure_bucketed_tables(spark, sf_dir)
    per_cust = (
        cocluster_join(spark, tc, to, "c_custkey")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"),
        )
    )
    return per_cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("n_orders").cast("bigint").alias("n_orders"),
        F.sum("spend").cast("double").alias("total_spent"),
    )


@query(
    "discount_band_revenue_delta",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue_delta,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def discount_band_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): pure
    scan-filter-aggregate — what revenue would return if discounts in
    a band were dropped. EVERY predicate reaches the parquet reader
    (PushedFilters), the scan reads 4 columns of 11, and the
    aggregate is a 1-row partial-then-final — the query the columnar
    format exists for; at 100 TB it is I/O-bound and embarrassingly
    parallel. Exact DECIMAL product before the sum (double sums are
    partial-order-dependent)."""
    li = load_table(spark, "lineitem", sf_dir)
    delta = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * CAST(l_discount AS DECIMAL(18,2))"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(delta).cast("double").alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "returned_item_customer_revenue",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_item_customer_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returns in a quarter-ish window. The returnflag
    predicate pushes into the lineitem scan and the date band into
    orders BEFORE either join; customer/nation broadcast as true
    dims; orders⋈lineitem is the fact-fact join the planner owns.
    Top-20 plans as TakeOrderedAndProject (per-partition bounded
    heaps — no global sort materializes); c_custkey tiebreak keeps
    the LIMIT deterministic across engines."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    rev = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    )
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_name", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "part_type_profit_by_nation",
    oracle="""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           - CAST(sum(CAST(round(p_retailprice * l_quantity * 0.1, 2)
                           AS DECIMAL(18,2))) AS DOUBLE)
             AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def part_type_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): per supplier nation and
    order year, revenue minus a handling-cost share of retail price
    for one part family (name LIKE — no partsupp table exists in this
    schema, so retail price stands in for supply cost; the SHAPE —
    fact⋈dim-filtered⋈dim⋈dim⋈fact, two-key rollup — is Q9's).
    The name filter prunes part BEFORE broadcasting it into
    lineitem, so the fact-fact join with orders runs on the reduced
    stream. Revenue and cost sum separately in exact DECIMAL and
    subtract as doubles — identical partial-order-free arithmetic on
    both engines."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(
        F.col("p_name").like("%widget%")
    )
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    rev = F.expr(
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    )
    cost = F.expr(
        "CAST(round(p_retailprice * l_quantity * 0.1, 2) AS DECIMAL(18,2))"
    )
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_retailprice")),
                li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(
            (
                F.sum(rev).cast("double") - F.sum(cost).cast("double")
            ).alias("profit")
        )
    )


@query(
    "regional_min_cost_supplier",
    oracle="""
    WITH costs AS (
      SELECT l_partkey, l_suppkey, s_name,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      JOIN region   ON r_regionkey = n_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT l_partkey, min(unit_cost) AS best_cost FROM costs GROUP BY 1
    )
    SELECT p_partkey, p_brand, s_name, CAST(best_cost AS DOUBLE) AS unit_cost
    FROM costs
    JOIN best ON best.l_partkey = costs.l_partkey
             AND costs.unit_cost = best.best_cost
    JOIN part ON p_partkey = costs.l_partkey
    WHERE p_size <= 10
    """,
)
def regional_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each small part,
    the ASIA supplier(s) achieving the minimum observed unit price —
    the correlated-min + join-back (argmin) pattern. Lineitem is the
    price book (no partsupp table in this schema); the region filter
    reduces supplier to a broadcastable sliver BEFORE touching the
    fact; the argmin is a per-part min re-joined on (part, exact
    min) — both sides compute the identical IEEE double, so the
    equality join is deterministic; ties emit every witness on both
    engines. No window: at 100 TB the min+join-back pair is two
    partial-aggregated uniform-key shuffles, beating a per-part sort
    window."""
    li = load_table(spark, "lineitem", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).filter(
        F.col("r_name") == "ASIA"
    )
    part = load_table(spark, "part", sf_dir).filter(F.col("p_size") <= 10)
    asia_sup = (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name")
    )
    costs = (
        li.join(F.broadcast(asia_sup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey", "s_name")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_cost"
            )
        )
    )
    best = costs.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    return (
        costs.join(
            best,
            (costs.l_partkey == best.b_partkey)
            & (costs.unit_cost == best.best_cost),
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            costs.l_partkey == F.col("p_partkey"),
        )
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            F.col("best_cost").cast("double").alias("unit_cost"),
        )
    )


@query(
    "important_part_stock",
    oracle="""
    WITH pv AS (
      SELECT n_name AS nation, l_partkey AS partkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS value_cents
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      GROUP BY 1, 2
    ),
    total AS (
      SELECT count(*) AS n_groups, CAST(sum(value_cents) AS BIGINT)
               AS total_cents
      FROM pv
    )
    SELECT nation, partkey, value_cents
    FROM pv, total
    WHERE value_cents * n_groups > 3 * total_cents
    """,
)
def important_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): (nation,
    part) positions whose traded value exceeds 3× the MEAN position
    value — the global-scalar-threshold pattern. (Classic Q11 uses a
    fixed global fraction scaled by 1/SF; a scale-FREE mean-relative
    cut keeps the result non-degenerate at every sf — measured 8 /
    627 / 4.7k rows at sf0.001/0.01/0.1.) The global (count, total)
    is a 1-row aggregate of the per-group frame broadcast-cross-
    joined back (never a correlated re-scan); the comparison is pure
    integer cents (value×n > 3×total — no engine-specific
    decimal/double mixing), and the fact is scanned ONCE: both
    threshold inputs derive from the grouped frame itself.

    r20: projected + hash-spread by l_partkey (the
    economy_revenue_share serial-scan-head attribution, guide §2.5);
    the spread partitioning is a subset of the (nation, partkey)
    grouping, so the pv aggregation needs no further exchange.
    Identity at scale."""
    from pg2kafka_spark.operators.scale import spread_small_input

    li = spread_small_input(
        load_table(spark, "lineitem", sf_dir).select(
            "l_partkey", "l_suppkey", "l_extendedprice"
        ),
        key="l_partkey",
    )
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    pv = (
        li.join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
                li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("l_partkey").alias("partkey"),
        )
        .agg(F.sum(cents).cast("bigint").alias("value_cents"))
    )
    total = pv.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("value_cents").cast("bigint").alias("total_cents"),
    )
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_cents") * F.col("n_groups")
            > 3 * F.col("total_cents")
        )
        .select("nation", "partkey", "value_cents")
    )


@query(
    "part_supplier_diversity",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000
      )
    GROUP BY 1, 2, 3
    """,
)
def part_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many
    DISTINCT suppliers ship each surviving (brand, type, size) part
    class, excluding a supplier denylist (NOT IN → broadcast
    left-anti — s_suppkey is non-null so anti-join and NOT IN agree).
    Lineitem stands in for partsupp (no such table in this schema).
    Part predicates prune the dim BEFORE it broadcasts; the distinct
    count is the standard two-phase partial-dedup aggregate on
    uniform keys."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    bad = load_table(spark, "supplier", sf_dir).filter(
        F.col("s_acctbal") < 1000
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == F.col("s_suppkey"),
                "left_anti")
        .join(F.broadcast(part.select("p_partkey", "p_brand", "p_type",
                                      "p_size")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "excess_shipment_suppliers",
    oracle="""
    WITH sq AS (
      SELECT l_suppkey, l_partkey,
             sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%widget%'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    ),
    sh AS (
      SELECT l_suppkey, qty,
             sum(qty) OVER (PARTITION BY l_partkey) AS total_qty
      FROM sq
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM sh
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE qty * 2 > total_qty
    """,
)
def excess_shipment_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (dominant-share suppliers): suppliers who
    shipped MORE THAN HALF of any widget part's 1997 volume — the
    nested aggregate-over-aggregate semi-join pattern (Q20's
    available-quantity threshold re-expressed on lineitem; no
    partsupp in this schema). The part/date filters prune at the
    scan; the share test is a windowed total over the ALREADY
    part-supplier-aggregated frame — post-aggregate window on the
    uniform part key, so the fact is scanned exactly once and
    nothing corpus-sized ever sorts (contrast the join-back
    spelling, which re-scans the fact because Spark won't reuse the
    exchange across two consumers); DISTINCT collapses multi-part
    witnesses. Exact DECIMAL quantity sums; the half test is
    qty*2 > total (integer-safe, no division)."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(
        F.col("p_name").like("%widget%")
    )
    supplier = load_table(spark, "supplier", sf_dir)
    sq = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(part.select("p_partkey")),
              li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
    )
    sh = sq.withColumn(
        "total_qty",
        F.sum("qty").over(Window.partitionBy("l_partkey")),
    )
    return (
        sh.filter(F.col("qty") * 2 > F.col("total_qty"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name")
        .distinct()
    )


@query(
    "part_pair_cooccurrence",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_orders
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 50
    """,
)
def part_pair_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top-50 part pairs appearing in
    the same order. The oracle spells it as the classic fact
    self-join; the Spark plan NEVER self-joins the fact — each order
    collapses to its distinct part set (baskets are small and bounded
    by order size), pairs explode map-side from the per-order array
    (≤ C(lines,2) ≈ 20 rows per order), and only (pair, count)
    partial aggregates shuffle. Measured trade (BASELINE.md round 12,
    relational stress axis): the self-join
    plans as TWO fact scans + three exchanges (Spark does not reuse
    the exchange across the inequality self-join), the basket
    explode as ONE scan + two exchanges; on page-cached local data
    the self-join's extra scan is cheap and it wins at 6 M rows
    (6.4 vs 9.1 s), the explode takes the lead by 18 M rows
    (23.4 vs 24.7 s), and at cluster scale — where the second scan
    is real I/O — the one-scan spelling is the only defensible one.
    Top-50 is a bounded heap (TakeOrdered), key-tiebroken."""
    from pg2kafka_spark.operators.scale import spread_small_input

    # r20 (guide §2.5): two serial/narrow stages attributed from the
    # event log. (1) The single-row-group scan ran the partial
    # collect_set as ONE task (0.62 task-s). (2) AQE coalesced the
    # basket-merge reduce stage to 4 tasks from its ~6 MB of map
    # bytes, but that stage carries the ~20× pair Generate + partial
    # pair count (2.8 CPU-s) — bytes are the wrong proxy for
    # generate-heavy stages (the session.py parallelismFirst note).
    # ONE hash-spread by l_orderkey fixes both: the serial task
    # shrinks to decode+write (no sortBeforeRepartition, no partial
    # agg), the groupBy reuses the spread's partitioning (no second
    # basket exchange), and the set-build + explode + partial pair
    # count all run in the pinned-width stage AQE cannot coalesce.
    # Identity at real scale (size-estimate guard).
    li = spread_small_input(
        load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey"),
        key="l_orderkey",
    )
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") >= 2)
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("parts"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("parts"), i + 2,
                            F.size(F.col("parts")) - i - 1,
                        ),
                        lambda b: F.struct(
                            a.alias("part_a"), b.alias("part_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(50)
    )


_PR_SCALE = 1_000_000_000
_PR_DAMP = 85
_PR_ITERS = 3


def _pagerank_oracle() -> str:
    """Unrolled fixed-point power iteration — generated from the SAME
    constants as the query (the k-means-oracle discipline): every
    rank a bigint in 1/SCALE units, every contribution a truncating
    integer division, so per-node sums are order-independent and the
    iteration reproduces bit-for-bit."""
    s, d, base = _PR_SCALE, _PR_DAMP, 100 - _PR_DAMP
    parts = [
        """e AS (
      SELECT s_nationkey AS src, c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      GROUP BY 1, 2
    )""",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "params AS (SELECT count(*) AS n FROM nodes)",
        "outw AS (SELECT src, sum(w) AS out_w FROM e GROUP BY 1)",
        f"pr0 AS (SELECT node, CAST({s} // n AS BIGINT) AS rank_fp "
        "FROM nodes CROSS JOIN params)",
    ]
    for it in range(_PR_ITERS):
        parts.append(f"""pr{it + 1} AS (
      SELECT nd.node,
             CAST(CAST((CAST({base} AS BIGINT) * {s}) // (100 * p.n) AS BIGINT)
                  + COALESCE(c.in_c, 0) AS BIGINT) AS rank_fp
      FROM nodes nd CROSS JOIN params p
      LEFT JOIN (
        SELECT e.dst AS node,
               CAST(sum((pr.rank_fp * {d} * e.w) // (100 * o.out_w))
                 AS BIGINT) AS in_c
        FROM e JOIN pr{it} pr ON pr.node = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY 1
      ) c ON c.node = nd.node
    )""")
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT n_name AS nation, rank_fp
    FROM pr{_PR_ITERS} JOIN nation ON n_nationkey = node
    """
    )


@query("nation_trade_pagerank", oracle=_pagerank_oracle())
def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the NATION TRADE GRAPH (supplier nation →
    customer nation, edge weight = line items shipped) — which
    nations order flow concentrates on, the iterative-algorithm
    counterpart to connected components. Computed by
    ``operators/graph.pagerank_fixed_point``: 3 power iterations in
    fixed-point integer arithmetic, so the whole iteration —
    uniform start, damped weighted split, dangling-mass drop — is
    hash-checked against a 3×-unrolled SQL twin generated from the
    same constants.

    Scale shape: the edge build collapses the fact table through the
    Q7-style star joins to |nations|² weighted edges; each iteration
    is one src-keyed edge join + one dst-keyed partial-aggregated
    sum — the standard edge-partitioned power iteration, O(|E|)/round
    on ANY graph size (here the graph is tiny; the plan is the one
    you'd run on a billion-edge graph)."""
    from pg2kafka_spark.operators.graph import pagerank_fixed_point

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_suppkey", "l_orderkey"
    )
    supp = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_nationkey"
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, "nation", sf_dir)
    edges = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    pr = pagerank_fixed_point(
        edges,
        iters=_PR_ITERS,
        damping_pct=_PR_DAMP,
        scale=_PR_SCALE,
        weight_col="w",
    )
    return pr.join(
        F.broadcast(nation), pr.node == nation.n_nationkey
    ).select(F.col("n_name").alias("nation"), "rank_fp")


def _pagerank_conserving_oracle() -> str:
    """Unrolled CONSERVING fixed-point power iteration (r16): same
    generated-from-the-constants discipline as ``_pagerank_oracle``
    plus one dangling-mass scalar CTE per iteration."""
    s, d, base = _PR_SCALE, _PR_DAMP, 100 - _PR_DAMP
    parts = [
        """e AS (
      SELECT s_nationkey AS src, c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      WHERE sn.n_regionkey < 3
      GROUP BY 1, 2
    )""",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "params AS (SELECT count(*) AS n FROM nodes)",
        "outw AS (SELECT src, sum(w) AS out_w FROM e GROUP BY 1)",
        "dang AS (SELECT node FROM nodes LEFT JOIN outw "
        "ON src = node WHERE src IS NULL)",
        f"pr0 AS (SELECT node, CAST({s} // n AS BIGINT) AS rank_fp "
        "FROM nodes CROSS JOIN params)",
    ]
    for it in range(_PR_ITERS):
        parts.append(
            f"""dg{it} AS (
      SELECT CAST(COALESCE(sum(pr.rank_fp), 0) AS BIGINT) AS dm
      FROM pr{it} pr JOIN dang dgn ON dgn.node = pr.node
    )"""
        )
        parts.append(f"""pr{it + 1} AS (
      SELECT nd.node,
             CAST(CAST((CAST({base} AS BIGINT) * {s}) // (100 * p.n) AS BIGINT)
                  + (dg.dm * {d}) // (100 * p.n)
                  + COALESCE(c.in_c, 0) AS BIGINT) AS rank_fp
      FROM nodes nd CROSS JOIN params p CROSS JOIN dg{it} dg
      LEFT JOIN (
        SELECT e.dst AS node,
               CAST(sum((pr.rank_fp * {d} * e.w) // (100 * o.out_w))
                 AS BIGINT) AS in_c
        FROM e JOIN pr{it} pr ON pr.node = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY 1
      ) c ON c.node = nd.node
    )""")
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT n_name AS nation, rank_fp
    FROM pr{_PR_ITERS} JOIN nation ON n_nationkey = node
    """
    )


@query(
    "nation_trade_pagerank_conserving",
    oracle=_pagerank_conserving_oracle(),
)
def nation_trade_pagerank_conserving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONSERVING PageRank twin (r16, the r15 verdict's 7a): same
    fixed-point iteration as ``nation_trade_pagerank`` but each
    round's dangling mass is redistributed uniformly instead of
    dropped, so ranks form a distribution (sum ≈ scale up to
    truncation) — what a ranking consumer usually wants. The graph is
    made genuinely asymmetric to EXERCISE the dangling path: only
    suppliers in regions 0–2 export, so the nations of regions 3–4
    receive order flow but have no out-edges — structurally dangling
    at every scale factor. Hash-checked against a 3×-unrolled SQL
    twin with one dangling-mass scalar CTE per iteration, generated
    from the same constants.

    Scale shape: identical per-iteration plan as the dropping variant
    plus one 1-row aggregate (sum of ≤|nodes| ranks) broadcast into
    the update — O(|E|)/round unchanged; the dangling node SET is
    computed once (anti-join), only its mass re-sums per round."""
    from pg2kafka_spark.operators.graph import pagerank_fixed_point

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_suppkey", "l_orderkey"
    )
    nation = load_table(spark, "nation", sf_dir)
    supp = (
        load_table(spark, "supplier", sf_dir)
        .join(
            F.broadcast(nation.filter(F.col("n_regionkey") < 3)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_nationkey")
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey"
    )
    edges = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    pr = pagerank_fixed_point(
        edges,
        iters=_PR_ITERS,
        damping_pct=_PR_DAMP,
        scale=_PR_SCALE,
        weight_col="w",
        conserve_dangling=True,
    )
    return pr.join(
        F.broadcast(nation), pr.node == nation.n_nationkey
    ).select(F.col("n_name").alias("nation"), "rank_fp")


@query(
    "funnel_conversion_latency",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(epoch_us(ts)) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE event_type = 'click' AND epoch_us(ts) > t1
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(epoch_us(ts)) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE event_type = 'purchase' AND epoch_us(ts) > t2
      GROUP BY 1
    ),
    lat AS (
      SELECT 'view_to_click' AS stage, t2 - t1 AS lat_us
      FROM s2 JOIN s1 USING (user_id)
      UNION ALL
      SELECT 'click_to_purchase' AS stage, t3 - t2 AS lat_us
      FROM s3 JOIN s2 USING (user_id)
    ),
    rn AS (
      SELECT stage, lat_us,
             row_number() OVER (PARTITION BY stage ORDER BY lat_us) AS rn,
             count(*) OVER (PARTITION BY stage) AS n
      FROM lat
    )
    SELECT stage,
           CAST(max(n) AS BIGINT) AS n_users,
           CAST(min(lat_us) AS BIGINT) AS min_us,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN lat_us END)
                AS BIGINT) AS p50_us,
           CAST(max(lat_us) AS BIGINT) AS max_us,
           CAST(CAST(sum(lat_us) AS HUGEINT)
                // CAST(max(n) AS BIGINT) AS BIGINT) AS avg_us
    FROM rn
    GROUP BY stage
    """,
)
def funnel_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per funnel transition
    (view→click, click→purchase): user count, min / exact-median /
    max / floor-mean latency in integer µs. The median is a DISCRETE
    order statistic (rank (n+1)/2 — the lower median; no
    interpolation, whose engine conventions differ); all arithmetic
    integer. Scale shape: the latency frames are user-sized (funnel
    stages only shrink); the per-stage rank is a window over a
    2-partition key of an already user-sized frame — at extreme
    scale swap for the TakeOrdered-prefix order-statistic trick
    (doc_surprisal_band_fit precedent)."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )

    def stage(prev: DataFrame, etype: str, prev_t: str, out_t: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts_us") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts_us").alias(out_t), F.first(prev_t).alias(prev_t))
        )

    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    s2 = stage(s1, "click", "t1", "t2")
    s3 = stage(s2, "purchase", "t2", "t3")
    lat = (
        s2.select(
            F.lit("view_to_click").alias("stage"),
            (F.col("t2") - F.col("t1")).alias("lat_us"),
        )
        .unionByName(
            s3.select(
                F.lit("click_to_purchase").alias("stage"),
                (F.col("t3") - F.col("t2")).alias("lat_us"),
            )
        )
    )
    w = Window.partitionBy("stage").orderBy("lat_us")
    rn = lat.select(
        "stage",
        "lat_us",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("stage")).alias("n"),
    )
    return rn.groupBy("stage").agg(
        F.max("n").cast("bigint").alias("n_users"),
        F.min("lat_us").cast("bigint").alias("min_us"),
        F.max(
            F.when(F.expr("rn = (n + 1) div 2"), F.col("lat_us"))
        ).cast("bigint").alias("p50_us"),
        F.max("lat_us").cast("bigint").alias("max_us"),
        F.expr("CAST(sum(lat_us) div max(n) AS BIGINT)").alias("avg_us"),
    )
