"""CDC-consumer core queries — SURVEY §2 O1-O16 analogs on the
events table (see qreg docstring for determinism rules)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pg2kafka_spark.catalog import load_table
from pg2kafka_spark.qreg import query

PAGE_SIZE = 1000  # reference's hard-coded LIMIT (eventqueue/event_queue.go:20)


# ---------------------------------------------------------------------------
# CDC-consumer core (SURVEY §2 O1-O16 analogs on the events table)
# ---------------------------------------------------------------------------


@query(
    "latest_state_per_user",
    oracle="""
    SELECT user_id, event_id, event_type, value, props, ts_us FROM (
      SELECT user_id, event_id, event_type, value, props,
             epoch_us(ts) AS ts_us,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def latest_state_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-key latest-state compaction of the change stream —
    the reference's per-key ordering contract folded to current state
    (README.md:38-40). Aggregate (``max_by``) formulation: map-side
    partial agg ⇒ the shuffle carries ≤ one row per key per input
    partition — the 100 TB-safe strategy (vs. window sort).
    """
    from pg2kafka_spark.operators.compaction import latest_state_agg

    ev = load_table(spark, "events", sf_dir).withColumn("ts_us", F.unix_micros("ts"))
    return latest_state_agg(
        ev,
        key_cols=["user_id"],
        order_cols=["ts_us", "event_id"],
        value_cols=["event_id", "event_type", "value", "props", "ts_us"],
    )


@query(
    "state_asof",
    oracle="""
    SELECT user_id, event_id, event_type, value, ts_us FROM (
      SELECT user_id, event_id, event_type, value,
             epoch_us(ts) AS ts_us,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC
             ) AS rn
      FROM events
      WHERE epoch_us(ts) <= 1705276800000000
    ) WHERE rn = 1
    """,
)
def state_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time state reconstruction: per-key latest event at a
    cutoff (2024-01-15T00:00Z) — the CDC-replay query ("what did the
    table look like at T"). Same partial ``max_by`` shape as the
    flagship compaction; the time predicate pushes to the scan, so
    replay cost scales with history ≤ T, not total history.
    """
    from pg2kafka_spark.operators.compaction import latest_state_agg

    cutoff = 1705276800000000  # 2024-01-15T00:00:00Z in epoch µs
    ev = (
        load_table(spark, "events", sf_dir)
        .withColumn("ts_us", F.unix_micros("ts"))
        .filter(F.col("ts_us") <= cutoff)
    )
    return latest_state_agg(
        ev,
        key_cols=["user_id"],
        order_cols=["ts_us", "event_id"],
        value_cols=["event_id", "event_type", "value", "ts_us"],
    )


@query(
    "snapshot_part",
    oracle="""
    SELECT CAST(p_partkey AS VARCHAR) AS external_id,
           'part' AS table_name,
           'SNAPSHOT' AS statement,
           CAST(to_json(struct_pack(
             p_partkey := p_partkey, p_name := p_name, p_brand := p_brand,
             p_type := p_type, p_size := p_size)) AS VARCHAR) AS data
    FROM part
    """,
)
def snapshot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O4 snapshot scan: every row wrapped as a SNAPSHOT event
    (sql/triggers.sql:49-75). Deterministic subset of the envelope
    (uuid/created_at/id are generated, so excluded from the oracle
    check; covered by unit tests instead). Narrow map-only plan — scan
    → project, no shuffle, JSON build inside codegen.
    """
    from pg2kafka_spark.operators.snapshot import snapshot_events

    part = load_table(spark, "part", sf_dir)
    cols = ["p_partkey", "p_name", "p_brand", "p_type", "p_size"]
    return snapshot_events(part.select(*cols), "part", "p_partkey").select(
        "external_id", "table_name", "statement", "data"
    )


@query(
    "update_diff_events",
    oracle="""
    SELECT user_id, event_id, changed_event_type, changed_value FROM (
      SELECT user_id, event_id,
             CASE WHEN event_type IS DISTINCT FROM prev_type
                  THEN event_type END AS changed_event_type,
             CASE WHEN value IS DISTINCT FROM prev_value
                  THEN value END AS changed_value
      FROM (
        SELECT user_id, event_id, event_type, value,
               lag(event_id) OVER w AS prev_id,
               lag(event_type) OVER w AS prev_type,
               lag(value) OVER w AS prev_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
      ) WHERE prev_id IS NOT NULL
    ) WHERE changed_event_type IS NOT NULL OR changed_value IS NOT NULL
    """,
)
def update_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5/O6 relational flavor: changed-columns-only diff between
    successive per-key row versions (sql/triggers.sql:23-37), emitted
    as typed nullable columns; rows where nothing changed are
    suppressed. One shuffle (window by user_id).
    """
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    staged = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.lag("event_id").over(w).alias("prev_id"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("value").over(w).alias("prev_value"),
    ).filter(F.col("prev_id").isNotNull())
    diffed = staged.select(
        "user_id",
        "event_id",
        F.when(~F.col("event_type").eqNullSafe(F.col("prev_type")), F.col("event_type")).alias(
            "changed_event_type"
        ),
        F.when(~F.col("value").eqNullSafe(F.col("prev_value")), F.col("value")).alias(
            "changed_value"
        ),
    )
    return diffed.filter(
        F.col("changed_event_type").isNotNull() | F.col("changed_value").isNotNull()
    )


@query(
    "update_diff_json",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, event_type, value, props,
             lag(event_id) OVER win AS prev_id,
             lag(event_type) OVER win AS prev_type,
             lag(value) OVER win AS prev_value,
             lag(props) OVER win AS prev_props
      FROM events WINDOW win AS (PARTITION BY user_id ORDER BY event_id)
    ),
    d AS (
      SELECT user_id, event_id,
        '{' || concat_ws(',',
          CASE WHEN event_type IS NOT DISTINCT FROM prev_type THEN NULL
               ELSE '"event_type":' || CAST(to_json(event_type) AS VARCHAR) END,
          CASE WHEN props IS NOT DISTINCT FROM prev_props THEN NULL
               ELSE '"props":' || CAST(to_json(props) AS VARCHAR) END
        ) || '}' AS diff
      FROM w WHERE prev_id IS NOT NULL
    )
    SELECT user_id, event_id, diff FROM d WHERE diff <> '{}'
    """,
)
def update_diff_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5/O6 in wire form: the changed-columns-only JSON payload the
    trigger emits (sql/triggers.sql:23-37), built from consecutive
    per-key row versions with the fragment-concat machinery in
    ``operators/diff.py``, empty diffs suppressed. String columns
    only in the oracle-checked payload (double→JSON formatting is not
    engine-portable; numeric diffs are covered typed by
    ``update_diff_events`` and fuzz-tested in unit tests)."""
    from pg2kafka_spark.operators.diff import changed_columns_json

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    staged = ev.select(
        "user_id",
        "event_id",
        F.struct(
            F.lag("event_type").over(w).alias("event_type"),
            F.lag("props").over(w).alias("props"),
        ).alias("__old"),
        F.struct(F.col("event_type"), F.col("props")).alias("__new"),
        F.lag("event_id").over(w).alias("prev_id"),
    ).filter(F.col("prev_id").isNotNull())
    diffed = staged.select(
        "user_id",
        "event_id",
        changed_columns_json(
            F.col("__old"), F.col("__new"), ["event_type", "props"]
        ).alias("diff"),
    )
    return diffed.filter(F.col("diff") != "{}")


@query(
    "unprocessed_page",
    oracle=f"""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_type <> 'error'
    ORDER BY event_id ASC
    LIMIT {PAGE_SIZE}
    """,
)
def unprocessed_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 ordered paginated scan: predicate + commit-order sort +
    LIMIT 1000 (eventqueue/event_queue.go:15-21). Spark plans this as
    TakeOrderedAndProject — per-partition bounded heaps, no global
    sort; the predicate pushes down to the parquet scan.
    """
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.filter(F.col("event_type") != "error")
        .orderBy(F.col("event_id").asc())
        .limit(PAGE_SIZE)
        .select("event_id", "user_id", "event_type", "value")
    )


@query(
    "unprocessed_pages_count",
    oracle=f"""
    SELECT count(*) AS cnt,
           CAST(ceil(count(*) / {PAGE_SIZE}.0) AS BIGINT) AS pages
    FROM events
    WHERE event_type <> 'error'
    """,
)
def unprocessed_pages_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13 count + page math (eventqueue/event_queue.go:29-33,115-116).
    Partial count per partition, single-row exchange."""
    ev = load_table(spark, "events", sf_dir)
    return ev.filter(F.col("event_type") != "error").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.ceil(F.count(F.lit(1)) / F.lit(float(PAGE_SIZE))).cast("bigint").alias("pages"),
    )


@query(
    "queue_lag_stats",
    oracle="""
    WITH u AS (
      SELECT epoch_us(ts) AS ts_us FROM events WHERE event_type <> 'error'
    ),
    now AS (SELECT max(epoch_us(ts)) AS now_us FROM events)
    SELECT CAST(count(*) AS BIGINT) AS n_unprocessed,
           CAST(max(now_us - ts_us) AS BIGINT) AS oldest_age_us,
           round(quantile_cont(now_us - ts_us, 0.5), 4) AS p50_age_us,
           round(quantile_cont(now_us - ts_us, 0.95), 4) AS p95_age_us
    FROM u CROSS JOIN now
    """,
)
def queue_lag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outbox LAG monitoring (r15) — the ops view next to O13's page
    math: how deep is the unprocessed queue and how OLD is it
    (count, oldest age, exact p50/p95 age in µs against the newest
    event as the now-proxy). The reference's drain loop only logs the
    count (main.go:106-115); a production relay alerts on AGE —
    depth can be steady while latency explodes. One pass over the
    unprocessed slice (predicate pushed to the scan) + a 1-row
    max-ts broadcast; exact percentile is the sf-scale spelling —
    at 100 TB switch to ``approx_percentile`` (the
    ``user_value_sketches`` trade, documented there)."""
    ev = load_table(spark, "events", sf_dir)
    now = ev.agg(F.max(F.unix_micros("ts")).alias("now_us"))
    u = ev.filter(F.col("event_type") != "error").select(
        F.unix_micros("ts").alias("ts_us")
    )
    return u.crossJoin(F.broadcast(now)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unprocessed"),
        F.max(F.col("now_us") - F.col("ts_us"))
        .cast("bigint")
        .alias("oldest_age_us"),
        F.round(F.expr("percentile(now_us - ts_us, 0.5)"), 4).alias(
            "p50_age_us"
        ),
        F.round(F.expr("percentile(now_us - ts_us, 0.95)"), 4).alias(
            "p95_age_us"
        ),
    )


@query("queue_lag_stats_approx")
def queue_lag_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PB-scale twin of ``queue_lag_stats`` (r16, the
    ``orders_table_profile_approx`` precedent): Greenwald-Khanna
    ``approx_percentile`` (accuracy 10000 ≈ 0.01% rank error)
    replaces the exact percentile, whose single-reduce collects every
    age value — the GK sketch partial-aggregates map-side, so the
    shuffle carries O(sketch) bytes per partition instead of the
    column. Rows-only by design (a GK estimate is engine-specific);
    the exact twin IS the oracle evidence, and
    tests/test_cdc_semantics.py pins every non-sketch column equal to
    it and both percentiles within rank tolerance."""
    ev = load_table(spark, "events", sf_dir)
    now = ev.agg(F.max(F.unix_micros("ts")).alias("now_us"))
    u = ev.filter(F.col("event_type") != "error").select(
        F.unix_micros("ts").alias("ts_us")
    )
    return u.crossJoin(F.broadcast(now)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unprocessed"),
        F.max(F.col("now_us") - F.col("ts_us"))
        .cast("bigint")
        .alias("oldest_age_us"),
        F.expr("approx_percentile(now_us - ts_us, 0.5, 10000)")
        .cast("double")
        .alias("p50_age_us"),
        F.expr("approx_percentile(now_us - ts_us, 0.95, 10000)")
        .cast("double")
        .alias("p95_age_us"),
    )


@query(
    "wire_encode_nation",
    oracle="""
    SELECT CAST(n_nationkey AS VARCHAR) AS key,
           'pg2kafka.staging.testdb.nation' AS topic,
           '{"external_id":"' || n_nationkey
             || '","statement":"SNAPSHOT","data":'
             || CAST(to_json(struct_pack(
                  n_nationkey := n_nationkey, n_name := n_name,
                  n_regionkey := n_regionkey)) AS VARCHAR)
             || '}' AS value
    FROM nation
    """,
)
def wire_encode_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15+O16+O17 sink shape: the Kafka message projection —
    ``key`` = external id, per-row ``topic``, ``value`` = wire JSON
    with the row payload spliced in raw (never re-parsed). The
    deterministic envelope subset only (uuid/created_at are generated
    at capture; their wire formatting is covered by streaming tests).
    Map-only: encode runs inside codegen next to the scan.
    """
    nation = load_table(spark, "nation", sf_dir)
    payload = F.to_json(
        F.struct("n_nationkey", "n_name", "n_regionkey"),
        {"ignoreNullFields": "false"},
    )
    return nation.select(
        F.col("n_nationkey").cast("string").alias("key"),
        F.concat_ws(
            ".", F.lit("pg2kafka"), F.lit("staging.testdb"), F.lit("nation")
        ).alias("topic"),
        F.concat(
            F.lit('{"external_id":"'),
            F.col("n_nationkey").cast("string"),
            F.lit('","statement":"SNAPSHOT","data":'),
            payload,
            F.lit("}"),
        ).alias("value"),
    )


@query(
    "wire_roundtrip_nation",
    oracle="""
    SELECT CAST(n_nationkey AS VARCHAR) AS external_id,
           'SNAPSHOT' AS statement,
           n_nationkey, n_name, n_regionkey
    FROM nation
    """,
)
def wire_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15 INVERTED (r15): encode the snapshot to the wire, then
    decode it with the CONSUMER-side parser
    (operators/wire.from_wire) and emit the recovered envelope +
    typed row. The oracle is the SOURCE table — hash-matching proves
    decode∘encode is the identity, i.e. a consumer written against
    ``from_wire`` reads exactly what the tracked table held. Both
    halves are codegen projections over one scan; nothing shuffles."""
    from pg2kafka_spark.operators.wire import from_wire

    decoded = from_wire(
        wire_encode_nation(spark, sf_dir),
        "n_nationkey int, n_name string, n_regionkey int",
    )
    return decoded.select(
        "external_id",
        "statement",
        F.col("data.n_nationkey").alias("n_nationkey"),
        F.col("data.n_name").alias("n_name"),
        F.col("data.n_regionkey").alias("n_regionkey"),
    )


@query(
    "wire_rescued_keys",
    oracle="""
    WITH wire AS (
      SELECT CAST(n_nationkey AS VARCHAR) AS external_id,
             CAST(to_json(struct_pack(
               n_nationkey := n_nationkey, n_name := n_name,
               n_regionkey := n_regionkey,
               n_name_lc := lower(n_name),
               n_key_sq := n_nationkey * n_nationkey)) AS VARCHAR) AS data
      FROM nation
    ), ks AS (
      SELECT external_id, data, unnest(json_keys(data)) AS k FROM wire
    )
    SELECT external_id, k AS rescued_key,
           json_extract_string(data, '$.' || k) AS rescued_value
    FROM ks
    WHERE k NOT IN ('n_nationkey', 'n_name', 'n_regionkey')
    """,
)
def wire_rescued_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15 SCHEMA DRIFT (r16): a drifted producer — upstream added
    two columns the consumer's pinned schema doesn't know — encoded
    to the wire, decoded with ``from_wire(rescue=True)``, and the
    RESCUED key/value pairs emitted one row each. The reference
    forwards added columns unasked (schemaless jsonb row_to_json,
    sql/triggers.sql:21-29, README.md:75-90); a pinned from_json
    would silently drop them, so the rescued map is what makes the
    drift observable downstream. The oracle re-derives the rescued
    set independently in DuckDB JSON functions: build the same
    payload, ``json_keys`` minus the pinned names, raw-text values
    via ``json_extract_string`` — hash-matching proves the rescue
    path recovers exactly the unknown keys with their values intact
    (string AND numeric). Map-only both halves: encode, two
    JacksonParser passes, one explode — no shuffle."""
    from pg2kafka_spark.operators.wire import from_wire

    nation = load_table(spark, "nation", sf_dir)
    payload = F.to_json(
        F.struct(
            "n_nationkey",
            "n_name",
            "n_regionkey",
            F.lower("n_name").alias("n_name_lc"),
            (F.col("n_nationkey") * F.col("n_nationkey")).alias("n_key_sq"),
        ),
        {"ignoreNullFields": "false"},
    )
    drifted = nation.select(
        F.concat(
            F.lit('{"external_id":"'),
            F.col("n_nationkey").cast("string"),
            F.lit('","statement":"SNAPSHOT","data":'),
            payload,
            F.lit("}"),
        ).alias("value")
    )
    decoded = from_wire(
        drifted, "n_nationkey int, n_name string, n_regionkey int", rescue=True
    )
    return decoded.select(
        "external_id",
        F.explode("rescued").alias("rescued_key", "rescued_value"),
    )


@query(
    "topic_routing",
    oracle="""
    SELECT DISTINCT
      'pg2kafka.' || 'staging.testdb' || '.' || event_type AS topic
    FROM events
    """,
)
def topic_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16 topic naming ``pg2kafka.$namespace.$table``
    (main.go:203-222) over the distinct "tables" in the feed (here:
    event types stand in for table names). Distinct = partial-dedup
    map-side, tiny shuffle.
    """
    from pg2kafka_spark.operators.wire import topic_column

    ev = load_table(spark, "events", sf_dir)
    return (
        ev.select(F.col("event_type").alias("table_name"))
        .select(topic_column("testdb", "staging").alias("topic"))
        .distinct()
    )


@query(
    "event_asof_order",
    oracle="""
    WITH stream AS (
      SELECT user_id AS k, epoch_us(ts) AS t, 1 AS is_left,
             event_id, CAST(NULL AS BIGINT) AS o_orderkey,
             CAST(NULL AS DOUBLE) AS o_totalprice
      FROM events
      UNION ALL
      SELECT o_custkey, epoch_us(o_orderdate), 0, NULL,
             o_orderkey, o_totalprice
      FROM orders
    )
    SELECT event_id, k AS user_id, t AS ts_us,
           asof_orderkey, round(asof_totalprice, 4) AS asof_totalprice
    FROM (
      SELECT *,
             last_value(o_orderkey IGNORE NULLS) OVER win AS asof_orderkey,
             last_value(o_totalprice IGNORE NULLS) OVER win AS asof_totalprice
      FROM stream
      WINDOW win AS (PARTITION BY k ORDER BY t, is_left, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ) WHERE is_left = 1
    """,
)
def event_asof_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks up the user's most recent order at
    event time (NULLs when none yet) — the canonical "enrich the change
    feed with dimension state as of the change" CDC-consumer query.
    Union-trick formulation (operators/temporal.py): one shuffle on the
    key, no join node; ties broken on o_orderkey so the result is
    hash-deterministic.
    """
    from pg2kafka_spark.operators.temporal import asof_join

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    od = load_table(spark, "orders", sf_dir).select(
        "o_custkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_us"),
        "o_orderkey",
        "o_totalprice",
    )
    res = asof_join(
        ev,
        od,
        key_cols=[("user_id", "o_custkey")],
        left_ts="ts_us",
        right_ts="o_us",
        right_cols=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
    )
    return res.select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("asof_o_orderkey").alias("asof_orderkey"),
        F.round("asof_o_totalprice", 4).alias("asof_totalprice"),
    )


@query(
    "order_event_attribution",
    oracle="""
    SELECT o.o_orderkey,
           count(e.event_id) AS n_events,
           round(coalesce(sum(e.value), 0), 4) AS attributed_value
    FROM orders o
    LEFT JOIN events e
      ON e.user_id = o.o_custkey
     AND epoch_us(e.ts) >= epoch_us(o.o_orderdate)
     AND epoch_us(e.ts) < epoch_us(o.o_orderdate) + 604800000000
    GROUP BY o.o_orderkey
    """,
)
def order_event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: events attributed to the same user's order
    within 7 days of order date. Bucketed-interval formulation
    (operators/temporal.py) — the naive predicate would plan as a
    broadcast-nested-loop theta join, O(|orders|x|events|); bucketing
    makes it an equi-join on (key, week-bucket) + residual filter,
    linear at 100 TB.
    """
    from pg2kafka_spark.operators.temporal import interval_join

    week_us = 7 * 86400 * 1_000_000
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "value"
    )
    od = load_table(spark, "orders", sf_dir).select(
        "o_custkey",
        "o_orderkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("start_us"),
        (F.unix_micros(F.col("o_orderdate").cast("timestamp")) + week_us).alias("end_us"),
    )
    hits = interval_join(
        ev,
        od,
        key_cols=[("user_id", "o_custkey")],
        point_ts="ts_us",
        start_ts="start_us",
        end_ts="end_us",
        bucket=week_us,
    )
    per_order = hits.groupBy("o_orderkey").agg(
        F.count("event_id").alias("n_events"),
        F.sum("value").alias("raw_value"),
    )
    return (
        load_table(spark, "orders", sf_dir)
        .select("o_orderkey")
        .join(per_order, "o_orderkey", "left")
        .select(
            "o_orderkey",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.round(F.coalesce("raw_value", F.lit(0.0)), 4).alias("attributed_value"),
        )
    )


@query(
    "replayed_state_from_diffs",
    oracle="""
    SELECT user_id,
           max_by(event_type, event_id) AS event_type,
           max_by(props, event_id) AS props
    FROM events
    GROUP BY user_id
    """,
)
def replayed_state_from_diffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC roundtrip: each user's event history is re-encoded as
    a pg2kafka feed — first version a full-row INSERT, later versions
    changed-columns-only UPDATE JSON (sql/triggers.sql:20-37), no-ops
    suppressed — then folded back to current state with
    ``operators/compaction.apply_change_feed``. The oracle computes
    final state directly from the raw table, so a hash match proves
    diff encode → wire JSON → parse → ordered fold is lossless.
    """
    from pg2kafka_spark.operators.compaction import apply_change_feed
    from pg2kafka_spark.operators.diff import changed_columns_json

    cols = ["event_type", "props"]
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    staged = ev.select(
        "user_id",
        "event_id",
        F.struct(
            F.lag("event_type").over(w).alias("event_type"),
            F.lag("props").over(w).alias("props"),
        ).alias("__old"),
        F.struct("event_type", "props").alias("__new"),
        F.lag("event_id").over(w).alias("prev_id"),
    )
    inserts = staged.filter(F.col("prev_id").isNull()).select(
        "user_id",
        "event_id",
        F.lit("INSERT").alias("statement"),
        F.to_json(F.col("__new")).alias("payload"),
    )
    updates = (
        staged.filter(F.col("prev_id").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.lit("UPDATE").alias("statement"),
            changed_columns_json(F.col("__old"), F.col("__new"), cols).alias("payload"),
        )
        .filter(F.col("payload") != "{}")
    )
    feed = inserts.unionByName(updates)
    return apply_change_feed(
        feed,
        key_cols=["user_id"],
        version_col="event_id",
        payload_col="payload",
        columns=cols,
    )


@query(
    "scd2_user_history",
    oracle="""
    SELECT user_id, event_id, event_type, value,
           epoch_us(ts) AS valid_from,
           lead(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS valid_to,
           CAST(row_number() OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS BIGINT) AS version,
           lead(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) IS NULL AS is_current
    FROM events
    """,
)
def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 materialization of the change feed: per-user
    version rows with [valid_from, valid_to) micro-second intervals,
    1-based version numbers, and an is_current flag — the warehouse
    table that answers EVERY as-of question with a range predicate
    (``state_asof`` is its single-point specialization). See
    ``operators/compaction.scd2_history``."""
    from pg2kafka_spark.operators.compaction import scd2_history

    ev = load_table(spark, "events", sf_dir).withColumn(
        "ts_us", F.unix_micros("ts")
    )
    return scd2_history(
        ev,
        key_cols=["user_id"],
        ts_col="ts_us",
        tiebreak_col="event_id",
        value_cols=["event_id", "event_type", "value"],
    ).select(
        "user_id", "event_id", "event_type", "value",
        "valid_from", "valid_to", "version", "is_current",
    )
