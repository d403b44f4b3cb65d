"""CDC-consumer core queries — SURVEY §2 O1-O16 analogs on the
events table (see qreg docstring for determinism rules)."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from pg2kafka_spark.catalog import load_table
from pg2kafka_spark.event import STMT_INSERT, STMT_UPDATE
from pg2kafka_spark.qreg import query

PAGE_SIZE = 1000  # reference's hard-coded LIMIT (eventqueue/event_queue.go:20)


def _versions(ev: DataFrame, cols: list[str]) -> DataFrame:
    """Each user's successive ``events`` rows (by ``event_id``) as
    ``capture_changes`` input: the first version is an INSERT, every
    later one an UPDATE whose ``before`` image is the previous version
    and whose ``after`` image is the current one. Both images carry
    ``user_id`` (the key) and ``cols``."""
    w = Window.partitionBy("user_id").orderBy("event_id")
    row = F.struct("user_id", *cols)
    before = F.lag(row).over(w)
    op = F.when(before.isNull(), STMT_INSERT).otherwise(STMT_UPDATE)
    return ev.select(
        "user_id", "event_id", op.alias("op"), before.alias("before"), row.alias("after")
    )


def _captured_versions(ev: DataFrame, cols: list[str]) -> DataFrame:
    """The outbox events the trigger emits for ``_versions(ev, cols)``
    (``capture_changes``: full-row INSERT, changed-columns-only UPDATE,
    no-op UPDATEs dropped), keyed back to ``user_id`` and ``event_id``."""
    from pg2kafka_spark.operators.diff import capture_changes

    feed = capture_changes(
        _versions(ev, cols), "events", "user_id", cols, id_column=F.col("event_id")
    )
    user_id = F.col("external_id").cast(ev.schema["user_id"].dataType)
    return feed.select(user_id.alias("user_id"), F.col("id").alias("event_id"), "statement", "data")


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
    as typed nullable columns over the UPDATE rows of ``_versions``;
    rows where nothing changed are suppressed. One shuffle (window by
    user_id).
    """
    updates = _versions(load_table(spark, "events", sf_dir), ["event_type", "value"])

    def changed(c: str) -> Column:
        new = F.col("after").getField(c)
        return F.when(~new.eqNullSafe(F.col("before").getField(c)), new)

    diffed = updates.filter(F.col("op") == STMT_UPDATE).select(
        "user_id",
        "event_id",
        changed("event_type").alias("changed_event_type"),
        changed("value").alias("changed_value"),
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
    trigger emits (sql/triggers.sql:23-37) — the UPDATE rows of
    ``capture_changes`` over consecutive per-key row versions, so its
    no-op suppression (``suppress_noops``) drops the empty diffs.
    String columns only in the oracle-checked payload (double→JSON
    formatting is not engine-portable; numeric diffs are covered typed
    by ``update_diff_events`` and fuzz-tested in unit tests)."""
    feed = _captured_versions(load_table(spark, "events", sf_dir), ["event_type", "props"])
    return feed.filter(F.col("statement") == STMT_UPDATE).select(
        "user_id", "event_id", F.col("data").alias("diff")
    )


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
    return _queue_lag(spark, sf_dir, lambda age, q: F.round(F.percentile(age, q), 4))


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
    return _queue_lag(
        spark, sf_dir, lambda age, q: F.percentile_approx(age, q, 10000).cast("double")
    )


def _queue_lag(
    spark: SparkSession, sf_dir: str, percentile: Callable[[Column, float], Column]
) -> DataFrame:
    """The ``queue_lag_stats`` row with ``percentile(age, q)`` as the
    p50/p95 estimator: count and oldest age of the unprocessed events,
    ages against the newest event as the now-proxy."""
    ev = load_table(spark, "events", sf_dir)
    now = ev.agg(F.max(F.unix_micros("ts")).alias("now_us"))
    u = ev.filter(F.col("event_type") != "error").select(
        F.unix_micros("ts").alias("ts_us")
    )
    age = F.col("now_us") - F.col("ts_us")
    return u.crossJoin(F.broadcast(now)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unprocessed"),
        F.max(age).cast("bigint").alias("oldest_age_us"),
        percentile(age, 0.5).alias("p50_age_us"),
        percentile(age, 0.95).alias("p95_age_us"),
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
    """O15+O16+O17 sink shape: the Kafka message projection of the
    nation table's SNAPSHOT events (``_snapshot_wire``), the row
    payload spliced in raw (never re-parsed). Map-only: encode runs
    inside codegen next to the scan."""
    return _snapshot_wire(load_table(spark, "nation", sf_dir))


def _snapshot_wire(nation: DataFrame) -> DataFrame:
    """``snapshot_events`` of ``nation`` (keyed on ``n_nationkey``) as
    sink rows: ``key``, ``topic`` from ``wire.topic_column`` (database
    ``testdb``, namespace ``staging``) and a ``value`` of
    ``external_id``, ``statement`` and the raw ``data`` payload. It is
    only the deterministic subset of the wire value: ``uuid`` and
    ``created_at`` are generated at capture, so no oracle can check
    them (streaming tests cover their wire formatting)."""
    from pg2kafka_spark.operators.snapshot import snapshot_events
    from pg2kafka_spark.operators.wire import topic_column

    events = snapshot_events(nation, "nation", "n_nationkey")
    return events.select(
        F.col("external_id").alias("key"),
        topic_column("testdb", "staging").alias("topic"),
        F.concat(
            F.lit('{"external_id":"'), "external_id", F.lit('","statement":"'), "statement",
            F.lit('","data":'), "data", F.lit("}"),
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
    to the wire (``_snapshot_wire``), decoded with
    ``from_wire(rescue=True)``, and the
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
    drifted = _snapshot_wire(
        nation.select(
            "n_nationkey",
            "n_name",
            "n_regionkey",
            F.lower("n_name").alias("n_name_lc"),
            (F.col("n_nationkey") * F.col("n_nationkey")).alias("n_key_sq"),
        )
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
    """Full CDC roundtrip through the relay's own operators: each
    user's event history is captured with ``capture_changes`` — first
    version a full-row INSERT, later versions changed-columns-only
    UPDATE JSON (sql/triggers.sql:20-37), no-ops suppressed — then
    folded back to current state with
    ``operators/compaction.apply_change_feed``. The oracle computes
    final state directly from the raw table, so a hash match proves
    capture → payload JSON → parse → ordered fold is lossless.
    """
    from pg2kafka_spark.operators.compaction import apply_change_feed

    cols = ["event_type", "props"]
    return apply_change_feed(
        _captured_versions(load_table(spark, "events", sf_dir), cols),
        key_cols=["user_id"],
        version_col="event_id",
        payload_col="data",
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
