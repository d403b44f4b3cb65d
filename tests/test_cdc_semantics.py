"""CDC-semantics unit tests mirroring the reference's SQL integration
tests (sql/sql_test.go) and relay e2e tests (main_test.go) —
SURVEY.md §5 layer 2/3 translated to in-memory DataFrames.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from pg2kafka_spark.event import EVENT_COLUMNS
from pg2kafka_spark.operators.diff import capture_changes, suppress_noops
from pg2kafka_spark.operators.snapshot import snapshot_events
from pg2kafka_spark.operators.wire import parse_topic_namespace, to_wire, topic_name
from pg2kafka_spark.registry import Registry


# --- snapshot semantics (sql/sql_test.go:183-223) -------------------------


def test_snapshot_products(spark):
    """3 rows incl. NULL key and NULL attribute → 3 SNAPSHOT events,
    keys duff-1/duff-2/NULL, nulls preserved in payload."""
    products = spark.createDataFrame(
        [("duff-1", "Duffs Beer"), ("duff-2", None), (None, "Duff Dry")],
        "uid string, name string",
    )
    ev = snapshot_events(products, "products", "uid").orderBy("id").collect()
    assert [r.statement for r in ev] == ["SNAPSHOT"] * 3
    assert [r.external_id for r in ev] == ["duff-1", "duff-2", None]
    assert [r.table_name for r in ev] == ["products"] * 3
    payloads = [json.loads(r.data) for r in ev]
    assert payloads[0] == {"uid": "duff-1", "name": "Duffs Beer"}
    assert payloads[1] == {"uid": "duff-2", "name": None}  # null preserved
    assert payloads[2] == {"uid": None, "name": "Duff Dry"}
    assert list(ev[0].asDict()) == list(EVENT_COLUMNS)
    assert all(not r.processed for r in ev)
    assert all(r.uuid for r in ev)


def test_snapshot_no_key_column(spark):
    """Untracked key → all external_ids NULL (unkeyed messages)."""
    df = spark.createDataFrame([("a",), ("b",)], "x string")
    ev = snapshot_events(df, "t", None).collect()
    assert [r.external_id for r in ev] == [None, None]


# --- trigger/diff semantics (sql/sql_test.go:56-181) ----------------------


USERS_SCHEMA = (
    "op string, "
    "before struct<uuid string, name string, email string, properties map<string,string>, data string>, "
    "after struct<uuid string, name string, email string, properties map<string,string>, data string>"
)
USERS_COLS = ["uuid", "name", "email", "properties", "data"]


def _capture(spark, rows):
    df = spark.createDataFrame(rows, USERS_SCHEMA)
    return capture_changes(df, "users", "uuid", USERS_COLS)


def test_insert_captures_full_row_with_nulls(spark):
    """INSERT → full row; NULL email preserved as JSON null
    (sql/sql_test.go:56-110)."""
    ev = _capture(
        spark,
        [("INSERT", None, ("u1", "niels", None, {"a": "1"}, '{"foo":"bar"}'))],
    ).collect()
    assert len(ev) == 1
    assert ev[0].statement == "INSERT"
    assert ev[0].external_id == "u1"
    payload = json.loads(ev[0].data)
    assert payload == {
        "uuid": "u1",
        "name": "niels",
        "email": None,
        "properties": {"a": "1"},
        "data": '{"foo":"bar"}',
    }


def test_update_diff_only_changed_columns(spark):
    """UPDATE → only changed columns, with full NEW values
    (sql/sql_test.go:112-144)."""
    before = ("u1", "jurre", "jurre@blendle.com", {"a": "1"}, "{}")
    after = ("u1", "jurre", "other@blendle.com", {"a": "1"}, "{}")
    ev = _capture(spark, [("UPDATE", before, after)]).collect()
    assert len(ev) == 1
    assert json.loads(ev[0].data) == {"email": "other@blendle.com"}


def test_update_to_null_appears_in_diff(spark):
    """Update-to-NULL must emit ``"email": null``
    (sql/sql_test.go:112-144, TODO.md:1)."""
    before = ("u1", "jurre", "jurre@blendle.com", None, None)
    after = ("u1", "jurre", None, None, None)
    ev = _capture(spark, [("UPDATE", before, after)]).collect()
    data = ev[0].data
    assert json.loads(data) == {"email": None}
    assert '"email":null' in data


def test_update_diff_inside_nested_types(spark):
    """hstore/jsonb-analog columns diff as whole values when any nested
    entry changes (sql/sql_test.go:146-181)."""
    before = ("u1", "x", "e", {"a": "1"}, '{"foo":"bar","baz":1}')
    after = ("u1", "x", "e", {"a": "2", "b": "2"}, '{"foo":"baz","baz":1}')
    ev = _capture(spark, [("UPDATE", before, after)]).collect()
    payload = json.loads(ev[0].data)
    assert payload == {
        "properties": {"a": "2", "b": "2"},
        "data": '{"foo":"baz","baz":1}',
    }


def test_map_key_order_is_not_a_change(spark):
    """Structural map equality: same entries, different order → no-op."""
    before = ("u1", "x", "e", {"a": "1", "b": "2"}, None)
    after = ("u1", "x", "e", {"b": "2", "a": "1"}, None)
    ev = _capture(spark, [("UPDATE", before, after)]).collect()
    assert ev == []  # suppressed as no-op


def test_noop_update_suppressed(spark):
    """Identical before/after → event never enqueued
    (sql/triggers.sql:34-37)."""
    row = ("u1", "x", "e", {"a": "1"}, "{}")
    ev = _capture(spark, [("UPDATE", row, row)]).collect()
    assert ev == []


def test_delete_empty_payload_key_from_old(spark):
    """DELETE → ``{}`` payload, key extracted from OLD
    (sql/triggers.sql:14-18,30-32)."""
    ev = _capture(
        spark, [("DELETE", ("u9", "gone", "g", None, None), None)]
    ).collect()
    assert len(ev) == 1
    assert ev[0].statement == "DELETE"
    assert ev[0].data == "{}"
    assert ev[0].external_id == "u9"


def test_suppress_noops_keeps_non_update_empty(spark):
    """Only UPDATE-with-empty-diff is dropped — DELETE's ``{}`` stays."""
    df = spark.createDataFrame(
        [("DELETE", "{}"), ("UPDATE", "{}"), ("UPDATE", '{"a":1}')],
        "statement string, data string",
    )
    left = suppress_noops(df).collect()
    assert sorted((r.statement, r.data) for r in left) == [
        ("DELETE", "{}"),
        ("UPDATE", '{"a":1}'),
    ]


# --- registry semantics (sql/triggers.sql:77-113) -------------------------


def test_registry_idempotent_setup_warns():
    reg = Registry()
    assert reg.register("users", "uuid") is True
    with pytest.warns(UserWarning, match="already registered"):
        assert reg.register("users", "email") is False
    assert reg.key_column("users") == "uuid"
    assert reg.key_column("unknown") is None


# --- wire format + topic routing (main.go:140-222, main_test.go) ----------


def test_topic_namespace_parsing():
    """Table-driven cases from main_test.go:157-176."""
    assert parse_topic_namespace("dbname") == "dbname"
    assert parse_topic_namespace("dbname", "staging") == "staging.dbname"
    assert topic_name("users", "mydb") == "pg2kafka.mydb.users"
    assert topic_name("users", "mydb", "ns") == "pg2kafka.ns.mydb.users"


def test_wire_shape_and_null_key(spark):
    """Wire JSON carries exactly uuid/external_id/statement/created_at/
    data; NULL external_id → NULL Kafka key but JSON null field
    (main_test.go:63-100, eventqueue/event_queue.go:157-164)."""
    products = spark.createDataFrame(
        [("duff-1", "Duffs Beer"), (None, "Duff Dry")], "uid string, name string"
    )
    ev = snapshot_events(products, "products", "uid")
    wire = to_wire(ev, "mydb").orderBy(F.col("key").asc_nulls_last()).collect()
    assert wire[0].key == "duff-1"
    assert wire[1].key is None
    for w in wire:
        payload = json.loads(w.value)
        assert sorted(payload) == sorted(
            ["uuid", "external_id", "statement", "created_at", "data"]
        )
        assert w.topic == "pg2kafka.mydb.products"
    assert json.loads(wire[1].value)["external_id"] is None
    # data is the nested row object, spliced raw (not double-encoded)
    assert json.loads(wire[0].value)["data"]["name"] == "Duffs Beer"
    # created_at header present on every message, matching the payload
    for w in wire:
        hdrs = {h.key: bytes(h.value).decode() for h in w.headers}
        assert hdrs == {"created_at": json.loads(w.value)["created_at"]}


def test_wire_bytes_golden(spark):
    """Exact ``value`` and ``headers`` bytes of three messages: a
    non-ASCII key (multi-byte UTF-8, a 4-byte emoji), a NULL key and a
    non-ASCII payload. Any change to how the value is spliced shows
    here as a string difference, not only as a JSON-level one."""
    events = spark.createDataFrame(
        [
            ("00000000-0000-0000-0000-000000000001", "clé-ü-😀", "INSERT", '{"name":"plain"}'),
            ("00000000-0000-0000-0000-000000000002", None, "DELETE", "{}"),
            ("00000000-0000-0000-0000-000000000003", "k-3", "UPDATE", '{"name":"Grüße, 東京 😀"}'),
        ],
        "uuid string, external_id string, statement string, data string",
    ).select(
        "*",
        F.to_timestamp(F.lit("2018-01-01 12:34:56.789012")).alias("created_at"),
        F.lit("users").alias("table_name"),
    )
    wire = to_wire(events, "mydb").orderBy("value").collect()
    ts = "2018-01-01T12:34:56.789012Z"
    assert [(w.key, w.value) for w in wire] == [
        (
            "clé-ü-😀",
            '{"uuid":"00000000-0000-0000-0000-000000000001","external_id":"clé-ü-😀",'
            f'"statement":"INSERT","created_at":"{ts}","data":{{"name":"plain"}}}}',
        ),
        (
            None,
            '{"uuid":"00000000-0000-0000-0000-000000000002","external_id":null,'
            f'"statement":"DELETE","created_at":"{ts}","data":{{}}}}',
        ),
        (
            "k-3",
            '{"uuid":"00000000-0000-0000-0000-000000000003","external_id":"k-3",'
            f'"statement":"UPDATE","created_at":"{ts}","data":{{"name":"Grüße, 東京 😀"}}}}',
        ),
    ]
    for w in wire:
        assert [(h.key, bytes(h.value)) for h in w.headers] == [
            ("created_at", ts.encode())
        ]


def test_legacy_statement_passes_through_wire_untouched(spark):
    """The reference's own fixtures insert a legacy ``CREATE``
    statement value (main_test.go:43) and the relay produces it
    verbatim — the statement column is an open enum, not validated.
    Pin the same contract: unknown statement values survive the wire
    path untouched (no filter, no rewrite, no error)."""
    events = spark.createDataFrame(
        [
            ("u1", "ext-1", "CREATE", '{"simple": "data"}'),
            ("u2", "ext-2", "SOMETHING_ELSE", "{}"),
        ],
        "uuid string, external_id string, statement string, data string",
    ).withColumn("created_at", F.to_timestamp(F.lit("2018-01-01 00:00:00"))).withColumn(
        "table_name", F.lit("users")
    )
    wire = to_wire(events, "mydb").orderBy("key").collect()
    assert [json.loads(w.value)["statement"] for w in wire] == [
        "CREATE",
        "SOMETHING_ELSE",
    ]
    assert [w.topic for w in wire] == ["pg2kafka.mydb.users"] * 2


def test_compaction_strategies_agree(spark, sf_dir):
    """The window and aggregate formulations of latest-state
    compaction must produce identical rows (same total order per
    key); the agg form is the scale default (map-side partials), the
    window form keeps all columns for free."""
    from pyspark.sql import functions as F

    from pg2kafka_spark.catalog import load_table
    from pg2kafka_spark.operators.compaction import latest_state, latest_state_agg

    ev = load_table(spark, "events", sf_dir).withColumn("ts_us", F.unix_micros("ts"))
    cols = ["user_id", "event_id", "event_type", "value", "ts_us"]
    via_window = latest_state(
        ev.select(*cols), ["user_id"], ["ts_us", "event_id"]
    ).select(*cols)
    via_agg = latest_state_agg(
        ev.select(*cols), ["user_id"], ["ts_us", "event_id"],
        value_cols=["event_id", "event_type", "value", "ts_us"],
    ).select(*cols)
    assert sorted(map(tuple, via_window.collect())) == sorted(
        map(tuple, via_agg.collect())
    )


def test_apply_change_feed_edge_semantics(spark):
    """sql_test.go-style scenarios for the consumer-side fold: explicit
    JSON null = set-to-NULL (distinct from absent = unchanged), DELETE
    drops the key, a later INSERT resurrects it, out-of-order input
    rows fold by version not arrival order."""
    from pg2kafka_spark.operators.compaction import apply_change_feed

    feed = spark.createDataFrame(
        [
            # k1: insert, then update email only, then set name to null
            ("k1", 1, "INSERT", '{"name":"jurre","email":"j@x"}'),
            ("k1", 2, "UPDATE", '{"email":"j@y"}'),
            ("k1", 3, "UPDATE", '{"name":null}'),
            # k2: deleted and stays deleted
            ("k2", 1, "INSERT", '{"name":"niels","email":null}'),
            ("k2", 2, "DELETE", "{}"),
            # k3: deleted then resurrected with a fresh full row
            ("k3", 1, "INSERT", '{"name":"old","email":"a@b"}'),
            ("k3", 2, "DELETE", "{}"),
            ("k3", 3, "INSERT", '{"name":"new","email":null}'),
        ],
        "k string, version long, statement string, payload string",
    # shuffle arrival order: the fold must sort by version, not input order
    ).orderBy(F.expr("hash(k, version)"))

    out = {
        r["k"]: (r["name"], r["email"])
        for r in apply_change_feed(
            feed, ["k"], "version", "payload", ["name", "email"]
        ).collect()
    }
    assert out == {"k1": (None, "j@y"), "k3": ("new", None)}
    assert "k2" not in out


def test_apply_change_feed_never_set_column_stays_null(spark):
    from pg2kafka_spark.operators.compaction import apply_change_feed

    feed = spark.createDataFrame(
        [("k", 1, "INSERT", '{"a":"1"}'), ("k", 2, "UPDATE", '{"a":"2"}')],
        "k string, version long, statement string, payload string",
    )
    row = apply_change_feed(feed, ["k"], "version", "payload", ["a", "b"]).collect()[0]
    assert (row["a"], row["b"]) == ("2", None)


def test_scd2_intervals_tile_each_key_history(spark, sf_dir):
    """Per key: version numbers are 1..n, intervals are adjacent
    (valid_to == next valid_from), exactly one open current row, and
    the open row is the max-timestamp version — the invariants that
    make the table answer any as-of query."""
    from pg2kafka_spark.catalog import load_table
    from pg2kafka_spark.operators.compaction import scd2_history
    from pyspark.sql import functions as F

    ev = load_table(spark, "events", sf_dir).withColumn(
        "ts_us", F.unix_micros("ts")
    )
    rows = scd2_history(
        ev, key_cols=["user_id"], ts_col="ts_us",
        tiebreak_col="event_id", value_cols=["event_id"],
    ).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["user_id"], []).append(r)
    assert len(rows) == ev.count()
    for uid, vs in by_key.items():
        vs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in vs] == list(range(1, len(vs) + 1))
        currents = [r for r in vs if r["is_current"]]
        assert len(currents) == 1 and currents[0] is vs[-1]
        assert vs[-1]["valid_to"] is None
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["valid_from"] <= a["valid_to"]


def test_queue_lag_stats_approx_tracks_exact(spark, sf_dir):
    """The ⊘ PB-scale twin (r16): every non-sketch column EQUAL to
    the exact view; the GK approx percentiles within 1% relative of
    the exact interpolated ones (accuracy 10000 ⇒ ≤0.01% rank error;
    the value gap at sf0.001 measures <0.1%)."""
    from pg2kafka_spark.queries import QUERIES

    exact = QUERIES["queue_lag_stats"](spark, sf_dir).collect()[0]
    approx = QUERIES["queue_lag_stats_approx"](spark, sf_dir).collect()[0]
    assert approx.n_unprocessed == exact.n_unprocessed
    assert approx.oldest_age_us == exact.oldest_age_us
    for col in ("p50_age_us", "p95_age_us"):
        assert abs(approx[col] - exact[col]) <= 0.01 * exact[col], col
