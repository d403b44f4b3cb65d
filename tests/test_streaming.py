"""Structured Streaming relay tests.

Mirrors the reference's e2e relay test strategy (main_test.go: seed
outbox rows, run the drain, assert message count/keys/payloads —
SURVEY.md §5 layer 3) with file-source → availableNow → foreachBatch
relay runs and memory-sink streams, plus parity checks that batch
operators compose unchanged into a stream.
"""

from __future__ import annotations

import json
import uuid as uuidlib
from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row, functions as F

from pg2kafka_spark.event import EVENT_SCHEMA
from pg2kafka_spark.streaming import append_outbox, bootstrap_outbox, read_event_stream, start_relay
from pg2kafka_spark.streaming.relay import append_files

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _event(eid, table, stmt, data, key=None, ts=None, uid=None):
    return Row(
        id=eid,
        uuid=uid or str(uuidlib.uuid4()),
        external_id=key,
        table_name=table,
        statement=stmt,
        data=data,
        created_at=ts or (T0 + timedelta(seconds=eid)),
        processed=False,
    )


def _write_events(spark, rows, path, n_files=1):
    """Publish ``rows`` with their own ids as ``n_files`` files, after
    every file already in ``path``."""
    append_files(spark.createDataFrame(rows, EVENT_SCHEMA).repartition(n_files), path)


@pytest.fixture()
def outbox(tmp_path):
    return str(tmp_path / "outbox")


def _drain_to_memory(spark, outbox, name, transform=None, output_mode=None, page_files=None):
    events = read_event_stream(spark, outbox, max_files_per_trigger=page_files)
    if transform is not None:
        events = transform(events)
    writer = events.writeStream.queryName(name).format("memory").trigger(availableNow=True)
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    q = writer.start()
    q.awaitTermination(120)
    return spark.table(name)


def _relay_batches(spark, outbox, ckpt, page_files=None):
    """The wire rows of each micro-batch one availableNow relay run
    delivers, in delivery order."""
    batches: list[list[Row]] = []
    q = start_relay(
        read_event_stream(spark, outbox, max_files_per_trigger=page_files),
        database="testdb",
        checkpoint_dir=ckpt,
        available_now=True,
        foreach_batch=lambda df, _b: batches.append(df.collect()),
    )
    assert q.awaitTermination(120)
    return batches


def _relay_messages(spark, outbox, ckpt, page_files=None):
    """``(table, key, statement, data)`` of every delivered message."""
    msgs = [(r.topic, r.key, json.loads(r.value))
            for b in _relay_batches(spark, outbox, ckpt, page_files) for r in b]
    return [(t.rsplit(".", 1)[1], k, v["statement"], v["data"]) for t, k, v in msgs]


def test_relay_snapshot_then_changes_to_memory(spark, outbox, tmp_path):
    # O10 bootstrap: snapshot of a 3-row table, one NULL key
    # (sql_test.go:183-223 scenario), then a change batch appended.
    users = spark.createDataFrame(
        [Row(uid="duff-1", name="jurre"), Row(uid="duff-2", name="lee"), Row(uid=None, name="anon")]
    )
    bootstrap_outbox(users, outbox, "users", "uid")
    _write_events(
        spark,
        [
            _event(100, "users", "INSERT", '{"uid": "duff-3", "name": "new"}', key="duff-3"),
            _event(101, "users", "UPDATE", '{"name": "renamed"}', key="duff-1"),
            _event(102, "users", "DELETE", "{}", key="duff-2"),
        ],
        outbox,
    )

    events = read_event_stream(spark, outbox)
    out: list[Row] = []
    q = start_relay(
        events,
        database="testdb",
        topic_namespace="staging",
        query_name="relay_out",
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
        foreach_batch=lambda df, _e: out.extend(df.collect()),
    )
    q.awaitTermination(120)

    assert len(out) == 6  # 3 SNAPSHOT + 3 changes
    assert all(r.topic == "pg2kafka.staging.testdb.users" for r in out)
    by_key = {r.key: r for r in out if r.key is not None}
    assert set(by_key) == {"duff-1", "duff-2", "duff-3"} | {"duff-1", "duff-2"}
    # NULL external_id ⇒ unkeyed message (ByteString nil semantics)
    null_key = [r for r in out if r.key is None]
    assert len(null_key) == 1
    payload = json.loads(null_key[0].value)
    assert set(payload) == {"uuid", "external_id", "statement", "data", "created_at"}
    assert payload["external_id"] is None
    assert payload["statement"] == "SNAPSHOT"
    assert payload["data"]["name"] == "anon"
    # the event's own created_at rides as a Kafka message header (the
    # sink cannot set broker timestamps from a column); the header
    # value is the same ISO-8601 rendering the payload carries
    for r in out:
        hdrs = {h.key: bytes(h.value).decode() for h in r.headers}
        assert set(hdrs) == {"created_at"}
        assert hdrs["created_at"] == json.loads(r.value)["created_at"]


def test_relay_pages_bound_micro_batches(spark, outbox, tmp_path):
    # O12/O19: maxFilesPerTrigger=1 over N files ⇒ N bounded batches,
    # the LIMIT-1000 page loop as micro-batch pacing.
    for i in range(3):
        _write_events(spark, [_event(i, "orders", "INSERT", "{}", key=str(i))], outbox)
    batches = [len(b) for b in _relay_batches(spark, outbox, str(tmp_path / "ckpt2"), 1)]
    assert sum(batches) == 3
    assert len(batches) >= 3  # one page per file (plus possible empty tail batch)


def test_checkpoint_resume_processes_only_new_events(spark, outbox, tmp_path):
    # O14: the checkpoint IS the processed-flag. Drain once, append
    # more events, drain again with the SAME checkpoint — only the new
    # events flow; with a FRESH checkpoint everything replays.
    ckpt = str(tmp_path / "ckpt_resume")

    def keys(checkpoint):
        return sorted(r.key for b in _relay_batches(spark, outbox, checkpoint) for r in b)

    _write_events(spark, [_event(1, "users", "INSERT", "{}", key="a")], outbox)
    assert keys(ckpt) == ["a"]

    _write_events(spark, [_event(2, "users", "UPDATE", '{"x":1}', key="b")], outbox)
    assert keys(ckpt) == ["b"]  # "a" not redelivered

    # a fresh checkpoint replays the whole outbox (at-least-once floor)
    assert keys(str(tmp_path / "ckpt_fresh")) == ["a", "b"]


def _updates(spark, keys, table="t"):
    """capture_changes events that raise ``v`` by one for each key of a
    ``(k, v = 10 * k)`` table, captured from one partition."""
    from pg2kafka_spark.operators.diff import capture_changes

    changes = spark.createDataFrame(
        [Row(op="UPDATE", before=Row(k=k, v=10 * k), after=Row(k=k, v=10 * k + 1)) for k in keys],
        "op string, before struct<k:bigint,v:bigint>, after struct<k:bigint,v:bigint>",
    ).coalesce(1)
    return capture_changes(changes, table, "k", ["k", "v"])


def _table(spark, n, partitions):
    return spark.range(0, n, 1, partitions).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def test_snapshot_prefix_precedes_changes_in_drain(spark, outbox, tmp_path):
    """O10 handoff with the package's default ids: a 64-row table
    snapshotted from 4 partitions, then one UPDATE to key 57 captured
    from one partition. One unbounded batch delivers the key's SNAPSHOT
    before its UPDATE; one-file pages deliver every SNAPSHOT before any
    change (file order == commit order in the outbox log)."""
    bootstrap_outbox(_table(spark, 64, 4), outbox, "t", "k")
    append_outbox(_updates(spark, [57]), outbox)
    for page_files in (None, 1):
        got = _relay_messages(spark, outbox, str(tmp_path / f"ckpt{page_files}"), page_files)
        assert len(got) == 65
        assert [(s, d) for _t, k, s, d in got if k == "57"] == [
            ("SNAPSHOT", {"k": 57, "v": 570}),
            ("UPDATE", {"v": 571}),
        ]
    seen = [s for *_, s, _d in got]
    first_change = seen.index("UPDATE")
    assert all(s == "SNAPSHOT" for s in seen[:first_change])
    assert all(s == "UPDATE" for s in seen[first_change:])


def test_append_outbox_continues_above_the_persisted_high_water(spark, outbox):
    """The first append into a fresh outbox gets the default ids
    (partition << 33 | row); a second append, in a new call, reads the
    high water back from the state file and numbers its rows above
    every id of the first, in its frame's row order."""
    import os

    from pg2kafka_spark.streaming.relay import HIGH_WATER_FILE

    def high_water():
        with open(os.path.join(outbox, HIGH_WATER_FILE)) as f:
            return int(f.read())

    bootstrap_outbox(_table(spark, 8, 4), outbox, "first", "k")
    first = [r.id for r in spark.read.parquet(outbox).collect()]
    assert sorted(first) == [(p << 33) | r for p in range(4) for r in range(2)]
    assert high_water() == max(first) + 1

    append_outbox(_updates(spark, range(6), table="second"), outbox)
    second = spark.read.parquet(outbox).filter(F.col("table_name") == "second")
    by_key = {int(r.external_id): r.id for r in second.collect()}
    assert min(by_key.values()) == max(first) + 1
    assert [by_key[k] for k in range(6)] == sorted(by_key.values())
    assert high_water() == max(by_key.values()) + 1


def test_multi_file_append_is_published_in_id_order(spark, outbox, tmp_path):
    """One append of 4 files, each key's versions spread over all of
    them: the files land at the outbox root with strictly ascending
    mtimes in part order, so a one-file-per-batch drain (a relay that
    lists the outbox mid-publish sees a prefix of these files) delivers
    every key's versions in id order."""
    import os

    from pg2kafka_spark.operators.snapshot import snapshot_events

    n_keys, n_versions, n_files = 4, 8, 4
    rows = [Row(k=f"k{k}", v=v) for v in range(n_versions) for k in range(n_keys)]
    frame = spark.createDataFrame(spark.sparkContext.parallelize(rows, n_files))
    append_outbox(snapshot_events(frame, "t", "k"), outbox)

    parts = sorted(f for f in os.listdir(outbox) if f.endswith(".parquet"))
    assert len(parts) == n_files
    mtimes = [os.stat(os.path.join(outbox, f)).st_mtime_ns for f in parts]
    assert mtimes == sorted(set(mtimes))

    got = _relay_messages(spark, outbox, str(tmp_path / "ckpt"), page_files=1)
    versions: dict[str, list[int]] = {}
    for _t, k, _s, d in got:
        versions.setdefault(k, []).append(d["v"])
    assert versions == {f"k{k}": list(range(n_versions)) for k in range(n_keys)}


def test_crashed_append_publishes_nothing_and_burns_its_ids(
    spark, outbox, tmp_path, monkeypatch
):
    """A leftover ``_staging-*`` directory holding parquet parts, and an
    append that dies at its first publish rename (after its high water
    is persisted), deliver nothing; the next append numbers its rows
    above the abandoned range, and per-key order still holds."""
    import glob
    import os

    from pg2kafka_spark.operators.snapshot import snapshot_events
    from pg2kafka_spark.streaming import relay

    bootstrap_outbox(_table(spark, 8, 2), outbox, "t", "k")
    snapshot_events(_table(spark, 8, 2), "planted", "k").write.parquet(
        os.path.join(outbox, "_staging-planted")
    )

    def killed(_fs, _src, _dst):
        raise OSError("killed mid-publish")

    monkeypatch.setattr(relay, "_publish", killed)
    with pytest.raises(OSError, match="killed mid-publish"):
        append_outbox(_updates(spark, range(8), table="lost"), outbox)
    monkeypatch.undo()
    (abandoned,) = [
        d for d in glob.glob(os.path.join(outbox, "_staging-*")) if not d.endswith("planted")
    ]
    abandoned_ids = [r.id for r in spark.read.parquet(abandoned).collect()]
    assert len(abandoned_ids) == 8

    append_outbox(_updates(spark, range(8)), outbox)
    assert not glob.glob(os.path.join(outbox, "_staging-*"))
    updates = spark.read.parquet(outbox).filter(F.col("statement") == "UPDATE")
    assert min(r.id for r in updates.collect()) > max(abandoned_ids)

    got = _relay_messages(spark, outbox, str(tmp_path / "ckpt"))
    assert {t for t, *_ in got} == {"t"}
    assert len(got) == 16
    for k in range(8):
        assert [s for _t, key, s, _d in got if key == str(k)] == ["SNAPSHOT", "UPDATE"]


def test_empty_append_publishes_nothing(spark, outbox):
    """A captured batch of only no-op UPDATEs has no rows: appending it
    publishes no file, and the high water stays where it was."""
    import os
    from pathlib import Path

    from pg2kafka_spark.operators.diff import capture_changes
    from pg2kafka_spark.streaming.relay import HIGH_WATER_FILE

    bootstrap_outbox(_table(spark, 8, 2), outbox, "t", "k")
    files = sorted(os.listdir(outbox))
    high_water = Path(outbox, HIGH_WATER_FILE).read_text()
    noop = spark.createDataFrame(
        [Row(op="UPDATE", before=Row(k=1, v=10), after=Row(k=1, v=10))],
        "op string, before struct<k:bigint,v:bigint>, after struct<k:bigint,v:bigint>",
    )
    for _ in range(2):
        append_outbox(capture_changes(noop, "t", "k", ["k", "v"]), outbox)
    assert sorted(os.listdir(outbox)) == files
    assert Path(outbox, HIGH_WATER_FILE).read_text() == high_water


def test_snapshot_and_capture_compile_once_per_session(spark, outbox, tmp_path):
    """The envelope's per-call values (uuid seed, ``created_at``) and the
    append's high water stay out of the generated Java, so a second
    ``bootstrap_outbox`` into a fresh outbox, and a second
    ``append_outbox(capture_changes(...))`` above a new high water,
    compile no class (Spark's ``CodegenMetrics`` count does not move).
    The inputs are parquet: a ``createDataFrame`` frame is evaluated on
    the driver and never compiles."""
    from pathlib import Path

    from pg2kafka_spark.operators.diff import capture_changes
    from pg2kafka_spark.streaming.relay import HIGH_WATER_FILE

    table, changes = str(tmp_path / "table"), str(tmp_path / "changes")
    _table(spark, 64, 4).write.parquet(table)

    def image(dv):
        return F.struct(F.col("k"), (F.col("v") + dv).alias("v"))

    _table(spark, 64, 4).select(
        F.lit("UPDATE").alias("op"), image(0).alias("before"), image(1).alias("after")
    ).write.parquet(changes)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles(call) -> int:
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        call()
        return codegen.METRIC_COMPILATION_TIME().getCount() - before

    snapshots, appends, high_waters = [], [], []
    for i in range(2):
        fresh = str(tmp_path / f"snapshot{i}")
        snapshots.append(compiles(
            lambda: bootstrap_outbox(spark.read.parquet(table), fresh, "t", "k")))
    for _ in range(2):
        appends.append(compiles(lambda: append_outbox(
            capture_changes(spark.read.parquet(changes), "t", "k", ["k", "v"]), outbox)))
        high_waters.append(Path(outbox, HIGH_WATER_FILE).read_text())
    assert high_waters[0] != high_waters[1]
    assert (snapshots[1], appends[1]) == (0, 0), (snapshots, appends)


def test_crash_between_sink_write_and_commit_redelivers_then_converges(
    spark, outbox, tmp_path
):
    # The at-least-once floor, exercised at its worst point (reference
    # crash window: after produce main.go:161, before mark main.go:172):
    # the sink write succeeds, then the query dies BEFORE the epoch
    # commit. On restart the uncommitted batch is redelivered — the
    # delivered log must contain duplicates (at-least-once, not magic)
    # — and the consumer's fold over that log converges to the fold of
    # the distinct events.
    delivered = str(tmp_path / "delivered")
    ckpt = str(tmp_path / "ckpt_crash")
    _write_events(
        spark, [_event(i, "users", "INSERT", "{}", key=str(i)) for i in range(3)], outbox
    )
    _write_events(
        spark, [_event(i, "users", "UPDATE", '{"x":1}', key=str(i)) for i in range(3, 5)], outbox
    )

    def write_then_crash(df, epoch_id):
        df.write.mode("append").parquet(delivered)
        raise RuntimeError("injected crash between sink write and commit")

    events = read_event_stream(spark, outbox, max_files_per_trigger=1)
    q = (
        events.writeStream.queryName("crash_relay")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .foreachBatch(write_then_crash)
        .start()
    )
    with pytest.raises(Exception):
        q.awaitTermination(120)

    first_attempt = spark.read.parquet(delivered).count()
    assert first_attempt > 0  # the sink write DID land before the crash

    # restart from the same checkpoint, healthy sink this time
    events = read_event_stream(spark, outbox, max_files_per_trigger=1)
    q = (
        events.writeStream.queryName("crash_relay_resume")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .foreachBatch(lambda df, _: df.write.mode("append").parquet(delivered))
        .start()
    )
    q.awaitTermination(120)

    log = spark.read.parquet(delivered)
    total, distinct_uuids = log.count(), log.select("uuid").distinct().count()
    assert distinct_uuids == 5           # every event delivered
    assert total == 5 + first_attempt    # the uncommitted batch came twice
    redelivered = (
        log.groupBy("uuid").count().filter(F.col("count") > 1).count()
    )
    assert redelivered == first_attempt  # exactly the crashed batch

    # the consumer's fold absorbs the redelivery: apply_change_feed over
    # the delivered log equals the fold of the 5 distinct outbox events
    from pg2kafka_spark.operators.compaction import apply_change_feed

    def fold(feed):
        state = apply_change_feed(feed, ["external_id"], "id", "data", ["x"])
        return sorted(map(tuple, state.collect()))

    assert spark.read.parquet(outbox).count() == 5
    assert fold(log) == fold(spark.read.parquet(outbox))
    assert fold(log) == [("0", None), ("1", None), ("2", None), ("3", "1"), ("4", "1")]


def test_quality_gate_composes_unchanged_into_a_stream(spark, tmp_path):
    """The map-only pipeline gates (quality features, language ID,
    PII scrub) are plain column expressions, so the SAME operator
    composes into readStream with zero changes — the property that
    lets one codebase serve both the 100 TB backfill and the
    streaming ingest path. Stream-vs-batch row parity pins it."""
    from pg2kafka_spark.catalog import load_table
    from pg2kafka_spark.operators.text import (
        predict_language,
        redact_pii,
        with_quality_features,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    src = str(tmp_path / "docs_src")
    docs.write.mode("overwrite").parquet(src)

    def gate(df):
        return (
            with_quality_features(df)
            .withColumn("lang_pred", predict_language(F.col("text")))
            .withColumn("clean_text", redact_pii(F.col("text")))
            .filter((F.col("n_tokens") >= 10) & (F.col("ttr") >= 0.2))
            .select("doc_id", "n_tokens", "ttr", "lang_pred", "clean_text")
        )

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        gate(stream)
        .writeStream.queryName("doc_gate_stream")
        .format("memory")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from doc_gate_stream")
    want = gate(docs)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_streaming_ingest_dedups_against_static_store(spark, tmp_path):
    """The daily-ingest dedup as a STREAM: incoming docs arrive as
    files, are deduped within the stream on their content fingerprint
    (dropDuplicates on fp — state-store backed), and anti-joined
    against the STATIC corpus fingerprint store (stream-static joins
    need no watermark). Result equals the batch incremental dedup on
    the same split — the operator semantics carry to the relay path
    unchanged."""
    from pg2kafka_spark.catalog import load_table
    from pg2kafka_spark.operators.dedup import incremental_exact_dedup
    from pg2kafka_spark.operators.text import fingerprint

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    store = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250)

    src = str(tmp_path / "incoming")
    batch.write.mode("overwrite").parquet(src)
    store_fps = store.select(fingerprint(F.col("text")).alias("fp")).distinct()

    stream = spark.readStream.schema(docs.schema).parquet(src)
    deduped = (
        stream.withColumn("fp", fingerprint(F.col("text")))
        .dropDuplicates(["fp"])
        .join(store_fps, "fp", "left_anti")
        .select("doc_id", "fp")
    )
    q = (
        deduped.writeStream.queryName("ingest_dedup_stream")
        .format("memory")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # assert + 600 s bound: the old bare awaitTermination(120) expired
    # silently under 8-lane contention on the slow sandbox host class
    # (r19 re-entry 7) and the test failed downstream comparing an empty
    # memory table. availableNow terminates the moment the single wave
    # commits (isolated quiet run ~30 s), so the headroom costs nothing
    # on a quiet host.
    assert q.awaitTermination(600)
    got_fps = {
        r["fp"] for r in spark.sql("select * from ingest_dedup_stream").collect()
    }
    want = incremental_exact_dedup(batch, store_fps)
    want_fps = {
        r["fp"]
        for r in want.select(fingerprint(F.col("text")).alias("fp")).collect()
    }
    # same SET of surviving fingerprints (the stream's representative
    # per group is arrival-order-dependent; the batch op picks min-id —
    # group membership, not representative identity, is the contract)
    assert got_fps == want_fps
    assert len(got_fps) > 0


def test_legacy_create_statement_through_full_relay(spark, outbox, tmp_path):
    """Round-6 verdict optional item: the reference's own fixtures
    seed a legacy ``CREATE`` statement row (main_test.go:43) and the
    relay produces it verbatim — previously pinned only at the batch
    wire layer (test_cdc_semantics.py); this drives it through the
    FULL streaming relay (file source -> availableNow -> sink):
    unknown statement values are an open enum end-to-end — no filter,
    no rewrite, no error — and NULL-key unkeyed delivery composes
    with them."""
    _write_events(
        spark,
        [
            _event(1, "users", "CREATE", '{"simple": "data"}', key="legacy-1"),
            _event(2, "users", "SOMETHING_ELSE", "{}", key=None),
            _event(3, "users", "UPDATE", '{"name": "after"}', key="legacy-1"),
        ],
        outbox,
    )
    events = read_event_stream(spark, outbox)
    out: list[Row] = []
    q = start_relay(
        events,
        database="mydb",
        query_name="relay_legacy",
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
        foreach_batch=lambda df, _e: out.extend(df.collect()),
    )
    q.awaitTermination(120)
    assert len(out) == 3
    assert all(r.topic == "pg2kafka.mydb.users" for r in out)
    stmts = sorted(json.loads(r.value)["statement"] for r in out)
    assert stmts == ["CREATE", "SOMETHING_ELSE", "UPDATE"]
    unkeyed = [r for r in out if r.key is None]
    assert len(unkeyed) == 1
    assert json.loads(unkeyed[0].value)["statement"] == "SOMETHING_ELSE"


def test_streaming_embedding_assignment_matches_batch(spark, tmp_path):
    """The incremental-IVF ingest as a STREAM (r8): new vectors
    arrive as files and are assigned to the STORE-trained centroids
    inside the stream (broadcast join + max_by — the same map-only
    assignment pass the batch path runs). Streamed assignments must
    equal assign_cells on the same batch: the vector ingest path
    composes into the relay exactly like the text gates."""
    from pg2kafka_spark.catalog import load_table
    from pg2kafka_spark.operators import similarity as S

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    store = emb.filter(F.col("vec_id") < 80)
    batch = emb.filter(F.col("vec_id") >= 80)
    cents = S.kmeans_centroids(store, 8, 2, 64)

    src = str(tmp_path / "incoming_vecs")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    prepared = stream.select(
        F.col("vec_id"), S.as_double(F.col("embedding")).alias("__cv")
    )
    assigned = S.assign_cells(prepared, cents).select("vec_id", "cid")
    q = (
        assigned.writeStream.queryName("vec_assign_stream")
        .format("memory")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["vec_id"], r["cid"])
        for r in spark.sql("select * from vec_assign_stream").collect()
    }
    want_prepared = batch.select(
        F.col("vec_id"), S.as_double(F.col("embedding")).alias("__cv")
    )
    want = {
        (r["vec_id"], r["cid"])
        for r in S.assign_cells(want_prepared, cents).select(
            "vec_id", "cid"
        ).collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.heavy_e2e
def test_store_bands_skips_store_minhash_in_plan(spark, tmp_path):
    """The point of the maintained band table: with store_bands given,
    incremental_near_dup's plan must not re-minhash the store text —
    the staged token-hash projection (__hp) appears for the BATCH side
    only, and store text is scanned just for the verification
    semi-join."""
    import contextlib
    import io

    from pg2kafka_spark.operators.dedup import (
        incremental_near_dup,
        portable_band_keys,
    )

    rows = [(i, f"stored doc {i} alpha beta gamma delta epsilon zeta "
                f"eta theta {i}") for i in range(20)]
    store = spark.createDataFrame(rows, "doc_id int, text string")
    # materialize, as the maintained table is on disk in real use —
    # a lazily-derived frame would smuggle the minhash back into the
    # plan under test
    bands_dir = str(tmp_path / "bands")
    portable_band_keys(store).write.parquet(bands_dir)
    bands = spark.read.parquet(bands_dir)
    batch = spark.createDataFrame(
        [(100, "a fresh batch document with completely different tokens "
               "about something else entirely")],
        "doc_id int, text string",
    )

    def plan(**kw):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            # lazy candidate list: the production default materializes
            # it (severing this very subtree from the final plan), so
            # the discovery shape is only visible un-checkpointed
            incremental_near_dup(
                store, batch, _materialize_candidates=False, **kw
            ).explain("formatted")
        return buf.getvalue()

    p_recompute = plan()
    p_maintained = plan(store_bands=bands)
    assert p_recompute.count("__hp") > p_maintained.count("__hp")
    # results agree (empty here — no near dups — but schema and zero
    # rows on both sides)
    a = incremental_near_dup(store, batch).collect()
    b = incremental_near_dup(store, batch, store_bands=bands).collect()
    assert a == b


@pytest.mark.heavy_e2e
def test_store_bands_results_match_recompute(spark):
    """store_bands mode = recompute mode on data WITH near-dup hits:
    same verified pairs, same jaccard values."""
    from pg2kafka_spark.operators.dedup import (
        incremental_near_dup,
        portable_band_keys,
    )

    store_rows = [
        (1, "the quick brown fox jumps over the lazy dog every morning"),
        (2, "completely unrelated text about distributed query engines"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    batch_rows = [
        (10, "the quick brown fox jumps over the lazy dog every evening"),
        (11, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (12, "nothing like anything in the store at all whatsoever here"),
    ]
    store = spark.createDataFrame(store_rows, "doc_id int, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id int, text string")
    bands = portable_band_keys(store)

    def rows(df):
        return {
            (r.batch_id, r.store_id, r.common, r.n_batch, r.n_store,
             round(r.jaccard, 9))
            for r in df.collect()
        }

    got_a = rows(incremental_near_dup(store, batch, threshold=0.3))
    got_b = rows(
        incremental_near_dup(store, batch, threshold=0.3, store_bands=bands)
    )
    assert got_a == got_b
    assert got_a, "fixture must produce at least one verified pair"
    # phantom band rows (crash-replay window): ids in the band table
    # but not the store verify to nothing instead of erroring
    phantom = spark.createDataFrame(
        [(99, 0, "nope,nope")], "doc_id int, band long, bkey string"
    )
    got_c = rows(
        incremental_near_dup(
            store, batch, threshold=0.3,
            store_bands=bands.unionByName(phantom),
        )
    )
    assert got_c == got_a


def test_jsonl_source_composes_into_a_stream_with_quarantine(
    spark, tmp_path
):
    """The r13 JSONL source is a text scan + from_json projection, so
    the SAME parse composes into readStream.text unchanged — arriving
    JSONL shards parse, quarantine, and gate in a stream exactly as in
    batch (stream-vs-batch parity incl. the malformed-line count)."""
    from pg2kafka_spark.catalog import load_table
    from pg2kafka_spark.sources import (
        CORRUPT_COL,
        read_jsonl,
        split_quarantine,
    )

    schema = "doc_id bigint, source string, lang string, text string"
    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "source", "lang", "text"
    )
    src = str(tmp_path / "docs_jsonl")
    docs.write.json(src)
    # inject a malformed shard
    (tmp_path / "docs_jsonl" / "bad-shard.json").write_text(
        "{definitely not json\n"
        '{"doc_id": 9000001, "source": "s9", "lang": "en",'
        ' "text": "late arrival"}\n'
    )

    def parse(raw):
        opts = {
            "mode": "PERMISSIVE",
            "columnNameOfCorruptRecord": CORRUPT_COL,
        }
        return raw.select(
            F.from_json(
                "value", f"{schema}, {CORRUPT_COL} string", opts
            ).alias("__r")
        ).select("__r.*")

    stream = parse(spark.readStream.text(src))
    q = (
        stream.writeStream.queryName("jsonl_stream")
        .format("memory")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from jsonl_stream")
    clean_s, bad_s = (
        got.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL),
        got.filter(F.col(CORRUPT_COL).isNotNull()),
    )
    clean_b, bad_b = split_quarantine(read_jsonl(spark, src, schema))
    assert bad_s.count() == bad_b.count() == 1
    assert sorted(map(tuple, clean_s.collect())) == sorted(
        map(tuple, clean_b.collect())
    )
    assert clean_s.count() == docs.count() + 1


def test_candidate_materialization_bounds_plan_size(spark):
    """Regression pin for the r13 driver planning blowup (BASELINE.md
    root cause): the candidate list MUST be a plan leaf in production
    mode. The lazy plan embeds the discovery subtree under five
    consumers (~3x the node count here, multiplying further with each
    nesting level — AQE re-traverses the logical tree per stage); the
    materialized plan stays small and, critically, contains no band-
    key computation at all."""
    from pg2kafka_spark.operators.dedup import incremental_near_dup

    rows = [(i, f"doc {i} alpha beta gamma delta") for i in range(30)]
    store = spark.createDataFrame(rows, "doc_id int, text string")
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma delta fresh")], "doc_id int, text string"
    )

    def plan_lines(materialize):
        df = incremental_near_dup(
            store, batch, _materialize_candidates=materialize
        )
        return (
            df._jdf.queryExecution().optimizedPlan().toString().splitlines()
        )

    prod = plan_lines(True)
    lazy = plan_lines(False)
    assert len(prod) < 100, len(prod)
    assert len(lazy) > 2 * len(prod), (len(lazy), len(prod))
    # the discovery math is fully severed from the production plan
    assert not any("xxhash" in ln or "__hp" in ln for ln in prod)


def test_candidate_checkpoint_waits_for_graph_diff_window(spark):
    """Lock-discipline pin for the r13 bench-warmup flake: the
    candidate materialization must take graph._CKPT_LOCK, so its RDD
    ids can never land inside a concurrent graph _checkpoint's
    before/after diff (which would adopt them into _TRACKED and
    unpersist them mid-query on the next release)."""
    import threading
    import time as _t

    import pg2kafka_spark.operators.graph as G
    from pg2kafka_spark.operators.dedup import incremental_near_dup

    rows = [(i, f"doc {i} alpha beta gamma delta") for i in range(10)]
    store = spark.createDataFrame(rows, "doc_id int, text string")
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma delta fresh")], "doc_id int, text string"
    )
    done: list[bool] = []

    def build():
        incremental_near_dup(store, batch)
        done.append(True)

    assert G._CKPT_LOCK.acquire(timeout=10)
    try:
        t = threading.Thread(target=build)
        t.start()
        _t.sleep(3)
        # the candidate checkpoint must be BLOCKED on the lock
        assert not done
    finally:
        G._CKPT_LOCK.release()
    t.join(120)
    assert done


def test_per_key_order_survives_parallel_sink(spark, outbox, tmp_path):
    """The reference's core delivery contract (README.md:38-40):
    murmur2-partition on external_id + one-in-flight produce gives
    strict per-entity order. Our parallel equivalent is
    ordered_for_delivery at the sink edge. E2E: an outbox whose keys
    are deliberately SCATTERED across files (so a micro-batch's rows
    for one key span source partitions), drained in paged micro-
    batches through the wire projection into a parallel foreachBatch
    producer — every key must land in exactly one sink partition per
    batch and its full event sequence, concatenated across batches,
    must be its outbox-id order."""
    from pg2kafka_spark.operators.wire import ordered_for_delivery, to_wire

    n_keys, n_versions, n_chunks = 12, 24, 6
    per_chunk = n_versions // n_chunks
    for c in range(n_chunks):
        rows = []
        for v in range(c * per_chunk, (c + 1) * per_chunk):
            for k in range(n_keys):
                eid = v * n_keys + k
                rows.append(_event(
                    eid, "users", "UPDATE",
                    '{"v": %d}' % eid, key=f"k{k:02d}",
                ))
        # 2 files per chunk: one key's versions inside a chunk can
        # span source partitions — the interleaving the sink must fix
        _write_events(spark, rows, outbox, n_files=2)

    captured: list[tuple[int, int, list]] = []

    def fb(batch_df, batch_id):
        ordered = ordered_for_delivery(batch_df)
        wire = to_wire(ordered, "testdb")  # narrow: order must survive
        parts = (
            wire.select(
                "key",
                F.get_json_object(F.col("value"), "$.data.v")
                .cast("long")
                .alias("seq"),
            )
            .rdd.mapPartitionsWithIndex(
                lambda pid, it: [(pid, [(r.key, r.seq) for r in it])]
            )
            .collect()
        )
        for pid, lst in parts:
            if lst:
                captured.append((int(batch_id), pid, lst))

    # force the keyed exchange into 4 uncoalesced tasks: tiny batches
    # would otherwise be sorted as one task below AQE's floor
    confs = {
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "4",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        events = read_event_stream(spark, outbox, max_files_per_trigger=2)
        q = (
            events.writeStream.queryName("order_e2e")
            .foreachBatch(fb)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    batches = sorted({b for b, _, _ in captured})
    assert len(batches) >= 2, "paging must yield several micro-batches"
    assert any(
        len({p for b2, p, _ in captured if b2 == b}) >= 2 for b in batches
    ), "the sink must actually run parallel partitions"

    per_key: dict[str, list[int]] = {}
    for b in batches:
        in_batch: dict[str, int] = {}
        for b2, pid, lst in captured:
            if b2 != b:
                continue
            for key, seq in lst:
                assert in_batch.setdefault(key, pid) == pid, (
                    f"key {key} split across sink partitions in batch {b}"
                )
                per_key.setdefault(key, []).append(seq)
    assert len(per_key) == n_keys
    for k in range(n_keys):
        key = f"k{k:02d}"
        want = [v * n_keys + k for v in range(n_versions)]
        assert per_key[key] == want, f"{key} delivered out of order"


def _write_scattered_chunks(spark, outbox, n_keys, n_chunks, per_chunk):
    """Append ``n_chunks`` writes of ``per_chunk`` versions of each of
    ``n_keys`` keys, two files per write, so one key's rows in a
    micro-batch span source partitions; file mtimes follow write order.
    Event ``v * n_keys + k`` is version ``v`` of key ``k<k>`` and
    carries ``{"v": id}``, with a NULL-key row per chunk."""
    for c in range(n_chunks):
        rows = [
            _event(v * n_keys + k, "users", "UPDATE",
                   '{"v": %d}' % (v * n_keys + k), key=f"k{k}")
            for v in range(c * per_chunk, (c + 1) * per_chunk)
            for k in range(n_keys)
        ]
        rows.append(_event(10_000 + c, "users", "INSERT", '{"v": null}'))
        _write_events(spark, rows, outbox, n_files=2)


@pytest.mark.parametrize(
    "floor, exchange",
    [(None, False), ("1b", True)],
    ids=["below_floor", "above_floor"],
)
def test_ordered_default_partitions_skip_exchange_below_floor(
    spark, outbox, tmp_path, floor, exchange
):
    """start_relay: a micro-batch whose planned input is at or below
    AQE's coalescing floor
    (spark.sql.adaptive.coalescePartitions.minPartitionSize) reaches
    foreach_batch as one sorted task with no Exchange. Above the floor
    (lowered to 1 byte here) the keyed exchange stays. Either way every
    key sits in one task per batch and its ids ascend across paged
    batches."""
    conf = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    n_keys, n_chunks, per_chunk = 6, 4, 2
    _write_scattered_chunks(spark, outbox, n_keys, n_chunks, per_chunk)

    plans: list[str] = []
    seen: dict[str, list[int]] = {}

    def fb(wire_df, batch_id):
        plans.append(wire_df._jdf.queryExecution().executedPlan().toString())
        parts = (
            wire_df.select(
                "key",
                F.get_json_object(F.col("value"), "$.data.v").cast("long").alias("seq"),
            )
            .rdd.mapPartitionsWithIndex(lambda pid, it: [(pid, [(r.key, r.seq) for r in it])])
            .collect()
        )
        owner: dict[str, int] = {}
        for pid, lst in parts:
            for key, seq in lst:
                if key is None:
                    continue
                assert owner.setdefault(key, pid) == pid, (
                    f"key {key} split across tasks in batch {batch_id}"
                )
                seen.setdefault(key, []).append(seq)

    if floor is not None:
        spark.conf.set(conf, floor)
    try:
        q = start_relay(
            read_event_stream(spark, outbox, max_files_per_trigger=2),
            database="testdb",
            foreach_batch=fb,
            available_now=True,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
    finally:
        spark.conf.unset(conf)
    assert q.exception() is None
    assert len(plans) >= 2, "paging must yield several micro-batches"
    for plan in plans:
        if exchange:
            assert "Exchange hashpartitioning(external_id" in plan, plan
        else:
            assert "Exchange" not in plan, plan
    for k in range(n_keys):
        want = [v * n_keys + k for v in range(n_chunks * per_chunk)]
        assert seen[f"k{k}"] == want, f"k{k} out of order"


def test_start_relay_orders_every_batch_by_default(spark, outbox, tmp_path):
    """start_relay with no ordering argument sorts each micro-batch by
    (external_id, id) before foreach_batch sees it, so a scattered
    outbox drained in pages delivers every key's ids ascending. There
    is no unordered mode: ``ordered=False`` and the memory sink are
    rejected."""
    n_keys, n_chunks, per_chunk = 5, 3, 2
    _write_scattered_chunks(spark, outbox, n_keys, n_chunks, per_chunk)

    plans: list[str] = []
    seen: dict[str, list[int]] = {}

    def fb(wire_df, batch_id):
        plans.append(wire_df._jdf.queryExecution().executedPlan().toString())
        seq = F.get_json_object(F.col("value"), "$.data.v").cast("long")
        for r in wire_df.select("key", seq.alias("seq")).collect():
            if r.key is not None:
                seen.setdefault(r.key, []).append(r.seq)

    q = start_relay(
        read_event_stream(spark, outbox, max_files_per_trigger=2),
        database="testdb",
        foreach_batch=fb,
        available_now=True,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert len(plans) >= 2, "paging must yield several micro-batches"
    for plan in plans:
        assert "Sort [external_id" in plan, plan
    for k in range(n_keys):
        want = [v * n_keys + k for v in range(n_chunks * per_chunk)]
        assert seen[f"k{k}"] == want, f"k{k} out of order"

    events = read_event_stream(spark, outbox)
    with pytest.raises(ValueError, match="ordered"):
        start_relay(events, database="testdb", ordered=False)
    with pytest.raises(ValueError, match="memory"):
        start_relay(events, database="testdb", sink="memory")


def test_ordered_relay_wire_matches_to_wire_bytes(spark, outbox, tmp_path):
    """The wire frames start_relay delivers, across
    several micro-batches, equal to_wire of the same outbox rows byte
    for byte in key, value, topic and headers: the relay builds the
    wire projection once per query and reuses it for every batch."""
    from pg2kafka_spark.operators.wire import to_wire

    _write_scattered_chunks(spark, outbox, n_keys=5, n_chunks=3, per_chunk=2)

    def rows_of(df):
        return [
            (r.key, r.value, r.topic, [(h.key, bytes(h.value)) for h in r.headers])
            for r in df.collect()
        ]

    delivered: dict[int, list] = {}
    q = start_relay(
        read_event_stream(spark, outbox, max_files_per_trigger=2),
        database="testdb",
        topic_namespace="staging",
        foreach_batch=lambda df, batch_id: delivered.setdefault(batch_id, rows_of(df)),
        available_now=True,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert len(delivered) >= 2, "paging must yield several micro-batches"
    got = sorted(
        (row for batch in delivered.values() for row in batch),
        key=lambda r: (r[1], r[0] or ""),
    )
    want = sorted(
        rows_of(to_wire(spark.read.schema(EVENT_SCHEMA).parquet(outbox), "testdb", "staging")),
        key=lambda r: (r[1], r[0] or ""),
    )
    assert got == want
    assert {r[2] for r in got} == {"pg2kafka.staging.testdb.users"}


def test_wire_roundtrip_through_relay_sink(spark, outbox, tmp_path):
    """The full produce→consume loop: outbox rows drained through the
    relay's wire projection into a sink directory, then CONSUMED back
    with from_wire — the decoded envelope + typed rows must equal the
    outbox, and the consumer-side latest-state fold over the decoded
    feed must equal folding the outbox directly. This is what a
    downstream service built on operators/wire.from_wire sees."""
    from pg2kafka_spark.operators.wire import from_wire, to_wire

    rows = [
        _event(1, "users", "INSERT", '{"uid": 1, "plan": "free"}', key="1"),
        _event(2, "users", "UPDATE", '{"plan": "pro"}', key="1"),
        _event(3, "users", "INSERT", '{"uid": 2, "plan": "free"}', key="2"),
        _event(4, "users", "UPDATE", '{"plan": "team"}', key="2"),
        _event(5, "users", "UPDATE", '{"plan": "max"}', key="1"),
    ]
    _write_events(spark, rows, outbox, n_files=2)

    sink = str(tmp_path / "wire_sink")
    events = read_event_stream(spark, outbox)
    q = (
        to_wire(events, "testdb")
        .writeStream.format("json")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    consumed = from_wire(
        spark.read.json(sink, schema="key string, value string, topic string"),
        "uid bigint, plan string",
    )
    got = sorted(
        (r.external_id, r.statement, r.data.uid, r.data.plan)
        for r in consumed.collect()
    )
    want = sorted(
        (
            r.external_id,
            r.statement,
            json.loads(r.data).get("uid"),
            json.loads(r.data)["plan"],
        )
        for r in rows
    )
    assert got == want
    # envelope fields survive the wire: uuid + created_at round-trip
    uuids = {r.uuid for r in consumed.collect()}
    assert uuids == {r.uuid for r in rows}
    created = {r.created_at for r in consumed.collect()}
    assert created == {r.created_at for r in rows}
    # consumer-side latest-state fold over the DECODED feed: the
    # per-key last plan (wire order carried by created_at)
    latest = {
        r.external_id: r.plan
        for r in consumed.groupBy("external_id")
        .agg(
            F.max_by(
                F.col("data.plan"), F.struct("created_at", "uuid")
            ).alias("plan")
        )
        .collect()
    }
    assert latest == {"1": "max", "2": "team"}


def test_scrub_virgin_checkpoint_semantics(spark, tmp_path):
    """The virgin-checkpoint scrub removes orphan metadata-log temp
    files ONLY while the offset log holds zero committed entries — the
    exact crud an interrupted first offset write leaves (Spark then
    refuses the restart with STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY;
    see the graphstore e2e twin). The moment any offset has committed,
    the scrub is a guaranteed no-op."""
    import os

    from pg2kafka_spark.streaming.relay import scrub_virgin_checkpoint

    ckpt = str(tmp_path / "ckpt")
    # missing checkpoint / missing offsets dir: no-op
    assert scrub_virgin_checkpoint(spark, ckpt) == 0
    off = os.path.join(ckpt, "offsets")
    os.makedirs(off)
    assert scrub_virgin_checkpoint(spark, ckpt) == 0
    # zero committed entries + orphan temps in offsets AND commits:
    # all removed
    com = os.path.join(ckpt, "commits")
    os.makedirs(com)
    t1 = os.path.join(off, ".0.6ba7b810-9dad-11d1-80b4-00c04fd430c8.tmp")
    t2 = os.path.join(com, ".0.deadbeef-0000-0000-0000-000000000000.tmp")
    for t in (t1, t2):
        with open(t, "w"):
            pass
    assert scrub_virgin_checkpoint(spark, ckpt) == 2
    assert not os.path.exists(t1) and not os.path.exists(t2)
    # a committed offset entry freezes the scrub: the orphan temp (and
    # everything else) is left alone
    with open(os.path.join(off, "0"), "w") as f:
        f.write("v1")
    with open(t1, "w"):
        pass
    assert scrub_virgin_checkpoint(spark, ckpt) == 0
    assert os.path.exists(t1)
    assert os.path.exists(os.path.join(off, "0"))


def _orphan_first_offset(ckpt):
    """The checkpoint a kill during the very first offset write leaves:
    ``offsets/`` holding one temp file and no committed entry."""
    import os

    os.makedirs(os.path.join(ckpt, "offsets"))
    with open(
        os.path.join(ckpt, "offsets", ".0.6ba7b810-9dad-11d1-80b4-00c04fd430c8.tmp"), "w"
    ):
        pass


def test_relay_restarts_over_orphan_first_offset(spark, outbox, tmp_path):
    """The relay restarts over a checkpoint whose first offset write was
    interrupted: start_relay scrubs the zero-progress temp file at start
    and delivers the event, instead of the query failing with
    STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY."""
    _write_events(spark, [_event(1, "users", "INSERT", '{"uid":1}', key="1")], outbox)
    ckpt = str(tmp_path / "ckpt")
    _orphan_first_offset(ckpt)
    got = []
    q = start_relay(
        read_event_stream(spark, outbox),
        database="testdb",
        checkpoint_dir=ckpt,
        available_now=True,
        foreach_batch=lambda df, _e: got.extend(r.key for r in df.collect()),
    )
    assert q.awaitTermination(120)
    assert got == ["1"]


def test_scrub_skips_session_without_jvm(tmp_path):
    """A session without a JVM handle (Spark Connect raises
    JVM_ATTRIBUTE_NOT_SUPPORTED for ``_jvm``) skips the scrub: the
    stream start goes on, and the checkpoint is left untouched."""
    import os

    from pyspark.errors import PySparkAttributeError

    from pg2kafka_spark.streaming.relay import scrub_virgin_checkpoint

    class NoJvmSession:
        def __getattr__(self, name):
            raise PySparkAttributeError(
                errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED",
                messageParameters={"attr_name": name},
            )

    ckpt = str(tmp_path / "ckpt")
    _orphan_first_offset(ckpt)
    assert scrub_virgin_checkpoint(NoJvmSession(), ckpt) == 0
    assert len(os.listdir(os.path.join(ckpt, "offsets"))) == 1
