"""The two workloads of the CDC relay benchmark.

Each workload drives the package's public calls from outside:
``prepare`` writes its seeded inputs (untimed), ``warmup`` runs one
small untimed pass, ``measure`` runs the timed window and returns one
record per timed unit ("rep"), and ``report`` turns the reps into
end-to-end metrics after checking every delivered event. ``layers``
adds the per-layer metrics of a traced window.

* ``update_storm`` — ``bootstrap_outbox`` of an ``orders`` table, then
  ``capture_changes`` of a skewed change feed on it, a paged ordered
  drain of both, then the consumer fold (``from_wire`` +
  ``apply_change_feed``). Closed loop, back to back.
* ``live_tail`` — an open-loop generator process appends small UPDATE
  files at a fixed rate while the relay runs continuously.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from pg2kafka_spark.operators.compaction import apply_change_feed
from pg2kafka_spark.operators.diff import capture_changes
from pg2kafka_spark.operators.wire import from_wire, ordered_for_delivery, to_wire
from pg2kafka_spark.streaming.relay import bootstrap_outbox, read_event_stream, start_relay

from perfbench import check, datagen
from perfbench.trace import (
    NULL_TRACER,
    median,
    progress_metrics,
    progress_rows,
    weighted_percentile,
)

DATABASE = "bench"
CHANGE_ID_BASE = 1 << 40  # above any snapshot id (partition << 33 | row)
HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Rep:
    """One timed unit: a drain (producer call, relay, fold) or the live
    window. Times are epoch seconds."""

    dir: str
    input_rows: int  # rows handed to the producer (the throughput base)
    produced: int  # events the producer put into the outbox
    t_first: float  # first producer call
    t_relay_start: float
    t_end: float  # last sink write (update_storm: the fold) returned
    batches: dict[int, tuple[float, float]]  # batch_id -> (write start, write return)
    progress: list[dict]
    snapshot_files: list[str] = field(default_factory=list)  # update_storm's snapshot parts
    files: list[dict] = field(default_factory=list)  # live_tail generator log
    timed: list[dict] = field(default_factory=list)  # ... its files due in the window
    file_done: dict[int, float] = field(default_factory=dict)  # due (us) -> delivered

    @property
    def events_per_s(self) -> float:
        return self.input_rows / (self.t_end - self.t_first)


class Relay:
    """One run of ``start_relay`` in ordered mode into the benchmark's
    parquet sink: each micro-batch's ordered wire frame is written to
    ``<sink>/batch_id=<n>/`` and the write's return time is kept."""

    def __init__(self, spark: SparkSession, rep_dir: str, tracer) -> None:
        self.spark = spark
        self.outbox = os.path.join(rep_dir, "outbox")
        self.sink = os.path.join(rep_dir, "sink")
        self.checkpoint = os.path.join(rep_dir, "checkpoint")
        self.tracer = tracer
        self.batches: dict[int, tuple[float, float]] = {}
        self.span_id = None
        self.query = None

    def _sink_write(self, wire: DataFrame, batch_id: int) -> None:
        with self.tracer.span("foreach_batch", parent=self.span_id, batch=batch_id):
            t = time.time()
            wire.write.mode("append").parquet(f"{self.sink}/batch_id={batch_id}")
            self.batches[batch_id] = (t, time.time())

    def start(self, available_now: bool, page_files: int | None = None) -> None:
        events = read_event_stream(self.spark, self.outbox, max_files_per_trigger=page_files)
        self.query = start_relay(
            events,
            DATABASE,
            foreach_batch=self._sink_write,
            checkpoint_dir=self.checkpoint,
            available_now=available_now,
            processing_time=None if available_now else "0 seconds",
            ordered=True,
        )

    def drain(self, page_files: int | None = None) -> None:
        """``available_now`` drain of the whole outbox, blocking."""
        with self.tracer.span("start_relay") as sp:
            self.span_id = sp.id
            self.start(True, page_files)
            self.query.awaitTermination()
        if self.query.exception() is not None:
            raise RuntimeError(f"relay failed: {self.query.exception()}")

    def delivered_rows(self) -> int:
        return sum(p["numInputRows"] for p in progress_rows(self.query))

    def last_return(self) -> float:
        return max(r for _, r in self.batches.values())


def order_files(outbox: str, stamped: list[str]) -> list[str]:
    """Stamp the part files one outbox write added (those not in
    ``stamped``) with ascending mtimes in part order, after the files of
    earlier writes, and return them. A parallel write finishes its files
    in any order, and the file source pages by mtime; a log writer
    appends in order, so this gives the relay the log's order."""
    new = sorted(f for f in os.listdir(outbox) if f.endswith(".parquet") and f not in stamped)
    base = time.time() - 1000.0
    for f in new:
        t = base + len(stamped)
        os.utime(os.path.join(outbox, f), (t, t))
        stamped.append(f)
    return new


def delivered_groups(sink: pd.DataFrame) -> list[tuple[int, int, int, int, int]]:
    """``(rep, batch_id, created_at_us, events, value_bytes)`` over every
    delivered row (:func:`check.sink_rows`)."""
    g = sink.groupby(["rep", "batch_id", "created_us"], sort=False)["value_bytes"].agg(
        ["size", "sum"]
    )
    return [(int(r), int(b), int(t), int(n), int(v)) for (r, b, t), (n, v) in zip(g.index, g.to_numpy())]


def _progress_epoch(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


class Workload:
    name = ""
    data_ddl = ""
    page_files: int | None = None

    def __init__(self, run_dir: str, seed: int) -> None:
        self.run_dir = run_dir
        self.seed = seed
        self.reps_made = 0

    def rep_dir(self) -> str:
        self.reps_made += 1
        d = os.path.join(self.run_dir, f"rep{self.reps_made:03d}")
        os.makedirs(d)
        return d

    def prepare(self) -> None:
        """Write the seeded inputs."""

    def warmup(self, spark: SparkSession) -> None:
        """One untimed pass."""
        raise NotImplementedError

    # -- timed window ------------------------------------------------
    def measure(self, spark: SparkSession, seconds: float, tracer=NULL_TRACER) -> list[Rep]:
        """Back-to-back reps for ``seconds``: another rep starts only if,
        at the pace so far, it ends inside the window (there is always
        at least one)."""
        reps: list[Rep] = []
        t0 = time.time()
        while True:
            reps.append(self.rep(spark, self.rep_dir(), tracer))
            spent = time.time() - t0
            if spent * (len(reps) + 1) / len(reps) > seconds:
                return reps

    def rep(self, spark: SparkSession, rep_dir: str, tracer) -> Rep:
        raise NotImplementedError

    # -- results -----------------------------------------------------
    def settle(self, groups, reps: list[Rep], verdict: dict) -> dict[str, float]:
        """Hook: fill in what needs the delivered groups and return the
        figures that come from them."""
        return {}

    def verify(self, spark: SparkSession, reps: list[Rep], sink: pd.DataFrame) -> dict[str, int]:
        outbox = check.union_all(
            [check.read_outbox(spark, r.dir + "/outbox", i) for i, r in enumerate(reps)]
        )
        return check.delivery_report(check.outbox_rows(outbox, self.data_ddl), sink)

    def report(self, spark: SparkSession, reps: list[Rep]) -> tuple[dict[str, float], dict]:
        """End-to-end metrics over ``reps`` plus the correctness report."""
        sink = check.sink_rows(
            check.union_all([check.read_sink(spark, r.dir + "/sink", i) for i, r in enumerate(reps)]),
            self.data_ddl,
        )
        verdict = self.verify(spark, reps, sink)
        groups = delivered_groups(sink)
        figures = self.settle(groups, reps, verdict)
        metrics = {"events_per_s": median([r.events_per_s for r in reps]), **figures}
        verdict["bytes_out"] = median(
            [sum(g[4] for g in groups if g[0] == i) for i in range(len(reps))]
        )
        return metrics, verdict

    # -- traced window -------------------------------------------------
    def layers(self, spark: SparkSession, reps: list[Rep], tracer) -> dict[str, float]:
        """Per-layer metrics of a traced window. A layer the workload
        does not use reads 0."""
        last = reps[-1]
        out = {
            "snapshot.busy_s": 0.0, "snapshot.events_out": 0.0, "snapshot.outbox_bytes": 0.0,
            "diff.busy_s": 0.0, "diff.changes_in": 0.0, "diff.events_out": 0.0,
            "diff.useful_ratio": 0.0,
            "fold.decode_s": 0.0, "fold.busy_s": 0.0, "fold.keys_out": 0.0,
            "generator.late_ms_max": 0.0,
        }
        out.update(progress_metrics([p for r in reps for p in r.progress]))
        writes = [(r - s) * 1e3 for rep in reps for s, r in rep.batches.values()]
        out["wire.sink_write_ms_p50"] = median(writes)
        outbox = check.read_outbox(spark, last.dir + "/outbox").drop("rep")
        with tracer.span("probe.to_wire") as sp:
            to_wire(outbox, DATABASE).write.format("noop").mode("overwrite").save()
        out["wire.encode_s"] = sp.seconds
        with tracer.span("probe.ordered_for_delivery") as sp:
            ordered_for_delivery(outbox).write.format("noop").mode("overwrite").save()
        out["wire.order_s"] = sp.seconds
        out["relay.backlog_files_max"] = float(self.backlog_files_max(last))
        # what the blocking steps (the rep span's children) leave uncovered
        gaps = [s.seconds - sum(c.seconds for c in tracer.children(s)) for s in tracer.named("rep")]
        out["trace.gap_s"] = median(gaps)
        return out

    def backlog_files_max(self, rep: Rep) -> int:
        return len([f for f in os.listdir(rep.dir + "/outbox") if f.endswith(".parquet")])

    def single_core(self, spark: SparkSession) -> float:
        """One rep on a ``local[1]`` session: the single-threaded
        baseline of the same job."""
        return self.rep(spark, self.rep_dir(), NULL_TRACER).events_per_s


class UpdateStorm(Workload):
    """A closed loop: each rep bootstraps a fresh outbox from the
    starting table, captures the whole change feed into it, drains it
    and folds the delivered feed; the next rep starts when it returns."""

    name = "update_storm"
    # the checker decodes both tables' payloads; the fold reads orders only
    data_ddl = f"{datagen.ORDERS_DDL}, {datagen.AUDIT_DDL}"
    n_keys = 100_000
    n_changes = 400_000
    outbox_files = 8
    page_files = 2

    def prepare(self) -> None:
        self.input = os.path.join(self.run_dir, "input")
        datagen.write_order_changes(self.input, self.n_keys, self.n_changes, self.seed)

    def warmup(self, spark: SparkSession) -> None:
        """One full pass into its own outbox: it runs every code path
        once (class loading, code generation) and gives the JIT the
        timed rep's volume (after a tenth-size pass the first timed rep
        ran 30% slower, and went on speeding up rep by rep)."""
        self._pass(spark, self.rep_dir(), self.input, NULL_TRACER, 0)

    def rep(self, spark: SparkSession, rep_dir: str, tracer) -> Rep:
        return self._pass(spark, rep_dir, self.input, tracer, self.n_keys + self.n_changes)

    @staticmethod
    def captured(spark: SparkSession, feed: str) -> DataFrame:
        """The outbox events of one feed: tracked ``orders`` changes
        plus untracked ``audit_log`` inserts (NULL key). Their ids are
        the feed's sequence placed after every id the snapshot's
        ``monotonically_increasing_id`` can give (partition << 33), so
        each key's changes follow its SNAPSHOT row."""
        ch = spark.read.parquet(feed + "/orders")
        op = F.col("op")
        ids = F.col("seq") + F.lit(CHANGE_ID_BASE)

        def image(prefix: str, present: Column) -> Column:
            return F.when(present, F.struct(*[F.col(prefix + c).alias(c) for c in datagen.ORDER_COLUMNS]))

        orders = ch.select(
            "seq", "op",
            image("b_", op != "INSERT").alias("before"),
            image("a_", op != "DELETE").alias("after"),
        )
        tracked = capture_changes(
            orders, "orders", "o_orderkey", datagen.ORDER_COLUMNS, id_column=ids
        )
        audit = spark.read.parquet(feed + "/audit").select(
            "seq", "op",
            F.lit(None).cast("struct<a_action:string,a_amount:double>").alias("before"),
            F.struct(*[F.col(c) for c in datagen.AUDIT_COLUMNS]).alias("after"),
        )
        untracked = capture_changes(
            audit, "audit_log", None, datagen.AUDIT_COLUMNS, id_column=ids
        )
        return tracked.unionByName(untracked)

    @staticmethod
    def consumer_feed(spark: SparkSession, sink: str) -> DataFrame:
        """The delivered ``orders`` messages decoded with ``from_wire``,
        versioned by delivery position, payload kept as JSON text."""
        msgs = spark.read.parquet(sink).withColumn("pos", F.monotonically_increasing_id())
        dec = from_wire(msgs.filter(F.col("topic") == f"pg2kafka.{DATABASE}.orders"),
                        datagen.ORDERS_DDL)
        return dec.select(
            "key", "statement",
            F.struct("batch_id", "pos").alias("version"),
            F.get_json_object("value", "$.data").alias("payload"),
        )

    def _pass(self, spark, rep_dir, feed, tracer, rows) -> Rep:
        relay = Relay(spark, rep_dir, tracer)
        stamped: list[str] = []
        with tracer.span("rep"):
            t0 = time.time()
            with tracer.span("bootstrap_outbox"):
                bootstrap_outbox(spark.read.parquet(feed + "/orders_base"), relay.outbox,
                                 "orders", "o_orderkey")
                snapshot_files = order_files(relay.outbox, stamped)
            with tracer.span("capture_changes"):
                events = self.captured(spark, feed)
                (events.repartitionByRange(self.outbox_files, "id").sortWithinPartitions("id")
                 .write.mode("append").parquet(relay.outbox))
                order_files(relay.outbox, stamped)
            t1 = time.time()
            relay.drain(self.page_files)
            with tracer.span("fold"):
                with tracer.span("from_wire"):
                    fed = self.consumer_feed(spark, relay.sink)
                with tracer.span("apply_change_feed"):
                    state = apply_change_feed(fed, ["key"], "version", "payload",
                                              datagen.ORDER_COLUMNS)
                    state.write.parquet(os.path.join(rep_dir, "fold"))
            t_end = time.time()
        return Rep(rep_dir, rows, relay.delivered_rows(), t0, t1, t_end, relay.batches,
                   progress_rows(relay.query), snapshot_files=snapshot_files)

    def verify(self, spark, reps, sink):
        out = super().verify(spark, reps, sink)
        out["fold_mismatches"] = 0
        for r in reps:
            ob = pq.read_table(r.dir + "/outbox",
                               columns=["table_name", "external_id", "id", "statement", "data"])
            ob = ob.filter(pc.equal(ob["table_name"], "orders")).drop(["table_name"]).to_pandas()
            ref = check.reference_fold(ob.itertuples(index=False), datagen.ORDER_COLUMNS)
            fold = pq.read_table(r.dir + "/fold").to_pandas()
            got = {row[0]: tuple(row[1:]) for row in
                   fold[["key", *datagen.ORDER_COLUMNS]].itertuples(index=False)}
            out["fold_mismatches"] += check.fold_mismatches(got, ref)
        out["failed"] += out["fold_mismatches"]
        return out

    def layers(self, spark, reps, tracer):
        out = super().layers(spark, reps, tracer)
        last = reps[-1]
        snapshot_rows = self.n_keys
        out["snapshot.busy_s"] = median([s.seconds for s in tracer.named("bootstrap_outbox")])
        out["snapshot.events_out"] = float(snapshot_rows)
        out["snapshot.outbox_bytes"] = float(
            sum(os.path.getsize(os.path.join(last.dir, "outbox", f)) for f in last.snapshot_files)
        )
        out["diff.busy_s"] = median([s.seconds for s in tracer.named("capture_changes")])
        out["diff.changes_in"] = float(self.n_changes)
        out["diff.events_out"] = float(last.produced - snapshot_rows)
        out["diff.useful_ratio"] = (last.produced - snapshot_rows) / self.n_changes
        with tracer.span("probe.from_wire") as sp:
            self.consumer_feed(spark, last.dir + "/sink").write.format("noop").mode(
                "overwrite").save()
        out["fold.decode_s"] = sp.seconds
        out["fold.busy_s"] = median([s.seconds for s in tracer.named("fold")])
        out["fold.keys_out"] = float(spark.read.parquet(last.dir + "/fold").count())
        return out


class LiveTail(Workload):
    name = "live_tail"
    data_ddl = datagen.ORDERS_DDL
    rate = 2_500  # about half of what the relay sustains on 4 cores
    files_per_s = 10
    n_keys = 50_000
    lead_s = 2.0  # excluded from the window: the new query's first batches
    warm_s = 3.0
    backlog_appends = 20  # backlog_end_events averages over the last 20 appends

    def warmup(self, spark: SparkSession) -> None:
        self._window(spark, self.rep_dir(), self.warm_s, 0.0, NULL_TRACER, self.seed + 1)

    def measure(self, spark, seconds, tracer=NULL_TRACER):
        return [self._window(spark, self.rep_dir(), seconds, self.lead_s, tracer, self.seed)]

    def _window(self, spark, rep_dir, seconds, lead, tracer, seed) -> Rep:
        relay = Relay(spark, rep_dir, tracer)
        os.makedirs(relay.outbox)
        log = os.path.join(rep_dir, "generator.jsonl")
        with tracer.span("rep"), tracer.span("start_relay") as sp:
            relay.span_id = sp.id
            relay.start(available_now=False)
            start = time.time() + 1.0
            gen = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "loadgen.py"), "--outbox", relay.outbox,
                 "--log", log, "--seed", str(seed), "--start", repr(start),
                 "--seconds", repr(lead + seconds), "--rate", str(self.rate),
                 "--files-per-s", str(self.files_per_s), "--keys", str(self.n_keys)],
            )
            try:
                gen.wait(timeout=lead + seconds + 60)
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            if gen.returncode != 0:
                relay.query.stop()
                raise RuntimeError(f"generator exited with {gen.returncode}")
            with open(log) as fh:
                files = [json.loads(line) for line in fh]
            total = sum(f["rows"] for f in files)
            deadline = time.time() + 60
            while relay.delivered_rows() < total:
                if time.time() > deadline or relay.query.exception() is not None:
                    relay.query.stop()
                    raise RuntimeError(f"relay did not catch up: {relay.query.exception()}")
                time.sleep(0.05)
            relay.query.stop()
        timed = [f for f in files if f["due"] >= start + lead - 1e-6]
        return Rep(rep_dir, sum(f["rows"] for f in timed), total, timed[0]["due"],
                   timed[0]["due"], 0.0, relay.batches, progress_rows(relay.query),
                   files=files, timed=timed)

    def settle(self, groups, reps, verdict):
        """Each generator file lands in one micro-batch and carries one
        ``created_at`` (its due time), so groups map back to files."""
        for i, rep in enumerate(reps):
            rep.file_done = {ts: rep.batches[b][1] for rp, b, ts, _n, _ in groups if rp == i}
            rep.t_end = max(rep.file_done[int(f["due"] * 1e6)] for f in rep.timed)
        lat = self.latencies(groups, reps)
        verdict["deliver_samples"] = sum(n for p in lat for _, n in p)
        return {
            "deliver_p50_ms": median([weighted_percentile(p, 50) for p in lat]),
            "deliver_p99_ms": median([weighted_percentile(p, 99) for p in lat]),
            "backlog_end_events": median([self.backlog_end(r) for r in reps]),
        }

    def latencies(self, groups, reps):
        """Per rep, ``(delivery latency ms, events)`` pairs: the sink
        write return of the event's batch minus its ``created_at``. Only
        events due inside the timed window count."""
        out = []
        for i, rep in enumerate(reps):
            due = {int(f["due"] * 1e6) for f in rep.timed}
            out.append([
                ((rep.batches[b][1] - ts / 1e6) * 1e3, n)
                for rp, b, ts, n, _ in groups
                if rp == i and ts in due
            ])
        return out

    def _outstanding(self, rep: Rep, at: float) -> tuple[int, int]:
        """(events, files) appended by ``at`` and not yet delivered."""
        events = files = 0
        for f in rep.files:
            if f["done"] <= at < rep.file_done[int(f["due"] * 1e6)]:
                events += f["rows"]
                files += 1
        return events, files

    def backlog_end(self, rep: Rep) -> float:
        """Outstanding events right after each of the generator's last
        appends, averaged (one instant would only sample where the
        relay's trigger cycle happened to be)."""
        last = rep.timed[-self.backlog_appends:]
        return sum(self._outstanding(rep, f["done"])[0] for f in last) / len(last)

    def backlog_files_max(self, rep: Rep) -> int:
        return max(self._outstanding(rep, f["done"])[1] for f in rep.timed)

    def single_core(self, spark: SparkSession) -> float:
        """``local[1]`` drain of the window's outbox (the live window
        itself cannot run single-core at the same rate)."""
        relay = Relay(spark, self.rep_dir(), NULL_TRACER)
        relay.outbox = os.path.join(self.run_dir, f"rep{self.reps_made - 1:03d}", "outbox")
        t0 = time.time()
        relay.drain()
        return relay.delivered_rows() / (relay.last_return() - t0)

    def layers(self, spark, reps, tracer):
        rep = reps[0]
        out = super().layers(spark, reps, tracer)
        out["generator.late_ms_max"] = max((f["done"] - f["due"]) * 1e3 for f in rep.timed)
        # The relay runs through the whole window; the time it did not
        # spend in triggers it spent waiting for input.
        lo, hi = rep.t_first, rep.t_end
        busy = sum(
            p["durationMs"]["triggerExecution"] / 1e3 for p in rep.progress
            if lo <= _progress_epoch(p) <= hi
        )
        out["trace.gap_s"] = (hi - lo) - busy
        return out


WORKLOADS = {w.name: w for w in (UpdateStorm, LiveTail)}
