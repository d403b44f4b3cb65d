"""Self-test of the CDC relay benchmark.

Every workload runs clean at a tiny size (the analogue of TPC-H
sf0.001), and the delivery checker flags a dropped event, a per-key
swap, a changed untracked-table payload and a redelivery planted in a
sink that was delivered correctly.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from perfbench import check, datagen
from perfbench.run import END_TO_END, WORKLOAD_NAMES, untraced
from perfbench.trace import NULL_TRACER, Tracer
from perfbench.workloads import WORKLOADS

TINY = {
    "update_storm": {"n_keys": 300, "n_changes": 1_500, "outbox_files": 4},
    "live_tail": {"rate": 500, "lead_s": 1.0, "warm_s": 1.0},
}
WINDOW_S = {"update_storm": 0.0, "live_tail": 2.5}


def tiny(name: str, run_dir: str, seed: int = 7):
    w = WORKLOADS[name](os.path.join(run_dir, f"{name}-{seed}"), seed)
    for k, v in TINY[name].items():
        setattr(w, k, v)
    w.prepare()
    return w


@pytest.mark.parametrize("name", WORKLOAD_NAMES)
def test_workload_runs_clean(spark, run_dir, name):
    w = tiny(name, run_dir)
    w.warmup(spark)
    out, verdict = untraced(w, spark, run_dir, WINDOW_S[name], setup_s=1.0)
    assert out["correct"] and verdict["produced"] > 0, verdict
    assert verdict["dups"] == 0, verdict
    assert sorted(out["metrics"]) == sorted(k for k, _unit in END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values()), out
    tracer = Tracer()
    reps = w.measure(spark, WINDOW_S[name], tracer)
    assert w.report(spark, reps)[1]["failed"] == 0
    layers = w.layers(spark, reps, tracer)
    assert layers["relay.batches"] >= 1
    assert layers["wire.encode_s"] > 0 and layers["wire.order_s"] > 0
    assert {s.name for s in tracer.spans} >= {"rep", "start_relay", "foreach_batch"}


@pytest.fixture(scope="module")
def delivered(spark, run_dir):
    """One correctly delivered update_storm rep: its outbox rows and
    its raw sink frame."""
    w = tiny("update_storm", run_dir, seed=11)
    rep = w.rep(spark, w.rep_dir(), NULL_TRACER)
    outbox = check.outbox_rows(check.read_outbox(spark, rep.dir + "/outbox"), w.data_ddl)
    return outbox, check.read_sink(spark, rep.dir + "/sink"), w.data_ddl


def _report(delivered, sink):
    outbox, _sink, ddl = delivered
    return check.delivery_report(outbox, check.sink_rows(sink, ddl))


def test_clean_sink_passes(delivered):
    r = _report(delivered, delivered[1])
    assert r["failed"] == 0 and r["produced"] == r["deliveries"] > 0


def test_dropped_event_is_flagged(delivered):
    sink = delivered[1]
    first = sink.agg(F.min("pos")).first()[0]
    r = _report(delivered, sink.where(F.col("pos") != first))
    assert r["missing"] == 1 and r["failed"] == 1, r


def test_per_key_swap_is_flagged(delivered):
    sink = delivered[1]
    pair = (
        sink.groupBy("batch_id", "key")
        .agg(F.count(F.lit(1)).alias("n"), F.min("pos").alias("a"), F.max("pos").alias("b"))
        .where((F.col("n") == 2) & F.col("key").isNotNull())
        .first()
    )
    assert pair is not None
    pos = F.col("pos")
    swapped = sink.withColumn(
        "pos", F.when(pos == pair.a, pair.b).when(pos == pair.b, pair.a).otherwise(pos)
    )
    r = _report(delivered, swapped)
    assert r["reordered"] == 1 and r["failed"] == 1, r


def test_untracked_payload_change_is_flagged(delivered):
    """The payload of an ``audit_log`` row (NULL key) is checked too."""
    sink = delivered[1]
    first = sink.where(F.col("key").isNull()).agg(F.min("pos")).first()[0]
    assert first is not None
    value = F.regexp_replace("value", '"a_amount":', '"a_amount":1')
    changed = sink.withColumn(
        "value", F.when(F.col("pos") == first, value).otherwise(F.col("value"))
    )
    r = _report(delivered, changed)
    assert r["mismatched"] == 1 and r["failed"] == 1, r


def test_redelivery_is_counted_not_failed(delivered):
    sink = delivered[1]
    first = sink.agg(F.min("pos")).first()[0]
    again = sink.where(F.col("pos") == first).withColumn("pos", F.lit(1 << 62))
    r = _report(delivered, sink.unionByName(again))
    assert r["dups"] == 1 and r["failed"] == 0, r


def test_fold_mismatch_is_flagged():
    rows = [
        ("1", 1, "INSERT", '{"a": 1, "b": "x"}'),
        ("1", 3, "UPDATE", '{"b": null}'),
        ("2", 2, "INSERT", '{"a": 2, "b": "y"}'),
        ("2", 4, "DELETE", "{}"),
    ]
    ref = check.reference_fold(rows, ("a", "b"))
    assert ref == {"1": (1, None)}
    assert check.fold_mismatches({"1": ("1", None)}, ref) == 0
    assert check.fold_mismatches({"1": ("1", "x")}, ref) == 1
    assert check.fold_mismatches({"1": ("1", None), "2": ("2", "y")}, ref) == 1


def test_inputs_follow_the_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    datagen.write_order_changes(a, 200, 1_000, seed=3)
    datagen.write_order_changes(b, 200, 1_000, seed=3)
    datagen.write_order_changes(c, 200, 1_000, seed=4)
    ta, tb, tc = (pq.read_table(os.path.join(d, "orders")) for d in (a, b, c))
    assert ta.equals(tb)
    assert not ta.equals(tc)
