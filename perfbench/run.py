"""CDC relay benchmark: one command per workload.

Run from the root of a checkout::

    python3 perfbench/run.py --workload update_storm --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics of an untraced window;
``--trace 1`` prints the per-layer metrics of a traced window (plus an
untraced one of the same length, for the tracing overhead, and a
``local[1]`` rep as the single-threaded baseline). The last line of
stdout is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``; the line before it holds the correctness report and
the figures that are not metrics (sample counts, failed/dup shares).

Every file the run makes (inputs, outboxes, checkpoints, sinks, Spark
local dirs, the event log) lives in a fresh directory under
``.perfbench_runs/`` in the checkout and is removed at the end; only a
traced run's spans are kept, in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("update_storm", "live_tail")
# Well below the host's RAM (the session default is 16g), with headroom
# over what update_storm's driver peaks at, so the peak reflects demand.
DRIVER_MEM = "4g"
END_TO_END = (
    ("events_per_s", "events/s"),
    ("cpu_us_per_event", "us"),
    ("setup_s", "s"),
)
# live_tail's delivery figures: they follow the host's load too closely
# to carry a bound (per-layer in a traced run, 0 on update_storm)
TAIL_ONLY = ("deliver_p50_ms", "deliver_p99_ms", "backlog_end_events")


def log(msg: str) -> None:
    """Progress on stderr (stdout carries the result)."""
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def pin_environment(run_dir: str, eventlog: bool) -> None:
    """Everything the session reads from the environment, fixed here
    before the package is imported (it reads ``SPARK_GRAFT_CPUS`` at
    import)."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
    if eventlog:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(run_dir, "eventlog")


def start_session(run_dir: str, cpus: int | None = None):
    from pg2kafka_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # the relay metrics read every micro-batch's progress record
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )


def stop_session(jvm_too: bool) -> None:
    """Stop the running session; with ``jvm_too`` also end the driver
    JVM and wait for it, so the next start pays a full JVM launch."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if not jvm_too or gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
            raise


def setup(workload, run_dir: str):
    """A fresh driver JVM (``get_spark``) plus the workload's untimed
    warm-up pass. Returns the session and the set-up time."""
    t0 = time.perf_counter()
    spark = start_session(run_dir)
    t1 = time.perf_counter()
    workload.warmup(spark)
    setup_s = time.perf_counter() - t0
    log(f"set up in {setup_s:.2f} s (session {t1 - t0:.2f} s)")
    return spark, setup_s


def untraced(workload, spark, run_dir: str, seconds: float, setup_s: float) -> dict:
    from perfbench.trace import cpu_jiffies, cpu_seconds, jvm_peak_rss_mb, jvm_pid

    pids = (os.getpid(), jvm_pid(spark))  # the relay: driver JVM and its Python callbacks
    steal0, total0 = cpu_jiffies()
    cpu0 = cpu_seconds(pids)
    reps = workload.measure(spark, seconds)
    cpu1 = cpu_seconds(pids)
    steal1, total1 = cpu_jiffies()
    peak_rss_mb = jvm_peak_rss_mb(spark)  # before the check's own Spark jobs
    metrics, verdict = workload.report(spark, reps)
    metrics["cpu_us_per_event"] = (cpu1 - cpu0) / sum(r.produced for r in reps) * 1e6
    verdict.update({k: metrics[k] for k in TAIL_ONLY if k in metrics})
    # too noisy to bound (G1 grows the heap in uneven steps); reported
    verdict["peak_rss_mb"] = round(peak_rss_mb, 1)
    # not a metric: how much of the window the host gave to others
    verdict["cpu_steal_share"] = round((steal1 - steal0) / max(total1 - total0, 1), 4)
    log(f"{len(reps)} reps at {[round(r.events_per_s) for r in reps]} events/s, checked")
    metrics["setup_s"] = setup_s
    return result(metrics, verdict, dict(END_TO_END)), verdict


COUNTS = ("produced", "missing", "extra", "mismatched", "reordered", "deliveries", "dups",
          "failed", "deliver_samples")


def traced(workload, spark, run_dir: str, seconds: float) -> dict:
    from perfbench import trace
    from tools.evlog_stages import _events_file

    half = seconds / 2.0
    base = workload.measure(spark, half)
    base_metrics, base_verdict = workload.report(spark, base)
    tracer = trace.Tracer()
    reps = workload.measure(spark, half, tracer)
    peak_rss_mb = trace.jvm_peak_rss_mb(spark)
    metrics, verdict = workload.report(spark, reps)
    layers = workload.layers(spark, reps, tracer)
    layers["trace.overhead_ratio"] = metrics["events_per_s"] / base_metrics["events_per_s"]
    layers.update({k: metrics.get(k, 0.0) for k in TAIL_ONLY})
    layers["wire.bytes_out"] = float(verdict["bytes_out"])
    layers["peak_rss_mb"] = peak_rss_mb
    # both windows are checked; the run's counts cover both
    verdict.update({k: verdict.get(k, 0) + base_verdict.get(k, 0) for k in COUNTS})
    layers["failed_share"] = verdict["failed"] / verdict["produced"]
    layers["dup_share"] = verdict["dups"] / verdict["produced"]
    layers["spark.failed_tasks"] = float(trace.failed_tasks(spark))
    layers.update(
        trace.shuffle_stats(
            _events_file(os.environ["SPARK_GRAFT_EVENTLOG"]),
            [(r.t_relay_start, max(ret for _, ret in r.batches.values())) for r in reps],
        )
    )
    stop_session(jvm_too=False)
    layers["relay.single_core_events_per_s"] = workload.single_core(
        start_session(run_dir, cpus=1)
    )
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"trace-{workload.name}-{workload.seed}.jsonl"))
    return result(layers, verdict, dict(PER_LAYER)), verdict


PER_LAYER = (
    ("peak_rss_mb", "MB"),
    ("deliver_p50_ms", "ms"),
    ("deliver_p99_ms", "ms"),
    ("backlog_end_events", "events"),
    ("snapshot.busy_s", "s"),
    ("snapshot.events_out", "events"),
    ("snapshot.outbox_bytes", "bytes"),
    ("diff.busy_s", "s"),
    ("diff.changes_in", "rows"),
    ("diff.events_out", "events"),
    ("diff.useful_ratio", "ratio"),
    ("relay.batches", "count"),
    ("relay.rows_per_batch_p50", "rows"),
    ("relay.trigger_ms_p50", "ms"),
    ("relay.trigger_ms_p99", "ms"),
    ("relay.add_batch_ms_p50", "ms"),
    ("relay.latest_offset_ms_p50", "ms"),
    ("relay.query_planning_ms_p50", "ms"),
    ("relay.wal_commit_ms_p50", "ms"),
    ("relay.commit_offsets_ms_p50", "ms"),
    ("relay.backlog_files_max", "files"),
    ("relay.single_core_events_per_s", "events/s"),
    ("wire.sink_write_ms_p50", "ms"),
    ("wire.encode_s", "s"),
    ("wire.order_s", "s"),
    ("wire.bytes_out", "bytes"),
    ("wire.shuffle_write_bytes", "bytes"),
    ("wire.partition_skew", "ratio"),
    ("wire.order_tasks_p50", "count"),
    ("fold.decode_s", "s"),
    ("fold.busy_s", "s"),
    ("fold.keys_out", "keys"),
    ("spark.failed_tasks", "count"),
    ("generator.late_ms_max", "ms"),
    ("trace.overhead_ratio", "ratio"),
    ("trace.gap_s", "s"),
    ("failed_share", "ratio"),
    ("dup_share", "ratio"),
)


def result(values: dict, verdict: dict, units: dict) -> dict:
    """The benchmark's last line. A run with any failed event is
    marked incorrect, whatever its timings."""
    return {
        "correct": verdict["failed"] == 0 and verdict["produced"] > 0,
        "attempted": int(verdict["produced"]),
        "failed": int(verdict["failed"]),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def main() -> int:
    p = argparse.ArgumentParser(description="CDC relay benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "pg2kafka_spark")):
        sys.exit(f"perfbench: no pg2kafka_spark package under {ROOT}; run from a checkout")

    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    try:
        pin_environment(run_dir, eventlog=bool(args.trace))
        sys.path.insert(0, ROOT)
        from perfbench.workloads import WORKLOADS

        workload = WORKLOADS[args.workload](run_dir, args.seed)
        workload.prepare()
        log("inputs written")
        try:
            spark, setup_s = setup(workload, run_dir)
            if args.trace:
                out, verdict = traced(workload, spark, run_dir, args.seconds)
            else:
                out, verdict = untraced(workload, spark, run_dir, args.seconds, setup_s)
        finally:
            stop_session(jvm_too=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(verdict), flush=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
