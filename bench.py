"""Analytics benchmark — times every registered query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line on stdout:

    {"metric": "total_query_wall_seconds", "value": N, "unit": "sec",
     "queries": {name: best_secs}, "query_stats": {...}, "sf": ...,
     "warmup_secs": N, "errors": {name: traceback}}

``errors`` is present only when a query failed. Nothing is written to
disk. The relay's own benchmark is ``perfbench/`` (``make perf``).

Each query executes end-to-end into the ``noop`` sink: the full plan
runs (scan → shuffle → agg/window), nothing is converted to Python
rows — measuring collect() would benchmark Py4J serialization of
result sets, not the engine.

* **Per-plan warmup at sf0.001.** First execution of a plan pays a
  fixed JVM cost — Janino compilation of the generated projection plus
  C2 JIT of the interpreted higher-order-function eval chain — that is
  keyed to the PLAN SHAPE, not the data (measured: ~3 s for the deep
  portable-hash expression tree, after which the same plan over 100×
  the rows runs in 0.3 s). Running every query once at the smallest
  scale factor compiles/JITs every plan for pennies, so the timed
  section measures the plans, not the JVM.

* **Best-of-2 at the target scale factor** — the min is the engine's
  capability; single-run local timings have multi-second noise on a
  shared host. ``query_stats`` reports {best, median, runs} per query
  plus each rep's JIT-compile and GC milliseconds (two JMX reads per
  rep), which split a slow rep into "compile storm" (JIT delta ≈ the
  stall) and "interpreted path" (flat JIT, high wall).

* **stdout discipline.** Spark and Ivy write banners to fd 1, so fd 1
  points at stderr for the whole run (JVM-side writes included) and
  the result line goes to the saved real stdout at the end.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

WARM_SF_DIR = "/root/testdata/sf0.001"
REPS = 2


def main() -> int:
    # Claim the real stdout before anything (Spark/Ivy/JVM) can write
    # to it; everything else in the process now goes to stderr.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pg2kafka_spark.operators.dedup import release_sketch_caches
    from pg2kafka_spark.session import get_spark

    spark = get_spark("pg2kafka_spark-bench")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    def run(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    # Warm-up: execute EVERY query once at sf0.001. This compiles the
    # generated code and JITs the interpreted-expression paths for
    # every plan shape (plan-keyed, so it carries over to the target
    # sf) and starts the Arrow Python worker pool for the
    # mapInPandas/applyInPandas queries. Warmup runs CONCURRENTLY
    # (Spark's scheduler interleaves independent jobs fine): each
    # plan's cost is fixed per-plan work, so 8 threads cut the wall
    # ~6× (measured 119 s → ~20 s for 114 plans). Results are
    # discarded, so the usual per-query cache release is deferred to
    # one sweep at the end — the sf0.001 intermediates are tiny.
    from concurrent.futures import ThreadPoolExecutor

    errors: dict[str, str] = {}
    t_warm = time.perf_counter()

    def warm(name: str) -> None:
        try:
            spark.sparkContext.setJobDescription(f"{name}#warm")
            run(qs[name](spark, WARM_SF_DIR))
        except Exception:
            errors[name] = f"warmup: {traceback.format_exc(limit=3)}"

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(warm, sorted(qs)))
    release_sketch_caches()
    warm_secs = round(time.perf_counter() - t_warm, 2)
    print(f"[bench] warmup pass ({len(qs)} plans @ sf0.001): {warm_secs}s",
          file=sys.stderr)

    _jmf = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
    )

    def _jit_gc_ms() -> tuple[int, int]:
        jit = _jmf.getCompilationMXBean().getTotalCompilationTime()
        gc = sum(
            g.getCollectionTime()
            for g in _jmf.getGarbageCollectorMXBeans().toArray()
        )
        return int(jit), int(gc)

    timings: dict[str, float] = {}
    stats: dict[str, dict] = {}
    for name in sorted(qs):
        if name in errors:
            continue
        runs: list[float] = []
        rep_jit: list[int] = []
        rep_gc: list[int] = []
        try:
            for rep in range(REPS):
                # label jobs so an event-log pass (tools/evlog_stages.py)
                # can attribute a slow rep
                spark.sparkContext.setJobDescription(f"{name}#rep{rep}")
                df = qs[name](spark, sf_dir)
                j0, g0 = _jit_gc_ms()
                t0 = time.perf_counter()
                run(df)
                runs.append(round(time.perf_counter() - t0, 4))
                j1, g1 = _jit_gc_ms()
                rep_jit.append(j1 - j0)
                rep_gc.append(g1 - g0)
                # drop persisted sketch intermediates between runs so
                # the suite measures each query cold and storage never
                # accrues
                release_sketch_caches()
        except Exception:
            errors[name] = traceback.format_exc(limit=3)
            continue
        timings[name] = min(runs)
        stats[name] = {
            "best": min(runs),
            "median": round(sum(runs) / len(runs), 4),
            "runs": runs,
            "rep_jit_ms": rep_jit,
            "rep_gc_ms": rep_gc,
        }

    payload: dict = {
        "metric": "total_query_wall_seconds",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "query_stats": stats,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "warmup_secs": warm_secs,
    }
    if errors:
        payload["errors"] = errors

    spark.stop()
    os.write(real_stdout, (json.dumps(payload) + "\n").encode())
    # rc stays 0 on per-query errors: a parseable line with an
    # "errors" field beats an rc=1 with no result. A total crash still
    # raises out of main().
    return 0


if __name__ == "__main__":
    sys.exit(main())
