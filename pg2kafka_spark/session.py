"""SparkSession factory.

Single place where every entry point (tests, bench, driver harness)
builds its session, so scale-relevant knobs are set once:

* AQE on (Spark's default, not restated here; runtime re-plan:
  partition coalescing, skew-join splitting, dynamic broadcast) — at
  100 TB the static plan is always wrong somewhere; AQE fixes it from
  runtime stats.
* ``spark.sql.shuffle.partitions`` sized to local cores here; on a real
  cluster this is overridden to ~2-3× total cores (AQE coalescing makes
  over-partitioning cheap, under-partitioning is what kills you).
* Arrow on for every pandas interchange (Pandas UDFs, toPandas).
* Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive parquet timestamps).
* The driver JVM's C2 (tier-4) compile thresholds at ten times the
  JDK 17 defaults (:data:`DRIVER_JIT_OPTIONS`). A relay micro-batch
  touches a wide surface of lukewarm Spark, Hadoop and checkpoint code
  once per batch, and at the default thresholds C2 keeps compiling it:
  on 4 cores, JIT compile time was 16 s of a 12 s ``live_tail``
  window's 27 CPU-seconds, and 7 s at ×10. Code is still C1-compiled
  at once, and hot per-row loops (``update_storm``'s encode and fold)
  still reach C2 within a batch. perfbench A/B on 4 cores, alternating
  pairs: ``live_tail`` ``cpu_us_per_event`` median 783 -> 573 (-27%,
  10 of 10 pairs); ``update_storm`` ``events_per_s`` within its
  run-to-run spread (5 pairs, paired median -2%). ×5 saved about two
  thirds as much; ×20 saved a little more on ``live_tail`` and read
  10-18% lower on ``update_storm`` ``events_per_s``. The options apply
  only when ``get_spark`` launches the JVM; a call that reuses a
  running JVM keeps that JVM's flags. They are passed as
  ``spark.driver.defaultJavaOptions``, which Spark places ahead of a
  caller's ``spark.driver.extraJavaOptions``, so both hold. To
  override them, pass ``spark.driver.defaultJavaOptions`` through
  ``extra_conf`` (or ``--conf`` to ``spark-submit``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# C2 (tier-4) thresholds at ten times the JDK 17 defaults (5000, 600,
# 15000, 40000); see the module docstring for why and the A/B.
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def get_spark(
    app_name: str = "pg2kafka_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the canonical session.

    ``local[cpus]`` single-JVM for tests/bench; the same config block is
    what we would ship on a 1000-executor cluster minus master/memory.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- shuffle sizing: match parallelism, let AQE coalesce down ---
        # (local[cpus] already makes the default parallelism cpus)
        .config("spark.sql.shuffle.partitions", str(cpus))
        # --- adaptive execution: runtime re-plan from real stats. AQE,
        # its partition coalescing and its skew-join splitting are on
        # by Spark's defaults, so they are not restated here. ---
        # parallelismFirst stays at its DEFAULT (true). r19 tried
        # false (respect advisoryPartitionSizeInBytes when coalescing,
        # per the AQE docs' production note) and it lost badly on
        # measurement: AQE sizes the post-shuffle stage by MAP OUTPUT
        # BYTES, so any reduce stage whose compute is much heavier
        # than its input bytes — the pair-explode after the baskets
        # aggregate (part_pair_cooccurrence, ~20× row blow-up in
        # Generate), the diff-replay fold, the shingle self-join —
        # coalesced to ONE task and ran single-threaded. 2×4-session
        # alternating A/B over 15 queries: false 15.56 s vs true
        # 12.07 s (−29%); worst rows part_pair_cooccurrence 2.17×,
        # replayed_state_from_diffs 2.92×, shingle_jaccard_pairs
        # 1.69× — nothing outside noise favored false. The hazard is
        # scale-independent in kind (bytes are the wrong proxy for
        # generate-heavy stages), so the default holds in production
        # too.
        # --- joins: allow shuffled-hash where its size conditions hold
        # (guide §3.1/§9). The planner still requires the build side to
        # fit a per-partition hash map, and AQE additionally rewrites a
        # planned sort-merge join to shuffled-hash at runtime only when
        # EVERY post-shuffle build partition is under the 128 MB bound —
        # a per-task memory cap that holds at any data scale, not a
        # local tuning. Measured on the 12 SMJ-planning bench queries:
        # 10 faster (−9.5% total), 2 within noise; the one apparent
        # regression (daily_ingest_keep_list) re-probed faster under
        # every SHJ variant in a 4-rep isolated A/B.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(128 * 1024 * 1024),
        )
        # --- broadcast: dims (region/nation/customer/supplier/part at
        # test SF) should broadcast; 64 MB is safe on 128 GiB heap and
        # right for real clusters with 8-16 GiB executors ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python interchange is Arrow-batched, never pickled rows ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Larger Arrow batches amortize the per-batch JVM↔Python
        # crossing for the narrow-row kernels (minhash folds, BPE
        # encode, media fingerprints): 7/9 pandas-UDF bench queries
        # faster, set −5% (guide §4.2). Memory stays bounded because
        # Spark 4's spark.sql.execution.arrow.maxBytesPerBatch
        # (default 64 MB) closes a batch at whichever limit hits
        # first — wide text/binary rows cannot blow up a worker.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # --- deterministic timestamp semantics (parity with DuckDB oracle) ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- TIMESTAMP(NANOS) parquet (events.ts) reads as LONG ns;
        # the catalog converts to µs timestamps explicitly ---
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- shuffle writer: always the sort-based writer (r19).
        # Below 200 reduce partitions Spark picks the bypass writer,
        # which creates one file PER REDUCE PARTITION per map task and
        # then concatenates them — thread dumps of the r19 baseline
        # bench showed 30/32 executor threads inside that concat
        # (copyFileStreamNIO under BypassMergeSortShuffleWriter) on
        # every small exchange (~32×32 file creates+copies per
        # shuffle). A production cluster runs shuffle.partitions at
        # 2-3× total cores (≫200), so the bypass writer never engages
        # there; forcing the sort writer makes local runs take the
        # same single-spill-file-per-map-task path production takes.
        # Measured: −22% over a 15-query mixed probe, −46% on
        # minhash_lsh_pairs, no regression beyond noise.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        # --- quieter local runs ---
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # --- driver JIT: keep lukewarm per-batch code out of C2 ---
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
    )
    # Forensics switch (r14): SPARK_GRAFT_EVENTLOG=<dir> writes the
    # event log so an intermittent stall rep (the interpreted-path
    # class, BASELINE.md r13→r14 adjudication) can be root-caused from
    # per-stage task CPU after the fact — the r12 playbook, now one
    # env var away for bench/probe runs. Off by default (costs disk).
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", ev_dir)
            # plain JSON lines: the forensics parser (tools/
            # evlog_stages.py) reads them directly; this container has
            # no python zstandard module
            .config("spark.eventLog.compress", "false")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
