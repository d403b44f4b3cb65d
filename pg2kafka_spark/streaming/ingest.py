"""Continuous corpus ingest: the daily-ingest dedup pipeline as a
Structured Streaming loop with a SELF-MAINTAINING store.

The batch operators (`incremental_exact_dedup`, `incremental_near_dup`)
are pure — they take the store as an input frame. This module closes
the loop the way a production crawl-ingest service runs it: each
micro-batch is gated → exact-deduped within the batch → anti-joined
against the accumulated fingerprint store → near-dup-verified against
the accumulated document store, and the SURVIVORS are appended back to
the store before the next micro-batch runs. A near-duplicate arriving
two waves after its original is rejected because the store grew in
between — state the stream itself maintains, not a static side input.

Delivery contract (mirrors the reference's at-least-once relay,
pg2kafka main.go: the producer retries and the consumer dedups): the
two appends inside foreachBatch are NOT transactional with the
checkpoint, so a crash can replay a batch. Write order makes every
crash window an at-least-once window, never a loss window: keep_dir
(batch_id-stamped) is written FIRST, the store append second. Crash
after keep_dir but before the store append → the replay re-runs
against the UNGROWN store, survivors pass the gate again, and
keep_dir gets a batch_id-fenced duplicate. Crash after both writes
(before checkpoint commit) → replayed survivors hit their own
fingerprints in the store and are dropped; keep_dir again at worst
holds a fenced duplicate. Duplicate (doc_id, fp) STORE rows from the
first window are harmless: every consumer of the store reads it
through the dedup operators, which key on fp. Downstream
exactly-once consumers fence on batch_id, the same uuid-fencing
contract as the wire events.

Scale notes: at 100 TB the store is a parquet table partitioned/
bucketed on the fingerprint (exact side) and (band, bkey) (near-dup
side) so both joins co-locate; the micro-batch side is one
trigger-worth of crawl output, small by construction. The hot-band
cap inside `incremental_near_dup` bounds the corpus-age-dependent
candidate blowup per batch.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from pg2kafka_spark.operators.dedup import (
    incremental_exact_dedup,
    incremental_near_dup,
)
from pg2kafka_spark.operators.text import fingerprint
from pg2kafka_spark.streaming.relay import read_file_stream, start_stream


def _store_or_empty(
    spark: SparkSession, store_dir: str, like: DataFrame
) -> DataFrame:
    """The accumulated keep-store, or an empty frame with the batch
    schema on the very first micro-batch (no store written yet).

    Only the path-missing case maps to "empty store": any OTHER read
    failure (corrupt footer, permissions, FS hiccup) must raise so the
    micro-batch fails and the checkpoint retries it — silently treating
    a transient read error as an empty store would let that batch's
    duplicates through the dedup gate AND append them to the store.
    """
    if not os.path.isdir(store_dir):
        return spark.createDataFrame([], like.schema)
    try:
        return spark.read.parquet(store_dir)
    except AnalysisException as exc:
        # Directory exists but holds no parquet footers yet (e.g. only
        # a leftover _SUCCESS/_temporary): PATH_NOT_FOUND-class errors
        # are the empty-store case; everything else propagates. Match
        # on the STRUCTURED error class (stable across Spark
        # versions/locales), falling back to the message substring only
        # when the accessor is unavailable (older PySpark).
        cond = None
        for attr in ("getCondition", "getErrorClass"):
            fn = getattr(exc, attr, None)
            if callable(fn):
                try:
                    cond = fn()
                except Exception:
                    cond = None
                if cond is not None:
                    break
        empty_classes = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
        if cond is not None:
            if any(cond.startswith(c) for c in empty_classes):
                return spark.createDataFrame([], like.schema)
            raise
        if any(c in str(exc) for c in empty_classes):
            return spark.createDataFrame([], like.schema)
        raise


def _reattach_bucketed_store(
    spark: SparkSession,
    table: str,
    path: str,
    schema,
    n_buckets: int,
    key: str | tuple[str, ...] = "fp",
) -> bool:
    """Re-attach the external bucketed store after a driver restart.

    Bucket metadata lives in the session catalog (non-persistent by
    default), so a restarted driver sees data files at ``path`` but no
    table — and treating that window as "empty store" would let every
    historical duplicate through the dedup gate PERMANENTLY (they'd be
    appended to the store as fresh survivors). Recreate the catalog
    pointer over the existing files instead: bucket ids are encoded in
    the file names (``..._00003.c000``), so the re-registered scan
    keeps the shuffle-free plan, and the crash contract stays what the
    module docstring promises. Returns True when a table was attached,
    False when ``path`` genuinely holds no data yet (first-ever batch).

    On a real deployment a persistent metastore makes this a no-op —
    the guard costs one directory listing either way.
    """
    if not os.path.isdir(path) or not any(
        name.endswith(".parquet")
        for name in os.listdir(path)
        if not name.startswith(("_", "."))
    ):
        return False
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    keys = (key,) if isinstance(key, str) else tuple(key)
    key_ddl = ", ".join(f"`{k}`" for k in keys)
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING parquet "
        f"CLUSTERED BY ({key_ddl}) INTO {int(n_buckets)} BUCKETS "
        f"LOCATION '{path}'"
    )
    return True


def ingest_keep_batch(
    batch_df: DataFrame,
    store_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    min_tokens: int = 3,
    store_bands: DataFrame | None = None,
) -> DataFrame:
    """One micro-batch of the ingest pipeline against the current
    store: short-doc gate → within-batch exact dedup + store
    fingerprint anti-join → near-dup verification against the store.
    Pure (no writes) — the streaming wrapper owns the store append,
    and the sequential-batch equivalence test drives this directly.

    ``store_bands`` is the maintained (id, band, bkey) LSH-key table
    (the ``band_table`` mode of :func:`start_ingest_stream`): with it,
    the near-dup stage joins the batch's band keys against
    already-computed store keys and touches store TEXT only for the
    docs the join hit — per-batch work O(batch + matches). Without
    it the near-dup stage re-minhashes the accumulated store's text
    every batch (correct, but O(store) per batch).
    """
    gated = batch_df.filter(
        F.size(F.split(F.col(text_col), " ")) >= int(min_tokens)
    )
    # A store that carries a precomputed `fp` column (the bucketed
    # layout writes one) serves the anti-join WITHOUT re-hashing the
    # whole store's text each batch — and when the store is bucketed
    # on fp, the distinct AND the store side of the anti-join consume
    # the scan in place (zero store-side Exchange, pinned by
    # tests/test_streaming.py).
    if "fp" in store_df.columns:
        store_fps = store_df.select("fp").distinct()
    else:
        store_fps = store_df.select(
            fingerprint(F.col(text_col)).alias("fp")
        ).distinct()
    fresh = incremental_exact_dedup(gated, store_fps, text_col, id_col)
    near_ids = (
        incremental_near_dup(
            store_df, fresh, text_col, id_col, threshold=threshold,
            store_bands=store_bands,
        )
        .select(F.col("batch_id").alias(id_col))
        .distinct()
    )
    return fresh.join(near_ids, id_col, "left_anti")


def start_ingest_stream(
    spark: SparkSession,
    incoming_dir: str,
    schema,
    store_dir: str,
    keep_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    min_tokens: int = 3,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    store_table: str | None = None,
    store_buckets: int = 16,
    band_table: str | None = None,
    band_dir: str | None = None,
    band_buckets: int = 16,
):
    """Start the continuous-ingest dedup stream: parquet files landing
    in ``incoming_dir`` flow through :func:`ingest_keep_batch` against
    the store at ``store_dir``; survivors append to BOTH the store
    (closing the loop for the next micro-batch) and ``keep_dir``
    (the keep-list output, stamped with the micro-batch id).

    ``max_files_per_trigger`` bounds micro-batch size (the paging
    knob, same role as the relay's); ``available_now`` drains the
    backlog then stops — the bootstrap mode; pass False for the
    steady-state continuous trigger.

    ``store_table`` switches the store to the BUCKETED layout
    (operators/bucketed.py): survivors append with a precomputed
    ``fp`` column, hash-bucketed on it into ``store_buckets`` buckets
    at ``store_dir``. Every subsequent micro-batch's fingerprint
    anti-join then consumes the store scan IN PLACE — no store-side
    Exchange and no re-hash of the accumulated text.

    ``band_table`` (+ ``band_dir``) additionally maintains the
    (id, band, bkey) LSH-key table alongside — survivors' band keys
    append each batch, bucketed on the (band, bkey) join key — so the
    NEAR-dup stage also stops re-reading the accumulated store's text:
    discovery joins the maintained keys, verification touches only the
    store docs the join hit. With both tables the 100 TB shape holds
    end to end: the store grows without bound while per-batch work
    stays O(batch + matching buckets). With only ``store_table`` the
    exact-fingerprint side has that shape but near-dup discovery
    remains O(store text) per batch.

    Crash contract (extends the keep-first ordering): writes go
    keep_dir → band_table → store. A replay after the band append but
    before the store append re-gates the batch against the UNGROWN
    store; its own band rows are already present but verify against
    nothing (no store text yet), so survivors pass again — at worst
    duplicate (id, band, bkey) rows land, which the discovery join's
    candidate `.distinct()` absorbs. The reverse order would leave
    store docs permanently invisible to near-dup discovery."""
    if band_table is not None and band_dir is None:
        raise ValueError("band_table requires band_dir (external location)")
    stream = read_file_stream(
        spark, incoming_dir, schema, max_files_per_trigger
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()  # sever the source lineage
        sess = batch_df.sparkSession
        if store_table is not None:
            store_schema = batch_df.withColumn(
                "fp", fingerprint(F.col(text_col))
            ).schema
            if sess.catalog.tableExists(store_table) or _reattach_bucketed_store(
                sess, store_table, store_dir, store_schema,
                int(store_buckets),
            ):
                store_df = sess.table(store_table)
            else:
                store_df = sess.createDataFrame([], store_schema)
        else:
            store_df = _store_or_empty(sess, store_dir, batch_df)
        store_bands_df = None
        if band_table is not None:
            band_schema = (
                batch_df.select(F.col(id_col))
                .withColumn("band", F.lit(0).cast("long"))
                .withColumn("bkey", F.lit("").cast("string"))
                .schema
            )
            if sess.catalog.tableExists(band_table) or _reattach_bucketed_store(
                sess, band_table, band_dir, band_schema,
                int(band_buckets), key=("band", "bkey"),
            ):
                store_bands_df = sess.table(band_table)
            else:
                store_bands_df = sess.createDataFrame([], band_schema)
        keep = ingest_keep_batch(
            batch_df, store_df, text_col, id_col, threshold, min_tokens,
            store_bands=store_bands_df,
        ).localCheckpoint()  # evaluate ONCE; two sinks consume it
        # Write ORDER is the crash contract: keep_dir (batch_id-stamped)
        # FIRST, store append second. A crash between the two replays the
        # batch against a store that does NOT yet contain its survivors,
        # so the replay re-emits them into keep_dir as a batch_id-fenced
        # duplicate — the documented at-least-once shape. The opposite
        # order would silently LOSE the survivors: on replay the grown
        # store filters them out and keep_dir never sees them.
        keep.withColumn("batch_id", F.lit(int(batch_id))).write.mode(
            "append"
        ).parquet(keep_dir)
        if band_table is not None:
            from pg2kafka_spark.operators.bucketed import write_bucketed
            from pg2kafka_spark.operators.dedup import portable_band_keys

            write_bucketed(
                portable_band_keys(keep, text_col, id_col),
                band_table,
                ("band", "bkey"),
                int(band_buckets),
                path=band_dir,
                mode="append",
            )
        if store_table is not None:
            from pg2kafka_spark.operators.bucketed import write_bucketed

            write_bucketed(
                keep.withColumn("fp", fingerprint(F.col(text_col))),
                store_table,
                "fp",
                int(store_buckets),
                path=store_dir,
                mode="append",
            )
        else:
            keep.write.mode("append").parquet(store_dir)

    return start_stream(
        stream, _process, checkpoint_dir, available_now, "10 seconds"
    )
