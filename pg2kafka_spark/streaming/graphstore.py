"""Self-maintaining duplicate-cluster LABEL store: incremental
connected components (operators/graph.incremental_components) as a
Structured Streaming loop — the FOURTH maintained-state family, with
the same loop shape as the dedup store (streaming/ingest.py), the
retention partials (streaming/retention.py), and the ANN index
(streaming/annindex.py).

Reference parity: pg2kafka's queue is append-only and consumers fold
it incrementally (eventqueue/event_queue.go:60-75); this module is
that contract applied to the near-dup PAIR feed — each micro-batch of
discovered candidate pairs (LSH/MinHash output upstream) folds into
the accumulated component labels, so the keep-list/canonical decision
downstream always reads a label table that is current to the last
drained batch, and the historical pair log is never re-read.

State under ``labels_dir``: one ``(node, component_id)`` parquet
table — REPLACED per micro-batch through ``swap.swap_in`` under a
``<labels_dir>.__swap__`` sentinel. Unlike the other three stores
this state is a FOLD, not a log: yesterday's labels are a
connectivity-exact compression of every pair ever ingested (star
edges node→component_id), which is exactly why the fold's cost tracks
|V| + |batch| and never the pair history (measured, BASELINE.md
round 16: at 200k nodes the warm fold held 4.5–5.2 s per batch from
0.4 M to 0.8 M pairs of history while the cold rebuild grew to
12.9–13.6 s).

Crash contract (at-least-once, never loss, same discipline as the
other loops): the fold is IDEMPOTENT — re-folding an already-folded
batch over the post-fold labels is a no-op (the labels' star edges
already connect everything the batch connected, and min-labels are
stable) — so a replay after a crash-before-checkpoint converges to
the identical fixpoint. A crash INSIDE the swap leaves the sentinel
on disk; the next batch (and any reader using ``_labels_or_empty``)
fails loudly instead of folding against a missing or half-swapped
table. Either directory state behind the sentinel is value-complete
(old = pre-fold, staging = post-fold; re-running the batch from the
checkpoint reproduces post-fold from either).

Scale notes: the per-batch fold is the shape measured in BASELINE.md
round 16 — |V| star edges + |batch| pairs through min-label
propagation, rounds tracking how many existing clusters the batch
bridges (stars have diameter ≤ 2). The label table is uniform on node id; at 100 TB
partition it on ``pmod(node, N)`` so the swap writes in parallel.

Design-note refs: the reference has no graph stage (blendle/pg2kafka
relays rows, main.go:68-120); this module exists for the M5 pipeline
surface (SURVEY.md §7), closing the maintained-state pattern over it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pg2kafka_spark.operators.graph import (
    connected_components,
    incremental_components,
)
from pg2kafka_spark.streaming.relay import (
    await_drain,
    read_file_stream,
    start_stream,
)
from pg2kafka_spark.streaming.swap import refuse_mid_swap, swap_in


def _swap_sentinel(labels_dir: str) -> str:
    return labels_dir.rstrip("/") + ".__swap__"


def _labels_or_empty(
    spark: SparkSession, labels_dir: str
) -> DataFrame | None:
    """The accumulated label table, or None before the first fold.
    RAISES if a swap sentinel is present — a missing/half-swapped
    table must never be read as 'no labels yet' (that would silently
    fork every historical cluster on the next fold)."""
    refuse_mid_swap(
        _swap_sentinel(labels_dir), f"label store {labels_dir!r}", "mid-swap"
    )
    if not os.path.isdir(labels_dir):
        return None
    return spark.read.parquet(labels_dir)


def fold_pairs_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    labels_dir: str,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    label_col: str = "component_id",
    max_iter: int = 25,
    n_partitions: int | None = None,
) -> None:
    """Fold ONE batch of candidate pairs into the at-rest label table
    (staged, then ``swap_in``). This is the unit of work the
    stream runs per micro-batch; callable directly for a scheduled
    batch job. Idempotent: re-folding the same pairs is a no-op.
    ``n_partitions`` sizes the swap write (hash on the node id) — the
    at-scale knob the module header names; default keeps the fold's
    own partitioning (fine while the label table is small)."""
    labels = _labels_or_empty(spark, labels_dir)
    if labels is None:
        new_labels = connected_components(
            batch_df, src, dst, node_col, label_col, max_iter
        )
    else:
        new_labels = incremental_components(
            labels, batch_df, src, dst, node_col, label_col, max_iter
        )
    if n_partitions:
        new_labels = new_labels.repartition(
            int(n_partitions), node_col
        )
    staging = labels_dir.rstrip("/") + ".__fold__"
    new_labels.write.mode("overwrite").parquet(staging)
    swap_in(staging, labels_dir, _swap_sentinel(labels_dir))


def start_components_stream(
    spark: SparkSession,
    incoming_dir: str,
    schema,
    labels_dir: str,
    checkpoint_dir: str,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    label_col: str = "component_id",
    max_iter: int = 25,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    n_partitions: int | None = None,
):
    """Maintenance stream for the label store: drain candidate-pair
    files from ``incoming_dir`` and fold each micro-batch into
    ``labels_dir``. availableNow for the nightly-drain spelling;
    processingTime for a live tail — same knobs as the other loops.
    ``n_partitions`` threads through to the fold's swap write (hash
    on the node id) — the at-scale knob the module header names."""
    refuse_mid_swap(
        _swap_sentinel(labels_dir), f"label store {labels_dir!r}", "mid-swap"
    )

    stream = read_file_stream(
        spark, incoming_dir, schema, max_files_per_trigger
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()
        if batch_df.isEmpty():
            return
        fold_pairs_batch(
            spark,
            batch_df,
            labels_dir,
            src,
            dst,
            node_col,
            label_col,
            max_iter,
            n_partitions,
        )

    return start_stream(
        stream, _process, checkpoint_dir, available_now, "10 seconds"
    )


def run_components_maintenance(
    spark: SparkSession,
    incoming_dir: str,
    schema,
    labels_dir: str,
    checkpoint_dir: str,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    label_col: str = "component_id",
    max_iter: int = 25,
    max_files_per_trigger: int | None = None,
    timeout_s: int = 600,
    n_partitions: int | None = None,
) -> None:
    """One scheduled maintenance cycle for the label store — the
    nightly-job spelling that mirrors ``run_index_maintenance`` /
    ``run_retention_maintenance``: drain the candidate-pair backlog
    with an availableNow run of :func:`start_components_stream`, with
    the same drain-timeout contract (stop + raise, never proceed over
    a still-running drain, ``relay.await_drain``). Unlike the other
    three loops there is NO post-drain compaction or retrain step: the
    state is a REPLACED fold, not a log — every micro-batch already
    rewrites the label table to its compacted form, so the cycle is
    drain-only. The mid-swap sentinel check lives in
    ``start_components_stream``; a timeout leaves the checkpoint
    intact, so re-running the cycle resumes the drain with no progress
    lost (the fold is idempotent)."""
    q = start_components_stream(
        spark,
        incoming_dir,
        schema,
        labels_dir=labels_dir,
        checkpoint_dir=checkpoint_dir,
        src=src,
        dst=dst,
        node_col=node_col,
        label_col=label_col,
        max_iter=max_iter,
        max_files_per_trigger=max_files_per_trigger,
        available_now=True,
        n_partitions=n_partitions,
    )
    await_drain(q, timeout_s, "label-store drain")
