"""The duplicate-cluster LABEL store's per-batch fold: incremental
connected components (operators/graph.incremental_components) over an
at-rest ``(node, component_id)`` table.

Each batch of candidate pairs (LSH/MinHash output upstream) folds into
the accumulated labels, so the keep-list/canonical decision downstream
reads a label table current to the last folded batch, and the
historical pair log is never re-read. The served store
(``q_pipeline._ensure_components_store``) is built this way.

State under ``labels_dir``: one ``(node, component_id)`` parquet
table, REPLACED per batch through ``swap.swap_in`` under a
``<labels_dir>.__swap__`` sentinel. The state is a FOLD, not a log:
the labels are a connectivity-exact compression of every pair ever
folded (star edges node→component_id), so the fold's cost tracks
|V| + |batch| and never the pair history (measured, BASELINE.md
round 16: at 200k nodes the warm fold held 4.5–5.2 s per batch from
0.4 M to 0.8 M pairs of history while the cold rebuild grew to
12.9–13.6 s).

Crash contract (at-least-once, never loss): the fold is IDEMPOTENT —
re-folding an already-folded batch over the post-fold labels is a
no-op (the labels' star edges already connect everything the batch
connected, and min-labels are stable) — so a replayed batch converges
to the identical fixpoint. A crash INSIDE the swap leaves the
sentinel on disk; the next fold (and any reader using
``_labels_or_empty``) fails loudly instead of folding against a
missing or half-swapped table. Either directory state behind the
sentinel is value-complete (old = pre-fold, staging = post-fold;
re-running the batch reproduces post-fold from either).

Scale notes: the per-batch fold is |V| star edges + |batch| pairs
through min-label propagation, rounds tracking how many existing
clusters the batch bridges (stars have diameter ≤ 2). The label table
is uniform on node id; at 100 TB partition it on ``pmod(node, N)``
so the swap writes in parallel.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pg2kafka_spark.operators.graph import (
    connected_components,
    incremental_components,
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
    (staged, then ``swap_in``). Idempotent: re-folding the same
    pairs is a no-op. ``n_partitions`` sizes the swap write (hash on
    the node id) — the at-scale knob the module header names; default
    keeps the fold's own partitioning (fine while the label table is
    small)."""
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
