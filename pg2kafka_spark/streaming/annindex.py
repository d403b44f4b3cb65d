"""The ANN index's per-batch fold: the at-rest IVF layout
(operators/index_store.py) grows by appends, never by a rebuild.

Each batch's vectors are assigned to the index's EXISTING cells (the
coarse quantizer stays frozen) and appended to the cid-partitioned
``cells`` table; :func:`pq_index_ingest_batch` also codes them against
the frozen PQ codebooks. :func:`drift_stats` scores how well the
frozen quantizer still fits the batch: mean and minimum assignment
similarity, and the largest cell's share. The served stores
(``q_pipeline._ensure_ann_index`` / ``_ensure_ann_pq_index``) append
one drift row per batch.

Replay contract (at-least-once, never loss): a batch appended twice
puts DUPLICATE (id, vec, cid) rows in the cells table. Assignment is
deterministic, so a duplicate lands in the same cell as its original,
and serving absorbs it with a (query, id) max-aggregate before
ranking (``load_ivf_topk(absorb_duplicates=True)``).

Per-batch cost is O(batch × n_centroids) rounded cosines plus one
cid-partitioned append, independent of the index size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pg2kafka_spark.operators.similarity import as_double, assign_cells


def index_ingest_batch(
    batch_df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One batch of the ingest fold, PURE (no writes): assign
    the batch's vectors to the EXISTING cells — one broadcast max_by
    pass, no retraining — returning ``(id, vec, cid, cell_sim)`` rows
    to append to the cells table (``cell_sim`` feeds the drift row;
    the cells writer drops it)."""
    c = batch_df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__cv")
    )
    return assign_cells(c, centroids, id_col, keep_sim=True).select(
        F.col(id_col), F.col("__cv").alias("vec"), "cid", "cell_sim"
    )


def pq_index_ingest_batch(
    batch_df: DataFrame,
    coarse: DataFrame,
    books: DataFrame,
    m: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The COMPRESSED twin of :func:`index_ingest_batch`: assign the
    batch to the frozen coarse cells AND encode it against the frozen
    PQ codebooks — returning ``(id, codes[m], cid, cell_sim)`` rows
    for the ``save_ivf_pq_index`` cells layout. Neither model
    retrains; both passes are broadcast map work over the batch, so
    per-batch cost stays O(batch) as the index grows. An index
    accreted this way equals the one-pass
    ``save_ivf_pq_index(union, train_corpus=store)`` build — pinned
    by the ``ann_ivf_pq_served_incremental`` oracle row."""
    from pg2kafka_spark.operators.index_store import _pq_codes

    c = batch_df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__cv")
    )
    assigned = assign_cells(c, coarse, id_col, keep_sim=True).select(
        id_col, "cid", "cell_sim"
    )
    codes = _pq_codes(batch_df, books, m, sub_dim, id_col, vec_col)
    return codes.join(assigned, id_col).select(
        id_col, "codes", "cid", "cell_sim"
    )


def drift_stats(assigned: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """The batch's assignment-quality row: how well the frozen
    quantizer still fits arriving data. One global aggregate over the
    batch (partial map-side; the frame is batch-sized)."""
    per_cell = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("__n")
    )
    totals = assigned.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("cell_sim"), 6).alias("mean_cell_sim"),
        F.round(F.min("cell_sim"), 6).alias("min_cell_sim"),
    )
    top = per_cell.agg(
        F.max("__n").alias("__top"), F.sum("__n").alias("__all")
    ).select(
        F.round(F.col("__top") / F.col("__all"), 6).alias("top_cell_share")
    )
    return totals.crossJoin(top)  # two 1-row frames
