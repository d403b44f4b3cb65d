"""The ANN index's batch fold (streaming/annindex.py): batches
accreted to the at-rest IVF layout must absorb at-least-once replays
at serve, keep the serve partition-pruned, and score quantizer drift.
The served-equals-one-pass evidence is the oracle-parity rows that
build and serve the same stores (ann_ivf_served_incremental /
ann_ivf_pq_served_incremental)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pg2kafka_spark.catalog import load_table
from pg2kafka_spark.operators.index_store import (
    load_ivf_topk,
    save_ivf_index,
)
from pg2kafka_spark.streaming.annindex import drift_stats, index_ingest_batch

SF = "/root/testdata/sf0.001"
STORE_CUT = 300  # bootstrap store: vec_id < 300; the rest arrives


def _emb(spark):
    return load_table(spark, "embeddings", SF).select("vec_id", "embedding")


def _queries(spark):
    return (
        _emb(spark)
        .filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


def _topk_rows(df, sim_col="cos_sim"):
    return sorted(
        (r.query_id, r.vec_id, r[sim_col], r["rank"]) for r in df.collect()
    )


def _bootstrap(spark, tmp_path):
    emb = _emb(spark)
    store = emb.filter(F.col("vec_id") < STORE_CUT)
    path = str(tmp_path / "index")
    save_ivf_index(store, path)
    return emb, path


def test_replayed_batch_is_absorbed_at_serve(spark, tmp_path):
    """Crash-after-append replay: the SAME batch appended twice must
    not change the served top-k (duplicates are co-located by the
    frozen quantizer and collapsed by the serve's (query, id)
    max-aggregate)."""
    emb, path = _bootstrap(spark, tmp_path)
    cents = spark.read.parquet(f"{path}/centroids")
    batch = emb.filter(F.col("vec_id") >= STORE_CUT)

    def append_once():
        index_ingest_batch(batch, cents).drop("cell_sim").write.mode(
            "append"
        ).partitionBy("cid").parquet(f"{path}/cells")

    append_once()
    served = _topk_rows(
        load_ivf_topk(spark, path, _queries(spark), k=3, absorb_duplicates=True)
    )
    append_once()  # the replay
    replayed = _topk_rows(
        load_ivf_topk(spark, path, _queries(spark), k=3, absorb_duplicates=True)
    )
    assert replayed == served


def test_drift_stats_score_a_degenerate_batch(spark, tmp_path):
    """Healthy accretion fits the frozen cells; a degenerate arrival
    (every vector identical → one cell takes the whole batch) shows
    as a top_cell_share of 1."""
    emb, path = _bootstrap(spark, tmp_path)
    cents = spark.read.parquet(f"{path}/centroids")

    healthy = drift_stats(
        index_ingest_batch(emb.filter(F.col("vec_id") >= STORE_CUT), cents)
    ).collect()
    drifted_src = (
        _emb(spark)
        .filter(F.col("vec_id") < 20)
        .select("vec_id", F.expr("transform(embedding, x -> float(1.0))").alias("embedding"))
    )
    drifted = drift_stats(index_ingest_batch(drifted_src, cents)).collect()

    assert len(healthy) == len(drifted) == 1
    h, d = healthy[0], drifted[0]
    assert h.n_vectors == emb.filter(F.col("vec_id") >= STORE_CUT).count()
    assert -1.0 <= h.min_cell_sim <= h.mean_cell_sim <= 1.0
    assert h.mean_cell_sim >= 0.15 and h.top_cell_share <= 0.6
    assert d.n_vectors == 20
    assert d.top_cell_share == 1.0
    assert d.min_cell_sim == d.mean_cell_sim


def test_served_query_prunes_to_probed_cells(spark, tmp_path):
    """The maintained serve's scale property: the cells scan is
    restricted to the probed lists (dynamic partition pruning on the
    cid partition column), not the whole index."""
    emb, path = _bootstrap(spark, tmp_path)
    cents = spark.read.parquet(f"{path}/centroids")
    index_ingest_batch(
        emb.filter(F.col("vec_id") >= STORE_CUT), cents
    ).drop("cell_sim").write.mode("append").partitionBy("cid").parquet(
        f"{path}/cells"
    )
    import contextlib
    import io

    df = load_ivf_topk(
        spark, path, _queries(spark), k=3, absorb_duplicates=True
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "dynamicpruning" in p or "DynamicPruning" in p, p


def test_pq_replayed_batch_is_absorbed_before_reconstruction(
    spark, tmp_path
):
    """PQ replay duplicates would CORRUPT reconstruction (each code
    word collected twice → a 2m-length decoded vector), not merely
    duplicate a rank — absorb_duplicates must fold them before the
    code explode."""
    from pg2kafka_spark.operators.index_store import (
        load_ivf_pq_topk,
        save_ivf_pq_index,
    )
    from pg2kafka_spark.streaming.annindex import pq_index_ingest_batch

    emb = _emb(spark)
    store = emb.filter(F.col("vec_id") < STORE_CUT)
    path = str(tmp_path / "pq_index")
    save_ivf_pq_index(store, path)
    coarse = spark.read.parquet(f"{path}/centroids")
    books = spark.read.parquet(f"{path}/codebooks")
    batch = emb.filter(F.col("vec_id") >= STORE_CUT)

    def append_once():
        pq_index_ingest_batch(batch, coarse, books).drop(
            "cell_sim"
        ).write.mode("append").partitionBy("cid").parquet(f"{path}/cells")

    append_once()
    want = _topk_rows(
        load_ivf_pq_topk(
            spark, path, _queries(spark), k=3, absorb_duplicates=True
        ),
        "pq_sim",
    )
    append_once()  # the replay
    got = _topk_rows(
        load_ivf_pq_topk(
            spark, path, _queries(spark), k=3, absorb_duplicates=True
        ),
        "pq_sim",
    )
    assert got == want


