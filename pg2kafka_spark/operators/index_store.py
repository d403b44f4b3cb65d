"""IVF index persistence: the index AT REST as a partitioned parquet
layout, and the search path over the loaded index.

The in-memory operators (similarity.ivf_topk) recompute training +
assignment per session; a production billion-vector index is built
once and SERVED many times. The at-rest layout is the standard one:

- ``<path>/centroids`` — the (cid, centroid) table, tiny, read and
  broadcast by every searcher;
- ``<path>/cells`` — the (id, vector) corpus PARTITIONED BY cid, so
  a probe of ``n_probe`` lists reads ``n_probe/n_centroids`` of the
  data from disk (partition pruning), not a full scan.

Searching the loaded index returns bit-identical results to
``ivf_topk`` over the same corpus (training and assignment are the
deterministic portable k-means — pinned by tests), so an index can be
built by a nightly batch job and served by any number of readers.
"""

from __future__ import annotations

from pyspark.sql import (
    Column,
    DataFrame,
    SparkSession,
    Window,
    functions as F,
)

from pg2kafka_spark.operators.similarity import (
    _best_cell,
    as_double,
    assign_cells,
    centroid_rows_to_array,
    codebook_array,
    cosine,
    kmeans_centroids,
    pq_codes_expr,
    probe_cells,
)


def save_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
) -> None:
    """Train + assign + materialize the IVF index under ``path``.

    Scale shape: training is the portable k-means (bound it with
    ``train_sample`` at real N); assignment is the broadcast max_by
    pass; the cells write is one shuffle-free ``partitionBy(cid)``
    fan-out (each input partition appends to its cells' directories —
    with n_centroids sized sensibly the small-files risk is the
    writer's per-task file count, the standard trade of partitioned
    layouts).
    """
    cents = kmeans_centroids(
        corpus, n_centroids, iters, dim, id_col, vec_col, train_sample
    )
    c = corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("__cv"))
    cells = assign_cells(c, cents, id_col)
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    cells.withColumnRenamed("__cv", "vec").write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(f"{path}/cells")


def load_ivf_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    absorb_duplicates: bool = False,
) -> DataFrame:
    """Search a SAVED index: centroids load (tiny) and broadcast for
    probing; the cells scan joins the broadcast probe list on the
    PARTITION column, so dynamic partition pruning restricts the read
    to the probed ``n_probe`` directories — the serving read path
    touches ``n_probe/n_centroids`` of the index regardless of corpus
    size. Results are bit-identical to ``ivf_topk`` over the same
    corpus (deterministic training + assignment).

    ``absorb_duplicates=True`` is the serve mode for an index
    accreted by ``streaming/annindex.index_ingest_batch``: an
    at-least-once replayed batch appends duplicate (id, vec) rows, and ranking duplicates
    would surface the same id twice in a top-k. A (query, id)
    max-aggregate before the ranking window collapses them —
    value-identical when no replay happened (max over one row), one
    extra partial-aggregated exchange on a frame already pruned to
    the probed lists."""
    cents = spark.read.parquet(f"{path}/centroids")
    # partition-column type inference may narrow cid to int; restore
    # the bigint the in-memory path uses
    cells = (
        spark.read.parquet(f"{path}/cells")
        .withColumn("cid", F.col("cid").cast("bigint"))
        .withColumnRenamed("vec", "__cv")
    )
    q = queries.select(
        F.col(query_id_col), as_double(F.col(vec_col)).alias("__qv")
    )
    # map-only probe ranking (r19): see similarity.probe_cells — the
    # broadcast probe list shape (and so the dynamic partition
    # pruning of the cells scan) is unchanged
    probes = probe_cells(q, cents, n_probe, query_id_col)
    rank_w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    scored = (
        cells.join(F.broadcast(probes), "cid")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cos_sim"),
        )
    )
    if absorb_duplicates:
        scored = scored.groupBy(query_id_col, id_col).agg(
            F.max("cos_sim").alias("cos_sim")
        )
    return (
        scored.withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _pq_codes(
    corpus: DataFrame,
    cents: DataFrame,
    m: int,
    sub_dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-vector PQ code WORDS — ``(id, codes: array<bigint>[m])`` —
    the compressed representation the at-rest index stores (the
    in-memory path keeps the reconstruction inline; storage wants the
    ``m·log2(n_codes)`` bits). Same MAP-ONLY coding as
    ``pq_reconstruct`` (r19: broadcast codebook array + per-subspace
    array_max, identical (sim desc, cid asc) semantics — the corpus
    never shuffles; previously a posexplode + two full-corpus
    aggregates), but the argmax keeps the code id instead of the
    centroid vector."""
    return (
        corpus.select(
            F.col(id_col), as_double(F.col(vec_col)).alias("__dv")
        )
        .crossJoin(F.broadcast(codebook_array(cents)))
        .select(
            F.col(id_col), pq_codes_expr(m, sub_dim).alias("codes")
        )
    )


def save_ivf_pq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    m: int = 8,
    sub_dim: int = 8,
    n_codes: int = 8,
    iters: int = 1,
    train_iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
    train_corpus: DataFrame | None = None,
) -> None:
    """The COMPRESSED index at rest (FAISS ``IVFx,PQy`` storage
    shape): coarse centroids + PQ codebooks (both tiny tables) and a
    cid-partitioned cells layout holding ``(id, codes[m])`` — the
    ``m·log2(n_codes)`` bits per vector that make a billion-vector
    index fit storage budgets; the raw vectors are NOT stored.

    ``train_corpus`` (default: the corpus itself) trains BOTH the
    coarse quantizer and every subspace codebook on a different frame
    — the incremental-ingest mode's one-pass twin: the batch fold
    (``streaming/annindex.pq_index_ingest_batch``) codes arriving
    batches against frozen models, and an index accreted that way
    must equal this build with ``train_corpus`` = the bootstrap
    store."""
    from pg2kafka_spark.operators.similarity import pq_codebooks

    tr = train_corpus if train_corpus is not None else corpus
    coarse = kmeans_centroids(
        tr, n_centroids, train_iters, dim, id_col, vec_col, train_sample
    )
    books = pq_codebooks(
        tr, m, sub_dim, n_codes, iters, id_col, vec_col, train_sample
    )
    # r19: cell assignment and PQ coding are both per-row functions of
    # the broadcast models, so the cells write is ONE map pass over the
    # corpus — previously codes ⋈ cells was an id-keyed join, an
    # exchange carrying the code payload
    base = (
        corpus.select(
            F.col(id_col), as_double(F.col(vec_col)).alias("__dv")
        )
        .crossJoin(F.broadcast(centroid_rows_to_array(coarse)))
        .withColumn(
            "cid", -_best_cell(F.col("__dv"), F.col("__ca"))["ncid"]
        )
    )
    coarse.write.mode("overwrite").parquet(f"{path}/centroids")
    books.write.mode("overwrite").parquet(f"{path}/codebooks")
    base.crossJoin(F.broadcast(codebook_array(books))).select(
        F.col(id_col), pq_codes_expr(m, sub_dim).alias("codes"), "cid"
    ).write.mode("overwrite").partitionBy("cid").parquet(f"{path}/cells")


def load_ivf_pq_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    absorb_duplicates: bool = False,
) -> DataFrame:
    """Serve the compressed index: probe broadcast coarse centroids,
    dynamic-partition-prune the cells scan to the probed lists,
    RECONSTRUCT the probed vectors from their code words against the
    broadcast codebooks (posexplode codes → (m, code) lookup join →
    ordered concat), and ADC-score. Bit-identical to
    ``ivf_pq_topk`` over the same corpus — reconstruction from stored
    codes is the same centroid concatenation the in-memory path
    computes inline."""
    coarse = spark.read.parquet(f"{path}/centroids")
    books = spark.read.parquet(f"{path}/codebooks")
    cells = spark.read.parquet(f"{path}/cells").withColumn(
        "cid", F.col("cid").cast("bigint")
    )
    q = queries.select(
        F.col(query_id_col), as_double(F.col(vec_col)).alias("__qv")
    )
    # map-only probe ranking (r19): see similarity.probe_cells
    probes = probe_cells(q, coarse, n_probe, query_id_col)
    # Restrict the scan to the probed lists FIRST — a broadcast
    # semi-join on the partition column directly above the scan, so
    # dynamic partition pruning fires at the file level AND
    # reconstruction work is bounded by the probed lists, not the
    # index (reconstructing then filtering would decode every list).
    probed = cells.join(
        F.broadcast(probes.select("cid").distinct()), "cid", "leftsemi"
    )
    if absorb_duplicates:
        # maintained-index serve mode: at-least-once replays append
        # duplicate (id, codes) rows, and HERE they must fold BEFORE
        # reconstruction — the code-word explode would otherwise
        # collect each word twice and concat a 2m-length vector
        # (corruption, not just a duplicate rank). Keyed dedup over
        # the probed lists only.
        probed = probed.dropDuplicates([id_col])
    # reconstruct probed rows from code words MAP-ONLY (r19): the
    # codebook rides along as a broadcast one-row array and each code
    # word looks up its unique (m, code) entry per row — previously a
    # posexplode + lookup join + regroup, i.e. an exchange over the
    # probed rows; now zero exchanges between the pruned scan and the
    # scoring join
    cbarr = books.agg(
        F.collect_list(
            F.struct("m", F.col("cid").alias("code"), "__ce")
        ).alias("__cb")
    )
    recon = probed.crossJoin(F.broadcast(cbarr)).select(
        id_col,
        "cid",
        F.flatten(
            F.array(
                *[
                    F.element_at(
                        F.filter(
                            F.col("__cb"),
                            lambda e: (e["m"] == F.lit(mi))
                            & (
                                e["code"]
                                == F.element_at(F.col("codes"), mi + 1)
                            ),
                        ),
                        1,
                    )["__ce"]
                    for mi in range(m)
                ]
            )
        ).alias("__de"),
    )
    rank_w = Window.partitionBy(query_id_col).orderBy(
        F.col("pq_sim").desc(), F.col(id_col).asc()
    )
    return (
        recon.join(F.broadcast(probes), "cid")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col("__qv"), F.col("__de")), 6).alias("pq_sim"),
        )
        .withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rank") <= k)
    )
