"""Self-maintaining ANN index: the at-rest IVF layout
(operators/index_store.py) kept up by a micro-batch ingest loop — the
third maintained-state family, with the same loop shape as the dedup
store (streaming/ingest.py) and the retention partials
(streaming/retention.py).

Reference parity: pg2kafka's queue is append-only and consumers fold
it incrementally (eventqueue/event_queue.go:60-75); this module is
that contract applied to the vector index — new vectors land as
appends to an existing partitioned layout, and the expensive global
rebuild (retraining the coarse quantizer) is a SEPARATE, scheduled,
drift-gated event, exactly the incremental-ingest semantics
``ivf_topk(train_corpus=...)`` encodes in-memory.

State under ``<path>`` (the ``save_ivf_index`` layout plus one log):

* ``centroids`` — the coarse quantizer, FROZEN between retrains. The
  daily ingest never retrains: retraining re-shuffles every stored
  row, assignment is one broadcast max_by pass per batch.
* ``cells`` — ``(id, vec)`` parquet PARTITIONED BY cid, append-only:
  each batch's vectors are assigned to their nearest existing cell
  and appended to that cell's directories. Serving partition-prunes
  to the probed lists regardless of how many batches accreted.
* ``drift`` — one row per ingested batch: ``(batch_id, n_vectors,
  mean_cell_sim, min_cell_sim, top_cell_share)``. The retrain flag:
  a frozen quantizer degrades exactly when new vectors stop fitting
  the old cells (mean assignment similarity drops) or pile into few
  cells (top share rises). ``retrain_flag`` evaluates the log.
* ``raw`` (COMPRESSED indexes only, optional) — ``(id, vec)``
  cid-partitioned, accreted in lockstep with the code cells. PQ code
  words are not invertible, so without it a retrain needs the source
  corpus re-read; with it ``retrain_pq_index`` is self-contained.
  The trade (r16): raw re-pays the full ``dim × 8`` bytes/vector the
  codes compressed away (64-dim doubles ≈ 512 B vs 8 B of codes),
  but it is COLD storage — the serve path reads only
  centroids/codebooks/cells, so the serving working set stays
  compressed; raw is touched once per drift-gated retrain. Skip it
  (``keep_raw=False``, the default) when the source corpus is
  durably retained elsewhere.
* ``manifest`` (COMPRESSED indexes only, optional, r17) — ``(id,
  source_path)`` POINTER rows, the cheap alternative to ``raw`` for
  the durably-retained case: bootstrap with
  ``save_ivf_pq_index(manifest_source=...)`` and the ingest loop
  accretes each batch's ids against the batch file's own path
  (``_metadata.file_path``). ``retrain_pq_index`` re-reads only the
  referenced files semi-joined on the manifest ids — ~a path string
  per vector at rest instead of ``dim × 8`` bytes, but a missing
  source path fails the retrain loudly (the corpus never silently
  shrinks). Measured at 202k vectors, same day (BASELINE.md r18 PQ
  axes): retrain walls are EQUAL (manifest 39.5 s vs raw 43.5 s —
  both k-means-training-bound, the corpus re-read adds ~nothing)
  while manifest stores 0.84 MB vs raw's 91.8 MB, so the choice is
  purely about whether the landing corpus is durably retained.

Crash contract (at-least-once, never loss): cells are written FIRST,
the drift row second — a crash between the two costs only a log row
for a batch whose vectors are safely appended. A replay after a crash
before the checkpoint commit appends DUPLICATE (id, vec, cid) rows;
the frozen quantizer assigns a replayed vector to the SAME cell
(assignment is deterministic), so duplicates are always co-located
and serving absorbs them with a (query, id) max-aggregate before
ranking (``load_ivf_topk(absorb_duplicates=True)`` — value-identical
when no replay happened, one partial-aggregated exchange when it
did). Same consumer-dedups convention as the wire events and the
retention partials. Retrains and ``compact_cells`` replace
directories through ``swap.swap_in`` under a ``<path>.__retraining__``
sentinel, which both ingest loops refuse.

Scale notes: per-batch cost is O(batch × n_centroids) rounded
cosines + one cid-partitioned append — independent of index size.
Serving reads n_probe/n_centroids of the cells regardless of accreted
batch count; compact small per-batch files per cid on the retrain
schedule if the file count ever dominates (the standard partitioned-
layout trade, same note as save_ivf_index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pg2kafka_spark.operators.similarity import as_double, assign_cells
from pg2kafka_spark.streaming.relay import (
    await_drain,
    read_file_stream,
    start_stream,
)
from pg2kafka_spark.streaming.swap import refuse_mid_swap, swap_in


def _manifest_read_path(p: str) -> str:
    """Normalize one manifest ``source_path`` row for the retrain's
    reader and existence pre-check.

    The manifest holds two spellings (r18 advice): the ingest stream
    accretes ``_metadata.file_path`` rows, which are PERCENT-ENCODED
    ``file:`` URIs (a landing directory with a space records ``%20``),
    while the bootstrap row is the user-supplied ``manifest_source``
    string written VERBATIM — usually a plain filesystem path. Both
    ``os.path.exists`` and ``DataFrameReader.parquet`` want unescaped
    (Hadoop Path) strings, so:

    * ``file:`` URIs are parsed FIRST and only the ``.path`` component
      is decoded — decoding before parsing would turn an encoded
      ``'#'``/``'?'`` (``%23``/``%3F``) in a file name into a live
      fragment/query delimiter and silently truncate the path;
    * scheme-less rows are returned untouched — a directory literally
      named ``data%20v2`` must stay ``data%20v2``;
    * remote schemes (``s3://``, ``hdfs://``) keep the raw URI — the
      reader owns their escaping rules.
    """
    from urllib.parse import unquote, urlparse

    if p.startswith("file:"):
        return unquote(urlparse(p).path)
    return p


def index_ingest_batch(
    batch_df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One micro-batch of the ingest fold, PURE (no writes): assign
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
    by tests."""
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


def start_pq_index_ingest_stream(
    spark: SparkSession,
    incoming_dir: str,
    schema,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    sub_dim: int = 8,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Maintenance stream for the COMPRESSED index: same loop, crash
    contract, and drift log as :func:`start_index_ingest_stream`, but
    each batch lands as frozen-codebook PQ codes instead of raw
    vectors (the index stays ``m·log2(n_codes)`` bits per vector as
    it accretes). The index at ``index_path`` must exist (built once
    by ``save_ivf_pq_index``).

    Retrain asymmetry vs the raw loop: code words are NOT invertible,
    so the compressed layout cannot self-retrain from its own cells.
    Three ways out: bootstrap with ``save_ivf_pq_index(keep_raw=True)``
    — then this loop ALSO accretes each batch's raw vectors to the
    ``raw/`` side store (detected by the directory's presence) and
    ``retrain_pq_index`` rebuilds with no external corpus handle —
    or bootstrap with ``manifest_source=...`` (r17) — the loop
    accretes ``(id, source_path)`` POINTER rows to ``manifest/``
    using each batch file's own path, and ``retrain_pq_index``
    re-reads only the referenced files, costing a path string per
    vector at rest instead of ``dim × 8`` bytes but requiring the
    landing files to be durably retained — or retain the source
    corpus and rebuild from it when ``retrain_flag`` fires, behind
    the same ``swap_in``. The raw side store costs the full bytes
    the codes avoided; both side stores are cold storage only retrain
    reads (the serve path never touches them)."""
    import os

    refuse_mid_swap(
        _retrain_sentinel(index_path), f"index {index_path!r}", "mid-retrain"
    )
    coarse = spark.read.parquet(f"{index_path}/centroids")
    books = spark.read.parquet(f"{index_path}/codebooks")
    keep_raw = os.path.isdir(f"{index_path}/raw")
    keep_manifest = os.path.isdir(f"{index_path}/manifest")

    stream = read_file_stream(
        spark, incoming_dir, schema, max_files_per_trigger
    )
    if keep_manifest:
        # the landing file IS the durable source the manifest points
        # at; capture its path per row before foreachBatch detaches
        # the frame from the file source
        stream = stream.select(
            "*", F.col("_metadata.file_path").alias("__src")
        )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()
        if batch_df.isEmpty():
            return
        assigned = pq_index_ingest_batch(
            batch_df, coarse, books, m, sub_dim, id_col, vec_col
        ).localCheckpoint()
        assigned.drop("cell_sim").write.mode("append").partitionBy(
            "cid"
        ).parquet(f"{index_path}/cells")
        if keep_raw:
            # raw side store accretes in lockstep (codes first, raw
            # second, drift last — a crash replays the whole batch
            # and retrain's id-dedup absorbs the duplicates)
            batch_df.select(
                F.col(id_col), as_double(F.col(vec_col)).alias("vec")
            ).join(assigned.select(id_col, "cid"), id_col).write.mode(
                "append"
            ).partitionBy("cid").parquet(f"{index_path}/raw")
        if keep_manifest:
            # pointer rows accrete in the same lockstep position as
            # raw; retrain's id-dedup absorbs crash-replay duplicates
            batch_df.select(
                F.col(id_col), F.col("__src").alias("source_path")
            ).write.mode("append").parquet(f"{index_path}/manifest")
        drift_stats(assigned, id_col).withColumn(
            "batch_id", F.lit(int(batch_id))
        ).write.mode("append").parquet(f"{index_path}/drift")

    return start_stream(
        stream, _process, checkpoint_dir, available_now, "10 seconds"
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


def start_index_ingest_stream(
    spark: SparkSession,
    incoming_dir: str,
    schema,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Start the index-maintenance stream: vector files landing in
    ``incoming_dir`` are assigned to the existing cells and appended
    to the cid-partitioned cells table, one drift row logged per
    batch. The index at ``index_path`` must exist (built once by
    ``save_ivf_index`` — the nightly bootstrap); this loop only
    accretes. ``available_now=True`` drains the backlog then stops
    (the nightly-job mode)."""
    refuse_mid_swap(
        _retrain_sentinel(index_path), f"index {index_path!r}", "mid-retrain"
    )
    cents = spark.read.parquet(f"{index_path}/centroids")

    stream = read_file_stream(
        spark, incoming_dir, schema, max_files_per_trigger
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()  # sever the source lineage
        if batch_df.isEmpty():
            # no vectors: nothing to accrete, and a zero-row drift
            # aggregate would log NULL sims that the retrain gate
            # can't score — skip both writes
            return
        assigned = index_ingest_batch(
            batch_df, cents, id_col, vec_col
        ).localCheckpoint()  # one assignment pass feeds BOTH writes
        # Write ORDER is the crash contract (module docstring): cells
        # first (the data), drift second (the observability row).
        assigned.drop("cell_sim").write.mode("append").partitionBy(
            "cid"
        ).parquet(f"{index_path}/cells")
        drift_stats(assigned, id_col).withColumn(
            "batch_id", F.lit(int(batch_id))
        ).write.mode("append").parquet(f"{index_path}/drift")

    return start_stream(
        stream, _process, checkpoint_dir, available_now, "10 seconds"
    )


def _retrain_sentinel(index_path: str) -> str:
    return index_path.rstrip("/") + ".__retraining__"


def compact_cells(
    spark: SparkSession, index_path: str, id_col: str = "vec_id"
) -> None:
    """Rewrite the accreted cells table in place: fold replay
    duplicates (one row per id — assignment is deterministic, so a
    duplicate's rows agree on cid and the fold is value-free) and
    merge the per-batch small files each cid directory accumulates —
    the partitioned-layout maintenance every accreting store needs,
    WITHOUT touching the quantizer (cid values unchanged; serving
    needs no ``absorb_duplicates`` until the next replay). Run it
    between stream runs, like ``retrain_index``: ``swap.swap_in``
    runs under the retrain sentinel, so ingest and maintenance refuse
    to race it."""
    cells_dir = f"{index_path}/cells"
    folded = spark.read.parquet(cells_dir).dropDuplicates([id_col])
    staging = cells_dir + ".__compact__"
    folded.write.mode("overwrite").partitionBy("cid").parquet(staging)
    swap_in(staging, cells_dir, _retrain_sentinel(index_path))


def retrain_index(
    spark: SparkSession,
    index_path: str,
    n_centroids: int | None = None,
    iters: int = 2,
    dim: int | None = None,
    id_col: str = "vec_id",
    train_sample: int | None = None,
) -> None:
    """The scheduled retrain the drift log gates: rebuild the whole
    index (fresh coarse quantizer + reassignment) over the accreted
    corpus — store plus every ingested batch, read back from the
    cells table itself, duplicate ids from at-least-once replays
    folded away (retrain IS the compaction opportunity). The result
    is exactly ``save_ivf_index`` over the full corpus, so a
    retrained index serves the same answers as an index bootstrapped
    on everything — pinned by tests.

    Run it BETWEEN stream runs, like ``compact_first_seen``: the new
    layout goes in through ``swap.swap_in`` under the retrain
    sentinel, which the ingest loop refuses. The drift log is RESET
    (its rows scored the old quantizer) — reset to an EMPTY
    directory, not a missing one, so the next cycle's
    ``retrain_flag`` read succeeds.

    ``n_centroids``/``dim`` default to the EXISTING index's geometry
    (centroid count / centroid vector length read from the centroids
    table), so a scheduled retrain never silently reshapes a
    non-default index (r15 advice); pass them only to deliberately
    re-size."""
    import os

    from pg2kafka_spark.operators.index_store import save_ivf_index

    if n_centroids is None or dim is None:
        cents = spark.read.parquet(f"{index_path}/centroids")
        row = cents.agg(
            F.count("*").alias("n"), F.max(F.size("__ce")).alias("d")
        ).collect()[0]
        n_centroids = int(row.n) if n_centroids is None else n_centroids
        dim = int(row.d) if dim is None else dim
    corpus = (
        spark.read.parquet(f"{index_path}/cells")
        .select(id_col, F.col("vec"))
        .dropDuplicates([id_col])
    )
    staging = index_path.rstrip("/") + ".__retrain__"
    save_ivf_index(
        corpus,
        staging,
        n_centroids=n_centroids,
        iters=iters,
        dim=dim,
        id_col=id_col,
        vec_col="vec",
        train_sample=train_sample,
    )
    os.makedirs(f"{staging}/drift", exist_ok=True)
    swap_in(staging, index_path, _retrain_sentinel(index_path))


def retrain_pq_index(
    spark: SparkSession,
    index_path: str,
    iters: int = 1,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
) -> None:
    """Scheduled retrain for the COMPRESSED index — closes the
    documented PQ retrain asymmetry: code words are not invertible,
    so the corpus is read back from a side store — ``raw/``
    (``save_ivf_pq_index(keep_raw=True)`` + the ingest loop's
    lockstep raw accretion) or, r17, the ``manifest/`` pointer store
    (``manifest_source=...``): the manifest's distinct source paths
    are re-read and semi-joined on the manifest ids, so only
    referenced rows enter the rebuild and a missing source file fails
    LOUDLY (the corpus never silently shrinks). Duplicate ids from
    at-least-once replays folded away, and the whole layout rebuilt
    with ``save_ivf_pq_index`` over it — coarse quantizer AND
    codebooks retrain, every stored vector re-codes, and the new
    layout carries EVERY side store forward (raw and/or the deduped
    manifest — an index built with keep_raw=True plus manifest_source
    keeps both) so the NEXT retrain is equally self-contained. Equal to
    a rebuild from the source corpus by construction — pinned by
    tests. Geometry (n_centroids, m, sub_dim, n_codes, dim) is
    inferred from the live centroids/codebooks tables, same
    no-silent-reshape rule as :func:`retrain_index`. ``vec_col``
    names the embedding column IN THE SOURCE FILES (manifest mode
    only; the raw store always stores ``vec``).

    Same between-runs ``swap_in`` as ``retrain_index``; drift log
    reset to empty. Raises if the index has neither side store —
    rebuild from the retained source corpus instead (the
    storage-for-independence trade the module header documents)."""
    import os

    from pg2kafka_spark.operators.index_store import save_ivf_pq_index

    raw_dir = f"{index_path}/raw"
    manifest_dir = f"{index_path}/manifest"
    has_raw = os.path.isdir(raw_dir)
    has_manifest = os.path.isdir(manifest_dir)
    if not has_raw and not has_manifest:
        raise RuntimeError(
            f"index {index_path!r} has no raw/ or manifest/ side "
            "store — it was built without keep_raw=True or "
            "manifest_source, so a retrain must rebuild from the "
            "retained SOURCE corpus (save_ivf_pq_index); codes alone "
            "are not invertible"
        )
    cents = spark.read.parquet(f"{index_path}/centroids")
    books = spark.read.parquet(f"{index_path}/codebooks")
    geo = cents.agg(
        F.count("*").alias("n"), F.max(F.size("__ce")).alias("d")
    ).collect()[0]
    # cid values are seed-vector ids, NOT 0..n-1 — count rows per
    # subspace for n_codes; the subspace index m IS contiguous. Count
    # PER subspace and require agreement: a ragged codebook table
    # (k-means collapsed below n_codes in one subspace) must fail
    # loudly, not silently retrain at a truncated size.
    bgeo = (
        books.groupBy("m")
        .agg(
            F.count("*").alias("nc"),
            F.max(F.size("__ce")).alias("sd"),
        )
        .agg(
            (F.max("m") + F.lit(1)).alias("m"),
            F.max("sd").alias("sub_dim"),
            F.max("nc").alias("n_codes"),
            F.min("nc").alias("n_codes_min"),
        )
        .collect()[0]
    )
    if int(bgeo.n_codes) != int(bgeo.n_codes_min):
        raise RuntimeError(
            f"index {index_path!r} has a ragged codebook table "
            f"(per-subspace code counts span {int(bgeo.n_codes_min)}"
            f"..{int(bgeo.n_codes)}) — refusing to infer n_codes; "
            "rebuild from the source corpus with explicit geometry"
        )
    staging = index_path.rstrip("/") + ".__retrain__"
    # Load the manifest whenever the side store exists — even when the
    # raw/ store feeds the retrain corpus (save_ivf_pq_index permits
    # keep_raw=True plus manifest_source, so an index can carry BOTH).
    # The rebuilt layout must carry every side store forward, or a
    # restarted ingest stream sees keep_manifest=False and silently
    # stops accreting pointer rows.
    manifest = (
        spark.read.parquet(manifest_dir).dropDuplicates([id_col])
        if has_manifest
        else None
    )
    if has_raw:
        corpus = (
            spark.read.parquet(raw_dir)
            .select(id_col, "vec")
            .dropDuplicates([id_col])
        )
        corpus_vec_col = "vec"
    else:
        # distinct FILE paths, not rows — control-plane sized.
        paths = [
            _manifest_read_path(r.source_path)
            for r in manifest.select("source_path").distinct().collect()
        ]

        # existence pre-check for a clearer error than the scan's own
        # PATH_NOT_FOUND — local paths only; remote schemes (s3://,
        # hdfs://) rely on the read itself failing loudly.
        # _manifest_read_path already reduced file: URIs to plain
        # local paths, so anything still carrying a scheme is remote.
        def _local(p: str) -> str | None:
            return None if "://" in p else p

        missing = [
            p
            for p in paths
            if _local(p) is not None and not os.path.exists(_local(p))
        ]
        if missing:
            raise RuntimeError(
                f"index {index_path!r} manifest references source "
                f"paths that no longer exist (e.g. {missing[0]!r}, "
                f"{len(missing)} total) — refusing a retrain that "
                "would silently shrink the corpus; restore the source "
                "or rebuild from a retained corpus"
            )
        corpus = (
            spark.read.parquet(*paths)
            .select(id_col, vec_col)
            .join(manifest.select(id_col), id_col, "left_semi")
            .dropDuplicates([id_col])
        )
        corpus_vec_col = vec_col
    save_ivf_pq_index(
        corpus,
        staging,
        n_centroids=int(geo.n),
        m=int(bgeo.m),
        sub_dim=int(bgeo.sub_dim),
        n_codes=int(bgeo.n_codes),
        iters=iters,
        train_iters=train_iters,
        dim=int(geo.d),
        id_col=id_col,
        vec_col=corpus_vec_col,
        train_sample=train_sample,
        keep_raw=has_raw,
    )
    if manifest is not None:
        # carry the pointer store forward DEDUPED so the next retrain
        # is equally self-contained (and replay duplicates are folded
        # at rest, not just at read time)
        manifest.write.mode("overwrite").parquet(f"{staging}/manifest")
    os.makedirs(f"{staging}/drift", exist_ok=True)
    swap_in(staging, index_path, _retrain_sentinel(index_path))


def run_index_maintenance(
    spark: SparkSession,
    incoming_dir: str,
    schema,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
    retrain_on_flag: bool = True,
    min_mean_sim: float = 0.15,
    max_top_share: float = 0.6,
    compact: bool = False,
    timeout_s: int = 600,
    retrain_iters: int = 2,
    retrain_train_sample: int | None = None,
) -> bool:
    """One scheduled maintenance cycle, the nightly-job spelling that
    mirrors ``run_retention_maintenance``: drain the vector backlog
    with an availableNow run, then — with the stream STOPPED —
    evaluate the drift log and retrain when the LATEST batch flags.
    Returns whether a retrain happened. The retrain decision is one
    1-row scalar read of the drift log; the retrain itself rebuilds
    from the accreted cells, so the cycle is self-contained — no
    external corpus handle needed. ``compact=True`` runs
    ``compact_cells`` on the no-retrain path (retrain already folds),
    on whatever cadence the caller schedules — file-count
    maintenance, not a correctness need. A drain that outlives
    ``timeout_s`` is stopped and raises ``TimeoutError`` before any
    retrain or compaction (``relay.await_drain``)."""
    q = start_index_ingest_stream(
        spark,
        incoming_dir,
        schema,
        index_path=index_path,
        checkpoint_dir=checkpoint_dir,
        id_col=id_col,
        vec_col=vec_col,
        max_files_per_trigger=max_files_per_trigger,
        available_now=True,
    )
    await_drain(q, timeout_s, "index drain")
    if retrain_on_flag:
        latest = (
            retrain_flag(spark, index_path, min_mean_sim, max_top_share)
            .limit(1)
            .collect()
        )
        if latest and latest[0].retrain:
            # geometry (n_centroids/dim) is inferred from the live
            # index inside retrain_index, so a non-default index keeps
            # its shape; only the training knobs thread through.
            retrain_index(
                spark,
                index_path,
                iters=retrain_iters,
                id_col=id_col,
                train_sample=retrain_train_sample,
            )
            return True
    if compact:
        compact_cells(spark, index_path, id_col)
    return False


def run_pq_index_maintenance(
    spark: SparkSession,
    incoming_dir: str,
    schema,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    sub_dim: int = 8,
    max_files_per_trigger: int | None = None,
    retrain_on_flag: bool = True,
    min_mean_sim: float = 0.15,
    max_top_share: float = 0.6,
    timeout_s: int = 600,
    retrain_iters: int = 1,
    retrain_train_iters: int = 2,
    retrain_train_sample: int | None = None,
) -> bool:
    """The COMPRESSED index's scheduled cycle (r16): mirror of
    :func:`run_index_maintenance` — drain the vector backlog with an
    availableNow run, then, with the stream STOPPED, evaluate the
    drift log and ``retrain_pq_index`` when the latest batch flags.
    Requires the index to carry a side store when ``retrain_on_flag``
    is set — ``raw/`` (``save_ivf_pq_index(keep_raw=True)``; rebuilds
    with no source re-read) or ``manifest/`` (``manifest_source=...``;
    re-reads only the manifest-referenced source files, r17); without
    either, schedule the rebuild from the retained corpus yourself.
    Same drain-timeout abort as the raw cycle (``relay.await_drain``)."""
    q = start_pq_index_ingest_stream(
        spark,
        incoming_dir,
        schema,
        index_path=index_path,
        checkpoint_dir=checkpoint_dir,
        id_col=id_col,
        vec_col=vec_col,
        m=m,
        sub_dim=sub_dim,
        max_files_per_trigger=max_files_per_trigger,
        available_now=True,
    )
    await_drain(q, timeout_s, "PQ index drain")
    if retrain_on_flag:
        latest = (
            retrain_flag(spark, index_path, min_mean_sim, max_top_share)
            .limit(1)
            .collect()
        )
        if latest and latest[0].retrain:
            retrain_pq_index(
                spark,
                index_path,
                iters=retrain_iters,
                train_iters=retrain_train_iters,
                id_col=id_col,
                vec_col=vec_col,
                train_sample=retrain_train_sample,
            )
            return True
    return False


def retrain_flag(
    spark: SparkSession,
    index_path: str,
    min_mean_sim: float = 0.15,
    max_top_share: float = 0.6,
) -> DataFrame:
    """Evaluate the drift log: per batch, whether the frozen
    quantizer should be retrained — mean assignment similarity below
    ``min_mean_sim`` (new data no longer near any cell) or
    ``top_cell_share`` above ``max_top_share`` (arrivals piling into
    one list, degrading the probe's selectivity). Returns the log
    with a boolean ``retrain`` column, newest first; the scheduler
    retrains (save_ivf_index over store + accreted cells) when the
    latest row flags. Thresholds are corpus-specific knobs, not
    universal constants — calibrate against the bootstrap corpus's
    own drift row.

    A missing or empty drift directory (a just-retrained index with
    no backlog since — the swap resets the log) is NO-RETRAIN, not a
    crash: return an empty log (r15 advice)."""
    import os

    drift_dir = f"{index_path}/drift"
    if not os.path.isdir(drift_dir) or not any(
        f.endswith(".parquet") for f in os.listdir(drift_dir)
    ):
        schema = (
            "batch_id bigint, n_vectors bigint, mean_cell_sim double, "
            "min_cell_sim double, top_cell_share double"
        )
        return spark.createDataFrame([], schema).withColumn(
            "retrain", F.lit(False)
        )
    log = spark.read.parquet(drift_dir)
    return log.withColumn(
        "retrain",
        (F.col("mean_cell_sim") < F.lit(float(min_mean_sim)))
        | (F.col("top_cell_share") > F.lit(float(max_top_share))),
    ).orderBy(F.col("batch_id").desc())
