"""ANN index maintenance loop (streaming/annindex.py): the at-rest
IVF layout accreted by micro-batches must serve identically to the
one-pass in-memory operator, absorb at-least-once replays, and flag
quantizer drift — the same evidence shape the dedup store and the
retention partials carry."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from pg2kafka_spark.catalog import load_table
from pg2kafka_spark.operators import similarity as S
from pg2kafka_spark.operators.index_store import (
    load_ivf_topk,
    save_ivf_index,
)
from pg2kafka_spark.streaming.annindex import (
    drift_stats,
    index_ingest_batch,
    retrain_flag,
    start_index_ingest_stream,
)
from pg2kafka_spark.streaming.relay import append_files

# Every test here drives a streaming accretion/retrain/maintenance
# cycle against an at-rest store (9-110 s each sequentially, ~860 s
# for the file) — the default serve-path coverage lives in the
# oracle-parity rows that build and serve the same stores
# (ann_ivf_served_incremental / ann_ivf_pq_served_incremental).
pytestmark = pytest.mark.heavy_e2e

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


def _write_vector_slices(spark, df, cuts, incoming):
    """One parquet file per (lo, hi) vec_id slice, published in order
    so the file source delivers them in order."""
    for lo, hi in cuts:
        sl = df.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        append_files(sl.coalesce(1), incoming)


def _bootstrap(spark, tmp_path):
    emb = _emb(spark)
    store = emb.filter(F.col("vec_id") < STORE_CUT)
    path = str(tmp_path / "index")
    save_ivf_index(store, path)
    return emb, path


def test_streamed_accretion_serves_one_pass_result(spark, tmp_path):
    """Bootstrap on the store, stream the remaining vectors in 3
    micro-batches, serve — bit-identical to ivf_topk over the union
    with train_corpus=store (the in-memory incremental operator),
    and one drift row per batch."""
    emb, path = _bootstrap(spark, tmp_path)
    rest = emb.filter(F.col("vec_id") >= STORE_CUT)
    cuts = [(300, 370), (370, 440), (440, 500)]
    incoming = str(tmp_path / "incoming")
    _write_vector_slices(spark, rest, cuts, incoming)

    q = start_index_ingest_stream(
        spark,
        incoming,
        "vec_id bigint, embedding array<float>",
        index_path=path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    served = load_ivf_topk(
        spark, path, _queries(spark), k=3, absorb_duplicates=True
    )
    one_pass = S.ivf_topk(
        emb,
        _queries(spark),
        k=3,
        train_corpus=emb.filter(F.col("vec_id") < STORE_CUT),
    )
    assert _topk_rows(served) == _topk_rows(one_pass)

    drift = spark.read.parquet(f"{path}/drift")
    assert drift.select("batch_id").distinct().count() == len(cuts)
    # every accreted batch has its observability row with sane fields
    row = drift.orderBy("batch_id").collect()[0]
    assert row.n_vectors == 70
    assert -1.0 <= row.min_cell_sim <= row.mean_cell_sim <= 1.0
    assert 0.0 < row.top_cell_share <= 1.0


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


def test_retrain_flag_fires_on_drifted_batch(spark, tmp_path):
    """Healthy accretion stays unflagged; a degenerate arrival (every
    vector identical → one cell takes the whole batch) crosses the
    top_cell_share threshold and flags a retrain."""
    emb, path = _bootstrap(spark, tmp_path)
    cents = spark.read.parquet(f"{path}/centroids")

    healthy = index_ingest_batch(
        emb.filter(F.col("vec_id") >= STORE_CUT), cents
    )
    drift_stats(healthy).withColumn("batch_id", F.lit(0)).write.mode(
        "append"
    ).parquet(f"{path}/drift")

    drifted_src = (
        _emb(spark)
        .filter(F.col("vec_id") < 20)
        .select("vec_id", F.expr("transform(embedding, x -> float(1.0))").alias("embedding"))
    )
    drifted = index_ingest_batch(drifted_src, cents)
    drift_stats(drifted).withColumn("batch_id", F.lit(1)).write.mode(
        "append"
    ).parquet(f"{path}/drift")

    flags = {
        r.batch_id: r.retrain for r in retrain_flag(spark, path).collect()
    }
    assert flags[0] is False
    assert flags[1] is True


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


def test_run_index_maintenance_retrains_when_flagged(spark, tmp_path):
    """The drift-gated cycle: drain, evaluate, retrain. With a
    threshold that flags, the cycle must return True and leave an
    index equal to a FRESH build over the accreted corpus (retrain ==
    save_ivf_index over everything — duplicates folded, drift log
    reset)."""
    from pg2kafka_spark.streaming.annindex import run_index_maintenance

    emb, path = _bootstrap(spark, tmp_path)
    rest = emb.filter(F.col("vec_id") >= STORE_CUT)
    incoming = str(tmp_path / "incoming")
    _write_vector_slices(spark, rest, [(300, 400), (400, 500)], incoming)

    retrained = run_index_maintenance(
        spark,
        incoming,
        "vec_id bigint, embedding array<float>",
        index_path=path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        min_mean_sim=2.0,  # impossible bar -> always flags
    )
    assert retrained is True
    # drift log reset with the old quantizer — reset to EMPTY, not
    # missing (r15 advice: a later cycle with no backlog must not
    # crash reading the log), and retrain_flag over it is no-retrain
    assert os.path.isdir(f"{path}/drift")
    from pg2kafka_spark.streaming.annindex import retrain_flag

    assert retrain_flag(spark, path).count() == 0
    # retrained index == one built fresh over the full corpus
    served = load_ivf_topk(spark, path, _queries(spark), k=3)
    fresh = S.ivf_topk(emb, _queries(spark), k=3)
    assert _topk_rows(served) == _topk_rows(fresh)


def test_retrain_preserves_nondefault_geometry(spark, tmp_path):
    """A scheduled retrain must keep a non-default index's shape:
    n_centroids/dim are inferred from the live centroids table, not
    reset to the bootstrap defaults (r15 advice). Also pins the
    fresh-bootstrap edge: retrain_flag over an index with NO drift
    directory is no-retrain, not a crash."""
    from pg2kafka_spark.streaming.annindex import retrain_flag, retrain_index

    emb = _emb(spark)
    store = emb.filter(F.col("vec_id") < STORE_CUT)
    path = str(tmp_path / "index5")
    save_ivf_index(store, path, n_centroids=5)
    # bootstrap layout has no drift dir yet — must read as no-retrain
    assert retrain_flag(spark, path).count() == 0
    cents = spark.read.parquet(f"{path}/centroids")
    index_ingest_batch(
        emb.filter(F.col("vec_id") >= STORE_CUT), cents
    ).drop("cell_sim").write.mode("append").partitionBy("cid").parquet(
        f"{path}/cells"
    )
    retrain_index(spark, path)
    retrained_cents = spark.read.parquet(f"{path}/centroids")
    assert retrained_cents.count() == 5
    fresh_path = str(tmp_path / "fresh5")
    save_ivf_index(emb, fresh_path, n_centroids=5)
    assert _topk_rows(
        load_ivf_topk(spark, path, _queries(spark), k=3)
    ) == _topk_rows(load_ivf_topk(spark, fresh_path, _queries(spark), k=3))


def test_run_index_maintenance_healthy_keeps_quantizer(spark, tmp_path):
    """Healthy arrivals under default thresholds: no retrain, the
    frozen quantizer unchanged, accreted cells served."""
    from pg2kafka_spark.streaming.annindex import run_index_maintenance

    emb, path = _bootstrap(spark, tmp_path)
    before = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/centroids").collect()
    )
    incoming = str(tmp_path / "incoming")
    _write_vector_slices(
        spark,
        emb.filter(F.col("vec_id") >= STORE_CUT),
        [(300, 500)],
        incoming,
    )
    retrained = run_index_maintenance(
        spark,
        incoming,
        "vec_id bigint, embedding array<float>",
        index_path=path,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert retrained is False
    after = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/centroids").collect()
    )
    assert after == before
    served = load_ivf_topk(
        spark, path, _queries(spark), k=3, absorb_duplicates=True
    )
    one_pass = S.ivf_topk(
        emb,
        _queries(spark),
        k=3,
        train_corpus=emb.filter(F.col("vec_id") < STORE_CUT),
    )
    assert _topk_rows(served) == _topk_rows(one_pass)


def test_ingest_raises_mid_retrain(spark, tmp_path):
    """A crashed-mid-swap retrain leaves its sentinel; both the
    ingest stream and the maintenance cycle must fail loudly instead
    of accreting to or serving a half-swapped index."""
    import pytest as _pytest

    from pg2kafka_spark.streaming.annindex import (
        _retrain_sentinel,
        run_index_maintenance,
        start_index_ingest_stream,
    )

    _emb_df, path = _bootstrap(spark, tmp_path)
    open(_retrain_sentinel(path), "w").close()
    with _pytest.raises(RuntimeError, match="mid-retrain"):
        start_index_ingest_stream(
            spark,
            str(tmp_path / "incoming"),
            "vec_id bigint, embedding array<float>",
            index_path=path,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
    with _pytest.raises(RuntimeError, match="mid-retrain"):
        run_index_maintenance(
            spark,
            str(tmp_path / "incoming"),
            "vec_id bigint, embedding array<float>",
            index_path=path,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )


def test_compact_cells_folds_duplicates_and_preserves_serve(spark, tmp_path):
    """Compaction between runs: replay duplicates fold to one row per
    id, the plain (no absorb) serve equals the duplicate-absorbing
    one afterwards, and the sentinel is cleared."""
    from pg2kafka_spark.streaming.annindex import (
        _retrain_sentinel,
        compact_cells,
    )

    emb, path = _bootstrap(spark, tmp_path)
    cents = spark.read.parquet(f"{path}/centroids")
    batch = emb.filter(F.col("vec_id") >= STORE_CUT)
    for _ in range(2):  # append + its replay
        index_ingest_batch(batch, cents).drop("cell_sim").write.mode(
            "append"
        ).partitionBy("cid").parquet(f"{path}/cells")
    want = _topk_rows(
        load_ivf_topk(spark, path, _queries(spark), k=3, absorb_duplicates=True)
    )
    compact_cells(spark, path)
    cells = spark.read.parquet(f"{path}/cells")
    assert cells.count() == cells.select("vec_id").distinct().count()
    assert not os.path.exists(_retrain_sentinel(path))
    got = _topk_rows(load_ivf_topk(spark, path, _queries(spark), k=3))
    assert got == want


def test_pq_streamed_accretion_serves_one_pass_result(spark, tmp_path):
    """Compressed-index maintenance: bootstrap save_ivf_pq_index on
    the store, stream the remaining vectors in 2 batches coded
    against the FROZEN codebooks, serve — identical to the one-pass
    build over the union with train_corpus=store, and drift rows per
    batch."""
    from pg2kafka_spark.operators.index_store import (
        load_ivf_pq_topk,
        save_ivf_pq_index,
    )
    from pg2kafka_spark.streaming.annindex import (
        start_pq_index_ingest_stream,
    )

    emb = _emb(spark)
    store = emb.filter(F.col("vec_id") < STORE_CUT)
    path = str(tmp_path / "pq_index")
    save_ivf_pq_index(store, path)

    incoming = str(tmp_path / "incoming")
    _write_vector_slices(
        spark,
        emb.filter(F.col("vec_id") >= STORE_CUT),
        [(300, 400), (400, 500)],
        incoming,
    )
    q = start_pq_index_ingest_stream(
        spark,
        incoming,
        "vec_id bigint, embedding array<float>",
        index_path=path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    one_pass_path = str(tmp_path / "pq_one_pass")
    save_ivf_pq_index(emb, one_pass_path, train_corpus=store)
    served = load_ivf_pq_topk(
        spark, path, _queries(spark), k=3, absorb_duplicates=True
    )
    one_pass = load_ivf_pq_topk(spark, one_pass_path, _queries(spark), k=3)
    assert _topk_rows(served, "pq_sim") == _topk_rows(one_pass, "pq_sim")
    drift = spark.read.parquet(f"{path}/drift")
    assert drift.select("batch_id").distinct().count() == 2


def test_pq_retrain_from_raw_side_store_needs_no_source(spark, tmp_path):
    """r16: the PQ retrain asymmetry closed. Bootstrap with
    keep_raw=True, accrete through the stream (raw accretes in
    lockstep with the codes), then retrain reading ONLY the index
    directory — result equal to a from-scratch save_ivf_pq_index over
    the full corpus, raw store carried forward, drift log reset
    empty. An index built WITHOUT the side store refuses to
    self-retrain (codes are not invertible)."""
    from pg2kafka_spark.operators.index_store import (
        load_ivf_pq_topk,
        save_ivf_pq_index,
    )
    from pg2kafka_spark.streaming.annindex import (
        retrain_pq_index,
        start_pq_index_ingest_stream,
    )

    emb = _emb(spark)
    store = emb.filter(F.col("vec_id") < STORE_CUT)
    path = str(tmp_path / "pq_index")
    save_ivf_pq_index(store, path, keep_raw=True)

    incoming = str(tmp_path / "incoming")
    _write_vector_slices(
        spark,
        emb.filter(F.col("vec_id") >= STORE_CUT),
        [(300, 400), (400, 500)],
        incoming,
    )
    q = start_pq_index_ingest_stream(
        spark,
        incoming,
        "vec_id bigint, embedding array<float>",
        index_path=path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120)
    # the raw side store accreted in lockstep: every vector present
    raw_ids = spark.read.parquet(f"{path}/raw").select("vec_id").distinct()
    assert raw_ids.count() == emb.count()

    retrain_pq_index(spark, path)

    # retrained-from-raw == built-from-source over the same corpus
    fresh = str(tmp_path / "pq_fresh")
    save_ivf_pq_index(emb, fresh)
    assert _topk_rows(
        load_ivf_pq_topk(spark, path, _queries(spark), k=3), "pq_sim"
    ) == _topk_rows(
        load_ivf_pq_topk(spark, fresh, _queries(spark), k=3), "pq_sim"
    )
    # layout invariants: raw carried forward, drift reset to empty
    assert os.path.isdir(f"{path}/raw")
    assert retrain_flag(spark, path).count() == 0

    # no side store -> self-retrain must refuse
    bare = str(tmp_path / "pq_bare")
    save_ivf_pq_index(store, bare)
    try:
        retrain_pq_index(spark, bare)
        raise AssertionError("retrain without raw/ must raise")
    except RuntimeError as e:
        assert "raw" in str(e)


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


def test_run_index_maintenance_timeout_aborts_before_retrain(
    spark, tmp_path
):
    """r16 (r15 advice): an index drain exceeding the timeout stops
    the stream and raises — retrain/compaction never race a live
    stream — and a re-run completes from the checkpoint losslessly."""
    import pytest

    from pg2kafka_spark.streaming.annindex import run_index_maintenance

    emb, path = _bootstrap(spark, tmp_path)
    incoming = str(tmp_path / "incoming")
    _write_vector_slices(
        spark,
        emb.filter(F.col("vec_id") >= STORE_CUT),
        [(300, 370), (370, 440), (440, 500)],
        incoming,
    )
    with pytest.raises(TimeoutError):
        run_index_maintenance(
            spark,
            incoming,
            "vec_id bigint, embedding array<float>",
            index_path=path,
            checkpoint_dir=str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
            timeout_s=1,  # 3 files at 1/trigger never drain in 1 s
        )
    # recovery: the re-run drains the rest and serves the full corpus
    run_index_maintenance(
        spark,
        incoming,
        "vec_id bigint, embedding array<float>",
        index_path=path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    served = load_ivf_topk(
        spark, path, _queries(spark), k=3, absorb_duplicates=True
    )
    one_pass = S.ivf_topk(
        emb,
        _queries(spark),
        k=3,
        train_corpus=emb.filter(F.col("vec_id") < STORE_CUT),
    )
    assert _topk_rows(served) == _topk_rows(one_pass)


def test_run_pq_index_maintenance_retrains_from_raw(spark, tmp_path):
    """The compressed scheduled cycle (r16): drain, evaluate, retrain
    from the raw side store — with a threshold that always flags, the
    cycle returns True and leaves an index equal to a from-scratch
    save_ivf_pq_index over the full corpus; the drift log resets."""
    from pg2kafka_spark.operators.index_store import (
        load_ivf_pq_topk,
        save_ivf_pq_index,
    )
    from pg2kafka_spark.streaming.annindex import (
        run_pq_index_maintenance,
    )

    emb = _emb(spark)
    store = emb.filter(F.col("vec_id") < STORE_CUT)
    path = str(tmp_path / "pq_index")
    save_ivf_pq_index(store, path, keep_raw=True)
    incoming = str(tmp_path / "incoming")
    _write_vector_slices(
        spark,
        emb.filter(F.col("vec_id") >= STORE_CUT),
        [(300, 400), (400, 500)],
        incoming,
    )
    retrained = run_pq_index_maintenance(
        spark,
        incoming,
        "vec_id bigint, embedding array<float>",
        index_path=path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        min_mean_sim=2.0,  # impossible bar -> always flags
    )
    assert retrained is True
    assert retrain_flag(spark, path).count() == 0
    fresh = str(tmp_path / "pq_fresh")
    save_ivf_pq_index(emb, fresh)
    assert _topk_rows(
        load_ivf_pq_topk(spark, path, _queries(spark), k=3), "pq_sim"
    ) == _topk_rows(
        load_ivf_pq_topk(spark, fresh, _queries(spark), k=3), "pq_sim"
    )


def test_pq_retrain_from_manifest_pointer_store(spark, tmp_path):
    """r17 (r16 verdict item 7a): the manifest/ pointer store — the
    cheap alternative to raw/ when the source corpus is durably
    retained. Bootstrap with manifest_source=..., accrete through the
    stream (pointer rows accrete in lockstep, keyed to each landing
    file's own path), then retrain re-reads ONLY the referenced
    source files — result equal to a from-scratch save_ivf_pq_index
    over the full corpus, manifest carried forward deduped, drift log
    reset. A manifest whose source path vanished refuses the retrain
    loudly instead of silently shrinking the corpus."""
    from pg2kafka_spark.operators.index_store import (
        load_ivf_pq_topk,
        save_ivf_pq_index,
    )
    from pg2kafka_spark.streaming.annindex import (
        retrain_pq_index,
        start_pq_index_ingest_stream,
    )

    emb = _emb(spark)
    # the bootstrap corpus durably at rest — what manifest_source names
    src_store = str(tmp_path / "src_store")
    emb.filter(F.col("vec_id") < STORE_CUT).write.parquet(src_store)
    store = spark.read.parquet(src_store)
    path = str(tmp_path / "pq_index")
    save_ivf_pq_index(store, path, manifest_source=src_store)
    assert os.path.isdir(f"{path}/manifest")
    assert not os.path.isdir(f"{path}/raw")

    incoming = str(tmp_path / "incoming")
    _write_vector_slices(
        spark,
        emb.filter(F.col("vec_id") >= STORE_CUT),
        [(300, 400), (400, 500)],
        incoming,
    )
    q = start_pq_index_ingest_stream(
        spark,
        incoming,
        "vec_id bigint, embedding array<float>",
        index_path=path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120)
    # pointer rows accreted in lockstep: every vector id referenced,
    # at a path-string cost, not dim x 8 bytes
    man = spark.read.parquet(f"{path}/manifest")
    assert man.select("vec_id").distinct().count() == emb.count()
    assert man.schema["source_path"].dataType.simpleString() == "string"

    retrain_pq_index(spark, path)

    # retrained-from-manifest == built-from-source over the same corpus
    fresh = str(tmp_path / "pq_fresh")
    save_ivf_pq_index(emb, fresh)
    assert _topk_rows(
        load_ivf_pq_topk(spark, path, _queries(spark), k=3), "pq_sim"
    ) == _topk_rows(
        load_ivf_pq_topk(spark, fresh, _queries(spark), k=3), "pq_sim"
    )
    # layout invariants: manifest carried forward DEDUPED (one row per
    # id), no raw store materialized, drift reset to empty
    man2 = spark.read.parquet(f"{path}/manifest")
    assert man2.count() == man2.select("vec_id").distinct().count()
    assert man2.count() == emb.count()
    assert not os.path.isdir(f"{path}/raw")
    assert retrain_flag(spark, path).count() == 0

    # a vanished source file must refuse the retrain loudly
    victim = min(glob.glob(os.path.join(incoming, "*.parquet")), key=os.path.getmtime)
    os.remove(victim)
    try:
        retrain_pq_index(spark, path)
        raise AssertionError("retrain over a missing source must raise")
    except RuntimeError as e:
        assert "no longer exist" in str(e)


def test_run_pq_index_maintenance_retrains_from_manifest(spark, tmp_path):
    """r17: the scheduled compressed cycle end to end over the
    MANIFEST pointer store — drain (pointer rows accrete in lockstep),
    evaluate, retrain from the manifest-referenced source files; the
    cycle returns True, the drift log resets, the index equals a
    from-scratch build over the full corpus, and the carried-forward
    manifest still covers every vector."""
    from pg2kafka_spark.operators.index_store import (
        load_ivf_pq_topk,
        save_ivf_pq_index,
    )
    from pg2kafka_spark.streaming.annindex import (
        run_pq_index_maintenance,
    )

    emb = _emb(spark)
    src_store = str(tmp_path / "src_store")
    emb.filter(F.col("vec_id") < STORE_CUT).write.parquet(src_store)
    path = str(tmp_path / "pq_index")
    save_ivf_pq_index(
        spark.read.parquet(src_store), path, manifest_source=src_store
    )
    incoming = str(tmp_path / "incoming")
    _write_vector_slices(
        spark,
        emb.filter(F.col("vec_id") >= STORE_CUT),
        [(300, 400), (400, 500)],
        incoming,
    )
    retrained = run_pq_index_maintenance(
        spark,
        incoming,
        "vec_id bigint, embedding array<float>",
        index_path=path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        min_mean_sim=2.0,  # impossible bar -> always flags
    )
    assert retrained is True
    assert retrain_flag(spark, path).count() == 0
    assert not os.path.isdir(f"{path}/raw")
    man = spark.read.parquet(f"{path}/manifest")
    assert man.select("vec_id").distinct().count() == emb.count()
    fresh = str(tmp_path / "pq_fresh")
    save_ivf_pq_index(emb, fresh)
    assert _topk_rows(
        load_ivf_pq_topk(spark, path, _queries(spark), k=3), "pq_sim"
    ) == _topk_rows(
        load_ivf_pq_topk(spark, fresh, _queries(spark), k=3), "pq_sim"
    )


def test_pq_retrain_with_both_side_stores_carries_manifest(
    spark, tmp_path
):
    """r18 (advice): save_ivf_pq_index permits keep_raw=True PLUS
    manifest_source, so an index can carry BOTH side stores. A retrain
    feeds its corpus from raw/ when present — but it must still carry
    manifest/ forward, or a restarted ingest stream would see
    keep_manifest=False and silently stop accreting pointer rows,
    breaking the NEXT retrain's manifest path."""
    from pg2kafka_spark.operators.index_store import (
        load_ivf_pq_topk,
        save_ivf_pq_index,
    )
    from pg2kafka_spark.streaming.annindex import retrain_pq_index

    emb = _emb(spark)
    src_store = str(tmp_path / "src_store")
    emb.write.parquet(src_store)
    path = str(tmp_path / "pq_index")
    save_ivf_pq_index(
        spark.read.parquet(src_store),
        path,
        keep_raw=True,
        manifest_source=src_store,
    )
    assert os.path.isdir(f"{path}/raw")
    assert os.path.isdir(f"{path}/manifest")
    n = emb.count()

    retrain_pq_index(spark, path)

    # raw fed the corpus AND both side stores survive the swap
    assert os.path.isdir(f"{path}/raw")
    assert os.path.isdir(f"{path}/manifest")
    man = spark.read.parquet(f"{path}/manifest")
    assert man.count() == n  # deduped at rest
    assert man.select("vec_id").distinct().count() == n
    # the rebuilt index still serves = a from-scratch build
    fresh = str(tmp_path / "pq_fresh")
    save_ivf_pq_index(emb, fresh)
    assert _topk_rows(
        load_ivf_pq_topk(spark, path, _queries(spark), k=3), "pq_sim"
    ) == _topk_rows(
        load_ivf_pq_topk(spark, fresh, _queries(spark), k=3), "pq_sim"
    )


def test_manifest_precheck_decodes_percent_encoded_paths(
    spark, tmp_path
):
    """r18 (advice): the ingest stream accretes pointer rows from
    ``_metadata.file_path``, which yields PERCENT-ENCODED file: URIs —
    a landing directory with a space in its name records %20. The
    retrain's existence pre-check must decode before os.path.exists,
    or it wrongly refuses a retrain spark.read.parquet would serve."""
    from pg2kafka_spark.operators.index_store import save_ivf_pq_index
    from pg2kafka_spark.streaming.annindex import (
        retrain_pq_index,
        start_pq_index_ingest_stream,
    )

    emb = _emb(spark)
    src_store = str(tmp_path / "src_store")
    emb.filter(F.col("vec_id") < STORE_CUT).write.parquet(src_store)
    path = str(tmp_path / "pq_index")
    save_ivf_pq_index(
        spark.read.parquet(src_store), path, manifest_source=src_store
    )
    # landing dir with a space — the URI form the stream records for
    # these files percent-encodes it
    incoming = str(tmp_path / "in coming")
    _write_vector_slices(
        spark,
        emb.filter(F.col("vec_id") >= STORE_CUT),
        [(300, 500)],
        incoming,
    )
    q = start_pq_index_ingest_stream(
        spark,
        incoming,
        "vec_id bigint, embedding array<float>",
        index_path=path,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120)
    man = spark.read.parquet(f"{path}/manifest")
    paths = [
        r.source_path
        for r in man.select("source_path").distinct().collect()
    ]
    assert any("%20" in p for p in paths), paths

    retrain_pq_index(spark, path)  # must NOT refuse "no longer exist"
    man2 = spark.read.parquet(f"{path}/manifest")
    assert man2.select("vec_id").distinct().count() == emb.count()


def test_manifest_read_path_normalization():
    """r19 (advice): percent-decoding must happen AFTER URI parsing,
    and ONLY on ``file:`` URIs. Decoding first turns an encoded
    '#'/'?' in a file name into a live delimiter that truncates the
    path; decoding a verbatim ``manifest_source`` filesystem path
    corrupts a directory literally named with a %xx sequence."""
    from pg2kafka_spark.streaming.annindex import _manifest_read_path

    # file: URI — decode the path component (the r18 %20 case)
    assert (
        _manifest_read_path("file:/land%20ing/part-0.parquet")
        == "/land ing/part-0.parquet"
    )
    # encoded '#' and '?' inside a file: URI survive as literal chars
    # instead of truncating at a fragment/query delimiter
    assert (
        _manifest_read_path("file:/in/part%23a%3Fb.parquet")
        == "/in/part#a?b.parquet"
    )
    # scheme-less manifest_source path stays VERBATIM
    assert _manifest_read_path("/data%20v2/f.parquet") == "/data%20v2/f.parquet"
    # remote schemes keep the raw URI — the reader owns their escaping
    assert _manifest_read_path("s3://bkt/a%20b/f.parquet") == (
        "s3://bkt/a%20b/f.parquet"
    )


def test_manifest_source_with_literal_percent_stays_verbatim(
    spark, tmp_path
):
    """r19 (advice): the bootstrap manifest row is the user-supplied
    ``manifest_source`` written verbatim — a directory literally named
    ``src%20store`` must NOT be percent-decoded into ``src store`` (a
    path that does not exist), which made the retrain's existence
    pre-check spuriously refuse."""
    from pg2kafka_spark.operators.index_store import save_ivf_pq_index
    from pg2kafka_spark.streaming.annindex import retrain_pq_index

    emb = _emb(spark)
    src_store = str(tmp_path / "src%20store")
    emb.filter(F.col("vec_id") < STORE_CUT).write.parquet(src_store)
    path = str(tmp_path / "pq_index")
    save_ivf_pq_index(
        spark.read.parquet(src_store), path, manifest_source=src_store
    )
    retrain_pq_index(spark, path)  # must not refuse "no longer exist"
    man = spark.read.parquet(f"{path}/manifest")
    assert man.select("vec_id").distinct().count() == STORE_CUT


def test_retrain_recovers_from_stale_old_dir(spark, tmp_path):
    """r17 (advice): a stale index.__old__ left by a crash between a
    prior retrain's sentinel removal and its rmtree must not wedge
    the next retrain ENOTEMPTY mid-swap — it is cleared before the
    swap bracket, same guard as the graphstore fold and the retention
    compactions. compact_cells swaps the cells directory the same way,
    so a stale cells.__old__ must not wedge it either (nor strand the
    retrain sentinel that would then block ingest)."""
    from pg2kafka_spark.streaming.annindex import (
        _retrain_sentinel,
        compact_cells,
        retrain_index,
    )

    emb, path = _bootstrap(spark, tmp_path)
    old = path.rstrip("/") + ".__old__"
    os.makedirs(old, exist_ok=True)
    with open(os.path.join(old, "stale.parquet"), "w") as fh:
        fh.write("stale")
    retrain_index(spark, path)  # must not raise
    assert not os.path.exists(old)
    assert not os.path.exists(path.rstrip("/") + ".__retrain__")
    # the retrained index still serves
    got = load_ivf_topk(
        spark, path, _queries(spark), k=3, absorb_duplicates=True
    )
    assert got.count() > 0

    cells_old = f"{path}/cells.__old__"
    os.makedirs(cells_old, exist_ok=True)
    with open(os.path.join(cells_old, "stale.parquet"), "w") as fh:
        fh.write("stale")
    compact_cells(spark, path)  # must not raise
    assert not os.path.exists(cells_old)
    assert not os.path.exists(_retrain_sentinel(path))
    cells = spark.read.parquet(f"{path}/cells")
    assert cells.count() == cells.select("vec_id").distinct().count()
