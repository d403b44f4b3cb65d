"""Connected-components / canonical-selection unit tests
(operators/graph.py). The oracle-parity side is covered by
``near_dup_components`` / ``near_dup_canonical`` in the registry;
these pin the algorithm on hand-built graphs where the answer is
checkable by eye — especially the transitive-chain case that
pair-wise keep lists get wrong."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg2kafka_spark.operators import graph as G


@pytest.fixture(autouse=True)
def _release_graph_state():
    # connected_components leaves its final label table checkpointed
    # (callers need it materialized); release it after every test so a
    # shared session's executor storage doesn't accrue across the suite
    yield
    G.release_graph_state()


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _labels(df):
    return {r["node"]: r["component_id"] for r in df.collect()}


def test_transitive_chain_is_one_component(spark):
    # A-B, B-C, C-D: pair-wise "drop the larger id" would keep A and
    # drop B, C, D even though A~D was never asserted; components give
    # one cluster labelled min(id).
    got = _labels(G.connected_components(_edges(spark, [(1, 2), (2, 3), (3, 4)])))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_disjoint_components_keep_separate_labels(spark):
    got = _labels(
        G.connected_components(_edges(spark, [(10, 11), (20, 21), (21, 22)]))
    )
    assert got == {10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_clique_converges_in_one_round(spark):
    # a boilerplate cluster is a clique: diameter 1, so max_iter=2
    # (one propagation + one no-change confirmation) must suffice
    got = _labels(
        G.connected_components(
            _edges(spark, [(5, 6), (5, 7), (6, 7)]), max_iter=2
        )
    )
    assert got == {5: 5, 6: 5, 7: 5}


def test_empty_edge_list_yields_empty_labels(spark):
    df = G.connected_components(_edges(spark, []))
    assert df.columns == ["node", "component_id"]
    assert df.count() == 0


def test_nonconvergence_raises_instead_of_partial_labels(spark):
    # path of 6 nodes has diameter 5; 2 rounds cannot reach the
    # fixpoint and the operator must refuse, not return partial labels
    with pytest.raises(RuntimeError, match="did not converge"):
        G.connected_components(
            _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]),
            max_iter=2,
        )


def test_isolates_become_singletons_and_keep_columns(spark):
    comps = G.connected_components(_edges(spark, [(1, 2)]), node_col="doc_id")
    nodes = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "doc_id long, n_chars long"
    )
    full = G.components_with_isolates(comps, nodes, node_col="doc_id")
    rows = {r["doc_id"]: (r["component_id"], r["n_chars"]) for r in full.collect()}
    assert rows == {1: (1, 10), 2: (1, 20), 3: (3, 30)}


def test_canonical_is_longest_then_smallest_id(spark):
    labeled = spark.createDataFrame(
        [(1, 1, 50), (2, 1, 90), (3, 1, 90), (7, 7, 10)],
        "doc_id long, component_id long, n_chars long",
    )
    out = G.canonical_per_component(
        labeled, [F.col("n_chars").desc(), F.col("doc_id").asc()]
    )
    rows = {r["doc_id"]: (r["comp_size"], r["is_canonical"]) for r in out.collect()}
    # doc 2 wins the 3-doc cluster (longest, ties broken by id); the
    # isolate is its own canonical
    assert rows == {1: (3, False), 2: (3, True), 3: (3, False), 7: (1, True)}


def test_storage_bounded_to_one_label_table_and_releasable(spark):
    """Round N's label checkpoint must be DROPPED once round N+1 is
    materialized (storage holds one label table + the edge list, not
    one per round), and release_graph_state must empty storage."""
    sc = spark.sparkContext
    G.release_graph_state()
    base = len(sc._jsc.sc().getRDDStorageInfo())
    # a 6-chain needs several propagation rounds
    df = G.connected_components(
        _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])
    )
    assert _labels(df) == {i: 1 for i in range(1, 7)}
    # after convergence: only the final label checkpoint remains (the
    # edge list is released at return)
    assert len(sc._jsc.sc().getRDDStorageInfo()) <= base + 1
    G.release_graph_state()
    assert len(sc._jsc.sc().getRDDStorageInfo()) == base


def test_star_matches_propagation_on_mixed_graph(spark):
    """large-star/small-star and min-label propagation must agree
    exactly: chain + clique + isolate pair, one call each."""
    pairs = (
        [(1, 2), (2, 3), (3, 4)]            # chain -> comp 1
        + [(10, 11), (11, 12), (10, 12)]    # clique -> comp 10
        + [(20, 21)]                        # pair  -> comp 20
    )
    prop = _labels(G.connected_components(_edges(spark, pairs)))
    star = _labels(G.connected_components_star(_edges(spark, pairs)))
    assert star == prop
    assert star[4] == 1 and star[12] == 10 and star[21] == 20


def test_star_handles_chain_past_propagation_bound(spark):
    """The diameter-robust claim, measured: a 60-node path has
    diameter 59 > the propagation loop's default 25-round bound (it
    raises), while the star variant converges in O(log^2 n) rounds
    and labels every node with the path minimum."""
    pairs = [(i, i + 1) for i in range(1, 60)]
    with pytest.raises(RuntimeError, match="did not converge"):
        G.connected_components(_edges(spark, pairs))
    got = _labels(G.connected_components_star(_edges(spark, pairs)))
    assert got == {i: 1 for i in range(1, 61)}


def test_star_empty_and_shuffled_ids(spark):
    """Empty edges yield empty labels; min-id roots hold regardless
    of insertion order or id magnitude (ANSI-range ids)."""
    assert _labels(G.connected_components_star(_edges(spark, []))) == {}
    big = 2**62
    got = _labels(
        G.connected_components_star(
            _edges(spark, [(big, 7), (7, big - 1), (big - 1, big)])
        )
    )
    assert got == {7: 7, big - 1: 7, big: 7}


def test_pagerank_symmetric_cycle_is_uniform(spark):
    """A→B→A with equal weights: ranks must stay exactly uniform
    through every fixed-point iteration."""
    from pg2kafka_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame(
        [(1, 2), (2, 1)], "src bigint, dst bigint"
    )
    pr = {r.node: r.rank_fp for r in pagerank_fixed_point(edges).collect()}
    assert pr[1] == pr[2]


def test_pagerank_star_center_dominates_and_weights_matter(spark):
    """Spokes→center star: the center outranks every spoke; doubling
    one spoke's weight must not change ranks (each spoke's whole
    out-mass goes to the center regardless of weight scale)."""
    from pg2kafka_spark.operators.graph import pagerank_fixed_point

    star = [(s, 99, 1) for s in range(1, 6)]
    edges = spark.createDataFrame(star, "src bigint, dst bigint, w bigint")
    pr = {
        r.node: r.rank_fp
        for r in pagerank_fixed_point(edges, weight_col="w").collect()
    }
    assert all(pr[99] > pr[s] for s in range(1, 6))
    heavier = spark.createDataFrame(
        [(1, 99, 2)] + star[1:], "src bigint, dst bigint, w bigint"
    )
    pr2 = {
        r.node: r.rank_fp
        for r in pagerank_fixed_point(heavier, weight_col="w").collect()
    }
    assert pr2 == pr


def test_pagerank_dangling_node_keeps_base_rank(spark):
    """A sink node (in-edges only) must still appear with base +
    inbound mass; its own mass is dropped (the documented dangling
    simplification), so total mass shrinks but never errors."""
    from pg2kafka_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    pr = {r.node: r.rank_fp for r in pagerank_fixed_point(edges).collect()}
    assert set(pr) == {1, 2}
    assert pr[2] > pr[1] > 0
    assert pr[1] + pr[2] <= 1_000_000_000


def test_pagerank_conserving_redistributes_dangling_mass(spark):
    """conserve_dangling=True (r16): total mass stays scale up to
    per-division truncation (a distribution, not just comparable
    ranks), strictly exceeding the dropping variant's total on a
    graph with a sink; on a sink-free graph the two variants are
    IDENTICAL (no dangling mass to move)."""
    from pg2kafka_spark.operators.graph import pagerank_fixed_point

    scale = 1_000_000_000
    sink = spark.createDataFrame(
        [(1, 2), (3, 2)], "src bigint, dst bigint"
    )
    drop = {
        r.node: r.rank_fp for r in pagerank_fixed_point(sink).collect()
    }
    cons = {
        r.node: r.rank_fp
        for r in pagerank_fixed_point(sink, conserve_dangling=True).collect()
    }
    assert sum(cons.values()) > sum(drop.values())
    # truncation loss only: < 1 unit per division site per iteration
    assert scale - sum(cons.values()) < 100
    assert cons[2] > cons[1] == cons[3] > 0

    cycle = spark.createDataFrame([(1, 2), (2, 1)], "src bigint, dst bigint")
    assert {
        r.node: r.rank_fp for r in pagerank_fixed_point(cycle).collect()
    } == {
        r.node: r.rank_fp
        for r in pagerank_fixed_point(cycle, conserve_dangling=True).collect()
    }


def test_incremental_components_equals_cold_rebuild(spark):
    """The maintained-labels fold: a new batch that (a) bridges two
    old components, (b) introduces brand-new nodes, and (c) leaves a
    third component untouched must produce exactly the cold rebuild
    over the union of all edges — and old singletons survive the fold
    via their self-stars."""
    from pg2kafka_spark.operators.graph import (
        connected_components,
        components_with_isolates,
        incremental_components,
    )

    old_edges = spark.createDataFrame(
        [(1, 2), (3, 4), (7, 8)], "id_a bigint, id_b bigint"
    )
    old_nodes = spark.createDataFrame(
        [(n,) for n in (1, 2, 3, 4, 7, 8, 9)], "node bigint"
    )  # 9 = old isolate
    labels = components_with_isolates(
        connected_components(old_edges), old_nodes
    )
    new_edges = spark.createDataFrame(
        [(2, 3), (10, 11), (11, 9)], "id_a bigint, id_b bigint"
    )  # bridges {1,2}+{3,4}; new nodes 10,11 chained onto old isolate 9
    warm = {
        r.node: r.component_id
        for r in incremental_components(labels, new_edges).collect()
    }
    cold = {
        r.node: r.component_id
        for r in connected_components(
            old_edges.unionByName(new_edges)
        ).collect()
    }
    # cold CC doesn't see edge-less node 9's old membership; warm
    # carries every labeled node. Compare on the union semantics:
    assert warm == {**cold, 9: warm[9]}
    assert warm[1] == warm[2] == warm[3] == warm[4] == 1
    assert warm[9] == warm[10] == warm[11] == 9
    assert warm[7] == warm[8] == 7


def test_components_fold_is_replay_idempotent(spark, tmp_path):
    """Crash-before-checkpoint replay: folding the SAME batch twice
    leaves the label table unchanged (the labels' star edges already
    connect what the batch connected)."""
    from pg2kafka_spark.streaming.graphstore import fold_pairs_batch

    labels_dir = str(tmp_path / "labels")
    batch = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a bigint, id_b bigint"
    )
    fold_pairs_batch(spark, batch, labels_dir)
    once = sorted(
        tuple(r) for r in spark.read.parquet(labels_dir).collect()
    )
    fold_pairs_batch(spark, batch, labels_dir)  # the replay
    twice = sorted(
        tuple(r) for r in spark.read.parquet(labels_dir).collect()
    )
    assert twice == once


def test_components_store_mid_swap_raises(spark, tmp_path):
    """A fold crashed inside the swap bracket must fail the next
    reader AND the next fold loudly — never read as 'no labels
    yet' (that would silently fork every historical cluster)."""
    import pytest

    from pg2kafka_spark.streaming.graphstore import (
        _labels_or_empty,
        _swap_sentinel,
        fold_pairs_batch,
    )

    labels_dir = str(tmp_path / "labels")
    batch = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    fold_pairs_batch(spark, batch, labels_dir)
    with open(_swap_sentinel(labels_dir), "w"):
        pass
    with pytest.raises(RuntimeError, match="mid-swap"):
        _labels_or_empty(spark, labels_dir)
    with pytest.raises(RuntimeError, match="mid-swap"):
        fold_pairs_batch(spark, batch, labels_dir)


@pytest.mark.heavy_e2e
def test_components_fold_recovers_from_stale_old_dir(spark, tmp_path):
    """r17 (advice): a crash after the sentinel removal but before
    the __old__ rmtree leaves a value-complete-but-stale __old__
    behind; the NEXT fold must clear it and swap cleanly instead of
    wedging ENOTEMPTY mid-swap with the sentinel stranded."""
    import os

    from pg2kafka_spark.streaming.graphstore import (
        _labels_or_empty,
        fold_pairs_batch,
    )

    labels_dir = str(tmp_path / "labels")
    b1 = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    fold_pairs_batch(spark, b1, labels_dir)
    # simulate the crash remnant: a stale, non-empty __old__
    old = labels_dir.rstrip("/") + ".__old__"
    os.makedirs(old, exist_ok=True)
    with open(os.path.join(old, "stale.parquet"), "w") as fh:
        fh.write("stale")
    b2 = spark.createDataFrame([(2, 3)], "id_a bigint, id_b bigint")
    fold_pairs_batch(spark, b2, labels_dir)  # must not raise
    assert not os.path.exists(old)
    got = sorted(
        tuple(r) for r in _labels_or_empty(spark, labels_dir).collect()
    )
    assert got == [(1, 1), (2, 1), (3, 1)]


def test_canonical_served_equals_recompute(spark):
    """r17 (r16 verdict item 6): canonical selection read off the
    MAINTAINED label store equals the recompute-from-scratch spelling
    row for row — the store is a connectivity-exact fold, and the
    rank runs the same (n_chars DESC, doc_id ASC) window over it."""
    from pg2kafka_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    served = sorted(
        tuple(r)
        for r in QUERIES["near_dup_canonical_served"](spark, sf).collect()
    )
    recomputed = sorted(
        tuple(r)
        for r in QUERIES["near_dup_canonical"](spark, sf).collect()
    )
    assert served == recomputed


@pytest.mark.heavy_e2e
def test_components_store_wipe_clears_skip_gate(spark):
    """r17 (advice): the completeness marker lives INSIDE the store
    root, so an rm -rf of the store atomically clears the skip gate —
    a surviving sibling marker used to make later sessions serve a
    labels path that no longer exists."""
    import os
    import shutil

    from pg2kafka_spark.q_pipeline import _ensure_components_store

    sf = "/root/testdata/sf0.001"
    labels_dir = _ensure_components_store(spark, sf)
    root = os.path.dirname(labels_dir)
    assert os.path.exists(os.path.join(root, "_COMPLETE"))
    before = sorted(
        tuple(r) for r in spark.read.parquet(labels_dir).collect()
    )
    shutil.rmtree(root)  # the tmp-reaper / manual-wipe scenario
    labels_dir2 = _ensure_components_store(spark, sf)
    assert labels_dir2 == labels_dir
    after = sorted(
        tuple(r) for r in spark.read.parquet(labels_dir2).collect()
    )
    assert after == before
