"""Physical-plan regression tests.

Correctness says the operators compute the right rows; these assert
the plans are the ones that survive 100× scale — broadcasts where a
side is dim-sized, filters pushed into the parquet scan, columns
pruned, partial aggregation before shuffles, no exchange on map-only
queries. A plan regression (e.g. a broadcast silently becoming a
sort-merge join, or a filter no longer reaching the scan) fails here
long before it would show up as a benchmark cliff at scale.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from pg2kafka_spark.queries import QUERIES


def plan_of(spark, name: str, sf_dir: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    # TPC-H Q5 shape: the fact table must never shuffle for the join.
    p = plan_of(spark, "revenue_by_region", sf_dir)
    assert p.count("BroadcastHashJoin") >= 4  # region/nation/customer/orders
    assert "SortMergeJoin" not in p
    # exactly one plain shuffle beyond the r20 pinned-width keyed
    # spread of the small scan (identity at scale): the final
    # 5-group aggregation
    # (" Exchange (" matches shuffle nodes, not BroadcastExchange)
    assert p.count(" Exchange (") - p.count("REPARTITION_BY_NUM") == 1
    assert p.count("REPARTITION_BY_NUM") <= 1
    assert "RoundRobinPartitioning" not in p


def test_paginated_scan_pushes_predicate_and_avoids_global_sort(spark, sf_dir):
    p = plan_of(spark, "unprocessed_page", sf_dir)
    # LIMIT+ORDER plans as per-partition bounded heaps, not a sort
    assert "TakeOrderedAndProject" in p
    # the processed-analog predicate reaches the parquet reader
    assert "PushedFilters:" in p and "EqualTo(event_type,error)" in p


def test_snapshot_scan_is_map_only(spark, sf_dir):
    p = plan_of(spark, "snapshot_part", sf_dir)
    assert "Exchange" not in p  # scan → project, embarrassingly parallel


def test_pricing_summary_prunes_columns_and_partial_aggregates(spark, sf_dir):
    p = plan_of(spark, "pricing_summary", sf_dir)
    # column pruning: untouched wide columns never leave the scan
    assert "l_orderkey" not in p and "l_comment" not in p
    # map-side partial agg before the exchange (two HashAggregate levels)
    assert p.count("HashAggregate") >= 2
    assert "partial_sum" in p


def test_latest_state_uses_partial_max_by_not_window_sort(spark, sf_dir):
    # compaction via max_by aggregates map-side; a window formulation
    # would global-sort every row of every key
    p = plan_of(spark, "latest_state_per_user", sf_dir)
    assert "partial_max_by" in p
    assert "Window" not in p


def test_topk_uses_window_group_limit(spark, sf_dir):
    # rank<=k must be pushed into per-partition group limits, so only
    # k rows per key per partition reach the shuffle
    p = plan_of(spark, "embedding_topk", sf_dir)
    assert "WindowGroupLimit" in p


def test_fingerprints_are_map_only(spark, sf_dir):
    p = plan_of(spark, "doc_fingerprint", sf_dir)
    assert "Exchange" not in p


def test_exact_dedup_is_single_shuffle(spark, sf_dir):
    p = plan_of(spark, "exact_dedup_documents", sf_dir)
    assert p.count(" Exchange (") == 1
    assert p.count("HashAggregate") >= 2  # map-side partial before it


def test_wire_encode_is_map_only(spark, sf_dir):
    p = plan_of(spark, "wire_encode_nation", sf_dir)
    assert "Exchange" not in p


def test_wire_rescue_decode_is_map_only(spark, sf_dir):
    # encode → two JacksonParser passes → key diff → explode, all
    # in one stage over one scan: the rescue path adds parsers, never
    # a shuffle (r16)
    p = plan_of(spark, "wire_rescued_keys", sf_dir)
    assert "Exchange" not in p
    assert "Generate" in p  # the rescued-map explode
    assert "from_json" in p


def test_ivf_broadcasts_centroids_and_probes(spark, sf_dir):
    # corpus side must stream: centroid/probe sides broadcast, no
    # corpus self-join, no cartesian against the big side
    p = plan_of(spark, "embedding_ann_ivf", sf_dir)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_salted_rollup_is_two_phase(spark, sf_dir):
    """salted_agg must plan as exactly two exchanges — hash on
    (user_id, __salt), then hash on user_id — each preceded by a
    map-side partial aggregate; no single-phase collapse."""
    p = plan_of(spark, "user_event_rollup_salted", sf_dir)
    assert "__salt" in p
    assert p.count("hashpartitioning") >= 2
    assert p.count(" Exchange (") == 2
    assert "HashAggregate" in p


def test_portable_sketch_twins_have_no_data_shuffle(spark, sf_dir):
    # the only allowed exchange is _spread's fan-out (a no-op at
    # scale: it never repartitions DOWN, and a 100 TB scan already
    # has thousands of splits) — r20: keyed by doc_id
    # (REPARTITION_BY_NUM hash, no sortBeforeRepartition) instead of
    # round-robin; no planner-inserted (ENSURE_REQUIREMENTS) shuffle
    # anywhere
    p = plan_of(spark, "minhash_signatures_portable", sf_dir)
    assert p.count(" Exchange (") <= 1 and "ENSURE_REQUIREMENTS" not in p
    # the min-fold happens before the explode: the Generate's input
    # carries the k-element signature, never the shingle array
    assert "Generate" in p and "__sh" not in p.split("Generate")[1].split("Input")[1].split("]")[0]
    p2 = plan_of(spark, "simhash_portable", sf_dir)
    assert p2.count(" Exchange (") <= 1 and "ENSURE_REQUIREMENTS" not in p2
    assert "Generate" not in p2


def test_portable_minhash_stages_the_token_fold_once(spark, sf_dir):
    """Regression guard for the quadratic that burned rounds 1 AND 2:
    interpreted HOFs re-evaluate outer-captured expressions per
    element, so the O(doc_chars) per-token (h,p) char fold must appear
    in the plan EXACTLY once — as its own staged projection — and
    never inside the shingle-composing lambda. The broken round-2
    formulation (element_at(hp, i) captured per shingle) shows the
    fold n+ times; CollapseProject re-inlining the stage would too."""
    p = plan_of(spark, "minhash_signatures_portable", sf_dir)
    # `ascii(` only occurs in the char fold of token_hash_pairs
    assert p.count("ascii(") == 1, f"token fold evaluated {p.count('ascii(')}x"
    # and the staged __hp column is what the shingle slices read
    assert "slice(__hp" in p


def test_simhash_token_fold_staged_once(spark, sf_dir):
    """r14 twin of the minhash staging pin: the tokenize+char-fold
    must appear in the simhash plan EXACTLY once. The r13 spelling
    filtered on size(__h), which the optimizer pushed below the
    staging projection — re-evaluating the whole fold per row (2x the
    family's hottest stage; and the intermittent interpreted-path
    stall multiplies whatever it touches). The NULL guard is now an
    IsNotNull at the scan."""
    p = plan_of(spark, "simhash_portable", sf_dir)
    assert p.count("ascii(") == 1, f"token fold evaluated {p.count('ascii(')}x"


def test_minhash_pairs_signature_pass_cached(spark, sf_dir):
    """The agreement stage consumes the signature table TWICE (sa and
    sb); unpersisted, the full corpus shingle+minhash pass executed
    twice per run (r14 plan audit). Pin the cache: at least two
    in-memory scans (band table + signature table)."""
    p = plan_of(spark, "minhash_lsh_pairs_portable", sf_dir)
    assert p.count("InMemoryTableScan") >= 2


def test_embedding_near_dup_blocks_are_groups_not_rows(spark, sf_dir):
    # a block must reach the matmul kernel as an Arrow-batched GROUP
    # (applyInPandas), never be packed into a single collect_list row
    # (whole-block rows hit Spark's ~2 GiB single-value ceiling)
    p = plan_of(spark, "embedding_near_dup_pairs", sf_dir)
    assert "collect_list" not in p
    assert "FlatMapGroupsInPandas" in p
    # exactly one data shuffle: the (blo, bhi) group exchange
    assert p.count(" Exchange (") == 1


def test_portable_minhash_linear_runtime_budget(spark, wall_budget):
    """Wall-time backstop for the same pathology: 60 docs x 1500
    tokens is ~0.5 s linear but minutes quadratic (tokens x doc_chars
    interpreted fold steps). Generous 60 s budget, load-scaled (r17) -
    only a complexity-class regression can blow it."""
    import time

    from pg2kafka_spark.operators.dedup import minhash_signatures_portable

    doc = " ".join(f"tok{i % 97} w{i}" for i in range(750))  # 1500 tokens
    df = spark.createDataFrame(
        [(i, doc + f" tail{i}") for i in range(60)], "doc_id long, text string"
    )

    def measure() -> float:
        t0 = time.perf_counter()
        assert minhash_signatures_portable(df, k=8).count() == 60 * 8
        return time.perf_counter() - t0

    wall = measure()
    limit = wall_budget(60)
    if wall >= limit:
        # the documented single-rep in-suite stall class (BASELINE.md
        # r13-r14 forensics) fires once and never recurs; a genuine
        # complexity-class regression blows the budget on EVERY rep —
        # re-measure before failing, exactly the bench's best-of-N rule
        wall = min(wall, measure())
    assert wall < limit, f"portable minhash took {wall:.1f}s (budget {limit:.0f}s)"


def test_decontamination_broadcasts_eval_grams(spark, sf_dir):
    # the eval side is MBs against a 100 TB corpus: its distinct gram
    # hashes must broadcast; the only plain shuffle is the per-doc
    # count on uniform id keys (+ the small-scan spread repartition)
    p = plan_of(spark, "decontamination_check", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_duplicate_ngram_stats_partial_aggregates_no_window(spark, sf_dir):
    # the shared-gram count must partial-aggregate map-side (hot
    # boilerplate grams combine before the exchange); a Window over
    # the gram key could not, and AQE could not split it
    p = plan_of(spark, "doc_duplicate_ngrams", sf_dir)
    assert "Window" not in p
    assert "partial_count" in p


def test_near_dup_component_loop_lineage_is_truncated(spark, sf_dir):
    # the label table must enter the plan as a materialized RDD scan:
    # a replan (AQE, retry) must never re-run the propagation loop
    p = plan_of(spark, "near_dup_canonical", sf_dir)
    assert "ExistingRDD" in p
    # one window pass computes rank + size together
    assert p.count("Window") >= 1


def test_bloom_prune_never_sort_merge_joins_the_fact(spark, sf_dir):
    # the whole point: fact rows are filtered by a broadcast bitset +
    # broadcast key join — no fact-side shuffle join anywhere
    p = plan_of(spark, "bloom_semijoin_prune", sf_dir)
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p  # exactness audit join


def test_quantized_topk_is_broadcast_and_group_limited(spark, sf_dir):
    p = plan_of(spark, "embedding_topk_quantized", sf_dir)
    assert "SortMergeJoin" not in p
    assert "WindowGroupLimit" in p  # bounded-heap top-k


def test_semantic_dedup_prunes_per_cluster_in_grouped_map(spark, sf_dir):
    p = plan_of(spark, "semantic_dedup_embeddings", sf_dir)
    # the quadratic scan lives in one grouped-map kernel per cluster,
    # never a pairwise self-join
    assert "FlatMapGroupsInPandas" in p
    assert "SortMergeJoin" not in p
    # no corpus-sized collect_list packing (the round-2 single-row
    # block failure mode): every collect_list in the plan must be the
    # bounded centroid-array collapse (n_centroids rows → one
    # broadcast array for the r19 map-only argmax), i.e. grouped by
    # nothing/aggregating the tiny cents table — pinned by requiring
    # each occurrence to collect the centroid struct, never __cv
    for frag in p.split("collect_list(")[1:]:
        assert frag.startswith("struct(cid"), frag[:60]


def test_chunk_windows_is_map_only(spark, sf_dir):
    p = plan_of(spark, "doc_chunk_windows", sf_dir)
    assert "Exchange" not in p


def test_count_min_counter_table_broadcasts(spark, sf_dir):
    p = plan_of(spark, "user_heavy_hitters_cm", sf_dir)
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "partial_count" in p or "HashAggregate" in p


def test_segment_scrub_broadcasts_dup_set_and_never_sorts_corpus(spark, sf_dir):
    p = plan_of(spark, "doc_segment_scrub", sf_dir)
    # the boilerplate dup-set is the small side of the mark join
    assert "BroadcastHashJoin" in p
    # reassembly is an aggregation (array_sort over collected structs),
    # never a corpus-wide Sort/Window
    assert "Window" not in p
    assert " Sort (" not in p


def test_source_cap_is_two_phase_window(spark, sf_dir):
    p = plan_of(spark, "source_capped_sample", sf_dir)
    # phase 1 partitions by (source, salt), phase 2 by source alone:
    # two Window nodes, two exchanges — the hot-domain spread
    assert p.count("Window") >= 2
    assert p.count(" Exchange (") == 2


def test_zorder_stats_single_bucket_exchange(spark, sf_dir):
    p = plan_of(spark, "zorder_layout_stats", sf_dir)
    # 1-row global stats broadcast back; the only data shuffles are the
    # single-partition stats reduction, the 64-key bucket agg, and
    # (r14) spread_small_input's fan-out before the heavy z projection
    # — a no-op at scale; r20: the spread is a deterministic hash on
    # the layout key (no sortBeforeRepartition), so exactly TWO
    # hashpartitioning exchanges appear (spread + bucket agg)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert p.count(" Exchange (") <= 3
    assert p.count("hashpartitioning") <= 2  # keyed spread + bucket agg
    assert "RoundRobinPartitioning" not in p
    # both scans read just the two layout dims
    assert "l_comment" not in p and "l_extendedprice" not in p


def test_strict_packing_no_global_sort(spark, sf_dir):
    p = plan_of(spark, "doc_pack_spans_strict", sf_dir)
    # one per-shard window prefix sum + bounded explode; the only
    # exchange feeds the window partitioning
    assert p.count(" Exchange (") == 1
    assert "Generate" in p  # the bounded pack explode


def test_salted_join_replicates_small_side_and_keys_on_salt(spark, sf_dir):
    p = plan_of(spark, "mktsegment_rollup_salted_join", sf_dir)
    # the small side's 16-way salt replication is an explode
    assert "Generate" in p and "explode" in p
    # the join condition carries the salt key alongside the equi-key
    assert "__salt" in p


def test_quantized_topk_materializes_code_index(spark, sf_dir):
    """The int8 code table must stay a SEPARATE materialization
    (InMemoryTableScan in the scoring plan): collapsing encode into
    the scoring projection regenerates the >64 KB fused method whose
    Janino compile fails on every execution (r7 root cause,
    BASELINE.md)."""
    p = plan_of(spark, "embedding_topk_quantized", sf_dir)
    assert "InMemoryTableScan" in p


def test_ivf_sq8_materializes_code_index(spark, sf_dir):
    p = plan_of(spark, "embedding_ann_ivf_sq8", sf_dir)
    assert "InMemoryTableScan" in p
    assert "SortMergeJoin" not in p  # probes broadcast onto cid


def test_lsh_portable_pairs_is_one_bucket_shuffle(spark, sf_dir):
    """Portable LSH discovery: pair expansion must come from an
    EQUALITY join on the bucket id — never a cartesian/BNLJ (the
    all-pairs shape it exists to avoid)."""
    p = plan_of(spark, "embedding_near_dup_lsh_portable", sf_dir)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_frame_fingerprints_is_map_only(spark, sf_dir):
    """Frame sampling is a partition-preserving mapInPandas with
    bounded fan-out: no exchange anywhere — a 100 TB media table fans
    out to frames without a shuffle."""
    p = plan_of(spark, "media_frame_fingerprints", sf_dir)
    assert "Exchange" not in p
    assert "MapInPandas" in p


def test_knn_graph_is_grouped_map_per_cell(spark, sf_dir):
    """The corpus k-NN quadratic must stay bounded per cell: a
    grouped-map Arrow kernel keyed by cid — never a corpus self-join
    or cartesian."""
    p = plan_of(spark, "embedding_knn_graph", sf_dir)
    assert "FlatMapGroupsInPandas" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_temperature_sample_broadcasts_quotas_two_windows(spark, sf_dir):
    """The quota table (|sources| rows) must broadcast back onto the
    corpus, and quota filling must be the salted two-phase rank (two
    Window nodes) — a single key-partitioned window would sort an
    entire hot source in one task."""
    p = plan_of(spark, "source_temperature_sample", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert p.count("Window") >= 2


def test_training_order_single_balanced_exchange(spark, sf_dir):
    """One hash-residue exchange feeds the per-shard rank: no
    range-partitioned global sort (Exchange rangepartitioning) and no
    join of any kind."""
    p = plan_of(spark, "doc_training_order", sf_dir)
    assert "rangepartitioning" not in p.lower()
    assert "Join" not in p
    assert p.count(" Exchange (") == 1


def test_user_value_deciles_scalable_has_no_global_window(spark, sf_dir):
    """r19 (r18 verdict item 6): the scale-safe decile twin must rank
    inside percentile slices — every Window node partitioned by the
    slice id, so no single-partition WindowExec over a frame that
    grows with the users; the offset/total folds stay broadcast."""
    import re

    p = plan_of(spark, "user_value_deciles_scalable", sf_dir)
    specs = re.findall(r"windowspecdefinition\(([^,]+)", p)
    assert specs, p  # the slice-local row_number is still a window
    assert all("__pid" in s for s in specs), specs
    # offset triangle join + n cross join: tiny sides, broadcast only
    assert "SortMergeJoin" not in p


def test_kmeans_assignment_has_no_window_no_sort(spark, sf_dir):
    """r19: every k-means assignment/coding argmax is a MAP-ONLY
    array_max projection against the broadcast centroid array (r8 had
    it as a max_by hash-aggregate, which still exchanged one
    full-vector row per id) — the training + assignment plan must
    contain zero Window nodes, no sort beyond the TakeOrdered seed
    scan, and no exchange keyed on the corpus id (the corpus never
    shuffles for assignment)."""
    import contextlib
    import io

    from pg2kafka_spark.catalog import load_table
    from pg2kafka_spark.operators import similarity as S
    from pyspark.sql import functions as F

    emb = load_table(spark, "embeddings", sf_dir)
    c = emb.select(
        F.col("vec_id"), S.as_double(F.col("embedding")).alias("__cv")
    )
    cents = S.kmeans_centroids(emb, 8, 2, 64)
    df = S.assign_cells(c, cents)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "Window" not in p
    assert "array_max" in p
    # no PLANNER-inserted exchange ever carries the corpus: assignment
    # is a projection (the r8 max_by aggregate exchanged one
    # full-vector row per id). The only vec_id-keyed exchanges allowed
    # are spread_small_input's pinned-width hash spreads (r20 — keyed,
    # REPARTITION_BY_NUM, no sortBeforeRepartition, identity at scale).
    import re

    for m in re.finditer(r"hashpartitioning\(vec_id[^\n]*", p):
        assert "REPARTITION_BY_NUM" in m.group(0), m.group(0)
    # the only ordered operator is the bounded-heap seed scan
    assert "TakeOrderedAndProject" in p


def test_decontamination_scrub_broadcasts_eval_set(spark, sf_dir):
    """The eval-gram fingerprints (MBs vs a 100 TB corpus) must
    broadcast — a sort-merge join here would shuffle the full
    segmented corpus against the tiny eval side."""
    p = plan_of(spark, "decontamination_scrub", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_portable_twin_pairs_shuffle_on_uniform_keys(spark, sf_dir):
    """The full-pipeline discovery twins must keep the production
    paths' shape: equality joins on uniform block/bucket keys — no
    cartesian, no corpus sort-merge self-join."""
    for name in ("simhash_near_pairs_portable", "minhash_lsh_pairs_portable"):
        p = plan_of(spark, name, sf_dir)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_corpus_vocabulary_single_count_pass(spark, sf_dir):
    """Top-n and the corpus total must BOTH read the persisted
    vocab-sized count table (two InMemoryTableScans), never re-run
    the tokenize+count corpus pass; top-n is a bounded heap."""
    p = plan_of(spark, "corpus_vocabulary", sf_dir)
    assert p.count("InMemoryTableScan") >= 2
    assert "TakeOrderedAndProject" in p
    # 1-row total joins in as a broadcast, not a shuffle
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_bpe_pairs_explode_over_vocab_not_corpus(spark, sf_dir):
    """Pair generation must sit ABOVE the word-count aggregate (the
    explode runs over distinct vocab weighted by counts, not over
    corpus token occurrences), and the top-n is a bounded heap."""
    p = plan_of(spark, "bpe_pair_counts", sf_dir)
    assert "TakeOrderedAndProject" in p
    # two aggregation shuffles (word counts, then pair counts) beyond
    # the r20 pinned-width keyed spread of the small scan (identity
    # at scale)
    import re

    exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    spreads = p.count("REPARTITION_BY_NUM")
    assert exchanges - spreads == 2
    assert spreads <= 1
    assert "RoundRobinPartitioning" not in p
    # the pair Generate consumes the aggregated (w, c) rows: in the
    # formatted plan the LAST Generate node appears after the scan
    # (above the first HashAggregate pair, not directly over the scan)
    scan_pos = p.find("Scan parquet")
    gen2_pos = max(
        (m.start() for m in re.finditer(r"\(\d+\) Generate", p)),
        default=-1,
    )
    assert scan_pos != -1 and gen2_pos > scan_pos


def test_source_overlap_signature_computed_once(spark, sf_dir):
    """Both sides of the pairwise source comparison must read the
    persisted |sources|-row signature table; the comparison itself is
    a broadcast (inequality) join over sketch rows, and the sketch
    merge partial-aggregates map-side."""
    p = plan_of(spark, "source_minhash_overlap", sf_dir)
    assert p.count("InMemoryTableScan") >= 2
    assert "partial_min" in p  # (source, i) merge combines map-side


def test_large_quantity_orders_semi_join_broadcasts_key_set(spark, sf_dir):
    """Q18 shape: the over-threshold key set reduces via map-side
    partial sums, then reaches the detail re-read as a BROADCAST
    semi-join — the full lineitem never shuffles on orderkey for the
    filter; exactly two aggregation exchanges (key-set + final)."""
    p = plan_of(spark, "large_quantity_orders", sf_dir)
    assert "LeftSemi" in p
    assert p.count("BroadcastHashJoin") >= 3  # semi + orders + customer
    assert "SortMergeJoin" not in p
    assert "partial_sum" in p
    import re

    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2


def test_late_shipment_exists_plans_as_semi_join(spark, sf_dir):
    """Q4 shape: EXISTS must become a semi-join (one output row per
    order regardless of lineitem fan-out) — never join+distinct."""
    p = plan_of(spark, "late_shipment_priority_counts", sf_dir)
    assert "LeftSemi" in p
    assert "HashAggregate" in p and "partial_count" in p


def test_economy_share_broadcasts_part_single_exchange(spark, sf_dir):
    """Q14 shape: part is dim-sized and must broadcast; numerator and
    denominator ride ONE aggregation pass (a single plain aggregation
    exchange), no self-join. r20 adds a deterministic hash spread of
    the small single-row-group scan (REPARTITION_BY_NUM, keyed on
    l_partkey — no sortBeforeRepartition) so the decimal compute and
    partial agg run wide instead of inside the serial scan task; the
    spread must NOT be round-robin (that pays a local sort)."""
    p = plan_of(spark, "economy_revenue_share", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "RoundRobinPartitioning" not in p
    import re

    exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    spreads = p.count("REPARTITION_BY_NUM")
    # one aggregation exchange; at test SF the spread adds exactly one
    # pinned-width repartition exchange (identity at scale)
    assert exchanges - spreads == 1
    assert spreads <= 1


def test_bpe_merge_steps_step_plan_shape(spark, sf_dir):
    """Inside one training step (raw plan, checkpoint=False): the
    per-step argmax is a bounded heap (TakeOrderedAndProject), the
    1-row winner joins back as a BROADCAST, the pair aggregation
    partial-aggregates map-side, and nothing degenerates into a
    cartesian or sort-merge join."""
    import contextlib
    import io

    from pg2kafka_spark.catalog import load_table
    from pg2kafka_spark.operators.text import _bpe_train

    docs = load_table(spark, "documents", sf_dir)
    steps, vocab = _bpe_train(docs, "text", 2, checkpoint=False)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        steps[1].explain("formatted")
    p = buf.getvalue()
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "partial_sum" in p  # pair counts combine map-side
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_bpe_merge_steps_lineage_truncated_per_step(spark, sf_dir):
    """The registered query's plan must be checkpoint-truncated: a
    flat union over per-step RDD scans — NOT the 2^n nested lineage a
    bare persist leaves (256 parquet-scan mentions at n=8), which
    also races union branches into exponential recompute."""
    p = plan_of(spark, "bpe_merge_steps", sf_dir)
    assert "Union" in p
    assert p.count("Scan ExistingRDD") >= 8
    assert "Scan parquet" not in p


def test_disjunctive_part_revenue_pushes_or_to_both_scans(spark, sf_dir):
    """Q19 shape: the factored per-side disjunctions must reach BOTH
    parquet scans (part's (brand, size) Or and lineitem's quantity
    envelope), the part side broadcasts, and the cross-side
    disjunction never degenerates into a cartesian."""
    p = plan_of(spark, "disjunctive_part_revenue", sf_dir)
    assert "Or(Or(And(EqualTo(p_brand,Brand#12)" in p.replace("\n", "")
    assert "LessThanOrEqual(l_quantity,30.0)" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_sole_late_suppliers_semi_anti_no_cartesian(spark, sf_dir):
    """Q21 shape: one LeftSemi (other-supplier EXISTS) and one
    LeftAnti (no-other-late NOT EXISTS), the suppkey inequality
    riding each equi-join as a residual — never a cartesian — and
    the late set entering as a checkpoint-truncated RDD scan (it is
    consumed by both quantifier branches; Spark does not dedup the
    two subplans into one exchange)."""
    p = plan_of(spark, "sole_late_suppliers", sf_dir)
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Scan ExistingRDD" in p


def test_customer_order_distribution_aggregates_below_join(spark, sf_dir):
    """Q13 shape: orders must pre-aggregate to per-customer counts
    BEFORE the outer join (partial counts map-side), never
    join-then-count; both aggregations and the join account for at
    most three exchanges."""
    p = plan_of(spark, "customer_order_distribution", sf_dir)
    assert "partial_count" in p
    assert p.count(" Exchange (") <= 3
    # the outer join's right side is the aggregated frame: the orders
    # scan must read only the two columns the aggregate needs
    import re

    m = re.search(r"ReadSchema: struct<([^>]*o_orderpriority[^>]*)>", p)
    assert m and "o_totalprice" not in m.group(1)


def test_dormant_customer_balances_threshold_and_anti(spark, sf_dir):
    """Q22 shape: the 1-row (sum, count) threshold enters as a
    broadcast nested-loop (a true scalar cross join), the NOT EXISTS
    is a LeftAnti, and the order-recency predicate pushes to the
    orders scan."""
    p = plan_of(spark, "dormant_customer_balances", sf_dir)
    assert "BroadcastNestedLoopJoin" in p
    assert "LeftAnti" in p
    assert "GreaterThanOrEqual(o_orderdate,2000-01-01" in p


def test_nation_trade_volume_broadcasts_dims(spark, sf_dir):
    """Q7 shape: supplier and both nation sides broadcast (the fact
    table shrinks ~|nations|-fold at its first join), the nation-name
    In-filter pushes to the nation scans, and no cartesian appears
    despite the either-direction disjunction."""
    p = plan_of(spark, "nation_trade_volume", sf_dir)
    assert p.count("BroadcastHashJoin") >= 3
    assert "In(n_name, [NATION_1,NATION_2])" in p
    assert "CartesianProduct" not in p


def test_top_revenue_suppliers_single_quarter_scan(spark, sf_dir):
    """Q15 shape: the per-supplier revenue frame feeds both the max
    and the join through ONE checkpoint-truncated computation (no
    double lineitem scan — Spark does not canonicalize the two
    branches into a reused exchange, verified at runtime), and the
    1-row max enters as a broadcast."""
    p = plan_of(spark, "top_revenue_suppliers", sf_dir)
    # the ONLY parquet scan is dim-sized supplier: lineitem is behind
    # the checkpoint, read once
    assert "supplier.parquet" in p and "lineitem.parquet" not in p
    assert p.count("Scan ExistingRDD") >= 2  # rev reused on both branches
    assert "BroadcastExchange" in p


def test_orders_table_profile_union_no_expand(spark, sf_dir):
    """r20: the exact profile is a union of per-column
    single-distinct aggregates — NO Expand anywhere (the old
    multi-distinct multiplied every row into ~19-slot null-padded
    Expand output, the residual second the r19 verdict flagged), one
    column-pruned scan per profiled column (columnar storage reads
    each column exactly once — the same total bytes as the one wide
    scan), and every subtree independent so their stages schedule
    concurrently. No round-robin spread (sortBeforeRepartition cost);
    numeric subtrees hash-aggregate."""
    import re

    p = plan_of(spark, "orders_table_profile", sf_dir)
    assert "Expand" not in p
    assert p.count("orders.parquet") == 6
    assert "HashAggregate" in p
    assert "RoundRobinPartitioning" not in p
    # every scan prunes to at most (spread key, profiled column)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(len(s.split(",")) <= 2 for s in schemas), schemas


def test_event_funnel_counts_no_window_uniform_key(spark, sf_dir):
    """Funnel stages chain user-keyed aggregates and joins — no
    window (a per-user sort would globalize), every stage's events
    scan filtered to ONE type at the parquet reader."""
    p = plan_of(spark, "event_funnel_counts", sf_dir)
    assert "Window" not in p
    assert "EqualTo(event_type,view)" in p
    assert "EqualTo(event_type,click)" in p
    assert "EqualTo(event_type,purchase)" in p


def test_weekly_retention_cohorts_partial_min_no_window(spark, sf_dir):
    """First-event frame partial-aggregates map-side; no window; the
    distinct count is the standard two-phase plan."""
    p = plan_of(spark, "weekly_retention_cohorts", sf_dir)
    assert "partial_min" in p
    assert "Window" not in p


def test_small_quantity_revenue_brand_semi_filter_first(spark, sf_dir):
    """Q17: the brand key set must broadcast into lineitem BEFORE the
    per-part average (so the mean runs over ~1/|brands| of the fact),
    and the part scan must carry the brand predicate."""
    p = plan_of(spark, "small_quantity_revenue", sf_dir)
    assert "EqualTo(p_brand,Brand#23)" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_event_funnel_windowed_same_shape_as_unwindowed(spark, sf_dir):
    """The conversion-window band adds one map-side predicate per
    stage — shape otherwise identical to the plain funnel: no window
    operator, per-stage type filters at the scan."""
    p = plan_of(spark, "event_funnel_windowed_counts", sf_dir)
    assert "Window" not in p
    assert "EqualTo(event_type,view)" in p
    assert "EqualTo(event_type,click)" in p
    assert "EqualTo(event_type,purchase)" in p


def test_orders_table_profile_approx_no_expand(spark, sf_dir):
    """The PB-scale approx profile replaces the exact multi-distinct:
    the Expand disappears (one ordinary partial aggregate over HLL
    sketches); the only other scan is the string-min/max side
    aggregate's two-column read (r19, see the exact twin's test)."""
    p = plan_of(spark, "orders_table_profile_approx", sf_dir)
    assert "Expand" not in p
    assert p.count("orders.parquet") == 2


def test_bucketed_customer_order_stats_join_and_agg_without_exchange(
    spark, sf_dir
):
    """Both sides of the join read the shared (custkey, 16) bucketed
    layout: with broadcast disabled, the join AND the per-customer
    aggregate consume the scans in place — the ONLY shuffle left is
    the 5-key segment rollup."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_of(spark, "bucketed_customer_order_stats", sf_dir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    assert "BroadcastHashJoin" not in p
    # exactly ONE plain shuffle: the final segment rollup. The join
    # and the per-custkey aggregate ride the bucketed scans.
    assert p.count(" Exchange (") == 1
    assert "SelectedBucketsCount" in p


def test_discount_band_revenue_delta_all_predicates_pushed(spark, sf_dir):
    """Q6 shape: every predicate reaches the parquet reader; unused
    columns never leave the scan; 1-row partial-then-final agg."""
    p = plan_of(spark, "discount_band_revenue_delta", sf_dir)
    assert "PushedFilters:" in p
    assert "LessThan(l_quantity,24" in p
    assert "GreaterThanOrEqual(l_discount,0.05)" in p
    assert "l_partkey" not in p and "l_returnflag" not in p
    assert p.count("HashAggregate") >= 2


def test_returned_item_customer_revenue_top20_no_global_sort(spark, sf_dir):
    """Q10 shape: returnflag pushed to the lineitem scan, date band
    to orders; dims broadcast; top-20 is a bounded heap."""
    p = plan_of(spark, "returned_item_customer_revenue", sf_dir)
    assert "TakeOrderedAndProject" in p
    assert "EqualTo(l_returnflag,R)" in p
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_part_type_profit_filters_dim_before_broadcast(spark, sf_dir):
    """Q9 shape: the name LIKE prunes part at ITS scan (contains
    pushed), the pruned dim broadcasts, no cartesian."""
    p = plan_of(spark, "part_type_profit_by_nation", sf_dir)
    assert "StringContains(p_name,widget)" in p
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


def test_regional_min_cost_supplier_argmin_without_window(spark, sf_dir):
    """Q2 shape: argmin = per-part min + equality join-back — never a
    per-part sort window; the region-pruned supplier sliver
    broadcasts into the fact."""
    p = plan_of(spark, "regional_min_cost_supplier", sf_dir)
    assert "Window" not in p
    assert "BroadcastHashJoin" in p
    assert "EqualTo(r_name,ASIA)" in p


def test_important_part_stock_scalar_threshold_broadcast(spark, sf_dir):
    """Q11 shape: the global total is a broadcast 1-row frame (a
    nested-loop join against one row, NOT a cartesian of two big
    sides); integer-cents comparison."""
    p = plan_of(spark, "important_part_stock", sf_dir)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_part_supplier_diversity_anti_join_and_pruned_dim(spark, sf_dir):
    """Q16 shape: NOT IN plans as a broadcast left-anti; part's
    brand/size predicates prune the dim at its own scan."""
    p = plan_of(spark, "part_supplier_diversity", sf_dir)
    assert "LeftAnti" in p
    assert "In(p_size, [1,13,17,21,25,29,5,9])" in p or "p_size" in p
    assert "CartesianProduct" not in p


def test_excess_shipment_suppliers_prunes_fact_at_scan(spark, sf_dir):
    """Q20 shape: date band pushed to the lineitem scan, name filter
    to part; the share test is a post-aggregate window, so lineitem
    is scanned exactly once (the join-back spelling re-scans it)."""
    p = plan_of(spark, "excess_shipment_suppliers", sf_dir)
    assert "GreaterThanOrEqual(l_shipdate," in p
    assert "StringContains(p_name,widget)" in p
    assert p.count("lineitem.parquet") == 1
    assert "CartesianProduct" not in p


def test_part_pair_cooccurrence_no_self_join(spark, sf_dir):
    """Market basket: the fact is scanned ONCE (baskets explode
    map-side from per-order part sets — the oracle's self-join
    spelling would scan and shuffle it twice); top-50 is a bounded
    heap."""
    p = plan_of(spark, "part_pair_cooccurrence", sf_dir)
    assert p.count("lineitem.parquet") == 1
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    # r20: the basket build must ride the keyed spread's partitioning
    # — one pinned-width hash exchange feeding set-build + explode +
    # partial pair count in a single wide stage, no extra basket
    # exchange, no round-robin sort
    assert "RoundRobinPartitioning" not in p
    import re

    exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    spreads = p.count("REPARTITION_BY_NUM")
    assert exchanges - spreads == 1  # only the pair-count aggregation
    assert spreads <= 1


def test_funnel_conversion_latency_stage_filters_pushed(spark, sf_dir):
    """Latency distribution: per-stage type filters reach the scan;
    the only window runs over the user-sized latency frame."""
    p = plan_of(spark, "funnel_conversion_latency", sf_dir)
    assert "EqualTo(event_type,view)" in p
    assert "EqualTo(event_type,click)" in p
    assert "EqualTo(event_type,purchase)" in p
    assert "CartesianProduct" not in p


def test_shingle_token_split_staged_once(spark, sf_dir):
    """Regression for the r11/r12 row-local stalls (BASELINE.md r12
    adjudication): the token split feeding the shingle HOF must be
    its OWN staged projection, never captured inside the lambda —
    interpreted (non-subexpression-eliminated) evaluation re-splits
    the document per shingle element, O(tokens²) per doc (measured:
    ~140× task CPU, 16 s stages). Same class as the minhash __hp
    guard above; pinned on every shingle-consuming registered query."""
    for name in (
        "cross_source_dup_matrix",
        "shingle_jaccard_pairs",
        "lang_ngram_profile",
        "near_dup_keep_list",
    ):
        p = plan_of(spark, name, sf_dir)
        assert p.count("split(") <= 1, (
            f"{name}: split( appears {p.count('split(')}x — the token "
            "split leaked back inside a lambda"
        )


def test_retention_cohort_window_serve_prunes_partitions(spark, sf_dir):
    """The partials store is partitioned by cohort_day (r15); the
    cohort-windowed serve's window predicate must land in the scan's
    PartitionFilters — at 100 TB that's reading a week, not the full
    history. The filter sits BEFORE the widening cast so pruning
    never depends on cast-unwrapping."""
    p = plan_of(spark, "weekly_retention_served_cohort_window", sf_dir)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m is not None, p
    assert "cohort_day" in m.group(1)


def test_stickiness_trailing_window_broadcasts_day_grid(spark, sf_dir):
    """dau_wau_stickiness must build the trailing window by range-
    joining the SMALL distinct (day,user) frame to a broadcast day
    grid — one events-sized shuffle total, never a second events
    pass or a sort-merge range join."""
    p = plan_of(spark, "dau_wau_stickiness", sf_dir)
    assert "BroadcastNestedLoopJoin" in p  # day grid broadcast range join
    assert "SortMergeJoin" not in p
    # exactly two events scans (the (day,user) distinct + the day
    # grid) — tree nodes print as "Scan parquet  (N"; the bare string
    # also appears once more per scan in the detail section
    assert p.count("Scan parquet  (") == 2


def test_queue_lag_pushes_predicate_and_broadcasts_now(spark, sf_dir):
    """queue_lag_stats: the unprocessed filter reaches the scan, and
    the now-proxy is a 1-row broadcast, not a join shuffle."""
    p = plan_of(spark, "queue_lag_stats", sf_dir)
    assert "PushedFilters" in p and "event_type" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "SortMergeJoin" not in p


def test_canonical_served_reads_labels_not_pair_log(spark, sf_dir):
    """near_dup_canonical_served (r17): the serve plan must read the
    AT-REST label parquet plus the documents scan — never re-run pair
    discovery (no shingle self-join: a serve that re-paid discovery
    would scale with the pair history, not |V|) — and compute rank +
    size in ONE window pass over component_id."""
    p = plan_of(spark, "near_dup_canonical_served", sf_dir)
    # two parquet scans only: labels + documents (isolate join side)
    assert p.count("Scan parquet  (") == 2
    # one window pass computes rank + comp_size together
    assert p.count("Window") >= 1
    # no pair-discovery self-join artifacts in the serve path
    assert "posexplode" not in p and "SortMergeJoin" not in p
