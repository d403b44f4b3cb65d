"""Regenerate PLANS.md: formatted physical plans for the headline
queries with scale commentary. Run: PYTHONPATH=. python tools/explain_plans.py
"""

from __future__ import annotations

import contextlib
import io

from pg2kafka_spark.queries import QUERIES
from pg2kafka_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"

COMMENTARY = {
    "revenue_by_region": (
        "TPC-H Q5 star join. All four dimension sides broadcast "
        "(`BroadcastHashJoin` ×4, zero `SortMergeJoin`), so the lineitem "
        "fact never shuffles for the join; the only plain `Exchange` is the "
        "final 5-group aggregation, fed by a map-side partial. At 100 TB, "
        "when customer outgrows the broadcast threshold, AQE flips exactly "
        "that join to shuffle — the plan text is the policy, not the size."
    ),
    "pricing_summary": (
        "TPC-H Q1. `PushedFilters` carries the shipdate predicate into the "
        "parquet reader, `ReadSchema` shows only the 7 touched columns "
        "(l_orderkey/l_comment never leave the scan), and two "
        "`HashAggregate` levels (partial_sum before the exchange) mean the "
        "shuffle carries one row per (flag,status) per input partition."
    ),
    "latest_state_per_user": (
        "Per-key latest-state compaction (the flagship CDC-consumer "
        "query) as `max_by` aggregation: `partial_max_by` runs map-side, so "
        "the shuffle is ≤1 row per key per partition. The window "
        "formulation (`row_number desc = 1`) would instead sort every "
        "version of every key through the exchange — same answer, "
        "unbounded shuffle. No `Window` node appears."
    ),
    "unprocessed_page": (
        "The reference's `WHERE processed=false ORDER BY id LIMIT 1000` "
        "outbox page. `TakeOrderedAndProject` keeps a 1000-row heap per "
        "partition (no global sort), and the predicate is in "
        "`PushedFilters` — the partial-index analog."
    ),
    "embedding_topk": (
        "Brute-force ANN baseline: queries broadcast "
        "(`BroadcastNestedLoopJoin` against the tiny query side), cosine "
        "runs map-side, and `WindowGroupLimit` bounds each partition to "
        "k rows per query before the rank shuffle."
    ),
    "embedding_ann_ivf": (
        "IVF scale path: centroids and probe lists broadcast; the corpus "
        "is scanned once for assignment and joined to probes by cell id — "
        "no corpus self-join anywhere in the plan."
    ),
    "minhash_lsh_pairs": (
        "LSH discovery path: the JVM side emits one xxhash64 per token; "
        "shingle composition AND the k-permutation min-fold run fused in "
        "one Arrow kernel (`ArrowEvalPython`) — no shingle strings, no "
        "array_distinct (a min is duplicate-blind). The self-join "
        "shuffles only (id, band, bucket); hot buckets (boilerplate "
        "clusters sharing whole signatures) are removed pre-join by a "
        "broadcast ANTI-join against the aggregated over-cap key set — "
        "a map-side filter, not a re-shuffle. The 64-long signature is "
        "joined back per *deduped* candidate pair, not carried through "
        "the band explosion."
    ),
    "user_event_rollup_salted": (
        "Salted two-phase aggregation: two `Exchange`s — hash on "
        "(user_id, __salt), then hash on user_id — each fed by a "
        "map-side partial `HashAggregate`. This is the shape for the "
        "Zipfian key AQE cannot help with (AQE splits partitions, not "
        "keys). Summed doubles go through DECIMAL so the result is "
        "bit-stable under any partition layout — the plan's exchanges "
        "change with core count, the answer must not."
    ),
    "doc_pii_scrub": (
        "Map-only scrub: chained `regexp_replace` + split-count "
        "expressions inside one `WholeStageCodegen` projection over the "
        "scan — no shuffle, no Python. At 100 TB this is scan-bound, "
        "exactly what a redaction pass should be."
    ),
    "embedding_near_dup_lsh_pairs": (
        "Discovery-path near-dup: per hyperplane table one uniform "
        "bucket shuffle, then `FlatMapGroupsInPandas` — the per-bucket "
        "pairwise cosine runs as ONE symmetric BLAS matmul per bucket "
        "group; candidate pairs never exist as rows on the JVM side. "
        "Contrast with embedding_near_dup_pairs (exact, all-pairs via "
        "num_blocks× replication): same kernel shape, but work is "
        "bucket-local, so the formulation survives 10⁹ vectors."
    ),
    "doc_repetition": (
        "Gopher-style repetition gate: explode bigrams → two-level "
        "aggregate (gram counts, per-doc max) on uniform keys, "
        "broadcast-joined back to the per-doc token counts. Two "
        "exchanges total, both with map-side partials."
    ),
    "multimodal_features_real": (
        "Real-codec path: two partition-preserving `MapInPandas` stages "
        "(encode fixture → decode/feature) and a 3-group aggregate. No "
        "shuffle until the final rollup; decode parallelism == input "
        "splits, the right shape for MB-scale binary rows."
    ),
    "event_asof_order": (
        "As-of join via the union trick: NO join node in the plan — both "
        "sides union, one hash `Exchange` on the key, and `last(ignorenulls)` "
        "over an unbounded-preceding `Window` carries the latest right row "
        "onto each left row. A naive formulation would be a theta join "
        "(`BroadcastNestedLoopJoin`) or a per-key sort-merge + backward "
        "scan; this is one shuffle, same cost shape as any windowed query."
    ),
    "order_event_attribution": (
        "Range join bucketed to an equi-join: intervals explode to their "
        "covered week buckets (≤2 rows each), points land in one bucket, and "
        "the join key becomes (user, bucket) — hash-joinable, AQE-skew-"
        "splittable. The residual `ts BETWEEN` runs as a post-join filter. "
        "The naive `ON key = key AND ts BETWEEN s AND e` would plan a "
        "nested-loop join: O(|orders|x|events|) at 100 TB."
    ),
    "tfidf_top_terms": (
        "Fixed-point tf-idf: two uniform-key shuffles (term-level tf and "
        "df aggs, both with map-side partials), the 1-row corpus count "
        "broadcast, and the per-doc top-3 bounded by `WindowGroupLimit` "
        "before the rank shuffle. Integer scoring — no float rank flips "
        "between engines."
    ),
    "minhash_signatures_portable": (
        "Portable minhash twin: zero `Exchange` — scan → one projection "
        "computing all k mins over the in-row shingle-hash array → "
        "`Generate` (posexplode) of the k-element signature. The shingle "
        "array never crosses the explode; output fan-out is k rows × "
        "(id, i, minhash), nothing wider."
    ),
    "simhash_portable": (
        "Portable simhash twin: zero `Exchange`, no `Generate` — the "
        "token-hash array is built once per row and the n_bits vote "
        "passes all run inside the same projection. One output row per "
        "document regardless of length."
    ),
    "exact_dedup_documents": (
        "Exact dedup is one uniform-key (md5) shuffle with map-side "
        "partial aggregation — the minimum possible movement for a "
        "global group-by, skew-free by construction."
    ),
    "snapshot_part": (
        "Snapshot scan → SNAPSHOT events: no `Exchange` at all. JSON "
        "serialization runs inside whole-stage codegen next to the scan; "
        "parallelism = input splits."
    ),
    "decontamination_check": (
        "Benchmark decontamination: the eval set's distinct gram hashes "
        "build once and BROADCAST (`BroadcastHashJoin`, no "
        "`SortMergeJoin`) — benchmarks are MBs against a 100 TB corpus, "
        "so the corpus side is a linear explode + map-side membership "
        "join; the only plain shuffle is the per-doc count on uniform "
        "doc_id keys with a map-side partial."
    ),
    "doc_duplicate_ngrams": (
        "Exact-substring self-overlap: the gram table is built from one "
        "linear explode; the shared-gram set is a map-side-partial count "
        "over (gram, doc)-distinct rows (hot boilerplate grams combine "
        "before the exchange — deliberately NOT a window, which couldn't "
        "partial-aggregate), and the join back is gram-keyed against a "
        "single-row-per-gram side, so AQE's skew split covers any "
        "residual hot gram. Two uniform-key shuffles + one per-doc count."
    ),
    "source_mix_rebalance": (
        "Data-dependent corpus mixing: per-source counts reduce to a "
        "|sources|-row rate table that BROADCASTS back "
        "(`BroadcastHashJoin`, no `SortMergeJoin`), so the keep/drop "
        "decision — integer ppm hash arithmetic — runs map-side in the "
        "scan stage. The only plain exchange is the tiny count "
        "aggregation."
    ),
    "near_dup_canonical": (
        "Canonical selection over duplicate clusters: the component "
        "labels come out of the min-label-propagation loop as a "
        "localCheckpoint-ed table (`Scan ExistingRDD` — the iterative "
        "lineage is truncated, so downstream replans can't re-run the "
        "loop), joined back to the corpus on uniform doc ids, then ONE "
        "window exchange on component_id computes rank and size "
        "together. The loop itself is one edge⋈label shuffle + one "
        "min-aggregate per round, rounds = duplicate-cluster diameter "
        "(cliques: 1)."
    ),
    "multimodal_decode_parity": (
        "Oracle twin of the real-codec path: encode fixture → decode "
        "census as two partition-preserving `MapInPandas` stages, no "
        "shuffle anywhere — the oracle comparison happens outside the "
        "plan. Integer functionals of the decoded signal keep the "
        "check exact at any partitioning."
    ),
    "semantic_dedup_embeddings": (
        "SemDeDup: k-means training reuses the IVF plan (centroids "
        "BROADCAST both directions, assignment map-only over the "
        "corpus), then ONE grouped-map BLAS task per cluster does the "
        "within-cluster prune — the quadratic pair scan is bounded by "
        "cluster size, which n_centroids controls (paper-scale: 10⁴-10⁵ "
        "clusters for 10⁹ vectors). One cid exchange feeds "
        "`FlatMapGroupsInPandas`; nothing else shuffles."
    ),
    "bloom_semijoin_prune": (
        "Bloom semi-join pushdown: the urgent-key bitset reduces to ONE "
        "array row (`bit_or` partials map-side, ≤ m/32 word rows "
        "through the exchange) and BROADCASTS; the fact probe is then "
        "pure column algebra inside the scan stage — the fact table "
        "never shuffles at all. This is the plan that replaces a 100 TB "
        "`SortMergeJoin` with a 4 KiB broadcast when only the pruned "
        "count/rows are needed downstream."
    ),
    "user_heavy_hitters_cm": (
        "Count-min heavy hitters: the 4×64 counter table aggregates "
        "with map-side partials (state O(depth·width), independent of "
        "N) and BROADCASTS to the probe side; probes are the distinct "
        "keys (one uniform-key exchange) min-reduced over their 4 "
        "counters. No sort, no skew exposure — hot keys only make "
        "counters bigger, not partitions."
    ),
    "embedding_topk_quantized": (
        "SQ8 quantized search: per-dimension stats are ONE aggregate "
        "row (128 min/max partials, map-side) broadcast to encode both "
        "sides; the int8 code table materializes as the stored index "
        "(`InMemoryTableScan`), and scoring dequantizes from codes in "
        "its own codegen stage — kept SEPARATE from the encode stage "
        "on purpose: fused, the generated method passes the JVM 64 KB "
        "limit and Janino fails per-execution (r7 root cause, "
        "BASELINE.md). Queries broadcast; top-k is the "
        "`WindowGroupLimit` bounded-heap — the brute-force plan over "
        "4× fewer index bytes."
    ),
    "doc_unigram_surprisal": (
        "Unigram-LM scoring: two uniform-key exchanges (term counts, "
        "per-doc re-aggregation) plus a broadcast 1-row corpus total — "
        "the tf-idf plan shape. The per-token log happens once per "
        "joined row map-side; the per-doc sum is exact BIGINT micro-"
        "bits, so the aggregate partial-combines without float-order "
        "caveats."
    ),
    "doc_chunk_windows": (
        "Context chunking: tokenize → explode stride offsets → slice, "
        "all inside one `WholeStageCodegen` scan stage — zero "
        "exchanges, output bounded at window/stride (2×) of the input "
        "rows. The chunker a 100 TB pretokenization pass wants: "
        "partition-preserving, no driver involvement."
    ),
    "doc_segment_scrub": (
        "Corpus-wide duplicated-segment removal (line-dedup analog): "
        "segmentation is map-only in the scan (non-overlapping windows, "
        "1× expansion); the dup-set groupBy keys on md5 (uniform, "
        "skew-proof however hot the boilerplate); the mark join is "
        "left unhinted so AQE broadcasts the (small) boilerplate tail; "
        "reassembly is one exchange on the unique doc id with an "
        "order-restoring array_sort — no window over the corpus."
    ),
    "source_capped_sample": (
        "Per-domain cap as the exact salted two-phase top-cap: phase 1 "
        "ranks inside (domain, salt) so a hot domain spreads over 32 "
        "tasks; phase 2 re-ranks ≤ cap·salts survivors per domain — "
        "the second `Window` sees KB, not the corpus. A naive single "
        "window would sort the whole hot domain in one task."
    ),
    "zorder_layout_stats": (
        "Z-order layout quality: two column-pruned scans (only the two "
        "layout dims leave the reader), a 1-row min/max reduction "
        "broadcast back (`BroadcastNestedLoopJoin` on a single row), "
        "the Morton interleave constant-folded into the scan-stage "
        "projection, and ONE exchange on the 64-key bucket id with "
        "map-side partials. The measurement costs two scans; the "
        "layout it certifies prunes every later 2-D range scan."
    ),
    "doc_pack_spans_strict": (
        "Strict packing: one window prefix-sum per source shard (the "
        "sessionization shuffle shape), then a map-only bounded "
        "explode (fan-out = total_tokens/512 rows). No global sort, "
        "no driver loop — the slice table streams out of the shuffle "
        "stage."
    ),
    "embedding_ann_ivf_sq8": (
        "The composed production index (IVF8,SQ8): centroid table and "
        "1-row quant stats both broadcast; the (id, cid, codes) table "
        "materializes as the stored index (1 byte/dim + a cell id per "
        "vector) and the dequantize+ADC scoring stage reads it — the "
        "same encode/score codegen split as `embedding_topk_quantized` "
        "(64 KB limit, r7). Probe join on cid; the quantization adds "
        "ZERO shuffles to the IVF skeleton."
    ),
    "embedding_ann_pq": (
        "Product quantization: 8 per-subspace training chains (each "
        "the portable-k-means shape) feed ONE union-exploded coding "
        "window keyed by the unique (id, subspace) pair — never m "
        "separate id-joins — then a groupBy-id reconstruction and the "
        "broadcast-query ADC scan. Training passes amortize across "
        "query batches in production; the codebook table (64 rows) "
        "broadcasts everywhere."
    ),
    "hilbert_layout_stats": (
        "Hilbert layout quality: identical skeleton to the z-order "
        "plan (two pruned scans, 1-row broadcast, one 64-key "
        "exchange), but the curve is 8 STAGED rotate/flip projections "
        "— the staging keeps plan growth linear in bits where a "
        "nested spelling is ~4^bits nodes. All map-only between the "
        "broadcast and the bucket agg."
    ),
    "doc_quality_classifier": (
        "Trained logistic classifier: each gradient-descent iteration "
        "is one map-only scoring pass against the broadcast 1-row "
        "weight table plus one global aggregate with DECIMAL partials "
        "— training state never exceeds (k+1) numbers and never "
        "touches the driver. Scoring is the same broadcast pattern, "
        "so inference composes into any scan stage."
    ),
    "scd2_user_history": (
        "SCD2 materialization: one lead() window per uniform user "
        "key — the sessionization exchange, one row of lookahead "
        "state. The output's (key, valid_from) pair is the natural "
        "z-order candidate for the 2-D as-of prune."
    ),
    "embedding_near_dup_lsh_portable": (
        "Hash-checkable LSH twin: Rademacher ±1 signatures are "
        "sequential folds (sign-exact on any engine), the self-join is "
        "an equality join on the bucket id — one uniform shuffle of "
        "the signature projection, pair expansion only within buckets, "
        "inline exact-cosine verify. The BLAS multi-table path keeps "
        "the discovery hot seat; this plan pins the per-table shape "
        "the oracle can see."
    ),
    "media_frame_fingerprints": (
        "Frame sampling as a partition-preserving `mapInPandas` with "
        "bounded fan-out (≤4 rows per item): no exchange anywhere — "
        "the stage inherits the scan's partitioning, so a 100 TB media "
        "table fans out to frames without a shuffle. The md5 "
        "fingerprints land under an EXACT oracle (every emitted byte "
        "re-derived in SQL)."
    ),
    "near_dup_components_star": (
        "Large-star/small-star components: each round is one "
        "groupBy-min over the adjacency plus one equality join — the "
        "same shapes as the propagation loop — but O(log² n) rounds on "
        "ANY graph, so a pathological near-dup chain cannot stall the "
        "job. Per-round `localCheckpoint` keeps the plan O(1) deep and "
        "exactly one edge table in executor storage."
    ),
    "embedding_ann_ivf_pq": (
        "Routed PQ (IVF8,PQ8 shape): coarse centroids and all 8 "
        "codebooks broadcast; coding is ONE posexplode + (id, "
        "subspace)-keyed window (the r7 keyed trainer — one plan for "
        "all subspaces, not 8 chains); the (id, cid, reconstruction) "
        "table materializes as the stored index and the probe join "
        "keys on cid. Zero extra shuffles over flat PQ."
    ),
    "embedding_knn_graph": (
        "Corpus k-NN graph: one cid-keyed exchange, then a grouped "
        "Arrow BLAS task per cell (FlatMapGroupsInPandas) — the "
        "quadratic is bounded to one cluster at a time, the "
        "semantic_dedup tractability argument, and the kernel "
        "hash-matches the SQL self-join twin."
    ),
    "dsir_resample": (
        "The DSIR keep step: the weight join is the DSIR plan "
        "(broadcast vocab counts, per-doc re-aggregation on the "
        "uniform id key); rate clamp and the portable-hash coin add "
        "one MAP-ONLY projection — the decision stage costs nothing "
        "at any corpus size."
    ),
    "doc_surprisal_band_fit": (
        "Percentile-fit gate: each band cut is max-over-a-TakeOrdered "
        "prefix (per-partition bounded heaps, no global sort), the "
        "1-row band broadcasts, and the verdict is a map-only "
        "projection over the persisted score table."
    ),
    "daily_ingest_keep_list": (
        "The daily incremental job end to end. Each stage keeps its "
        "standalone shape: map-only gates in the scan, one uniform "
        "fp-key window for batch dedup, LEFT ANTI against the (at "
        "scale, fp-bucketed) store, band-key equality join for "
        "near-dup discovery, Jaccard verify restricted to LSH "
        "survivors. Stages compose in pruning order so each shuffle "
        "sees less than the last."
    ),
    "embedding_ann_pq_sampled": (
        "IVF+PQ with every trainer sampled (r8): the coarse quantizer "
        "and all 8 subspace codebooks train on the TakeOrdered / "
        "per-key-ranked smallest-hash prefix — constant-size training "
        "inputs regardless of corpus size — while coding, routing, and "
        "ADC keep the full-corpus embedding_ann_ivf_pq shape. The last "
        "full-scan trainer in the index family is gone."
    ),
    "embedding_ann_lsh": (
        "Multiprobe hyperplane-LSH top-k: the corpus buckets once on "
        "the (portable, sign-exact) signature; queries explode to 9 "
        "probe buckets and BROADCAST, so the candidate join is an "
        "equality join on the bucket id — never a cross join — and "
        "scoring touches ~N/2^m (+probes) vectors per query."
    ),
    "source_temperature_sample": (
        "sqrt-temperature mixing (r8): one map-side-partial count on "
        "the tiny source keyspace, quota table BROADCAST back, then "
        "the exact salted two-phase per-key rank (a hot source spreads "
        "over 32 salt tasks; phase 2 is bounded by quota*n_salts rows "
        "per key, never the corpus)."
    ),
    "doc_training_order": (
        "Deterministic training-order shuffle (r8): shard key is a "
        "uniform hash residue, so the single exchange is balanced by "
        "construction; position is a per-shard window rank — no global "
        "sort ever materializes, and n_shards is the task-size knob."
    ),
    "simhash_near_pairs_portable": (
        "Full-pipeline portable simhash discovery (r8): one uniform "
        "block-key shuffle, per-block pair expansion bounded by the "
        "1000-cap, bit_count hamming verify inline — the production "
        "xxhash path's exact plan shape, now under hash evidence."
    ),
    "minhash_lsh_pairs_portable": (
        "Full-pipeline portable banded LSH (r8): (band, bkey) "
        "equality self-join with the hot-bucket cap, distinct "
        "pair-key reduction, then the signature-agreement count on "
        "uniform pair keys — the minhash_lsh_pairs shape end to end."
    ),
    "decontamination_scrub": (
        "Span-level decontamination (r8): eval-gram fingerprints "
        "broadcast (benchmarks are MBs vs a 100 TB corpus), the train "
        "side segments map-only inside the scan (non-overlapping — "
        "expansion 1x), and the only data shuffle is the uniform "
        "doc-id reassembly — the duplicated_segment_scrub shape with "
        "the dup set swapped for the broadcast eval set."
    ),
    "source_epoch_allocation": (
        "Epoch water-fill (r8): one map-side-partial aggregation onto "
        "the tiny source keyspace, then window totals over the "
        "|sources|-row frame — nothing returns to the corpus; the "
        "whole plan is dimension-table-sized past the first agg."
    ),
    "embedding_ann_ivf_incremental": (
        "Incremental IVF ingest (r8): training reads ONLY the store "
        "subset (filter pushed to the scan), the full union assigns "
        "against broadcast store-trained centroids via the max_by "
        "hash-aggregate (no retraining, no sort), probing unchanged. "
        "At scale the daily batch is the only new work — assignment "
        "is one broadcast map pass over the batch."
    ),
    "doc_surprisal_band_stratified": (
        "Per-source percentile gate (r8): the unigram-surprisal score "
        "plan, one id-keyed join to recover the source, then ONE "
        "source-keyed exchange where rank, count, and both "
        "conditional-max band cuts ride the same Window sort. Exact "
        "per-stratum order statistics need the total per-stratum "
        "order; at 100 TB shard by (stratum, score-range) or use the "
        "corpus-wide TakeOrdered variant."
    ),
    "corpus_vocabulary": (
        "Vocab build (r10): ONE tokenize+count corpus pass into a "
        "persisted vocab-sized table; both the top-200 heap "
        "(`TakeOrderedAndProject`) and the corpus total read the cache "
        "(`InMemoryTableScan` ×2). The 1-row total broadcasts; the "
        "rank/cumsum Window sees 200 rows. Coverage is DECIMAL(38) "
        "exact-multiple floor division — cum·1e6 overflows int64 at "
        "~9e12 tokens, i.e. at exactly the corpus size this engine "
        "targets."
    ),
    "bpe_pair_counts": (
        "BPE first-merge statistics (r10): the pair Generate sits ABOVE "
        "the word-count aggregate — pair explosion runs over the "
        "DISTINCT vocabulary weighted by counts (vocab-bounded, ~1e7 "
        "rows at web scale), never the ~1e14 corpus token occurrences. "
        "Exactly two aggregation exchanges (word counts, pair counts); "
        "top-50 is a bounded heap."
    ),
    "source_minhash_overlap": (
        "Cross-source overlap from MERGED sketches (r10): per-doc "
        "portable signatures partial-aggregate map-side onto "
        "(source, i) — min-fold is associative, so the source signature "
        "is exactly the signature of its shingle union — and the "
        "pairwise Jaccard stage runs on the persisted |sources|-row "
        "table (`InMemoryTableScan` on both join sides, broadcast "
        "inequality join). The quadratic cross-source document join "
        "this replaces would be the single worst plan at 100 TB."
    ),
    "source_quality_drift": (
        "Ingest drift monitor (r10): one corpus pass partial-aggregating "
        "to (source, token-bin) cells; totals and the TV-distance "
        "aggregation run on |sources|·16 rows with broadcast totals. "
        "All fixed-point DECIMAL(38) arithmetic; the half split hashes "
        "ids with the portable permutation (raw parity is degenerate "
        "under block-allocated id ranges)."
    ),
    "props_key_profile": (
        "CDC payload schema observation (r10): `json_object_keys` "
        "explodes inside codegen (map-only), both aggs partial-combine "
        "map-side, per-type totals broadcast. At 100 TB of events this "
        "is one shuffle of (type, key) partial counts — the emergent "
        "payload schema for the price of a word count."
    ),
    "bpe_merge_steps": (
        "BPE merge-table training (r11): the registered plan is a flat "
        "Union over 8 per-step `Scan ExistingRDD` nodes — each training "
        "step is a LAZY localCheckpoint, truncating lineage so the plan "
        "does not nest 2^8 copies of the history (a bare persist leaves "
        "256 parquet-scan mentions and a recompute race between union "
        "branches). Inside a step (see test_plans.py's checkpoint=False "
        "probe): pair counts partial-aggregate map-side over the "
        "vocab-sized frame, the argmax is `TakeOrderedAndProject`, and "
        "the 1-row winner re-enters as a BROADCAST so the merge replace "
        "is map-only. The corpus is scanned exactly once, into the "
        "step-0 vocabulary."
    ),
    "bpe_compression_by_source": (
        "Trained-vocab application (r11): NO second corpus text pass — "
        "the corpus collapses once to (source, word) occurrence counts "
        "(uniform keys, map-side partials), LEFT-joins the final "
        "vocabulary's per-word symbol counts (both sides vocab-sized), "
        "and aggregates to |sources| rows. Ratio in DECIMAL(38) "
        "exact-multiple floor micros."
    ),
    "bpe_token_frequencies": (
        "Post-merge token frequencies (r11): one explode of the FINAL "
        "trained vocabulary (vocab-sized, never corpus-sized) weighted "
        "by word counts, unioned with a map-only single-char word "
        "count, aggregated on the tiny symbol domain. The corpus is "
        "scanned twice (trainer vocab + short words) but never "
        "re-paired."
    ),
    "customer_order_distribution": (
        "TPC-H Q13 shape (r11): orders pre-aggregates to per-customer "
        "counts BEFORE the outer join (map-side partial counts, one "
        "uniform-key shuffle) — never join-then-count, which would "
        "shuffle every order row through the join. The outer join "
        "fills the zero bucket via coalesce; the second aggregate is "
        "over the tiny k-domain. ReadSchema on orders is 2 columns."
    ),
    "small_quantity_revenue": (
        "TPC-H Q17 shape (r11): the correlated per-part mean "
        "de-correlates into aggregate-then-rejoin; the brand key set "
        "broadcasts as a semi-filter FIRST so the average runs only "
        "over the ~1/|brands| matching slice, and the per-part limits "
        "rejoin on the same uniform partkey."
    ),
    "disjunctive_part_revenue": (
        "TPC-H Q19 shape (r11): the cross-side disjunction's per-side "
        "implications are factored below the join — the plan test "
        "pins the Or(...) predicate INSIDE both parquet scans' "
        "PushedFilters — so the broadcast build side is three brands' "
        "slices, not the whole part table."
    ),
    "sole_late_suppliers": (
        "TPC-H Q21 shape (r11): EXISTS -> LeftSemi, NOT EXISTS -> "
        "LeftAnti, each an orderkey equi-join carrying the suppkey "
        "inequality as a residual condition (never a cartesian). The "
        "~1% late slice feeds BOTH quantifiers and Spark does not "
        "dedup the branches into one exchange, so it is a lazy "
        "localCheckpoint: lineitem⨝orders runs once."
    ),
    "dormant_customer_balances": (
        "TPC-H Q22 shape (r11): the 1-row (sum, count) threshold "
        "broadcasts as a nested-loop scalar join and the balance "
        "comparison cross-multiplies DECIMALs (never a double average "
        "— rounding could flip boundary rows between engines); the "
        "NOT EXISTS is a custkey LeftAnti with the recency predicate "
        "pushed to the orders scan."
    ),
    "nation_trade_volume": (
        "TPC-H Q7 shape (r11): supplier and the two nation sides "
        "broadcast with the nation-name In-filter pushed to the scan, "
        "so lineitem shrinks ~|nations|-fold at its FIRST join, "
        "before the only two big shuffles (orderkey, custkey). The "
        "either-direction pair disjunction filters post-join."
    ),
    "top_revenue_suppliers": (
        "TPC-H Q15 shape (r11): the quarter filter pushes to the "
        "lineitem scan; the per-supplier DECIMAL revenue frame is a "
        "lazy localCheckpoint consumed by both the scalar max and the "
        "equality join (Spark does not canonicalize the branches into "
        "a reused exchange — verified at runtime), so the quarter "
        "slice is scanned and shuffled exactly once; the 1-row max "
        "and dim-sized supplier broadcast."
    ),
    "orders_table_profile": (
        "Whole-table profile (r11): every column's nulls/distincts/"
        "typed min-max in ONE scan — the multi-distinct aggregate "
        "plans via Expand (row fans out once per distinct column, "
        "partial dedup map-side), then a 1-row-to-6-row stack "
        "projection. The naive per-column union would scan 6×; at "
        "petabyte scale swap exact count_distinct for "
        "approx_count_distinct (HLL, no Expand)."
    ),
    "event_funnel_counts": (
        "Ordered funnel (r11): each stage filters events to one type "
        "at the scan, reduces to a user-sized min, and joins the "
        "previous stage on the SAME uniform user key — frames only "
        "shrink down the funnel; no windows, no per-user sorts. "
        "Timestamps compare as integer epoch-µs."
    ),
    "weekly_retention_cohorts": (
        "Retention triangle (r11): first-event frame is one user-keyed "
        "shuffle with map-side partial mins, rejoined on the same key; "
        "the distinct count is the standard two-phase partial-dedup. "
        "Week math is integer µs floor division — no engine-specific "
        "calendar-week truncation."
    ),
    "large_quantity_orders": (
        "TPC-H Q18 shape (r10): the over-threshold key set reduces via "
        "map-side partial DECIMAL sums, then BROADCASTS into a LeftSemi "
        "against the lineitem re-read — the detail never shuffles on "
        "the full key space; orders/customer join broadcast onto the "
        "shrunken fact. Exactly two aggregation exchanges."
    ),
}

# --- full-surface coverage (r13: every registered query gets a PLANS
# section; round_close.sh fails if one is missing). Grouped by module.
COMMENTARY.update({
    # ---- CDC core (q_cdc) ----
    "state_asof": (
        "Point-in-time replay: same partial `max_by` shape as the "
        "flagship compaction, with the cutoff predicate in "
        "`PushedFilters` — replay cost scales with history ≤ T, not "
        "total history. One keyed exchange, ≤1 row per key per "
        "partition after the map-side partial."
    ),
    "update_diff_events": (
        "Changed-columns diff (O5/O6) between successive per-key row "
        "versions: one window shuffle on user_id, then map-only "
        "null-safe column compares and no-op suppression — no second "
        "pass, no self-join of the history."
    ),
    "update_diff_json": (
        "Wire form of the diff: the same single window shuffle, then "
        "the JSON fragment-concat runs inside codegen — the payload is "
        "assembled by string expressions, never a Python UDF."
    ),
    "unprocessed_pages_count": (
        "O13 page math: partial count per partition, single-row "
        "exchange, then pure projection arithmetic. The cheapest plan "
        "Spark has; at 100 TB it is metadata-bound."
    ),
    "wire_encode_nation": (
        "O15+O16+O17 sink projection: key/topic/value built by codegen "
        "string expressions next to the scan — map-only, zero "
        "exchanges; the row payload is spliced raw, never re-parsed."
    ),
    "topic_routing": (
        "O16 topic naming over the distinct table set: partial-dedup "
        "map-side, so the exchange carries one row per (partition, "
        "table) — tiny at any scale."
    ),
    "replayed_state_from_diffs": (
        "Full CDC roundtrip (encode history as a pg2kafka feed, fold "
        "back to state): one window shuffle to order versions, one "
        "keyed agg to fold — the parse/apply chain is column algebra "
        "in one codegen span, and the fold is `max_by`-shaped so "
        "partials combine map-side."
    ),
    # ---- relational consumer surface (q_relational) ----
    "top_orders": (
        "`TakeOrderedAndProject`: bounded heap per partition, "
        "N×partitions rows to the driver merge — no global sort "
        "materializes at any scale. Unique-key tiebreak keeps the "
        "LIMIT deterministic."
    ),
    "events_hourly": (
        "Tumbling-window batch rollup: event-time bucketing is a "
        "map-side projection, then one hash-agg exchange with partial "
        "counts. Hour formatted as string so parquet ns/µs precision "
        "can't affect the comparison."
    ),
    "customer_order_stats": (
        "Aggregate-then-join: orders shrink to one row per customer "
        "BEFORE the broadcast dim join — the shuffle carries keys, not "
        "order rows. Joining first would shuffle the whole fact."
    ),
    "customers_without_orders": (
        "Anti join (NOT EXISTS): the probe side reduces to distinct "
        "keys before the `BroadcastHashJoin(LeftAnti)` — no row "
        "duplication, no fact shuffle."
    ),
    "customers_with_orders": (
        "Semi join (EXISTS): `LeftSemi` deduplicates ON the join — one "
        "output row per customer regardless of order fan-out, never a "
        "join+distinct."
    ),
    "brand_supplier_revenue": (
        "Fact with two broadcast dims on different keys: both joins "
        "are `BroadcastHashJoin`, so the fact never shuffles until the "
        "final small-group aggregation exchange."
    ),
    "shipping_priority": (
        "TPC-H Q3: the segment filter prunes customer BEFORE it "
        "broadcasts, semi-reducing orders and then lineitem; top-k is "
        "`TakeOrderedAndProject` on the rounded alias so Spark and the "
        "oracle tie-break identically."
    ),
    "order_rank_per_customer": (
        "Ranking window + top-N-per-key: one exchange on the partition "
        "key, and `WindowGroupLimit` (Spark 3.5+) keeps only 3 rows "
        "per key per partition before the sort — the window never "
        "materializes full history."
    ),
    "order_gap_days": (
        "`lag()` + date arithmetic: frame-free analytic window — one "
        "exchange on custkey, map-only arithmetic after. Nothing "
        "beyond the window sort touches disk."
    ),
    "running_customer_total": (
        "Explicit ROWS-frame running sum: one window exchange; the "
        "frame order carries the unique orderkey so the cumulative sum "
        "is deterministic, and rounding happens AFTER the sum on both "
        "engines."
    ),
    "sessionize_events": (
        "Gap-based sessionization: lag → new-session flag → running "
        "count, all over ONE user_id exchange — the window and the "
        "final per-user aggregation share the same key, so Catalyst "
        "reuses the partitioning instead of re-shuffling."
    ),
    "finished_only_customers": (
        "EXCEPT (distinct): plans as left-anti over pre-deduped sides "
        "— both inputs partial-dedup map-side before the exchange."
    ),
    "both_status_customers": (
        "INTERSECT (distinct): left-semi over pre-deduped sides, same "
        "partial-dedup discipline as EXCEPT."
    ),
    "union_segments": (
        "UNION (distinct) of two filtered scans of the same table: "
        "Catalyst collapses to one scan with an OR filter plus one "
        "dedup exchange — the table is read once."
    ),
    "rollup_returns": (
        "ROLLUP grouping sets: one `Expand` (3 copies — the rollup "
        "depth, not the column cross product) feeding a single "
        "two-phase aggregation exchange."
    ),
    "cube_priority_status": (
        "CUBE over two columns: `Expand` emits the 4 grouping "
        "combinations map-side; still exactly one shuffle."
    ),
    "user_event_type_pivot": (
        "PIVOT with a PINNED value list — no inference job, no "
        "nondeterministic column order; plans as one hash aggregation "
        "with conditional counts, single exchange."
    ),
    "order_line_arrays": (
        "Grouped collect with SORTED `collect_list` (portable order), "
        "then map-only array functions. One exchange on orderkey; the "
        "array column is emitted joined to a string for the "
        "scalar-hash harness."
    ),
    "order_value_percentiles": (
        "Exact interpolated percentiles per group (Spark `percentile` "
        "≡ DuckDB `quantile_cont`): sort-based agg, fine per group at "
        "this cardinality; the 100 TB swap is `approx_percentile` "
        "(mergeable sketch — see `user_value_sketches`)."
    ),
    "user_value_sketches": (
        "Sketch aggregates (HLL++ distinct, KLL-style quantile): "
        "bounded-memory partials that merge map-side — the form that "
        "replaces exact distinct/percentile at 100 TB. Rows-only by "
        "design (estimates are engine-specific); the portable twin "
        "carries the oracle."
    ),
    "user_value_sketches_portable": (
        "The hash-checkable twin: the SAME register/rank-voting HLL "
        "math and fixed-bin histogram quantile from a portable hash "
        "family. Two two-level aggregations (map-side partial per "
        "(group, register/bin)) joined broadcast on the handful of "
        "group rows — sketch state is O(registers), never the data."
    ),
    "customer_event_activity": (
        "LEFT OUTER with null extension: the event fact aggregates to "
        "one row per user BEFORE the join, so the outer-join shuffle "
        "carries keys, not events; customers with no activity survive "
        "with NULLs."
    ),
    "purchase_error_full_outer": (
        "FULL OUTER of two per-key aggregates: both sides partial-agg "
        "map-side, so the outer join shuffles one row per key per "
        "side — the minimal spelling of 'users that only X'."
    ),
    "props_variant_extract": (
        "VARIANT path (Spark 4): `parse_json` once, typed "
        "`variant_get` extractions after, all inside one codegen span "
        "— the schema-free answer to the reference's dynamic jsonb "
        "payloads. The predicate on the extracted value filters "
        "post-parse but pre-shuffle."
    ),
    "grouping_sets_flag_status": (
        "Explicit GROUPING SETS: one `Expand` (3 set copies) + one "
        "two-phase aggregation exchange — the general form ROLLUP and "
        "CUBE desugar to."
    ),
    "order_stats_global": (
        "Global aggregate with exact COUNT DISTINCT: Expand + "
        "two-phase — the distinct keys partial-dedup map-side, and the "
        "final exchange is one row. Sample stddev rides the same pass."
    ),
    "scalar_functions": (
        "The scalar surface (string/date/math/conditional) in one "
        "projection: pure `WholeStageCodegen`, zero exchanges — the "
        "reference's scalar inventory as a map-only plan."
    ),
    "json_extract_events": (
        "JSON path extraction (`get_json_object` — the `->>` analog) "
        "+ agg over the extracted value: the parse runs inside codegen "
        "next to the scan; only (key, partial agg) rows shuffle."
    ),
    "orders_above_avg": (
        "Scalar subquery in a predicate: the inner global mean plans "
        "as a one-row broadcast (`Subquery`) into the filter — no "
        "correlated re-execution, one fact scan."
    ),
    "events_hourly_gapfill": (
        "Continuous-aggregate gap fill: the fact aggregates once; the "
        "time spine (dims × hours — negligible) generates map-side and "
        "left-joins onto the rollup. No second fact scan."
    ),
    "events_hourly_interpolate": (
        "locf()/interpolate() fill modes: two IGNORE NULLS windows "
        "over the gap-filled spine (spine-sized, not fact-sized); the "
        "blend weight uses epoch differences only, so the result is "
        "timezone-convention-independent."
    ),
    "mktsegment_rollup_salted_join": (
        "The SALTED join: the big side carries a deterministic salt, "
        "the small side replicates salt× — a hot customer key spreads "
        "over 16 shuffle partitions instead of one straggler. DECIMAL "
        "sums make the extra partitioning bit-invisible; the oracle is "
        "the plain equi-join."
    ),
    "late_shipment_priority_counts": (
        "TPC-H Q4: the EXISTS plans as a semi-join (never "
        "join+distinct) — lineitem projects to (orderkey, shipdate) at "
        "the scan, the semi-join dedups ON the join, then a 5-key agg "
        "with map-side partials."
    ),
    "discount_band_revenue_delta": (
        "TPC-H Q6: every predicate in `PushedFilters`, 4 of 11 "
        "columns in `ReadSchema`, one-row partial-then-final aggregate "
        "— the query the columnar format exists for; I/O-bound and "
        "embarrassingly parallel at 100 TB. DECIMAL product before the "
        "sum (double sums are partial-order-dependent)."
    ),
    "returned_item_customer_revenue": (
        "TPC-H Q10: returnflag pushes into lineitem and the date band "
        "into orders BEFORE either join; customer/nation broadcast; "
        "top-20 is `TakeOrderedAndProject` with a key tiebreak — no "
        "global sort."
    ),
    "part_type_profit_by_nation": (
        "TPC-H Q9: the name filter prunes part BEFORE it broadcasts "
        "into lineitem, so the orders fact-fact join runs on the "
        "reduced stream. Revenue and cost sum separately in exact "
        "DECIMAL and subtract as doubles — partial-order-free on both "
        "engines."
    ),
    "regional_min_cost_supplier": (
        "TPC-H Q2 (argmin): region filter reduces supplier to a "
        "broadcastable sliver BEFORE the fact; per-part min + "
        "join-back on (part, exact min) — two partial-aggregated "
        "uniform-key shuffles, beating a per-part sort window at "
        "100 TB. Ties emit every witness on both engines."
    ),
    "important_part_stock": (
        "TPC-H Q11 (global-scalar threshold): the fact is scanned "
        "ONCE — the global (count, total) is a 1-row aggregate OF the "
        "grouped frame, broadcast-cross-joined back, never a "
        "correlated re-scan. The comparison is pure integer cents."
    ),
    "part_supplier_diversity": (
        "TPC-H Q16: part predicates prune the dim before broadcast; "
        "the supplier denylist is a broadcast left-anti (s_suppkey "
        "non-null, so NOT IN agrees); distinct-supplier count is the "
        "two-phase partial-dedup aggregate on uniform keys."
    ),
    "excess_shipment_suppliers": (
        "TPC-H Q20 (aggregate-over-aggregate): the share test is a "
        "window over the ALREADY part-supplier-aggregated frame, so "
        "the fact scans exactly once and nothing corpus-sized sorts — "
        "the join-back spelling would re-scan (Spark won't reuse the "
        "exchange across two consumers). qty*2 > total keeps it "
        "integer-safe."
    ),
    "part_pair_cooccurrence": (
        "Market-basket pairs WITHOUT a fact self-join: each order "
        "collapses to its distinct part set, pairs explode map-side "
        "(≤ C(lines,2) per order), and only (pair, count) partials "
        "shuffle — one scan + two exchanges vs the self-join's two "
        "scans + three (measured crossover at 18 M rows; at cluster "
        "scale the one-scan spelling is the only defensible one). "
        "Top-50 is a bounded heap."
    ),
    "funnel_conversion_latency": (
        "Time-to-convert distribution: latency frames are user-sized "
        "(funnel stages only shrink), the median is a DISCRETE order "
        "statistic over a 2-partition window of that tiny frame — all "
        "integer µs, no interpolation conventions. At extreme scale "
        "swap the rank window for the TakeOrdered-prefix trick."
    ),
    "event_funnel_windowed_counts": (
        "Windowed 3-stage funnel through the generic N-stage fold "
        "(operators/funnel.py): per stage, a scan-pushed type filter → "
        "user-keyed min → same-key join, with the 7-day band predicate "
        "map-side. Plan shape is pinned equal to the unwindowed chain."
    ),
    "event_funnel_stages": (
        "FOUR-stage windowed funnel from the same generic fold — the "
        "plan is the 3-stage shape extended by one (filter → min → "
        "same-key join) unit; the DuckDB oracle is GENERATED from the "
        "same stage list so query and oracle cannot drift."
    ),
    "weekly_retention_cohorts": (
        "The retention triangle from raw events: the (cohort, week, "
        "user) distinct is the measured linear-at-100M-events shuffle "
        "(BASELINE.md r12) — correct but event-volume-bound; "
        "`weekly_retention_incremental` is the at-scale twin that "
        "reads day partials instead."
    ),
    "weekly_retention_hll": (
        "The sketch mode of the retention family: maintained state is "
        "one Datasketches HLL sketch per (ingest_day, cohort, week) "
        "cell — no user key anywhere after the first_seen join — and "
        "the query merge is `hll_union_agg` + estimate, independent "
        "of users and events both. Rows-only by design; the exact "
        "twins carry the oracle, a tolerance test binds the estimate."
    ),
    "weekly_retention_incremental": (
        "Retention through the PER-INGEST-DAY pre-aggregate "
        "(operators/retention.py): the user-distinct happens per day "
        "FIRST (the table a daily job maintains incrementally), and "
        "the query-time merge carries only day partials — ~8× the "
        "triangle size, independent of per-user event volume. "
        "Day-fold equivalence and replay idempotence are test-pinned."
    ),
    "weekly_retention_served": (
        "The triangle SERVED from the maintained partials table "
        "(streaming/retention.py keeps it up per micro-batch; "
        "_ensure_retention_store backfills it once per sf_dir). The "
        "plan is ONLY the serve path: a parquet scan of "
        "~active-user-day rows and the (cohort, week) countDistinct "
        "— no events scan, no first-seen join. That scan-size gap IS "
        "the measured 105× at 100 M events (BASELINE.md r13); at "
        "100 TB partition the partials by cohort_day so triangle "
        "slices prune at the reader."
    ),
    "embedding_diversity_sample": (
        "Cluster-balanced diversity subsample: sample-bounded "
        "portable k-means training, broadcast map-only assignment, "
        "then a per-cluster quota as a rank window over a "
        "3-narrow-column frame — one cid Exchange, and the srank<=n "
        "filter plans as WindowGroupLimit (bounded per-partition "
        "heaps before the shuffle). No corpus self-join anywhere; at "
        "1B vectors cost is train-sample + one scan + one tiny-row "
        "exchange."
    ),
    "session_path_conversion_windowed": (
        "Entry-event conversion under the 10-min max-conversion band "
        "(the funnel family's window, operators/paths.py): the band "
        "is two more conditional-min aggregates inside the SAME "
        "per-session fold — the plan is identical in shape to "
        "session_path_conversion (one user_id Exchange for the whole "
        "event-sized stage, tiny entry-type rollup after), so the "
        "stricter semantics cost zero extra shuffles at any scale."
    ),
    "brand_share_by_year": (
        "TPC-H Q8: part broadcasts as a true dim; orders⋈lineitem is "
        "deliberately left to the planner — bucketed by orderkey it "
        "needs no shuffle, unbucketed AQE picks the strategy. Both "
        "sums in DECIMAL; one final double division."
    ),
    "economy_revenue_share": (
        "TPC-H Q14: conditional numerator and unconditioned "
        "denominator in ONE aggregation pass — no self-join; part "
        "broadcasts, one year-keyed exchange with map-side partials. "
        "Share in exact integer micros (DECIMAL floor-division)."
    ),
    "bucketed_customer_order_stats": (
        "Both the join AND the per-customer aggregate consume the "
        "bucketed (custkey, 16) scans in place — the only Exchange "
        "left is the 5-key segment rollup (plan-test-pinned). The "
        "nightly layout pays ONE custkey shuffle; every consumer "
        "query after that is map-side until the final rollup."
    ),
    "orders_table_profile_approx": (
        "PB-scale profiler: HLL++ `approx_count_distinct` removes the "
        "Expand — the shuffle carries O(cols × registers) bytes "
        "instead of per-column partially-deduped key copies. "
        "Rows-only by design; the exact twin is the oracle and a "
        "tolerance test binds the two."
    ),
    # ---- pipeline surface (q_pipeline) ----
    "exact_dedup_documents": (
        "Exact dedup: md5 fingerprint computed map-side, one "
        "uniform-key shuffle with partial dedup — the cheapest "
        "dedup signal; measured flat through the 1000× decade."
    ),
    "bow_dedup_documents": (
        "Bag-of-words dedup (md5 of the SORTED token list — catches "
        "reorderings): sort+hash runs map-side in one projection; the "
        "only shuffle is the uniform fingerprint key. ALL groups "
        "emitted so the math stays hash-checked on reorder-free "
        "corpora."
    ),
    "shingle_jaccard_pairs": (
        "Exact token-3-gram Jaccard pairs — the VERIFICATION "
        "formulation: shingles explode from a STAGED split projection "
        "(the r12 interpreted-path fix), the pair join runs on shingle "
        "hashes, and at 100 TB only LSH candidates pay this quadratic "
        "step."
    ),
    "cross_source_dup_matrix": (
        "Source-leakage matrix: near-dup pairs join to source labels "
        "and aggregate on the unordered source pair — the pair list is "
        "tiny vs the corpus, so the matrix agg is negligible; pair "
        "jaccards sum in DECIMAL (partition-order-independent mean)."
    ),
    "doc_token_stats": (
        "Whitespace token counts rolled up by language: map-only "
        "feature projection + one small-key exchange. Integer sums "
        "CAST to BIGINT on both sides (DuckDB's sum(int) is HUGEINT) "
        "so the value-hash can't diverge."
    ),
    "doc_quality": (
        "Cheap quality gates (token count, vocab, TTR): map-only — "
        "runs inside the scan stage, no shuffle. These are the filters "
        "that prune BEFORE anything expensive shuffles."
    ),
    "doc_quality_extended": (
        "Second quality family (punctuation/stopword ratios, BPE-ish "
        "sub-word count): map-only; ratios are single IEEE divisions "
        "of exact integers, bit-portable."
    ),
    "lang_id_heuristic": (
        "Marker-token language ID: per-language hit counts + fixed-"
        "tie-order argmax, all in one codegen projection — the "
        "n-gram-profile shape with tiny fixed profiles."
    ),
    "lang_ngram_profile": (
        "Top-5 token-3-grams per language: explode from a STAGED "
        "split (r12 fix) → two-level agg on uniform (lang, shingle) "
        "keys → `WindowGroupLimit` top-k — the heavy shuffle carries "
        "partial counts, and the window never sorts full gram lists."
    ),
    "doc_fingerprint": (
        "Both fingerprint families (order-sensitive md5, order-"
        "insensitive BoW md5) in one map-only projection — zero "
        "exchanges."
    ),
    "doc_rolling_hash": (
        "Polynomial rolling hash over code points: map-only, and — "
        "unlike md5 — incrementally maintainable chunk-by-chunk, which "
        "is what a CDC consumer wants for append-mostly documents."
    ),
    "doc_char_ngram_stats": (
        "Character-5-gram profile (the shingle primitive for "
        "no-whitespace scripts): distinct count + lexicographic "
        "min/max gram, computed per doc map-side — no shuffle; these "
        "grams feed the same MinHash kernel at 100 TB."
    ),
    "doc_bigram_surprisal": (
        "Bigram-LM gate: two count shuffles (unigram, bigram — both "
        "uniform keys with map-side partials) build the model, then "
        "scoring is a broadcast join + map-only fixed-point micro-bit "
        "arithmetic (order-independent sums)."
    ),
    "dsir_importance_weights": (
        "DSIR selection: target-slice and corpus unigram models are "
        "two small aggregations broadcast back; the per-doc "
        "log-likelihood ratio is map-only in fixed-point micro-bits — "
        "no per-doc shuffle."
    ),
    "doc_train_val_test_split": (
        "Per-mille split via the portable integer mixer — a pure "
        "function of doc_id, so the split survives reruns, engine "
        "swaps, and task retries with NO persisted assignment table. "
        "Map-only at any scale."
    ),
    "leakage_free_split": (
        "Group-aware split: hash the near-dup COMPONENT id, not the "
        "doc id, so every duplicate cluster lands in ONE split by "
        "construction (the Lee-et-al. contamination fix). The "
        "component loop runs on the pair list (tiny vs corpus); the "
        "assignment itself is map-side."
    ),
    "doc_stratified_sample": (
        "Deterministic stratified sampling keyed on the content "
        "rolling-hash (never rand()): reproducible across runs and "
        "retries, and the filter runs inside the scan stage — "
        "map-only, no shuffle."
    ),
    "doc_weighted_sample": (
        "Length-proportional deterministic sampling "
        "(portable_hash // n_tokens — the integer A-Res cousin): "
        "`TakeOrderedAndProject` bounded heaps, no global sort."
    ),
    "doc_pack_assignments": (
        "Sequence packing: exclusive prefix sum of token counts div "
        "4096 per source shard — one window shuffle on source (the "
        "sessionization shape), integer math throughout."
    ),
    "near_dup_components": (
        "Pairs → min-label propagation (operators/graph.py) → "
        "component labels: the iterative loop runs on the POST-"
        "DISCOVERY pair list with per-round localCheckpoint (plan "
        "stays bounded); the oracle reproduces the fixpoint via "
        "recursive CTE — an iterative algorithm under a hash check."
    ),
    "near_dup_keep_list": (
        "Greedy min-id keep-list: ONE anti-join of the corpus against "
        "the verified pair set — the decision a training pipeline "
        "actually consumes; at scale the pair source is LSH "
        "candidates, same downstream shape."
    ),
    "incremental_dedup_batch": (
        "Daily-ingest exact dedup: one window on the uniform "
        "fingerprint key within the batch + one left-anti against the "
        "maintained store — co-locatable via fp bucketing at scale "
        "(the ingest store ships that layout)."
    ),
    "incremental_near_dup_batch": (
        "Daily-ingest NEAR-dup: batch band keys join the store's "
        "band-key table (candidates only — never the store text), "
        "exact Jaccard verifies survivors. Signature math, banding, "
        "recall, and verification all hash-checked in DuckDB."
    ),
    "simhash_near_pairs": (
        "SimHash-64 at hamming ≤ 3 with 16-bit prefix blocking: "
        "constant-size sketch per doc, pairs only within prefix "
        "buckets — the cheapest near-dup signal at scale. Rows-only "
        "(seeded xxhash); the portable twin carries the oracle."
    ),
    "embedding_near_dup_pairs": (
        "Block-partitioned BLAS matmul: each block pair is one task — "
        "replication factor = num_blocks, never a row-level cross "
        "join; the formulation that survives 100×. Parity with the "
        "exact SQL pairs at 6-dp rounding."
    ),
    "embedding_topk_filtered": (
        "Hybrid (filtered) vector search: the label equi-condition "
        "rides the broadcast join BEFORE scoring — pre-filtering, so "
        "the scan prunes to the eligible stripe and top-k can't come "
        "up short (post-filtering can return < k). `WindowGroupLimit` "
        "bounds the heap."
    ),
    "embedding_ann_ivf_sampled": (
        "IVF with SAMPLED training: k-means trains on a fixed "
        "200-vector portable-hash sample; assignment and probing "
        "still cover the full corpus. At 10⁹ vectors this turns "
        "train_iters full passes into a constant-size training set — "
        "and the hash match proves the sampled trainer is the same "
        "deterministic machine."
    ),
    "embedding_prototype_prune": (
        "SSL-prototypes pruning: drop the 25% nearest-centroid "
        "vectors per cluster (the redundant core), keep the boundary "
        "— SemDeDup's complement, same portable k-means under the "
        "oracle; distances map-side after a broadcast of the "
        "centroids."
    ),
    "multimodal_features": (
        "Binary media → Arrow-batched `mapInPandas` decode (stub "
        "kernel, real plumbing) → typed-metadata rollup: partition-"
        "preserving, and the oracle re-derives the features "
        "ANALYTICALLY from md5(text) — the kernel is never trusted. "
        "Integer-valued avg terms mean no float-rounding slack."
    ),
    "media_frame_sample": (
        "Bounded frame fan-out (≤4 per item): the explode is "
        "map-side from the decoded batch, fingerprints per frame — "
        "the stage between raw blobs and frame-level dedup; "
        "oracle-backed via the shared `_frame_cte` twin."
    ),
    "media_near_dup_by_frames": (
        "Frame-overlap near-dup (≥2 shared fingerprints): frame "
        "sampling feeds the shingle-style pair join on fingerprint "
        "keys — never a byte-level comparison; the corpus+re-encoded-"
        "copy fixture guarantees every original pairs with its copy."
    ),
    "media_near_dup_real": (
        "Frame-level near-dup over REAL decoded samples: pairs must "
        "share every sampled frame; the oracle derives which items "
        "MUST pair analytically from md5(text) without seeing the "
        "container bytes — a hash match proves the whole "
        "encode→decode→fingerprint→join pipeline."
    ),
    "corpus_report": (
        "One-row report card: one aggregate pass over a map-only "
        "feature projection, two-level distinct counts on uniform "
        "keys; at 100 TB swap exact distincts for the portable HLL "
        "sketches — identical query shape."
    ),
    "training_corpus_assembly": (
        "The flagship composition, ordered by cost: map-only gates "
        "prune FIRST, exact dedup (one uniform-key shuffle) second, "
        "near-dup keep-list third — the quadratic stage runs on the "
        "smallest corpus — then the per-source packing window. At "
        "100 TB stage 3's pair source is the LSH candidates, same "
        "keep rule."
    ),
    "bpe_encode_documents": (
        "Tokenizer serving: the merge table folds to ONE broadcast "
        "array; replay runs per DISTINCT word (vocab-sized, not "
        "corpus-sized); the corpus pass is posexplode + one AQE-skew-"
        "handled join. Measured through the 1000× decade with "
        "per-krow cost falling."
    ),
    "bpe_encode_production": (
        "The 30 k-merge serving kernel: merge ranks ship via "
        "SparkContext broadcast, and the linear-scan pair-ranking "
        "replay (O(len × merges_that_fire) per word, table-size-"
        "independent) runs Arrow-batched over DISTINCT words only — "
        "one ArrowEvalPython in the plan, everything else identical "
        "to the fold twin. Same oracle as the fold: a hash match "
        "proves the two kernels are the same function."
    ),
    "session_top_paths": (
        "Session path mining: ONE user_id exchange carries the lag/"
        "running-sum session windows, the step window, AND the per-"
        "session aggregation (superset-key clustering — Catalyst adds "
        "sorts, not exchanges); per-session state is capped at 5 "
        "structs by the step-gated collect; only (path, count) "
        "partials shuffle; top-20 is `TakeOrderedAndProject`."
    ),
    "session_funnel_counts": (
        "In-session funnel over the composite (user_id, session_id) "
        "key: the session-assignment exchange already clusters it, so "
        "each stage's min and join add sorts and key-sized frames, "
        "never a second event-sized shuffle. Oracle GENERATED from "
        "the same stage list over the shared sessionization CTE."
    ),
    "session_transition_matrix": (
        "First-order Markov transitions: lead() rides the session "
        "pipeline's user_id exchange; the event-sized stage ends at "
        "the map-side (from, to) partial aggregation onto the "
        "|types|² domain, and the row-normalizing window runs over "
        "that already-tiny frame. Probabilities in exact integer "
        "micros."
    ),
    "session_path_conversion": (
        "Entry-event conversion over the same one-exchange session "
        "pipeline: conversion is an aggregate flag (purchase at step "
        "≥ 2), never a collected-array scan, and the share is exact "
        "integer micros — truncating division on both engines, no "
        "double ratios in the hash."
    ),
})

COMMENTARY.update({
    "weekly_retention_served_cohort_window": (
        "Cohort-WINDOWED serve from the maintained partials table — "
        "the read pattern the cohort_day partitioning (r15) exists "
        "for: the window predicate lands on the partition column "
        "BEFORE the widening cast, so the scan shows PartitionFilters "
        "and reads only the window's cohort directories (plan-pinned "
        "in tests/test_plans.py). At 100 TB this is a week's "
        "directories vs the table's full history."
    ),
    "ann_ivf_served_incremental": (
        "The MAINTAINED at-rest IVF index served: broadcast centroid "
        "probe, cells scan dynamic-partition-pruned to the probed "
        "lists, and a (query, id) max-aggregate that absorbs "
        "at-least-once replay duplicates before the ranking window. "
        "The index was bootstrapped on the store and accreted by the "
        "maintenance fold (streaming/annindex.py) — the query pays "
        "ONLY the serve path; training/assignment are amortized at "
        "rest. Hash-checked against the same unrolled-k-means oracle "
        "as the in-memory incremental operator."
    ),
    "ann_ivf_pq_served_incremental": (
        "The maintained COMPRESSED index served: same probe + "
        "partition-pruned read as the raw serve, but rows are "
        "m-code-word PQ codes reconstructed against broadcast frozen "
        "codebooks before ADC scoring; replay duplicates fold BEFORE "
        "the code-word explode (a duplicate there would corrupt the "
        "reconstruction, not just duplicate a rank). The oracle "
        "re-bases coarse AND all subspace trainers onto the store "
        "subset — the whole bootstrap→frozen-accrete→serve loop is "
        "hash-checked."
    ),
    "session_top_paths_windowed": (
        "Top-20 paths with the 10-min conversion band: the banded "
        "converted flag is an aggregate of the SAME per-session fold "
        "as session_top_paths, so the ranking adds one conditional "
        "sum to the tiny (path, count) aggregation — plan shape "
        "identical to the unwindowed ranking, no new exchange."
    ),
    "embedding_cell_drift": (
        "Snapshot drift through the frozen quantizer: portable "
        "k-means trains on the OLD snapshot, ONE broadcast map-only "
        "assignment pass covers both snapshots, then a |cells|-sized "
        "aggregation and a 1-row totals broadcast produce per-cell "
        "population shares in exact integer micros (Spark div ≡ "
        "DuckDB //). The corpus never shuffles; this is the "
        "maintenance drift log (streaming/annindex.py) as a "
        "registered, hash-checked query."
    ),
    "dau_wau_stickiness": (
        "DAU/WAU per day: one events-sized shuffle builds the "
        "distinct (day, user) pairs; the 7-day trailing window is "
        "that SMALL frame range-joined ONCE to a broadcast day grid, "
        "and BOTH counts come out of the single joined frame (DAU is "
        "the conditional distinct where the pair's day IS the grid "
        "day). Two scans total, no per-metric events rescan — "
        "plan-pinned in tests/test_plans.py."
    ),
    "queue_lag_stats": (
        "Outbox lag: the unprocessed predicate pushes to the scan, "
        "the now-proxy (max ts) is a 1-row broadcast, and "
        "count/oldest/p50/p95 age come from one aggregation pass. "
        "Exact percentile is the sf-scale spelling; approx_percentile "
        "is the documented 100 TB swap (user_value_sketches)."
    ),
    "user_value_deciles": (
        "User-LTV deciles: the events-sized stage is the per-user "
        "value sum (partial-aggregated before its shuffle); ntile + "
        "percent_rank then need ONE total order over the user-level "
        "rollup — a single-partition window over users ≪ events, the "
        "same documented class as the global top-n windows. Fully "
        "tie-broken order keeps both engines' decile assignment "
        "identical. user_value_deciles_scalable is the spelling that "
        "removes the global window; this exact version stays as the "
        "oracle-checked reference."
    ),
    "user_value_deciles_scalable": (
        "The scale-safe decile spelling (r19): approx-percentile cut "
        "points collected once (n_slices-1 doubles, control-plane) "
        "become LITERALS, so slice assignment is a pure row function; "
        "row_number runs in a window PARTITIONED by slice id — no "
        "single-partition WindowExec anywhere — and the per-slice "
        "count offsets fold through a broadcast triangle join bounded "
        "by slices², not data. Identical output to the exact twin "
        "(order fully tie-broken), shared oracle; survives a user "
        "table 1000× this size."
    ),
    "daily_new_vs_returning": (
        "New vs returning actives per day: one events-sized distinct "
        "to active-user-day pairs, a user-keyed min (the first_seen "
        "fold the retention loop maintains at scale), and a day-keyed "
        "conditional rollup. No second events pass; the join carries "
        "pairs, not events."
    ),
    "nation_trade_pagerank": (
        "Fixed-point integer PageRank over the nation trade graph: "
        "the fact table collapses through Q7-style star joins to "
        "|nations|-squared weighted edges ONCE; each of the 3 power "
        "iterations is one src-keyed edge join + one dst-keyed "
        "partial-aggregated sum (localCheckpoint per round keeps the "
        "plan O(1) per iteration) — the edge-partitioned shape you'd "
        "run on a billion-edge graph. All arithmetic is truncating "
        "bigint, so the 3x-unrolled SQL twin reproduces it "
        "bit-for-bit."
    ),
    "wire_roundtrip_nation": (
        "decode∘encode pinned as the identity: the wire JSON is "
        "built and then re-parsed by the consumer-side from_wire "
        "(one schema-pinned from_json) in the SAME codegen stage "
        "over one nation scan — no shuffle anywhere, and the oracle "
        "is the source table itself."
    ),
    "wire_rescued_keys": (
        "Schema-drift rescue (r16): a drifted producer's unknown "
        "payload keys recovered as a map<string,string> of raw JSON "
        "text — two JacksonParser passes (typed envelope, and the "
        "envelope with data as a map to diff keys vs the pinned "
        "schema) all inside one codegen "
        "stage over one scan, then one explode. No shuffle; the "
        "oracle re-derives the rescued set with DuckDB json_keys "
        "minus the pinned names."
    ),
    "queue_lag_stats_approx": (
        "PB-scale lag twin: Greenwald-Khanna approx_percentile "
        "partial-aggregates map-side, so the shuffle carries "
        "O(sketch) bytes per partition instead of every age value "
        "the exact percentile's single-reduce collects. Rows-only "
        "(GK estimates are engine-specific); the exact twin is the "
        "oracle evidence and tests pin count/oldest equal + "
        "percentiles within 1%."
    ),
    "near_dup_components_incremental": (
        "Maintained duplicate-cluster labels: yesterday's label table "
        "stands in for the whole historical pair graph as |V| star "
        "edges (connectivity-exact, diameter <= 2), folded with "
        "today's batch pairs through the same min-label propagation. "
        "Daily cost is independent of historical pair count; rounds "
        "track how many old clusters the batch bridges. Hash-matched "
        "against the FULL-graph recursive closure — warm-start == "
        "cold rebuild, the incremental contract extended to the "
        "graph stage."
    ),
    "near_dup_components_served": (
        "The maintained label store SERVED: bootstrap + two batch "
        "folds land the at-rest (node, component_id) table "
        "(streaming/graphstore.py), and this query pays only one "
        "labels scan + the isolate join — |V| rows regardless of how "
        "many pair batches ever folded. Hash-matched against the "
        "full-graph recursive closure: bootstrap -> fold -> serve == "
        "one-pass components, the same served evidence shape as the "
        "retention and ANN stores."
    ),
    "multimodal_resize_parity": (
        "The resize/resample stage under an exact oracle (r17): real "
        "containers -> resize_media (2x2 integer box-mean images, 2x "
        "decimation audio; decode -> resample -> re-encode through "
        "the actual codecs) -> integer census of the RESIZED "
        "containers. Three partition-preserving mapInPandas stages, "
        "map-only end to end — zero Exchange; at 100 TB the stage "
        "scales with bytes scanned, embarrassingly parallel. The "
        "oracle re-derives every resized sample/pixel analytically "
        "from md5(text), so the hash match proves the whole "
        "decode->resample->encode->decode round trip value-exact "
        "including the re-encoded header math."
    ),
    "near_dup_canonical_served": (
        "Canonical selection SERVED from the maintained label store "
        "(r17): the keep-list a daily pipeline reads — one labels "
        "scan, the isolate join, and ONE window pass on component_id "
        "(row_number + count in a single WindowExec, no second "
        "aggregate-and-join round trip); the historical pair log is "
        "never touched. Same rank spelling and recursive-closure "
        "oracle as near_dup_canonical, so the hash match proves "
        "store-served canonicals == recompute-from-scratch."
    ),
    "nation_trade_pagerank_conserving": (
        "Conserving PageRank twin (r16): identical per-iteration "
        "edge-partitioned plan as nation_trade_pagerank plus one "
        "1-row dangling-mass aggregate broadcast-crossed into each "
        "update — ranks form a distribution (sum = scale up to "
        "truncation). The supplier side is region-restricted so "
        "regions 3-4 are structurally dangling at every SF; the "
        "3x-unrolled oracle adds one scalar CTE per iteration."
    ),
})


def main() -> None:
    # coverage ratchet (r12 verdict item 1): every registered query
    # MUST have a commentary entry, and no entry may go stale —
    # regeneration fails loudly instead of silently trailing the round.
    missing = [n for n in QUERIES if n not in COMMENTARY]
    stale = [n for n in COMMENTARY if n not in QUERIES]
    if missing or stale:
        raise SystemExit(
            f"COMMENTARY out of sync with the registry: "
            f"missing={missing} stale={stale}"
        )
    spark = get_spark("plans", cpus=8)
    out = [
        "# PLANS — physical plans of the headline queries\n",
        "Generated by `tools/explain_plans.py` (sf0.1 inputs; regenerate "
        "after plan-affecting changes). `tests/test_plans.py` asserts the "
        "load-bearing properties of these plans so regressions fail CI, "
        "not the cluster.\n",
    ]
    for name, comment in COMMENTARY.items():
        df = QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().rstrip()
        # keep the tree + the scan/exchange/agg details; full dumps are long
        out.append(f"## {name}\n\n{comment}\n\n```\n{plan}\n```\n")
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
