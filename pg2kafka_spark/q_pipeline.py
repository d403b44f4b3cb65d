"""Training-data pipeline queries — dedup, similarity search, text
analysis, multimodal (SURVEY.md §7 M5; BASELINE.json north-star
extras). Oracle-backed where ANSI-SQL-expressible — including the
Arrow-kernel paths whose outputs are analytically re-derivable
(grouped BLAS cosine, md5-framed frame sampling, decode functionals:
the decode-parity pattern) and the portable twins of the seeded
discovery paths (Rademacher LSH, portable MinHash/SimHash). The four
remaining rows-only queries (r8: `embedding_ann_lsh` converted via
the portable Rademacher signature, `media_near_dup_real` via an
analytic shared-frame oracle) are exactly the xxhash/BLAS-seeded
discovery kernels whose seeds aren't portable SQL; each is verified
by unit tests against exact formulations and, where one exists,
shadowed by its hash-checked twin.

Float determinism: cosine math uses double-cast arrays with
sequential folds — bit-identical between Spark's ``aggregate`` and
DuckDB's ``list_inner_product`` (verified), so raw doubles compare
exactly with no rounding. Ratios (ttr, jaccard) are single IEEE
divisions of exact integers — also bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pg2kafka_spark.catalog import load_table
from pg2kafka_spark.operators import dedup as D
from pg2kafka_spark.operators import graph as G
from pg2kafka_spark.operators import multimodal as M
from pg2kafka_spark.operators import similarity as S
from pg2kafka_spark.operators import text as X
from pg2kafka_spark.qreg import query


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "exact_dedup_documents",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalized-text md5 → one representative per
    group. Single uniform-key shuffle with map-side partial agg —
    the 100 TB-safe formulation (no skew: md5 keys)."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.groupBy(X.fingerprint(F.col("text")).alias("fp")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "bow_dedup_documents",
    oracle="""
    SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bow_fp,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def bow_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words dedup: md5 of the sorted token list — catches
    pure reorderings that exact dedup misses. Groups with >1 member
    are the near-dup clusters; ALL groups are emitted (the keep-list
    consumer filters) so the fingerprint math stays hash-checked even
    on corpora with no reorder-dups — the regenerated testdata has
    none, and a 0-row artifact row is no evidence."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.groupBy(
        X.bag_of_words_fingerprint(F.col("text")).alias("bow_fp")
    ).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "shingle_jaccard_pairs",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, length(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      FROM t
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, common, sa.n AS na, sb.n AS nb,
           common * 1.0 / (sa.n + sb.n - common) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.1
    """,
)
def shingle_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-3-gram Jaccard near-dup pairs (threshold 0.1).
    This is the *verification* formulation; at 100 TB the candidate
    set comes from MinHash LSH (``minhash_lsh_pairs``) and only
    candidates pay the quadratic step."""
    docs = load_table(spark, "documents", sf_dir)
    return D.jaccard_pairs(docs, threshold=0.1)


@query(
    "cross_source_dup_matrix",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, length(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      FROM t
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT id_a, id_b, common * 1.0 / (sa.n + sb.n - common) AS jaccard
      FROM pairs
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.1
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           count(*) AS n_pairs,
           round(CAST(sum(CAST(jaccard AS DECIMAL(18, 12))) AS DOUBLE)
                 / count(*), 6) AS avg_jaccard
    FROM jp
    JOIN documents da ON da.doc_id = jp.id_a
    JOIN documents db ON db.doc_id = jp.id_b
    GROUP BY 1, 2
    """,
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-leakage matrix between corpus sources: which sources
    near-duplicate into which (the governance question behind
    source-level dedup and eval decontamination). Near-dup pairs from
    the exact Jaccard formulation (at 100 TB: feed the LSH candidate
    set instead — identical downstream shape), joined to source
    labels, aggregated on the unordered source pair. Pair jaccards
    cast to DECIMAL before summing so the mean is partition-order-
    independent (the salted-agg discipline)."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.jaccard_pairs(docs, threshold=0.1).select("id_a", "id_b", "jaccard")
    src = docs.select("doc_id", "source")
    labeled = (
        pairs.join(
            F.broadcast(src).withColumnRenamed("doc_id", "id_a")
            .withColumnRenamed("source", "src_a"),
            "id_a",
        )
        .join(
            F.broadcast(src).withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("source", "src_b"),
            "id_b",
        )
    )
    return (
        labeled.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            F.col("jaccard").cast("decimal(18,12)").alias("__j"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum("__j").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_jaccard"),
        )
    )


@query("minhash_lsh_pairs")  # rows-only: hash-seed math is not portable SQL
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16 bands × 4 rows) candidate pairs with
    signature-estimated Jaccard — the linear-cost discovery path for
    near-dup at scale. Verified against exact shingle Jaccard in
    tests/test_pipeline_ops.py."""
    docs = load_table(spark, "documents", sf_dir)
    return D.minhash_lsh_pairs(docs)


@query("simhash_near_pairs")  # rows-only: hash math not portable SQL
def simhash_near_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs at hamming ≤ 3 with 16-bit prefix
    blocking — constant-size sketch per document, cheapest near-dup
    signal at scale."""
    docs = load_table(spark, "documents", sf_dir)
    return D.simhash_near_pairs(docs)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "doc_token_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(length(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           round(avg(length(string_split(text, ' '))), 4) AS avg_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting rolled up by language (whitespace tokenizer —
    the BPE-ish regex variant is ``doc_quality``'s mean_token_len).

    Integer sums CAST to BIGINT and the average rounded on BOTH sides:
    DuckDB's sum(int) is HUGEINT (renders as float through fetchdf),
    so without the cast the value-hash diverges from Spark's bigint.
    """
    docs = load_table(spark, "documents", sf_dir)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(X.token_count(F.col("text"))).alias("total_tokens"),
        F.round(F.avg(X.token_count(F.col("text"))), 4).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "doc_quality",
    oracle="""
    SELECT doc_id,
           length(string_split(text, ' ')) AS n_tokens,
           length(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
           length(list_distinct(string_split(text, ' '))) * 1.0
             / length(string_split(text, ' ')) AS ttr,
           (length(string_split(text, ' ')) >= 30
            AND length(list_distinct(string_split(text, ' '))) * 1.0
                / length(string_split(text, ' ')) >= 0.3) AS high_quality
    FROM documents
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: token count, vocabulary size,
    type-token ratio, and a boolean gate — the standard cheap filters
    before expensive pipeline stages. Map-only."""
    docs = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    n_tok = X.token_count(t)
    n_uniq = X.unique_token_count(t)
    ttr = n_uniq * 1.0 / n_tok
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        ttr.alias("ttr"),
        ((n_tok >= 30) & (ttr >= 0.3)).alias("high_quality"),
    )


@query(
    "lang_id_heuristic",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
        length(list_filter(string_split(text,' '),
               x -> list_contains(['the','a','and','scan','table'], x))) AS hits_en,
        length(list_filter(string_split(text,' '),
               x -> list_contains(['data','row','query','filter'], x))) AS hits_es,
        length(list_filter(string_split(text,' '),
               x -> list_contains(['join','merge','stream','window'], x))) AS hits_de
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN hits_en >= hits_es AND hits_en >= hits_de AND hits_en > 0 THEN 'en'
                WHEN hits_es >= hits_de AND hits_es > 0 THEN 'es'
                WHEN hits_de > 0 THEN 'de'
                ELSE 'und' END AS pred_lang
    FROM scored
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic (argmax of per-language hit
    counts, fixed tie order). The heuristic *shape* — n-gram/stopword
    profiles → scores → argmax — is the real pipeline's; profiles
    here are tiny fixed lists (X.LANG_MARKERS)."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id", "lang", X.predict_language(F.col("text")).alias("pred_lang")
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bow_fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both fingerprint families per document (order-sensitive md5 of
    normalized text + order-insensitive bag-of-words md5)."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        X.fingerprint(F.col("text")).alias("fp"),
        X.bag_of_words_fingerprint(F.col("text")).alias("bow_fp"),
    )


@query(
    "doc_quality_extended",
    oracle="""
    SELECT doc_id,
           length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0
             / length(text) AS punct_ratio,
           length(list_filter(string_split(text, ' '),
                  x -> list_contains(['the','a','and','of','to','in','is','on'], x))) * 1.0
             / length(string_split(text, ' ')) AS stopword_ratio,
           length(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_bpe_tokens
    FROM documents
    """,
)
def doc_quality_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second quality-feature family: punctuation ratio, stopword
    ratio, and a BPE-ish sub-word token count (regex pre-tokenizer —
    the LLM-token-budget proxy). Map-only; ratios are single IEEE
    divisions of exact integers, bit-portable."""
    docs = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        X.punct_ratio(t).alias("punct_ratio"),
        X.stopword_ratio(t).alias("stopword_ratio"),
        X.bpe_token_count(t).alias("n_bpe_tokens"),
    )


@query(
    "doc_rolling_hash",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 list_filter(string_split_regex(
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ''),
                   x -> x <> ''),
                 x -> CAST(ord(x) AS BIGINT))),
             (a, b) -> (a * 131 + b) % 2147483647
           ) AS rhash
    FROM documents
    """,
)
def doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (polynomial over code points
    of the normalized text) — order-sensitive like md5 but
    incrementally maintainable chunk-by-chunk, which is what a CDC
    consumer wants for append-mostly documents."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", X.rolling_hash(F.col("text")).alias("rhash"))


@query(
    "lang_ngram_profile",
    oracle="""
    WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT lang,
             unnest(list_transform(range(1, length(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      FROM t
    ),
    c AS (SELECT lang, shingle, count(*) AS n FROM sh GROUP BY 1, 2)
    SELECT lang, shingle, n, rnk FROM (
      SELECT lang, shingle, n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n DESC, shingle ASC) AS rnk
      FROM c
    ) WHERE rnk <= 5
    """,
)
def lang_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 token-3-grams per language — the profile-building side
    of n-gram language ID (what LANG_MARKERS fakes). Explode →
    two-level agg; the heavy shuffle is on uniform (lang, shingle)
    keys and the top-k runs as WindowGroupLimit."""
    docs = load_table(spark, "documents", sf_dir)
    # stage the token split before the shingle HOF (the shingle_sets
    # r12 fix): inlined, interpreted evaluation re-splits the doc per
    # shingle — O(tokens²)
    base = docs.select("lang", X.tokens(F.col("text")).alias("__tk"))
    sh = base.select(
        "lang",
        F.explode(X.shingles(F.col("__tk"))).alias("shingle"),
    )
    counts = sh.groupBy("lang", "shingle").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("shingle").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "shingle", "n", "rnk")
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COSINE_ORACLE = """
    WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
"""


@query(
    "embedding_topk",
    oracle=_COSINE_ORACLE
    + """
    , scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             list_inner_product(q.e, c.e)
               / sqrt(list_inner_product(q.e, q.e) * list_inner_product(c.e, c.e))
               AS cos_sim
      FROM d q JOIN d c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
    )
    SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim, rank FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for query vectors (vec_id < 5) — the
    exactness baseline for ANN. Queries broadcast; corpus streams
    map-only; bounded-heap top-k per query. Ranking runs on the raw
    doubles; the emitted score is rounded to 6 decimals on both sides
    (sequential folds agree with DuckDB only to the last ulp, not
    bit-exactly — observed 5e-17 deltas at sf0.01)."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.brute_force_topk(emb, queries, k=3).select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    )


@query(
    "embedding_topk_quantized",
    oracle=_COSINE_ORACLE
    + """
    , dims AS (
      SELECT i, min(e[i]) AS mn, (max(e[i]) - min(e[i])) / 255 AS step
      FROM d CROSS JOIN range(1, 65) r(i)
      GROUP BY i
    ),
    stats AS (SELECT list(mn ORDER BY i) AS mns, list(step ORDER BY i) AS steps
              FROM dims),
    dq AS (
      SELECT vec_id,
             list_transform(range(1, 65), i ->
               CASE WHEN steps[i] = 0 THEN mns[i]
                    ELSE mns[i] + round((e[i] - mns[i]) / steps[i]) * steps[i]
               END) AS de
      FROM d CROSS JOIN stats
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             round(list_inner_product(q.de, c.de)
               / sqrt(list_inner_product(q.de, q.de) * list_inner_product(c.de, c.de)),
               6) AS qcos_sim
      FROM dq q JOIN dq c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
    )
    SELECT query_id, vec_id, qcos_sim, rank FROM (
      SELECT query_id, vec_id, qcos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY qcos_sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def embedding_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 cosine search over an int8 scalar-quantized index (SQ8):
    vectors coded to 1 byte/dim against per-dimension min/max — the
    4×-smaller index a 10⁹-vector deployment actually scans — scored
    by dequantized cosine. No hash seeds anywhere, so unlike LSH/IVF
    this ANN path is FULLY hash-checked: codes are exact integers and
    dequantization is exact IEEE ops on deterministic stats."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.quantized_topk(emb, queries, k=3).select(
        "query_id", "vec_id", "qcos_sim", "rank"
    )


@query(
    "embedding_near_dup_pairs",
    oracle=_COSINE_ORACLE
    + """
    , s AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_inner_product(a.e, b.e)
               / sqrt(list_inner_product(a.e, a.e) * list_inner_product(b.e, b.e)),
               6) AS cos_sim
      FROM d a JOIN d b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM s WHERE cos_sim >= 0.4
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: all pairs ≥ 0.4, computed as a
    block-partitioned BLAS matmul (each block pair is one task — the
    formulation that survives 100×: replication factor = num_blocks,
    never a row-level cross join). Parity with the exact SQL pair
    formulation at 6-decimal rounding (numpy blocked dot vs
    sequential fold differ in the last ulp)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.embedding_near_dup_pairs(emb, threshold=0.4)


@query(
    "incremental_dedup_batch",
    oracle="""
    WITH seen AS (
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id < 250
    ),
    batch AS (SELECT * FROM documents WHERE doc_id >= 250),
    fresh AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM batch
      QUALIFY row_number() OVER (PARTITION BY
        md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
        ORDER BY doc_id) = 1
    )
    SELECT doc_id AS keep_doc_id FROM fresh
    WHERE fp NOT IN (SELECT fp FROM seen)
    """,
)
def incremental_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup (operators/dedup.py incremental_exact_dedup):
    docs with id < 250 stand in for the already-ingested corpus (its
    maintained fingerprint store), the rest are the incoming batch —
    kept iff their fingerprint is new, lowest-id within the batch. One
    window on the uniform fp key + one left-anti join against the
    store (co-locatable via fp bucketing at scale)."""
    docs = load_table(spark, "documents", sf_dir)
    from pg2kafka_spark.operators.text import fingerprint as fp

    seen = (
        docs.filter(F.col("doc_id") < 250)
        .select(fp(F.col("text")).alias("fp"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") >= 250)
    kept = D.incremental_exact_dedup(batch, seen)
    return kept.select(F.col("doc_id").alias("keep_doc_id"))


@query(
    "doc_char_ngram_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN length(nt) >= 5 THEN
               list_distinct(list_transform(range(1, length(nt) - 3),
                                            i -> substr(nt, i, 5)))
             ELSE [] END AS grams
      FROM t
    )
    SELECT doc_id,
           CAST(length(grams) AS BIGINT) AS n_char5,
           list_aggregate(grams, 'min') AS min_gram,
           list_aggregate(grams, 'max') AS max_gram
    FROM g
    """,
)
def doc_char_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram profile of the normalized text — the shingle
    primitive for scripts where whitespace tokenization fails (CJK,
    no-space boilerplate): distinct gram count plus lexicographic
    min/max gram (portable spot-checks of the gram set). Map-only;
    at 100 TB these grams feed the same MinHash kernel the token
    shingles use."""
    docs = load_table(spark, "documents", sf_dir)
    from pg2kafka_spark.operators.text import normalized_text

    # HOF-CSE discipline (dedup.py lesson): the O(chars) normalize
    # must be a staged COLUMN, not an expression captured in the
    # per-gram lambda — interpreted HOFs re-evaluate captures per
    # element, which would make this O(len²) per document
    from pg2kafka_spark.operators.scale import spread_small_input

    # spread: O(chars) gram transform + distinct per row on a 1-split
    # local scan otherwise runs on one core (r14); no-op at scale
    staged = spread_small_input(
        docs.select("doc_id", normalized_text(F.col("text")).alias("__nt")),
        key="doc_id",
    )
    grams = F.when(
        F.length("__nt") >= 5,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length("__nt") - 4),
                lambda i: F.substring(F.col("__nt"), i, 5),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return staged.select("doc_id", grams.alias("g")).select(
        "doc_id",
        F.size("g").cast("long").alias("n_char5"),
        F.array_min("g").alias("min_gram"),
        F.array_max("g").alias("max_gram"),
    )


@query(
    "doc_repetition",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, length(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM t
    ),
    c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
    m AS (SELECT doc_id, max(c) AS top FROM c GROUP BY 1)
    SELECT t.doc_id,
           CAST(length(toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(m.top, 0) AS BIGINT) AS top_bigram_count,
           round(coalesce(m.top, 0) * 2.0 / length(toks), 6) AS top_bigram_fraction
    FROM t LEFT JOIN m ON m.doc_id = t.doc_id
    """,
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/boilerplate gate (Gopher-style): the token share of
    the single most frequent bigram — near-zero for natural text,
    spiking on keyword-stuffed or templated documents. Two uniform-
    key shuffles (gram counts, per-doc max), standard two-level agg
    shape; documents shorter than 2 tokens keep count 0 via the left
    join."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", X.tokens(F.col("text")).alias("tk"))
    counts = (
        toks.select("doc_id", F.explode(X.shingles(F.col("tk"), 2)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.groupBy("doc_id").agg(F.max("c").alias("top"))
    return toks.join(top, "doc_id", "left").select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.coalesce(F.col("top"), F.lit(0)).cast("long").alias("top_bigram_count"),
        F.round(
            F.coalesce(F.col("top"), F.lit(0)) * 2.0 / F.size("tk"), 6
        ).alias("top_bigram_fraction"),
    )


def _rademacher_bit_terms(
    num_planes: int, dim: int = 64, seed: int = 42, col: str = "e"
) -> str:
    """SQL expression for the m-bit Rademacher signature of ``col``:
    the ±1 plane literals come from the SAME
    ``similarity.rademacher_planes`` call the Spark operator uses, so
    the engines cannot drift; with ±1 coefficients the projection is
    a sequential fold DuckDB's ``list_inner_product`` reproduces
    bit-for-bit, making the bucket id (sign pattern) exact."""
    planes = S.rademacher_planes(num_planes, dim, seed)

    def lst(p: list[float]) -> str:
        return "[" + ", ".join(f"{x:.1f}" for x in p) + "]"

    return " + ".join(
        f"CASE WHEN list_inner_product({col}, {lst(p)}) >= 0"
        f" THEN {1 << j} ELSE 0 END"
        for j, p in enumerate(planes)
    )


def _lsh_portable_oracle(
    num_planes: int = 8, dim: int = 64, seed: int = 42, thr: float = 0.4
) -> str:
    """Oracle for the portable Rademacher-LSH discovery (see
    :func:`_rademacher_bit_terms` for the exactness argument)."""
    bit_terms = _rademacher_bit_terms(num_planes, dim, seed)
    return f"""
    WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sig AS (
      SELECT vec_id AS id, e, CAST(({bit_terms}) AS BIGINT) AS bucket FROM d
    )
    SELECT id_a, id_b, bucket, cos_sim FROM (
      SELECT a.id AS id_a, b.id AS id_b, a.bucket AS bucket,
             round(list_inner_product(a.e, b.e)
                   / sqrt(list_inner_product(a.e, a.e)
                          * list_inner_product(b.e, b.e)), 6) AS cos_sim
      FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.id < b.id
    ) WHERE cos_sim >= {thr}
    """


@query(
    "embedding_near_dup_lsh_portable",
    oracle=_lsh_portable_oracle(num_planes=6, thr=0.3),
)
def embedding_near_dup_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH discovery under an EXACT oracle: Rademacher
    (±1) plane signatures — sequential-fold projections whose SIGNS
    are bit-identical between Spark's zip_with/aggregate folds and
    DuckDB's ``list_inner_product`` — bucket self-join, exact-cosine
    verify. Hash-checks the whole per-table LSH pipeline (signature
    bits INCLUDED — ``bucket`` is an output column), the previously
    rows-only part of ``embedding_near_dup_lsh_pairs``; the
    multi-table BLAS path keeps its recall/subset property tests."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.embedding_near_dup_lsh_portable(emb, threshold=0.3, num_planes=6)


@query("embedding_near_dup_lsh_pairs")  # rows-only: hyperplane seeds not portable SQL
def embedding_near_dup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via multi-table hyperplane-LSH
    bucketing — the DISCOVERY path for corpora where the block-matmul
    all-pairs formulation (replication = num_blocks) stops being
    writable: per table one uniform bucket shuffle, pair expansion
    within buckets only, exact cosine verified inline. Subset-of-
    exact and planted-dup recall asserted in
    tests/test_pipeline_ops.py."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.embedding_near_dup_lsh(emb, threshold=0.4)


_PII_AUGMENT_SPARK = (
    "CASE WHEN doc_id % 3 = 0 THEN concat(text, ' contact user', doc_id, "
    "'@example.com now') WHEN doc_id % 3 = 1 THEN concat(text, "
    "' call +1 (555) 010-', lpad(cast(doc_id % 10000 as string), 4, '0'), "
    "' today') ELSE text END"
)
_PII_AUGMENT_DUCK = (
    "CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' || doc_id || "
    "'@example.com now' WHEN doc_id % 3 = 1 THEN text || "
    "' call +1 (555) 010-' || lpad(cast(doc_id % 10000 as varchar), 4, '0') || "
    "' today' ELSE text END"
)


@query(
    "doc_pii_scrub",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_PII_AUGMENT_DUCK} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_split_to_array(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) - 1 AS BIGINT)
             AS n_emails,
           CAST(len(regexp_split_to_array(t,
             '\\+?[0-9][0-9()\\-. ]{{7,}}[0-9]')) - 1 AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<PII>', 'g'),
             '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b', '<PII>', 'g'),
             '\\+?[0-9][0-9()\\-. ]{{7,}}[0-9]', '<PII>', 'g')) AS redacted_md5
    FROM aug
    """,
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub stage (operators/text.py redact_pii): deterministic
    synthetic emails/phone numbers are appended to the fixture text —
    identically in Spark and the oracle — then counted and redacted;
    the md5 of the redacted text hash-checks the full replacement
    output, not just the counts. Map-only, one streaming regex pass
    per pattern."""
    docs = load_table(spark, "documents", sf_dir)
    aug = docs.select("doc_id", F.expr(_PII_AUGMENT_SPARK).alias("t"))
    return aug.select(
        "doc_id",
        X.pii_count(F.col("t"), "email").alias("n_emails"),
        X.pii_count(F.col("t"), "phone").alias("n_phones"),
        F.md5(F.encode(X.redact_pii(F.col("t")), "UTF-8")).alias("redacted_md5"),
    )


def _kmeans_cents_ctes(
    n_centroids: int = 8,
    iters: int = 2,
    dim: int = 64,
    train_sample: int | None = None,
    base: str = "d",
) -> str:
    """Unrolled portable spherical k-means as chained CTEs — the SQL
    twin of operators/similarity.kmeans_centroids (same seeded sample
    ordering, 6-dp-rounded assignment cosine and centroid means,
    empty cells keep their previous centroid; ``train_sample`` limits
    the TRAINING rows to the same smallest-hash prefix the operator
    uses — the at-scale mode; ``base`` names the training relation —
    the incremental mode trains on a store subset of ``d``). Ends
    with a CTE named ``cents`` so the consumer SQL is unchanged."""

    def cos(a: str, b: str) -> str:
        return (
            f"round(list_inner_product({a}, {b}) / sqrt(list_inner_product({a}, {a})"
            f" * list_inner_product({b}, {b})), 6)"
        )

    train_rel = base
    parts = [
        f"cents0 AS (SELECT vec_id AS cid, e AS ce FROM {base} "
        f"ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id "
        f"LIMIT {n_centroids})"
    ]
    if train_sample is not None:
        train_rel = "ktr"
        parts.append(
            f"ktr AS (SELECT vec_id, e FROM {base} "
            f"ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id "
            f"LIMIT {train_sample})"
        )
    for it in range(iters):
        prev = f"cents{it}"
        nxt = "cents" if it == iters - 1 else f"cents{it + 1}"
        # exact fixed-point bigint sums / one double division —
        # order-independent, mirrors kmeans_centroids' LONG discipline
        avg_terms = ", ".join(
            f"round(CAST(sum(CAST(round(e[{i + 1}] * 1000000000.0) AS BIGINT))"
            f" AS DOUBLE) / (count(*) * 1000000000.0), 6)"
            for i in range(dim)
        )
        parts.append(
            f"kasg{it} AS (SELECT vec_id, e, cid FROM ("
            f"SELECT d.vec_id, d.e, c.cid, row_number() OVER (PARTITION BY d.vec_id "
            f"ORDER BY {cos('d.e', 'c.ce')} DESC, c.cid ASC) AS arn "
            f"FROM {train_rel} d CROSS JOIN {prev} c) WHERE arn = 1)"
        )
        parts.append(
            f"km{it} AS (SELECT cid, list_value({avg_terms}) AS me "
            f"FROM kasg{it} GROUP BY cid)"
        )
        parts.append(
            f"{nxt} AS (SELECT p.cid, coalesce(m.me, p.ce) AS ce "
            f"FROM {prev} p LEFT JOIN km{it} m ON m.cid = p.cid)"
        )
    return ",\n    ".join(parts)


@query(
    "embedding_ann_ivf",
    oracle=_COSINE_ORACLE
    + "    , "
    + _kmeans_cents_ctes()
    + """
    ,
    asg AS (
      SELECT vec_id, e, cid FROM (
        SELECT d.vec_id, d.e, c.cid,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY round(list_inner_product(d.e, c.ce)
                   / sqrt(list_inner_product(d.e, d.e) * list_inner_product(c.ce, c.ce)), 6) DESC,
                   c.cid ASC) AS arn
        FROM d CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM d WHERE vec_id < 5),
    probes AS (
      SELECT query_id, qe, cid FROM (
        SELECT q.query_id, q.qe, c.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_inner_product(q.qe, c.ce)
                   / sqrt(list_inner_product(q.qe, q.qe) * list_inner_product(c.ce, c.ce)), 6) DESC,
                   c.cid ASC) AS prn
        FROM q CROSS JOIN cents c
      ) WHERE prn <= 2
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT p.query_id, a.vec_id,
             round(list_inner_product(p.qe, a.e)
               / sqrt(list_inner_product(p.qe, p.qe) * list_inner_product(a.e, a.e)), 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY round(list_inner_product(p.qe, a.e)
                 / sqrt(list_inner_product(p.qe, p.qe) * list_inner_product(a.e, a.e)), 6) DESC,
                 a.vec_id ASC) AS rank
      FROM probes p JOIN asg a USING (cid)
      WHERE a.vec_id <> p.query_id
    ) WHERE rank <= 3
    """,
)
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-3: corpus partitioned into 8
    inverted lists by nearest k-means centroid (deterministic
    portable spherical k-means, 2 Lloyd iterations — the oracle
    unrolls the identical iterations as SQL CTEs), queries probe
    their 2 nearest lists, exact cosine within. Fully oracle-checked
    — every argmax and every centroid mean runs on 6-decimal-rounded
    values so training and assignment are engine-portable."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_topk(emb, queries, k=3, n_centroids=8, n_probe=2).select(
        "query_id", "vec_id", "cos_sim", "rank"
    )


@query(
    "semantic_dedup_embeddings",
    oracle=_COSINE_ORACLE
    + "    , "
    + _kmeans_cents_ctes()
    + """
    ,
    asg AS (
      SELECT vec_id, e, cid FROM (
        SELECT d.vec_id, d.e, c.cid,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY round(list_inner_product(d.e, c.ce)
                   / sqrt(list_inner_product(d.e, d.e) * list_inner_product(c.ce, c.ce)), 6) DESC,
                   c.cid ASC) AS arn
        FROM d CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    prior AS (
      SELECT a.vec_id,
             max(round(list_inner_product(a.e, b.e)
               / sqrt(list_inner_product(a.e, a.e) * list_inner_product(b.e, b.e)),
               6)) AS mps
      FROM asg a JOIN asg b ON a.cid = b.cid AND b.vec_id < a.vec_id
      GROUP BY a.vec_id
    )
    SELECT a.vec_id, a.cid,
           coalesce(p.mps, -2.0) AS max_prior_sim,
           coalesce(p.mps, -2.0) < 0.4 AS kept
    FROM asg a LEFT JOIN prior p ON p.vec_id = a.vec_id
    """,
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding
    space (the SAME deterministic portable k-means the IVF index
    trains — the oracle unrolls identical Lloyd iterations), then
    drop any vector whose cluster holds a smaller-id vector with
    cosine ≥ 0.4. The cluster pass bounds the quadratic pair scan to
    one grouped-map BLAS task per cluster; ``max_prior_sim`` uses
    −2.0 as the no-prior sentinel so the whole operator — training,
    assignment, prune — is hash-checked against ANSI SQL."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.semantic_dedup(emb, threshold=0.4, n_centroids=8)


@query(
    "embedding_diversity_sample",
    oracle=_COSINE_ORACLE
    + "    , "
    + _kmeans_cents_ctes()
    + """
    ,
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT d.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY round(list_inner_product(d.e, c.ce)
                   / sqrt(list_inner_product(d.e, d.e) * list_inner_product(c.ce, c.ce)), 6) DESC,
                   c.cid ASC) AS arn
        FROM d CROSS JOIN cents c
      ) WHERE arn = 1
    )
    SELECT vec_id, cid, srank FROM (
      SELECT vec_id, cid,
             CAST(row_number() OVER (
               PARTITION BY cid
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
             ) AS BIGINT) AS srank
      FROM asg
    ) WHERE srank <= 20
    """,
)
def embedding_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity subsample (r14): equal per-cluster
    quota over the k-means-clustered embedding space
    (operators/similarity.py::cluster_balanced_sample) — raw sampling
    mirrors the corpus's mode bias; the quota keeps rare embedding
    regions represented in the assembled training subset. Training
    and assignment are the SAME portable k-means the IVF/SemDeDup
    family unrolls into the oracle; the within-cluster order is the
    md5 of the id (identical hex on both engines), so the whole
    pick — training, assignment, quota — hash-checks."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.cluster_balanced_sample(emb, per_cluster=20, n_centroids=8)


def _ann_lsh_oracle(num_planes: int = 8, k: int = 3) -> str:
    """Oracle for the multiprobe hyperplane-LSH top-k: the signature
    is the sign-exact Rademacher bucket (see
    :func:`_rademacher_bit_terms`), 1-bit multiprobe is a bucket-XOR
    power-of-two membership test (each candidate matches at most one
    probe, so no dedupe is needed), ranking runs on the raw cosine
    doubles and the emitted score is rounded to 6 decimals on both
    sides — the ``embedding_topk`` discipline."""
    bit_terms = _rademacher_bit_terms(num_planes)
    probe_set = ", ".join(str(1 << j) for j in range(num_planes))
    cos = (
        "list_inner_product(q.qe, s.e) / sqrt(list_inner_product(q.qe, q.qe)"
        " * list_inner_product(s.e, s.e))"
    )
    return f"""
    WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sig AS (
      SELECT vec_id, e, CAST(({bit_terms}) AS BIGINT) AS bucket FROM d
    ),
    q AS (SELECT vec_id AS query_id, e AS qe, bucket AS qbucket
          FROM sig WHERE vec_id < 5),
    cand AS (
      SELECT q.query_id, s.vec_id, {cos} AS cos_sim
      FROM q JOIN sig s
        ON s.vec_id <> q.query_id
       AND (s.bucket = q.qbucket
            OR xor(s.bucket, q.qbucket) IN ({probe_set}))
    )
    SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim, rank FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM cand
    ) WHERE rank <= {k}
    """


@query("embedding_ann_lsh", oracle=_ann_lsh_oracle())
def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 via 8-bit Rademacher-hyperplane LSH with
    1-bit multiprobe — the corpus-bucketing scale path (equality join
    on bucket, never a cross join). Oracle-backed since r8: the ±1
    signature is sign-exact cross-engine (the
    ``embedding_near_dup_lsh_portable`` trick), multiprobe is a
    bucket-XOR test, and the score is 6-dp-rounded on both sides
    (rank on raw doubles — the ``embedding_topk`` discipline).
    Recall vs brute force additionally asserted in
    tests/test_pipeline_ops.py."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.lsh_bucket_topk(emb, queries, k=3, portable=True).select(
        "query_id",
        "vec_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        "rank",
    )


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@query(
    "near_dup_keep_list",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, length(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      FROM t
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    dups AS (
      SELECT DISTINCT id_b FROM pairs
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5
    )
    SELECT doc_id AS keep_doc_id FROM documents
    WHERE doc_id NOT IN (SELECT id_b FROM dups)
    """,
)
def near_dup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup decision: drop every document that is a
    near-duplicate (jaccard ≥ 0.5) of a lower-id survivor — the
    keep-list a training pipeline actually consumes. Greedy min-id
    policy: one anti-join against the verified pair set. (At scale
    the pair source is MinHash-LSH candidates → jaccard verify; here
    the exact pair set, which is what makes it oracle-checkable.)"""
    docs = load_table(spark, "documents", sf_dir)
    dups = (
        D.jaccard_pairs(docs, threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return docs.join(dups, "doc_id", "left_anti").select(
        F.col("doc_id").alias("keep_doc_id")
    )


def _frame_cte(src: str) -> str:
    """Fake-mode frame-sampling CTEs over a ``(doc_id, text)``
    relation ``src`` — the SQL twin of ``multimodal.synth_media`` +
    ``sample_frames(mode="fake")``. Exact because the stub payload IS
    the UTF-8 text (all-ASCII fixture, so ``substr`` slices chars ==
    bytes) and the per-frame fingerprint is ``md5`` of the strided
    byte slice ``data[i*stride:(i+1)*stride]``, stride =
    ``max(1, len//n)`` with n = 1 frame for images, 4 for audio/video
    (media_type round-robins on doc_id % 3). Ends with a CTE named
    ``fr(media_id, media_type, frame_idx, offset_ms, frame_fp)``."""
    return f"""
    m AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             text,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 4 END AS n
      FROM {src}
    ),
    fr AS (
      SELECT media_id, media_type,
             CAST(i.i AS INTEGER) AS frame_idx,
             CAST(i.i * 1000 AS BIGINT) AS offset_ms,
             md5(substr(text,
                        CAST(i.i * greatest(1, length(text) // n) + 1 AS BIGINT),
                        greatest(1, length(text) // n))) AS frame_fp
      FROM m CROSS JOIN range(4) i(i)
      WHERE i.i < n
    )"""


@query(
    "media_frame_fingerprints",
    oracle=f"""
    WITH {_frame_cte("documents")}
    SELECT media_id, media_type, frame_idx, offset_ms, frame_fp FROM fr
    """,
)
def media_frame_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frame-sampling mapInPandas stage under an EXACT oracle
    (decode-parity style): every emitted row — fingerprints included
    — re-derived analytically in SQL from the text payload the stub
    encodes, so a hash-match proves the Arrow kernel's striding,
    fan-out bound (1 image / 4 audio-video frames), offsets, and md5
    framing are exactly as specified. Hash-checkable twin of the
    previously rows-only ``media_frame_sample`` rollup."""
    docs = load_table(spark, "documents", sf_dir)
    return M.sample_frames(M.synth_media(docs))


@query(
    "media_frame_sample",
    oracle=f"""
    WITH {_frame_cte("documents")}
    SELECT media_type, frame_idx, CAST(count(*) AS BIGINT) AS n_frames
    FROM fr GROUP BY media_type, frame_idx
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame/segment sampling over binary media: bounded fan-out
    (4 samples per video/audio item, 1 per image) with per-frame
    fingerprints — the stage between raw blobs and frame-level
    dedup/embedding in a multimodal pipeline. Oracle-backed since
    round 7 via the shared ``_frame_cte`` SQL twin."""
    docs = load_table(spark, "documents", sf_dir)
    media = M.synth_media(docs)
    frames = M.sample_frames(media)
    return (
        frames.groupBy("media_type", "frame_idx")
        .agg(F.count(F.lit(1)).alias("n_frames"))
        .orderBy("media_type", "frame_idx")
    )


_MEDIA_WITH_COPIES = """(
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id, text FROM documents
    )"""


@query(
    "media_near_dup_by_frames",
    oracle=f"""
    WITH {_frame_cte(_MEDIA_WITH_COPIES)},
    f AS (SELECT DISTINCT media_id, frame_fp FROM fr)
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           CAST(count(*) AS BIGINT) AS common_frames
    FROM f a JOIN f b ON a.frame_fp = b.frame_fp AND a.media_id < b.media_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def media_near_dup_by_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video/audio near-dup via sampled-frame fingerprint overlap
    (≥ 2 shared frames) — frame sampling feeds straight into the
    shingle-style pair join. The fixture corpus has no byte-identical
    documents, so the media table is the corpus plus one re-encoded
    copy per item (id + 3·10⁶, offset divisible by 3 so the copy keeps
    its media type) — the re-upload scenario this operator
    exists for; every original must pair with its copy."""
    docs = load_table(spark, "documents", sf_dir)
    copies = docs.select(
        (F.col("doc_id") + F.lit(3_000_000)).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    frames = M.sample_frames(M.synth_media(docs.unionByName(copies)))
    return M.frame_overlap_pairs(frames, min_common=2)


def _md5_word_be(c: int) -> str:
    """DuckDB expression: BIG-endian uint16 word ``c`` of
    ``md5(text)`` — mirrors ``int.from_bytes(digest[2c:2c+2], "big")``
    in ``multimodal._fake_decode`` (the little-endian twin is
    :func:`_md5_word_le`)."""

    def nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"

    hi, lo = 2 * c, 2 * c + 1  # byte indices (0-based), big-endian
    return (
        f"(256*(16*{nib(2 * hi + 1)} + {nib(2 * hi + 2)})"
        f" + (16*{nib(2 * lo + 1)} + {nib(2 * lo + 2)}))"
    )


@query(
    "multimodal_features",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, length(text) AS n_bytes,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             {_md5_word_be(0)} AS w0, {_md5_word_be(1)} AS w1,
             {_md5_word_be(2)} AS w2
      FROM (SELECT doc_id, text, md5(text) AS h FROM documents)
    )
    SELECT media_type, CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           avg(CASE WHEN media_type = 'image'
                    THEN 16 + (w0 % 1024) END) AS avg_width,
           avg(CASE WHEN media_type <> 'image'
                    THEN 1000 + (w2 % 600000) END) AS avg_duration_ms
    FROM w GROUP BY media_type
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns → Arrow-batched decode/feature-extract
    (deterministic stub) → typed-metadata rollup by media type. The
    Spark plumbing (schema, partition-preserving mapInPandas, pruned
    metadata consumers) is the real 100 TB path; only the codec call
    is faked — and since the fake derives width/duration from
    md5(content) words, the oracle re-derives them ANALYTICALLY from
    md5(text) without ever seeing the kernel (decode-parity pattern,
    r7 conversion). The avg aggregates are exact on both engines:
    integer-valued terms < 2¹⁰ summed over < 2⁵³/2¹⁰ rows have no
    float rounding, so no round() slack is needed."""
    docs = load_table(spark, "documents", sf_dir)
    media = M.synth_media(docs)
    features = M.decode_media(media, mode="fake")
    return M.media_stats(features).orderBy("media_type")


@query(
    "multimodal_features_real",
    oracle="""
    SELECT 'audio' AS media_type, CAST(count(*) AS BIGINT) AS n_items,
           CAST(count(*) * 4044 AS BIGINT) AS total_bytes,
           CAST(NULL AS DOUBLE) AS avg_width,
           CAST(250.0 AS DOUBLE) AS avg_duration_ms
    FROM documents WHERE doc_id % 2 = 1
    UNION ALL
    SELECT 'image', CAST(count(*) AS BIGINT),
           CAST(count(*) * 822 AS BIGINT),
           CAST(16.0 AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM documents WHERE doc_id % 2 = 0
    """,
)
def multimodal_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pipeline with ACTUAL encoded bytes and an actual decode:
    documents are encoded into WAV PCM-16 / BMP-24 containers
    (operators/multimodal.py synth_real_media), then parsed back
    bytes→samples/pixels with the pure-numpy codecs and featured from
    the decoded signal. No stub anywhere on this path. The r7 oracle
    pins the rollup's container invariants (a 2000-sample 8 kHz
    PCM-16 RIFF container is exactly 4044 bytes / 250 ms; a 16×16
    BMP-24 is 822 bytes / width 16) — any header-math or chunk-walk
    drift in encode OR decode breaks the hash; the decoded SIGNAL
    functionals are pinned separately by ``multimodal_decode_parity``."""
    docs = load_table(spark, "documents", sf_dir)
    media = M.synth_real_media(docs)
    features = M.decode_media(media, mode="real")
    return M.media_stats(features).orderBy("media_type")


def _md5_word_le(c: int) -> str:
    """DuckDB expression: little-endian uint16 word ``c`` of
    ``md5(text)`` — mirrors ``np.frombuffer(md5(text).digest(),
    '<u2')[c]`` in synth_real_media. Hex nibbles are mapped through a
    strpos lookup (DuckDB has no hex→int scalar)."""

    def nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"

    lo, hi = 2 * c, 2 * c + 1  # byte indices (0-based)
    return (
        f"((16*{nib(2 * lo + 1)} + {nib(2 * lo + 2)})"
        f" + 256*(16*{nib(2 * hi + 1)} + {nib(2 * hi + 2)}))"
    )


@query(
    "multimodal_decode_parity",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_md5_word_le(0)} AS w0, {_md5_word_le(1)} AS w1,
             {_md5_word_le(2)} AS w2
      FROM (SELECT doc_id, md5(text) AS h FROM documents)
    ),
    audio AS (
      -- odd doc_ids: 2000-sample 8 kHz sine, freq = 200 + w0 % 800,
      -- samples = round-half-even(12000·sin(2π·f·i/8000)) — the exact
      -- arithmetic synth_real_media encodes into the WAV container
      SELECT w.doc_id AS media_id, 'audio' AS media_type,
             CAST(4044 AS BIGINT) AS n_bytes,
             CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
             CAST(250 AS BIGINT) AS duration_ms,
             CAST(sum(CAST(round_even(
               12000 * sin(2*pi()*(200.0 + (w0 % 800))*i.i/8000.0), 0)
               AS BIGINT)) AS BIGINT) AS sum_a,
             CAST(sum(abs(CAST(round_even(
               12000 * sin(2*pi()*(200.0 + (w0 % 800))*i.i/8000.0), 0)
               AS BIGINT))) AS BIGINT) AS sum_b,
             CAST(count(*) AS BIGINT) AS sum_c
      FROM w CROSS JOIN range(2000) i(i)
      WHERE w.doc_id % 2 = 1
      GROUP BY w.doc_id
    ),
    image AS (
      -- even doc_ids: 16×16 BMP-24, px[r][c][ch] = (r+c)·4 + w_ch%97
      -- (never wraps mod 256: max 120+96); container = 54 B header +
      -- 16 rows × 48 B (no padding) = 822 B
      SELECT w.doc_id AS media_id, 'image' AS media_type,
             CAST(822 AS BIGINT) AS n_bytes,
             CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
             CAST(NULL AS BIGINT) AS duration_ms,
             CAST(sum(((r.r + c.c)*4 + (w0 % 97)) % 256) AS BIGINT) AS sum_a,
             CAST(sum(((r.r + c.c)*4 + (w1 % 97)) % 256) AS BIGINT) AS sum_b,
             CAST(sum(((r.r + c.c)*4 + (w2 % 97)) % 256) AS BIGINT) AS sum_c
      FROM w CROSS JOIN range(16) r(r) CROSS JOIN range(16) c(c)
      WHERE w.doc_id % 2 = 0
      GROUP BY w.doc_id
    )
    SELECT * FROM audio UNION ALL SELECT * FROM image
    """,
)
def multimodal_decode_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real-codec path under an EXACT oracle (round-5 verdict #4):
    documents → real WAV-PCM16/BMP-24 containers (synth_real_media) →
    chunk-walking/header-parsing decode (decode_wav_pcm16 /
    decode_bmp_rgb) → integer functionals of the decoded signal
    (operators/multimodal.decode_media_checked). The oracle re-derives
    every expected sample/pixel analytically from md5(text) — it never
    sees the container bytes — so a hash-match proves encode→decode is
    lossless and the codecs parse exactly the structures they claim
    (RIFF chunk walk, BMP bottom-up BGR rows, padding). All-integer
    outputs: no float summation-order caveats."""
    docs = load_table(spark, "documents", sf_dir)
    media = M.synth_real_media(docs)
    return M.decode_media_checked(media)


@query(
    "multimodal_resize_parity",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_md5_word_le(0)} AS w0, {_md5_word_le(1)} AS w1,
             {_md5_word_le(2)} AS w2
      FROM (SELECT doc_id, md5(text) AS h FROM documents)
    ),
    audio AS (
      -- odd doc_ids, decimated by 2: samples are the EVEN-index
      -- subset of the synth waveform (t = 2i), re-encoded at 4 kHz —
      -- 1000 samples keep duration_ms at 250; container = 44 B
      -- header + 2000 B PCM
      SELECT w.doc_id AS media_id, 'audio' AS media_type,
             CAST(2044 AS BIGINT) AS n_bytes,
             CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
             CAST(250 AS BIGINT) AS duration_ms,
             CAST(sum(CAST(round_even(
               12000 * sin(2*pi()*(200.0 + (w0 % 800))*(2*i.i)/8000.0), 0)
               AS BIGINT)) AS BIGINT) AS sum_a,
             CAST(sum(abs(CAST(round_even(
               12000 * sin(2*pi()*(200.0 + (w0 % 800))*(2*i.i)/8000.0), 0)
               AS BIGINT))) AS BIGINT) AS sum_b,
             CAST(count(*) AS BIGINT) AS sum_c
      FROM w CROSS JOIN range(1000) i(i)
      WHERE w.doc_id % 2 = 1
      GROUP BY w.doc_id
    ),
    image AS (
      -- even doc_ids, 2x2 box-mean 16x16 -> 8x8: block sum =
      -- 32r+32c+16+4k (k = w_ch%97) divides exactly by 4, so each
      -- output pixel is 8r+8c+4+k (max 212, no clipping); container
      -- = 54 B header + 8 rows x 24 B (no padding) = 246 B
      SELECT w.doc_id AS media_id, 'image' AS media_type,
             CAST(246 AS BIGINT) AS n_bytes,
             CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
             CAST(NULL AS BIGINT) AS duration_ms,
             CAST(sum(8*r.r + 8*c.c + 4 + (w0 % 97)) AS BIGINT) AS sum_a,
             CAST(sum(8*r.r + 8*c.c + 4 + (w1 % 97)) AS BIGINT) AS sum_b,
             CAST(sum(8*r.r + 8*c.c + 4 + (w2 % 97)) AS BIGINT) AS sum_c
      FROM w CROSS JOIN range(8) r(r) CROSS JOIN range(8) c(c)
      WHERE w.doc_id % 2 = 0
      GROUP BY w.doc_id
    )
    SELECT * FROM audio UNION ALL SELECT * FROM image
    """,
)
def multimodal_resize_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize/resample stage under an EXACT oracle (r17 — closes
    the decode/feature/resize/frame-sample multimodal quartet):
    documents → real WAV/BMP containers (synth_real_media) →
    ``resize_media`` (2×2 integer box-mean for images, 2× decimation
    to 4 kHz for audio, decode → resample → re-encode through the
    actual codecs) → ``decode_media_checked`` integer census of the
    RESIZED containers. The oracle re-derives every resized
    sample/pixel analytically from md5(text) — decimation is the
    even-index subset of the known waveform; the 2×2 box sum of the
    gradient image divides exactly by 4 — so a hash match proves the
    whole decode→resample→encode→decode round trip is value-exact,
    including the re-encoded containers' header math (2044 / 246
    bytes). Map-only end to end: three mapInPandas stages, no
    shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    media = M.synth_real_media(docs)
    resized = M.resize_media(media, factor=2)
    return M.decode_media_checked(resized)


@query(
    "media_near_dup_real",
    oracle=f"""
    WITH alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 3000000 AS doc_id, text FROM documents
    ),
    w AS (
      SELECT doc_id, {_md5_word_le(0)} AS w0, {_md5_word_le(1)} AS w1,
             {_md5_word_le(2)} AS w2
      FROM (SELECT doc_id, md5(text) AS h FROM alldocs)
    ),
    -- audio (odd ids): the 2000-sample waveform is a pure function of
    -- f = 200 + w0 % 800, so two items share sampled-frame
    -- fingerprints iff f is equal — and then they share exactly the
    -- DISTINCT slice fingerprints one item has. With 4 slices of 500
    -- samples at 8 kHz the inter-slice phase shift is pi*f/8:
    -- f % 16 = 0 makes all 4 slices identical (1 distinct fp),
    -- f % 16 = 8 alternates s, -s, s, -s (2 distinct fps — round-even
    -- is odd-symmetric so negation never collides), anything else
    -- keeps 4 distinct fps.
    audio AS (
      SELECT doc_id AS media_id, 200 + (w0 % 800) AS f
      FROM w WHERE doc_id % 2 = 1
    ),
    apairs AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b,
             CAST(CASE WHEN a.f % 16 = 0 THEN 1
                       WHEN a.f % 16 = 8 THEN 2
                       ELSE 4 END AS BIGINT) AS common_frames
      FROM audio a JOIN audio b
        ON a.f = b.f AND a.media_id < b.media_id
    ),
    -- image (even ids): one pixel-array fingerprint, a pure function
    -- of the (w0, w1, w2) % 97 channel offsets
    image AS (
      SELECT doc_id AS media_id, w0 % 97 AS p0, w1 % 97 AS p1,
             w2 % 97 AS p2
      FROM w WHERE doc_id % 2 = 0
    ),
    ipairs AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b,
             CAST(1 AS BIGINT) AS common_frames
      FROM image a JOIN image b
        ON a.p0 = b.p0 AND a.p1 = b.p1 AND a.p2 = b.p2
           AND a.media_id < b.media_id
    )
    SELECT id_a, id_b, common_frames FROM apairs
    UNION ALL SELECT id_a, id_b, common_frames FROM ipairs
    """,
)
def media_near_dup_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level near-dup over REAL decoded content: the corpus plus
    one copy per document (id + 3·10⁶ — parity-preserving so the copy
    keeps its media type), frames fingerprinted from decoded
    samples/pixels, pairs sharing every sampled frame. Every original
    must pair with its copy; documents whose derived signals coincide
    (same seeded waveform) pair too, deterministically.

    Oracle-backed since r8 in the ``multimodal_decode_parity`` style:
    the oracle re-derives which items MUST share fingerprints (and how
    many distinct slices they share, including the phase-degenerate
    frequencies where slices coincide) analytically from md5(text) —
    it never sees the container bytes or the md5-of-samples
    fingerprints — so a hash-match proves the whole
    encode→decode→fingerprint→join pipeline equals the analytic
    ground truth."""
    docs = load_table(spark, "documents", sf_dir)
    copies = docs.select(
        (F.col("doc_id") + F.lit(3_000_000)).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    frames = M.sample_frames(
        M.synth_real_media(docs.unionByName(copies)), mode="real"
    )
    return M.frame_overlap_pairs(frames, min_common=1)


# ---------------------------------------------------------------------------
# Training-set assembly (operators/assembly.py)
# ---------------------------------------------------------------------------


@query(
    "doc_chunk_windows",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    )
    SELECT t.doc_id,
           u.start // 32 AS chunk_idx,
           u.start AS start_idx,
           len(list_slice(t.toks, u.start + 1,
                          least(u.start + 64, len(t.toks)))) AS n_chunk_tokens,
           array_to_string(list_slice(t.toks, u.start + 1,
                          least(u.start + 64, len(t.toks))), ' ') AS chunk_text
    FROM t, unnest(range(0, len(t.toks), 32)) AS u(start)
    WHERE len(t.toks) > 0
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token / 32-stride context chunking of every
    document — tokenize once, explode start offsets, slice — entirely
    map-only inside the scan stage (expansion bounded by
    window/stride = 2×)."""
    docs = load_table(spark, "documents", sf_dir)
    return X.chunk_token_windows(docs, window=64, stride=32)


def _split_oracle() -> str:
    from pg2kafka_spark.operators.sketch import portable_int_hash_sql

    h = portable_int_hash_sql("doc_id")
    return f"""
    WITH b AS (
      SELECT doc_id, source, ({h}) % 1000 AS split_bucket FROM documents
    )
    SELECT doc_id, source, split_bucket,
           CASE WHEN split_bucket < 900 THEN 'train'
                WHEN split_bucket < 950 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """


@query("doc_train_val_test_split", oracle=_split_oracle())
def doc_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 900/50/50-per-mille train/val/test assignment
    via the portable integer mixer — a pure function of doc_id, so
    the split survives reruns, engine swaps, and executor retries,
    and never needs a persisted assignment table. Map-only at any
    scale (runs inside the scan stage)."""
    from pg2kafka_spark.operators.assembly import train_val_test_split

    docs = load_table(spark, "documents", sf_dir)
    return train_val_test_split(docs).select(
        "doc_id", "source", "split_bucket", "split"
    )


@query(
    "doc_stratified_sample",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(
                   list_filter(string_split_regex(
                     trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ''),
                     x -> x <> ''),
                   x -> CAST(ord(x) AS BIGINT))),
               (a, b) -> (a * 131 + b) % 2147483647
             ) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang, bucket FROM h
    WHERE bucket < CASE WHEN lang = 'en' THEN 25 ELSE 60 END
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling: English downsampled to
    25%, every other language kept at 60%, decided by the content
    rolling-hash (not rand()) so the sample is reproducible across
    runs, engines and task retries. Map-only — the filter runs inside
    the scan stage, no shuffle.
    """
    from pg2kafka_spark.operators.assembly import stratified_hash_sample

    docs = load_table(spark, "documents", sf_dir)
    return stratified_hash_sample(
        docs,
        strata_col="lang",
        hash_col=X.rolling_hash(F.col("text")),
        rates={"en": 25},
        default_rate=60,
    ).select("doc_id", "lang", "bucket")


@query(
    "source_mix_rebalance",
    oracle="""
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    r AS (
      SELECT source,
             least(CAST(1000000 AS BIGINT),
                   ((CAST(sum(n) OVER () AS BIGINT) // count(n) OVER ())
                    * 1000000) // n)
               AS rate_ppm
      FROM c
    )
    SELECT d.doc_id, d.source, r.rate_ppm,
           ((d.doc_id % 2147483647) * 2654435761) % 2147483647 % 1000000
             < r.rate_ppm AS kept
    FROM documents d JOIN r USING (source)
    """,
)
def source_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-dependent corpus mixing: per-source keep rates derived
    from the observed counts (uniform target mix, integer ppm math),
    keep/drop decided by a portable id hash — see
    ``operators/assembly.mix_rebalance``. The rate table broadcasts;
    the keep/drop pass is map-only.
    """
    from pg2kafka_spark.operators.assembly import mix_rebalance

    docs = load_table(spark, "documents", sf_dir)
    return mix_rebalance(docs, strata_col="source").select(
        "doc_id", "source", "rate_ppm", "kept"
    )


@query(
    "doc_pack_assignments",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             length(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) // 4096 AS pack_id
    FROM t
    """,
)
def doc_pack_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: per source shard, docs
    laid end to end in doc_id order; pack_id = exclusive prefix sum of
    token counts div 4096 (continuous fill). One window shuffle on
    source — the sessionization shape. Integer math throughout.
    """
    from pg2kafka_spark.operators.assembly import assign_packs

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", X.token_count(F.col("text")).alias("n_tokens")
    )
    return assign_packs(
        docs,
        token_col="n_tokens",
        order_col="doc_id",
        partition_cols=["source"],
        budget=4096,
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents)
    SELECT doc_id, term, tf, score, rnk FROM (
      SELECT tf.doc_id, tf.term, tf.tf,
             CAST(tf.tf * ((n.n * 1000000) // dfreq.df) AS BIGINT) AS score,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ((n.n * 1000000) // dfreq.df) DESC, tf.term
             ) AS rnk
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ) WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 document keywords by tf-idf with a FIXED-POINT idf
    surrogate (``(N * 1e6) div df`` as integers): the ranking is
    monotone in tf/df like float tf-idf but bit-exact on any engine —
    no ULP-dependent rank flips between Java's and C's log().

    Two uniform-key shuffles (term tf, term df) + one broadcast of the
    1-row corpus count; the per-doc top-k runs as WindowGroupLimit.
    """
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    ncnt = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ncnt))
        .withColumn("score", F.expr("tf * ((n * 1000000) div df)"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "score", "rnk")
    )


@query(
    "doc_unigram_surprisal",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                    ' ')) AS term
      FROM documents
    ),
    cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
    tot AS (SELECT count(*) AS t FROM tok),
    per_doc AS (
      SELECT doc_id, count(*) AS n_tokens,
             CAST(sum(CAST(round(ln(CAST(t AS DOUBLE) / c) / ln(2) * 1000000)
                           AS BIGINT)) AS BIGINT)
               AS s
      FROM tok JOIN cnt USING (term) CROSS JOIN tot
      GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           s // n_tokens AS mean_surprisal_microbits,
           s // n_tokens BETWEEN 4880000 AND 4920000 AS kept
    FROM per_doc
    """,
)
def doc_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality gate: score every document by
    its mean token surprisal under the corpus's own unigram
    distribution (fixed-point micro-bits — exact integer sums, no
    order-dependent double aggregation) and keep the middle of the
    distribution. The band [4.88, 4.92] bits is fit to this fixture's
    ~4.9-bit small-vocab corpus; a real deploy re-fits it to the
    corpus percentiles."""
    docs = load_table(spark, "documents", sf_dir)
    return X.unigram_surprisal(docs)


@query(
    "decontamination_check",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ),
    tg AS (
      SELECT DISTINCT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(
                   list_filter(string_split_regex(g.s, ''), x -> x <> ''),
                   x -> CAST(ord(x) AS BIGINT))),
               (a, b) -> (a * 131 + b) % 2147483647) AS gh
      FROM t, unnest(list_transform(range(1, len(toks) - 6),
             j -> array_to_string(toks[j:j+7], ' '))) AS g(s)
      WHERE len(toks) >= 8
    ),
    eg AS (
      SELECT DISTINCT
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(
                   list_filter(string_split_regex(g.s, ''), x -> x <> ''),
                   x -> CAST(ord(x) AS BIGINT))),
               (a, b) -> (a * 131 + b) % 2147483647) AS gh
      FROM (SELECT doc_id, toks[1:15] AS toks FROM t WHERE doc_id % 20 = 0) e,
           unnest(list_transform(range(1, len(toks) - 6),
             j -> array_to_string(toks[j:j+7], ' '))) AS g(s)
      WHERE len(toks) >= 8
    )
    SELECT tg.doc_id, CAST(count(DISTINCT tg.gh) AS BIGINT) AS n_shared
    FROM tg JOIN eg ON tg.gh = eg.gh
    GROUP BY tg.doc_id
    """,
)
def decontamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.contamination_hits):
    every 20th document's first-15-token snippet plays the role of a
    leaked eval benchmark; training docs sharing any verbatim token
    8-gram with a snippet are flagged with their distinct shared-gram
    count. The eval side broadcasts (benchmarks are MBs against a
    100 TB corpus), the corpus side is one linear explode + map-side
    join + one uniform-key count — fully oracle-checked through the
    portable rolling-hash family."""
    from pg2kafka_spark.operators.text import normalized_text

    docs = load_table(spark, "documents", sf_dir)
    ev = docs.filter(F.col("doc_id") % 20 == 0).select(
        "doc_id",
        F.array_join(
            F.slice(F.split(normalized_text(F.col("text")), " "), 1, 15), " "
        ).alias("text"),
    )
    return D.contamination_hits(docs, ev, n=8)


_JACCARD_EDGES = """
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, length(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      FROM t
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    prs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a, id_b FROM prs
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.1
    ),
    und AS (SELECT id_a AS s, id_b AS d FROM edges
            UNION ALL SELECT id_b, id_a FROM edges),
    reach AS (
      SELECT s, d FROM und
      UNION
      SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s
    ),
    comp AS (SELECT s AS doc_id, least(s, min(d)) AS component_id
             FROM reach GROUP BY s)
"""


@query(
    "near_dup_components",
    oracle="WITH RECURSIVE "
    + _JACCARD_EDGES
    + """
    SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster labelling: exact shingle-Jaccard pairs
    (threshold 0.1) → connected components by min-label propagation
    (operators/graph.py) → every document labelled with the min doc_id
    reachable through the near-dup graph; edge-less docs are their own
    singleton component. The oracle reproduces the fixpoint with a
    recursive-CTE transitive closure, so the iterative Spark loop is
    hash-checked end-to-end — rare for an iterative algorithm.

    Scale: the component loop runs on the post-discovery PAIR list
    (tiny vs the corpus); at 100 TB the pair source is
    ``minhash_lsh_pairs`` instead of the exact quadratic verifier,
    same downstream shape.
    """
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.jaccard_pairs(docs, threshold=0.1).select("id_a", "id_b")
    comps = G.connected_components(pairs, node_col="doc_id")
    return G.components_with_isolates(
        comps, docs.select("doc_id"), node_col="doc_id"
    )


@query(
    "near_dup_components_star",
    oracle="WITH RECURSIVE "
    + _JACCARD_EDGES
    + """
    SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def near_dup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME component labelling as ``near_dup_components`` —
    identical oracle — computed by the diameter-robust
    large-star/small-star algorithm (Kiveris et al. SoCC'14,
    operators/graph.connected_components_star): O(log² n) rounds on
    ANY graph shape vs min-label propagation's O(diameter). The
    round-6 verdict named this the scale escape hatch for
    pathological chains; hash-matching both variants against one
    recursive-CTE closure pins their equivalence."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.jaccard_pairs(docs, threshold=0.1).select("id_a", "id_b")
    comps = G.connected_components_star(pairs, node_col="doc_id")
    return G.components_with_isolates(
        comps, docs.select("doc_id"), node_col="doc_id"
    )


@query(
    "near_dup_components_incremental",
    oracle="WITH RECURSIVE "
    + _JACCARD_EDGES
    + """
    SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def near_dup_components_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MAINTAINED duplicate-cluster labels (r16): yesterday's label
    table (components over pairs among doc_id < 300) folded with
    today's batch (every pair touching a doc_id ≥ 300) through
    ``operators/graph.incremental_components`` — the historical pair
    graph is never re-read; its labels stand in as star edges. The
    oracle is the FULL-graph recursive closure — the SAME oracle as
    ``near_dup_components`` — so hash-matching proves warm-start ≡
    cold rebuild, the incremental contract the dedup store and
    retention partials carry, now for the graph stage.

    Scale: the daily fold joins |V| star edges + |batch| pairs —
    independent of historical pair count; rounds track how many old
    clusters the batch bridges, not old cluster diameters (stars have
    diameter ≤ 2)."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.jaccard_pairs(docs, threshold=0.1).select("id_a", "id_b")
    cut = 300  # yesterday: doc_id < 300; today's ingest: the rest
    old_pairs = pairs.filter(
        (F.col("id_a") < cut) & (F.col("id_b") < cut)
    )
    new_pairs = pairs.filter(
        (F.col("id_a") >= cut) | (F.col("id_b") >= cut)
    )
    labels_old = G.components_with_isolates(
        G.connected_components(old_pairs, node_col="doc_id"),
        docs.filter(F.col("doc_id") < cut).select("doc_id"),
        node_col="doc_id",
    )
    comps = G.incremental_components(
        labels_old, new_pairs, node_col="doc_id"
    )
    return G.components_with_isolates(
        comps, docs.select("doc_id"), node_col="doc_id"
    )


def _ensure_components_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the MAINTAINED label store once per session per
    source — bootstrap on yesterday's pairs (both ids < 300, the same
    split the incremental query uses), then fold today's pairs in two
    batches through ``fold_pairs_batch`` — the exact per-batch work
    the streaming loop (streaming/graphstore.py) does, pinned equal
    to it by tests/test_graph.py. Same source-identity keying and
    _COMPLETE-marker skip gate as the ANN stores (r16 conventions)."""
    import os
    import tempfile

    from pg2kafka_spark.catalog import source_signature, store_build_lock
    from pg2kafka_spark.streaming.graphstore import fold_pairs_batch

    h = source_signature(sf_dir, "documents")
    root = os.path.join(tempfile.gettempdir(), f"pg2kafka_cclabels_{h}")
    # Marker lives INSIDE the store root (the _ensure_ann_index
    # convention) so wiping the root atomically clears the skip gate —
    # a sibling marker would survive an rm -rf of the store and make
    # later sessions serve a labels path that no longer exists.
    marker = os.path.join(root, "_COMPLETE")
    labels_dir = os.path.join(root, "labels")
    with store_build_lock(root):
        if os.path.exists(marker):
            return labels_dir
        if os.path.isdir(root):
            import shutil

            shutil.rmtree(root)
        os.makedirs(root, exist_ok=True)
        docs = load_table(spark, "documents", sf_dir)
        pairs = D.jaccard_pairs(docs, threshold=0.1).select(
            "id_a", "id_b"
        )
        cut = 300
        old = pairs.filter((F.col("id_a") < cut) & (F.col("id_b") < cut))
        # guarded: a RAW localCheckpoint here can land inside a
        # concurrent _checkpoint's before/after id-diff (bench warms
        # queries from a thread pool) — the other thread then adopts
        # the RDD id and a later release unpersists it mid-build
        # (observed: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND in the r19
        # baseline warmup)
        new = G.guarded_local_checkpoint(
            pairs.filter((F.col("id_a") >= cut) | (F.col("id_b") >= cut))
        )
        # two "days" of arrivals, split deterministically
        day1 = new.filter((F.col("id_a") + F.col("id_b")) % 2 == 0)
        day2 = new.filter((F.col("id_a") + F.col("id_b")) % 2 == 1)
        for batch in (old, day1, day2):
            fold_pairs_batch(spark, batch, labels_dir)
        with open(marker, "w"):
            pass
        return labels_dir


@query(
    "near_dup_components_served",
    oracle="WITH RECURSIVE "
    + _JACCARD_EDGES
    + """
    SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def near_dup_components_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MAINTAINED label store SERVED (r16): component labels read
    from the at-rest table the streaming fold keeps up
    (streaming/graphstore.py) — bootstrap on yesterday's pairs, two
    batch folds for today's arrivals — this query pays only the serve
    path: one labels scan + the isolate join. Hash-checked against
    the FULL-graph recursive closure, which proves the whole loop
    (bootstrap → fold → fold → serve) equals the one-pass components
    build — the same bootstrap→accrete→serve evidence shape as
    ``ann_ivf_served_incremental`` and ``weekly_retention_served``.

    Scale: the serve reads |V| label rows regardless of how many pair
    batches ever folded; the folds' cost tracks arrivals (measured,
    BASELINE.md round 16: a flat 4.5–5.2 s warm fold per 100k-pair
    batch at 200k nodes, against a cold rebuild that grew ~3× with
    8× the pair history)."""
    docs = load_table(spark, "documents", sf_dir)
    labels_dir = _ensure_components_store(spark, sf_dir)
    comps = spark.read.parquet(labels_dir).withColumnRenamed(
        "node", "doc_id"
    )
    return G.components_with_isolates(
        comps, docs.select("doc_id"), node_col="doc_id"
    )


@query(
    "near_dup_canonical",
    oracle="WITH RECURSIVE "
    + _JACCARD_EDGES
    + """,
    full_t AS (
      SELECT d.doc_id, d.n_chars,
             coalesce(c.component_id, d.doc_id) AS component_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, component_id,
           count(*) OVER (PARTITION BY component_id) AS comp_size,
           (row_number() OVER (PARTITION BY component_id
                               ORDER BY n_chars DESC, doc_id ASC)) = 1
             AS is_canonical
    FROM full_t
    """,
)
def near_dup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per duplicate cluster: keep the
    longest document (tiebreak: smallest doc_id) of each connected
    component — the component-wise formulation that pair-wise keep
    lists get wrong on transitive chains (see operators/graph.py).
    Single window pass over the component key after labelling.
    """
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.jaccard_pairs(docs, threshold=0.1).select("id_a", "id_b")
    comps = G.connected_components(pairs, node_col="doc_id")
    labeled = G.components_with_isolates(
        comps, docs.select("doc_id", "n_chars"), node_col="doc_id"
    )
    return G.canonical_per_component(
        labeled, [F.col("n_chars").desc(), F.col("doc_id").asc()]
    ).select("doc_id", "component_id", "comp_size", "is_canonical")


@query(
    "near_dup_canonical_served",
    oracle="WITH RECURSIVE "
    + _JACCARD_EDGES
    + """,
    full_t AS (
      SELECT d.doc_id, d.n_chars,
             coalesce(c.component_id, d.doc_id) AS component_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, component_id,
           count(*) OVER (PARTITION BY component_id) AS comp_size,
           (row_number() OVER (PARTITION BY component_id
                               ORDER BY n_chars DESC, doc_id ASC)) = 1
             AS is_canonical
    FROM full_t
    """,
)
def near_dup_canonical_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Canonical-document selection SERVED from the maintained label
    store (r17, r16 verdict item 6): the keep-list decision a daily
    pipeline actually reads — ``canonical_per_component`` composed
    over the at-rest labels the streaming fold keeps up
    (streaming/graphstore.py), so the serve pays one labels scan, the
    isolate join, and ONE window pass on component_id; the historical
    pair log is never touched. Same rank spelling as
    ``near_dup_canonical`` and the same recursive-closure oracle, so
    the hash match proves store-served canonicals ≡ recompute-from-
    scratch canonicals end to end.

    Scale: |V| label rows + one uniform component_id shuffle,
    independent of how many pair batches ever folded — measured at
    |V|=200k through an 8× pair-history growth: serve flat 1.5–2.8 s
    while the store-less recompute grows to ~18 s (BASELINE.md round
    18, canonical-serve axis)."""
    docs = load_table(spark, "documents", sf_dir)
    labels_dir = _ensure_components_store(spark, sf_dir)
    comps = spark.read.parquet(labels_dir).withColumnRenamed(
        "node", "doc_id"
    )
    labeled = G.components_with_isolates(
        comps, docs.select("doc_id", "n_chars"), node_col="doc_id"
    )
    return G.canonical_per_component(
        labeled, [F.col("n_chars").desc(), F.col("doc_id").asc()]
    ).select("doc_id", "component_id", "comp_size", "is_canonical")


def _leakage_free_split_oracle() -> str:
    from pg2kafka_spark.operators.sketch import portable_int_hash_sql

    bucket = f"({portable_int_hash_sql('component_id')} % 1000)"
    return (
        "WITH RECURSIVE "
        + _JACCARD_EDGES
        + f"""
    , labeled AS (
      SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    bucketed AS (
      SELECT doc_id, component_id,
             CAST({bucket} AS BIGINT) AS split_bucket
      FROM labeled
    )
    SELECT doc_id, component_id, split_bucket,
           CASE WHEN split_bucket < 900 THEN 'train'
                WHEN split_bucket < 950 THEN 'val'
                ELSE 'test' END AS split
    FROM bucketed
    """
    )


@query("leakage_free_split", oracle=_leakage_free_split_oracle())
def leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE train/val/test split: the leakage unit is the
    near-duplicate CLUSTER, not the document. Hashing the doc id
    (``doc_train_val_test_split``) puts near-duplicates of training
    documents into eval — the contamination path behind inflated
    benchmark numbers (the Lee et al. ACL'22 dedup-eval argument);
    hashing the connected-component id keeps every cluster in ONE
    split by construction. Pipeline: exact Jaccard pairs (at 100 TB:
    the LSH candidate set, same downstream shape) → min-label
    components → portable-mixer hash of the component id → 900/50/50
    per-mille bands. The component loop runs on the pair list (tiny
    vs the corpus); the split assignment itself is map-side. The
    oracle reproduces components via the recursive-CTE closure and
    the band math from the shared mixer constants."""
    from pg2kafka_spark.operators.sketch import portable_int_hash

    docs = load_table(spark, "documents", sf_dir)
    pairs = D.jaccard_pairs(docs, threshold=0.1).select("id_a", "id_b")
    comps = G.connected_components(pairs, node_col="doc_id")
    labeled = G.components_with_isolates(
        comps, docs.select("doc_id"), node_col="doc_id"
    )
    bucket = F.pmod(
        portable_int_hash(F.col("component_id")), F.lit(1000)
    ).cast("bigint")
    return labeled.select(
        "doc_id",
        "component_id",
        bucket.alias("split_bucket"),
    ).withColumn(
        "split",
        F.when(F.col("split_bucket") < 900, F.lit("train"))
        .when(F.col("split_bucket") < 950, F.lit("val"))
        .otherwise(F.lit("test")),
    )


@query(
    "doc_duplicate_ngrams",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ),
    tg AS (
      SELECT DISTINCT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(
                   list_filter(string_split_regex(g.s, ''), x -> x <> ''),
                   x -> CAST(ord(x) AS BIGINT))),
               (a, b) -> (a * 131 + b) % 2147483647) AS gh
      FROM t, unnest(list_transform(range(1, len(toks) - 6),
             j -> array_to_string(toks[j:j+7], ' '))) AS g(s)
      WHERE len(toks) >= 8
    ),
    dg AS (SELECT gh FROM tg GROUP BY gh HAVING count(*) > 1),
    per AS (SELECT doc_id, count(*) AS n_grams FROM tg GROUP BY doc_id),
    dup AS (
      SELECT tg.doc_id, count(*) AS n_dup_grams
      FROM tg JOIN dg USING (gh) GROUP BY tg.doc_id
    )
    SELECT p.doc_id, p.n_grams,
           coalesce(d.n_dup_grams, CAST(0 AS BIGINT)) AS n_dup_grams,
           coalesce(d.n_dup_grams, CAST(0 AS BIGINT)) * 1.0 / p.n_grams
             AS dup_gram_frac
    FROM per p LEFT JOIN dup d USING (doc_id)
    """,
)
def doc_duplicate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring self-overlap per document (Lee et al. ACL'22
    style): distinct token 8-grams shared verbatim with any OTHER
    document, as a count + fraction for a gating threshold. See
    ``operators/dedup.duplicate_ngram_stats`` for the skew-safe
    two-shuffle shape. Oracle-checked through the portable
    rolling-hash family (same CTE as ``decontamination_check``).
    """
    docs = load_table(spark, "documents", sf_dir)
    return D.duplicate_ngram_stats(docs, n=8)


@query(
    "minhash_signatures_portable",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_transform(range(1, length(toks) - 1),
               j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2]) AS shs
      FROM t WHERE length(toks) >= 3
    ),
    hashed AS (
      SELECT doc_id,
             list_transform(shs, s ->
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(
                     list_filter(string_split_regex(s, ''), x -> x <> ''),
                     x -> CAST(ord(x) AS BIGINT))),
                 (a, b) -> (a * 131 + b) % 2147483647)) AS xs
      FROM sh
    )
    SELECT doc_id, u.i AS i,
           list_min(list_transform(xs,
             x -> ((2*u.i+1)*x + (u.i*2654435761) % 2147483647) % 2147483647
           )) AS minhash
    FROM hashed CROSS JOIN (SELECT unnest(range(8)) AS i) u
    """,
)
def minhash_signatures_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature math under exact oracle check: a portable
    universal-hash family over rolling-hashed shingles, bit-identical
    between Spark column algebra and DuckDB list functions — the
    missing hash-checkable twin of the xxhash/numpy discovery kernel
    (``minhash_lsh_pairs``, rows-only). Map-only plan.
    """
    docs = load_table(spark, "documents", sf_dir)
    return D.minhash_signatures_portable(docs)


_ROLL = """list_reduce(
  list_prepend(CAST(0 AS BIGINT),
    list_transform(
      list_filter(string_split_regex(
        trim(regexp_replace(lower(s), '\\s+', ' ', 'g')), ''),
        x -> x <> ''),
      x -> CAST(ord(x) AS BIGINT))),
  (a, b) -> (a * 131 + b) % 2147483647)"""

_SIMHASH_BIT_TERMS = " + ".join(
    f"CASE WHEN 2 * list_sum(list_transform(xs, x -> ((x >> {i}) & 1)))"
    f" > length(xs) THEN {1 << i} ELSE 0 END"
    for i in range(D.PORTABLE_SIMHASH_BITS)
)


@query(
    "simhash_portable",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    hashed AS (
      SELECT doc_id, list_transform(toks, s -> {_ROLL}) AS xs
      FROM t WHERE length(toks) >= 1
    )
    SELECT doc_id,
           CAST(({_SIMHASH_BIT_TERMS}) AS BIGINT) AS simhash,
           CAST(length(xs) AS BIGINT) AS n_tokens
    FROM hashed
    """,
)
def simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bit-vote semantics under exact oracle check: portable
    rolling hash per token occurrence, bit i set iff more than half
    the tokens have bit i set — bit-identical between Spark column
    algebra and DuckDB list functions. The hash-checkable twin of the
    xxhash/Arrow discovery kernel (``simhash_near_pairs``, rows-only).
    Map-only plan."""
    docs = load_table(spark, "documents", sf_dir)
    return D.simhash_portable(docs)


@query(
    "training_corpus_assembly",
    oracle="""
    WITH q AS (
      SELECT doc_id, source, text,
             length(string_split(text, ' ')) AS n_tokens,
             length(list_distinct(string_split(text, ' '))) * 1.0
               / length(string_split(text, ' ')) AS ttr,
             length(list_filter(string_split(text,' '),
                    x -> list_contains(['the','a','and','scan','table'], x))) AS hits_en,
             length(list_filter(string_split(text,' '),
                    x -> list_contains(['data','row','query','filter'], x))) AS hits_es,
             length(list_filter(string_split(text,' '),
                    x -> list_contains(['join','merge','stream','window'], x))) AS hits_de
      FROM documents
    ),
    gated AS (
      SELECT doc_id, source, text, n_tokens FROM q
      WHERE n_tokens >= 30 AND ttr >= 0.3
        AND (hits_en > 0 OR hits_es > 0 OR hits_de > 0)
    ),
    exact AS (
      SELECT * FROM gated WHERE doc_id IN (
        SELECT min(doc_id) FROM gated
        GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
    ),
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM exact),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, length(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      FROM t
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    dups AS (
      SELECT DISTINCT id_b FROM pairs
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5
    ),
    kept AS (
      SELECT doc_id, source, n_tokens FROM exact
      WHERE doc_id NOT IN (SELECT id_b FROM dups)
    )
    SELECT doc_id, source, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) // 4096 AS pack_id
    FROM kept
    """,
)
def training_corpus_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-preparation flagship: every pipeline
    stage composed in execution order —

    1. cheap map-only gates first (token count ≥ 30, type-token
       ratio ≥ 0.3, language-ID hit), pruning before anything
       shuffles;
    2. exact dedup (one uniform md5-key shuffle) on the survivors;
    3. near-dup keep-list (shingle-Jaccard ≥ 0.5 verification pairs,
       greedy min-id keep) on what remains — the quadratic stage runs
       on the SMALLEST corpus, which is the point of the ordering;
    4. sequence packing (per-source prefix-sum window) over the clean
       set.

    At 100 TB stage 3's pair source is the LSH candidates
    (``minhash_lsh_pairs``) instead of the exact join — same keep
    rule; the exact formulation is what makes this oracle-checkable.
    """
    from pg2kafka_spark.operators.assembly import assign_packs

    docs = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    n_tok = X.token_count(t)
    ttr = X.unique_token_count(t) * 1.0 / n_tok
    gated = docs.filter(
        (n_tok >= 30) & (ttr >= 0.3) & (X.predict_language(t) != "und")
    )
    exact = D.exact_dedup(gated)
    dups = (
        D.jaccard_pairs(exact, threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    kept = exact.join(dups, "doc_id", "left_anti").select(
        "doc_id", "source", n_tok.alias("n_tokens")
    )
    return assign_packs(
        kept,
        token_col="n_tokens",
        order_col="doc_id",
        partition_cols=["source"],
        budget=4096,
    )


@query(
    "doc_segment_scrub",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ),
    seg AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS seg_idx,
             array_to_string(toks[u.i*8+1 : u.i*8+8], ' ') AS seg
      FROM t, unnest(range(CAST(ceil(len(toks)/8.0) AS BIGINT))) AS u(i)
    ),
    dup AS (
      SELECT md5(seg) AS sfp FROM seg
      GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
    ),
    marked AS (
      SELECT s.doc_id, s.seg_idx, s.seg, (d.sfp IS NOT NULL) AS is_dup
      FROM seg s LEFT JOIN dup d ON md5(s.seg) = d.sfp
    )
    SELECT doc_id,
           count(*) AS n_segments,
           CAST(count(*) FILTER (WHERE is_dup) AS BIGINT) AS n_removed,
           md5(coalesce(
             string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE NOT is_dup),
             '')) AS scrubbed_fp,
           CAST(coalesce(
             len(string_agg(seg, ' ' ORDER BY seg_idx)
                 FILTER (WHERE NOT is_dup)), 0) AS BIGINT) AS n_chars_kept
    FROM marked GROUP BY doc_id
    """,
)
def doc_segment_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-segment removal (RefinedWeb line-dedup
    on continuous text): 8-token segments appearing verbatim in >= 2
    distinct documents are scrubbed from every document and the
    survivors reassembled in order — emitted as per-doc scrubbed
    fingerprint + kept/removed counts. See
    ``operators/dedup.duplicated_segment_scrub`` for the 2-shuffle
    scale analysis. Fully hash-checked including the reassembled
    text (via its md5)."""
    docs = load_table(spark, "documents", sf_dir)
    return D.duplicated_segment_scrub(docs, seg_words=8, min_docs=2)


@query(
    "decontamination_scrub",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ),
    seg AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS seg_idx,
             array_to_string(toks[u.i*8+1 : u.i*8+8], ' ') AS seg
      FROM t, unnest(range(CAST(ceil(len(toks)/8.0) AS BIGINT))) AS u(i)
    ),
    eg AS (
      SELECT DISTINCT md5(g.s) AS sfp
      FROM (SELECT toks[1:15] AS toks FROM t WHERE doc_id % 20 = 0) e,
           unnest(list_transform(range(1, len(toks) - 6),
                  j -> array_to_string(toks[j:j+7], ' '))) AS g(s)
      WHERE len(toks) >= 8
    ),
    marked AS (
      SELECT s.doc_id, s.seg_idx, s.seg, (d.sfp IS NOT NULL) AS is_dup
      FROM seg s LEFT JOIN eg d ON md5(s.seg) = d.sfp
    )
    SELECT doc_id,
           count(*) AS n_segments,
           CAST(count(*) FILTER (WHERE is_dup) AS BIGINT) AS n_removed,
           md5(coalesce(
             string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE NOT is_dup),
             '')) AS scrubbed_fp,
           CAST(coalesce(
             len(string_agg(seg, ' ' ORDER BY seg_idx)
                 FILTER (WHERE NOT is_dup)), 0) AS BIGINT) AS n_chars_kept
    FROM marked GROUP BY doc_id
    """,
)
def decontamination_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination (r8) — the REMOVAL
    counterpart of ``decontamination_check``: every 8-token segment
    of a training doc that appears verbatim in the eval set (the
    same every-20th-doc first-15-token snippet fixture) is scrubbed
    and the survivors reassembled, emitted as the per-doc scrubbed
    fingerprint + counts. Train side segments non-overlapping
    (expansion 1×); eval side enumerates OVERLAPPING grams so
    matching is alignment-free; the distinct eval-gram fingerprints
    broadcast. See ``operators/dedup.decontamination_scrub``."""
    from pg2kafka_spark.operators.text import normalized_text

    docs = load_table(spark, "documents", sf_dir)
    ev = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.array_join(
            F.slice(F.split(normalized_text(F.col("text")), " "), 1, 15), " "
        ).alias("text")
    )
    return D.decontamination_scrub(docs, ev)


def _source_cap_oracle(cap: int = 50) -> str:
    from pg2kafka_spark.operators.sketch import portable_int_hash_sql

    h = portable_int_hash_sql("doc_id")
    return f"""
    SELECT doc_id, source, key_rank FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source ORDER BY ({h}), doc_id) AS key_rank
      FROM documents)
    WHERE key_rank <= {cap}
    """


@query("source_capped_sample", oracle=_source_cap_oracle())
def source_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (the C4/RefinedWeb ingestion guard
    against template-heavy domains): keep at most 50 docs per
    ``source``, chosen by the portable content-hash order. The Spark
    side runs the exact salted two-phase top-cap
    (``operators/assembly.per_key_cap``) so a hot domain never
    concentrates in one task; the oracle is the single-window
    spelling — both produce identical rows AND identical per-key
    ranks, which the hash check pins."""
    from pg2kafka_spark.operators.assembly import per_key_cap

    docs = load_table(spark, "documents", sf_dir)
    return per_key_cap(
        docs, key_col="source", id_col="doc_id", cap=50
    ).select("doc_id", "source", F.col("key_rank").cast("long").alias("key_rank"))


def _temperature_sample_oracle(target_rows: int = 200) -> str:
    from pg2kafka_spark.operators.sketch import portable_int_hash_sql

    h = portable_int_hash_sql("d.doc_id")
    return f"""
    WITH c AS (SELECT source, count(*) AS n_stratum
               FROM documents GROUP BY source),
    w AS (SELECT source, n_stratum,
            CAST(floor(sqrt(CAST(n_stratum AS DOUBLE)) * 1000000.0)
                 AS BIGINT) AS w
          FROM c),
    q AS (SELECT source, n_stratum,
            CAST((CAST({target_rows} AS BIGINT) * w)
                 // CAST(sum(w) OVER () AS BIGINT) AS BIGINT) AS quota
          FROM w)
    SELECT doc_id, source, n_stratum, quota, key_rank FROM (
      SELECT d.doc_id, d.source, q.n_stratum, q.quota,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY ({h}), d.doc_id) AS key_rank
      FROM documents d JOIN q USING (source))
    WHERE key_rank <= quota
    """


@query("source_temperature_sample", oracle=_temperature_sample_oracle())
def source_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Square-root temperature source mixing (mBERT/XLM-R
    exponent-smoothed sampling, alpha = 0.5): each source's quota of a
    200-row budget is proportional to sqrt(n_source) — large sources
    downweighted, the tail boosted — and WHICH rows fill a quota is
    the portable content-hash order. Integer-exact cross-engine
    because IEEE sqrt is correctly rounded (the reason alpha is fixed
    at 0.5). Spark runs the exact salted two-phase per-key rank; the
    oracle is the single-window spelling — identical rows AND ranks.
    See ``operators/assembly.temperature_sample``."""
    from pg2kafka_spark.operators.assembly import temperature_sample

    docs = load_table(spark, "documents", sf_dir)
    return temperature_sample(docs, "source", target_rows=200)


def _training_order_oracle(n_shards: int = 8) -> str:
    from pg2kafka_spark.operators.sketch import portable_int_hash_sql

    h = portable_int_hash_sql("doc_id")
    return f"""
    SELECT doc_id, shard, position FROM (
      SELECT doc_id, CAST(h % {n_shards} AS BIGINT) AS shard,
             row_number() OVER (PARTITION BY h % {n_shards}
                                ORDER BY h, doc_id) AS position
      FROM (SELECT doc_id, ({h}) AS h FROM documents))
    """


@query("doc_training_order", oracle=_training_order_oracle())
def doc_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every document
    gets a ``(shard, position)`` — shard by portable-hash residue
    (uniform, so the one exchange is balanced by construction),
    position by (hash, id) rank within the shard. Pseudo-random
    w.r.t. any natural key yet a pure function of the data, so
    retries and reruns reproduce the identical epoch order; no
    global sort ever materializes (positions are per-shard). See
    ``operators/assembly.training_order_assign``."""
    from pg2kafka_spark.operators.assembly import training_order_assign

    docs = load_table(spark, "documents", sf_dir)
    return training_order_assign(docs, n_shards=8)


def _zorder_oracle(bits: int = 8, bucket_bits: int = 6) -> str:
    from pg2kafka_spark.operators.layout import quantize_sql, z_value_sql

    qd = quantize_sql("day", "dlo", "dhi", bits)
    qk = quantize_sql("k", "klo", "khi", bits)
    z = z_value_sql("qd", "qk", bits)
    shift = 2 * bits - bucket_bits
    return f"""
    WITH base AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01', l_shipdate) AS BIGINT)
               AS day,
             CAST(l_partkey AS BIGINT) AS k
      FROM lineitem
    ),
    s AS (
      SELECT min(day) AS dlo, max(day) AS dhi,
             min(k) AS klo, max(k) AS khi
      FROM base
    ),
    q AS (
      SELECT day, k, dlo, dhi, klo, khi,
             {qd} AS qd, {qk} AS qk
      FROM base, s
    ),
    b AS (
      SELECT ({z} >> {shift}) AS bucket, day, k, dlo, dhi, klo, khi FROM q
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           count(*) AS n_rows,
           min(day) AS day_lo, max(day) AS day_hi,
           min(k) AS key_lo, max(k) AS key_hi,
           (max(day) - min(day) + 1) / (min(dhi) - min(dlo) + 1)
             AS day_extent_frac,
           (max(k) - min(k) + 1) / (min(khi) - min(klo) + 1)
             AS key_extent_frac
    FROM b GROUP BY 1
    """


@query("zorder_layout_stats", oracle=_zorder_oracle())
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout quality over lineitem's
    (ship-day, partkey) plane: quantize both dims to 8 bits against
    their global extents, interleave, split the z-space into 64
    fixed-width buckets (deterministic stand-ins for output files),
    and measure each bucket's min/max envelope per dimension as a
    fraction of the global span — the multiplicative 2-D scan-pruning
    a `ZORDER BY`-style rewrite buys at 100 TB, measured rather than
    asserted. Integer math end to end (DECIMAL floor-div for the
    quantizer); the oracle SQL is GENERATED from the same bit
    constants (``operators/layout.z_value_sql``) so the engines
    cannot drift."""
    from pg2kafka_spark.operators import layout as L

    li = load_table(spark, "lineitem", sf_dir)
    day = F.datediff(F.col("l_shipdate"), F.lit("1970-01-01"))
    return L.zorder_bucket_stats(
        li, day=day, key=F.col("l_partkey"), bits=8, bucket_bits=6
    )


@query(
    "doc_pack_spans_strict",
    oracle="""
    WITH d AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    s AS (
      SELECT source, doc_id, n,
             CAST(coalesce(sum(n) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s
      FROM d
    ),
    e AS (
      SELECT source, doc_id, n, s, CAST(u.p AS BIGINT) AS pack_id
      FROM s, unnest(range(s // 512, (s + n - 1) // 512 + 1)) AS u(p)
      WHERE n > 0
    )
    SELECT source, pack_id, doc_id,
           greatest(s, pack_id*512) - s AS doc_tok_start,
           greatest(s, pack_id*512) - pack_id*512 AS pack_tok_start,
           least(s + n, pack_id*512 + 512) - greatest(s, pack_id*512)
             AS span_tokens
    FROM e
    """,
)
def doc_pack_spans_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict token-level sequence packing of documents into
    512-token training sequences per source shard: every pack is
    exactly full (boundary docs are split into spans), emitted as the
    (pack, doc, offsets, length) slice table a dataloader consumes.
    See ``operators/assembly.strict_pack_spans`` for the one-window +
    bounded-explode scale shape. Integer algebra end to end —
    hash-checked against the same arithmetic in DuckDB."""
    from pg2kafka_spark.operators.assembly import strict_pack_spans

    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "source", "doc_id", X.token_count(F.col("text")).alias("n_tokens")
    )
    return strict_pack_spans(
        d,
        token_col="n_tokens",
        order_col="doc_id",
        partition_cols=["source"],
        budget=512,
    )


def _incr_near_dup_oracle(
    split: int = 250, k: int = 8, band_rows: int = 2, threshold: float = 0.5,
    cap: int = 64,
) -> str:
    from pg2kafka_spark.operators.dedup import (
        PORTABLE_MINHASH_MOD as MOD,
        PORTABLE_MINHASH_SALT as SALT,
    )

    roll = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(list_filter(string_split_regex(s, ''), x -> x <> ''),"
        " x -> CAST(ord(x) AS BIGINT))),"
        f" (a, b) -> (a * 131 + b) % {MOD})"
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ),
    sh3 AS (
      SELECT doc_id,
             list_transform(range(1, length(toks) - 1),
               j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2]) AS shs
      FROM t WHERE length(toks) >= 3
    ),
    hashed AS (
      SELECT doc_id, list_transform(shs, s -> {roll}) AS xs FROM sh3
    ),
    mh AS (
      SELECT doc_id, u.i AS i,
             list_min(list_transform(xs,
               x -> ((2*u.i+1)*x + (u.i*{SALT}) % {MOD}) % {MOD})) AS minhash
      FROM hashed CROSS JOIN (SELECT unnest(range({k})) AS i) u
    ),
    bands AS (
      SELECT doc_id, i // {band_rows} AS band,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i) AS bkey
      FROM mh GROUP BY 1, 2
    ),
    bcap AS (
      SELECT band, bkey FROM bands WHERE doc_id < {split}
      GROUP BY band, bkey HAVING count(*) <= {cap}
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS batch_id, s.doc_id AS store_id
      FROM bands b JOIN bands s ON b.band = s.band AND b.bkey = s.bkey
      JOIN bcap c ON c.band = s.band AND c.bkey = s.bkey
      WHERE b.doc_id >= {split} AND s.doc_id < {split}
    ),
    shd AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, length(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      FROM t
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
    com AS (
      SELECT c.batch_id, c.store_id, count(*) AS common
      FROM cand c
      JOIN shd a ON a.doc_id = c.batch_id
      JOIN shd b2 ON b2.doc_id = c.store_id AND b2.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT batch_id, store_id, common, sb.n AS n_batch, ss.n AS n_store,
           common * 1.0 / (sb.n + ss.n - common) AS jaccard
    FROM com
    JOIN sizes sb ON sb.doc_id = batch_id
    JOIN sizes ss ON ss.doc_id = store_id
    WHERE common * 1.0 / (sb.n + ss.n - common) >= {threshold}
    """


@query("incremental_near_dup_batch", oracle=_incr_near_dup_oracle())
def incremental_near_dup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest NEAR-dup discovery (fuzzy sibling of
    ``incremental_dedup_batch``): docs with id < 250 are the
    maintained corpus, the rest the incoming batch; portable-minhash
    LSH bands join batch keys against the store's band-key table and
    exact shingle-Jaccard >= 0.5 verifies the survivors. The entire
    composition — signature math, banding, candidate recall, and
    verification — is hash-checked against the same arithmetic in
    DuckDB (``operators/dedup.incremental_near_dup``)."""
    docs = load_table(spark, "documents", sf_dir)
    store = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250)
    return D.incremental_near_dup(store, batch, threshold=0.5)


@query(
    "embedding_ann_ivf_sq8",
    oracle=_COSINE_ORACLE
    + "    , "
    + _kmeans_cents_ctes()
    + """
    ,
    asg AS (
      SELECT vec_id, e, cid FROM (
        SELECT d.vec_id, d.e, c.cid,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY round(list_inner_product(d.e, c.ce)
                   / sqrt(list_inner_product(d.e, d.e) * list_inner_product(c.ce, c.ce)), 6) DESC,
                   c.cid ASC) AS arn
        FROM d CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    dims AS (
      SELECT i, min(e[i]) AS mn, (max(e[i]) - min(e[i])) / 255 AS step
      FROM d CROSS JOIN range(1, 65) r(i)
      GROUP BY i
    ),
    qstats AS (SELECT list(mn ORDER BY i) AS mns, list(step ORDER BY i) AS steps
               FROM dims),
    dq AS (
      SELECT vec_id,
             list_transform(range(1, 65), i ->
               CASE WHEN steps[i] = 0 THEN mns[i]
                    ELSE mns[i] + round((e[i] - mns[i]) / steps[i]) * steps[i]
               END) AS de
      FROM d CROSS JOIN qstats
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM d WHERE vec_id < 5),
    probes AS (
      SELECT query_id, qe, cid FROM (
        SELECT q.query_id, q.qe, c.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_inner_product(q.qe, c.ce)
                   / sqrt(list_inner_product(q.qe, q.qe) * list_inner_product(c.ce, c.ce)), 6) DESC,
                   c.cid ASC) AS prn
        FROM q CROSS JOIN cents c
      ) WHERE prn <= 2
    )
    SELECT query_id, vec_id, adc_sim, rank FROM (
      SELECT p.query_id, a.vec_id,
             round(list_inner_product(p.qe, x.de)
               / sqrt(list_inner_product(p.qe, p.qe) * list_inner_product(x.de, x.de)), 6) AS adc_sim,
             row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY round(list_inner_product(p.qe, x.de)
                 / sqrt(list_inner_product(p.qe, p.qe) * list_inner_product(x.de, x.de)), 6) DESC,
                 a.vec_id ASC) AS rank
      FROM probes p JOIN asg a USING (cid) JOIN dq x ON x.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id
    ) WHERE rank <= 3
    """,
)
def embedding_ann_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production index — IVF coarse quantizer over SQ8
    codes (FAISS ``IVF8,SQ8`` shape): k-means routes each query to
    its 2 nearest inverted lists; within them the corpus is scored
    from int8 codes via asymmetric ADC (query full-precision, corpus
    dequantized). Every stage reuses the already-oracle-checked
    formulations, so the whole index — training, routing,
    quantization, ranking — hash-matches DuckDB with no seeds.
    See ``operators/similarity.ivf_sq8_topk``."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_sq8_topk(emb, queries, k=3, n_centroids=8, n_probe=2).select(
        "query_id", "vec_id", "adc_sim", F.col("rank").cast("long").alias("rank")
    )


def _daily_ingest_oracle(
    split: int = 250, k: int = 8, band_rows: int = 2, threshold: float = 0.5,
    cap: int = 64,
) -> str:
    from pg2kafka_spark.operators.dedup import (
        PORTABLE_MINHASH_MOD as MOD,
        PORTABLE_MINHASH_SALT as SALT,
    )

    roll = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(list_filter(string_split_regex(s, ''), x -> x <> ''),"
        " x -> CAST(ord(x) AS BIGINT))),"
        f" (a, b) -> (a * 131 + b) % {MOD})"
    )
    return f"""
    WITH gated AS (
      SELECT doc_id, text,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
      WHERE doc_id >= {split}
        AND len(string_split(text, ' ')) >= 30
        AND len(list_distinct(string_split(text, ' ')))
              * 1.0 / len(string_split(text, ' ')) >= 0.3
    ),
    batch_exact AS (
      SELECT doc_id, text, fp, n_tokens FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM gated) WHERE rn = 1
    ),
    store_fp AS (
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS fp
      FROM documents WHERE doc_id < {split}
    ),
    fresh AS (
      SELECT b.doc_id, b.text, b.n_tokens FROM batch_exact b
      WHERE b.fp NOT IN (SELECT fp FROM store_fp)
    ),
    t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ),
    sh3 AS (
      SELECT doc_id,
             list_transform(range(1, length(toks) - 1),
               j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2]) AS shs
      FROM t WHERE length(toks) >= 3
    ),
    hashed AS (
      SELECT doc_id, list_transform(shs, s -> {roll}) AS xs FROM sh3
    ),
    mh AS (
      SELECT doc_id, u.i AS i,
             list_min(list_transform(xs,
               x -> ((2*u.i+1)*x + (u.i*{SALT}) % {MOD}) % {MOD})) AS minhash
      FROM hashed CROSS JOIN (SELECT unnest(range({k})) AS i) u
    ),
    bands AS (
      SELECT doc_id, i // {band_rows} AS band,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i) AS bkey
      FROM mh GROUP BY 1, 2
    ),
    bcap AS (
      SELECT band, bkey FROM bands WHERE doc_id < {split}
      GROUP BY band, bkey HAVING count(*) <= {cap}
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS batch_id, s.doc_id AS store_id
      FROM bands b JOIN bands s ON b.band = s.band AND b.bkey = s.bkey
      JOIN bcap c ON c.band = s.band AND c.bkey = s.bkey
      WHERE b.doc_id IN (SELECT doc_id FROM fresh) AND s.doc_id < {split}
    ),
    shd AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, length(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      FROM t
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
    com AS (
      SELECT c.batch_id, c.store_id, count(*) AS common
      FROM cand c
      JOIN shd a ON a.doc_id = c.batch_id
      JOIN shd b2 ON b2.doc_id = c.store_id AND b2.shingle = a.shingle
      GROUP BY 1, 2
    ),
    near AS (
      SELECT DISTINCT batch_id FROM com
      JOIN sizes sb ON sb.doc_id = batch_id
      JOIN sizes ss ON ss.doc_id = store_id
      WHERE common * 1.0 / (sb.n + ss.n - common) >= {threshold}
    )
    SELECT doc_id AS keep_doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM fresh WHERE doc_id NOT IN (SELECT batch_id FROM near)
    """


@query("daily_ingest_keep_list", oracle=_daily_ingest_oracle())
def daily_ingest_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAILY job, end to end (the incremental twin of
    ``training_corpus_assembly``'s backfill): incoming batch
    (doc_id >= 250) → quality gates (>=30 tokens, ttr >= 0.3) →
    exact dedup within the batch → anti-join the maintained corpus
    fingerprint store → portable-LSH near-dup discovery vs the store
    with exact-Jaccard verification (>= 0.5) → final keep list. One
    oracle hash-checks the entire composition, including which docs
    each pruning stage removed. Shuffle budget: the gates are
    map-only, each dedup stage is one uniform-key shuffle or an
    anti-join against a (bucketed-at-scale) store table, and the
    near-dup stage is the band-key equality join — no stage exceeds
    the shapes of its standalone operator."""
    docs = load_table(spark, "documents", sf_dir)
    store = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250)
    t = F.col("text")
    n_tok = X.token_count(t)
    gated = batch.filter(
        (n_tok >= 30) & (X.unique_token_count(t) * 1.0 / n_tok >= 0.3)
    )
    store_fps = store.select(X.fingerprint(t).alias("fp")).distinct()
    fresh = D.incremental_exact_dedup(gated, store_fps)
    near = (
        D.incremental_near_dup(store, fresh, threshold=0.5)
        .select(F.col("batch_id").alias("doc_id"))
        .distinct()
    )
    return fresh.join(near, "doc_id", "left_anti").select(
        F.col("doc_id").alias("keep_doc_id"),
        n_tok.cast("long").alias("n_tokens"),
    )


def _sql_cos(a: str, b: str) -> str:
    return (
        f"round(list_inner_product({a}, {b}) / sqrt(list_inner_product({a}, {a})"
        f" * list_inner_product({b}, {b})), 6)"
    )


def _pq_recon_parts(
    m: int,
    sub_dim: int,
    n_codes: int,
    train_sample: int | None = None,
    train_base: str = "d",
) -> list[str]:
    """Shared CTE builder: per-subspace seeded k-means (1 unrolled
    Lloyd iteration, the same CTE shapes as ``_kmeans_cents_ctes``),
    per-subspace argmax coding, concat reconstruction — ends with a
    CTE named ``recon(vec_id, de)``. ``train_sample`` limits each
    subspace's TRAINING rows to the smallest-hash prefix (the keyed
    trainer's per-key window rank — same ids in every subspace);
    ``train_base`` trains every codebook on a DIFFERENT relation
    (the incremental-ingest mode — frozen codebooks from the store);
    coding always covers the full corpus. Used by the flat-PQ and
    IVF+PQ oracles."""
    cos = _sql_cos
    parts = []
    for mi in range(m):
        lo, hi = mi * sub_dim + 1, (mi + 1) * sub_dim
        parts.append(
            f"dm{mi} AS (SELECT vec_id, e[{lo}:{hi}] AS e FROM d)"
        )
        seed_rel = f"dm{mi}"
        if train_base != "d":
            seed_rel = f"tm{mi}"
            parts.append(
                f"tm{mi} AS (SELECT vec_id, e[{lo}:{hi}] AS e "
                f"FROM {train_base})"
            )
        train_rel = seed_rel
        avg_terms = ", ".join(
            f"round(CAST(sum(CAST(round(e[{i + 1}] * 1000000000.0) AS BIGINT))"
            f" AS DOUBLE) / (count(*) * 1000000000.0), 6)"
            for i in range(sub_dim)
        )
        parts.append(
            f"c{mi}s AS (SELECT vec_id AS cid, e AS ce FROM {seed_rel} "
            f"ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647, vec_id "
            f"LIMIT {n_codes})"
        )
        if train_sample is not None:
            train_rel = f"{seed_rel}t"
            parts.append(
                f"{seed_rel}t AS (SELECT vec_id, e FROM {seed_rel} "
                f"ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647,"
                f" vec_id LIMIT {train_sample})"
            )
        parts += [
            f"a{mi}t AS (SELECT vec_id, e, cid FROM ("
            f"SELECT d.vec_id, d.e, c.cid, row_number() OVER (PARTITION BY d.vec_id "
            f"ORDER BY {cos('d.e', 'c.ce')} DESC, c.cid ASC) AS arn "
            f"FROM {train_rel} d CROSS JOIN c{mi}s c) WHERE arn = 1)",
            f"k{mi}m AS (SELECT cid, list_value({avg_terms}) AS me "
            f"FROM a{mi}t GROUP BY cid)",
            f"c{mi}f AS (SELECT p.cid, coalesce(mm.me, p.ce) AS ce "
            f"FROM c{mi}s p LEFT JOIN k{mi}m mm ON mm.cid = p.cid)",
            f"asg{mi} AS (SELECT vec_id, ce FROM ("
            f"SELECT d.vec_id, c.ce, row_number() OVER (PARTITION BY d.vec_id "
            f"ORDER BY {cos('d.e', 'c.ce')} DESC, c.cid ASC) AS arn "
            f"FROM dm{mi} d CROSS JOIN c{mi}f c) WHERE arn = 1)",
        ]
    concat = " || ".join(f"a{mi}.ce" for mi in range(m))
    joins = " ".join(
        f"JOIN asg{mi} a{mi} USING (vec_id)" for mi in range(1, m)
    )
    parts.append(
        f"recon AS (SELECT vec_id, {concat} AS de FROM asg0 a0 {joins})"
    )
    return parts


def _pq_oracle(
    m: int = 8, sub_dim: int = 8, n_codes: int = 8, k: int = 3
) -> str:
    """Flat-PQ oracle: recon CTEs + brute-force asymmetric-ADC
    scoring over every reconstruction — all generated from the shared
    constants so the engines cannot drift."""
    parts = _pq_recon_parts(m, sub_dim, n_codes)
    adc = _sql_cos("q.qe", "r.de")
    return (
        "    , " + ",\n    ".join(parts) + f""",
    q AS (SELECT vec_id AS query_id, e AS qe FROM d WHERE vec_id < 5)
    SELECT query_id, vec_id, pq_sim, rank FROM (
      SELECT q.query_id, r.vec_id, {adc} AS pq_sim,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY {adc} DESC, r.vec_id ASC) AS rank
      FROM q CROSS JOIN recon r WHERE r.vec_id <> q.query_id
    ) WHERE rank <= {k}
    """
    )


def _ivf_pq_oracle(
    n_centroids: int = 8, n_probe: int = 2,
    m: int = 8, sub_dim: int = 8, n_codes: int = 8, k: int = 3,
    train_sample: int | None = None,
    train_base: str = "d",
) -> str:
    """IVF+PQ oracle: coarse k-means CTEs (``cents``) route every
    query to its ``n_probe`` cells; scoring is asymmetric ADC against
    the PQ reconstruction, restricted to vectors assigned to the
    probed cells — the exact composition the Spark operator runs.
    ``train_sample`` bounds BOTH trainers (coarse quantizer and all
    ``m`` subspace codebooks) to the smallest-hash prefix;
    ``train_base`` trains both on a DIFFERENT relation (the
    incremental mode — the caller defines the CTE)."""
    cos = _sql_cos
    parts = _pq_recon_parts(m, sub_dim, n_codes, train_sample, train_base)
    adc = cos("p.qe", "r.de")
    return (
        "    , "
        + _kmeans_cents_ctes(n_centroids, 2, 64, train_sample, train_base)
        + ",\n    "
        + ",\n    ".join(parts)
        + f""",
    cells AS (SELECT vec_id, cid FROM (
      SELECT d.vec_id, c.cid, row_number() OVER (PARTITION BY d.vec_id
             ORDER BY {cos('d.e', 'c.ce')} DESC, c.cid ASC) AS arn
      FROM d CROSS JOIN cents c) WHERE arn = 1),
    q AS (SELECT vec_id AS query_id, e AS qe FROM d WHERE vec_id < 5),
    probes AS (SELECT query_id, qe, cid FROM (
      SELECT q.query_id, q.qe, c.cid, row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {cos('q.qe', 'c.ce')} DESC, c.cid ASC) AS prn
      FROM q CROSS JOIN cents c) WHERE prn <= {n_probe})
    SELECT query_id, vec_id, pq_sim, rank FROM (
      SELECT p.query_id, r.vec_id, {adc} AS pq_sim,
             row_number() OVER (PARTITION BY p.query_id
                                ORDER BY {adc} DESC, r.vec_id ASC) AS rank
      FROM probes p JOIN cells cl ON cl.cid = p.cid
      JOIN recon r ON r.vec_id = cl.vec_id
      WHERE r.vec_id <> p.query_id
    ) WHERE rank <= {k}
    """
    )


@query("embedding_ann_pq", oracle=_COSINE_ORACLE + _pq_oracle())
def embedding_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization search (FAISS ``PQ`` shape): 8 subspaces
    × 8 dims, per-subspace portable-k-means codebooks, concat
    reconstruction, asymmetric-ADC cosine top-3. The sixth and final
    member of the ANN family, and like IVF/SQ8 fully seedless — the
    oracle unrolls all eight per-subspace trainings as generated
    CTEs, so even the codebook contents hash-match. See
    ``operators/similarity.pq_topk``."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.pq_topk(emb, queries, k=3).select(
        "query_id", "vec_id", "pq_sim", F.col("rank").cast("long").alias("rank")
    )


@query(
    "embedding_ann_ivf_sampled",
    oracle=_COSINE_ORACLE
    + "    , "
    + _kmeans_cents_ctes(train_sample=200)
    + """    ,
    asg AS (
      SELECT vec_id, e, cid FROM (
        SELECT d.vec_id, d.e, c.cid,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY round(list_inner_product(d.e, c.ce)
                   / sqrt(list_inner_product(d.e, d.e) * list_inner_product(c.ce, c.ce)), 6) DESC,
                   c.cid ASC) AS arn
        FROM d CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM d WHERE vec_id < 5),
    probes AS (
      SELECT query_id, qe, cid FROM (
        SELECT q.query_id, q.qe, c.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_inner_product(q.qe, c.ce)
                   / sqrt(list_inner_product(q.qe, q.qe) * list_inner_product(c.ce, c.ce)), 6) DESC,
                   c.cid ASC) AS prn
        FROM q CROSS JOIN cents c
      ) WHERE prn <= 2
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT p.query_id, a.vec_id,
             round(list_inner_product(p.qe, a.e)
               / sqrt(list_inner_product(p.qe, p.qe) * list_inner_product(a.e, a.e)), 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY round(list_inner_product(p.qe, a.e)
                 / sqrt(list_inner_product(p.qe, p.qe) * list_inner_product(a.e, a.e)), 6) DESC,
                 a.vec_id ASC) AS rank
      FROM probes p JOIN asg a USING (cid)
      WHERE a.vec_id <> p.query_id
    ) WHERE rank <= 3
    """,
)
def embedding_ann_ivf_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with SAMPLED training — the documented at-scale mode
    finally exercised under the oracle: k-means trains on the 200
    smallest-portable-hash vectors only (the fixed pseudo-random
    sample both engines can name), while assignment and probing still
    cover the full corpus. At 10⁹ vectors this is the difference
    between `train_iters` full corpus passes and a constant-size
    training set; hash-matching it proves the sampled trainer is the
    same deterministic machine, not an approximation of one."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_topk(emb, queries, k=3, train_sample=200).select(
        "query_id", "vec_id", "cos_sim", "rank"
    )


# shared by embedding_ann_ivf_incremental (in-memory) and
# ann_ivf_served_incremental (at-rest maintained index): both compute
# the same incremental-ingest semantics — train on the store
# (vec_id < 400), assign the rest to existing cells, probe the union
_IVF_INCREMENTAL_ORACLE = (
    _COSINE_ORACLE
    + """    ,
    ds AS (SELECT vec_id, e FROM d WHERE vec_id < 400),
    """
    + _kmeans_cents_ctes(base="ds")
    + """    ,
    asg AS (
      SELECT vec_id, e, cid FROM (
        SELECT d.vec_id, d.e, c.cid,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY round(list_inner_product(d.e, c.ce)
                   / sqrt(list_inner_product(d.e, d.e) * list_inner_product(c.ce, c.ce)), 6) DESC,
                   c.cid ASC) AS arn
        FROM d CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM d WHERE vec_id < 5),
    probes AS (
      SELECT query_id, qe, cid FROM (
        SELECT q.query_id, q.qe, c.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_inner_product(q.qe, c.ce)
                   / sqrt(list_inner_product(q.qe, q.qe) * list_inner_product(c.ce, c.ce)), 6) DESC,
                   c.cid ASC) AS prn
        FROM q CROSS JOIN cents c
      ) WHERE prn <= 2
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT p.query_id, a.vec_id,
             round(list_inner_product(p.qe, a.e)
               / sqrt(list_inner_product(p.qe, p.qe) * list_inner_product(a.e, a.e)), 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY round(list_inner_product(p.qe, a.e)
                 / sqrt(list_inner_product(p.qe, p.qe) * list_inner_product(a.e, a.e)), 6) DESC,
                 a.vec_id ASC) AS rank
      FROM probes p JOIN asg a USING (cid)
      WHERE a.vec_id <> p.query_id
    ) WHERE rank <= 3
    """
)


@query(
    "embedding_ann_ivf_incremental",
    oracle=_IVF_INCREMENTAL_ORACLE,
)
def embedding_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF ingest (r8): the coarse quantizer trains on
    the STORE only (vec_id < 400 — yesterday's index), the new batch
    is assigned to the EXISTING cells without retraining (retraining
    re-shuffles every stored code; assignment is one broadcast map
    pass — the standard daily-ingest move for a billion-vector
    index), and queries probe the union. Hash-checked end to end: the
    oracle trains the identical unrolled k-means on the store subset.
    See ``operators/similarity.ivf_topk(train_corpus=...)``."""
    emb = load_table(spark, "embeddings", sf_dir)
    store = emb.filter(F.col("vec_id") < 400)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_topk(emb, queries, k=3, train_corpus=store).select(
        "query_id", "vec_id", "cos_sim", "rank"
    )


def _ensure_ann_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the MAINTAINED at-rest IVF index once per session
    per source — bootstrap on the store subset (vec_id < 400, the
    same split the incremental query uses), then accrete the
    remaining vectors through the maintenance fold
    (streaming/annindex.index_ingest_batch) in two batches, each
    appending to the cid-partitioned cells table and logging a drift
    row — the exact per-batch work the streaming loop does, pinned
    equal to it by tests/test_annindex.py. Keyed by the SOURCE's
    identity (name/size/mtime_ns) so regenerated testdata can never
    serve a stale index — same convention as the retention store."""
    import os
    import tempfile

    from pg2kafka_spark.catalog import source_signature
    from pg2kafka_spark.operators.index_store import save_ivf_index
    from pg2kafka_spark.streaming.annindex import (
        drift_stats,
        index_ingest_batch,
    )

    from pg2kafka_spark.catalog import store_build_lock

    h = source_signature(sf_dir, "embeddings")
    root = os.path.join(tempfile.gettempdir(), f"pg2kafka_annindex_{h}")

    # Skip gate is a _COMPLETE marker written as the build's LAST
    # step, not per-directory data presence: every subdir has data
    # after the FIRST accretion batch, so a process killed between
    # the two batches would otherwise leave a half-populated store
    # that later sessions with the same source signature serve
    # silently wrong (r15 advice). Marker missing + data present =
    # interrupted build → wipe and rebuild (the appends below must
    # not stack onto a partial store).
    marker = os.path.join(root, "_COMPLETE")
    with store_build_lock(root):
        if os.path.exists(marker):
            return root
        if os.path.isdir(root):
            import shutil

            shutil.rmtree(root)
        emb = load_table(spark, "embeddings", sf_dir)
        store = emb.filter(F.col("vec_id") < 400)
        save_ivf_index(store, root)
        cents = spark.read.parquet(f"{root}/centroids")
        mid = 400 + (
            emb.filter(F.col("vec_id") >= 400).count() // 2
        )  # two accretion batches, like two nightly drains
        for bid, batch in enumerate(
            (
                emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < mid)),
                emb.filter(F.col("vec_id") >= mid),
            )
        ):
            assigned = G.guarded_local_checkpoint(
                index_ingest_batch(batch, cents)
            )  # guarded against the _checkpoint id-diff race (see
            # _ensure_components_store)
            assigned.drop("cell_sim").write.mode("append").partitionBy(
                "cid"
            ).parquet(f"{root}/cells")
            drift_stats(assigned).withColumn(
                "batch_id", F.lit(bid)
            ).write.mode("append").parquet(f"{root}/drift")
        with open(marker, "w"):
            pass
        return root


@query("ann_ivf_served_incremental", oracle=_IVF_INCREMENTAL_ORACLE)
def ann_ivf_served_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAINTAINED at-rest index served (r15): same incremental
    semantics as ``embedding_ann_ivf_incremental`` — coarse quantizer
    trained on the store only, later vectors assigned to the frozen
    cells without retraining — but computed the production way: the
    index lives on disk as the cid-partitioned
    ``operators/index_store.py`` layout, batches accreted to it by
    the maintenance fold (streaming/annindex.py), and this query only
    pays the SERVE path — broadcast centroid probe + a cells scan
    partition-pruned to the probed lists, duplicates from
    at-least-once replays absorbed before ranking. Hash-checked
    against the same unrolled-k-means oracle, which proves the whole
    loop (bootstrap → accrete → serve) equals the one-pass in-memory
    operator."""
    from pg2kafka_spark.operators.index_store import load_ivf_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    root = _ensure_ann_index(spark, sf_dir)
    return load_ivf_topk(
        spark, root, queries, k=3, absorb_duplicates=True
    ).select("query_id", "vec_id", "cos_sim", "rank")


def _ensure_ann_pq_index(spark: SparkSession, sf_dir: str) -> str:
    """COMPRESSED twin of :func:`_ensure_ann_index`: bootstrap
    ``save_ivf_pq_index`` on the store subset (coarse quantizer AND
    codebooks train there, then freeze), accrete the remaining
    vectors as frozen-codebook PQ codes via
    ``pq_index_ingest_batch`` in two batches. Same source-identity
    keying."""
    import os
    import tempfile

    from pg2kafka_spark.catalog import source_signature
    from pg2kafka_spark.operators.index_store import save_ivf_pq_index
    from pg2kafka_spark.streaming.annindex import (
        drift_stats,
        pq_index_ingest_batch,
    )

    from pg2kafka_spark.catalog import store_build_lock

    h = source_signature(sf_dir, "embeddings")
    root = os.path.join(tempfile.gettempdir(), f"pg2kafka_annpq_{h}")

    # Same _COMPLETE-marker skip gate as _ensure_ann_index (r15
    # advice): data-presence passes after the first accretion batch,
    # so only a marker written as the final step proves the store is
    # whole; a partial store is wiped, never appended onto.
    marker = os.path.join(root, "_COMPLETE")
    with store_build_lock(root):
        if os.path.exists(marker):
            return root
        if os.path.isdir(root):
            import shutil

            shutil.rmtree(root)
        emb = load_table(spark, "embeddings", sf_dir)
        store = emb.filter(F.col("vec_id") < 400)
        save_ivf_pq_index(store, root)
        coarse = spark.read.parquet(f"{root}/centroids")
        books = spark.read.parquet(f"{root}/codebooks")
        mid = 400 + (emb.filter(F.col("vec_id") >= 400).count() // 2)
        for bid, batch in enumerate(
            (
                emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < mid)),
                emb.filter(F.col("vec_id") >= mid),
            )
        ):
            assigned = G.guarded_local_checkpoint(
                pq_index_ingest_batch(batch, coarse, books)
            )  # guarded (see _ensure_components_store)
            assigned.drop("cell_sim").write.mode("append").partitionBy(
                "cid"
            ).parquet(f"{root}/cells")
            drift_stats(assigned).withColumn(
                "batch_id", F.lit(bid)
            ).write.mode("append").parquet(f"{root}/drift")
        with open(marker, "w"):
            pass
        return root


@query(
    "ann_ivf_pq_served_incremental",
    oracle=_COSINE_ORACLE
    + """    ,
    ds AS (SELECT vec_id, e FROM d WHERE vec_id < 400)
    """
    + _ivf_pq_oracle(train_base="ds"),
)
def ann_ivf_pq_served_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The maintained COMPRESSED index served (r15): coarse quantizer
    and all 8 PQ codebooks trained on the store only, later vectors
    coded against the frozen models and accreted as
    ``m·log2(n_codes)``-bit code words, the serve paying only the
    probe + partition-pruned reconstruction + ADC. Hash-checked
    against the unrolled oracle with BOTH trainers re-based onto the
    store subset — which proves the whole compressed loop (bootstrap
    → frozen-codebook accretion → serve) equals one-pass training on
    the store with coding over the union."""
    from pg2kafka_spark.operators.index_store import load_ivf_pq_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    root = _ensure_ann_pq_index(spark, sf_dir)
    return load_ivf_pq_topk(
        spark, root, queries, k=3, absorb_duplicates=True
    ).select("query_id", "vec_id", "pq_sim", "rank")


_DRIFT_CUT = 250  # snapshot split: OLD = vec_id < cut, NEW = the rest


@query(
    "embedding_cell_drift",
    oracle=_COSINE_ORACLE
    + f"""    ,
    ds AS (SELECT vec_id, e FROM d WHERE vec_id < {_DRIFT_CUT}),
    """
    + _kmeans_cents_ctes(base="ds")
    + f"""    ,
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT d.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY round(list_inner_product(d.e, c.ce)
                   / sqrt(list_inner_product(d.e, d.e) * list_inner_product(c.ce, c.ce)), 6) DESC,
                   c.cid ASC) AS arn
        FROM d CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    per AS (
      SELECT cid,
             CAST(sum(CASE WHEN vec_id < {_DRIFT_CUT} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_old,
             CAST(sum(CASE WHEN vec_id >= {_DRIFT_CUT} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_new
      FROM asg GROUP BY cid
    ),
    tot AS (
      SELECT sum(n_old) AS t_old, sum(n_new) AS t_new FROM per
    )
    SELECT cid, n_old, n_new,
           CAST((n_old * 1000000) // t_old AS BIGINT) AS share_old_micros,
           CAST((n_new * 1000000) // t_new AS BIGINT) AS share_new_micros,
           CAST(abs((n_new * 1000000) // t_new
                    - (n_old * 1000000) // t_old) AS BIGINT)
             AS drift_micros
    FROM per CROSS JOIN tot
    """,
)
def embedding_cell_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-DISTRIBUTION drift between two corpus snapshots,
    measured through the frozen quantizer — the registered-query form
    of the maintenance loop's per-batch drift log
    (streaming/annindex.py): train the portable k-means on the OLD
    snapshot, assign BOTH snapshots to its cells, and report each
    cell's population share then vs now in exact integer micros.
    A cell whose share moved is where the corpus changed; the max
    ``drift_micros`` row is what a retrain gate watches. Scale shape:
    one broadcast assignment pass over the union (map-only), a
    |cells|-sized aggregation, and a 1-row totals broadcast — the
    corpus never shuffles. Hash-checked end to end via the unrolled
    k-means oracle + integer share math."""
    emb = load_table(spark, "embeddings", sf_dir)
    old = emb.filter(F.col("vec_id") < _DRIFT_CUT)
    cents = S.kmeans_centroids(old)
    prepared = emb.select(
        F.col("vec_id"), S.as_double(F.col("embedding")).alias("__cv")
    )
    per = (
        S.assign_cells(prepared, cents)
        .groupBy("cid")
        .agg(
            F.sum(
                F.when(F.col("vec_id") < _DRIFT_CUT, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_old"),
            F.sum(
                F.when(F.col("vec_id") >= _DRIFT_CUT, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_new"),
        )
    )
    tot = per.agg(
        F.sum("n_old").alias("t_old"), F.sum("n_new").alias("t_new")
    )
    # truncating INTEGER division on both engines (Spark `div` ≡
    # DuckDB `//`) — a double division + floor can round up across an
    # integer boundary and flip the last micro
    share_old = F.expr("n_old * 1000000 div t_old")
    share_new = F.expr("n_new * 1000000 div t_new")
    return per.crossJoin(F.broadcast(tot)).select(
        "cid",
        "n_old",
        "n_new",
        share_old.cast("bigint").alias("share_old_micros"),
        share_new.cast("bigint").alias("share_new_micros"),
        F.abs(share_new - share_old).cast("bigint").alias("drift_micros"),
    )


@query("embedding_ann_ivf_pq", oracle=_COSINE_ORACLE + _ivf_pq_oracle())
def embedding_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ — the composed billion-vector index (FAISS
    ``IVF8,PQ8`` routing shape): coarse portable-k-means routing to
    2 probed lists, asymmetric-ADC scoring against the per-subspace
    PQ reconstruction within them. Every stage is the already
    hash-checked formulation, so the full composition — coarse
    training, 8 codebook trainings, coding, routing, ADC — is
    seedless and oracle-exact. See
    ``operators/similarity.ivf_pq_topk``."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_pq_topk(emb, queries, k=3).select(
        "query_id", "vec_id", "pq_sim", "rank"
    )


@query(
    "embedding_ann_pq_sampled",
    oracle=_COSINE_ORACLE + _ivf_pq_oracle(train_sample=200),
)
def embedding_ann_pq_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ with SAMPLED training end to end — closes the last
    full-corpus trainer in the index family (r7 verdict #2): the
    coarse quantizer AND all 8 subspace codebooks train on the 200
    smallest-portable-hash vectors only (the keyed trainer bounds
    each per-key Lloyd pass by the same per-key hash-rank prefix),
    while coding, routing, and ADC scoring still cover the full
    corpus. At 10⁹ vectors this turns ``train_iters`` full passes ×
    (1 coarse + m subspace) trainings into constant-size training
    sets; hash-matching the whole composition proves the sampled
    trainers are the same deterministic machine. See
    ``operators/similarity.ivf_pq_topk(train_sample=...)``."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_pq_topk(emb, queries, k=3, train_sample=200).select(
        "query_id", "vec_id", "pq_sim", "rank"
    )


def _knn_graph_oracle(n_centroids: int = 8, k: int = 3) -> str:
    cos = _sql_cos
    return (
        "    , "
        + _kmeans_cents_ctes(n_centroids, 2, 64)
        + f""",
    cellsv AS (SELECT vec_id, e, cid FROM (
      SELECT d.vec_id, d.e, c.cid, row_number() OVER (PARTITION BY d.vec_id
             ORDER BY {cos('d.e', 'c.ce')} DESC, c.cid ASC) AS arn
      FROM d CROSS JOIN cents c) WHERE arn = 1)
    SELECT vec_id, nbr_id, cos_sim, rank FROM (
      SELECT a.vec_id, b.vec_id AS nbr_id, {cos('a.e', 'b.e')} AS cos_sim,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {cos('a.e', 'b.e')} DESC,
                                         b.vec_id ASC) AS rank
      FROM cellsv a JOIN cellsv b
        ON a.cid = b.cid AND a.vec_id <> b.vec_id
    ) WHERE rank <= {k}
    """
    )


@query("embedding_knn_graph", oracle=_COSINE_ORACLE + _knn_graph_oracle())
def embedding_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide k-NN graph, cell-restricted: every vector's top-3
    cosine neighbours within its portable-k-means cell — the
    primitive SemDeDup pruning, kNN clustering, and diversity
    sampling build on. Grouped Arrow BLAS kernel per cell,
    hash-matched against the SQL self-join twin (the grouped-kernel
    oracle precedent of ``semantic_dedup_embeddings``). See
    ``operators/similarity.knn_graph``."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.knn_graph(emb, k=3)


@query(
    "doc_weighted_sample",
    oracle="""
    WITH w AS (
      SELECT doc_id, length(string_split(text, ' ')) AS n_tokens,
             (((doc_id % 2147483647) + 1000003) * 2654435761)
               % 2147483647 AS h
      FROM documents
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           h // n_tokens AS sample_key
    FROM w WHERE n_tokens > 0
    ORDER BY h // n_tokens, doc_id LIMIT 100
    """,
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget weighted sampling: the 100 docs with the smallest
    ``portable_hash(id) // n_tokens`` — deterministic
    proportional-to-length selection (the integer-exact A-Res cousin,
    operators/assembly.weighted_sample_topn), so longer documents are
    proportionally likelier while the EXACT sample stays a pure
    function of the data. TakeOrderedAndProject plan — bounded heaps,
    no global sort."""
    from pg2kafka_spark.operators.assembly import weighted_sample_topn

    docs = load_table(spark, "documents", sf_dir)
    return weighted_sample_topn(
        docs, X.token_count(F.col("text")), n=100
    ).select(
        "doc_id",
        X.token_count(F.col("text")).cast("long").alias("n_tokens"),
        "sample_key",
    )


@query(
    "doc_bigram_surprisal",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ),
    u AS (SELECT doc_id, unnest(toks) AS term FROM t),
    c1 AS (SELECT term, count(*) AS c1 FROM u GROUP BY 1),
    v AS (SELECT count(DISTINCT term) AS v FROM u),
    bg AS (
      SELECT doc_id, toks[u.i] AS w1,
             toks[u.i] || ' ' || toks[u.i+1] AS b
      FROM t, unnest(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2
    ),
    c2 AS (SELECT b, count(*) AS c2 FROM bg GROUP BY 1),
    sc AS (
      SELECT bg.doc_id,
             CAST(round(ln((c1.c1 + v.v) * 1.0 / (c2.c2 + 1)) / ln(2) * 1e6)
                  AS BIGINT) AS sb
      FROM bg JOIN c2 ON c2.b = bg.b
      JOIN c1 ON c1.term = bg.w1
      CROSS JOIN v
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_bigrams,
             CAST(CAST(sum(sb) AS BIGINT) // count(*) AS BIGINT) AS m
      FROM sc GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, m AS mean_surprisal_microbits,
           m BETWEEN 4800000 AND 5000000 AS kept
    FROM agg
    """,
)
def doc_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality gate (conditional-probability upgrade of the
    unigram CCNet gate): per-token −log2 P(w|prev) under the corpus's
    own add-one-smoothed bigram model, in order-independent
    fixed-point micro-bits; keep band [4.8, 5.0] bits. See
    ``operators/text.bigram_surprisal`` for the two-count-shuffle
    scale shape."""
    docs = load_table(spark, "documents", sf_dir)
    return X.bigram_surprisal(docs)


@query(
    "embedding_topk_filtered",
    oracle=_COSINE_ORACLE
    + """
    , lbl AS (SELECT vec_id, label FROM embeddings)
    , q AS (
      SELECT d.vec_id AS query_id, d.e AS qe, l.label AS qlabel
      FROM d JOIN lbl l USING (vec_id) WHERE d.vec_id < 5
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT q.query_id, c.vec_id,
             round(list_inner_product(q.qe, c.e)
               / sqrt(list_inner_product(q.qe, q.qe) * list_inner_product(c.e, c.e)),
               6) AS cos_sim,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY round(list_inner_product(q.qe, c.e)
                 / sqrt(list_inner_product(q.qe, q.qe) * list_inner_product(c.e, c.e)),
                 6) DESC, c.vec_id ASC) AS rank
      FROM q JOIN d c ON c.vec_id <> q.query_id
      JOIN lbl cl ON cl.vec_id = c.vec_id AND cl.label = q.qlabel
    ) WHERE rank <= 3
    """,
)
def embedding_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered (hybrid) vector search — the metadata-predicate + ANN
    pattern every vector store exposes: top-3 cosine restricted to
    corpus vectors sharing the query's ``label``. The filter joins
    BEFORE scoring, so the scan prunes to the eligible stripe instead
    of post-filtering a larger top-k (pre- vs post-filtering is the
    correctness difference: post-filtering can return < k rows).
    Plan: queries (with labels) broadcast; the label equi-condition
    rides the broadcast join; WindowGroupLimit bounds the heap."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        S.as_double(F.col("embedding")).alias("__qv"),
    )
    c = emb.select(
        "vec_id", "label", S.as_double(F.col("embedding")).alias("__cv")
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("label") == F.col("qlabel"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "vec_id",
            F.round(S.cosine(F.col("__qv"), F.col("__cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id", "vec_id", "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


_DSIR_CTES = """
    t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS toks,
             source
      FROM documents
    ),
    u AS (SELECT doc_id, source, unnest(toks) AS term FROM t),
    cc AS (SELECT term, count(*) AS cc FROM u GROUP BY 1),
    ct AS (SELECT term, count(*) AS ct FROM u WHERE source = 'src0' GROUP BY 1),
    counts AS (
      -- FULL outer: V is the true union vocabulary (mirrors the
      -- operator's round-7 fix; identical here since target ⊆ docs)
      SELECT coalesce(cc.term, ct.term) AS term,
             coalesce(cc.cc, 0) AS cc, coalesce(ct.ct, 0) AS ct
      FROM cc FULL OUTER JOIN ct ON ct.term = cc.term
    ),
    tots AS (
      SELECT CAST(sum(cc) AS BIGINT) AS tc, CAST(sum(ct) AS BIGINT) AS tt,
             count(*) AS v
      FROM counts
    ),
    sc AS (
      SELECT u.doc_id,
             CAST(round((ln((c.ct + 1) * 1.0 / (tots.tt + tots.v))
                       - ln((c.cc + 1) * 1.0 / (tots.tc + tots.v)))
                       / ln(2) * 1e6) AS BIGINT) AS lr
      FROM u JOIN counts c ON c.term = u.term CROSS JOIN tots
    ),
    dsir_w AS (
      SELECT doc_id, count(*) AS n_tokens,
             CAST(floor(CAST(sum(lr) AS BIGINT) * 1.0 / count(*)) AS BIGINT)
               AS mean_lr_microbits
      FROM sc GROUP BY doc_id
    )"""


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, n_tokens, mean_lr_microbits FROM dsir_w
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: per-doc mean log2-likelihood ratio between
    a unigram model of the target slice (source='src0' stands in for
    the quality domain) and the corpus model, in order-independent
    micro-bits — positive = target-like. See
    ``operators/text.dsir_importance_weights``."""
    docs = load_table(spark, "documents", sf_dir)
    target = docs.filter(F.col("source") == "src0")
    return X.dsir_importance_weights(docs, target)


@query(
    "dsir_resample",
    oracle=f"""
    WITH {_DSIR_CTES},
    verdict AS (
      SELECT doc_id, mean_lr_microbits,
             greatest(CAST(0 AS BIGINT), least(CAST(100 AS BIGINT),
               50 + CAST(floor(mean_lr_microbits / 20000.0) AS BIGINT)))
               AS keep_rate,
             (((doc_id % 2147483647) * 2654435761) % 2147483647)
               % 100 AS coin
      FROM dsir_w
    )
    SELECT doc_id, mean_lr_microbits, keep_rate,
           coin < keep_rate AS kept
    FROM verdict
    """,
)
def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR resampling step itself (Xie et al. 2023 §3): keep
    probability increases with the importance weight —
    ``rate = clamp(50 + weight // 20k µbits, 0, 100)`` percent — and
    the coin is the portable multiplicative id-hash, so the EXACT
    kept set is reproducible across engines/retries
    (operators/text.dsir_resample). Closes the loop the weights query
    promises: weights → auditable keep decision, one map-only
    projection past the DSIR plan."""
    docs = load_table(spark, "documents", sf_dir)
    target = docs.filter(F.col("source") == "src0")
    return X.dsir_resample(docs, target)


_SURPRISAL_SCORE_CTES = r"""
    tok AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                    ' ')) AS term
      FROM documents
    ),
    cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
    tot AS (SELECT count(*) AS t FROM tok),
    per_doc AS (
      SELECT doc_id, count(*) AS n_tokens,
             CAST(sum(CAST(round(ln(CAST(t AS DOUBLE) / c) / ln(2) * 1000000)
                           AS BIGINT)) AS BIGINT)
               AS s
      FROM tok JOIN cnt USING (term) CROSS JOIN tot
      GROUP BY doc_id
    ),
    scores AS (SELECT doc_id, s // n_tokens AS ms FROM per_doc)"""


@query(
    "doc_surprisal_band_fit",
    oracle=f"""
    WITH {_SURPRISAL_SCORE_CTES},
    ranked AS (
      SELECT doc_id, ms,
             row_number() OVER (ORDER BY ms, doc_id) AS rn,
             count(*) OVER () AS n
      FROM scores
    ),
    cuts AS (
      SELECT max(CASE WHEN rn <= ((n - 1) * 25) // 100 + 1 THEN ms END)
               AS band_lo,
             max(CASE WHEN rn <= ((n - 1) * 75) // 100 + 1 THEN ms END)
               AS band_hi
      FROM ranked
    )
    SELECT doc_id, ms AS mean_surprisal_microbits, band_lo, band_hi,
           ms BETWEEN band_lo AND band_hi AS kept
    FROM scores CROSS JOIN cuts
    """,
)
def doc_surprisal_band_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-FIT surprisal gate — the actual CCNet recipe
    (re-fit the keep band to the corpus's own [P25, P75] instead of
    the fixture-tuned constants of ``doc_unigram_surprisal``). Cuts
    are discrete order statistics under the deterministic (score, id)
    order, computed as max-over-TakeOrdered-prefix — no global sort,
    no interpolated-quantile engine drift
    (operators/text.surprisal_band_fit)."""
    docs = load_table(spark, "documents", sf_dir)
    return X.surprisal_band_fit(docs)


@query(
    "doc_surprisal_band_stratified",
    oracle=f"""
    WITH {_SURPRISAL_SCORE_CTES},
    src AS (SELECT doc_id, source FROM documents),
    ranked AS (
      SELECT s.doc_id, src.source, s.ms,
             row_number() OVER (PARTITION BY src.source
                                ORDER BY s.ms, s.doc_id) AS rn,
             count(*) OVER (PARTITION BY src.source) AS n
      FROM scores s JOIN src USING (doc_id)
    ),
    banded AS (
      SELECT doc_id, source, ms,
             max(CASE WHEN rn <= ((n - 1) * 25) // 100 + 1 THEN ms END)
               OVER (PARTITION BY source) AS band_lo,
             max(CASE WHEN rn <= ((n - 1) * 75) // 100 + 1 THEN ms END)
               OVER (PARTITION BY source) AS band_hi
      FROM ranked
    )
    SELECT doc_id, source, ms AS mean_surprisal_microbits,
           band_lo, band_hi,
           ms BETWEEN band_lo AND band_hi AS kept
    FROM banded
    """,
)
def doc_surprisal_band_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE percentile-fit surprisal gate (r8): the [P25, P75]
    keep band is re-fit within each source — surprisal distributions
    differ by domain, so the corpus-wide band of
    ``doc_surprisal_band_fit`` systematically over-prunes whichever
    domain sits off-center (the CCNet per-language-bucket argument
    applied to sources). Cuts are the same discrete order statistics
    (no interpolation drift); one stratum-keyed exchange carries
    rank, count, and both conditional-max cuts over a single sort.
    See ``operators/text.stratified_surprisal_band``."""
    docs = load_table(spark, "documents", sf_dir)
    return X.stratified_surprisal_band(docs)


@query(
    "embedding_prototype_prune",
    oracle=_COSINE_ORACLE
    + "    , "
    + _kmeans_cents_ctes()
    + """
    ,
    asg AS (
      SELECT vec_id, cid, cs AS proto_sim FROM (
        SELECT d.vec_id, c.cid,
               round(list_inner_product(d.e, c.ce)
                 / sqrt(list_inner_product(d.e, d.e) * list_inner_product(c.ce, c.ce)), 6) AS cs,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY round(list_inner_product(d.e, c.ce)
                   / sqrt(list_inner_product(d.e, d.e) * list_inner_product(c.ce, c.ce)), 6) DESC,
                   c.cid ASC) AS arn
        FROM d CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    ranked AS (
      SELECT vec_id, cid, proto_sim,
             row_number() OVER (PARTITION BY cid
               ORDER BY proto_sim DESC, vec_id ASC) AS proto_rank,
             count(*) OVER (PARTITION BY cid) AS n
      FROM asg
    )
    SELECT vec_id, cid, proto_sim, proto_rank,
           proto_rank > (n * 250000) // 1000000 AS kept
    FROM ranked
    """,
)
def embedding_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototypes pruning (Sorscher et al. 2022): drop the 25%
    most-prototypical vectors per k-means cluster (nearest the
    centroid — the redundant easy core), keep the informative
    boundary. The complement of SemDeDup; same portable-k-means
    training under the oracle. See
    ``operators/similarity.prototypicality_prune``."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.prototypicality_prune(emb, drop_frac_ppm=250_000).select(
        "vec_id", "cid", "proto_sim", "proto_rank", "kept"
    )


def _logit_oracle(iters: int = 2, lr: float = 4.0) -> str:
    from pg2kafka_spark.operators.text import STOPWORDS

    sw = ", ".join(f"'{w}'" for w in STOPWORDS)

    def z(w: str) -> str:
        return f"(({w}.w0 + {w}.w1*x1) + {w}.w2*x2)"

    def p(w: str) -> str:
        return f"round(1.0/(1.0+exp(-{z(w)})), 6)"

    parts = [
        f"""f AS (
      SELECT doc_id,
             round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS x1,
             round(len(list_filter(toks, t -> list_contains([{sw}], t)))
                   * 1.0 / len(toks), 6) AS x2,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
            FROM documents)
    )""",
        "it0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)",
    ]
    for i in range(iters):
        r = f"({p('w')} - y)"
        parts.append(
            f"""g{i} AS (
      SELECT count(*) AS n,
             sum(CAST({r} AS DECIMAL(27,15))) AS s0,
             sum(CAST(x1*{r} AS DECIMAL(27,15))) AS s1,
             sum(CAST(x2*{r} AS DECIMAL(27,15))) AS s2
      FROM f CROSS JOIN it{i} w
    )"""
        )
        parts.append(
            f"""it{i + 1} AS (
      SELECT round(w.w0 - {lr}*(CAST(g.s0 AS DOUBLE)/g.n), 6) AS w0,
             round(w.w1 - {lr}*(CAST(g.s1 AS DOUBLE)/g.n), 6) AS w1,
             round(w.w2 - {lr}*(CAST(g.s2 AS DOUBLE)/g.n), 6) AS w2
      FROM g{i} g CROSS JOIN it{i} w
    )"""
        )
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT doc_id, x1, x2, y, {p('w')} AS p,
           {p('w')} >= 0.5 AS pred
    FROM f CROSS JOIN it{iters} w
    """
    )


@query("doc_quality_classifier", oracle=_logit_oracle())
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A TRAINED quality classifier in pure DataFrame algebra: batch
    gradient descent on logistic regression over (ttr,
    stopword-ratio) with lang='en' as the supervision signal — the
    cheap supervised filter modern pipelines run after the heuristic
    gates (GPT-3/PaLM-style quality classifiers). Two unrolled
    iterations; weights, per-doc probabilities, and predictions all
    hash-match the SQL twin (6-dp rounding + DECIMAL gradient sums —
    the k-means discipline applied to SGD). See ``operators/ml``."""
    from pg2kafka_spark.operators import ml
    from pg2kafka_spark.operators.dedup import _persist
    from pg2kafka_spark.operators.scale import spread_small_input

    # r20: the tokenize-heavy feature projection ran inside the serial
    # single-row-group scan task, re-computed by EVERY gradient pass
    # (2 GD iterations + scoring = 3 serial passes). Spread the scan
    # (keyed, guide §2.5) and persist the tiny (id, x1, x2, y) frame
    # through the tracked registry so train + score read it once;
    # released between queries like every sketch intermediate.
    docs = spread_small_input(
        load_table(spark, "documents", sf_dir).select(
            "doc_id", "text", "lang"
        ),
        key="doc_id",
    )
    t = F.col("text")
    feats = _persist(
        docs.select(
            "doc_id",
            F.round(X.unique_token_count(t) * 1.0 / X.token_count(t), 6).alias("x1"),
            F.round(X.stopword_ratio(t), 6).alias("x2"),
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        )
    )
    w = ml.logistic_train(feats, ["x1", "x2"], "y", iters=2, lr=4.0)
    return ml.logistic_score(feats, w, ["x1", "x2"])


def _hilbert_oracle(bits: int = 8, bucket_bits: int = 6) -> str:
    from pg2kafka_spark.operators.layout import hilbert_sql_ctes, quantize_sql

    qd = quantize_sql("day", "dlo", "dhi", bits)
    qk = quantize_sql("k", "klo", "khi", bits)
    keep = "day, k, dlo, dhi, klo, khi"
    shift = 2 * bits - bucket_bits
    return f"""
    WITH base AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01', l_shipdate) AS BIGINT)
               AS day,
             CAST(l_partkey AS BIGINT) AS k
      FROM lineitem
    ),
    s AS (
      SELECT min(day) AS dlo, max(day) AS dhi,
             min(k) AS klo, max(k) AS khi
      FROM base
    ),
    q AS (
      SELECT day, k, dlo, dhi, klo, khi,
             {qd} AS qd, {qk} AS qk
      FROM base, s
    ),
    {hilbert_sql_ctes("q", "qd", "qk", bits, keep)}
    SELECT CAST(bucket AS BIGINT) AS bucket,
           count(*) AS n_rows,
           min(day) AS day_lo, max(day) AS day_hi,
           min(k) AS key_lo, max(k) AS key_hi,
           (max(day) - min(day) + 1) / (min(dhi) - min(dlo) + 1)
             AS day_extent_frac,
           (max(k) - min(k) + 1) / (min(khi) - min(klo) + 1)
             AS key_extent_frac
    FROM (SELECT (hd >> {shift}) AS bucket, day, k, dlo, dhi, klo, khi
          FROM hil)
    GROUP BY 1
    """


@query("hilbert_layout_stats", oracle=_hilbert_oracle())
def hilbert_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout quality over the same (ship-day, partkey)
    plane as ``zorder_layout_stats`` — the better-locality curve
    (Databricks liquid clustering's choice): same quantization, same
    64 fixed-width buckets, directly comparable envelopes. The
    per-bit rotate/flip steps are STAGED projections (linear plan
    growth; a nested-expression spelling is ~4^bits nodes) and the
    oracle chains one generated CTE per bit from the same
    arithmetic. See ``operators/layout.with_hilbert_value``."""
    from pg2kafka_spark.operators import layout as L

    li = load_table(spark, "lineitem", sf_dir)
    day = F.datediff(F.col("l_shipdate"), F.lit("1970-01-01"))
    return L.hilbert_bucket_stats(
        li, day=day, key=F.col("l_partkey"), bits=8, bucket_bits=6
    )


@query(
    "corpus_report",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source,
             string_split(text, ' ') AS toks,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    per AS (
      SELECT doc_id, lang, source, fp,
             len(toks) AS n_tok,
             len(list_distinct(toks)) * 1.0 / len(toks) AS ttr
      FROM t
    )
    SELECT count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           count(DISTINCT fp) AS n_unique_docs,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources,
           CAST(count(*) FILTER (WHERE n_tok >= 30 AND ttr >= 0.3)
                AS BIGINT) AS n_pass_gates,
           round(min(ttr), 6) AS min_ttr,
           round(max(ttr), 6) AS max_ttr
    FROM per
    """,
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus report card — the health summary a pipeline
    operator reads before launching a run: doc/token totals,
    exact-dup level (distinct fingerprints vs docs), language/source
    coverage, and how much survives the standard quality gates. One
    aggregate pass over a map-only feature projection (two-level
    distinct counts on uniform keys); at 100 TB swap the exact
    distincts for the portable HLL sketches (operators/sketch) —
    identical query shape."""
    docs = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    n_tok = X.token_count(t)
    ttr = X.unique_token_count(t) * 1.0 / n_tok
    per = docs.select(
        "doc_id", "lang", "source",
        X.fingerprint(t).alias("fp"),
        n_tok.alias("n_tok"),
        ttr.alias("ttr"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.countDistinct("fp").alias("n_unique_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(
            ((F.col("n_tok") >= 30) & (F.col("ttr") >= 0.3)).cast("long")
        ).alias("n_pass_gates"),
        F.round(F.min("ttr"), 6).alias("min_ttr"),
        F.round(F.max("ttr"), 6).alias("max_ttr"),
    )


@query(
    "source_epoch_allocation",
    oracle="""
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(length(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per),
    alloc AS (
      SELECT p.source, p.n_docs, p.n_tokens,
             least(CAST(4 AS BIGINT), CAST(100000 AS BIGINT) // t.t)
               AS full_epochs,
             t.t AS tot
      FROM per p CROSS JOIN tot t
    )
    SELECT source, n_docs, n_tokens, full_epochs,
           CASE WHEN full_epochs >= 4 THEN CAST(0 AS BIGINT)
                ELSE (greatest(CAST(0 AS BIGINT),
                               CAST(100000 AS BIGINT) - full_epochs * tot)
                      * n_tokens) // tot END AS extra_tokens,
           n_tokens * full_epochs
             + (CASE WHEN full_epochs >= 4 THEN CAST(0 AS BIGINT)
                ELSE (greatest(CAST(0 AS BIGINT),
                               CAST(100000 AS BIGINT) - full_epochs * tot)
                      * n_tokens) // tot END) AS total_tokens
    FROM alloc
    """,
)
def source_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch allocation (r8; Muennighoff et al.
    2023): how a 100k-token budget fills from the corpus — every
    source contributes the same number of whole epochs of its unique
    tokens (capped at 4, past which repetition stops paying), and
    the remainder splits proportionally as a partial epoch. Pure
    integer arithmetic over one tiny per-source aggregate — the
    auditable pretraining data plan. See
    ``operators/assembly.source_epoch_allocation``."""
    from pg2kafka_spark.operators.assembly import source_epoch_allocation as A

    docs = load_table(spark, "documents", sf_dir)
    return A(docs, token_budget=100_000, max_epochs=4)


@query(
    "simhash_near_pairs_portable",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    hashed AS (
      SELECT doc_id, list_transform(toks, s -> {_ROLL}) AS xs
      FROM t WHERE length(toks) >= 1
    ),
    sk AS (
      SELECT doc_id, CAST(({_SIMHASH_BIT_TERMS}) AS BIGINT) AS simhash
      FROM hashed
    ),
    blk AS (SELECT doc_id, simhash, simhash >> 18 AS block FROM sk),
    ok AS (SELECT block FROM blk GROUP BY block HAVING count(*) <= 1000)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.block AS block,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM blk a
    JOIN blk b ON a.block = b.block AND a.doc_id < b.doc_id
    JOIN ok ON ok.block = a.block
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_near_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-PIPELINE portable twin of the rows-only
    ``simhash_near_pairs`` (r8): sketch → top-6-bit prefix blocking →
    1000-cap hot blocks → hamming ≤ 3 verify, every stage in
    engine-portable integer algebra, so the driver hash-checks the
    BLOCKING JOIN and the distance verify — not just the signature
    bits. Same plan shape as the production xxhash path (one uniform
    block-key shuffle, capped per-block expansion). See
    ``operators/dedup.simhash_pairs_portable``."""
    docs = load_table(spark, "documents", sf_dir)
    return D.simhash_pairs_portable(docs)


def _lsh_pairs_portable_oracle(
    k: int = 8, band_rows: int = 2, cap: int = 1000
) -> str:
    from pg2kafka_spark.operators.dedup import (
        PORTABLE_MINHASH_MOD as MOD,
        PORTABLE_MINHASH_SALT as SALT,
    )

    roll = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(list_filter(string_split_regex(s, ''), x -> x <> ''),"
        " x -> CAST(ord(x) AS BIGINT))),"
        f" (a, b) -> (a * 131 + b) % {MOD})"
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ),
    sh3 AS (
      SELECT doc_id,
             list_transform(range(1, length(toks) - 1),
               j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2]) AS shs
      FROM t WHERE length(toks) >= 3
    ),
    hashed AS (
      SELECT doc_id, list_transform(shs, s -> {roll}) AS xs FROM sh3
    ),
    mh AS (
      SELECT doc_id, u.i AS i,
             list_min(list_transform(xs,
               x -> ((2*u.i+1)*x + (u.i*{SALT}) % {MOD}) % {MOD})) AS minhash
      FROM hashed CROSS JOIN (SELECT unnest(range({k})) AS i) u
    ),
    bands AS (
      SELECT doc_id, i // {band_rows} AS band,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i) AS bkey
      FROM mh GROUP BY 1, 2
    ),
    bcap AS (
      SELECT band, bkey FROM bands
      GROUP BY band, bkey HAVING count(*) <= {cap}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                  AND a.doc_id < b.doc_id
      JOIN bcap c ON c.band = a.band AND c.bkey = a.bkey
    )
    SELECT c.id_a, c.id_b,
           CAST(count(*) FILTER (WHERE ma.minhash = mb.minhash) AS BIGINT)
             AS n_agree
    FROM cand c
    JOIN mh ma ON ma.doc_id = c.id_a
    JOIN mh mb ON mb.doc_id = c.id_b AND mb.i = ma.i
    GROUP BY 1, 2
    """


@query("minhash_lsh_pairs_portable", oracle=_lsh_pairs_portable_oracle())
def minhash_lsh_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-PIPELINE portable twin of the rows-only
    ``minhash_lsh_pairs`` (r8): portable-minhash band keys → bucket
    self-join → 1000-cap hot buckets → distinct candidate pairs →
    per-pair signature-agreement count, every stage hash-checked — so
    the BANDED DISCOVERY itself (bucket membership, the cap, the
    Jaccard-estimate numerator) carries oracle evidence, not just the
    signature values. Identical plan shape to the xxhash production
    path. See ``operators/dedup.minhash_lsh_pairs_portable``."""
    docs = load_table(spark, "documents", sf_dir)
    return D.minhash_lsh_pairs_portable(docs)


# ---------------------------------------------------------------------------
# Tokenizer-training / corpus-overlap statistics (r10)
# ---------------------------------------------------------------------------


@query(
    "corpus_vocabulary",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                    ' ')) AS term
      FROM documents
    ),
    cnt AS (SELECT term, count(*) AS term_count FROM tok GROUP BY 1),
    tot AS (SELECT CAST(sum(term_count) AS BIGINT) AS t FROM cnt),
    top AS (
      SELECT term, term_count,
             CAST(row_number() OVER (ORDER BY term_count DESC, term) AS BIGINT)
               AS rnk,
             CAST(sum(term_count) OVER (ORDER BY term_count DESC, term
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_count
      FROM cnt
      QUALIFY rnk <= 200
    )
    SELECT term, term_count, rnk, cum_count,
           CAST((CAST(cum_count AS HUGEINT) * 1000000) // t AS BIGINT)
             AS coverage_micros
    FROM top CROSS JOIN tot
    """,
)
def corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training vocab build: global term counts, top-200
    terms, cumulative corpus-coverage in exact micro-fractions
    (DECIMAL(38) — cum·1e6 overflows int64 at real corpus size).
    One uniform-key shuffle + TakeOrderedAndProject; the rank/cumsum
    window sees 200 rows. See ``operators/text.vocabulary_top_terms``.
    """
    docs = load_table(spark, "documents", sf_dir)
    return X.vocabulary_top_terms(docs)


@query(
    "bpe_pair_counts",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                    ' ')) AS w
      FROM documents
    ),
    wc AS (SELECT w, count(*) AS c FROM words WHERE length(w) >= 2 GROUP BY 1),
    pos AS (SELECT w, c, unnest(generate_series(1, length(w) - 1)) AS i FROM wc),
    agg AS (
      SELECT substr(w, i, 1) AS pair_a, substr(w, i + 1, 1) AS pair_b,
             CAST(sum(c) AS BIGINT) AS total_count,
             CAST(count(DISTINCT w) AS BIGINT) AS n_vocab_words
      FROM pos GROUP BY 1, 2
    )
    SELECT pair_a, pair_b, total_count, n_vocab_words,
           CAST(row_number() OVER (ORDER BY total_count DESC, pair_a, pair_b)
                AS BIGINT) AS rnk
    FROM agg
    ORDER BY rnk
    LIMIT 50
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-merge-step BPE pair statistics: corpus-weighted adjacent
    character-pair counts — the argmax a BPE trainer takes per merge.
    Pair explosion runs over the DISTINCT vocabulary weighted by word
    counts, never over corpus token occurrences (the 100 TB shape).
    See ``operators/text.bpe_pair_stats``."""
    docs = load_table(spark, "documents", sf_dir)
    return X.bpe_pair_stats(docs)


@query(
    "source_minhash_overlap",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_transform(range(1, length(toks) - 1),
               j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2]) AS shs
      FROM t WHERE length(toks) >= 3
    ),
    hashed AS (
      SELECT doc_id,
             list_transform(shs, s ->
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(
                     list_filter(string_split_regex(s, ''), x -> x <> ''),
                     x -> CAST(ord(x) AS BIGINT))),
                 (a, b) -> (a * 131 + b) % 2147483647)) AS xs
      FROM sh
    ),
    sig AS (
      SELECT doc_id, u.i AS i,
             list_min(list_transform(xs,
               x -> ((2*u.i+1)*x + (u.i*2654435761) % 2147483647) % 2147483647
             )) AS minhash
      FROM hashed CROSS JOIN (SELECT unnest(range(8)) AS i) u
    ),
    persrc AS (
      SELECT d.source AS source, s.i, min(s.minhash) AS mh
      FROM sig s JOIN documents d USING (doc_id)
      GROUP BY 1, 2
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
             AS n_match,
           CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE) / 8
             AS jaccard_est
    FROM persrc a
    JOIN persrc b ON a.i = b.i AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def source_minhash_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source overlap matrix from MERGED MinHash sketches —
    min-fold associativity makes a source's signature exactly the
    signature of its shingle union, so pairwise source Jaccard is
    estimated from |sources|·k sketch rows instead of a quadratic
    cross-source document join. The whole path (sketch, merge,
    estimate) is the portable hash family, hence ANSI-reproducible.
    See ``operators/dedup.source_minhash_overlap``."""
    docs = load_table(spark, "documents", sf_dir)
    return D.source_minhash_overlap(docs)


@query(
    "source_quality_drift",
    oracle="""
    WITH h AS (
      SELECT source, text,
             ((doc_id % 2147483647) * 2654435761) % 2147483647 % 2 = 0 AS a
      FROM documents
    ),
    cells AS (
      SELECT source,
             least(15, length(string_split(text, ' ')) // 32) AS bin,
             CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
      FROM h GROUP BY 1, 2
    ),
    tots AS (
      SELECT source, CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b
      FROM cells GROUP BY 1
    ),
    shares AS (
      SELECT c.source, t.n_a, t.n_b,
             CAST((CAST(ca AS HUGEINT) * 1000000) // t.n_a AS BIGINT) AS pa,
             CAST((CAST(cb AS HUGEINT) * 1000000) // t.n_b AS BIGINT) AS pb
      FROM cells c JOIN tots t USING (source)
    )
    SELECT source, n_a, n_b,
           CAST(sum(abs(pa - pb)) // 2 AS BIGINT) AS tv_micros
    FROM shares
    GROUP BY 1, n_a, n_b
    """,
)
def source_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-drift monitor: per-source total-variation distance
    between the token-count distributions of two ingest halves (id
    parity stands in for batch/date) in exact micro-fractions — the
    alarm that a source's crawl moved before quality gates silently
    change their accept rate. One corpus pass to (source, bin) cells;
    everything after runs on |sources|·16 rows. See
    ``operators/text.source_quality_drift``."""
    docs = load_table(spark, "documents", sf_dir)
    return X.source_quality_drift(docs)


# ---------------------------------------------------------------------------
# BPE merge-table training (r11)
# ---------------------------------------------------------------------------


def _bpe_cte_chain(n_merges: int) -> tuple[str, list[str]]:
    """Shared unrolled BPE-trainer CTE chain (the unrolled-Lloyd
    precedent): v0 is the wrapped distinct-word vocabulary (w kept for
    downstream joins); per step k, e{k} explodes adjacent symbol
    pairs, p{k} is the LIMIT-1 argmax, v{k} literal-replaces the
    winning wrapped pair. Returns (cte_sql, per-step pick selects).
    The wrapped-symbol representation (" a  b  c ") makes each merge
    a plain non-overlapping left-to-right string replace on both
    engines — see ``operators/text.bpe_train_merges``."""
    ctes = [
        r"""bwords AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                    ' ')) AS w
      FROM documents
    ),
    v0 AS (
      SELECT w, regexp_replace(w, '(.)', ' \1 ', 'g') AS w2, count(*) AS c
      FROM bwords WHERE length(w) >= 2 GROUP BY 1, 2
    )"""
    ]
    picks = []
    for k in range(1, int(n_merges) + 1):
        ctes.append(f"""e{k} AS (
      SELECT syms, c, unnest(generate_series(1, length(syms) - 1)) AS i
      FROM (SELECT string_split(trim(w2), '  ') AS syms, c FROM v{k-1})
    ),
    p{k} AS (
      SELECT syms[i] AS pair_a, syms[i + 1] AS pair_b,
             CAST(sum(c) AS BIGINT) AS total_count
      FROM e{k} GROUP BY 1, 2
      ORDER BY total_count DESC, pair_a, pair_b LIMIT 1
    ),
    v{k} AS (
      SELECT w, replace(w2, ' ' || pair_a || '  ' || pair_b || ' ',
                        ' ' || pair_a || pair_b || ' ') AS w2, c
      FROM v{k-1} CROSS JOIN p{k}
    )""")
        picks.append(
            f"SELECT CAST({k} AS INT) AS step, pair_a, pair_b,"
            f" pair_a || pair_b AS new_symbol, total_count FROM p{k}"
        )
    return "WITH " + ",\n    ".join(ctes), picks


def _bpe_merge_oracle(n_merges: int = 8) -> str:
    ctes, picks = _bpe_cte_chain(n_merges)
    return ctes + "\n" + "\nUNION ALL\n".join(picks)


def _bpe_compression_oracle(n_merges: int = 8) -> str:
    """Trainer chain + application: (source, word) occurrence counts
    LEFT-join the final vocabulary's per-word symbol count; words the
    trainer never saw (length < 2) are 1 symbol."""
    ctes, _picks = _bpe_cte_chain(n_merges)
    return ctes + f""",
    dwords AS (
      SELECT source,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                    ' ')) AS w
      FROM documents
    ),
    sw AS (SELECT source, w, count(*) AS wc FROM dwords GROUP BY 1, 2),
    ns AS (
      SELECT w, length(string_split(trim(w2), '  ')) AS n_syms
      FROM v{int(n_merges)}
    ),
    sj AS (
      SELECT source, wc, length(sw.w) AS wl, coalesce(n_syms, 1) AS s
      FROM sw LEFT JOIN ns ON sw.w = ns.w
    )
    SELECT source,
           CAST(sum(wc) AS BIGINT) AS n_words,
           CAST(sum(wc * wl) AS BIGINT) AS n_chars,
           CAST(sum(wc * s) AS BIGINT) AS n_symbols,
           CAST((CAST(sum(wc * s) AS HUGEINT) * 1000000)
                // CAST(sum(wc * wl) AS BIGINT) AS BIGINT)
             AS compression_micros
    FROM sj
    GROUP BY 1
    """


@query("bpe_merge_steps", oracle=_bpe_merge_oracle())
def bpe_merge_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table training, 8 merges exactly unrolled: iterate
    (corpus-weighted adjacent-pair count over the DISTINCT vocabulary
    → argmax pair → fuse everywhere via wrapped-literal replace).
    Every iteration runs on vocab-sized data; the corpus is scanned
    once. The merge table — (step, pair, new_symbol, count) — is the
    artifact a subword tokenizer ships. See
    ``operators/text.bpe_train_merges``."""
    docs = load_table(spark, "documents", sf_dir)
    return X.bpe_train_merges(docs, n_merges=8)


@query("bpe_compression_by_source", oracle=_bpe_compression_oracle())
def bpe_compression_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source BPE compression after the 8-merge trained table is
    applied back to the corpus: word/char/symbol totals and the
    symbols-per-char ratio in exact micros — the drift metric telling
    a tokenizer team which ingest source the learned vocabulary no
    longer fits. Application adds NO extra corpus text pass: one
    (source, word) occurrence-count collapse joined to the vocab's
    per-word symbol counts. See
    ``operators/text.bpe_compression_by_source``."""
    docs = load_table(spark, "documents", sf_dir)
    return X.bpe_compression_by_source(docs, n_merges=8)


def _bpe_token_freq_oracle(n_merges: int = 8) -> str:
    """Trainer chain + final-vocab symbol explode, plus atomic
    single-char words (never trained, still tokens)."""
    ctes, _picks = _bpe_cte_chain(n_merges)
    return ctes + f""",
    toks AS (
      SELECT unnest(string_split(trim(w2), '  ')) AS token, c
      FROM v{int(n_merges)}
      UNION ALL
      SELECT w AS token, count(*) AS c
      FROM bwords WHERE length(w) = 1 GROUP BY 1
    )
    SELECT token, CAST(sum(c) AS BIGINT) AS freq
    FROM toks GROUP BY 1
    """


def _bpe_encode_oracle(n_merges: int = 8) -> str:
    """Trainer chain + serving-path encode: every distinct corpus word
    replays the merges in step order (nested scalar-subquery replaces
    over the wrapped form — the oracle's unrolled twin of the Spark
    side's fold over the broadcast merge array), then documents
    reassemble in word order."""
    ctes, _picks = _bpe_cte_chain(n_merges)
    expr = r"regexp_replace(w, '(.)', ' \1 ', 'g')"
    for k in range(1, int(n_merges) + 1):
        expr = (
            f"replace({expr},"
            f" (SELECT ' ' || pair_a || '  ' || pair_b || ' ' FROM p{k}),"
            f" (SELECT ' ' || pair_a || pair_b || ' ' FROM p{k}))"
        )
    return ctes + f""",
    dwords AS (
      SELECT doc_id, xs, unnest(generate_series(1, length(xs))) AS i
      FROM (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                            ' ') AS xs
        FROM documents
      )
    ),
    occ AS (
      SELECT doc_id, xs[i] AS w, i FROM dwords WHERE length(xs[i]) >= 1
    ),
    encw AS (
      SELECT w, {expr} AS w2 FROM (SELECT DISTINCT w FROM occ)
    ),
    enc AS (
      SELECT w, replace(trim(w2), '  ', ' ') AS toks,
             CAST(length(string_split(trim(w2), '  ')) AS BIGINT) AS n_syms
      FROM encw
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_syms) AS BIGINT) AS n_tokens,
           string_agg(toks, ' ' ORDER BY i) AS encoded
    FROM occ JOIN enc USING (w)
    GROUP BY doc_id
    """


@query("bpe_encode_documents", oracle=_bpe_encode_oracle())
def bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING half of the tokenizer: train the 8-merge table,
    then encode every document with it — per-doc word/token counts
    and the full encoded token sequence in word order. Closes the
    tokenizer loop (train -> frequencies -> compression -> ENCODE);
    at production scale the same plan encodes NEW text against a
    persisted merge table. See ``operators/text.bpe_encode``."""
    docs = load_table(spark, "documents", sf_dir)
    merges = X.bpe_train_merges(docs, n_merges=8)
    return X.bpe_encode(docs, merges)


@query("bpe_encode_production", oracle=_bpe_encode_oracle())
def bpe_encode_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION encode kernel under the SAME oracle as
    ``bpe_encode_documents``: the linear-scan pair-ranking replay
    (operators/text.bpe_encode_production — O(len × merges_that_fire)
    per word, merge-table-size-independent, the machine a 30 k-merge
    tokenizer actually ships) must reproduce the fold replay
    byte-for-byte. A hash match here plus the fold's own ⊙ proves the
    two kernels are the same function on real corpus text; the
    trained-table equivalence is additionally pinned at 64 merges in
    tests/test_bpe_production.py."""
    docs = load_table(spark, "documents", sf_dir)
    merges = X.bpe_train_merges(docs, n_merges=8)
    return X.bpe_encode_production(docs, merges)


@query("bpe_token_frequencies", oracle=_bpe_token_freq_oracle())
def bpe_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency table after the 8-merge BPE training — the
    vocab artifact a tokenizer ships: every surviving symbol weighted
    by corpus occurrence, single-char words unioned in atomically.
    One explode of the FINAL (vocab-sized) frame plus a map-only
    short-word count. See ``operators/text.bpe_token_frequencies``."""
    docs = load_table(spark, "documents", sf_dir)
    return X.bpe_token_frequencies(docs, n_merges=8)
