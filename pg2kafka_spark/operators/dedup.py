"""Deduplication operators: exact, bag-of-words, token-shingle Jaccard,
MinHash+LSH, SimHash. (Training-data pipeline extras — SURVEY.md §7 M5.)

Scale design notes (the point of each strategy at 100 TB):

* **exact / bag-of-words** — one hash column + one groupBy on a
  128-bit key: a single shuffle whose keys are uniformly distributed
  (md5), so no skew; map-side partial agg shrinks it further.
* **shingle-Jaccard** — the *verification* path. The shingle self-join
  is quadratic in bucket size; only ever run it on candidate pairs (or
  small corpora). The shingle explode is linear and the join key
  (shingle text) is selective by construction.
* **MinHash+LSH** — the *discovery* path: signature cost is linear,
  banding turns "all pairs above jaccard t" into an equality join on
  (band, band-hash) — shuffle keys are uniform hashes, and bucket
  sizes are bounded w.h.p. Signatures use one xxhash64 per shingle
  plus k affine permutations (wrapping 64-bit arithmetic), not k full
  hashes.
* **SimHash** — per-document 64-bit sketch built entirely inside the
  row (higher-order functions, no explode): hamming-ball lookup via
  bit_count for near-dup at very low cost.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, LongType

from pg2kafka_spark.operators.text import fingerprint, shingles, tokens


#: Persisted sketch/signature intermediates not yet released — see
#: ``release_sketch_caches``.
_PERSISTED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    """Persist (MEMORY_AND_DISK — spills instead of evicting under
    pressure) and TRACK the handle. The sketch intermediates here are
    each consumed 2-3× inside one query, but a long-lived session
    running many queries (the driver executes all of them back to
    back) would otherwise accumulate executor storage indefinitely.
    Suite runners call ``release_sketch_caches()`` between queries;
    releasing early is always safe — Spark just recomputes."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(df)
    return df


def release_sketch_caches() -> None:
    """Unpersist every tracked sketch intermediate plus any graph
    checkpoint state (idempotent)."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
    from pg2kafka_spark.operators.graph import release_graph_state

    release_graph_state()


from contextlib import contextmanager as _contextmanager


@_contextmanager
def sketch_cache_scope():
    """Scope guard for the sketch caches: any signature/sketch table
    persisted inside the ``with`` block is released on exit, so a
    long-lived session (notebook, service) can run LSH/SimHash
    queries without accruing executor storage. Suite runners
    (bench.py, tools/check_parity.py) release between queries; this
    is the same discipline as a context manager::

        with sketch_cache_scope():
            minhash_lsh_pairs(docs).count()
        # storage empty here — callers must materialize INSIDE the
        # scope (DataFrames are lazy; consuming one after exit just
        # recomputes without the cache, which is safe but slower)
    """
    from pg2kafka_spark.operators import graph as _graph

    n_sketch = len(_PERSISTED)
    n_graph = len(_graph._TRACKED)
    try:
        yield
    finally:
        # release ONLY what was persisted inside the scope: a caller
        # (or an earlier test in a shared session) may still be
        # consuming tables it persisted before entering
        while len(_PERSISTED) > n_sketch:
            _PERSISTED.pop().unpersist()
        while len(_graph._TRACKED) > n_graph:
            sc, rid = _graph._TRACKED.pop()
            _graph._unpersist_ids(sc, {rid})


# _spread is the historical internal name; the implementation moved to
# operators/scale.py (r14) so the layout/profile/similarity kernels can
# share it.
from pg2kafka_spark.operators.scale import (  # noqa: E402
    spread_small_input as _spread,
)


# ---------------------------------------------------------------------------
# Exact / fingerprint dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of every exact-duplicate group
    (after whitespace/case normalization). One uniform-key shuffle."""
    w = Window.partitionBy(fingerprint(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW batch against an already-ingested corpus — the
    daily-ingest shape: ``seen_fingerprints`` is the (fp) table the
    pipeline maintains (md5 of normalized text, one row per kept doc),
    ``new_docs`` the incoming batch. Keeps batch docs whose
    fingerprint is unseen, lowest-id representative within the batch.

    Plan: one within-batch window on the uniform fp key + one
    LEFT ANTI join against the fingerprint store. At 100 TB the store
    is bucketed/partitioned by fp so the anti-join co-locates; the
    batch side is small by construction. Callers append
    ``result.select(fp)`` back to the store afterwards — the operator
    itself is pure.
    """
    fresh = exact_dedup(new_docs, text_col, id_col).withColumn(
        "__fp", fingerprint(F.col(text_col))
    )
    seen = seen_fingerprints.select(F.col("fp").alias("__fp"))
    return fresh.join(seen, "__fp", "left_anti").drop("__fp")


# ---------------------------------------------------------------------------
# Shingle Jaccard (exact near-dup verification)
# ---------------------------------------------------------------------------


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    normalize: bool = False,
) -> DataFrame:
    """(id, shingle) pairs, distinct per document. ``normalize=True``
    tokenizes the canonical form (lowercase, whitespace-collapsed) —
    pass it when the shingles must agree with the normalized-text
    minhash family (``portable_band_keys``), so LSH recall and
    Jaccard verification share one token contract."""
    from pg2kafka_spark.operators.text import normalized_text

    t = normalized_text(F.col(text_col)) if normalize else F.col(text_col)
    # Stage the token split as its OWN projection under the Generate
    # (the minhash __hp precedent, test_plans.py): inlined, the
    # split(text) sits INSIDE the shingle lambda and an interpreted
    # (non-subexpression-eliminated) evaluation re-splits the whole
    # document per element — O(tokens²) per doc, the 140×-CPU
    # row-local stalls adjudicated in BASELINE.md (r12). Staged, every
    # evaluation mode computes the split once per row; __tk is
    # non-cheap and multiply-referenced, so CollapseProject keeps it.
    base = _spread(df.select(id_col, text_col), key=id_col).select(
        F.col(id_col), tokens(t).alias("__tk")
    )
    return base.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles(F.col("__tk"), n))
        ).alias("shingle"),
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """All document pairs with shingle-set Jaccard ≥ threshold.

    Exact formulation: |A∩B| via the shingle equality join, |A∪B| =
    |A|+|B|−|A∩B|. Quadratic in per-shingle frequency — at scale, feed
    this only LSH candidates (``minhash_lsh_pairs``) or pre-bucketed
    slices.
    """
    # consumed three times (sizes + both join sides) — persist beats
    # re-running the tokenize/shingle pass per consumer. The join key
    # is xxhash64(shingle), not the shingle string: 8-byte uniform
    # shuffle keys instead of ~20-byte strings (collision odds over
    # |shingles|² pairs are ≈ 2⁻⁶⁴·|pairs| — vanishing).
    sh = _persist(
        shingle_sets(df, text_col, id_col, n)
        .select(id_col, F.xxhash64("shingle").alias("shingle_h"))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle_h") == F.col("b.shingle_h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("nb"))
    out = (
        common.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn("jaccard", F.col("common") / (F.col("na") + F.col("nb") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "common", "na", "nb", "jaccard")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE61 = (1 << 61) - 1


_POW31 = 1 << 31


def _permutation_params(num_hashes: int, seed: int = 42) -> tuple[list[int], list[int]]:
    rng = random.Random(seed)
    a = [rng.randrange(1, _POW31) for _ in range(num_hashes)]
    b = [rng.randrange(0, _POW31) for _ in range(num_hashes)]
    return a, b


def shingle_hashes(text: Column, shingle_n: int = 3) -> Column:
    """``array<bigint>``: one ``xxhash64`` per *distinct* shingle,
    reduced mod 2^31 so downstream affine permutations stay < 2^62
    (ANSI-safe). Evaluated once per row in a plain projection —
    keeping the string hashing out of any nested lambda is what makes
    the pass linear instead of k× re-evaluated.

    No longer on the MinHash path (the fused kernel in
    ``_minhash_from_tokens_udf`` composes shingle hashes numerically —
    building ~n_tokens shingle STRINGS per row in an interpreted HOF
    was ~10× the cost of everything else in the signature pass); kept
    as the string-faithful shingle-hash expression for exact/oracle
    formulations.

    CAUTION (r12): pass a pre-staged token COLUMN's text, or prefer
    ``shingle_sets``/``shingle_hashes_from_pairs`` — calling this with
    an inline text expression puts the ``split`` inside the shingle
    lambda, which an interpreted (non-subexpression-eliminated)
    evaluation re-runs per element: O(tokens²) per document (the
    row-local stall mechanism adjudicated in BASELINE.md)."""
    return F.transform(
        F.array_distinct(shingles(tokens(text), shingle_n)),
        lambda s: F.pmod(F.xxhash64(s), F.lit(_POW31)),
    )


def _minhash_udf(num_hashes: int, seed: int):
    """Arrow-batched signature kernel: k affine permutations
    ``(a_i*h + b_i) mod (2^61-1)`` folded with a segmented min.

    Interpreted JVM higher-order functions re-evaluate their input
    lambda tree per outer element (no CSE), which made the pure-column
    formulation O(k × shingle-string-builds) per row — the dominant
    cost of round 1's benchmark. numpy does the same integer math
    (exact: products < 2^62 fit int64) over the whole Arrow batch.
    Rows with NULL/empty shingle sets yield the sentinel 2^61-1 in
    every slot; callers that band must filter them out first.
    """
    a_params, b_params = _permutation_params(num_hashes, seed)
    a_np = np.array(a_params, dtype=np.int64)
    b_np = np.array(b_params, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def sig(hs: pd.Series) -> pd.Series:
        arrs = [
            np.asarray(x, dtype=np.int64) if x is not None else np.empty(0, np.int64)
            for x in hs
        ]
        lens = np.array([len(x) for x in arrs], dtype=np.int64)
        out = np.full((len(arrs), num_hashes), _MERSENNE61, dtype=np.int64)
        nonempty = lens > 0
        if nonempty.any():
            h_all = np.concatenate([x for x in arrs if len(x)])
            seg = np.zeros(int(nonempty.sum()), dtype=np.int64)
            seg[1:] = np.cumsum(lens[nonempty])[:-1]
            for i in range(num_hashes):
                v = (a_np[i] * h_all + b_np[i]) % _MERSENNE61
                out[nonempty, i] = np.minimum.reduceat(v, seg)
        return pd.Series(list(out))

    return sig


#: Odd mixing constants for the in-kernel shingle-hash composition.
#: The first three are fixed (xxhash-style primes) so existing n≤3
#: signatures stay byte-stable; larger n extends the family
#: deterministically via _shingle_constants.
_SHINGLE_C = (0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9)


def _shingle_constants(n: int) -> tuple[int, ...]:
    """First ``n`` odd 64-bit mixing constants: the fixed base tuple,
    extended for arbitrary shingle width by a golden-ratio LCG (round-5
    advice: indexing the 3-tuple raised IndexError inside the executor
    for shingle_n > 3 — a silent API regression vs the string-shingle
    path, which supported any n)."""
    if n <= len(_SHINGLE_C):
        return _SHINGLE_C[:n]
    out = list(_SHINGLE_C)
    x = _SHINGLE_C[-1]
    mask = (1 << 64) - 1
    while len(out) < n:
        x = (x * 0x9E3779B97F4A7C15 + 0xD1B54A32D192ED03) & mask
        out.append(x | 1)
    return tuple(out)


def _minhash_from_tokens_udf(num_hashes: int, shingle_n: int, seed: int):
    """Fused shingle-compose + MinHash Arrow kernel over per-token
    xxhash64 values.

    The round-3 signature pass built every shingle STRING in an
    interpreted JVM higher-order function (concat of ~3 tokens ×
    ~n_tokens per row) before hashing — measured ~20 s for 50k docs,
    dwarfing the numpy permutation fold. Here the JVM side only emits
    one xxhash64 per token (a single cheap ``transform``); the n-gram
    hash is composed NUMERICALLY in the kernel — one multiply-add per
    shifted lane over the whole Arrow batch — and two facts remove
    all per-row Python work:

    * windows that straddle row boundaries are masked out by segment
      arithmetic, so composition runs on the one concatenated array;
    * MinHash needs no ``array_distinct``: duplicate shingles cannot
      change a minimum, so the multiset is folded directly
      (``np.minimum.reduceat`` over per-row segments).

    Same output contract as ``_minhash_udf``: k int64 per row, empty
    token lists (callers filter ``size >= shingle_n``) never reach
    the kernel. The hash family differs from the string formulation
    (values are not comparable across the two), which only rows-only
    consumers observe; recall/estimate tests re-validate it.
    """
    a_params, b_params = _permutation_params(num_hashes, seed)
    a_np = np.array(a_params, dtype=np.int64)
    b_np = np.array(b_params, dtype=np.int64)
    c = [
        np.int64(x - (1 << 64) if x >= 1 << 63 else x)
        for x in _shingle_constants(shingle_n)
    ]

    @F.pandas_udf(ArrayType(LongType()))
    def sig(hs: pd.Series) -> pd.Series:
        arrs = [
            np.asarray(x, dtype=np.int64) if x is not None else np.empty(0, np.int64)
            for x in hs
        ]
        lens = np.array([len(x) for x in arrs], dtype=np.int64)
        out = np.full((len(arrs), num_hashes), _MERSENNE61, dtype=np.int64)
        m = np.maximum(lens - (shingle_n - 1), 0)  # shingles per row
        nonempty = m > 0
        if not nonempty.any():
            return pd.Series(list(out))
        h_all = np.concatenate([x for x in arrs if len(x)])
        with np.errstate(over="ignore"):
            # wrapping int64 multiply-add per shifted lane
            comp = c[0] * h_all[: len(h_all) - (shingle_n - 1)]
            for j in range(1, shingle_n):
                comp = comp + c[j] * h_all[j : len(h_all) - (shingle_n - 1) + j]
        # mask windows that cross a row boundary, then re-segment
        starts = np.zeros(int((lens > 0).sum()), dtype=np.int64)
        starts[1:] = np.cumsum(lens[lens > 0])[:-1]
        keep = np.zeros(len(comp), dtype=bool)
        mi = m[lens > 0]
        for s, k in zip(starts, mi):  # O(rows), not O(tokens)
            if k > 0:
                keep[s : s + k] = True
        sh = (comp[keep] & np.int64(0x7FFFFFFF)).astype(np.int64)
        seg = np.zeros(int(nonempty.sum()), dtype=np.int64)
        seg[1:] = np.cumsum(m[nonempty])[:-1]
        for i in range(num_hashes):
            v = (a_np[i] * sh + b_np[i]) % _MERSENNE61
            out[nonempty, i] = np.minimum.reduceat(v, seg)
        return pd.Series(list(out))

    return sig


def minhash_signature(
    text: Column, num_hashes: int = 64, shingle_n: int = 3, seed: int = 42
) -> Column:
    """k-element MinHash signature as ``array<bigint>`` — the fused
    token-hash → in-kernel shingle composition → k affine permutations
    path (same family as ``minhash_lsh_pairs``; docs shorter than
    ``shingle_n`` tokens get the all-sentinel signature)."""
    return _minhash_from_tokens_udf(num_hashes, shingle_n, seed)(token_hashes(text))


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    return df.withColumn(
        "minhash", minhash_signature(F.col(text_col), num_hashes, shingle_n, seed)
    )


def lsh_hot_buckets(
    banded: DataFrame, max_bucket_size: int, *key_cols: str
) -> DataFrame:
    """Diagnostic companion to the hot-bucket cap: the (key, size)
    rows the cap will drop, so operators can report dropped mass
    instead of silently truncating. One groupBy on the same uniform
    keys the pair join uses."""
    return (
        banded.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )


def _cap_buckets(banded: DataFrame, max_bucket_size: int | None, *key_cols: str) -> DataFrame:
    """Drop rows in over-sized LSH buckets BEFORE the per-bucket pair
    expansion. A bucket of B members emits O(B²) candidate pairs, and
    hash uniformity does NOT bound B for the one input a web corpus
    guarantees: identical/boilerplate documents share their entire
    signature, so a boilerplate cluster of B copies lands in one
    bucket per band → bands·B²/2 pairs. Those clusters are by
    definition exact duplicates, which the cheaper ``exact_dedup``
    pass (one uniform-key shuffle) already catches — dropping the
    bucket loses no information an LSH pass is needed for.

    Shape: aggregate the hot KEYS (count per bucket, keep only keys
    over the cap — a tiny or empty set, bounded by N/cap) and
    broadcast anti-join them out. The main path gains only a map-side
    filter; a window-count formulation instead re-shuffled BOTH self-
    join sides and destroyed the band table's size stats (measured
    2-4× regression on the sf0.1 bench). Use ``lsh_hot_buckets`` to
    report what was dropped.
    """
    if max_bucket_size is None:
        return banded
    hot = lsh_hot_buckets(banded, max_bucket_size, *key_cols).select(*key_cols)
    return banded.join(F.broadcast(hot), list(key_cols), "left_anti")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over MinHash signatures,
    with the signature-agreement Jaccard estimate attached.

    bands=16 × rows=4 over k=64 → catches jaccard ≳ 0.5 w.h.p.
    Plan: signature (map-only) → explode k/r band keys → shuffle on
    uniform (band, hash64) keys → hot-bucket cap → per-bucket pair
    expansion → distinct. Banding hashes are uniform for *distinct*
    near-dup content, but identical/boilerplate docs share whole
    signatures and concentrate in one bucket per band, so bucket size
    is NOT bounded w.h.p. on real corpora — ``max_bucket_size``
    (default 1000) drops those buckets before the quadratic step (see
    ``_cap_buckets``; their members are exact-dup clusters that
    ``exact_dedup`` handles). Pass ``None`` to disable on pre-exact-
    deduped input.
    """
    rows = num_hashes // bands
    # Signature once per doc; docs with no shingles (< n tokens) are
    # dropped — they have no shingle set to be near-duplicates of.
    # persist(): the signature table is consumed three times (banding
    # + both sides of the pair join-back); recomputing the shingle
    # pass per consumer tripled the cost. At scale sigs are 512 B/doc
    # — the one intermediate in this pipeline worth caching.
    # JVM side emits only per-token xxhash64 (cheap transform); the
    # shingle composition + min-fold is the fused Arrow kernel — see
    # _minhash_from_tokens_udf for why this beats building shingle
    # strings row-side by ~10×.
    sig = _persist(
        _spread(df.select(id_col, text_col), key=id_col)
        .select(F.col(id_col), token_hashes(F.col(text_col)).alias("__th"))
        .filter(F.size("__th") >= shingle_n)
        .select(
            id_col,
            _minhash_from_tokens_udf(num_hashes, shingle_n, seed)(
                F.col("__th")
            ).alias("minhash"),
        )
    )
    # Band keys only — the self-join shuffles (id, band, bucket), never
    # the 64-element signature (16× smaller shuffle than carrying it).
    banded = sig.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.struct(
                    bidx.alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", F.transform(
                            F.slice(F.col("minhash"), bidx * rows + 1, rows),
                            lambda v: v.cast("string"),
                        ))
                    ).alias("bucket"),
                ),
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bucket")
    banded = _cap_buckets(banded, max_bucket_size, "band", "bucket")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()  # dedup candidates BEFORE scoring: a pair colliding
        # in m bands is scored once, not m times
    )
    sig_a = sig.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("__sig_a"))
    sig_b = sig.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("__sig_b"))
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with(F.col("__sig_a"), F.col("__sig_b"), lambda x, y: x == y),
                        lambda eq: eq,
                    )
                )
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


@F.pandas_udf(LongType())
def _simhash_from_hashes(hs: pd.Series) -> pd.Series:
    """64-bit sketch from per-token xxhash64 values: per bit the vote
    is +1/−1 per token occurrence; bit set iff the vote sum is
    positive. Segmented numpy reduction over the Arrow batch — exact
    integer math, identical values to a per-row loop."""
    arrs = [
        np.asarray(x, dtype=np.int64) if x is not None else np.empty(0, np.int64)
        for x in hs
    ]
    lens = np.array([len(x) for x in arrs], dtype=np.int64)
    out = np.zeros(len(arrs), dtype=np.uint64)
    nonempty = lens > 0
    if nonempty.any():
        h_all = np.concatenate([x for x in arrs if len(x)]).view(np.uint64)
        seg = np.zeros(int(nonempty.sum()), dtype=np.int64)
        seg[1:] = np.cumsum(lens[nonempty])[:-1]
        acc = np.zeros(int(nonempty.sum()), dtype=np.uint64)
        for i in range(64):
            votes = (((h_all >> np.uint64(i)) & np.uint64(1)).astype(np.int64) * 2 - 1)
            bit = np.add.reduceat(votes, seg) > 0
            acc |= bit.astype(np.uint64) << np.uint64(i)
        out[nonempty] = acc
    return pd.Series(list(out.view(np.int64)))


def token_hashes(text: Column) -> Column:
    """One xxhash64 per token occurrence (duplicates kept — SimHash
    weights by term frequency)."""
    return F.transform(tokens(text), lambda tk: F.xxhash64(tk))


def simhash(text: Column) -> Column:
    """64-bit SimHash of the given text column (any column expression
    — the round-1 version hardcoded a column named 'text')."""
    return _simhash_from_hashes(token_hashes(text))


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("simhash", simhash(F.col(text_col)))


def _rotl64(c: Column, k: int) -> Column:
    """64-bit left rotation as a column expression (k in 1..63).
    shiftleft on BIGINT drops overflow bits (two's-complement wrap),
    shiftrightunsigned brings the high bits around — together an
    exact bit rotation. Java shifts are mod 64, so k=0/64 must be
    handled by the caller (identity)."""
    return F.shiftleft(c, k).bitwiseOR(F.shiftrightunsigned(c, 64 - k))


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_bits: int | None = None,
    max_block_size: int | None = 1000,
    rotations: int = 1,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Blocking: pairs are only compared when they share the top
    ``prefix_bits`` of the sketch (one equality-join shuffle per
    rotation). A single rotation misses a pair whose ≤ ``max_hamming``
    differing bits all land in the top ``prefix_bits``; passing
    ``rotations=r`` re-blocks on ``r`` evenly-spaced bit rotations of
    the sketch and unions the candidates (a pair with ≤ h flipped
    bits shares SOME unrotated prefix whenever the flips leave a
    prefix_bits-wide window clean — with r = 64/prefix_bits the
    windows tile the sketch, so any pair with < 64/prefix_bits flips
    is caught by pigeonhole: full recall for max_hamming <
    64/prefix_bits). The sketch table is persisted once; each
    rotation is one more uniform-key shuffle of the (id, block)
    projection — cost is r × the single-rotation join, the standard
    recall/cost dial at 100 TB.

    Identical docs share the whole sketch, so one boilerplate cluster
    collapses into one block (in every rotation) and the per-block
    pair expansion goes quadratic — ``max_block_size`` drops such
    blocks before each join (same rationale as ``minhash_lsh_pairs``:
    their members are exact dups, ``exact_dedup``'s job). ``None``
    disables.

    ``prefix_bits=None`` (default) sizes the block keyspace to the
    corpus (floor 16, cap 40 — a prefix must stay < 64 bits): a fixed
    2^16 keyspace would make ``max_block_size`` drop AVERAGE blocks of
    unrelated docs once N > cap·65536 (~65M docs) — silent 0-recall,
    the round-5 advice finding. The floor keeps small-corpus behavior
    (and the rotation recall guarantee for the default max_hamming)
    identical; when auto-scaling does raise the prefix at huge N,
    raise ``rotations`` alongside if you need the ``max_hamming <
    64/prefix_bits`` pigeonhole guarantee rather than probabilistic
    recall.
    """
    # persist: the sketch table feeds both sides of every rotation's
    # self-join; without it the token-hash + UDF pass runs 2r times
    sh = _persist(
        with_simhash(_spread(df.select(id_col, text_col), key=id_col), text_col)
        .select(id_col, "simhash")
    )
    if prefix_bits is None:
        if max_block_size is not None:
            from pg2kafka_spark.operators.similarity import scaled_keyspace_bits

            prefix_bits = scaled_keyspace_bits(sh.count(), max_block_size, 16, 40)
        else:
            prefix_bits = 16
    return simhash_pairs_from_sketches(
        sh, max_hamming, id_col, prefix_bits, max_block_size, rotations
    )


def simhash_pairs_from_sketches(
    sh: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    prefix_bits: int = 16,
    max_block_size: int | None = 1000,
    rotations: int = 1,
) -> DataFrame:
    """The blocking/join half of :func:`simhash_near_pairs`, over a
    precomputed ``(id, simhash)`` table — separated so the rotation
    recall guarantee is testable on handcrafted sketches."""
    out = None
    for r in range(rotations):
        k = (r * 64) // rotations
        rot = F.col("simhash") if k == 0 else _rotl64(F.col("simhash"), k)
        blocked = sh.withColumn("block", F.shiftrightunsigned(rot, 64 - prefix_bits))
        blocked = _cap_buckets(blocked, max_block_size, "block")
        a, b = blocked.alias("a"), blocked.alias("b")
        pairs = a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        out = pairs if out is None else out.unionByName(pairs)
    result = out.filter(F.col("hamming") <= max_hamming)
    if rotations > 1:
        # a pair can collide in several rotations; hamming is a pure
        # function of the pair, so distinct dedups exactly
        result = result.distinct()
    return result


__all__ = [
    "release_sketch_caches",
    "sketch_cache_scope",
    "exact_dedup",
    "incremental_exact_dedup",
    "shingle_sets",
    "jaccard_pairs",
    "shingle_hashes",
    "token_hashes",
    "minhash_signature",
    "with_minhash",
    "minhash_lsh_pairs",
    "lsh_hot_buckets",
    "simhash",
    "with_simhash",
    "simhash_near_pairs",
    "simhash_pairs_from_sketches",
    "token_hash_pairs",
    "shingle_hashes_from_pairs",
    "shingle_rolling_hashes",
    "minhash_signatures_portable",
    "simhash_portable",
]


# Universal-hash family for the PORTABLE minhash below: odd multiplier
# a_i, offset b_i from a fixed odd constant (Knuth multiplicative), all
# arithmetic within int64 (a_i*x < 2^36 for x < 2^31, k <= 16).
PORTABLE_MINHASH_MOD = (1 << 31) - 1
PORTABLE_MINHASH_SALT = 2654435761


def token_hash_pairs(text: Column) -> Column:
    """``array<struct<h:bigint,p:bigint>>``: per token of the
    NORMALIZED text (lowercase, whitespace-collapsed, trimmed —
    normalization happens once per document), the pair
    ``(rolling hash of the token, 131^len mod M)``. One char pass per
    token — this is the only O(doc_chars) expression in the portable
    shingle pipeline, so callers should evaluate it ONCE per row
    (stage it as a real column) before composing shingles."""
    from pg2kafka_spark.operators.text import (
        ROLLING_BASE,
        ROLLING_MOD,
        normalized_text,
    )

    mod = F.lit(ROLLING_MOD)
    toks = F.split(normalized_text(text), " ")
    # one char pass per token: h = fold(h*131 + code), p = 131^len
    return F.transform(
        toks,
        lambda t: F.aggregate(
            F.split(t, ""),
            F.struct(
                F.lit(0).cast("bigint").alias("h"),
                F.lit(1).cast("bigint").alias("p"),
            ),
            lambda acc, c: F.struct(
                F.pmod(acc.h * ROLLING_BASE + F.ascii(c), mod).alias("h"),
                F.pmod(acc.p * ROLLING_BASE, mod).alias("p"),
            ),
        ),
    )


def shingle_hashes_from_pairs(hp: Column, n: int = 3) -> Column:
    """Compose the rolling hash of every token ``n``-gram shingle from
    the per-token ``(h, p)`` pairs, by the concatenation identity
    ``h(a||b) = h(a)*131^|b| + h(b) mod M`` — each shingle hash is ~6
    integer ops instead of re-folding its ~20 characters.

    **HOF-CSE discipline (the round-1 AND round-2 lesson):**
    interpreted higher-order functions re-evaluate any expression
    captured from outside the lambda once per element, with no CSE.
    The round-2 formulation captured the O(doc_chars) ``hp`` fold
    inside a per-shingle ``element_at`` lambda — O(tokens×doc_chars)
    per row, 208 s of a 227 s benchmark. This formulation therefore
    references ``hp`` only a constant number of times (``slice`` +
    ``zip_with``; every lambda reads only its own arguments), so it
    stays linear even over an inline ``hp`` expression — and is a
    single per-row array read when ``hp`` is a staged column.

    Shingle ``i`` = fold of ``hp[i..i+n-1]``: start from the 1-gram
    hashes of ``hp[1..L-n+1]`` and ``zip_with`` the ``j``-th shifted
    slice to append token ``i+j`` to every shingle in lockstep.

    Documents shorter than ``n`` tokens yield NULL (same rule as
    ``shingles()``).
    """
    from pg2kafka_spark.operators.text import ROLLING_BASE, ROLLING_MOD

    mod = F.lit(ROLLING_MOD)

    def _append(x: Column, tok: Column) -> Column:
        # x ||= ' ' || token  ==>  (x*131 + 32) * 131^len(tok) + h(tok)
        sp = F.pmod(x * ROLLING_BASE + F.lit(32), mod)
        return F.pmod(F.pmod(sp * tok.p, mod) + tok.h, mod)

    m = F.size(hp) - (n - 1)
    acc = F.transform(F.slice(hp, 1, m), lambda t: t.h)
    for j in range(1, n):
        acc = F.zip_with(acc, F.slice(hp, j + 1, m), _append)
    return F.when(F.size(hp) >= n, acc)


def shingle_rolling_hashes(text: Column, n: int = 3) -> Column:
    """``array<bigint>``: the rolling hash of every token ``n``-gram
    shingle of the normalized text — ``token_hash_pairs`` composed
    with ``shingle_hashes_from_pairs``. The DuckDB oracle keeps the
    direct per-shingle char fold as the executable spec — the values
    are identical by the composition identity, which
    ``test_shingle_hash_composition_matches_direct_fold`` pins.

    Linear as a standalone expression (the ``(h,p)`` fold is
    referenced a constant ~2n+1 times, never per shingle); for the
    single-evaluation fast path stage ``token_hash_pairs`` as a column
    first, as ``minhash_signatures_portable`` does."""
    return shingle_hashes_from_pairs(token_hash_pairs(text), n)


def _gram_hash_rows(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, __g) — one row per distinct token-``n``-gram rolling hash
    per document, with the O(doc_chars) ``token_hash_pairs`` fold
    staged as its own ``__hp`` projection. The staging is the
    difference between linear and ``(2n+1)×``-linear: interpreted
    HOFs re-evaluate outer-captured expressions with no CSE, and
    ``shingle_hashes_from_pairs`` references its input ~2n+1 times —
    at n=8 the inline spelling re-runs the char fold 17× per row
    (measured 10.7 s → 4 s for ``doc_duplicate_ngrams`` at sf0.1).
    CollapseProject keeps the stage because ``__hp`` is non-cheap and
    multiply-referenced — the same pinned property as
    ``minhash_signatures_portable``."""
    return (
        _spread(df.select(id_col, text_col), key=id_col)
        .select(id_col, token_hash_pairs(F.col(text_col)).alias("__hp"))
        .select(
            id_col,
            F.explode(
                F.array_distinct(shingle_hashes_from_pairs(F.col("__hp"), n))
            ).alias("__g"),
        )
    )


def contamination_hits(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: training documents sharing any token
    ``n``-gram with an eval/benchmark set — the standard n-gram-overlap
    contamination check a pretraining pipeline runs before training
    (8-13 gram verbatim collision against held-out benchmarks).

    Returns ``(id, n_shared)`` for contaminated docs only, where
    ``n_shared`` counts distinct shared n-gram hashes (the portable
    rolling-hash family, so the check is oracle-expressible).

    Scale shape: the eval side is tiny by construction (benchmarks are
    MBs against a 100 TB corpus) — its distinct n-gram hashes
    BROADCAST, so the corpus side is one linear explode + a map-side
    broadcast join; the only shuffle is the per-doc count on uniform
    id keys. The corpus never self-joins and the eval set is hashed
    once.
    """
    d = _gram_hash_rows(docs, text_col, id_col, n)
    e = _gram_hash_rows(eval_docs, text_col, id_col, n).select("__g").distinct()
    return (
        d.join(F.broadcast(e), "__g")
        .groupBy(id_col)
        .agg(F.count_distinct(F.col("__g")).alias("n_shared"))
    )


def duplicate_ngram_stats(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Verbatim-substring self-overlap (the corpus-internal sibling of
    ``contamination_hits``): for every document, how many of its
    distinct token ``n``-grams also appear verbatim in at least one
    OTHER document — the per-doc signal behind exact-substring dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL'22, which masks duplicated 50-token spans; here the
    span length is ``n`` and the output is the doc-level count +
    fraction a gating stage thresholds on).

    Returns ``(id, n_grams, n_dup_grams, dup_gram_frac)``; docs
    shorter than ``n`` tokens emit no grams and are absent (same rule
    as the shingle operators). ``dup_gram_frac`` is a single IEEE
    division of exact integers — bit-exact cross-engine.

    Scale shape: gram hashes are uniform keys. The shared-gram table
    is a map-side-partial count over (gram, doc)-distinct rows — hot
    boilerplate grams combine map-side, never concentrating raw rows
    on one reducer (this is why it is NOT a window over the gram key:
    a window partition can't partial-aggregate and AQE can't split
    it). The join back is gram-keyed with the dup-gram side reduced
    to single (gram) rows, so AQE's skew-join split handles any
    residual hot gram. Two uniform-key shuffles + one per-doc count.
    """
    # consumed three times (dup-gram counts + per-doc sizes + the
    # join-back) — persist, or the O(doc_chars) token fold and the
    # gram explode re-run per consumer (same discipline as
    # ``jaccard_pairs``; measured 5.3 s → ~2 s at sf0.1).
    g = _persist(_gram_hash_rows(docs, text_col, id_col, n))
    dupg = (
        g.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__nd"))  # rows are (gram, doc)-distinct
        .filter(F.col("__nd") > 1)
        .select("__g")
    )
    per_doc = g.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    dup_per_doc = (
        g.join(dupg, "__g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_grams"))
    )
    return per_doc.join(dup_per_doc, id_col, "left").select(
        id_col,
        "n_grams",
        F.coalesce(F.col("n_dup_grams"), F.lit(0).cast("long")).alias(
            "n_dup_grams"
        ),
        (
            F.coalesce(F.col("n_dup_grams"), F.lit(0).cast("long"))
            / F.col("n_grams")
        ).alias("dup_gram_frac"),
    )


def minhash_signatures_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """MinHash signatures from an engine-portable hash family —
    ``h_i(x) = (2i+1)*x + i*salt mod 2^31-1`` over rolling-hashed
    token-3-gram shingles of the normalized text — exploded to
    (id, i, minhash) rows.

    The production discovery path (``minhash_lsh_pairs``) uses the
    Arrow/numpy xxhash kernel, whose seeds aren't expressible in
    portable SQL, so the driver can only rows-check it. This variant
    IS plain column algebra on both engines, giving the sketch math an
    exact DuckDB oracle: same shingling, same min-fold, bit-identical
    signatures. Map-only (scan → project → explode), no shuffle; the
    k-way min-fold happens BEFORE the explode so only the k-element
    (i, minhash) signature — never the shingle array — is fanned out.

    Plan shape (pinned by tests/test_plans.py): the short-doc filter
    runs on a cheap token count at the scan; the O(doc_chars)
    ``token_hash_pairs`` fold is staged as ``__hp`` in its own
    projection (referenced >1× and non-cheap, so CollapseProject keeps
    the stage and the fold evaluates once per row); the shingle
    composition and min-fold read ``__hp``/``__sh`` as attributes.

    Docs shorter than the shingle width yield no rows (same rule as
    ``shingle_jaccard_pairs``).
    """
    staged = _portable_sig_stage(df, text_col, id_col)
    mod = F.lit(PORTABLE_MINHASH_MOD)

    def _min_i(i: Column) -> Column:
        a = i * 2 + 1
        b = F.pmod(i * F.lit(PORTABLE_MINHASH_SALT), mod)
        return F.array_min(
            F.transform(F.col("__sh"), lambda x: F.pmod(a * x + b, mod))
        )

    sig = F.transform(F.sequence(F.lit(0), F.lit(k - 1)), _min_i)
    return (
        staged.select(id_col, F.posexplode(sig).alias("i", "minhash"))
        .select(id_col, F.col("i").cast("long"), "minhash")
    )


def _portable_sig_stage(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, __sh) staged frame — the shared front of the portable
    minhash kernel: short-doc filter at the scan, the O(doc_chars)
    char fold staged once as ``__hp``, shingle hashes as ``__sh``.
    Consumers put their min-fold expressions directly under a
    Generate (posexplode) so CollapseProject cannot re-inline the
    staged fold — the plan property tests/test_plans.py pins."""
    from pg2kafka_spark.operators.text import normalized_text

    return (
        _spread(df.select(id_col, text_col), key=id_col)
        .filter(F.size(F.split(normalized_text(F.col(text_col)), " ")) >= n)
        .select(id_col, token_hash_pairs(F.col(text_col)).alias("__hp"))
        .select(id_col, shingle_hashes_from_pairs(F.col("__hp"), n).alias("__sh"))
    )


def portable_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    band_rows: int = 2,
) -> DataFrame:
    """LSH band keys from the PORTABLE minhash family: the k-element
    signature split into ``k // band_rows`` bands, each rendered as a
    comma-joined string key — (id, band, bkey) rows. Same banding
    rule as the xxhash discovery path (``minhash_lsh_pairs``) but
    engine-portable, so band membership — and therefore the candidate
    set of any join over it — is exactly reproducible in SQL.

    Map-only. The band keys are unrolled in PYTHON (each of the k
    min-folds appears exactly once across the band expressions, built
    from literal hash constants) rather than as nested runtime
    ``transform`` lambdas — an outer HOF would re-evaluate the whole
    k-fold signature per band, the same interpreted-HOF quadratic the
    ``__hp`` staging exists to prevent.
    """
    staged = _portable_sig_stage(df, text_col, id_col)
    mod = PORTABLE_MINHASH_MOD

    def _min_i(i: int) -> Column:
        a = F.lit(2 * i + 1)
        b = F.lit((i * PORTABLE_MINHASH_SALT) % mod)
        return F.array_min(
            F.transform(
                F.col("__sh"), lambda x: F.pmod(a * x + b, F.lit(mod))
            )
        )

    nb = k // band_rows
    band_exprs = [
        F.concat_ws(
            ",",
            *[
                _min_i(j * band_rows + r).cast("string")
                for r in range(band_rows)
            ],
        )
        for j in range(nb)
    ]
    return (
        staged.select(id_col, F.posexplode(F.array(*band_exprs)).alias("band", "bkey"))
        .select(id_col, F.col("band").cast("long"), "bkey")
    )


#: Bit width of the PORTABLE simhash (hashes are < 2^31, so at most
#: 31 informative bits; 24 keeps the oracle SQL compact).
PORTABLE_SIMHASH_BITS = 24


def simhash_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_bits: int = PORTABLE_SIMHASH_BITS,
) -> DataFrame:
    """SimHash from the engine-portable rolling hash: one polynomial
    hash per token occurrence, then per bit i the vote is +1/-1 per
    token and the bit is set iff the vote sum is positive —
    ``2*ones_i > n_tokens``.

    Same role as ``minhash_signatures_portable``: the production
    sketch (``simhash_near_pairs``) votes over xxhash64 values inside
    an Arrow kernel, which the driver can only rows-check; this twin
    is plain integer column algebra on both engines, so the bit-vote
    semantics get an exact DuckDB oracle. Map-only, no shuffle: the
    token hash array is computed once per document and the n_bits
    popcount passes run over that in-row array.
    """
    from pg2kafka_spark.operators.text import rolling_hash, tokens

    hs = F.transform(tokens(F.col(text_col)), lambda t: rolling_hash(t))
    # NULL-text guard BEFORE the hash projection: `tokens` is a
    # whitespace split, which returns a ≥1-element array for every
    # non-null string, so `size(__h) >= 1` only ever dropped NULLs —
    # but spelled on __h the optimizer pushed it below the staging
    # projection and re-evaluated the whole tokenize+char-fold per row
    # (the fold appeared TWICE in the plan; r14 — this stage is the
    # family's hot one and the intermittent-stall class multiplies
    # whatever it touches). IsNotNull pushes to the scan for free.
    staged = (
        _spread(df.select(id_col, text_col).filter(F.col(text_col).isNotNull()), key=id_col)
        .select(id_col, hs.alias("__h"))
    )
    n = F.size("__h")

    def _ones(i: int) -> Column:
        # closure (not a default arg): pyspark passes a Column for
        # every lambda parameter it sees, defaults included
        return F.aggregate(
            F.col("__h"),
            F.lit(0).cast("bigint"),
            lambda acc, h: acc + F.shiftright(h, i).bitwiseAND(F.lit(1)),
        )

    sim = F.lit(0).cast("bigint")
    for i in range(n_bits):
        sim = sim + F.when(_ones(i) * 2 > n, F.lit(1 << i)).otherwise(F.lit(0))
    return staged.select(id_col, sim.alias("simhash"), n.cast("long").alias("n_tokens"))


def duplicated_segment_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 8,
    min_docs: int = 2,
    emit_text: bool = False,
) -> DataFrame:
    """Corpus-level duplicated-segment removal — the unstructured-text
    analog of RefinedWeb/CCNet line-level dedup (there a "line" is a
    newline-delimited string; here, where documents are continuous
    token streams, a segment is a non-overlapping ``seg_words``-token
    window of the normalized text). Any segment that appears verbatim
    in >= ``min_docs`` DISTINCT documents (navigation chrome, license
    boilerplate, templated headers) is removed from EVERY document,
    and the remaining segments are reassembled in order.

    Unlike ``duplicate_ngram_stats`` (which only SCORES overlap for a
    document-level gate), this op rewrites the corpus: the output is
    one row per input document with the scrubbed text fingerprint and
    kept/removed counts — the shape a downstream tokenizer consumes.
    Pass ``emit_text=True`` to get the REWRITTEN text column itself
    (the actual corpus-rewrite output) instead of its md5; the
    registered query keeps the fingerprint form so the full rewrite
    stays hash-checkable without shipping megabytes through the
    comparator.

    Plan (2 uniform-key shuffles + 1 join, scale-safe at 100 TB):

    1. segment: map-only inside the scan (tokenize once, slice
       non-overlapping windows, posexplode — expansion factor 1×,
       unlike overlapping shingles);
    2. dup set: groupBy md5(segment) with two-phase distinct-doc
       count — md5 keys are uniform, so no skew regardless of how
       hot a boilerplate segment is (the count collapses map-side);
    3. mark: join segments against the dup set on the md5 key. The
       dup set is the corpus's repeated-boilerplate tail — orders of
       magnitude smaller than the corpus — so AQE picks a broadcast
       join at real scale; we leave the join unhinted so the planner
       can fall back to shuffle-hash if a pathological corpus makes
       the dup set huge.
    4. reassemble: groupBy doc with an order-restoring
       sort-filter-join over the collected (idx, segment) structs —
       one shuffle keyed by the (unique) doc id.

    Determinism: the segmentation is a pure function of the text, the
    dup threshold counts DISTINCT docs (retry-safe), and reassembly
    sorts on the unique segment index — no rand(), no
    collect-order dependence.
    """
    from pg2kafka_spark.operators.text import normalized_text

    w = int(seg_words)
    toks = F.split(normalized_text(F.col(text_col)), " ")
    n_segs = F.ceil(F.size(F.col("__toks")) / F.lit(float(w))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(F.slice(F.col("__toks"), i * w + 1, w), " "),
    )
    seg_rows = (
        _spread(df.select(id_col, text_col), key=id_col)
        .select(id_col, toks.alias("__toks"))
        .select(id_col, F.posexplode(segs).alias("seg_idx", "seg"))
    )

    dup = (
        seg_rows.groupBy(F.md5(F.col("seg")).alias("sfp"))
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= F.lit(int(min_docs)))
        .select("sfp")
    )

    marked = seg_rows.join(
        dup, F.md5(seg_rows["seg"]) == dup["sfp"], "left"
    ).select(
        id_col,
        "seg_idx",
        "seg",
        F.col("sfp").isNotNull().alias("is_dup"),
    )

    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("seg_idx").alias("i"),
                F.col("is_dup").alias("d"),
                F.col("seg").alias("s"),
            )
        )
    )
    kept_text = F.array_join(
        F.transform(
            F.filter(ordered, lambda x: ~x["d"]), lambda x: x["s"]
        ),
        " ",
    )
    out = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("is_dup").cast("long")).alias("n_removed"),
        (kept_text if emit_text else F.md5(kept_text)).alias(
            "text" if emit_text else "scrubbed_fp"
        ),
        F.length(kept_text).cast("long").alias("n_chars_kept"),
    )
    return out


def incremental_near_dup(
    store: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 8,
    band_rows: int = 2,
    n: int = 3,
    max_bucket_size: int | None = 64,
    store_bands: DataFrame | None = None,
    _materialize_candidates: bool = True,
) -> DataFrame:
    """Daily-ingest NEAR-dup discovery: find incoming-batch documents
    that are near-duplicates of the already-ingested corpus — the
    fuzzy sibling of :func:`incremental_exact_dedup` (which only
    catches byte-identical rewrites). Emits
    (batch_id, store_id, common, n_batch, n_store, jaccard) for every
    candidate pair whose exact shingle-Jaccard clears ``threshold``.

    Pipeline: portable-minhash band keys on BOTH sides → band-key
    equality join (batch side is one day's data; the store side at
    100 TB is the MAINTAINED band-key table, bucketed by (band, bkey),
    so the join co-locates and only the day's keys shuffle) → distinct
    candidate pairs → exact Jaccard verification restricted to the
    candidates (the quadratic step pays only for LSH survivors).

    EAGER AT BUILD (r13 advice, documented contract): CONSTRUCTING
    this DataFrame already runs a Spark job — the candidate list is
    localCheckpointed at build time (the r13 AQE/DAG-sharing fix,
    rationale inline below) under the global checkpoint lock, so plan
    tooling and registration-time construction pay the LSH discovery
    cost and briefly serialize other graph checkpoints behind it.
    Pass ``_materialize_candidates=False`` for plan introspection
    that must stay lazy (plan tests do); execution paths should keep
    the default.

    ``store_bands`` IS that maintained table: an (``id_col``, band,
    bkey) frame of the store's already-computed band keys (an ingest
    job appends survivors' keys each batch). When given, the store's
    TEXT is touched only for verification — and only for the docs the
    band join actually hit (a semi-join restricts the shingle pass to
    candidate store ids) — so per-batch work is O(batch + band table join +
    matching docs), not O(store text). Band rows for ids absent from
    ``store`` (the crash-replay phantom window) are harmless: the
    verification join finds no store shingles, so the pair drops out.
    Without ``store_bands`` the keys are recomputed from store text —
    correct, and what the batch oracle checks, but linear in the
    accumulated corpus.

    ``max_bucket_size`` is the hot-band guard on the STORE side (the
    same boilerplate failure mode as ``minhash_lsh_pairs``: a
    B-copy template cluster in the store turns every matching batch
    doc into B candidates — a corpus-age-dependent blowup the daily
    job must bound). Store band keys held by more than the cap are
    dropped BEFORE the join; those clusters are exact-dup families
    the (cheaper) fingerprint store already catches. Deterministic
    and SQL-expressible (a HAVING over exact counts), so capped runs
    remain oracle-checkable — unlike the xxhash path's cap, nothing
    here depends on non-portable seeds.

    Built on the PORTABLE hash family end to end, so the whole
    discovery+verification composition — including LSH recall
    behavior — is reproducible in SQL and hash-checked, not just
    rows-counted like the xxhash discovery path.
    """
    if store_bands is not None:
        bs = store_bands.select(
            F.col(id_col).alias("store_id"), "band", "bkey"
        )
    else:
        bs = portable_band_keys(store, text_col, id_col, k, band_rows).select(
            F.col(id_col).alias("store_id"), "band", "bkey"
        )
    if max_bucket_size is not None:
        hot = (
            bs.groupBy("band", "bkey")
            .agg(F.count(F.lit(1)).alias("__nb"))
            .filter(F.col("__nb") > F.lit(int(max_bucket_size)))
            .select("band", "bkey")
        )
        bs = bs.join(F.broadcast(hot), ["band", "bkey"], "left_anti")
    bb = portable_band_keys(batch, text_col, id_col, k, band_rows).select(
        F.col(id_col).alias("batch_id"), "band", "bkey"
    )
    cand = (
        bb.join(bs, ["band", "bkey"]).select("batch_id", "store_id").distinct()
        # MATERIALIZE the candidate list (it's tiny — the whole point
        # of LSH). Discovery → candidates → verification is a real
        # pipeline boundary, and the checkpoint is load-bearing for
        # the DRIVER, not the executors: `cand` feeds FIVE downstream
        # consumers (store_hit, batch_hit, common, and through the
        # shingle frames both sizes), and Catalyst tree traversals
        # (AQE's per-stage `replaceWithQueryStagesInLogicalPlan` runs
        # TreeNode.exists over the LOGICAL tree) expand that DAG
        # sharing into tree copies — the band-key subtree (itself
        # holding the hot-cap's second copy of `bs`) multiplied out
        # to minutes of single-threaded driver CPU per action
        # (r13 root-cause: jstack showed 40+ min in TreeNode.exists/
        # collectFirst across the suite). As a leaf, the plan is
        # linear again. `_materialize_candidates=False` keeps the
        # lazy transparent plan — ONLY for plan-introspection tests.
    )
    if _materialize_candidates:
        from pg2kafka_spark.operators.graph import guarded_local_checkpoint

        cand = guarded_local_checkpoint(cand)

    # Verification shingles over NORMALIZED text — the same token
    # contract as the band keys (round-7 advice fix: raw-text shingles
    # under-scored pairs that are near-dups only after case/whitespace
    # normalization, which is exactly what the LSH stage recalls on).
    # Shingle only the docs the band join actually hit: a semi-join
    # on the candidate ids keeps the verification pass O(matching
    # docs) on BOTH sides instead of O(corpus) — same result (pairs
    # outside `cand` never reach the common/sizes joins anyway).
    store_hit = store.join(
        cand.select(F.col("store_id").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    batch_hit = batch.join(
        cand.select(F.col("batch_id").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    shb = shingle_sets(batch_hit, text_col, id_col, n, normalize=True).select(
        F.col(id_col).alias("batch_id"), "shingle"
    )
    shs = shingle_sets(store_hit, text_col, id_col, n, normalize=True).select(
        F.col(id_col).alias("store_id"), "shingle"
    )
    sizes_b = shb.groupBy("batch_id").agg(F.count(F.lit(1)).alias("n_batch"))
    sizes_s = shs.groupBy("store_id").agg(F.count(F.lit(1)).alias("n_store"))

    common = (
        cand.join(shb, "batch_id")
        .join(shs, ["store_id", "shingle"])
        .groupBy("batch_id", "store_id")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common") / (
        F.col("n_batch") + F.col("n_store") - F.col("common")
    )
    return (
        common.join(sizes_b, "batch_id")
        .join(sizes_s, "store_id")
        .select(
            "batch_id",
            "store_id",
            "common",
            "n_batch",
            "n_store",
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def decontamination_scrub(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    seg_words: int = 8,
    emit_text: bool = False,
) -> DataFrame:
    """Span-level benchmark decontamination — the REMOVAL counterpart
    of :func:`contamination_hits` (which only flags): every
    non-overlapping ``seg_words``-token segment of a training doc
    that appears VERBATIM anywhere in the eval set is scrubbed, and
    the survivors reassemble in order. Span removal keeps the rest of
    a contaminated document (dropping whole documents for one leaked
    snippet throws away good tokens; the published pipelines do both
    — gate on heavy contamination, scrub light contamination).

    Alignment-free matching: the TRAIN side segments non-overlapping
    (expansion 1×, the :func:`duplicated_segment_scrub` shape), while
    the EVAL side enumerates OVERLAPPING ``seg_words``-grams — so a
    train segment matches wherever its exact tokens occur in an eval
    doc, regardless of window alignment. Eval benchmarks are MBs
    against a 100 TB corpus: the distinct eval-gram fingerprints
    BROADCAST, making the scrub pass map-only until the one
    uniform-key reassembly shuffle.

    Emits one row per training doc:
    ``(id, n_segments, n_removed, scrubbed_fp | text, n_chars_kept)``
    — same contract as :func:`duplicated_segment_scrub`, so the two
    scrubs compose/interchange downstream.
    """
    from pg2kafka_spark.operators.text import normalized_text

    w = int(seg_words)
    ev = (
        eval_docs.select(
            F.split(normalized_text(F.col(eval_text_col)), " ").alias("__ev_tk")
        )
        .select(F.explode(shingles(F.col("__ev_tk"), w)).alias("g"))
        .select(F.md5(F.col("g")).alias("sfp"))
        .distinct()
    )
    toks = F.split(normalized_text(F.col(text_col)), " ")
    n_segs = F.ceil(F.size(F.col("__toks")) / F.lit(float(w))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(F.slice(F.col("__toks"), i * w + 1, w), " "),
    )
    seg_rows = (
        _spread(docs.select(id_col, text_col), key=id_col)
        .select(id_col, toks.alias("__toks"))
        .select(id_col, F.posexplode(segs).alias("seg_idx", "seg"))
    )
    marked = seg_rows.join(
        F.broadcast(ev), F.md5(seg_rows["seg"]) == ev["sfp"], "left"
    ).select(
        id_col,
        "seg_idx",
        "seg",
        F.col("sfp").isNotNull().alias("is_dup"),
    )
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("seg_idx").alias("i"),
                F.col("is_dup").alias("d"),
                F.col("seg").alias("s"),
            )
        )
    )
    kept_text = F.array_join(
        F.transform(F.filter(ordered, lambda x: ~x["d"]), lambda x: x["s"]),
        " ",
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("is_dup").cast("long")).alias("n_removed"),
        (kept_text if emit_text else F.md5(kept_text)).alias(
            "text" if emit_text else "scrubbed_fp"
        ),
        F.length(kept_text).cast("long").alias("n_chars_kept"),
    )


def simhash_pairs_portable(
    docs: DataFrame,
    max_hamming: int = 3,
    prefix_bits: int = 6,
    max_block_size: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = PORTABLE_SIMHASH_BITS,
) -> DataFrame:
    """FULL-PIPELINE portable twin of :func:`simhash_near_pairs`:
    sketch → prefix blocking → hot-block cap → hamming verify, all in
    engine-portable integer algebra — so the driver hash-checks not
    just the signature bits (:func:`simhash_portable`) but the
    BLOCKING JOIN and the hamming-distance verify too. The production
    path keeps its xxhash/Arrow kernel and 64-bit sketch; this twin
    runs the identical pipeline shape on the 24-bit portable sketch
    (same block-equality join on the top ``prefix_bits``, same
    ``bit_count(xor) <= max_hamming`` verify, same count-capped hot
    blocks).

    Emits ``(id_a, id_b, block, hamming)`` — block included so the
    oracle pins the blocking keys, hamming so it pins the verify.

    Scale shape: identical to the production path — one uniform
    block-key shuffle, per-block pair expansion bounded by
    ``max_block_size``.
    """
    sh = _persist(
        simhash_portable(docs, text_col, id_col, n_bits).select(
            id_col, "simhash"
        )
    )
    block = F.shiftright(F.col("simhash"), n_bits - prefix_bits)
    blk = sh.select(id_col, "simhash", block.alias("block"))
    ok = (
        blk.groupBy("block")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= F.lit(int(max_block_size)))
        .select(F.col("block").alias("__okblock"))
    )
    a = blk.alias("a")
    b = blk.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .join(ok, F.col("a.block") == F.col("__okblock"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.block").alias("block"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= F.lit(int(max_hamming)))
    )


def minhash_lsh_pairs_portable(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    band_rows: int = 2,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """FULL-PIPELINE portable twin of :func:`minhash_lsh_pairs`:
    portable-minhash band keys → bucket self-join → hot-bucket cap →
    distinct candidate pairs → signature-agreement count, every stage
    engine-portable — so the driver hash-checks the BANDED DISCOVERY
    itself (bucket membership, the cap, and the per-pair agreement
    estimate), not just the signature values
    (:func:`minhash_signatures_portable`). The production path keeps
    its xxhash/Arrow kernel; the plan shape here is identical: one
    uniform (band, bkey) shuffle, per-bucket expansion bounded by
    ``max_bucket_size``, one uniform pair-key count.

    Emits ``(id_a, id_b, n_agree)`` — ``n_agree / k`` is the standard
    signature-agreement Jaccard estimate, kept as the exact integer.
    """
    bands = _persist(
        portable_band_keys(docs, text_col, id_col, k, band_rows)
    )
    ok = (
        bands.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= F.lit(int(max_bucket_size)))
        .select(F.col("band").alias("__okband"), F.col("bkey").alias("__okbkey"))
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .join(
            ok,
            (F.col("a.band") == F.col("__okband"))
            & (F.col("a.bkey") == F.col("__okbkey")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # persist: sa AND sb consume this — unpersisted, the full corpus
    # shingle+minhash pass executed TWICE per run (r14 plan audit; the
    # band table above already had the same treatment)
    sigs = _persist(minhash_signatures_portable(docs, text_col, id_col, k))
    sa = sigs.select(
        F.col(id_col).alias("id_a"), "i", F.col("minhash").alias("__ma")
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"), "i", F.col("minhash").alias("__mb")
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "i"])
        .groupBy("id_a", "id_b")
        .agg(
            F.sum((F.col("__ma") == F.col("__mb")).cast("long")).alias(
                "n_agree"
            )
        )
    )


def source_minhash_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    k: int = 8,
) -> DataFrame:
    """Cross-source corpus-overlap matrix from MERGED MinHash
    sketches: one portable k-element signature per source (the min
    over all member documents' per-permutation mins — min-fold is
    associative, so the source signature is exactly the signature of
    the source's shingle UNION), then pairwise position-match counts
    estimating shingle Jaccard between sources.

    This is the scale path for "how much does source A duplicate
    source B": at 100 TB the naive answer is a cross-source pair
    join over documents (quadratic); the sketch answer is one
    map-only signature pass, a (source, i)-keyed agg that
    partial-aggregates map-side down to |sources|·k rows, and an
    O(|sources|²·k) comparison on data that fits on the head of a
    pin. Same engine-portable hash family as
    ``minhash_signatures_portable``, so the whole estimate — sketch,
    merge, estimate — is reproducible in ANSI SQL and hash-checked.

    ``jaccard_est`` is a single IEEE division of exact integers
    (bit-identical on any engine).
    """
    sig = minhash_signatures_portable(df, text_col=text_col, id_col=id_col, k=k)
    src = df.select(id_col, group_col)
    persrc = (
        sig.join(src, id_col)
        .groupBy(group_col, "i")
        .agg(F.min("minhash").alias("mh"))
    )
    # persist the |sources|-row signature table: both sides of the
    # pairwise comparison read it, so the full sketch pipeline (scan,
    # shingle fold, k min-folds, source merge) runs ONCE
    sigs = _persist(
        persrc.groupBy(group_col).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mh"))),
                lambda s: s["mh"],
            ).alias("__sig")
        )
    )
    a = sigs.select(
        F.col(group_col).alias("source_a"), F.col("__sig").alias("__sa")
    )
    b = sigs.select(
        F.col(group_col).alias("source_b"), F.col("__sig").alias("__sb")
    )
    n_match = F.aggregate(
        F.zip_with(
            F.col("__sa"),
            F.col("__sb"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            n_match.alias("n_match"),
            (n_match.cast("double") / F.lit(float(k))).alias("jaccard_est"),
        )
    )
