"""Skewed-corpus stress pins for the LSH hot-bucket guard (round-5
verdict #6/#7): the 5k-copy boilerplate cluster — the input that makes
uncapped LSH quadratic — must stay capped, keep its recall on the
non-skewed mass, finish inside a runtime budget, and keep the cap's
anti-join BROADCAST in the FINAL adaptive plan (AQE re-plans joins
from runtime stats; the window-count formulation of the cap destroyed
the band table's size stats and regressed exactly there).

Marked slow: ~30 s of real LSH work. At 10× this corpus (55k docs)
the capped MinHash+LSH pass took 15.7 s for 1.31 M candidate pairs
(BASELINE.md round 5, 10× stress table).
"""

from __future__ import annotations

import re
import time

import pytest
from pyspark.sql import functions as F

from pg2kafka_spark.operators import dedup as D

BOILER = (
    "subscribe to our newsletter for the latest updates terms of service "
    "privacy policy all rights reserved contact us about careers"
)


@pytest.fixture(scope="module")
def skewed_corpus(spark):
    # 10 near-dup variants of every sf0.001 document (near-dup-rich,
    # not exact-dup) + a 5 000-copy boilerplate cluster at ids >= 50M
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    variants = spark.range(10).select(F.col("id").alias("__v"))
    corpus = (
        docs.crossJoin(F.broadcast(variants))
        .select(
            (F.col("doc_id") + F.col("__v") * 1_000_000).alias("doc_id"),
            F.when(F.col("__v") == 0, F.col("text"))
            .otherwise(F.concat_ws(" ", "text", F.concat(F.lit("v"), "__v")))
            .alias("text"),
        )
        .unionByName(
            spark.range(5000).select(
                (F.col("id") + 50_000_000).alias("doc_id"),
                F.lit(BOILER).alias("text"),
            )
        )
    )
    return corpus


@pytest.mark.slow
def test_hot_bucket_cap_under_5k_copy_skew(spark, skewed_corpus, wall_budget):
    def measure():
        t0 = time.perf_counter()
        got = D.minhash_lsh_pairs(skewed_corpus).collect()
        w = time.perf_counter() - t0
        D.release_sketch_caches()
        return w, got

    wall, rows = measure()

    # runtime budget: uncapped, the cluster alone is ~12.5M pairs/band
    # x 16 bands and blows far past this. Load-scaled (r17), and
    # re-measured once before failing: the single-rep in-suite stall
    # class (BASELINE.md r13-r14) never recurs, a quadratic blow-up
    # recurs every rep. Base 180 s (was 60, then 90 at re-entry 6): the
    # sentinel-blind host class (point probes quiet, sustained
    # throughput slow) sits under the sentinel scaling's radar, and at
    # re-entry 7 the 8-lane-contended min-of-2 read 143.4 s at sentinel
    # 0.27 (isolated same-host rep: 28.6 s) — past the 90 s base's
    # scaled 97 s on byte-identical code. 180 s still fails the
    # uncapped quadratic blow-up (~200M pair evaluations) by well over
    # 5x even before its shuffle explosion.
    limit = wall_budget(180)
    if wall >= limit:
        wall = min(wall, measure()[0])
    assert wall < limit, (
        f"capped LSH took {wall:.1f}s on the skew fixture "
        f"(budget {limit:.0f}s at sentinel {wall_budget.sentinel:.2f}s)"
    )

    # the boilerplate cluster is exact-dup territory: the cap must
    # drop it entirely (its bucket is 5000 >> max_bucket_size=1000)
    boiler_pairs = [r for r in rows if r.id_a >= 50_000_000 and r.id_b >= 50_000_000]
    assert boiler_pairs == []

    # candidate volume stays bounded by the near-dup mass, not the skew
    assert 0 < len(rows) < 200_000

    # recall on the NON-skewed mass survives: variants of the same base
    # document (ids congruent mod 1M) still pair up
    variant_pairs = sum(
        1
        for r in rows
        if r.id_a < 50_000_000
        and r.id_b < 50_000_000
        and r.id_a % 1_000_000 == r.id_b % 1_000_000
    )
    assert variant_pairs > 100

    # the guard's own diagnostic sees the dropped cluster: every band's
    # boilerplate bucket is hot (16 bands x 1 bucket of 5000)
    sig = D.with_minhash(skewed_corpus.filter(F.col("doc_id") >= 50_000_000))
    banded = sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", F.transform(
                            F.slice(F.col("minhash"), b * 4 + 1, 4),
                            lambda v: v.cast("string"),
                        ))
                    ).alias("bucket"),
                ),
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bucket")
    hot = D.lsh_hot_buckets(banded, 1000, "band", "bucket").collect()
    D.release_sketch_caches()
    assert len(hot) == 16
    assert all(h.bucket_size == 5000 for h in hot)


@pytest.mark.slow
def test_cap_anti_join_stays_broadcast_under_aqe(spark, skewed_corpus):
    # AQE re-plans joins from runtime stats after each stage; the cap
    # is only map-side cheap if the hot-key side stays a broadcast
    # anti-join in the FINAL plan at stress size (isFinalPlan=true)
    pairs = D.minhash_lsh_pairs(skewed_corpus)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    D.release_sketch_caches()
    assert "isFinalPlan=true" in plan
    assert re.search(r"BroadcastHashJoin.*LeftAnti", plan), plan[:2000]
    assert not re.search(r"SortMergeJoin.*LeftAnti", plan)
