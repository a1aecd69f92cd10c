"""Bloom filter properties: no false negatives ever; FP rate bounded;
Spark-side sharded build/probe equals the plain anti-join (SURVEY.md §5.1)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from distributed_web_crawler_spark.config import CrawlConfig
from distributed_web_crawler_spark.functions import bloom as B
from distributed_web_crawler_spark.operators.dedup import (
    build_bloom_shards,
    filter_unseen_urls,
)

M, K = 1 << 14, 5


def _hashes(n, seed):
    rng = np.random.default_rng(seed)
    return (rng.integers(-(2 ** 62), 2 ** 62, n, dtype=np.int64),
            rng.integers(-(2 ** 62), 2 ** 62, n, dtype=np.int64))


@settings(max_examples=25, deadline=None)
@given(st.integers(0, 2 ** 31), st.integers(1, 300))
def test_no_false_negatives(seed, n):
    h1, h2 = _hashes(n, seed)
    filt = B.insert(B.empty_filter(M), h1, h2, M, K)
    assert B.probe(filt, h1, h2, M, K).all()


def test_fp_rate_bounded():
    h1, h2 = _hashes(1000, 1)
    filt = B.insert(B.empty_filter(M), h1, h2, M, K)
    p1, p2 = _hashes(20000, 2)
    fp = B.probe(filt, p1, p2, M, K).mean()
    assert fp < 0.05  # m/n=16 bits/key, k=5 → theoretical ≈ 0.5%


def test_sharded_filter_matches_exact_anti_join(spark):
    cfg = CrawlConfig(url_seen_shards=4, bloom_bits_per_shard=1 << 12)
    seen = spark.createDataFrame(
        [(f"http://h{i % 7}.example.com/p/{i}",) for i in range(500)], "url string")
    cands = spark.createDataFrame(
        [(f"http://h{i % 7}.example.com/p/{i}",) for i in range(400, 900)],
        "url string")
    blooms = build_bloom_shards(seen, cfg)
    assert blooms.count() == 4
    got = {r["url"] for r in
           filter_unseen_urls(cands, seen, blooms, cfg).collect()}
    want = {r["url"] for r in
            cands.join(seen, "url", "left_anti").collect()}
    assert got == want  # bloom path must be exactly the anti-join

    # and without a filter (plain anti-join), same answer
    got2 = {r["url"] for r in
            filter_unseen_urls(cands, seen, None, cfg).collect()}
    assert got2 == want


def test_incremental_build_extends(spark):
    cfg = CrawlConfig(url_seen_shards=4, bloom_bits_per_shard=1 << 12)
    u1 = spark.createDataFrame([(f"http://a.com/{i}",) for i in range(100)],
                               "url string")
    u2 = spark.createDataFrame([(f"http://b.com/{i}",) for i in range(100)],
                               "url string")
    b1 = build_bloom_shards(u1, cfg)
    b12 = build_bloom_shards(u2, cfg, existing=b1)
    both = u1.unionByName(u2)
    # probe everything inserted: zero unseen (no false negatives)
    assert filter_unseen_urls(both, both, b12, cfg).count() == 0
    n = {r["shard"]: r["n_items"] for r in b12.collect()}
    assert sum(n.values()) == 200
