"""Dedup operators D1-D4 (SURVEY.md §2.3).

D1 content dedup: the reference probes a Cassandra secondary index per page
(core/WebCrawler.java:333-336, storage/HybridStorageService.java:101-108) —
a point-wise left-anti semi-join. Here it is literally a ``left_anti`` join
of the fetched batch against the accumulated content-hash set, plus a
deterministic within-round winner (the reference's sequential loop keeps the
first page that stores a hash; our canonical order is (priority, host, url)).

D2 sha-256: built-in ``sha2`` over binary — identical hex output to the
reference's MessageDigest loop (core/WebCrawler.java:442-456).

D4 URL-seen (north_rule; absent in reference): exact left-anti join against
the seen-URL table, fronted by the sharded bloom filter of
``functions.bloom`` so that at scale only bloom-positive candidates (≈FP
rate of genuinely-new URLs, <1%) enter the join. Bloom negatives are
definitely new; positives are re-checked exactly, so the result equals the
plain anti-join bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig
from ..functions import bloom as B

URL_SEEN_FILTER_SCHEMA = T.StructType([
    T.StructField("shard", T.IntegerType()),
    T.StructField("filter_bytes", T.BinaryType()),
    T.StructField("n_items", T.LongType()),
])


def content_hash_col() -> F.Column:
    """D2: sha256(bytes || utf8(caption)) — matches synthweb.content_hash_py
    and the reference's hash of the page body (core/WebCrawler.java:442-456)."""
    return F.sha2(F.concat(F.col("bytes"), F.encode(F.col("caption"), "utf-8")), 256)


def dedup_content(fetched: DataFrame,
                  seen_hashes: DataFrame | None) -> DataFrame:
    """D1. ``fetched`` must carry content_hash/priority/host/url. Returns the
    rows to store; dropped rows are duplicates: the within-round winner per
    content_hash, then one exact left-anti join against the hashes of all
    previously stored rounds (none on round 0)."""
    w = Window.partitionBy("content_hash").orderBy("priority", "host", "url")
    first = (fetched.withColumn("_rn", F.row_number().over(w))
             .where(F.col("_rn") == 1).drop("_rn"))
    if seen_hashes is None:
        return first
    seen = seen_hashes.select("content_hash").distinct()
    return first.join(seen, "content_hash", "left_anti")


def with_key_hashes(df: DataFrame, n_shards: int) -> DataFrame:
    """JVM-side base hashes of ``url`` for the bloom (no Python in this
    step)."""
    return (df
            .withColumn("_h1", F.xxhash64("url"))
            .withColumn("_h2", F.xxhash64("url", F.lit(1)))
            .withColumn("shard", F.pmod(F.xxhash64("url"), F.lit(n_shards))
                        .cast("int")))


def build_bloom_shards(urls: DataFrame, cfg: CrawlConfig,
                       existing: DataFrame | None = None) -> DataFrame:
    """Build/extend per-shard filters from a ``url`` DataFrame (the
    URL-seen set). The groupBy/cogroup parallelizes across shards; each
    task does pure numpy bit math. Extension is ONE cogroup pass — new
    URLs insert directly into their shard's existing filter bytes (no
    separate build-then-merge stage); shards with no new URLs pass
    through."""
    m, k = cfg.bloom_bits_per_shard, cfg.bloom_num_hashes
    hashed = with_key_hashes(urls.select("url"), cfg.url_seen_shards)

    def build(gkey, pdf: pd.DataFrame) -> pd.DataFrame:
        filt = B.insert(B.empty_filter(m), pdf["_h1"].to_numpy(),
                        pdf["_h2"].to_numpy(), m, k)
        return pd.DataFrame({"shard": [gkey[0]], "filter_bytes": [filt],
                             "n_items": [len(pdf)]})

    if existing is None:
        return (hashed.groupBy("shard")
                .applyInPandas(build, URL_SEEN_FILTER_SCHEMA))

    def extend(cand: pd.DataFrame, filt: pd.DataFrame) -> pd.DataFrame:
        if len(filt) > 0:
            base = bytes(filt["filter_bytes"].iloc[0])
            prior = int(filt["n_items"].iloc[0])
            shard = int(filt["shard"].iloc[0])
        else:
            base, prior = B.empty_filter(m), 0
            shard = int(cand["shard"].iloc[0])
        if len(cand) > 0:
            base = B.insert(base, cand["_h1"].to_numpy(),
                            cand["_h2"].to_numpy(), m, k)
        return pd.DataFrame({"shard": [shard], "filter_bytes": [base],
                             "n_items": [prior + len(cand)]})

    return (hashed.groupBy("shard")
            .cogroup(existing.groupBy("shard"))
            .applyInPandas(extend, URL_SEEN_FILTER_SCHEMA))


def probe_bloom_shards(candidates: DataFrame, blooms: DataFrame,
                       cfg: CrawlConfig) -> DataFrame:
    """Tag each candidate row with ``_maybe_seen`` from its shard's filter.

    Cogroup candidates with their shard's filter: one shuffle on `shard`
    moves each (few-MiB) filter to its candidates EXACTLY ONCE — never
    replicated per row (an equi-join would materialize |candidates| ×
    filter_size), never through the driver, so 4096 × 4 MiB of filter
    state stays distributed at 10^10 scale."""
    m, k = cfg.bloom_bits_per_shard, cfg.bloom_num_hashes
    hashed = with_key_hashes(candidates, cfg.url_seen_shards)
    probe_schema = T.StructType(
        hashed.schema.fields + [T.StructField("_maybe_seen", T.BooleanType())])

    def probe(cand: pd.DataFrame, filt: pd.DataFrame) -> pd.DataFrame:
        out = cand.copy()
        if len(filt) == 0:
            out["_maybe_seen"] = False
        else:
            out["_maybe_seen"] = B.probe(
                bytes(filt["filter_bytes"].iloc[0]),
                cand["_h1"].to_numpy(), cand["_h2"].to_numpy(), m, k)
        return out

    return (hashed.groupBy("shard")
            .cogroup(blooms.select("shard", "filter_bytes").groupBy("shard"))
            .applyInPandas(probe, probe_schema))


def filter_unseen_urls(candidates: DataFrame, seen_urls: DataFrame | None,
                       blooms: DataFrame | None, cfg: CrawlConfig,
                       cached: list | None = None) -> DataFrame:
    """D4: rows of ``candidates`` whose url was never enqueued.

    With blooms: negatives pass immediately; only positives are re-checked
    exactly against the seen table. Without (round 0, direct callers):
    plain anti-join. Results are bit-identical either way."""
    if seen_urls is None:
        return candidates
    seen = seen_urls.select("url").distinct()
    if blooms is None:
        return candidates.join(seen, "url", "left_anti")

    probed = probe_bloom_shards(candidates, blooms, cfg)
    if cached is not None:
        # persist: both branches below consume `probed`; without it the
        # whole cogroup + Arrow probe pipeline executes twice. Only cache
        # when the caller takes ownership of the unpersist (direct/test
        # call sites would otherwise leak cached partitions).
        probed = probed.persist()
        cached.append(probed)
    negatives = (probed.where(~F.col("_maybe_seen"))
                 .drop("_h1", "_h2", "shard", "_maybe_seen"))
    positives = (probed.where(F.col("_maybe_seen"))
                 .drop("_h1", "_h2", "shard", "_maybe_seen"))
    # Exact re-check of the positives: a plain left-anti join, on purpose.
    # A driver-side flip (broadcast the positive keys, scan-reduce the
    # history) would be faster per round but dies when rediscovery is
    # heavy — in a steady-state crawl MOST discovered links are
    # already-seen, so the positive set is NOT driver-bounded at 10^10
    # scale. Spark's runtime bloom-filter join pruning
    # (spark.sql.optimizer.runtime.bloomFilter.*, on by default in Spark 4)
    # gives the same history-side scan reduction safely: a FIXED-SIZE bloom
    # aggregated from the positives side is injected into the history scan
    # when that scan is large, so the big side shrinks before the shuffle
    # without any driver materialization. On Iceberg the bucket-transform
    # storage-partitioned join removes the history shuffle entirely; the
    # join key stays exposed for that swap.
    return negatives.unionByName(positives.join(seen, "url", "left_anti"))
