"""Physical-plan regression tests: pin the plan properties PLANS.md
claims (pushdown, column pruning, map-side combine, broadcast joins) so a
refactor that silently degrades the 100 TB plan fails loudly here."""

from distributed_web_crawler_spark import queries as Q

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_exact_dedup_partial_agg_no_window(spark):
    from distributed_web_crawler_spark.pipeline import dedup as pdedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pdedup.exact_dedup(docs))
    assert "partial_min_by" in plan, plan[:1500]  # map-side combine
    assert "Window" not in plan, "winner must not use a window sort"


def test_politeness_crawl_delay_join_broadcasts(spark):
    plan = _plan(Q.QUERIES["politeness_crawl_delay"](spark, SF))
    assert "BroadcastExchange" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan, "delay join must broadcast"


def test_crawl_phase_b_never_reads_payload_bytes(spark, tmp_path):
    """The stored/children plans must column-prune the pages scan so the
    payload `bytes` column is never read back (the decisive 100 TB
    constraint — PLANS.md crawl-round audit)."""
    from distributed_web_crawler_spark.config import (
        CrawlConfig,
        SynthWebConfig,
    )
    from distributed_web_crawler_spark.crawl.driver import Crawler
    from distributed_web_crawler_spark.crawl.synthweb import seed_urls

    synth = SynthWebConfig(n_hosts=4, base_pages_per_host=8)
    cfg = CrawlConfig(max_depth=2, host_budget_per_round=2, max_rounds=2,
                      url_seen_shards=2, bloom_bits_per_shard=1 << 10)
    c = Crawler(spark, cfg, synth, str(tmp_path))
    c.bootstrap(seed_urls(synth, 2))
    c.run()
    stored = c.stored_slim()
    plan = _plan(stored)
    for chunk in plan.split("ReadSchema")[1:]:
        assert "bytes" not in chunk[:400], chunk[:400]


def test_image_curation_is_map_only(spark):
    plan = _plan(Q.QUERIES["image_curation"](spark, SF))
    assert "Exchange hashpartitioning" not in plan
    assert "bytes" not in plan.split("ReadSchema", 1)[-1][:300]


def test_revalidate_merge_one_join_no_window(spark):
    plan = _plan(Q.QUERIES["revalidate_merge"](spark, SF))
    joins = sum(plan.count(j) for j in
                ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert joins == 1, plan[:2000]
    assert "Window" not in plan and "CartesianProduct" not in plan


def test_arrow_batches_are_payload_bounded(spark):
    """The session bounds Arrow batches (default 10k rows/batch is
    ~600 MB of pandas per task at 60 KB media payloads — byte-heavy
    mapInPandas stages then ANTI-scale with cores; measured 22s @ 8
    cores vs 15s @ 2 on the PSNR verify tier until bounded)."""
    assert spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch") == "1024"


