"""Snapshot-store time travel: as-of reads reproduce past rounds."""

def test_time_travel_reads_reproduce_past_snapshots(spark, tmp_path):
    """Iceberg-style as-of reads: pages(as_of_round=k) equals what the
    head read returned when marker k WAS the head."""
    import pytest

    from distributed_web_crawler_spark.config import (
        CrawlConfig,
        SynthWebConfig,
    )
    from distributed_web_crawler_spark.crawl.driver import Crawler
    from distributed_web_crawler_spark.crawl.synthweb import seed_urls

    synth = SynthWebConfig(n_hosts=6, base_pages_per_host=12)
    cfg = CrawlConfig(max_depth=3, host_budget_per_round=2, max_rounds=4,
                      allowed_domains=(r".*\.example\.com",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12)
    c = Crawler(spark, cfg, synth, str(tmp_path))
    c.bootstrap(seed_urls(synth, 3))
    c.run(max_rounds=2)
    head2_urls = {r["url"] for r in
                  c.pages().select("url").distinct().collect()}
    c.run()
    last = c.store.last_round()
    # the as-of read at marker 2 reproduces the old head exactly
    asof_urls = {r["url"] for r in
                 c.pages(as_of_round=2).select("url").distinct().collect()}
    assert asof_urls == head2_urls
    # the current head strictly extends it
    head_urls = {r["url"] for r in
                 c.pages().select("url").distinct().collect()}
    assert head2_urls < head_urls
    # lineage/stored honor the same bound; out-of-range raises
    rounds = {r["round"] for r in
              c.stored_slim(as_of_round=2).select("round").collect()}
    assert rounds <= {0, 1}
    with pytest.raises(ValueError):
        c.pages(as_of_round=last + 1)
