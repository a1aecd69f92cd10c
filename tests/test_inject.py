"""Mid-crawl URL injection (Crawler.inject — the reference's
POST /api/crawler/urls analog): golden parity, URL-seen semantics,
durability across a process boundary (same-session resume), and
revival of a drained crawl."""

from distributed_web_crawler_spark.config import (
    CrawlConfig,
    SynthWebConfig,
)
from distributed_web_crawler_spark.crawl.driver import Crawler
from distributed_web_crawler_spark.crawl.synthweb import seed_urls
from distributed_web_crawler_spark.golden import golden_crawl

SYNTH = SynthWebConfig(n_hosts=10, base_pages_per_host=20)
CFG = CrawlConfig(max_depth=3, host_budget_per_round=2, max_rounds=5,
                  allowed_domains=(r".*\.example\.com",),
                  url_seen_shards=4, bloom_bits_per_shard=1 << 14)


def test_inject_mid_crawl_golden_parity(spark, tmp_path):
    seeds = seed_urls(SYNTH, 3)
    extra = [
        "http://h0007.example.com/p/3",   # brand-new host
        "http://h0008.example.com/p/1",   # brand-new host
        seeds[0],                         # already seen at bootstrap: drop
        "http://h0007.example.com/p/3",   # duplicate within batch: drop
    ]
    c = Crawler(spark, CFG, SYNTH, str(tmp_path))
    c.bootstrap(seeds)
    c.run(max_rounds=2)
    target = c.inject(extra)
    assert target == 2
    stats = c.run()
    g = golden_crawl(seeds, CFG, SYNTH, injections={2: extra})
    assert g.visits == c.visit_sequence()
    # the injection round's lineage counted only the survivors — and
    # exactly as many as the golden model enqueued (an "extra" URL the
    # crawl had already discovered as a child is deduped on both sides)
    inj_rounds = [p for p in stats["per_round"] if p.get("injected")]
    assert inj_rounds and inj_rounds[0]["round"] == 2
    g_inj = next(row for row in g.lineage
                 if row["round"] == 2 and "injected" in row)
    assert inj_rounds[0]["injected"] == g_inj["injected"] >= 1


def test_inject_urls_enter_seen_set_no_reenqueue(spark, tmp_path):
    """An injected URL must never be re-enqueued by a later child link:
    rerunning golden WITHOUT injections over the same seeds yields a
    different visit set, while the injected store matches the injected
    golden exactly (incl. the D4 dedup of the injected URLs)."""
    seeds = seed_urls(SYNTH, 2)
    extra = ["http://h0001.example.com/p/5"]
    c = Crawler(spark, CFG, SYNTH, str(tmp_path))
    c.bootstrap(seeds)
    c.run(max_rounds=1)
    c.inject(extra)
    c.run()
    g = golden_crawl(seeds, CFG, SYNTH, injections={1: extra})
    assert g.visits == c.visit_sequence()
    visited = [u for _, _, u in c.visit_sequence()]
    assert visited.count(extra[0]) <= 1


def test_inject_revives_drained_crawl(spark, tmp_path):
    """Injection into a store whose frontier drained resumes crawling
    (the reference can enqueue into an idle crawler)."""
    tiny = SynthWebConfig(n_hosts=2, base_pages_per_host=3)
    cfg = CrawlConfig(max_depth=1, host_budget_per_round=4, max_rounds=6,
                      allowed_domains=(r".*\.example\.com",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12)
    seeds = seed_urls(tiny, 1)
    c = Crawler(spark, cfg, tiny, str(tmp_path))
    c.bootstrap(seeds)
    first = c.run()
    drained_round = first["rounds"]
    extra = ["http://h0001.example.com/p/2"]
    target = c.inject(extra)
    more = c.run()
    assert more["rounds"] >= 1
    g = golden_crawl(seeds, cfg, tiny, injections={target: extra})
    assert g.visits == c.visit_sequence()
    assert drained_round <= target


def test_inject_round_keeps_feed_state(spark, tmp_path):
    """A round that consumes an inject batch must keep the accumulated
    feeds state: feeds fetched in earlier rounds are not refetched, and
    the compaction in that round snapshots the full feed history.
    Per-round lineage and the visit sequence match golden."""
    synth = SynthWebConfig(n_hosts=8, base_pages_per_host=48,
                           feed_every=2, feed_drift_round=2,
                           robots_every=3, max_out_links=2)
    cfg = CrawlConfig(max_depth=5, host_budget_per_round=3, max_rounds=6,
                      allowed_domains=(r".*\.example\.com",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12,
                      feed_discovery=True, compact_every_rounds=4)
    seeds = seed_urls(synth, 3)
    extra = [synth.url(7, 11)]
    c = Crawler(spark, cfg, synth, str(tmp_path))
    c.bootstrap(seeds)
    c.run(max_rounds=3)
    assert c.inject(extra) == 3
    c.run()
    g = golden_crawl(seeds, cfg, synth, injections={3: extra})
    lin = {(r["round"], r["metric"]): r["value"]
           for r in c.lineage().groupBy("round", "metric")
           .sum("value").withColumnRenamed("sum(value)", "value")
           .collect()}
    for row in g.lineage:
        for metric in ("feed_candidates", "discovered"):
            got = lin.get((row["round"], metric), 0)
            assert got == row.get(metric, 0), (row["round"], metric, got)
    assert g.visits == c.visit_sequence()
