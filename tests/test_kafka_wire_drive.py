"""Driven Kafka-bridge path (VERDICT r4 'What's missing' #1): a
file-backed Structured Streaming source of CrawlRequest wire records →
frontier_from_json → Crawler.inject_frontier → crawl → frontier_to_json
re-emit, without a broker. Asserts golden parity of the injected crawl
(including a fresh-process resume over the same store), byte-identity
of re-emitted records, committed-offset semantics of the stream
checkpoint, and the gates' handling of wire metadata (a past-max-depth
record is rejected, preserving the wire's depth rather than re-seeding
at 0)."""

import os

from pyspark.sql import functions as F

from distributed_web_crawler_spark.config import (
    CrawlConfig,
    SynthWebConfig,
)
from distributed_web_crawler_spark.crawl.driver import (
    Crawler,
    seeds_frontier,
)
from distributed_web_crawler_spark.crawl.synthweb import seed_urls
from distributed_web_crawler_spark.golden import golden_crawl
from distributed_web_crawler_spark.sources.kafka_bridge import (
    frontier_from_json,
    frontier_to_json,
    wire_inject_stream,
)

SYNTH = SynthWebConfig(n_hosts=10, base_pages_per_host=20)
CFG = CrawlConfig(max_depth=3, host_budget_per_round=2, max_rounds=5,
                  allowed_domains=(r".*\.example\.com",),
                  url_seen_shards=4, bloom_bits_per_shard=1 << 14)


def _write_topic(tmp_path, name: str, values: list[str]) -> str:
    topic = tmp_path / name
    topic.mkdir(exist_ok=True)
    n = len(list(topic.iterdir()))
    (topic / f"part-{n:05d}.jsonl").write_text("\n".join(values) + "\n")
    return str(topic)


def test_wire_inject_golden_parity_reemit_and_fresh_resume(
        spark, tmp_path):
    seeds = seed_urls(SYNTH, 3)
    extra = ["http://h0007.example.com/p/3",
             "http://h0008.example.com/p/1"]
    store = str(tmp_path / "store")
    c = Crawler(spark, CFG, SYNTH, store)
    c.bootstrap(seeds)
    c.run(max_rounds=2)
    target = c.store.last_round()

    # wire records exactly as the reference's producer serializes them
    # (CrawlRequest JSON keyed by url); built from the engine's own
    # seed shape at the target round so the golden model stays an oracle
    wire = frontier_to_json(
        seeds_frontier(spark, extra, CFG, round_no=target))
    values = [r["value"] for r in wire.collect()]
    assert all(v.startswith('{"url"') for v in values)
    topic = _write_topic(tmp_path, "topic", values)

    n = wire_inject_stream(c, topic, checkpoint=str(tmp_path / "ckpt"))
    assert n == len(extra)

    # one round in this process, then a FRESH engine over the same
    # store finishes the crawl — the staged wire injection must survive
    # the process boundary like any other committed state
    c.run(max_rounds=1)
    c2 = Crawler(spark, CFG, SYNTH, store)
    c2.run()

    g = golden_crawl(seeds, CFG, SYNTH, injections={target: extra})
    assert g.visits == c2.visit_sequence()

    # committed-offset semantics: re-draining the SAME topic with the
    # same checkpoint consumes zero records (the manual-ack analog) ...
    assert wire_inject_stream(
        c2, topic, checkpoint=str(tmp_path / "ckpt")) == 0
    # ... and only newly-landed files are consumed on the next drain
    more = ["http://h0009.example.com/p/1"]
    wire2 = frontier_to_json(
        seeds_frontier(spark, more, CFG, round_no=c2.store.last_round()))
    _write_topic(tmp_path, "topic",
                 [r["value"] for r in wire2.collect()])
    assert wire_inject_stream(
        c2, topic, checkpoint=str(tmp_path / "ckpt")) == 1

    # re-emit: the final crawl frontier back onto the wire, and the
    # injected topic itself — from_json ∘ to_json is byte-identity
    reparsed = frontier_from_json(
        spark.read.text(topic).where(F.length("value") > 0))
    reemitted = sorted(
        r["value"] for r in frontier_to_json(reparsed).collect())
    assert reemitted == sorted(values
                               + [r["value"] for r in wire2.collect()])
    last = c2.store.last_round()
    final_frontier = c2.store.read(spark, "frontier", [last])
    if final_frontier is not None and final_frontier.limit(1).count():
        out = frontier_to_json(final_frontier)
        back = frontier_from_json(out.select("value"))
        again = frontier_to_json(back)
        assert sorted(r["value"] for r in out.collect()) == \
            sorted(r["value"] for r in again.collect())


def test_wire_metadata_respected_by_gates(spark, tmp_path):
    """A wire CrawlRequest past max_depth must be REJECTED by the gates
    (the reference consumer's shouldCrawl depth check), proving
    inject_frontier preserves wire depth instead of re-seeding at 0;
    a within-depth wire record at depth 2 is crawled."""
    seeds = seed_urls(SYNTH, 1)
    store = str(tmp_path / "store")
    c = Crawler(spark, CFG, SYNTH, store)
    c.bootstrap(seeds)
    c.run(max_rounds=1)
    target = c.store.last_round()

    deep = "http://h0006.example.com/p/1"
    ok = "http://h0005.example.com/p/1"
    base = seeds_frontier(spark, [deep, ok], CFG, round_no=target)
    shaped = base.withColumn(
        "depth",
        F.when(F.col("url") == deep, F.lit(99)).otherwise(F.lit(2)))
    values = [r["value"] for r in frontier_to_json(shaped).collect()]
    topic = _write_topic(tmp_path, "topic", values)
    assert wire_inject_stream(
        c, topic, checkpoint=str(tmp_path / "ckpt")) == 2

    c.run()
    visited = {u for _, _, u in c.visit_sequence()}
    assert ok in visited
    assert deep not in visited

    # duplicate-URL wire batches collapse deterministically (min struct)
    dup = seeds_frontier(spark, [ok], CFG, round_no=target)
    both = dup.unionByName(dup.withColumn("priority", F.lit(9)))
    c.inject_frontier(both)
    staged = spark.read.parquet(
        c.store.round_dir("inject", c.store.last_round()))
    mine = staged.where(F.col("url") == ok)
    assert mine.count() == 1
    assert mine.first()["priority"] == 1


def test_wire_instant_precision_variants_inject_cleanly(spark, tmp_path):
    """Jackson ISO_INSTANT fraction styles (none / 3 / 6 / 9 digits)
    all parse to the same ms-grain frontier rows through the DRIVEN
    stream path, not just the pure-transform oracle."""
    seeds = seed_urls(SYNTH, 1)
    c = Crawler(spark, CFG, SYNTH, str(tmp_path / "store"))
    c.bootstrap(seeds)
    c.run(max_rounds=1)
    vals = [
        '{"url":"http://h0004.example.com/p/1","depth":0,'
        '"discoveredAt":"2023-11-14T22:13:20Z","priority":1,'
        '"retryCount":0}',
        '{"url":"http://h0004.example.com/p/2","depth":0,'
        '"discoveredAt":"2023-11-14T22:13:20.123Z","priority":1,'
        '"retryCount":0}',
        '{"url":"http://h0004.example.com/p/3","depth":0,'
        '"discoveredAt":"2023-11-14T22:13:20.123456Z","priority":1,'
        '"retryCount":0}',
        '{"url":"http://h0004.example.com/p/4","depth":0,'
        '"discoveredAt":"2023-11-14T22:13:20.123456789Z","priority":1,'
        '"retryCount":0}',
    ]
    topic = _write_topic(tmp_path, "topic", vals)
    assert wire_inject_stream(
        c, topic, checkpoint=str(tmp_path / "ckpt")) == 4
    staged = spark.read.parquet(
        c.store.round_dir("inject", c.store.last_round()))
    got = {r["url"]: r["discovered_at_ms"] for r in staged.collect()}
    base = 1700000000000
    assert got == {
        "http://h0004.example.com/p/1": base,
        "http://h0004.example.com/p/2": base + 123,
        "http://h0004.example.com/p/3": base + 123,
        "http://h0004.example.com/p/4": base + 123,
    }


def test_wire_lines_without_url_are_dropped(spark, tmp_path):
    """Blank, malformed and ``{}`` wire lines carry no url: the bridge
    drops them, so only the valid record is staged and the round that
    consumes the batch commits."""
    seeds = seed_urls(SYNTH, 1)
    c = Crawler(spark, CFG, SYNTH, str(tmp_path / "store"))
    c.bootstrap(seeds)
    c.run(max_rounds=1)
    target = c.store.last_round()
    ok = "http://h0005.example.com/p/1"
    valid = frontier_to_json(
        seeds_frontier(spark, [ok], CFG, round_no=target)).first()["value"]
    topic = _write_topic(tmp_path, "topic", ["", "{not json", "{}", valid])
    assert wire_inject_stream(
        c, topic, checkpoint=str(tmp_path / "ckpt")) == 1
    staged = spark.read.parquet(c.store.round_dir("inject", target))
    assert [r["url"] for r in staged.collect()] == [ok]

    stats = c.run(max_rounds=target + 1)
    assert stats["rounds"] == 1
    assert c.store.last_round() == target + 1
    assert ok in {u for _, _, u in c.visit_sequence()}
