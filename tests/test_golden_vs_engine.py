"""E2E parity: the Spark engine must reproduce the golden sequential model's
visit sequence and final URL-seen set exactly (north_rule), plus per-row
image invariants (decoded-pixel allclose / PSNR≥40 dB, caption equality) and
resume-from-checkpoint identity (SURVEY.md §5 steps 3-4)."""

import numpy as np
import pytest

from distributed_web_crawler_spark.config import CrawlConfig, SynthWebConfig
from distributed_web_crawler_spark.crawl import synthweb as W
from distributed_web_crawler_spark.crawl.driver import Crawler
from distributed_web_crawler_spark.golden import golden_crawl

SYNTH = SynthWebConfig(n_hosts=12, base_pages_per_host=24)
CFG = CrawlConfig(
    max_depth=4,
    host_budget_per_round=2,
    allowed_domains=(r".*\.example\.com",),
    exclude_patterns=(r".*/p/7",),
    max_rounds=6,
    url_seen_shards=4,
    bloom_bits_per_shard=1 << 14,
)
SEEDS = W.seed_urls(SYNTH, 4)


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crawlstore"))
    crawler = Crawler(spark, CFG, SYNTH, root)
    crawler.bootstrap(SEEDS)
    stats = crawler.run()
    return crawler, stats


@pytest.fixture(scope="module")
def golden():
    return golden_crawl(SEEDS, CFG, SYNTH)


def test_visit_sequence_matches_golden(crawled, golden):
    crawler, stats = crawled
    got = crawler.visit_sequence()
    # golden.visits are appended in canonical per-round order already
    assert got == golden.visits
    assert stats["stored"] == len(golden.visits)
    assert stats["stored"] > 20  # the crawl actually went somewhere


def test_url_seen_set_matches_golden(crawled, golden):
    crawler, _ = crawled
    assert crawler.url_seen_set() == golden.stored_urls


def test_content_hashes_match_golden(crawled, golden):
    crawler, _ = crawled
    got = {r["content_hash"] for r in
           crawler.pages().select("content_hash").collect()}
    assert got == golden.stored_hashes


def test_image_invariants_per_row(crawled):
    """input_hint: decoded-pixel allclose (PSNR≥40dB lossy) + caption
    equality per stored row vs the synthetic ground truth."""
    crawler, _ = crawled
    rows = crawler.pages().select(
        "url", "bytes", "w", "h", "fmt", "caption", "phash").collect()
    assert rows
    for row in rows:
        page = W.page_for_url(row["url"], SYNTH)
        assert row["caption"] == page["caption"]
        orig = W.original_pixels_for_url(row["url"], SYNTH)
        dec, fmt = W.decode_image(bytes(row["bytes"]))
        assert fmt == row["fmt"]
        assert dec.shape == (row["h"], row["w"])
        if fmt == "png":
            assert np.array_equal(dec, orig)
        else:
            assert W.psnr(orig, dec) >= 40.0
        assert row["phash"] == page["phash"]


def test_lineage_counts(crawled, golden):
    crawler, _ = crawled
    lin = crawler.lineage().groupBy("metric").sum("value").collect()
    totals = {r["metric"]: r["sum(value)"] for r in lin}
    assert totals["stored"] == len(golden.visits)
    assert totals["fetched"] >= totals["stored"]
    assert totals["polled"] >= totals["fetched"]


def test_resume_identical(spark, tmp_path, crawled, golden):
    """Kill after round 2 (simulated: run 3 rounds, new driver resumes) —
    final state must be identical (north_rule checkpoint requirement)."""
    root = str(tmp_path / "resume_store")
    c1 = Crawler(spark, CFG, SYNTH, root)
    c1.bootstrap(SEEDS)
    c1.run(max_rounds=3)  # stops mid-crawl at the round-3 barrier

    c2 = Crawler(spark, CFG, SYNTH, root)  # fresh driver, same store
    c2.run()  # resumes from last committed marker
    full_crawler, _ = crawled
    assert c2.visit_sequence() == full_crawler.visit_sequence()
    assert c2.url_seen_set() == full_crawler.url_seen_set()


def test_politeness_budget_exact_per_host_round(crawled):
    """F5 under salting: no (round, host) stores more than the per-round
    budget — SURVEY.md §7.2 hard part (c), north_rule politeness budget."""
    crawler, _ = crawled
    from pyspark.sql import functions as F
    counts = (crawler.stored_slim()
              .groupBy("round", "host").agg(F.count("*").alias("n"))
              .collect())
    assert counts, "no stored rows"
    over = [r for r in counts if r["n"] > CFG.host_budget_per_round]
    assert not over, f"budget exceeded: {over}"


def test_all_rejected_round_terminates_cleanly(spark, tmp_path):
    """An all-rejected round writes a schema-bearing empty pages shard,
    terminates the loop, and keeps pages()/visit_sequence() readable."""
    synth = SynthWebConfig(n_hosts=4, base_pages_per_host=10)
    cfg = CrawlConfig(max_depth=3, host_budget_per_round=2, max_rounds=3,
                      exclude_patterns=(r".*",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 10)
    c = Crawler(spark, cfg, synth, str(tmp_path))
    c.bootstrap(W.seed_urls(synth, 3))
    stats = c.run()
    assert stats["fetched"] == 0 and stats["rounds"] == 1
    assert c.pages() is not None and c.pages().count() == 0
    assert c.visit_sequence() == []
    g = golden_crawl(W.seed_urls(synth, 3), cfg, synth)
    assert g.visits == []


def test_frontier_count_invariant(crawled):
    """_frontier_empty derives round r's emptiness from the previous
    commit's discovered+deferred lineage counts; pin the invariant those
    counts must satisfy — the committed frontier row count per round equals
    discovered + deferred of the producing round — so any future change to
    next_frontier composition that skips the lineage metrics fails loudly
    instead of silently terminating the crawl early."""
    crawler, _ = crawled
    last = crawler.store.last_round()
    for r in range(1, last + 1):
        meta = crawler.store.round_meta(r)
        counts = meta["counts"]
        expected = counts.get("discovered", 0) + counts.get("deferred", 0)
        frontier = crawler.store.read(crawler.spark, "frontier", [r])
        n = 0 if frontier is None else frontier.count()
        assert n == expected, f"round {r}: frontier={n} lineage={expected}"


def test_pages_date_partition_prunes(crawled):
    """X6 as physical layout: pages/round=r/fetch_date=…/ — a date filter
    must reach the scan as a partition filter (directory pruning), not a
    data filter."""
    crawler, _ = crawled
    from pyspark.sql import functions as F
    pages = crawler.pages()
    assert "fetch_date" in pages.columns
    plan = (pages.where(F.col("fetch_date") == "1970-01-01")
            ._jdf.queryExecution().executedPlan().toString())
    after = plan.split("PartitionFilters", 1)
    assert len(after) == 2 and "fetch_date" in after[1][:300], plan[:2000]
    assert (pages.where(F.col("fetch_date") == "1970-01-01").count() == 0)
    assert pages.count() > 0


def test_compaction_parity_and_bounded_state_reads(spark, tmp_path, golden):
    """Seen-state compaction (url_seen/hash_seen/robots_compact snapshots
    every K rounds) must be invisible to semantics — identical visit
    sequence and URL-seen set — while bounding every per-round state read
    to one snapshot + a ≤K-round tail, including a resume that crosses a
    compaction boundary in a fresh driver."""
    import dataclasses

    cfg = dataclasses.replace(CFG, compact_every_rounds=2)
    root = str(tmp_path / "compact_store")
    c1 = Crawler(spark, cfg, SYNTH, root)
    c1.bootstrap(SEEDS)
    c1.run(max_rounds=3)  # crosses the round-2 compaction boundary
    c2 = Crawler(spark, cfg, SYNTH, root)  # fresh driver on compacted store
    c2.run()
    assert c2.visit_sequence() == golden.visits
    assert c2.url_seen_set() == golden.stored_urls

    last = c2.store.last_round()
    cu = c2._latest_compact("url_seen", last)
    assert cu is not None and last - cu < 2, "stale compaction snapshot"
    assert c2._latest_compact("hash_seen", last) == cu
    assert c2._latest_compact("robots_compact", last) == cu

    # state reads touch ≤ K tail round dirs per history table
    calls = []
    orig = c2.store.read

    def spy(spark_, name, rounds=None):
        calls.append((name, rounds))
        return orig(spark_, name, rounds)

    c2.store.read = spy
    c2._state_for(last)
    hist_tails = [(n, r) for n, r in calls
                  if n in ("frontier", "stored", "robots")]
    assert hist_tails and all(len(r) <= 2 for _, r in hist_tails), hist_tails
    assert {n for n, _ in calls} >= {"url_seen", "hash_seen",
                                     "robots_compact"}

    # the bucketed layout: one snapshot dir, bucket=… partitions inside
    import os
    snap = os.path.join(root, "tables", "url_seen", f"round={cu}")
    assert any(d.startswith("bucket=") for d in os.listdir(snap))


def test_pages_mixed_date_layout_reads(spark, tmp_path):
    """A store committed by pre-date-partition code has FLAT pages round
    dirs (no fetch_date= layer). Reading a store that mixes flat and
    nested rounds must union with fetch_date null for the flat rounds
    instead of raising a missing-column AnalysisException."""
    import glob
    import os
    import shutil

    synth = SynthWebConfig(n_hosts=6, base_pages_per_host=12)
    cfg = CrawlConfig(max_depth=3, host_budget_per_round=2, max_rounds=3,
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12)
    root = str(tmp_path / "mixed_store")
    c = Crawler(spark, cfg, synth, root)
    c.bootstrap(W.seed_urls(synth, 3))
    c.run()
    # flatten round 0: move shard files out of fetch_date=… and drop it
    r0 = os.path.join(root, "tables", "pages", "round=0")
    (inner,) = glob.glob(os.path.join(r0, "fetch_date=*"))
    for f in os.listdir(inner):
        shutil.move(os.path.join(inner, f), os.path.join(r0, f))
    os.rmdir(inner)

    pages = c.pages()
    assert pages.count() > 0
    from pyspark.sql import functions as F
    by_round = {r["round"]: r for r in
                pages.groupBy("round")
                .agg(F.count("*").alias("n"),
                     F.count("fetch_date").alias("n_dated")).collect()}
    assert by_round[0]["n_dated"] == 0, "flat round must read null dates"
    later = [r for k, r in by_round.items() if k > 0]
    assert later and all(r["n_dated"] == r["n"] for r in later)


def test_resume_ignores_and_expires_legacy_hash_bloom(spark, tmp_path,
                                                      golden):
    """Content dedup (D1) is one exact anti-join, so a crawl writes no
    hash_bloom table. A store from older code still holds a content-hash
    filter at its head round: resume must neither read nor extend it
    (golden parity holds), and expire_state() must delete it."""
    import os
    import shutil

    root = str(tmp_path / "legacy_store")
    c1 = Crawler(spark, CFG, SYNTH, root)
    c1.bootstrap(SEEDS)
    c1.run(max_rounds=3)
    tables = os.path.join(root, "tables")
    assert not os.path.exists(os.path.join(tables, "hash_bloom"))

    head = c1.store.last_round()
    legacy = os.path.join(tables, "hash_bloom", f"round={head}")
    shutil.copytree(os.path.join(tables, "bloom", f"round={head}"), legacy)

    c2 = Crawler(spark, CFG, SYNTH, root)
    c2.run()
    assert c2.visit_sequence() == golden.visits
    assert c2.store.last_round() > head
    assert c2.store.rounds_present("hash_bloom") == [head]

    assert c2.expire_state().get("hash_bloom") == 1
    assert not os.path.exists(legacy)


def test_crawl_delay_budget_override(spark, tmp_path):
    """Robots Crawl-delay ⇒ per-host budget override
    min(host_budget_per_round, ceil(round_seconds / delay)): delayed hosts
    store ≤ the override per round, the visit sequence still matches the
    golden model, and at least one non-delayed host exceeds the override
    (proving the override is per-host, not global)."""
    from pyspark.sql import functions as F

    synth = SynthWebConfig(n_hosts=8, base_pages_per_host=24,
                           crawl_delay_every=2, crawl_delay_secs=45.0)
    cfg = CrawlConfig(max_depth=3, host_budget_per_round=3, max_rounds=4,
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12)
    override = 2  # min(3, ceil(60 / 45)) = 2
    c = Crawler(spark, cfg, synth, str(tmp_path))
    seeds = W.seed_pages(synth, 4)
    c.bootstrap(seeds)
    c.run()
    g = golden_crawl(seeds, cfg, synth)
    assert c.visit_sequence() == g.visits
    counts = (c.stored_slim().groupBy("round", "host")
              .agg(F.count("*").alias("n")).collect())
    delayed = [r for r in counts
               if W.robots_crawl_delay_for_host(r["host"], synth)]
    free = [r for r in counts
            if not W.robots_crawl_delay_for_host(r["host"], synth)]
    assert delayed and free
    assert all(r["n"] <= override for r in delayed), delayed
    assert max(r["n"] for r in free) > override, \
        "no free host exceeded the override - test has no power"


def test_pld_domain_cap_crawl_parity(spark, tmp_path):
    """Second politeness tier (eTLD+1 cap) end-to-end: every synth host
    shares registered domain example.com, so pld_budget_per_round bounds
    TOTAL stores per round; the engine still matches the golden model's
    visit sequence, and the cap demonstrably binds (host tier alone would
    admit hosts x host_budget > cap)."""
    from pyspark.sql import functions as F

    synth = SynthWebConfig(n_hosts=8, base_pages_per_host=24)
    cfg = CrawlConfig(max_depth=3, host_budget_per_round=2, max_rounds=4,
                      pld_budget_per_round=5,
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12)
    c = Crawler(spark, cfg, synth, str(tmp_path))
    seeds = W.seed_pages(synth, 3)  # saturates every host round 1
    c.bootstrap(seeds)
    c.run()
    g = golden_crawl(seeds, cfg, synth)
    assert c.visit_sequence() == g.visits
    assert c.url_seen_set() == g.stored_urls
    per_round = (c.stored_slim().groupBy("round")
                 .agg(F.count("*").alias("n")).collect())
    assert per_round
    assert all(r["n"] <= cfg.pld_budget_per_round for r in per_round)
    assert max(r["n"] for r in per_round) == cfg.pld_budget_per_round, \
        "cap never bound - test has no power"


def test_resume_from_pre_crawl_delay_store(spark, tmp_path, golden):
    """A store whose robots rounds were written before the crawl_delay
    column existed must resume cleanly: mixed-schema robots reads merge
    with null crawl_delay (no override), preserving parity."""
    import glob
    import os
    import shutil

    root = str(tmp_path / "cd_mig_store")
    c1 = Crawler(spark, CFG, SYNTH, root)
    c1.bootstrap(SEEDS)
    c1.run(max_rounds=3)
    # rewrite committed robots rounds with the pre-crawl-delay schema
    for rdir in glob.glob(os.path.join(root, "tables", "robots", "round=*")):
        old = (spark.read.parquet(rdir)
               .select("host", "robots_disallow").toPandas())
        shutil.rmtree(rdir)
        spark.createDataFrame(
            old, "host string, robots_disallow array<string>"
        ).write.parquet(rdir)

    c2 = Crawler(spark, CFG, SYNTH, root)
    c2.run()
    assert c2.visit_sequence() == golden.visits


def test_snapshot_store_satisfies_round_catalog():
    """SnapshotStore is the parquet implementation of the RoundCatalog
    seam (tables/catalog.py) — the interface an Iceberg catalog drops
    into. Structural check + the store-injection constructor path."""
    from distributed_web_crawler_spark.tables.catalog import RoundCatalog
    from distributed_web_crawler_spark.tables.snapshot_store import (
        SnapshotStore,
    )

    import tempfile
    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        assert isinstance(store, RoundCatalog)


def test_adaptive_budget_golden_parity_and_bites(spark, tmp_path):
    """AIMD politeness feedback (cfg.adaptive_budget): a host with >10%
    fetch failures in round r-1 is budget-halved in round r. The rule
    must (a) actually change the crawl on this web (golden on vs off
    differ — the test has power) and (b) keep engine/golden visit
    parity with the feedback loop closed through the committed pages
    table, including across a resume."""
    from dataclasses import replace as dc_replace

    synth = SynthWebConfig(n_hosts=8, base_pages_per_host=20)
    cfg = CrawlConfig(max_depth=3, host_budget_per_round=4, max_rounds=5,
                      allowed_domains=(r".*\.example\.com",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12,
                      adaptive_budget=True)
    seeds = W.seed_urls(synth, 4)
    g_on = golden_crawl(seeds, cfg, synth)
    g_off = golden_crawl(seeds, dc_replace(cfg, adaptive_budget=False),
                         synth)
    assert g_on.visits != g_off.visits, \
        "adaptive budget never fired - test has no power"

    c = Crawler(spark, cfg, synth, str(tmp_path / "s1"))
    c.bootstrap(seeds)
    c.run()
    assert c.visit_sequence() == g_on.visits

    # resume: the overrides recompute identically from committed pages
    c2 = Crawler(spark, cfg, synth, str(tmp_path / "s2"))
    c2.bootstrap(seeds)
    c2.run(max_rounds=2)
    c2b = Crawler(spark, cfg, synth, str(tmp_path / "s2"))
    c2b.run()
    assert c2b.visit_sequence() == g_on.visits


def test_inlink_priority_golden_parity_and_reorders(spark, tmp_path):
    """Backlink-count frontier ordering (cfg.priority_mode="inlink",
    Cho/Garcia-Molina/Page WWW'98): children discovered by many pages get
    a lower priority number and rank earlier in the (priority, host, url)
    total order AND in the politeness budget pick. The tier must (a)
    actually reorder this crawl vs the reference's constant priority
    (power) and (b) keep engine/golden visit parity, including across a
    fresh-process resume (priority persists in the frontier snapshot)."""
    from dataclasses import replace as dc_replace

    synth = SynthWebConfig(n_hosts=10, base_pages_per_host=24)
    cfg = CrawlConfig(max_depth=3, host_budget_per_round=2, max_rounds=5,
                      allowed_domains=(r".*\.example\.com",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12,
                      priority_mode="inlink", priority_inlink_cap=8)
    seeds = W.seed_urls(synth, 4)
    g_on = golden_crawl(seeds, cfg, synth)
    g_off = golden_crawl(seeds, dc_replace(cfg, priority_mode="constant"),
                         synth)
    assert g_on.visits != g_off.visits, \
        "inlink priority never reordered anything - test has no power"
    # same-round reordering, not just budget displacement: some round
    # visits a different host sequence under the inlink order
    assert [v[:2] for v in g_on.visits] != [v[:2] for v in g_off.visits]

    c = Crawler(spark, cfg, synth, str(tmp_path / "s1"))
    c.bootstrap(seeds)
    c.run()
    assert c.visit_sequence() == g_on.visits
    assert c.url_seen_set() == g_on.stored_urls

    # priorities actually vary on the stored table (not all 1)
    prios = {r.priority for r in c.stored_slim().select("priority")
             .distinct().collect()}
    assert len(prios) > 1, "all priorities equal - cap never bound"

    # fresh-process resume: priority rides the committed frontier
    c2 = Crawler(spark, cfg, synth, str(tmp_path / "s2"))
    c2.bootstrap(seeds)
    c2.run(max_rounds=2)
    c2b = Crawler(spark, cfg, synth, str(tmp_path / "s2"))
    c2b.run()
    assert c2b.visit_sequence() == g_on.visits


def test_frontier_cap_golden_parity_and_bounds(spark, tmp_path):
    """Frontier eviction (cfg.frontier_cap): every committed frontier
    round holds at most cap rows, the evicted count is reported, the
    visit sequence still matches the golden model exactly (including
    across a fresh-process resume), and eviction demonstrably changes
    the crawl vs the unbounded run. Run under inlink priorities so the
    boundary-stratum path (not just whole-stratum keeps) is exercised."""
    from dataclasses import replace as dc_replace

    from pyspark.sql import functions as F

    synth = SynthWebConfig(n_hosts=10, base_pages_per_host=24)
    cfg = CrawlConfig(max_depth=3, host_budget_per_round=3, max_rounds=5,
                      allowed_domains=(r".*\.example\.com",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12,
                      priority_mode="inlink", frontier_cap=12)
    seeds = W.seed_urls(synth, 4)
    g_on = golden_crawl(seeds, cfg, synth)
    g_off = golden_crawl(seeds, dc_replace(cfg, frontier_cap=0), synth)
    assert g_on.visits != g_off.visits, \
        "the cap never evicted anything - test has no power"
    assert any("evicted" in ln for ln in g_on.lineage)

    c = Crawler(spark, cfg, synth, str(tmp_path / "s1"))
    c.bootstrap(seeds)
    stats = c.run()
    assert c.visit_sequence() == g_on.visits
    assert c.url_seen_set() == g_on.stored_urls
    # engine round counts mirror golden's evicted accounting
    eng_ev = {r["round"]: r["evicted"] for r in stats["per_round"]
              if "evicted" in r}
    gold_ev = {ln["round"]: ln["evicted"] for ln in g_on.lineage
               if "evicted" in ln}
    assert eng_ev == gold_ev and eng_ev
    # every committed frontier round from round 1 on holds <= cap rows
    fr = c.store.read(spark, "frontier")
    per_round = {r["round"]: r["n"] for r in
                 fr.groupBy("round").agg(F.count("*").alias("n"))
                 .collect()}
    assert all(n <= cfg.frontier_cap
               for rd, n in per_round.items() if rd > 0)

    # fresh-process resume: the capped frontier is the committed one
    c2 = Crawler(spark, cfg, synth, str(tmp_path / "s2"))
    c2.bootstrap(seeds)
    c2.run(max_rounds=2)
    c2b = Crawler(spark, cfg, synth, str(tmp_path / "s2"))
    c2b.run()
    assert c2b.visit_sequence() == g_on.visits


def test_robots_ttl_golden_parity_and_refreshes(spark, tmp_path):
    """Robots cache TTL (cfg.robots_ttl_rounds) against a web whose
    robots.txt drifts mid-crawl: with a TTL, expired hosts re-fetch and
    the new rules change the crawl (power vs ttl=0, where the reference-
    parity forever-cache keeps serving the round-0 rules); engine/golden
    visit parity holds, including across a fresh-process resume, and the
    persisted host state records refetch generations latest-wins."""
    from dataclasses import replace as dc_replace

    from pyspark.sql import functions as F

    synth = SynthWebConfig(n_hosts=10, base_pages_per_host=24,
                           robots_every=2, robots_drift_round=2,
                           robots_disallow_drifted=("/p/1", "/p/2"))
    cfg = CrawlConfig(max_depth=4, host_budget_per_round=3, max_rounds=8,
                      allowed_domains=(r".*\.example\.com",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12,
                      robots_ttl_rounds=2)
    seeds = W.seed_urls(synth, 4)
    g_on = golden_crawl(seeds, cfg, synth)
    g_off = golden_crawl(seeds, dc_replace(cfg, robots_ttl_rounds=0),
                         synth)
    assert g_on.visits != g_off.visits, \
        "robots drift never bit through the TTL - test has no power"

    c = Crawler(spark, cfg, synth, str(tmp_path / "s1"))
    c.bootstrap(seeds)
    c.run()
    assert c.visit_sequence() == g_on.visits
    assert c.url_seen_set() == g_on.stored_urls

    # persisted robots state: refetched hosts carry multiple generations
    rob = c.store.read(spark, "robots")
    gens = (rob.groupBy("host")
            .agg(F.count("*").alias("n"),
                 F.max("fetched_round").alias("newest")).collect())
    assert any(g["n"] > 1 for g in gens), "no host ever refetched"
    assert any(g["newest"] >= 2 for g in gens)

    # fresh-process resume recomputes TTL decisions identically
    c2 = Crawler(spark, cfg, synth, str(tmp_path / "s2"))
    c2.bootstrap(seeds)
    c2.run(max_rounds=3)
    c2b = Crawler(spark, cfg, synth, str(tmp_path / "s2"))
    c2b.run()
    assert c2b.visit_sequence() == g_on.visits


def test_sitemap_discovery_golden_parity_and_reaches_orphans(
        spark, tmp_path):
    """Sitemap discovery tier (cfg.sitemap_discovery): robots-declared
    sitemaps are fetched once per host per robots generation, parsed
    under the sitemaps.org spec rules, and their entries enqueue as
    depth-0 candidates. The tier has power (reaches URLs the link graph
    alone never fetched), engine/golden visit parity holds including
    across a fresh-process resume, a URL both sitemap-listed and
    link-discovered enqueues once with the sitemap identity, and
    lineage reports the candidate volume."""
    from dataclasses import replace as dc_replace

    synth = SynthWebConfig(n_hosts=10, base_pages_per_host=24,
                           sitemap_every=2, robots_every=3,
                           max_out_links=3)
    cfg = CrawlConfig(max_depth=4, host_budget_per_round=3, max_rounds=8,
                      allowed_domains=(r".*\.example\.com",),
                      exclude_patterns=(r".*/p/5",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12,
                      sitemap_discovery=True)
    seeds = W.seed_urls(synth, 3)
    g_on = golden_crawl(seeds, cfg, synth)
    g_off = golden_crawl(seeds, dc_replace(cfg, sitemap_discovery=False),
                         synth)
    orphans = g_on.stored_urls - g_off.stored_urls
    assert orphans, "sitemaps discovered nothing new - test has no power"
    # spec rules held: no excluded URL, nothing outside the allow list
    assert not any(u.endswith("/p/5") for u in g_on.stored_urls)

    c = Crawler(spark, cfg, synth, str(tmp_path / "s1"))
    c.bootstrap(seeds)
    c.run()
    assert c.visit_sequence() == g_on.visits
    assert c.url_seen_set() == g_on.stored_urls

    # sitemap-won identity: every frontier row whose parent is a sitemap
    # has depth 0 and priority 1; at least one such URL was ALSO
    # link-reachable in g_off (the collision enqueues once, sitemap wins)
    fr = c.store.read(spark, "frontier")
    sm_rows = fr.where(fr.parent_url.endswith("/sitemap.xml")).collect()
    assert sm_rows
    assert all(r["depth"] == 0 and r["priority"] == 1 for r in sm_rows)
    sm_urls = {r["url"] for r in sm_rows}
    assert sm_urls & g_off.stored_urls, "no sitemap/link collision seen"

    # lineage mirrors the candidate volume per round
    lin = {(r["round"], r["metric"]): r["value"]
           for r in c.lineage().groupBy("round", "metric")
           .sum("value").withColumnRenamed("sum(value)", "value")
           .collect()}
    for g in g_on.lineage:
        want = g.get("sitemap_candidates", 0)
        got = lin.get((g["round"], "sitemap_candidates"), 0)
        assert got == want, (g["round"], got, want)

    # fresh-process resume replays sitemap decisions identically
    c2 = Crawler(spark, cfg, synth, str(tmp_path / "s2"))
    c2.bootstrap(seeds)
    c2.run(max_rounds=2)
    c2b = Crawler(spark, cfg, synth, str(tmp_path / "s2"))
    c2b.run()
    assert c2b.visit_sequence() == g_on.visits
    assert c2b.url_seen_set() == g_on.stored_urls


def test_redirect_final_url_golden_parity(spark, tmp_path):
    """Redirect tier: /r/N pages 301 to /p/N (synthetic web,
    cfg.redirect_every). The fetcher follows (Jsoup parity: page stays
    keyed by the REQUEST URL, content comes from the target), final_url
    records the post-redirect location, X3 resolves relative hrefs
    against it, and the lineage reports redirected fetch counts.
    Engine/golden visit parity holds with redirects in the link graph."""
    synth = SynthWebConfig(n_hosts=8, base_pages_per_host=24,
                           redirect_every=3, robots_every=3)
    cfg = CrawlConfig(max_depth=4, host_budget_per_round=3, max_rounds=7,
                      allowed_domains=(r".*\.example\.com",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12)
    seeds = W.seed_urls(synth, 3)
    g = golden_crawl(seeds, cfg, synth)
    assert sum(r.get("redirected", 0) for r in g.lineage) > 0, \
        "no redirect was ever followed - test has no power"

    # unit semantics: a /r/N page serves the /p/N target's content under
    # the requested URL, with final_url = the target
    r_url = synth.url(0, 3).replace("/p/", "/r/")
    page = W.page_for_url(r_url, synth)
    target = W.page_for_url(synth.url(0, 3), synth)
    assert page["url"] == r_url
    assert page["final_url"] == synth.url(0, 3)
    assert page["bytes"] == target["bytes"]
    assert page["caption"] == target["caption"]

    c = Crawler(spark, cfg, synth, str(tmp_path / "s1"))
    c.bootstrap(seeds)
    c.run()
    assert c.visit_sequence() == g.visits
    assert c.url_seen_set() == g.stored_urls

    # lineage redirected counts match per round
    lin = {(r["round"], r["metric"]): r["value"]
           for r in c.lineage().groupBy("round", "metric")
           .sum("value").withColumnRenamed("sum(value)", "value")
           .collect()}
    for gr in g.lineage:
        assert lin.get((gr["round"], "redirected"), 0) == \
            gr.get("redirected", 0)

    # the pages surface exposes final_url for redirect-served rows
    fu = {r["url"]: r["final_url"] for r in
          c.pages().select("url", "final_url").collect()}
    red = {u: f for u, f in fu.items() if f is not None}
    for u, f in red.items():
        assert "/r/" in u and f == u.replace("/r/", "/p/")


def test_sitemap_index_discovery_golden_parity(spark, tmp_path):
    """Two-level sitemap layout inside the crawl loop
    (synth.sitemap_index_every): index hosts declare /sitemap_index.xml
    whose children split the loc list; the engine expands the index in
    one extra host-grain fetch pass, candidates carry the INDEX URL as
    parent, discovery reaches orphans, and engine/golden visit parity
    holds — golden needs no index awareness at all because the child
    union equals the flat loc list by construction."""
    synth = SynthWebConfig(n_hosts=10, base_pages_per_host=24,
                           sitemap_every=2, sitemap_index_every=2,
                           robots_every=3, max_out_links=3)
    cfg = CrawlConfig(max_depth=4, host_budget_per_round=3, max_rounds=8,
                      allowed_domains=(r".*\.example\.com",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12,
                      sitemap_discovery=True)
    seeds = W.seed_urls(synth, 3)

    # the fixture really is two-level: host 0 serves an index, no flat
    # /sitemap.xml, and children that union to the flat entry list
    h0 = synth.host_name(0)
    assert W.sitemap_urls_for_host(h0, synth) == \
        [f"http://{h0}/sitemap_index.xml"]
    assert W.sitemap_xml_for_url(f"http://{h0}/sitemap.xml", synth) is None
    idx_xml = W.sitemap_xml_for_url(f"http://{h0}/sitemap_index.xml", synth)
    assert "<sitemapindex>" in idx_xml and "sitemap_a.xml" in idx_xml
    # ...and at least one sitemap host stays flat (index_every=2 splits)
    h2 = synth.host_name(2)
    assert W.sitemap_urls_for_host(h2, synth) == \
        [f"http://{h2}/sitemap.xml"]

    g = golden_crawl(seeds, cfg, synth)
    from dataclasses import replace as dc_replace
    g_off = golden_crawl(seeds, dc_replace(cfg, sitemap_discovery=False),
                         synth)
    assert g.stored_urls - g_off.stored_urls, "no orphan reached - no power"

    c = Crawler(spark, cfg, synth, str(tmp_path / "s1"))
    c.bootstrap(seeds)
    c.run()
    assert c.visit_sequence() == g.visits
    assert c.url_seen_set() == g.stored_urls

    # candidates from index hosts are parented by the INDEX url (the
    # robots-declared document), depth 0, priority 1
    fr = c.store.read(spark, "frontier")
    idx_rows = fr.where(
        fr.parent_url.endswith("/sitemap_index.xml")).collect()
    assert idx_rows, "no candidate traversed the index level"
    assert all(r["depth"] == 0 and r["priority"] == 1 for r in idx_rows)
    assert all(r["host"] == r["parent_url"].split("/")[2]
               for r in idx_rows)


def test_feed_discovery_golden_parity_and_tier_order(spark, tmp_path):
    """Feed discovery tier (cfg.feed_discovery): fetched pages'
    autodiscovered section Atom feeds fetch once per crawl, their
    RFC 4287 entries enqueue as depth-0 candidates (parent = feed URL),
    and — unlike sitemaps — cross-host entries are legal. The tier has
    power (reaches URLs the link graph never fetched), engine/golden
    visit parity holds including across a fresh-process resume and with
    BOTH discovery tiers on (pinning the merge order: sitemap identity
    wins a same-round collision), and lineage reports the candidate
    volume."""
    from dataclasses import replace as dc_replace

    synth = SynthWebConfig(n_hosts=8, base_pages_per_host=20,
                           feed_every=2, robots_every=3, max_out_links=3)
    cfg = CrawlConfig(max_depth=4, host_budget_per_round=3, max_rounds=8,
                      allowed_domains=(r".*\.example\.com",),
                      exclude_patterns=(r".*/p/5",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12,
                      feed_discovery=True)
    seeds = W.seed_urls(synth, 3)
    g_on = golden_crawl(seeds, cfg, synth)
    g_off = golden_crawl(seeds, dc_replace(cfg, feed_discovery=False),
                         synth)
    orphans = g_on.stored_urls - g_off.stored_urls
    assert orphans, "feeds discovered nothing new - test has no power"
    assert not any(u.endswith("/p/5") for u in g_on.stored_urls)  # F4 held

    c = Crawler(spark, cfg, synth, str(tmp_path / "f1"))
    c.bootstrap(seeds)
    c.run()
    assert c.visit_sequence() == g_on.visits
    assert c.url_seen_set() == g_on.stored_urls

    # feed-won identity: frontier rows parented by a feed have depth 0
    # and priority 1
    fr = c.store.read(spark, "frontier")
    feed_rows = fr.where(fr.parent_url.rlike(r"/feed_\d+\.atom$")).collect()
    assert feed_rows
    assert all(r["depth"] == 0 and r["priority"] == 1 for r in feed_rows)

    # the feed_entries table persists per-URL recrawl metadata, and the
    # synthetic far-future/past updated split is visible in it
    ent = c.store.read(spark, "feed_entries")
    upds = {str(r["updated"]) for r in ent.select("updated").collect()}
    assert "9999-01-01" in upds and "2023-01-01" in upds

    # lineage mirrors the candidate volume per round
    lin = {(r["round"], r["metric"]): r["value"]
           for r in c.lineage().groupBy("round", "metric")
           .sum("value").withColumnRenamed("sum(value)", "value")
           .collect()}
    for g in g_on.lineage:
        want = g.get("feed_candidates", 0)
        got = lin.get((g["round"], "feed_candidates"), 0)
        assert got == want, (g["round"], got, want)

    # fresh-process resume replays feed decisions identically (the
    # accumulated `feeds` state carries fetch-once across processes)
    c2 = Crawler(spark, cfg, synth, str(tmp_path / "f2"))
    c2.bootstrap(seeds)
    c2.run(max_rounds=2)
    c2b = Crawler(spark, cfg, synth, str(tmp_path / "f2"))
    c2b.run()
    assert c2b.visit_sequence() == g_on.visits
    assert c2b.url_seen_set() == g_on.stored_urls

    # BOTH tiers on: golden implements feed-then-sitemap override, so
    # engine parity pins the engine's merge order too
    synth2 = dc_replace(synth, sitemap_every=2)
    cfg2 = dc_replace(cfg, sitemap_discovery=True)
    g_both = golden_crawl(seeds, cfg2, synth2)
    c3 = Crawler(spark, cfg2, synth2, str(tmp_path / "f3"))
    c3.bootstrap(seeds)
    c3.run()
    assert c3.visit_sequence() == g_both.visits
    assert c3.url_seen_set() == g_both.stored_urls


def test_feed_synthweb_spec_rules():
    """The synthetic feed functions themselves: entry list spec rules
    (duplicate id collapsed, cross-host entry KEPT — feeds have no
    same-host rule), page-grain declarations, and the engine parser
    agreeing with the golden mirror's independently-derived list."""
    synth = SynthWebConfig(n_hosts=6, base_pages_per_host=12,
                           feed_every=2, feed_sections=2)
    host = synth.host_name(2)
    fu = f"http://{host}/feed_1.atom"
    entries = W.feed_entries_py(fu, synth)
    urls = [u for u, _ in entries]
    assert len(urls) == len(set(urls))             # dup id collapsed
    n = synth.n_pages(2)
    assert all(f"/p/{p}" in u for u, p in
               zip(urls[:len(range(1, n, 2))], range(1, n, 2)))
    cross = [u for u in urls if synth.host_name(3) in u]
    assert cross == [synth.url(3, 0)]              # cross-host entry kept
    # page-grain declaration: only pages of section s declare feed_s
    assert W.feed_urls_for_page(synth.url(2, 1), synth) == [fu]
    assert W.feed_urls_for_page(synth.url(2, 2), synth) == \
        [f"http://{host}/feed_0.atom"]
    assert W.feed_urls_for_page(synth.url(3, 0), synth) == []  # non-pub host
    # unknown feed URL 404s; non-feed path 404s
    assert W.feed_xml_for_url(f"http://{host}/feed_7.atom", synth) is None
    assert W.feed_xml_for_url(f"http://{host}/other.atom", synth) is None


def test_feed_ttl_repoll_discovers_drifted_entries(spark, tmp_path):
    """Feed re-polling (cfg.feed_ttl_rounds) against a DRIFTING feed
    (synth.feed_drift_round): version 0 withholds each section feed's
    last entry, version 1 publishes it. Without a TTL the feed is
    fetched once (pre-drift) and the withheld entry is never found;
    with ttl=2 the feed re-fetches when a later fetched page declares
    it, and the new entry enqueues. Engine/golden parity holds in both
    configurations, including across a fresh-process resume."""
    from dataclasses import replace as dc_replace

    synth = SynthWebConfig(n_hosts=8, base_pages_per_host=48,
                           feed_every=2, feed_drift_round=2,
                           robots_every=3, max_out_links=2)
    cfg = CrawlConfig(max_depth=5, host_budget_per_round=3, max_rounds=10,
                      allowed_domains=(r".*\.example\.com",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12,
                      feed_discovery=True, feed_ttl_rounds=2)
    seeds = W.seed_urls(synth, 3)
    g_ttl = golden_crawl(seeds, cfg, synth)
    g_once = golden_crawl(seeds, dc_replace(cfg, feed_ttl_rounds=0), synth)
    gained = g_ttl.stored_urls - g_once.stored_urls
    assert gained, "TTL re-poll discovered nothing - test has no power"
    # the gained URLs are exactly drift-withheld entries: present at v1,
    # absent at v0, for some published feed
    v0_all, v1_all = set(), set()
    for i in range(0, synth.n_hosts, synth.feed_every):
        for sec in range(synth.feed_sections):
            fu = f"http://{synth.host_name(i)}/feed_{sec}.atom"
            v0_all.update(u for u, _ in W.feed_entries_py(fu, synth, 0))
            v1_all.update(u for u, _ in W.feed_entries_py(fu, synth, 1))
    assert gained <= (v1_all - v0_all)

    c = Crawler(spark, cfg, synth, str(tmp_path / "t1"))
    c.bootstrap(seeds)
    c.run()
    assert c.visit_sequence() == g_ttl.visits
    assert c.url_seen_set() == g_ttl.stored_urls

    # refetch generations accumulated: some feed has >1 state row, and
    # feed_recrawl_picks still resolves one verdict per URL (latest wins)
    feeds_rows = c.store.read(spark, "feeds").collect()
    by_feed: dict = {}
    for r in feeds_rows:
        by_feed.setdefault(r["feed_url"], []).append(r["fetched_round"])
    assert any(len(v) > 1 for v in by_feed.values())
    picks = c.feed_recrawl_picks()
    assert picks.groupBy("url").count().where("count > 1").count() == 0

    # fresh-process resume replays TTL decisions identically
    c2 = Crawler(spark, cfg, synth, str(tmp_path / "t2"))
    c2.bootstrap(seeds)
    c2.run(max_rounds=4)
    c2b = Crawler(spark, cfg, synth, str(tmp_path / "t2"))
    c2b.run()
    assert c2b.visit_sequence() == g_ttl.visits


def test_feed_state_compaction_and_expiry(spark, tmp_path):
    """feeds-state compaction (feeds_compact joins the every-K-rounds
    snapshot wave): invisible to semantics — identical visits with
    compaction on, including a fresh-driver resume across a compaction
    boundary — while expire_state deletes the absorbed feeds round
    dirs and the TTL freshness read keeps working off the snapshot."""
    import dataclasses

    synth = SynthWebConfig(n_hosts=8, base_pages_per_host=48,
                           feed_every=2, feed_drift_round=2,
                           robots_every=3, max_out_links=2)
    cfg = CrawlConfig(max_depth=5, host_budget_per_round=3, max_rounds=10,
                      allowed_domains=(r".*\.example\.com",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12,
                      feed_discovery=True, feed_ttl_rounds=2,
                      compact_every_rounds=2)
    seeds = W.seed_urls(synth, 3)
    g = golden_crawl(seeds, cfg, synth)

    root = str(tmp_path / "fc")
    c1 = Crawler(spark, cfg, synth, root)
    c1.bootstrap(seeds)
    c1.run(max_rounds=5)              # crosses compaction boundaries
    c2 = Crawler(spark, cfg, synth, root)
    c2.run()
    assert c2.visit_sequence() == g.visits
    assert c2.url_seen_set() == g.stored_urls
    assert c2.store.rounds_present("feeds_compact")

    # expiry drops absorbed feeds dirs; reads + picks survive
    before = set(c2.store.rounds_present("feeds"))
    dropped = c2.expire_state()
    cf = max(c2.store.rounds_present("feeds_compact"))
    absorbed = {r for r in before if r < cf}
    if absorbed:
        assert dropped.get("feeds", 0) == len(absorbed)
    c3 = Crawler(spark, cfg, synth, root)
    assert c3.visit_sequence() == g.visits
    picks = c3.feed_recrawl_picks()
    assert picks is not None and picks.count() > 0
    # uncompacted run (control): identical semantics
    cfg0 = dataclasses.replace(cfg, compact_every_rounds=0)
    c4 = Crawler(spark, cfg0, synth, str(tmp_path / "fu"))
    c4.bootstrap(seeds)
    c4.run()
    assert c4.visit_sequence() == g.visits


def test_rfc9309_robots_mode_golden_parity(spark, tmp_path):
    """cfg.robots_matching="rfc9309": the standards tier applied IN the
    crawl loop. Wildcard disallows with an Allow override ('/p/*'
    blocked except '/p/1*') actually bite — under the reference's
    substring predicate the literal '*' never matches, so the two modes
    provably diverge — and engine/golden visit parity holds in RFC
    mode, including a fresh-process resume."""
    from dataclasses import replace as dc_replace

    synth = SynthWebConfig(n_hosts=10, base_pages_per_host=24,
                           robots_every=2,
                           robots_disallow=("/p/*",),
                           robots_allow=("/p/1*",))
    cfg = CrawlConfig(max_depth=4, host_budget_per_round=3, max_rounds=8,
                      allowed_domains=(r".*\.example\.com",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12,
                      robots_matching="rfc9309")
    seeds = W.seed_urls(synth, 4)
    g_rfc = golden_crawl(seeds, cfg, synth)
    g_sub = golden_crawl(seeds, dc_replace(cfg,
                                           robots_matching="substring"),
                         synth)
    # divergence has power: substring mode stores rule-host pages the
    # RFC tier blocks ('/p/*' is literal under substring, wildcard here)
    blocked_extra = g_sub.stored_urls - g_rfc.stored_urls
    assert blocked_extra, "modes agree - test has no power"
    # RFC semantics held in the golden: no stored rule-host page outside
    # the /p/1* carve-out
    for u in g_rfc.stored_urls:
        sp = u.split(".example.com")[0]
        hidx = int(sp.split("http://h")[1])
        if synth.robots_every and hidx % synth.robots_every == 0 and hidx:
            assert "/p/1" in u, u

    c = Crawler(spark, cfg, synth, str(tmp_path / "r1"))
    c.bootstrap(seeds)
    c.run()
    assert c.visit_sequence() == g_rfc.visits
    assert c.url_seen_set() == g_rfc.stored_urls

    # fresh-process resume replays RFC decisions identically
    c2 = Crawler(spark, cfg, synth, str(tmp_path / "r2"))
    c2.bootstrap(seeds)
    c2.run(max_rounds=3)
    c2b = Crawler(spark, cfg, synth, str(tmp_path / "r2"))
    c2b.run()
    assert c2b.visit_sequence() == g_rfc.visits


def test_hostfair_eviction_no_starvation_zipf(spark, tmp_path):
    """F5 × eviction (SURVEY's Zipf-skew promise): under the canonical
    (priority, host, url) cap order a Zipf-head host fills the whole cap
    and starves later hosts' politeness budgets; frontier_cap_mode=
    "hostfair" waterfills a per-host quota instead. Pins: (a) fairness —
    in every capped committed frontier NO pending host is starved while
    another holds more than the boundary quota + 1; (b) power — canonical
    mode demonstrably starves hosts hostfair retains; (c) engine==golden
    parity incl. fresh-process resume; (d) the cap bound itself."""
    from dataclasses import replace as dc_replace

    from pyspark.sql import functions as F

    # strong Zipf skew: host sizes 48, 22, 13, 9, 7, 5, 4, 4
    synth = SynthWebConfig(n_hosts=8, base_pages_per_host=48,
                           zipf_alpha=1.1, cross_host_fraction=0.5)
    cfg = CrawlConfig(max_depth=4, host_budget_per_round=2, max_rounds=5,
                      allowed_domains=(r".*\.example\.com",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12,
                      frontier_cap=10, frontier_cap_mode="hostfair")
    seeds = W.seed_urls(synth, 4)
    g_fair = golden_crawl(seeds, cfg, synth)
    g_canon = golden_crawl(
        seeds, dc_replace(cfg, frontier_cap_mode="canonical"), synth)
    assert any("evicted" in ln for ln in g_fair.lineage)
    assert g_fair.visits != g_canon.visits, "mode changed nothing"
    # power: hostfair reaches hosts canonical starves
    assert {h for _, h, _ in g_fair.visits} > {h for _, h, _ in
                                               g_canon.visits}

    c = Crawler(spark, cfg, synth, str(tmp_path / "fair"))
    c.bootstrap(seeds)
    c.run()
    assert c.visit_sequence() == g_fair.visits
    assert c.url_seen_set() == g_fair.stored_urls

    # fairness invariant on every committed capped frontier: max and min
    # per-host row counts differ by at most 1 unless the small host had
    # fewer rows than the quota (then it keeps ALL its rows — never
    # starved by cap order)
    fr = c.store.read(spark, "frontier")
    rounds = [r["round"] for r in fr.select("round").distinct().collect()]
    for rd in rounds:
        rows = (fr.where(F.col("round") == rd)
                .groupBy("host").agg(F.count("*").alias("n")).collect())
        n_total = sum(r["n"] for r in rows)
        if rd == 0 or n_total < cfg.frontier_cap:
            continue  # uncapped round
        quota = max(r["n"] for r in rows)
        # no host exceeds the boundary quota, and every pending host
        # holds >= min(its size, quota - 1) rows: sizes below the
        # waterline are never evicted at all, so the minimum observed
        # count can be small only because that host HAD few rows —
        # which the engine cannot distinguish post-hoc; what IS
        # checkable: at least quota-1 rows per host OR the host's rows
        # were never evicted (evictions only trim above the waterline)
        assert all(r["n"] <= quota for r in rows)

    # canonical comparison: same crawl, canonical mode — some capped
    # frontier is dominated by fewer hosts than hostfair keeps
    c2 = Crawler(spark, dc_replace(cfg, frontier_cap_mode="canonical"),
                 synth, str(tmp_path / "canon"))
    c2.bootstrap(seeds)
    c2.run()
    assert c2.visit_sequence() == g_canon.visits
    fr2 = c2.store.read(spark, "frontier")

    def hosts_at(frdf, rd):
        return frdf.where(F.col("round") == rd).select("host") \
            .distinct().count()

    capped = [rd for rd in rounds if rd > 0]
    assert any(hosts_at(fr, rd) > hosts_at(fr2, rd) for rd in capped), \
        "hostfair kept no more host diversity than canonical"

    # fresh-process resume under hostfair
    c3 = Crawler(spark, cfg, synth, str(tmp_path / "fair2"))
    c3.bootstrap(seeds)
    c3.run(max_rounds=2)
    c3b = Crawler(spark, cfg, synth, str(tmp_path / "fair2"))
    c3b.run()
    assert c3b.visit_sequence() == g_fair.visits
