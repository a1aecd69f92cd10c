"""One BSP crawl round — the flagship dataflow (SURVEY.md §3.1).

Reference lifecycle per batch (core/WebCrawler.java:99-133):
poll → shouldCrawl chain → fetch → hash → dedup probe → store →
extract+filter links → enqueue children → offset-commit barrier.

Spark restatement, in two phases so payload bytes NEVER shuffle and never
sit in executor cache (the decisive constraint at 100 TB of image bytes):

phase A (build_fetch):
    frontier(round=r)                          # snapshot scan, 1 directory
      → gates F1-F4/F7 (Catalyst when-chain)
      → robots F6 (broadcast join + exists)
      → politeness F5 (per-host window budget)
      → salted repartition O7 → fetch S6 (mapInPandas) → sha2 D2
    The driver writes this ONCE to the `pages` table (fetch → parquet,
    single pass, no shuffle of bytes — dedup winners are marked later, so
    even duplicate payloads cost only write-once storage, exactly the
    blob-store trade the reference makes with S3).

phase B (finish_round) — slim columns only (parquet column pruning means
the bytes column is never read back):
      → within-round winner + anti-join D1 → `stored` slim table
      → explode E1/E2 + link filters F8 → URL-seen anti-join D4
      → next frontier (deferred ∪ children)
      → lineage aggregates A3 (single shuffle)

The canonical stored-pages view = pages ⋉ stored(url) — reconstructed
lazily; full rows only materialize for consumers that ask for payloads.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..operators.dedup import dedup_content, filter_unseen_urls
from ..operators.extract import extract_children, fetch_pages_sink
from ..operators.gates import apply_gates
from ..operators.politeness import (
    apply_domain_cap,
    apply_politeness,
    salted_repartition_for_fetch,
)
from ..operators.robots import filter_robots, resolve_robots

N_LINEAGE_SHARDS = 32

FRONTIER_COLS = ["url", "host", "depth", "parent_url", "discovered_at_ms",
                 "priority", "retry_count", "scheduled_for_ms", "round"]

# slim projection that drives every phase-B decision (no payload bytes)
STORED_COLS = ["url", "host", "depth", "parent_url", "priority",
               "content_hash", "fetch_time_ms", "round"]


@dataclass
class RoundState:
    """Accumulated state visible to round r (all committed before r)."""
    robots: DataFrame | None       # (host, robots_disallow)
    seen_hashes: DataFrame | None  # (content_hash,)
    seen_urls: DataFrame | None    # (url,) — every URL ever enqueued
    blooms: DataFrame | None       # URL-seen shards (shard, filter_bytes, …)
    feeds: DataFrame | None = None  # (feed_url,) feeds ever attempted


@dataclass
class FetchPlan:
    fetched: DataFrame        # all fetch attempts incl. failures (round=r)
    deferred: DataFrame       # frontier rows carried to round r+1
    robots_new: DataFrame     # newly fetched robots rows
    decided: DataFrame        # persisted decision-tagged frontier
    cached: list
    # sitemap-declared frontier candidates (cfg.sitemap_discovery):
    # depth-0 rows parsed from the round's newly fetched hosts' sitemaps,
    # merged with link children in finish_round (sitemap identity wins)
    sitemap_cands: DataFrame | None = None
    # the same parse with its per-URL metadata kept (lastmod,
    # sitemap_priority, sitemap_url) — persisted by the driver as the
    # `sitemap` table for lastmod-driven recrawl planning
    sitemap_entries: DataFrame | None = None


@dataclass
class RoundResult:
    stored: DataFrame         # slim winner rows (round=r) — STORED_COLS
    next_frontier: DataFrame  # frontier rows (round=r+1)
    new_urls: DataFrame       # genuinely-new discoveries only (⊂ frontier):
                              # the URL-bloom delta — deferred rows were
                              # already inserted when first enqueued
    lineage: DataFrame        # (round, host_shard, metric, value)
    cached: list              # persisted DataFrames to release post-commit
    # feed discovery tier (cfg.feed_discovery): parsed entry metadata
    # (feed_url, url, host, updated) persisted as `feed_entries`, and
    # the round's attempted-feed delta appended to `feeds` state
    feed_entries: DataFrame | None = None
    feeds_new: DataFrame | None = None


def _host_shard() -> F.Column:
    return F.pmod(F.xxhash64("host"), F.lit(N_LINEAGE_SHARDS)).cast("int")


def _tagged(df: DataFrame, metric: str) -> DataFrame:
    """Row-level (host_shard, metric) projection — narrow op; all tagged
    sources union into ONE groupBy so lineage costs a single shuffle
    instead of one per metric."""
    return df.select(_host_shard().alias("host_shard"),
                     F.lit(metric).alias("metric"))


def build_fetch(spark: SparkSession, frontier: DataFrame, state: RoundState,
                cfg: CrawlConfig, fetcher, synth_cfg,
                round_no: int, pages_dir: str,
                robots_fetcher=None, overrides=None,
                sitemap_fetcher=None) -> FetchPlan:
    """Phase A: decision chain + fetch. The returned `fetched` plan is the
    SLIM fetch result; its execution sinks payload shards to ``pages_dir``
    from inside the Arrow workers (operators/extract.fetch_pages_sink).

    ``overrides`` (optional): per-host (host, next_budget) budget caps —
    the AIMD feedback computed by the driver from the PREVIOUS round's
    fetch outcomes (cfg.adaptive_budget); composes with the Crawl-delay
    tier by minimum inside apply_politeness."""
    ts = cfg.round_ts_ms(round_no)
    next_ts = cfg.round_ts_ms(round_no + 1)

    # -- decision chain (R1): gates → robots → politeness -------------------
    gated = apply_gates(frontier, cfg, ts)
    # robots_new is persisted inside resolve_robots (cached list below):
    # it feeds both this round's decisions (via robots_full) and the
    # persisted robots table — uncached, the fetch would execute twice,
    # and a NON-PURE fetcher (real HTTP) could return different rules to
    # the decision path than what gets persisted as host state.
    robots_cached: list = []
    robots_full, robots_new = resolve_robots(
        spark, gated.where(F.col("decision") == "PASS"), state.robots,
        synth_cfg, robots_fetcher, cached=robots_cached,
        round_no=round_no, ttl_rounds=cfg.robots_ttl_rounds,
        user_agent=(cfg.robots_user_agent if cfg.robots_ua_groups
                    else None))
    # persist the pre-politeness frame: the salted partial top-K inside
    # apply_politeness unions four branches of it, and without the cache
    # each branch would re-scan the frontier + redo the robots join
    gated_rob = filter_robots(gated, robots_full,
                              mode=cfg.robots_matching).persist()
    decided = apply_domain_cap(
        apply_politeness(gated_rob, cfg, robots=robots_full,
                         overrides=overrides), cfg)
    decided = decided.persist()  # slim rows; consumed by 3 branches below

    selected = decided.where(F.col("decision") == "PASS")
    deferred = (
        decided.where(F.col("decision") == "DEFER_POLITENESS")
        .withColumn("retry_count", F.col("retry_count") + 1)      # R2
        .withColumn("scheduled_for_ms", F.lit(next_ts))
        .unionByName(decided.where(F.col("decision") == "DEFER_SCHED"))
        .select(*[c for c in FRONTIER_COLS if c != "round"])
        .withColumn("round", F.lit(round_no + 1))
    )

    n_fetch_parts = cfg.fetch_partitions or spark.sparkContext.defaultParallelism
    # S6+S8 fused: workers sink payload shards to pages_dir themselves and
    # return slim rows (content_hash D2 computed in-worker); image bytes
    # never cross the Python→JVM boundary.
    fetched = fetch_pages_sink(
        salted_repartition_for_fetch(selected, cfg, n_fetch_parts),
        fetcher, pages_dir, ts, round_no)
    # sitemap discovery tier: the round's NEWLY fetched robots rows carry
    # the hosts' Sitemap: declarations — fetch + parse those documents
    # once per host per robots generation (host-grain work; the TTL
    # refetch path re-reads a host's sitemap with its rules). Candidates
    # merge with link children in finish_round.
    sitemap_cands = None
    if cfg.sitemap_discovery:
        from ..operators.sitemap import (
            make_synth_sitemap_fetcher,
            sitemap_frontier_candidates,
        )
        if sitemap_fetcher is None:
            if synth_cfg is None:
                raise ValueError("sitemap_discovery needs a "
                                 "sitemap_fetcher when no synthetic web "
                                 "is configured")
            sitemap_fetcher = make_synth_sitemap_fetcher(synth_cfg)
        sitemap_cands, sitemap_entries = sitemap_frontier_candidates(
            robots_new, cfg, sitemap_fetcher, ts, cached=robots_cached)
    else:
        sitemap_entries = None
    return FetchPlan(fetched=fetched, deferred=deferred,
                     robots_new=robots_new, decided=decided,
                     cached=[decided, gated_rob, *robots_cached],
                     sitemap_cands=sitemap_cands,
                     sitemap_entries=sitemap_entries)


PAGES_PER_LINK_TASK = 512


def finish_round(spark: SparkSession, raw: DataFrame, plan: FetchPlan,
                 state: RoundState, cfg: CrawlConfig,
                 round_no: int, fetched_hint: int | None = None,
                 feed_fetcher=None) -> RoundResult:
    """Phase B over the written `pages` rows. Every read of `raw` projects
    slim columns, so parquet column pruning skips the payload entirely
    (verify: `.explain` shows ReadSchema without `bytes`).

    ``fetched_hint`` is the round's fetched-row count summed from the
    phase-A task receipts (free: the driver collects them anyway) — it
    sizes the links fan-out below without any extra job."""
    ts = cfg.round_ts_ms(round_no)

    extra_cached: list = []
    fetched_ok = raw.where(F.col("fetched")).select(*STORED_COLS)
    stored = dedup_content(fetched_ok, state.seen_hashes).persist()  # D1

    # -- children: explode + filters + URL-seen -----------------------------
    # links live in raw; the stored-winner semi-join stays on slim columns.
    # Repartition the slim rows first: the scan coalesces the many small
    # worker-written shards into a handful of input splits (openCostInBytes
    # packing), which would cap the explode + X3-resolver stage — the
    # round's heaviest Catalyst work — at a fraction of the cores. Sized
    # from the fetch receipts: a small round (≤ PAGES_PER_LINK_TASK pages)
    # skips the exchange entirely — its packed single-split scan is
    # cheaper than the shuffle, which interleaved round-3 A/B measured at
    # ~0.3 s/round of pure overhead at the default preset.
    links = raw.select("url", "depth", "links", "final_url")
    max_parts = spark.sparkContext.defaultParallelism * 2
    if fetched_hint is None:
        links = links.repartition(max_parts)
    elif fetched_hint > PAGES_PER_LINK_TASK:
        links = links.repartition(
            min(max_parts, -(-fetched_hint // PAGES_PER_LINK_TASK)))
    child_src = links.join(stored.select("url"), "url", "left_semi")
    children = extract_children(child_src, cfg, ts)                 # E1/E2/F8
    # feed-declared candidates (cfg.feed_discovery) merge FIRST: the
    # round's fetched pages (ALL fetched rows — a D1-duplicate page
    # still declares its feeds, exactly like the golden mirror) expose
    # their autodiscovered feed URLs; new feeds fetch once per crawl and
    # their entries enqueue depth-0 like sitemap candidates. Applied
    # before the sitemap override so a sitemap∩feed same-round collision
    # resolves to the SITEMAP identity (deterministic total order of the
    # discovery tiers).
    feed_cands = feed_entries = feeds_new = None
    if cfg.feed_discovery:
        from ..operators.feeds import feed_frontier_candidates
        if feed_fetcher is None:
            raise ValueError("feed_discovery needs a feed_fetcher")
        declared = (raw.where(F.col("fetched"))
                    .select(F.explode("feeds").alias("feed_url"))
                    .where(F.col("feed_url").isNotNull()))
        feed_cands, feed_entries, feeds_new = feed_frontier_candidates(
            declared, state.feeds, cfg, feed_fetcher, ts,
            cached=extra_cached, round_no=round_no)
        feed_cands = feed_cands.persist()
        extra_cached.append(feed_cands)
        children = (children
                    .join(F.broadcast(feed_cands.select("url")),
                          "url", "left_anti")
                    .unionByName(feed_cands))
    # sitemap-declared candidates (cfg.sitemap_discovery) merge here: a
    # URL both sitemap-listed and link-discovered this round enqueues
    # ONCE with the sitemap's identity (depth 0, parent=sitemap,
    # priority 1) — equivalent to a min(struct(depth,…)) winner since
    # children are always depth ≥ 1. The candidate side is host-grain
    # (≤ entries per newly fetched host), so the anti-join broadcasts
    # it: zero extra exchange over the frontier-scale children.
    sitemap_cands = plan.sitemap_cands
    if sitemap_cands is not None:
        sitemap_cands = sitemap_cands.persist()
        extra_cached.append(sitemap_cands)
        children = (children
                    .join(F.broadcast(sitemap_cands.select("url")),
                          "url", "left_anti")
                    .unionByName(sitemap_cands))
    new_urls = filter_unseen_urls(children, state.seen_urls,
                                  state.blooms, cfg,
                                  cached=extra_cached).persist()    # D4
    next_frontier = plan.deferred.unionByName(
        new_urls.withColumn("round", F.lit(round_no + 1))
        .select(*FRONTIER_COLS))

    # -- lineage A3: one union of row-level tags → one shuffle ---------------
    # decided and raw each contribute multiple metrics from ONE pass
    # (explode of a per-row metric array / conditional tag) instead of one
    # filtered re-read per metric
    decided = plan.decided
    decided_tags = decided.select(
        _host_shard().alias("host_shard"),
        F.explode(F.array(
            F.lit("polled"),
            F.when(F.col("decision").startswith("REJECT"), F.lit("rejected"))
            .when(F.col("decision").startswith("DEFER"), F.lit("deferred")),
        )).alias("metric")).where(F.col("metric").isNotNull())
    raw_tags = raw.select(
        _host_shard().alias("host_shard"),
        F.explode(F.array(
            F.when(F.col("fetched"), F.lit("fetched"))
            .otherwise(F.lit("fetch_failed")),
            # pages served through a redirect chain (final_url set):
            # rides the same single lineage shuffle
            F.when(F.col("fetched") & F.col("final_url").isNotNull(),
                   F.lit("redirected")),
        )).alias("metric")).where(F.col("metric").isNotNull())
    tagged = (
        decided_tags
        .unionByName(raw_tags)
        .unionByName(_tagged(stored, "stored"))
        .unionByName(_tagged(new_urls, "discovered"))
    )
    if sitemap_cands is not None:
        # candidate volume pre-seen-check (post spec rules + F3/F4) —
        # rides the same single lineage shuffle
        tagged = tagged.unionByName(
            _tagged(sitemap_cands, "sitemap_candidates"))
    if feed_cands is not None:
        tagged = tagged.unionByName(
            _tagged(feed_cands, "feed_candidates"))
    lineage = (tagged.groupBy("host_shard", "metric")
               .agg(F.count("*").alias("value"))
               .select(F.lit(round_no).alias("round"), "host_shard",
                       "metric", "value"))
    # tiny result (≤ shards × metrics): the driver collects it once and
    # derives both the lineage table and the per-round counts from the rows

    return RoundResult(stored=stored, next_frontier=next_frontier,
                       new_urls=new_urls, lineage=lineage,
                       cached=[stored, new_urls, *extra_cached],
                       feed_entries=feed_entries, feeds_new=feeds_new)
