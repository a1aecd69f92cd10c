"""Crawl configuration.

Mirrors the reference's ``CrawlerProperties`` (reference:
config/CrawlerProperties.java:10-42 and application.yml:36-54): max depth,
retry ceiling, allow/exclude URL regexes, politeness delay. Adds the knobs
the Spark engine needs that the reference keeps implicit: per-round per-host
fetch budget (the batch analog of ``crawl-delay``), URL-seen bloom shard
count, and skew-salting thresholds (BASELINE.json north_rule).

Everything is a frozen dataclass so it pickles cheaply into Arrow UDF
closures (no driver-side globals captured by reference).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import ClassVar


@dataclass(frozen=True)
class CrawlConfig:
    # --- reference-parity knobs -------------------------------------------
    # reference: config/CrawlerProperties.java:14 (default 10; yml 5)
    max_depth: int = 5
    # reference: config/CrawlerProperties.java:22 (default 3)
    max_retry_attempts: int = 3
    # reference: config/CrawlerProperties.java:27-33 — empty list => allow all
    allowed_domains: tuple[str, ...] = ()
    # reference: config/CrawlerProperties.java:35-41 — full-match regexes
    exclude_patterns: tuple[str, ...] = ()
    # reference: config/CrawlerProperties.java:15 (PT1S) — expressed per
    # round: how many fetches a single host may serve in one BSP round.
    host_budget_per_round: int = 2
    # reference: core/WebCrawler.java:254 enableDelayRetry — if False,
    # over-budget rows are REJECTED instead of deferred.
    enable_delay_retry: bool = True
    user_agent: str = "SparkCrawler/1.0"

    # --- engine knobs (no reference analog; north_rule requirements) ------
    max_rounds: int = 10
    # URL-seen filter sharding: pmod(xxhash64(url), n_shards)
    url_seen_shards: int = 8
    bloom_bits_per_shard: int = 1 << 20
    bloom_num_hashes: int = 5
    # skew salting: a host's selected rows split into
    # ceil(n_selected / fetch_rows_per_salt) salted sub-partitions, so no
    # fetch task is dominated by one hot host
    fetch_rows_per_salt: int = 256
    fetch_partitions: int = 0  # 0 => leave to AQE / input partitioning
    # politeness ranking salts: the per-host budget top-K is computed as a
    # two-stage salted partial top-K (rank within (host, salt), re-rank the
    # ≤ salts×budget survivors), so no single task ever sorts a mega-host's
    # whole frontier
    politeness_salts: int = 8
    # seen-state compaction: every K rounds the accumulated URL-seen /
    # hash-seen / robots history is rewritten into ONE hash-bucketed
    # snapshot table, so steady-state rounds read O(1)+tail directories
    # instead of unioning the full round history (0 ⇒ never compact).
    # This is the parquet analog of an Iceberg bucket-transform table
    # maintenance pass; buckets = pmod(xxhash64(key), seen_state_buckets).
    compact_every_rounds: int = 8
    seen_state_buckets: int = 32
    # a constant, not an option: perfbench.workloads.url_seen_probe reads it
    url_seen_backend: ClassVar[str] = "bloom"
    # AIMD politeness feedback: hosts whose previous round had a >10%
    # fetch-failure rate get max(1, host_budget_per_round // 2) this
    # round (tightening only — composes with Crawl-delay by minimum);
    # a healthy round restores the base budget automatically. Mirrored
    # by the golden model.
    adaptive_budget: bool = False

    # second politeness tier at registered-domain (eTLD+1) grain: after
    # the per-host budget, at most this many fetches per registered
    # domain per round, so a subdomain farm (*.blogspot.com) cannot
    # multiply one site's effective budget by minting hosts. 0 = off
    # (the reference has no analog; hostnames only).
    pld_budget_per_round: int = 0

    # frontier prioritization (Cho, Garcia-Molina & Page, WWW 1998,
    # "Efficient Crawling Through URL Ordering" — backlink-count
    # ordering). The reference DECLARES priority crawling (README.md:38)
    # but hard-codes priority=1 everywhere (core/WebCrawler.java:92,425);
    # "inlink" completes that intent: a child discovered by many pages
    # this round gets priority = max(1, cap - discovered_inlinks), so
    # well-linked pages rank earlier in the (priority, host, url) total
    # order AND win politeness-budget slots first. "constant" =
    # bug-for-bug reference parity (every request priority 1). The
    # count is per discovery round (stateless — each round's evidence),
    # computed inside the child-winner aggregation at zero extra
    # exchange, and mirrored by the golden model.
    priority_mode: str = "constant"
    priority_inlink_cap: int = 8

    # sitemap discovery (sitemaps.org protocol): when True, every robots
    # fetch also surfaces the host's `Sitemap:` directives; the round
    # fetches those sitemap documents once (host-grain, rides the robots
    # cache lifecycle — a TTL refetch re-reads the sitemap too), parses
    # entries with the spec rules (loc required, same-host only,
    # first-entry-wins), gates them like discovered links (F3/F4 + http
    # validity), and enqueues the survivors as depth-0 frontier
    # candidates (parent = the sitemap URL). A URL listed in a sitemap
    # AND discovered by a link the same round enqueues ONCE with the
    # sitemap's (depth 0, priority 1) identity. The reference discovers
    # URLs only from anchor tags; this is the other standard discovery
    # source a production crawler feeds from. Default off (reference
    # parity). Mirrored by the golden model.
    sitemap_discovery: bool = False

    # feed discovery tier (default off, reference parity): fetched
    # pages' autodiscovered Atom feeds (FETCH_SCHEMA `feeds`) are
    # fetched once per crawl per distinct feed URL, their RFC 4287
    # entries parsed and gated like discovered links (http validity +
    # F3/F4 — NO same-host rule, unlike sitemaps: cross-host feeds and
    # entries are legal), and the survivors enqueue as depth-0
    # candidates (parent = the feed URL, priority 1). A same-round
    # collision with a sitemap candidate resolves to the sitemap
    # identity; with a link child, the feed identity wins (depth 0).
    # Mirrored by the golden model; page-grain discovery — a feed only
    # surfaces once a page declaring it is fetched.
    feed_discovery: bool = False

    # feed re-poll TTL in rounds (0 = fetch once per crawl): with
    # ttl=K, a feed's fetch expires K rounds after its last attempt and
    # the feed re-fetches the next time a fetched page declares it —
    # the live-web analog of the robots cache TTL, discovering entries
    # published mid-crawl. Refetch generations accumulate in the
    # `feeds`/`feed_entries` round dirs; latest-generation-wins at the
    # consumers (freshness filter here, max-struct in
    # feed_recrawl_picks).
    feed_ttl_rounds: int = 0

    # robots matching semantics: "substring" is the reference's
    # bug-for-bug predicate (ANY disallow path substring-contained in
    # the full URL blocks, core/WebCrawler.java:530-532 — '*'/'$' are
    # literal characters); "rfc9309" is the standards-correct tier
    # applied IN the crawl loop: patterns match against path+query with
    # '*' wildcards and '$' end-anchors, the longest matching pattern
    # wins, Allow wins exact-length ties, no match ⇒ allowed. Mirrored
    # by the golden model; per-store choice like every gate config.
    robots_matching: str = "substring"

    # UA-specific robots group selection (RFC 9309 §2.2.1), opt-in on
    # top of the rfc9309 matching tier: the robots fetch parses the
    # document with exact-product-token group selection (the token
    # below beats '*'; equally-specific matching groups combine;
    # group-scoped Crawl-delay rides along), so a host publishing a
    # group for THIS crawler is honored instead of its '*' rules.
    # Off = parity with the reference's *-only parser
    # (core/WebCrawler.java:509-528). Mirrored by the golden model and
    # pinned equivalent to operators/robots.robots_group_rules.
    robots_ua_groups: bool = False
    robots_user_agent: str = "sparkcrawler"

    # robots cache TTL in rounds (0 = cache forever, reference parity:
    # the reference's in-memory robotsCache never expires,
    # core/WebCrawler.java:34,458-473 — though its crawl_state table
    # declares last_crawl_time+robots_txt, i.e. a refreshable cache,
    # schema.cql:19-24). With ttl=K, a host's cached rules expire K
    # rounds after fetch and the host is re-fetched the next time it
    # appears in the frontier; latest fetch wins. RFC 9309 §2.4
    # recommends re-validating robots.txt on the order of a day — the
    # round clock makes that K = 86400 / round_seconds.
    robots_ttl_rounds: int = 0

    # frontier eviction (0 = unbounded): after each round, keep only the
    # frontier_cap smallest rows under the canonical (priority, host,
    # url) total order and drop the rest — bounded frontier storage at
    # 10^10 discovery rates (a crawler that enqueues faster than it
    # fetches otherwise grows the frontier without bound). Eviction is
    # backpressure, not a blacklist: an evicted NEW discovery was never
    # persisted to a frontier snapshot, so the exact URL-seen re-check
    # (which reads persisted enqueue history) re-admits it if a later
    # page rediscovers it — its stale bloom bit is just a false
    # positive the exact check resolves. Evicted DEFERRED rows were
    # already persisted and stay seen forever. Mirrored by the golden
    # model; "evicted" is reported in the round counts like "injected".
    frontier_cap: int = 0

    # eviction order under the cap: "canonical" keeps the cap smallest
    # (priority, host, url) rows — deterministic, but on a Zipf-skewed
    # web one giant lexicographically-early host can fill the whole cap
    # and starve every other host's politeness budget. "hostfair"
    # waterfills a per-host quota instead: every pending host keeps its
    # first min(size, R*) rows under the same (priority, url) order F5
    # fetches in (R* = largest rank whose total coverage fits the cap;
    # the remainder fills from the single boundary rank canonically),
    # so no host is starved by cap order while the frontier stays
    # exactly cap-bounded. Golden-mirrored; per-store frozen like every
    # ordering choice.
    frontier_cap_mode: str = "canonical"

    # deterministic clock: round r happens at epoch + r * round_seconds
    epoch_ms: int = 1_700_000_000_000
    round_seconds: int = 60

    def round_ts_ms(self, round_no: int) -> int:
        return self.epoch_ms + round_no * self.round_seconds * 1000

    def __post_init__(self) -> None:
        if self.robots_matching not in ("substring", "rfc9309"):
            raise ValueError(
                f"robots_matching={self.robots_matching!r}: expected "
                "'substring' (reference parity) or 'rfc9309'")
        if self.robots_ua_groups and self.robots_matching != "rfc9309":
            # UA-group rules carry '*'/'$' pattern syntax; under the
            # substring tier those characters are literals, so a
            # selected group's patterns would silently mis-apply.
            raise ValueError(
                "robots_ua_groups=True requires robots_matching="
                "'rfc9309': group-scoped patterns use wildcard/anchor "
                "syntax the substring (reference-parity) tier treats "
                "as literal characters")


@dataclass(frozen=True)
class SynthWebConfig:
    """Deterministic synthetic web (FIXTURES.md §A). Every page is a pure
    function of (seed, url): content, image payload, caption, and outlinks
    are all derived from sha256(seed:url) — so the distributed fetcher and
    the sequential golden model agree bit-for-bit with zero shared state."""

    seed: int = 42
    n_hosts: int = 20
    # Zipf-skewed host sizes: pages(host i) = max(1, base // (i+1)**alpha)
    base_pages_per_host: int = 64
    zipf_alpha: float = 1.1
    max_out_links: int = 8
    cross_host_fraction: float = 0.3
    # every k-th host gets robots disallow rules (substring semantics,
    # reference: core/WebCrawler.java:530-532)
    robots_every: int = 5
    robots_disallow: tuple[str, ...] = ("/private", "/p/3")
    # robots drift: from this round on, rule-bearing hosts serve
    # robots_disallow_drifted instead (0 = robots never change) —
    # exercises the engine's robots cache TTL (CrawlConfig
    # robots_ttl_rounds)
    robots_drift_round: int = 0
    robots_disallow_drifted: tuple[str, ...] = ("/private", "/p/1")
    # Allow patterns rule-bearing hosts additionally serve (empty by
    # default: the reference's parser has no Allow concept). Consumed
    # by the rfc9309 matching tier, where Allow wins ties; the
    # substring tier ignores them like the reference ignores Allow
    # lines.
    robots_allow: tuple[str, ...] = ()
    # fraction of links that are intentionally broken/invalid (exercises F8)
    invalid_link_every: int = 17
    # every k-th host additionally advertises "Crawl-delay: N" in robots
    # (0 ⇒ none). The engine maps it to a per-host budget override:
    # min(host_budget_per_round, ceil(round_seconds / delay)) — the batch
    # analog of the reference's crawl_state.crawl_delay (schema.cql:19-24,
    # schema-only intent there: no Java reads it).
    crawl_delay_every: int = 0
    crawl_delay_secs: float = 45.0
    # every k-th RULE-BEARING host's robots.txt carries an ADDITIONAL
    # UA-specific group for `robots_ua_token` with its own rules
    # (0 = no host does). Only a crawl running the rfc9309 tier with
    # CrawlConfig.robots_ua_groups selects it (exact token beats '*');
    # every other crawl sees just the '*' group — the divergence the
    # UA-tier tests rely on having power.
    robots_ua_every: int = 0
    robots_ua_token: str = "sparkcrawler"
    robots_ua_disallow: tuple[str, ...] = ("/p/*",)
    robots_ua_allow: tuple[str, ...] = ("/p/2*",)
    # every k-th host (including host 0) publishes /sitemap.xml and
    # advertises it with a `Sitemap:` line in robots.txt (0 ⇒ no host
    # has one). The sitemap lists the host's even-indexed pages — a
    # discovery source independent of the link graph — plus spec-rule
    # negatives (an entry with no <loc>, a cross-host <loc>, a
    # duplicate <loc>, and a <loc> past the host's page range that
    # 404s at fetch time).
    sitemap_every: int = 0
    # every k-th sitemap-PUBLISHING host serves a two-level layout
    # instead (0 ⇒ all sitemaps are flat): robots declares
    # /sitemap_index.xml, a <sitemapindex> (with spec-rule negatives:
    # loc-less entry, cross-host child, duplicate child) pointing at
    # /sitemap_a.xml + /sitemap_b.xml which split the same loc list —
    # the protocol's 50k-URL/50MB split. Such hosts do NOT serve
    # /sitemap.xml, so discovery must traverse the index level.
    sitemap_index_every: int = 0
    # sitemap entry <lastmod> values (0 ⇒ entries carry none): every
    # k-th page (by page index) gets a FAR-FUTURE lastmod (9999-01-01,
    # provably after any round-clock fetch date ⇒ recrawl verdict
    # 'modified' once stored), every other page a PAST one (2023-01-01,
    # before the epoch_ms clock ⇒ 'fresh'). Pure function of the loc, so
    # flat and index layouts agree and tests can recompute expectations.
    sitemap_lastmod_every: int = 0
    # every k-th same-host link is emitted in redirect form (/r/N, a 301
    # to /p/N on the same host; 0 ⇒ no redirects). Exercises the
    # fetcher's redirect following AND the engine's final-URL resolution
    # base: Jsoup's abs:href resolves against the POST-redirect document
    # location (Document.location()), so a relative href on a /r/N page
    # must resolve under /p/, not /r/.
    redirect_every: int = 0
    # every k-th host (0 ⇒ none) publishes SECTION Atom feeds: page
    # /p/N autodiscovers /feed_{N % feed_sections}.atom — a PAGE-grain
    # discovery source (the feed URL only surfaces once a page
    # declaring it is actually fetched), unlike sitemaps which ride the
    # host-grain robots fetch. Each feed lists the host's pages of its
    # section plus spec-rule negatives (an id-less entry, a duplicate
    # id, an out-of-range entry that 404s) and ONE cross-host entry —
    # legal for feeds (no same-host rule, unlike sitemaps), gated only
    # by F3/F4.
    feed_every: int = 0
    feed_sections: int = 2
    # feed drift: from this round on, feeds serve version 1 — each
    # section feed gains its previously-withheld last entry (0 = feeds
    # never change). Exercises CrawlConfig.feed_ttl_rounds re-polling:
    # a live feed publishes new entries mid-crawl.
    feed_drift_round: int = 0
    # image payloads
    min_dim: int = 8
    max_dim: int = 24
    # content duplication: pages whose page-index hash collides modulo this
    # share identical payload+caption (exercises D1 content dedup)
    duplicate_every: int = 11

    def n_pages(self, host_idx: int) -> int:
        return max(1, int(self.base_pages_per_host / (host_idx + 1) ** self.zipf_alpha))

    def host_name(self, host_idx: int) -> str:
        return f"h{host_idx:04d}.example.com"

    def url(self, host_idx: int, page_idx: int) -> str:
        return f"http://{self.host_name(host_idx)}/p/{page_idx}"
