"""Driver-contract queries: the crawl's own operators as (spark callable,
DuckDB oracle SQL) pairs over the /root/testdata tables.

Each query runs a package function the crawl itself runs (in some
CrawlConfig mode, or in the training-manifest / WDS export) and returns
that function's output; nothing else belongs on this board. The families:
the gate chain, per-host politeness and Crawl-delay, retry deferral,
robots (substring, RFC 9309 wildcards, UA-group parsing), registered
domains, link-children extraction and URL resolution, sitemap / sitemap
index / Atom feed discovery and their recrawl verdicts, the Kafka wire
format, conditional-GET revalidation, the image rungs of the training
manifest and its WDS member index, and the 3-round flagship crawl.

Each callable takes (spark, sf_dir) and returns a DataFrame; the oracle is
ANSI SQL DuckDB runs on the same parquet (views used: orders part
documents). The driver compares row count + schema + order-insensitive
value hash, so every computed column is aliased identically on both sides.
Inputs are derived deterministically from those tables (a frontier from
`orders`, hosts from `part`, fixtures and images from `documents`), so the
oracle can restate the input in pure SQL while the Spark side exercises
the production code path. Hash-seeded and codec-dependent oracles are
generated by the Python mirrors in oracles.py.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import oracles as _oracles
from .config import CrawlConfig, SynthWebConfig
from .operators.extract import extract_children
from .operators.gates import apply_gates
from .operators.politeness import apply_politeness
from .operators.robots import filter_robots
from .pipeline import dedup as pdedup
from .pipeline import multimodal
from .pipeline import recrawl as precrawl

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
# value: SQL string, or a zero-arg callable producing one (golden-model
# oracles whose VALUES are computed by the Python mirrors in oracles.py —
# lazy so importing this module never pays the mirror computation)
ORACLES: dict[str, str | Callable[[], str]] = {}


def q(name: str, oracle: str | Callable[[], str] | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return reg


def resolve_oracles() -> dict[str, str]:
    return {k: (v() if callable(v) else v) for k, v in ORACLES.items()}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# synthetic frontier derived from `orders` (shared by the crawl-op queries)
# ---------------------------------------------------------------------------

# Gate config under test: F1 max_depth=5, F2 max_retry=3,
# F3 allow hosts 0-14, F4 exclude URLs whose page id ends in 0 or 5.
_GATE_CFG = CrawlConfig(
    max_depth=5,
    max_retry_attempts=3,
    allowed_domains=(r"h000[0-9]\.example\.com", r"h001[0-4]\.example\.com"),
    exclude_patterns=(r".*/p/\d*[05]",),
)

# SQL restatement of the same frontier (DuckDB side).
_FRONTIER_SQL = """
  SELECT
    'http://h' || lpad(CAST(o_custkey % 20 AS VARCHAR), 4, '0')
        || '.example.com/p/' || CAST(o_orderkey AS VARCHAR)       AS url,
    'h' || lpad(CAST(o_custkey % 20 AS VARCHAR), 4, '0')
        || '.example.com'                                          AS host,
    CAST(o_custkey % 20 AS INTEGER)                                AS host_idx,
    CAST(o_orderkey % 8 AS INTEGER)                                AS depth,
    CAST(NULL AS VARCHAR)                                          AS parent_url,
    CAST(0 AS BIGINT)                                              AS discovered_at_ms,
    CAST(1 + o_orderkey % 3 AS INTEGER)                            AS priority,
    CAST(o_orderkey % 5 AS INTEGER)                                AS retry_count,
    CASE WHEN o_orderkey % 7 = 0
         THEN CAST(9000000000000000 AS BIGINT) END                 AS scheduled_for_ms,
    CAST(0 AS INTEGER)                                             AS round
  FROM orders
"""

_DECISION_SQL = r"""
  CASE
    WHEN scheduled_for_ms IS NOT NULL
         AND scheduled_for_ms > 1700000000000             THEN 'DEFER_SCHED'
    WHEN depth > 5                                        THEN 'REJECT_DEPTH'
    WHEN retry_count > 3                                  THEN 'REJECT_RETRY'
    WHEN NOT regexp_matches(host,
      '^(?:(?:h000[0-9]\.example\.com)|(?:h001[0-4]\.example\.com))$')
                                                          THEN 'REJECT_DOMAIN'
    WHEN regexp_matches(url, '^(?:(?:.*/p/\d*[05]))$')    THEN 'REJECT_EXCLUDED'
    ELSE 'PASS'
  END
"""


def _frontier_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic CrawlRequest frontier (FIXTURES.md §A1) from orders."""
    orders = _t(spark, sf_dir, "orders")
    hi = (F.col("o_custkey") % 20).cast("int")
    host = F.concat(F.lit("h"), F.lpad(hi.cast("string"), 4, "0"),
                    F.lit(".example.com"))
    return orders.select(
        F.concat(F.lit("http://"), host, F.lit("/p/"),
                 F.col("o_orderkey").cast("string")).alias("url"),
        host.alias("host"),
        hi.alias("host_idx"),
        (F.col("o_orderkey") % 8).cast("int").alias("depth"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(0).cast("long").alias("discovered_at_ms"),
        (F.lit(1) + F.col("o_orderkey") % 3).cast("int").alias("priority"),
        (F.col("o_orderkey") % 5).cast("int").alias("retry_count"),
        F.when(F.col("o_orderkey") % 7 == 0,
               F.lit(9_000_000_000_000_000)).cast("long")
        .alias("scheduled_for_ms"),
        F.lit(0).cast("int").alias("round"),
    )


# ---------------------------------------------------------------------------
# F1-F4/F7 + R1: gate decision chain (core/WebCrawler.java:197-278)
# ---------------------------------------------------------------------------

@q("gates_decision", f"""
  WITH frontier AS ({_FRONTIER_SQL})
  SELECT {_DECISION_SQL} AS decision,
         count(*) AS n, min(url) AS sample_url
  FROM frontier GROUP BY 1
""")
def gates_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    frontier = _frontier_from_orders(spark, sf_dir)
    gated = apply_gates(frontier, _GATE_CFG, _GATE_CFG.round_ts_ms(0))
    return (gated.groupBy("decision")
            .agg(F.count("*").alias("n"), F.min("url").alias("sample_url")))


# ---------------------------------------------------------------------------
# F5/L3: per-host politeness budget window (core/WebCrawler.java:241-257)
# ---------------------------------------------------------------------------

@q("politeness_budget", f"""
  WITH frontier AS ({_FRONTIER_SQL}),
  gated AS (SELECT *, {_DECISION_SQL} AS decision0 FROM frontier),
  ranked AS (
    SELECT *, row_number() OVER (
      PARTITION BY host
      ORDER BY (CASE WHEN decision0 = 'PASS' THEN 1 ELSE 0 END) DESC,
               priority, url) AS host_rank
    FROM gated)
  SELECT url,
         CASE WHEN decision0 = 'PASS' AND host_rank > 3
              THEN 'DEFER_POLITENESS' ELSE decision0 END AS decision
  FROM ranked
""")
def politeness_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = CrawlConfig(
        max_depth=_GATE_CFG.max_depth,
        max_retry_attempts=_GATE_CFG.max_retry_attempts,
        allowed_domains=_GATE_CFG.allowed_domains,
        exclude_patterns=_GATE_CFG.exclude_patterns,
        host_budget_per_round=3,
    )
    frontier = _frontier_from_orders(spark, sf_dir)
    gated = apply_gates(frontier, cfg, cfg.round_ts_ms(0))
    return apply_politeness(gated, cfg).select("url", "decision")


@q("politeness_crawl_delay", f"""
  WITH frontier AS ({_FRONTIER_SQL}),
  gated AS (SELECT *, {_DECISION_SQL} AS decision0 FROM frontier),
  budgets AS (
    SELECT *, CASE WHEN host_idx % 4 = 0 THEN 2
                   WHEN host_idx % 4 = 1 THEN 1
                   ELSE 3 END AS budget
    FROM gated),
  ranked AS (
    SELECT *, row_number() OVER (
      PARTITION BY host
      ORDER BY (CASE WHEN decision0 = 'PASS' THEN 1 ELSE 0 END) DESC,
               priority, url) AS host_rank
    FROM budgets)
  SELECT url,
         CASE WHEN decision0 = 'PASS' AND host_rank > budget
              THEN 'DEFER_POLITENESS' ELSE decision0 END AS decision
  FROM ranked
""")
def politeness_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 with the robots Crawl-delay per-host budget override
    (min(host_budget, ceil(round_seconds / delay)); reference intent:
    schema.cql:19-24): delay 35 s ⇒ budget 2, 70 s ⇒ 1, absent ⇒ the
    configured 3 — exercised through the salted partial top-K path."""
    cfg = CrawlConfig(
        max_depth=_GATE_CFG.max_depth,
        max_retry_attempts=_GATE_CFG.max_retry_attempts,
        allowed_domains=_GATE_CFG.allowed_domains,
        exclude_patterns=_GATE_CFG.exclude_patterns,
        host_budget_per_round=3,
    )
    frontier = _frontier_from_orders(spark, sf_dir)
    gated = apply_gates(frontier, cfg, cfg.round_ts_ms(0))
    robots = (frontier.select("host", "host_idx").distinct()
              .select("host",
                      F.when(F.col("host_idx") % 4 == 0, F.lit(35.0))
                      .when(F.col("host_idx") % 4 == 1, F.lit(70.0))
                      .cast("double").alias("crawl_delay")))
    return (apply_politeness(gated, cfg, robots=robots)
            .select("url", "decision"))


# ---------------------------------------------------------------------------
# F6: robots.txt substring-disallow via broadcast join
# (core/WebCrawler.java:260-270,530-532)
# ---------------------------------------------------------------------------

@q("robots_filter", f"""
  WITH frontier AS ({_FRONTIER_SQL}),
  gated AS (SELECT *, {_DECISION_SQL} AS decision0 FROM frontier)
  SELECT CASE WHEN decision0 = 'PASS' AND host_idx % 5 = 0
                   AND contains(url, '/p/1')
              THEN 'REJECT_ROBOTS' ELSE decision0 END AS decision,
         count(*) AS n, min(url) AS sample_url
  FROM gated GROUP BY 1
""")
def robots_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    frontier = _frontier_from_orders(spark, sf_dir)
    gated = apply_gates(frontier, _GATE_CFG, _GATE_CFG.round_ts_ms(0))
    robots = (frontier.select("host", "host_idx").distinct()
              .select("host",
                      F.when(F.col("host_idx") % 5 == 0,
                             F.array(F.lit("/p/1")))
                      .otherwise(F.array().cast("array<string>"))
                      .alias("robots_disallow")))
    return (filter_robots(gated, robots)
            .groupBy("decision")
            .agg(F.count("*").alias("n"), F.min("url").alias("sample_url")))


# ---------------------------------------------------------------------------
# X1b: registered-domain (eTLD+1) extraction + PLD-level politeness rollup.
# The reference keys politeness on the raw hostname (crawl_state host rows,
# core/WebCrawler.java:214-220); production crawlers group at eTLD+1 so a
# subdomain farm (*.blogspot.com) can't multiply one site's budget.
# ---------------------------------------------------------------------------

# Varied synthetic host corpus derived from `part`: plain/known TLDs,
# two-label ccTLD suffixes, private-registry suffixes, an unknown TLD
# ('internal' → PSL '*' default rule), and suffix-only hosts (null PLD).
_PLD_SFX = ("com", "net", "org", "io", "co.uk", "com.au",
            "github.io", "blogspot.com", "internal")

_PLD_HOSTS_SQL = f"""
  SELECT p_partkey, CASE WHEN p_partkey % 97 = 0
    THEN (['github.io', 'co.uk'])[CAST(p_partkey % 2 AS INT) + 1]
    ELSE CASE CAST(p_partkey % 3 AS INT)
      WHEN 0 THEN site || '.' || sfx
      WHEN 1 THEN 'www.' || site || '.' || sfx
      ELSE 'cdn' || CAST(p_partkey % 4 AS VARCHAR) || '.' || site || '.' || sfx
    END END AS host
  FROM (SELECT p_partkey,
               'site' || CAST(p_partkey % 40 AS VARCHAR) AS site,
               (['{"','".join(_PLD_SFX)}'])
                 [CAST(p_partkey % {len(_PLD_SFX)} AS INT) + 1] AS sfx
        FROM part)
"""

# DuckDB mirror of functions.urls.registered_domain_of (longest-suffix
# match, '*' fallback, suffix-only → null).
_PLD_SQL = f"""
  SELECT p_partkey, host,
    CASE WHEN k >= n THEN NULL
         ELSE array_to_string(labels[n - k:n], '.') END AS registered_domain
  FROM (
    SELECT p_partkey, host, labels, len(labels) AS n,
      CASE WHEN bk = 0 THEN 1 ELSE bk END AS k
    FROM (
      SELECT p_partkey, host, string_split(host, '.') AS labels,
        coalesce((SELECT max(len(string_split(s.s, '.')))
                  FROM (VALUES {', '.join(f"('{s}')" for s in _PLD_SFX)}) s(s)
                  WHERE host = s.s OR host LIKE '%.' || s.s), 0) AS bk
      FROM ({_PLD_HOSTS_SQL})))
"""


def _pld_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pk = F.col("p_partkey")
    site = F.concat(F.lit("site"), (pk % 40).cast("string"))
    sfx = F.element_at(F.lit(list(_PLD_SFX)),
                       (pk % len(_PLD_SFX)).cast("int") + 1)
    depth = (pk % 3).cast("int")
    host = (F.when(pk % 97 == 0,
                   F.element_at(F.lit(["github.io", "co.uk"]),
                                (pk % 2).cast("int") + 1))
            .when(depth == 0, F.concat(site, F.lit("."), sfx))
            .when(depth == 1, F.concat(F.lit("www."), site, F.lit("."), sfx))
            .otherwise(F.concat(F.lit("cdn"), (pk % 4).cast("string"),
                                F.lit("."), site, F.lit("."), sfx)))
    return (_t(spark, sf_dir, "part")
            .select("p_partkey", host.alias("host")))


@q("registered_domain", f"""
  SELECT host, registered_domain, count(*) AS n
  FROM ({_PLD_SQL}) GROUP BY host, registered_domain
""")
def registered_domain_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eTLD+1 per host: the production scalar (map-side aggregate fold over
    the literal suffix array — zero joins/shuffles/UDFs for the extraction
    itself; the single groupBy here is just the test-output grain)."""
    from .functions.urls import registered_domain_of
    return (_pld_hosts(spark, sf_dir)
            .select("host",
                    registered_domain_of(F.col("host"))
                    .alias("registered_domain"))
            .groupBy("host", "registered_domain")
            .agg(F.count("*").alias("n")))


# ---------------------------------------------------------------------------
# synthetic image table (crawl/synthweb.py codec) keyed by doc_id
# ---------------------------------------------------------------------------

def _images_df(spark: SparkSession, sf_dir: str, n: int = 128,
               dup_mod: int = 96,
               caption_dup_mod: int | None = None,
               variant_fmts: tuple[str, ...] | None = None) -> DataFrame:
    """Deterministic image table per BASELINE.json input_hint, derived from
    the first n doc_ids through the synthetic codec (crawl/synthweb.py).
    dup_mod < n creates exact-duplicate payload groups (phash Hamming 0) so
    the image near-dup operator has real work; a coarser caption_dup_mod
    makes caption groups span several payload variants; variant_fmts
    re-encodes each group's pixels per repetition (lossless / lossy /
    heavy-requantize variants for the PSNR verify tier)."""
    from .crawl.synthweb import SYNTH_IMAGE_SCHEMA, images_for_keys
    keys = (_t(spark, sf_dir, "documents").select("doc_id")
            .orderBy("doc_id").limit(n))
    return keys.mapInPandas(
        images_for_keys(SynthWebConfig(), dup_mod=dup_mod,
                        caption_dup_mod=caption_dup_mod,
                        variant_fmts=variant_fmts),
        SYNTH_IMAGE_SCHEMA)


# ---------------------------------------------------------------------------
# image rungs of the training manifest (pipeline/multimodal.py), over the
# deterministic synthetic image table
# ---------------------------------------------------------------------------

@q("phash_neardup", lambda: _oracles.phash_neardup_sql(max_hamming=10))
def phash_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.phash_hamming_neardup(
        _images_df(spark, sf_dir), max_hamming=10)


@q("psnr_neardup", lambda: _oracles.psnr_neardup_sql(
    n=384, dup_mod=96, max_hamming=10, min_psnr=40.0))
def psnr_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier image near-dup over a variant-encoded corpus (each pixel
    group appears as lossless png, ~51 dB jpeg, ~29 dB jpeg16 requantize,
    and a second byte-identical png): phash banding proposes, decoded-pixel
    PSNR verifies at the input_hint 40 dB bar — light lossy passes, heavy
    requantize is REJECTED despite sitting a few phash bits away."""
    return multimodal.psnr_verified_neardup(
        _images_df(spark, sf_dir, n=384, dup_mod=96,
                   variant_fmts=("png", "jpeg", "jpeg16", "png")),
        max_hamming=10, min_psnr=40.0)


@q("image_variant_dedup", lambda: _oracles.image_variant_dedup_sql(
    n=384, dup_mod=96, max_hamming=10, min_psnr=40.0))
def image_variant_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant-aware image dedup: PSNR-verified components over the
    variant-encoded corpus, one survivor per pixel group preferring the
    lossless encoding. The ~29 dB requantize never verifies, so it is its
    own cluster — pixels, not signatures, draw the dedup boundary."""
    return multimodal.image_variant_dedup(
        _images_df(spark, sf_dir, n=384, dup_mod=96,
                   variant_fmts=("png", "jpeg", "jpeg16", "png")),
        max_hamming=10, min_psnr=40.0)


@q("image_training_mix", lambda: _oracles.image_training_mix_sql(
    n=384, dup_mod=96, caption_dup_mod=48, max_hamming=10, min_psnr=40.0,
    batch_size=4, n_shards=4))
def image_training_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed image-side training-set flagship: curation gates → exact
    payload dedup → PSNR-verified variant collapse → aspect-bucket batch
    manifest, one call from the raw input_hint table to the dataloader's
    gather list. The oracle independently recomputes every stage from the
    codec/caption/XXH64 mirrors (curation verdicts and dims as VALUES,
    reachability as a recursive CTE, the batch layout as windows)."""
    return multimodal.image_training_mix(
        _images_df(spark, sf_dir, n=384, dup_mod=96, caption_dup_mod=48,
                   variant_fmts=("png", "jpeg", "jpeg16", "png")),
        max_hamming=10, min_psnr=40.0, batch_size=4, n_shards=4)


@q("image_dedup_clusters", lambda: _oracles.image_clusters_sql(
    max_hamming=10))
def image_dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image fuzzy dedup end-to-end: phash Hamming pairs → connected
    components → per-image (cluster_id, is_canonical) — the composed
    image-side dedup a crawl-to-training pipeline runs. cluster_id is the
    lexicographic-min image id; the oracle recomputes reachability from
    the codec-mirror phash VALUES as a recursive CTE."""
    imgs = _images_df(spark, sf_dir)
    pairs = multimodal.phash_hamming_neardup(imgs, max_hamming=10)
    return (pdedup.assign_clusters(imgs.select("image_id"), pairs,
                                   id_col="image_id",
                                   src="img_a", dst="img_b")
            .select("image_id", "cluster_id", "is_canonical"))


@q("image_curation", lambda: _oracles.image_curation_sql(
    n=128, dup_mod=96, caption_dup_mod=48))
def image_curation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION-style pre-training curation filter: resolution floor, aspect
    cap, caption richness, format whitelist + short-side bucket."""
    return multimodal.image_curation(
        _images_df(spark, sf_dir, caption_dup_mod=48))


@q("sitemap_extract", f"""
  WITH hosts AS (
    SELECT DISTINCT
      'h' || lpad(CAST(o_custkey % 20 AS VARCHAR), 4, '0')
          || '.example.com' AS host,
      CAST(o_custkey % 20 AS INTEGER) AS host_idx
    FROM orders),
  sm AS (SELECT host, '<urlset>'
    || '<url><loc>http://' || host || '/s/0</loc><lastmod>2023-11-'
       || lpad(CAST(host_idx % 27 + 1 AS VARCHAR), 2, '0')
       || '</lastmod><priority>0.' || CAST(host_idx % 9 + 1 AS VARCHAR)
       || '</priority></url>'
    || '<url><loc>http://' || host || '/s/1</loc></url>'
    || '<url><loc>http://' || host
       || '/s/0</loc><lastmod>2024-01-01</lastmod></url>'
    || '<url><loc>http://evil.example.org/x</loc></url>'
    || '<url><lastmod>2023-01-01</lastmod></url></urlset>' AS xml
    FROM hosts),
  blocks AS (
    SELECT host, CAST(i AS INTEGER) AS entry_idx,
           list_extract(regexp_extract_all(xml, '<url>(.*?)</url>', 1),
                        CAST(i AS INTEGER)) AS block
    FROM sm, range(1, 6) AS r(i)),
  parsed AS (
    SELECT host, entry_idx,
           regexp_extract(block, '<loc>(.*?)</loc>', 1) AS url,
           CAST(nullif(regexp_extract(block, '<lastmod>(.*?)</lastmod>', 1),
                       '') AS DATE) AS lastmod,
           CAST(nullif(regexp_extract(block,
                                      '<priority>(.*?)</priority>', 1),
                       '') AS DOUBLE) AS priority
    FROM blocks),
  kept AS (
    SELECT * FROM parsed
    WHERE length(url) > 0
      AND (starts_with(url, 'http://' || host || '/')
           OR starts_with(url, 'https://' || host || '/')))
  SELECT host, url, strftime(lastmod, '%Y-%m-%d') AS lastmod, priority
  FROM kept
  QUALIFY row_number() OVER (PARTITION BY host, url
                             ORDER BY entry_idx) = 1
""")
def sitemap_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion over a synthetic per-host sitemap: entries with
    lastmod/priority, an optional-field entry, a duplicate loc (first
    wins), a cross-host loc (dropped per spec) and a loc-less entry
    (dropped). The oracle re-parses the identically-constructed XML with
    DuckDB's regexp engine."""
    from .operators.sitemap import parse_sitemaps
    hosts = (_frontier_from_orders(spark, sf_dir)
             .select("host", "host_idx").distinct())
    h = F.col("host")
    d2 = F.lpad(((F.col("host_idx") % 27) + 1).cast("string"), 2, "0")
    pr = ((F.col("host_idx") % 9) + 1).cast("string")
    xml = F.concat(
        F.lit("<urlset>"),
        F.lit("<url><loc>http://"), h,
        F.lit("/s/0</loc><lastmod>2023-11-"), d2,
        F.lit("</lastmod><priority>0."), pr, F.lit("</priority></url>"),
        F.lit("<url><loc>http://"), h, F.lit("/s/1</loc></url>"),
        F.lit("<url><loc>http://"), h,
        F.lit("/s/0</loc><lastmod>2024-01-01</lastmod></url>"),
        F.lit("<url><loc>http://evil.example.org/x</loc></url>"),
        F.lit("<url><lastmod>2023-01-01</lastmod></url></urlset>"))
    out = parse_sitemaps(hosts.select("host", xml.alias("xml")))
    # contract cast only: the driver's pandas compare is unit-exact on
    # datetimes (ns vs us), so render the parsed DATE back to ISO text
    return out.withColumn("lastmod",
                          F.date_format("lastmod", "yyyy-MM-dd"))


@q("aspect_bucket", lambda: _oracles.aspect_bucket_sql(
    n=128, dup_mod=96, batch_size=4, n_shards=4))
def aspect_bucket_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SDXL-style aspect-ratio bucket batching over the image table:
    integer-exact ratio ladder, sharded per-bucket batch cuts, drop_last
    (arXiv:2307.01952 §2.3 is the published recipe)."""
    return multimodal.aspect_bucket_batches(
        _images_df(spark, sf_dir), batch_size=4, n_shards=4)


# ---------------------------------------------------------------------------
# R2: retry scheduling — deferred rows re-enter the next frontier with
# retry_count+1 and scheduled_for = next round (core/WebCrawler.java:283-310,
# model/CrawlRequest.java:21-23)
# ---------------------------------------------------------------------------

_POLITE_CFG = CrawlConfig(
    max_depth=_GATE_CFG.max_depth,
    max_retry_attempts=_GATE_CFG.max_retry_attempts,
    allowed_domains=_GATE_CFG.allowed_domains,
    exclude_patterns=_GATE_CFG.exclude_patterns,
    host_budget_per_round=3,
)

@q("retry_reschedule", f"""
  WITH frontier AS ({_FRONTIER_SQL}),
  gated AS (SELECT *, {_DECISION_SQL} AS decision0 FROM frontier),
  ranked AS (
    SELECT *, row_number() OVER (
      PARTITION BY host
      ORDER BY (CASE WHEN decision0 = 'PASS' THEN 1 ELSE 0 END) DESC,
               priority, url) AS host_rank
    FROM gated),
  decided AS (
    SELECT *, CASE WHEN decision0 = 'PASS' AND host_rank > 3
                   THEN 'DEFER_POLITENESS' ELSE decision0 END AS decision
    FROM ranked)
  SELECT url, CAST(retry_count + 1 AS INTEGER) AS retry_count,
         CAST({_POLITE_CFG.round_ts_ms(1)} AS BIGINT) AS scheduled_for_ms,
         CAST(1 AS INTEGER) AS round
  FROM decided WHERE decision = 'DEFER_POLITENESS'
  UNION ALL
  SELECT url, retry_count, scheduled_for_ms, CAST(1 AS INTEGER) AS round
  FROM decided WHERE decision = 'DEFER_SCHED'
""")
def retry_reschedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = _POLITE_CFG
    frontier = _frontier_from_orders(spark, sf_dir)
    decided = apply_politeness(
        apply_gates(frontier, cfg, cfg.round_ts_ms(0)), cfg)
    deferred = (
        decided.where(F.col("decision") == "DEFER_POLITENESS")
        .withColumn("retry_count", (F.col("retry_count") + 1).cast("int"))
        .withColumn("scheduled_for_ms",
                    F.lit(cfg.round_ts_ms(1)).cast("long"))
        .unionByName(decided.where(F.col("decision") == "DEFER_SCHED"))
    )
    return deferred.select("url", "retry_count", "scheduled_for_ms",
                           F.lit(1).cast("int").alias("round"))


# ---------------------------------------------------------------------------
# E2 + D3 + F8: link → child-request projection with intra-page dedup and
# validity/allow/exclude filters (core/WebCrawler.java:339-397,418-426)
# ---------------------------------------------------------------------------

@q("link_children", r"""
  WITH base AS (
    SELECT
      'http://h' || lpad(CAST(o_custkey % 20 AS VARCHAR), 4, '0')
          || '.example.com/p/' || CAST(o_orderkey AS VARCHAR)  AS parent_url,
      CAST(o_orderkey % 8 AS INTEGER)                          AS pdepth,
      'http://h' || lpad(CAST((o_custkey % 20 + 1) % 20 AS VARCHAR), 4, '0')
          || '.example.com/p/' || CAST(o_orderkey + 7 AS VARCHAR) AS url,
      'h' || lpad(CAST((o_custkey % 20 + 1) % 20 AS VARCHAR), 4, '0')
          || '.example.com'                                    AS host
    FROM orders),
  filtered AS (
    SELECT * FROM base
    WHERE regexp_matches(host,
      '^(?:(?:h000[0-9]\.example\.com)|(?:h001[0-4]\.example\.com))$')
      AND NOT regexp_matches(url, '^(?:(?:.*/p/\d*[05]))$'))
  SELECT url, host, CAST(pdepth + 1 AS INTEGER) AS depth, parent_url,
         CAST(1 AS INTEGER) AS priority
  FROM filtered
  QUALIFY row_number() OVER (
    PARTITION BY url ORDER BY pdepth + 1, parent_url) = 1
""")
def link_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    hi = (F.col("o_custkey") % 20).cast("int")
    host = F.concat(F.lit("h"), F.lpad(hi.cast("string"), 4, "0"),
                    F.lit(".example.com"))
    url = F.concat(F.lit("http://"), host, F.lit("/p/"),
                   F.col("o_orderkey").cast("string"))
    child_host = F.concat(F.lit("h"),
                          F.lpad(((hi + 1) % 20).cast("string"), 4, "0"),
                          F.lit(".example.com"))
    child = F.concat(F.lit("http://"), child_host, F.lit("/p/"),
                     (F.col("o_orderkey") + 7).cast("string"))
    # spaces fail the RFC-3986 charset guard, so X3 leaves this verbatim
    # and F8 drops it (resolvable relatives are covered by url_resolve)
    bad = F.concat(F.lit("junk link "), F.col("o_orderkey").cast("string"))
    stored = orders.select(
        url.alias("url"),
        (F.col("o_orderkey") % 8).cast("int").alias("depth"),
        F.array(child, bad, child).alias("links"))  # dup → D3 array_distinct
    return (extract_children(stored, _GATE_CFG, 0)
            .select("url", "host", "depth", "parent_url",
                    F.col("priority").cast("int").alias("priority")))


# ---------------------------------------------------------------------------
# X3: relative→absolute URL resolution (core/WebCrawler.java:341, Jsoup
# abs:href). The oracle restates the resolution rules for each emitted ref
# form; the Spark side runs the production Catalyst resolver.
# ---------------------------------------------------------------------------

_RESOLVE_BASE_SQL = """
  SELECT o_orderkey AS k,
         'http://h' || lpad(CAST(o_custkey % 20 AS VARCHAR), 4, '0')
             || '.example.com/a/b/' || CAST(o_orderkey AS VARCHAR) AS base,
         CASE CAST(o_orderkey % 8 AS INTEGER)
           WHEN 0 THEN 'https://other.example.org/x/' || CAST(o_orderkey AS VARCHAR)
           WHEN 1 THEN '//mirror.example.net/m/' || CAST(o_orderkey AS VARCHAR)
           WHEN 2 THEN '/abs/' || CAST(o_orderkey AS VARCHAR)
           WHEN 3 THEN '../up/' || CAST(o_orderkey AS VARCHAR)
           WHEN 4 THEN './sib/' || CAST(o_orderkey AS VARCHAR)
           WHEN 5 THEN 'rel/' || CAST(o_orderkey AS VARCHAR)
           WHEN 6 THEN 'junk link ' || CAST(o_orderkey AS VARCHAR)
           ELSE ''
         END AS href
  FROM orders
"""

@q("url_resolve", f"""
  WITH refs AS ({_RESOLVE_BASE_SQL})
  SELECT k, base, href,
    CASE CAST(k % 8 AS INTEGER)
      WHEN 0 THEN href
      WHEN 1 THEN 'http:' || href
      WHEN 2 THEN regexp_extract(base, '^(https?://[^/]*)', 1) || href
      WHEN 3 THEN regexp_extract(base, '^(https?://[^/]*)', 1)
                  || '/a/up/' || CAST(k AS VARCHAR)
      WHEN 4 THEN regexp_extract(base, '^(https?://[^/]*)', 1)
                  || '/a/b/sib/' || CAST(k AS VARCHAR)
      WHEN 5 THEN regexp_extract(base, '^(https?://[^/]*)', 1)
                  || '/a/b/rel/' || CAST(k AS VARCHAR)
      WHEN 6 THEN href
      ELSE base
    END AS resolved
  FROM refs
""")
def url_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.urls import resolve_url
    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    ks = k.cast("string")
    base = F.concat(F.lit("http://h"),
                    F.lpad((F.col("o_custkey") % 20).cast("string"), 4, "0"),
                    F.lit(".example.com/a/b/"), ks)
    href = (F.when(k % 8 == 0, F.concat(F.lit("https://other.example.org/x/"), ks))
            .when(k % 8 == 1, F.concat(F.lit("//mirror.example.net/m/"), ks))
            .when(k % 8 == 2, F.concat(F.lit("/abs/"), ks))
            .when(k % 8 == 3, F.concat(F.lit("../up/"), ks))
            .when(k % 8 == 4, F.concat(F.lit("./sib/"), ks))
            .when(k % 8 == 5, F.concat(F.lit("rel/"), ks))
            .when(k % 8 == 6, F.concat(F.lit("junk link "), ks))
            .otherwise(F.lit("")))
    return (orders.select(k.alias("k"), base.alias("base"), href.alias("href"))
            .withColumn("resolved", resolve_url(F.col("base"), F.col("href"))))


@q("crawl_flagship", lambda: _oracles.crawl_flagship_sql())
def crawl_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end BSP crawl on the deterministic synthetic web: fetch →
    hash → dedup → extract → URL-seen → next frontier, 3 rounds. Output is
    the per-round lineage metrics table (north_rule); the oracle is the
    golden sequential model's lineage (pure function of seed + config)."""
    from .crawl.driver import Crawler
    from .crawl.synthweb import seed_urls

    synth = SynthWebConfig(n_hosts=8, base_pages_per_host=24)
    cfg = CrawlConfig(host_budget_per_round=4, max_rounds=3)
    root = tempfile.mkdtemp(prefix="crawl_flagship_")
    crawler = Crawler(spark, cfg, synth, root)
    crawler.bootstrap(seed_urls(synth, 4))
    crawler.run(3)
    return (crawler.lineage()
            .groupBy("round", "metric").agg(F.sum("value").alias("value"))
            .orderBy("round", "metric"))


@q("revalidate_merge", r"""
  WITH s AS (
    SELECT doc_id,
           'https://h' || lpad(CAST(doc_id % 20 AS VARCHAR), 4, '0')
             || '.example.com/p/' || doc_id AS url,
           sha256(text) AS content_hash,
           '"' || substr(sha256(text), 1, 16) || '"' AS etag,
           text
    FROM documents),
  v AS (
    SELECT doc_id,
           doc_id % 11 = 4 AS failed,
           doc_id % 11 <> 4 AND doc_id % 3 = 0 AS nm,
           CASE WHEN doc_id % 5 = 0 THEN text || ' [v2]' ELSE text END
             AS new_text
    FROM documents),
  m AS (
    SELECT s.url, s.content_hash, s.etag, v.failed, v.nm,
           sha256(v.new_text) AS h_new,
           '"' || substr(sha256(v.new_text), 1, 16) || '"' AS etag_new
    FROM s JOIN v USING (doc_id)),
  verd AS (
    SELECT url, content_hash, etag, h_new, etag_new, failed, nm,
           CASE WHEN failed THEN 'failed'
                WHEN nm THEN 'unchanged'
                WHEN h_new = content_hash THEN 'refreshed'
                ELSE 'changed' END AS verdict
    FROM m)
  SELECT url, verdict,
         CASE WHEN failed THEN NULL WHEN nm THEN 304 ELSE 200 END
           AS http_status,
         CASE WHEN verdict = 'changed' THEN h_new ELSE content_hash END
           AS content_hash,
         CASE WHEN verdict IN ('failed', 'unchanged') THEN etag
              ELSE etag_new END AS etag
  FROM verd
""")
def revalidate_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-GET recrawl round folded into the page store: per-URL
    failed/unchanged/refreshed/changed verdicts with the surviving
    content hash and validators. 304s move zero payload; only fetched
    bodies are hashed (map-side, candidate volume); the store join is
    one url-keyed storage-partitioned join. The fixture synthesizes the
    verdict mix deterministically from doc_id (pipeline/recrawl.py
    constants), mirroring crawl.httpfetch.make_http_revalidating_fetcher
    output, which the loopback e2e test exercises over real sockets."""
    stored, verdicts = precrawl.revalidation_fixture(
        _t(spark, sf_dir, "documents"))
    return precrawl.revalidate_merge(stored, verdicts)


@q("wds_index", lambda: _oracles.wds_index_sql(n=64, dup_mod=48,
                                               n_shards=4))
def wds_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard member index (the image-training analog of
    the WARC cdx): content-addressed shard assignment and the tar layout
    math (512-byte headers, block-padded data, running offsets in
    (image_id, member_name) order) — all JVM-side, zero archive reads.
    Export→ingest round-trip pinned in tests/test_wds.py."""
    from .sources import wds as wdsmod
    idx = wdsmod.wds_member_index(
        _images_df(spark, sf_dir, n=64, dup_mod=48), n_shards=4)
    return idx.drop("member_sha256")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 3-round crawl lineage + a sf0.001 corpus summary row."""
    lineage = crawl_flagship(spark, "/root/testdata/sf0.001")
    docs_n = (_t(spark, "/root/testdata/sf0.001", "documents")
              .agg(F.count("*").alias("value"))
              .select(F.lit(-1).alias("round"),
                      F.lit("sf0001_documents").alias("metric"), "value"))
    return lineage.unionByName(docs_n)


@q("robots_wildcard", f"""
  WITH fr AS ({_FRONTIER_SQL}),
  hosts AS (SELECT DISTINCT host, host_idx FROM fr),
  rules AS (
    SELECT host, TRUE AS allow,
           '/p/' || CAST(host_idx % 10 AS VARCHAR) || '5$' AS pattern
    FROM hosts
    UNION ALL SELECT host, FALSE,
           '/p/' || CAST(host_idx % 10 AS VARCHAR) || '*' FROM hosts
    UNION ALL SELECT host, FALSE, '/q*' FROM hosts
    UNION ALL SELECT host, TRUE,
           '/p/' || CAST(host_idx % 10 AS VARCHAR) || '*'
    FROM hosts WHERE host_idx % 3 = 0),
  paths AS (SELECT url, host,
                   regexp_extract(url, 'example\\.com(/.*)$', 1) AS path
            FROM fr),
  m AS (
    SELECT p.url, length(r.pattern) AS l, r.allow
    FROM paths p JOIN rules r USING (host)
    WHERE regexp_matches(p.path,
      '^' || replace(CASE WHEN r.pattern LIKE '%$'
                          THEN substring(r.pattern, 1,
                                         length(r.pattern) - 1)
                          ELSE r.pattern END, '*', '.*')
          || CASE WHEN r.pattern LIKE '%$' THEN '$' ELSE '' END)),
  best AS (SELECT url, allow, l,
                  row_number() OVER (PARTITION BY url
                                     ORDER BY l DESC, allow DESC) AS rn
           FROM m)
  SELECT p.url, p.path, coalesce(b.allow, TRUE) AS allowed,
         CAST(coalesce(b.l, 0) AS INTEGER) AS rule_len
  FROM paths p LEFT JOIN best b ON p.url = b.url AND b.rn = 1
""")
def robots_wildcard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots matching ('*' wildcards, '$' anchors,
    longest-match precedence, allow-wins-ties) over per-host synthetic
    rule sets that exercise every branch: anchored allow beating a
    shorter wildcard disallow, equal-length tie resolved to allow
    (hosts %3=0), and the no-match default
    (operators/robots.wildcard_rule_decisions)."""
    from .operators.robots import wildcard_rule_decisions
    fr = _frontier_from_orders(spark, sf_dir)
    x = (F.col("host_idx") % 10).cast("string")

    def rule(allow: bool, *pat) -> F.Column:
        return F.struct(F.lit(allow).alias("allow"),
                        F.concat(*pat).alias("pattern"))

    base = [rule(True, F.lit("/p/"), x, F.lit("5$")),
            rule(False, F.lit("/p/"), x, F.lit("*")),
            rule(False, F.lit("/q*"))]
    tie = rule(True, F.lit("/p/"), x, F.lit("*"))
    reqs = fr.select(
        "url",
        F.regexp_extract("url", r"example\.com(/.*)$", 1).alias("path"),
        F.when(F.col("host_idx") % 3 == 0, F.array(*base, tie))
        .otherwise(F.array(*base)).alias("rules"))
    return (wildcard_rule_decisions(reqs)
            .select("url", "path", "allowed", "rule_len"))


# ---------------------------------------------------------------------------
# sitemap-lastmod recrawl planning (pipeline/recrawl
# .sitemap_recrawl_candidates): sitemap entries vs the page store. Stored
# fixture: hosts with host_idx%2==0 fetched their /s/0 on 2023-11-20, so
# /s/0 entries are 'modified' only where the sitemap lastmod (day =
# host_idx%27+1) is later; /s/1 (no lastmod) is 'new' where never stored,
# else 'fresh'.
# ---------------------------------------------------------------------------

@q("sitemap_recrawl", f"""
  WITH hosts AS (
    SELECT DISTINCT
      'h' || lpad(CAST(o_custkey % 20 AS VARCHAR), 4, '0')
          || '.example.com' AS host,
      CAST(o_custkey % 20 AS INTEGER) AS host_idx
    FROM orders),
  sm AS (SELECT host, host_idx, '<urlset>'
    || '<url><loc>http://' || host || '/s/0</loc><lastmod>2023-11-'
       || lpad(CAST(host_idx % 27 + 1 AS VARCHAR), 2, '0')
       || '</lastmod><priority>0.' || CAST(host_idx % 9 + 1 AS VARCHAR)
       || '</priority></url>'
    || '<url><loc>http://' || host || '/s/1</loc></url>'
    || '<url><loc>http://' || host
       || '/s/0</loc><lastmod>2024-01-01</lastmod></url>'
    || '<url><loc>http://evil.example.org/x</loc></url>'
    || '<url><lastmod>2023-01-01</lastmod></url></urlset>' AS xml
    FROM hosts),
  blocks AS (
    SELECT host, CAST(i AS INTEGER) AS entry_idx,
           list_extract(regexp_extract_all(xml, '<url>(.*?)</url>', 1),
                        CAST(i AS INTEGER)) AS block
    FROM sm, range(1, 6) AS r(i)),
  parsed AS (
    SELECT host, entry_idx,
           regexp_extract(block, '<loc>(.*?)</loc>', 1) AS url,
           CAST(nullif(regexp_extract(block, '<lastmod>(.*?)</lastmod>', 1),
                       '') AS DATE) AS lastmod,
           CAST(nullif(regexp_extract(block,
                                      '<priority>(.*?)</priority>', 1),
                       '') AS DOUBLE) AS priority
    FROM blocks),
  kept AS (
    SELECT * FROM parsed
    WHERE length(url) > 0
      AND (starts_with(url, 'http://' || host || '/')
           OR starts_with(url, 'https://' || host || '/'))),
  cands AS (
    SELECT host, url, lastmod, priority FROM kept
    QUALIFY row_number() OVER (PARTITION BY host, url
                               ORDER BY entry_idx) = 1),
  stored AS (
    SELECT 'http://' || host || '/s/0' AS url,
           CAST('2023-11-20' AS DATE) AS last_fetch
    FROM hosts WHERE host_idx % 2 = 0),
  j AS (
    SELECT c.host, c.url, c.lastmod, c.priority, s.last_fetch,
      CASE WHEN s.last_fetch IS NULL THEN 'new'
           WHEN c.lastmod IS NOT NULL AND c.lastmod > s.last_fetch
             THEN 'modified'
           ELSE 'fresh' END AS verdict
    FROM cands c LEFT JOIN stored s ON s.url = c.url)
  SELECT host, url, strftime(lastmod, '%Y-%m-%d') AS lastmod, priority,
         strftime(last_fetch, '%Y-%m-%d') AS last_fetch, verdict,
         verdict IN ('new', 'modified') AS fetch_needed
  FROM j
""")
def sitemap_recrawl_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-lastmod recrawl planning: one URL-keyed left join of
    parse_sitemaps candidates against the page store, map-side
    new/modified/fresh verdicts."""
    from .operators.sitemap import parse_sitemaps
    hosts = (_frontier_from_orders(spark, sf_dir)
             .select("host", "host_idx").distinct())
    h = F.col("host")
    d2 = F.lpad(((F.col("host_idx") % 27) + 1).cast("string"), 2, "0")
    pr = ((F.col("host_idx") % 9) + 1).cast("string")
    xml = F.concat(
        F.lit("<urlset>"),
        F.lit("<url><loc>http://"), h,
        F.lit("/s/0</loc><lastmod>2023-11-"), d2,
        F.lit("</lastmod><priority>0."), pr, F.lit("</priority></url>"),
        F.lit("<url><loc>http://"), h, F.lit("/s/1</loc></url>"),
        F.lit("<url><loc>http://"), h,
        F.lit("/s/0</loc><lastmod>2024-01-01</lastmod></url>"),
        F.lit("<url><loc>http://evil.example.org/x</loc></url>"),
        F.lit("<url><lastmod>2023-01-01</lastmod></url></urlset>"))
    cands = parse_sitemaps(hosts.select("host", xml.alias("xml")))
    stored = (hosts.where(F.col("host_idx") % 2 == 0)
              .select(F.concat(F.lit("http://"), F.col("host"),
                               F.lit("/s/0")).alias("url"),
                      F.lit("2023-11-20").cast("date")
                      .alias("last_fetch")))
    out = precrawl.sitemap_recrawl_candidates(cands, stored)
    return (out.withColumn("lastmod", F.date_format("lastmod",
                                                    "yyyy-MM-dd"))
            .withColumn("last_fetch", F.date_format("last_fetch",
                                                    "yyyy-MM-dd")))


# ---------------------------------------------------------------------------
# two-level sitemap protocol (operators/sitemap.parse_sitemap_index →
# parse_sitemaps): index files point at child sitemaps (the 50k-URL/50MB
# split), children carry the URLs. Index fixture per host: child a.xml
# (lastmod, duplicated entry — first wins), child b.xml (no lastmod), a
# cross-host child (dropped) and a loc-less entry (dropped); each child
# then lists two URLs, one with a priority.
# ---------------------------------------------------------------------------

@q("sitemap_index", """
  WITH hosts AS (
    SELECT DISTINCT
      'h' || lpad(CAST(o_custkey % 20 AS VARCHAR), 4, '0')
          || '.example.com' AS host
    FROM orders),
  idx AS (SELECT host, '<sitemapindex>'
    || '<sitemap><loc>http://' || host || '/sm/a.xml</loc>'
    || '<lastmod>2023-12-01</lastmod></sitemap>'
    || '<sitemap><loc>http://' || host || '/sm/b.xml</loc></sitemap>'
    || '<sitemap><loc>http://other.example.org/sm/x.xml</loc></sitemap>'
    || '<sitemap><lastmod>2023-01-01</lastmod></sitemap>'
    || '<sitemap><loc>http://' || host || '/sm/a.xml</loc></sitemap>'
    || '</sitemapindex>' AS xml
    FROM hosts),
  iblocks AS (
    SELECT host, CAST(i AS INTEGER) AS entry_idx,
           list_extract(regexp_extract_all(xml,
                          '<sitemap>(.*?)</sitemap>', 1),
                        CAST(i AS INTEGER)) AS block
    FROM idx, range(1, 6) AS r(i)),
  iparsed AS (
    SELECT host, entry_idx,
           regexp_extract(block, '<loc>(.*?)</loc>', 1) AS sitemap_url,
           CAST(nullif(regexp_extract(block, '<lastmod>(.*?)</lastmod>', 1),
                       '') AS DATE) AS lastmod
    FROM iblocks),
  ikept AS (
    SELECT * FROM iparsed
    WHERE length(sitemap_url) > 0
      AND (starts_with(sitemap_url, 'http://' || host || '/')
           OR starts_with(sitemap_url, 'https://' || host || '/'))),
  children AS (
    SELECT host, sitemap_url, lastmod FROM ikept
    QUALIFY row_number() OVER (PARTITION BY host, sitemap_url
                               ORDER BY entry_idx) = 1),
  cxml AS (
    SELECT host, sitemap_url,
           regexp_extract(sitemap_url, '/sm/(.)[.]xml$', 1) AS letter,
           '<urlset><url><loc>http://' || host || '/'
             || regexp_extract(sitemap_url, '/sm/(.)[.]xml$', 1)
             || '/1</loc></url>'
           || '<url><loc>http://' || host || '/'
             || regexp_extract(sitemap_url, '/sm/(.)[.]xml$', 1)
             || '/2</loc><priority>0.5</priority></url></urlset>' AS xml
    FROM children),
  cblocks AS (
    SELECT host, CAST(i AS INTEGER) AS entry_idx,
           list_extract(regexp_extract_all(xml, '<url>(.*?)</url>', 1),
                        CAST(i AS INTEGER)) AS block
    FROM cxml, range(1, 3) AS r(i)),
  cparsed AS (
    SELECT host, entry_idx,
           regexp_extract(block, '<loc>(.*?)</loc>', 1) AS url,
           CAST(nullif(regexp_extract(block,
                                      '<priority>(.*?)</priority>', 1),
                       '') AS DOUBLE) AS priority
    FROM cblocks),
  ckept AS (
    SELECT host, url, priority FROM cparsed
    WHERE length(url) > 0
      AND (starts_with(url, 'http://' || host || '/')
           OR starts_with(url, 'https://' || host || '/'))
    QUALIFY row_number() OVER (PARTITION BY host, url
                               ORDER BY entry_idx) = 1)
  SELECT k.host,
         'http://' || k.host || '/sm/'
           || regexp_extract(k.url, '^http://[^/]*/(.)/', 1)
           || '.xml' AS sitemap_url,
         strftime(c.lastmod, '%Y-%m-%d') AS index_lastmod,
         k.url, k.priority
  FROM ckept k
  JOIN children c
    ON c.host = k.host
   AND c.sitemap_url = 'http://' || k.host || '/sm/'
         || regexp_extract(k.url, '^http://[^/]*/(.)/', 1) || '.xml'
""")
def sitemap_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level sitemap discovery: parse the index into child-sitemap
    pointers (spec rules enforced), materialize each child, parse its
    URLs, and tag every URL with its child sitemap + index lastmod."""
    from .operators.sitemap import parse_sitemap_index, parse_sitemaps
    hosts = (_frontier_from_orders(spark, sf_dir)
             .select("host").distinct())
    h = F.col("host")
    idx_xml = F.concat(
        F.lit("<sitemapindex><sitemap><loc>http://"), h,
        F.lit("/sm/a.xml</loc><lastmod>2023-12-01</lastmod></sitemap>"
              "<sitemap><loc>http://"), h,
        F.lit("/sm/b.xml</loc></sitemap>"
              "<sitemap><loc>http://other.example.org/sm/x.xml</loc>"
              "</sitemap><sitemap><lastmod>2023-01-01</lastmod></sitemap>"
              "<sitemap><loc>http://"), h,
        F.lit("/sm/a.xml</loc></sitemap></sitemapindex>"))
    children = parse_sitemap_index(hosts.select("host",
                                                idx_xml.alias("xml")))
    letter = F.regexp_extract("sitemap_url", r"/sm/(.)[.]xml$", 1)
    child_xml = F.concat(
        F.lit("<urlset><url><loc>http://"), h, F.lit("/"), letter,
        F.lit("/1</loc></url><url><loc>http://"), h, F.lit("/"), letter,
        F.lit("/2</loc><priority>0.5</priority></url></urlset>"))
    urls = parse_sitemaps(
        children.select("host", child_xml.alias("xml"))).drop("lastmod")
    back = F.concat(F.lit("http://"), F.col("host"), F.lit("/sm/"),
                    F.regexp_extract("url", r"^http://[^/]*/(.)/", 1),
                    F.lit(".xml"))
    tagged = urls.withColumn("sitemap_url", back)
    return (tagged.join(children, ["host", "sitemap_url"])
            .select("host", "sitemap_url",
                    F.date_format("lastmod", "yyyy-MM-dd")
                    .alias("index_lastmod"),
                    "url", "priority"))


# ---------------------------------------------------------------------------
# Atom feed discovery (operators/html_links.parse_atom_feeds, the parser
# feed_discovery runs) and feed-driven recrawl verdicts. Fixtures
# synthesize feed XML from `documents` on BOTH sides; parsing is
# shared-regex Catalyst vs DuckDB RE2.
# ---------------------------------------------------------------------------

_LINKS_URL_SQL = "'http://x.example.com/d/' || CAST(doc_id AS VARCHAR)"


def _links_url_col():
    return F.concat(F.lit("http://x.example.com/d/"),
                    F.col("doc_id").cast("string"))


@q("atom_feed_parse", """
  WITH feeds AS (
    SELECT 'http://x.example.com/feed/' || CAST(doc_id AS VARCHAR)
             || '.atom' AS feed_url, doc_id,
           '<feed>'
           || repeat('<entry><id>tag:e' || CAST(doc_id AS VARCHAR)
              || 'a</id><link href="http://x.example.com/d/'
              || CAST(doc_id AS VARCHAR) || '"/>'
              || '<updated>2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR),
                                          2, '0')
              || '-' || lpad(CAST(doc_id % 27 + 1 AS VARCHAR), 2, '0')
              || 'T03:04:05Z</updated>'
              || '<title>Doc ' || CAST(doc_id AS VARCHAR)
              || '</title></entry>',
              CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 1 END)
           || CASE WHEN doc_id % 4 <> 0 THEN
                '<entry><id>tag:e' || CAST(doc_id AS VARCHAR)
                || 'b</id><link href="http://x.example.com/d/'
                || CAST(doc_id AS VARCHAR) || 'b"/></entry>' ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN
                '<entry><link href="http://x.example.com/noid"/></entry>'
                ELSE '' END
           || '</feed>' AS xml
    FROM documents),
  blocks AS (
    SELECT feed_url, CAST(i AS INTEGER) AS entry_idx,
           list_extract(regexp_extract_all(xml, '<entry>(.*?)</entry>', 1),
                        CAST(i + 1 AS INTEGER)) AS block
    FROM feeds, range(0, 4) AS r(i)),
  parsed AS (
    SELECT feed_url, entry_idx,
           regexp_extract(block, '<id>(.*?)</id>', 1) AS entry_id,
           regexp_extract(block, '<link href="([^"]*)"', 1) AS link,
           TRY_CAST(substring(regexp_extract(block,
             '<updated>(.*?)</updated>', 1), 1, 10) AS DATE)
             AS updated_date,
           nullif(regexp_extract(block, '<title>(.*?)</title>', 1), '')
             AS title
    FROM blocks WHERE block IS NOT NULL),
  kept AS (SELECT * FROM parsed WHERE length(entry_id) > 0)
  SELECT feed_url, entry_id, link,
         strftime(updated_date, '%Y-%m-%d') AS updated_date, title
  FROM kept
  QUALIFY row_number() OVER (PARTITION BY feed_url, entry_id
                             ORDER BY entry_idx) = 1
""")
def atom_feed_parse_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atom entry parse: a full entry (id/link/updated/title), a
    duplicated id (doc_id%7=0, first wins), a minimal entry with null
    updated/title, and an id-less entry that RFC 4287 drops. The
    recrawl-grade date is the ISO prefix cast — no locale parse."""
    from .operators.html_links import parse_atom_feeds
    d = F.col("doc_id")
    ds = d.cast("string")
    mm = F.lpad((d % 12 + 1).cast("string"), 2, "0")
    dd = F.lpad((d % 27 + 1).cast("string"), 2, "0")
    entry_a = F.concat(
        F.lit("<entry><id>tag:e"), ds,
        F.lit('a</id><link href="http://x.example.com/d/'), ds,
        F.lit('"/><updated>2024-'), mm, F.lit("-"), dd,
        F.lit("T03:04:05Z</updated><title>Doc "), ds,
        F.lit("</title></entry>"))
    entry_b = F.concat(
        F.lit("<entry><id>tag:e"), ds,
        F.lit('b</id><link href="http://x.example.com/d/'), ds,
        F.lit('b"/></entry>'))
    xml = F.concat(
        F.lit("<feed>"),
        F.when(d % 7 == 0, F.concat(entry_a, entry_a)).otherwise(entry_a),
        F.when(d % 4 != 0, entry_b).otherwise(F.lit("")),
        F.when(d % 5 == 0,
               F.lit('<entry><link href="http://x.example.com/noid"/>'
                     "</entry>")).otherwise(F.lit("")),
        F.lit("</feed>"))
    feed_url = F.concat(F.lit("http://x.example.com/feed/"), ds,
                        F.lit(".atom"))
    docs = _t(spark, sf_dir, "documents")
    feeds = docs.select(feed_url.alias("feed_url"), xml.alias("xml"))
    out = parse_atom_feeds(feeds)
    return out.withColumn("updated_date",
                          F.date_format("updated_date", "yyyy-MM-dd"))


@q("feed_recrawl", """
  WITH feeds AS (
    SELECT 'http://x.example.com/feed/' || CAST(doc_id AS VARCHAR)
             || '.atom' AS feed_url, doc_id,
           '<feed>'
           || '<entry><id>tag:e' || CAST(doc_id AS VARCHAR)
              || 'a</id><link href="http://x.example.com/d/'
              || CAST(doc_id AS VARCHAR) || '"/>'
              || '<updated>2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR),
                                          2, '0')
              || '-' || lpad(CAST(doc_id % 27 + 1 AS VARCHAR), 2, '0')
              || 'T03:04:05Z</updated></entry>'
           || CASE WHEN doc_id % 4 <> 0 THEN
                '<entry><id>tag:e' || CAST(doc_id AS VARCHAR)
                || 'b</id><link href="http://x.example.com/d/'
                || CAST(doc_id AS VARCHAR) || 'b"/></entry>' ELSE '' END
           || '</feed>' AS xml
    FROM documents),
  blocks AS (
    SELECT feed_url, CAST(i AS INTEGER) AS entry_idx,
           list_extract(regexp_extract_all(xml, '<entry>(.*?)</entry>', 1),
                        CAST(i + 1 AS INTEGER)) AS block
    FROM feeds, range(0, 2) AS r(i)),
  entries AS (
    SELECT regexp_extract(block, '<link href="([^"]*)"', 1) AS url,
           TRY_CAST(substring(regexp_extract(block,
             '<updated>(.*?)</updated>', 1), 1, 10) AS DATE) AS lastmod
    FROM blocks WHERE block IS NOT NULL
      AND length(regexp_extract(block, '<id>(.*?)</id>', 1)) > 0),
  stored AS (
    SELECT 'http://x.example.com/d/' || CAST(doc_id AS VARCHAR) AS url,
           TRY_CAST('2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR),
                                    2, '0') || '-15' AS DATE) AS last_fetch
    FROM documents WHERE doc_id % 3 <> 1),
  joined AS (
    SELECT regexp_extract(e.url, '^https?://([^/]+)/', 1) AS host,
           e.url, e.lastmod, s.last_fetch,
           CASE WHEN s.last_fetch IS NULL THEN 'new'
                WHEN e.lastmod IS NOT NULL AND e.lastmod > s.last_fetch
                  THEN 'modified'
                ELSE 'fresh' END AS verdict
    FROM entries e LEFT JOIN stored s USING (url))
  SELECT host, url, strftime(lastmod, '%Y-%m-%d') AS lastmod,
         CAST(NULL AS DOUBLE) AS priority,
         strftime(last_fetch, '%Y-%m-%d') AS last_fetch, verdict,
         verdict IN ('new', 'modified') AS fetch_needed
  FROM joined
""")
def feed_recrawl_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-driven recrawl planning: Atom entry dates play the sitemap
    lastmod role through the SAME verdict operator
    (pipeline.recrawl.sitemap_recrawl_candidates) — 'new' for URLs the
    store has never fetched (all B entries), 'modified'/'fresh' by
    updated-vs-last-fetch comparison. Discovery sources are
    interchangeable upstream of the recrawl loop by construction."""
    from .functions.urls import host_of
    from .operators.html_links import parse_atom_feeds
    from .pipeline.recrawl import sitemap_recrawl_candidates
    d = F.col("doc_id")
    ds = d.cast("string")
    mm = F.lpad((d % 12 + 1).cast("string"), 2, "0")
    dd = F.lpad((d % 27 + 1).cast("string"), 2, "0")
    entry_a = F.concat(
        F.lit("<entry><id>tag:e"), ds,
        F.lit('a</id><link href="http://x.example.com/d/'), ds,
        F.lit('"/><updated>2024-'), mm, F.lit("-"), dd,
        F.lit("T03:04:05Z</updated></entry>"))
    entry_b = F.concat(
        F.lit("<entry><id>tag:e"), ds,
        F.lit('b</id><link href="http://x.example.com/d/'), ds,
        F.lit('b"/></entry>'))
    xml = F.concat(F.lit("<feed>"), entry_a,
                   F.when(d % 4 != 0, entry_b).otherwise(F.lit("")),
                   F.lit("</feed>"))
    feed_url = F.concat(F.lit("http://x.example.com/feed/"), ds,
                        F.lit(".atom"))
    docs = _t(spark, sf_dir, "documents")
    feeds = docs.select(feed_url.alias("feed_url"), xml.alias("xml"))
    entries = (parse_atom_feeds(feeds)
               .select(F.col("link").alias("url"),
                       F.col("updated_date").alias("lastmod"))
               .withColumn("host", host_of(F.col("url")))
               .withColumn("priority", F.lit(None).cast("double")))
    stored = docs.where(d % 3 != 1).select(
        _links_url_col().alias("url"),
        F.concat(F.lit("2024-"), mm, F.lit("-15")).try_cast("date")
        .alias("last_fetch"))
    out = sitemap_recrawl_candidates(entries, stored)
    return (out
            .withColumn("lastmod", F.date_format("lastmod", "yyyy-MM-dd"))
            .withColumn("last_fetch",
                        F.date_format("last_fetch", "yyyy-MM-dd")))


# ---------------------------------------------------------------------------
# RFC 9309 robots.txt GROUP parsing (operators/robots.robots_group_rules):
# the real-document front of the wildcard-matching tier — UA group
# selection (exact-token beats *, matching groups COMBINE), Allow/
# Disallow extraction, comment stripping — as a pure-Catalyst fold.
# Fixture robots.txt synthesized from documents; oracles restate the
# expected groups/decisions arithmetically from doc_id (an independent
# derivation, charset_sniff-style — DuckDB has no stateful array fold).
# ---------------------------------------------------------------------------

def _robots_group_txt_col():
    d = F.col("doc_id")
    g2 = F.when(d % 3 == 0, F.lit(
        "User-agent: SparkCrawler\nAllow: /p/$\nDisallow: /p/*\n\n"))\
        .otherwise(F.lit(""))
    g3 = F.when(d % 4 == 0, F.lit(
        "User-agent: foo\nUser-agent: sparkcrawler\n"
        "Disallow: /shared\n\n")).otherwise(F.lit(""))
    return F.concat(
        F.lit("# policy\nUser-Agent: *\nDisallow: /all\nAllow:\n\n"),
        g2, g3,
        F.lit("User-agent: other\nDisallow: /x\n"
              "Sitemap: http://x.example.com/sm.xml\n"))


@q("robots_group_select", f"""
  WITH d AS (SELECT doc_id, {_LINKS_URL_SQL} AS url FROM documents),
  r AS (
    SELECT doc_id, url, 0 AS rule_idx, TRUE AS allow,
           '/p/$' AS pattern FROM d WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, url, 1, FALSE, '/p/*' FROM d WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, url,
           CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END, FALSE, '/shared'
    FROM d WHERE doc_id % 4 = 0
    UNION ALL
    SELECT doc_id, url, 0, FALSE, '/all'
    FROM d WHERE doc_id % 3 <> 0 AND doc_id % 4 <> 0)
  SELECT url, rule_idx, allow, pattern FROM r
""")
def robots_group_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 group selection over real robots.txt text: a * group, a
    SparkCrawler group (doc_id%3), a two-UA group whose second token
    matches case-insensitively (doc_id%4 — groups COMBINE when both
    match), a non-matching group, comments, an empty Allow (no rule),
    and a Sitemap line that must not terminate anything. The oracle
    enumerates the expected combined rule lists arithmetically."""
    from .operators.robots import robots_group_rules
    docs = _t(spark, sf_dir, "documents")
    rules = robots_group_rules(_robots_group_txt_col(), "SparkCrawler")
    return (docs
            .select(_links_url_col().alias("url"),
                    F.posexplode(rules).alias("rule_idx", "_r"))
            .select("url", "rule_idx", F.col("_r.allow").alias("allow"),
                    F.col("_r.pattern").alias("pattern")))


@q("robots_rfc9309_decide", f"""
  WITH d AS (
    SELECT doc_id, {_LINKS_URL_SQL} AS url,
           CASE WHEN doc_id % 5 = 0 THEN '/shared/' || CAST(doc_id AS VARCHAR)
                WHEN doc_id % 7 = 0 THEN '/all/' || CAST(doc_id AS VARCHAR)
                ELSE '/p/' || CAST(doc_id % 10 AS VARCHAR) END AS path
    FROM documents),
  v AS (
    SELECT url, path,
           CASE
             WHEN doc_id % 3 = 0 AND starts_with(path, '/p/')
               THEN 4
             WHEN doc_id % 4 = 0 AND starts_with(path, '/shared')
               THEN 7
             WHEN doc_id % 3 <> 0 AND doc_id % 4 <> 0
                  AND starts_with(path, '/all') THEN 4
             ELSE 0 END AS rule_len
    FROM d)
  SELECT url, path, rule_len = 0 AS allowed,
         CAST(rule_len AS INTEGER) AS rule_len
  FROM v
""")
def robots_rfc9309_decide_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full RFC 9309 chain on real text: group parse
    (robots_group_rules) → wildcard decisions (longest-match, allow
    wins ties) over per-doc paths hitting each group's rule space. The
    oracle derives the expected verdicts arithmetically: /p/* blocks
    SparkCrawler-group docs, /shared blocks combined-group docs, /all
    blocks star-group docs, everything else is allowed."""
    from .operators.robots import (
        robots_group_rules,
        wildcard_rule_decisions,
    )
    d = F.col("doc_id")
    path = (F.when(d % 5 == 0,
                   F.concat(F.lit("/shared/"), d.cast("string")))
            .when(d % 7 == 0, F.concat(F.lit("/all/"), d.cast("string")))
            .otherwise(F.concat(F.lit("/p/"), (d % 10).cast("string"))))
    docs = _t(spark, sf_dir, "documents")
    reqs = docs.select(
        _links_url_col().alias("url"), path.alias("path"),
        robots_group_rules(_robots_group_txt_col(), "SparkCrawler")
        .alias("rules"))
    return (wildcard_rule_decisions(reqs)
            .select("url", "path", "allowed", "rule_len"))


# ---------------------------------------------------------------------------
# Kafka frontier bridge (sources/kafka_bridge): the reference's
# CrawlRequest wire format (queue/KafkaUrlQueue.java:47-56,
# model/CrawlRequest.java:6-14) as to_json/from_json transforms, so an
# external Kafka frontier can feed Crawler.inject and the next-frontier
# table can publish back. No broker in this container — the round-trip
# identity and the exact wire bytes are what the oracles pin.
# ---------------------------------------------------------------------------

_WIRE_FRONTIER_SQL = """
  SELECT
    'http://h' || lpad(CAST(o_custkey % 20 AS VARCHAR), 4, '0')
        || '.example.com/p/' || CAST(o_orderkey AS VARCHAR)      AS url,
    'h' || lpad(CAST(o_custkey % 20 AS VARCHAR), 4, '0')
        || '.example.com'                                        AS host,
    CAST(o_orderkey % 8 AS INTEGER)                              AS depth,
    CASE WHEN o_orderkey % 3 <> 0
         THEN 'http://h' || lpad(CAST(o_custkey % 20 AS VARCHAR), 4, '0')
              || '.example.com/p/' || CAST(o_orderkey // 2 AS VARCHAR)
         END                                                     AS parent_url,
    CAST(1700000000000 + o_orderkey % 86400000 AS BIGINT)
                                                     AS discovered_at_ms,
    CAST(1 + o_orderkey % 3 AS INTEGER)                          AS priority,
    CAST(o_orderkey % 5 AS INTEGER)                              AS retry_count,
    CASE WHEN o_orderkey % 7 = 0
         THEN CAST(1700000000000 + (o_orderkey % 1000) * 61003 AS BIGINT)
         END                                         AS scheduled_for_ms,
    CAST(0 AS INTEGER)                                           AS round
  FROM orders
"""


def _wire_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CrawlRequest rows exercising every wire case: null AND non-null
    parentUrl/scheduledFor, ms-grain timestamps (the %g digits)."""
    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    hi = (F.col("o_custkey") % 20).cast("int")
    host = F.concat(F.lit("h"), F.lpad(hi.cast("string"), 4, "0"),
                    F.lit(".example.com"))
    return orders.select(
        F.concat(F.lit("http://"), host, F.lit("/p/"),
                 k.cast("string")).alias("url"),
        host.alias("host"),
        (k % 8).cast("int").alias("depth"),
        F.when(k % 3 != 0,
               F.concat(F.lit("http://"), host, F.lit("/p/"),
                        F.expr("o_orderkey DIV 2").cast("string")))
        .alias("parent_url"),
        (F.lit(1_700_000_000_000) + k % 86_400_000).cast("long")
        .alias("discovered_at_ms"),
        (F.lit(1) + k % 3).cast("int").alias("priority"),
        (k % 5).cast("int").alias("retry_count"),
        F.when(k % 7 == 0,
               F.lit(1_700_000_000_000) + (k % 1000) * 61_003)
        .cast("long").alias("scheduled_for_ms"),
        F.lit(0).cast("int").alias("round"))


@q("kafka_frontier_roundtrip", f"""
  SELECT url, host, depth, parent_url, discovered_at_ms, priority,
         retry_count, scheduled_for_ms, round
  FROM ({_WIRE_FRONTIER_SQL})
""")
def kafka_frontier_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json ∘ to_json = identity over the CrawlRequest wire format,
    including null parentUrl/scheduledFor and the host re-derivation —
    the oracle is the frontier itself, so any field the bridge drops,
    re-formats or mis-parses (ms truncation, timezone drift, null vs
    absent) breaks equality."""
    from .sources.kafka_bridge import frontier_from_json, frontier_to_json

    f = _wire_frontier(spark, sf_dir)
    return frontier_from_json(frontier_to_json(f), round_no=0)


@q("kafka_wire_format", f"""
  WITH f AS ({_WIRE_FRONTIER_SQL})
  SELECT url AS key,
         '{{"url":"' || url || '","depth":' || CAST(depth AS VARCHAR)
         || coalesce(',"parentUrl":"' || parent_url || '"', '')
         || ',"discoveredAt":"'
         || strftime(epoch_ms(discovered_at_ms), '%Y-%m-%dT%H:%M:%S.')
         || lpad(CAST(discovered_at_ms % 1000 AS VARCHAR), 3, '0')
         || 'Z","priority":' || CAST(priority AS VARCHAR)
         || ',"retryCount":' || CAST(retry_count AS VARCHAR)
         || coalesce(',"scheduledFor":"'
                     || strftime(epoch_ms(scheduled_for_ms),
                                 '%Y-%m-%dT%H:%M:%S.')
                     || lpad(CAST(scheduled_for_ms % 1000 AS VARCHAR),
                             3, '0') || 'Z"', '')
         || '}}' AS value
  FROM f
""")
def kafka_wire_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact producer bytes: (key = url, value = CrawlRequest JSON in
    record field order, Instants as ms-precision ISO-8601 'Z', null
    optionals omitted). The oracle rebuilds every byte with DuckDB
    string/strftime ops — a drifted field name, reordered key, or a
    second-precision timestamp all hash-mismatch."""
    from .sources.kafka_bridge import frontier_to_json

    return frontier_to_json(_wire_frontier(spark, sf_dir))


@q("kafka_instant_parse", """
  WITH f AS (
    SELECT o_orderkey AS k,
           CAST(1700000000000 + o_orderkey % 86400000 AS BIGINT) AS base
    FROM orders
  )
  SELECT
    'http://h' || lpad(CAST(k % 20 AS VARCHAR), 4, '0')
        || '.example.com/p/' || CAST(k AS VARCHAR)          AS url,
    CAST(k % 4 AS INTEGER)                                  AS style,
    CASE WHEN k % 4 = 0 THEN (base // 1000) * 1000
         ELSE base END                                      AS discovered_at_ms
  FROM f
""")
def kafka_instant_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-precision Jackson ISO_INSTANT parsing: the reference's
    ObjectMapper (JavaTimeModule, WRITE_DATES_AS_TIMESTAMPS off) writes
    Instants with NO fraction for whole seconds and 6-9 digits for
    Instant.now() — not the fixed 3 the bridge itself emits. This builds
    CrawlRequest JSON with all four fraction styles (none / 3 / 6 / 9
    digits) and pins that frontier_from_json recovers the ms-truncated
    instant for every style (sub-ms digits truncate; whole-second style
    floors to the second). Reference: queue/KafkaUrlQueue.java:47-56."""
    from .sources.kafka_bridge import frontier_from_json

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = (F.lit(1_700_000_000_000) + k % 86_400_000).cast("long")
    style = (k % 4).cast("int")
    sec_str = F.date_format(F.timestamp_millis(base),
                            "yyyy-MM-dd'T'HH:mm:ss")
    mspart = F.lpad((base % 1000).cast("string"), 3, "0")
    frac = (F.when(style == 0, F.lit(""))
            .when(style == 1, F.concat(F.lit("."), mspart))
            .when(style == 2, F.concat(F.lit("."), mspart, F.lit("456")))
            .otherwise(F.concat(F.lit("."), mspart, F.lit("456789"))))
    url = F.concat(F.lit("http://h"),
                   F.lpad((k % 20).cast("string"), 4, "0"),
                   F.lit(".example.com/p/"), k.cast("string"))
    value = F.concat(
        F.lit('{"url":"'), url,
        F.lit('","depth":1,"discoveredAt":"'), sec_str, frac,
        F.lit('Z","priority":1,"retryCount":0}'))
    parsed = frontier_from_json(orders.select(value.alias("value")),
                                round_no=0)
    # style re-derives from the page id (from_json projects the frontier
    # schema only, so it can't ride through the parse)
    page_id = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    return parsed.select(
        "url", (page_id % 4).cast("int").alias("style"),
        "discovered_at_ms")
