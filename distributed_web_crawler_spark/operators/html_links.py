"""Atom feed parsing for feed-driven discovery (CrawlConfig
feed_discovery): one row per ``<entry>`` of a fetched feed document,
feeding `operators.feeds.feed_frontier_candidates` and the recrawl
verdicts.

Scale shape: pure Catalyst — regexp extraction and a posexplode that
ride the feed scan inside whole-stage codegen (no UDF, no Python). The
only exchange is the first-wins collapse keyed on (feed_url, entry_id);
nothing shuffles page payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parse_atom_feeds(feeds: DataFrame, feed_col: str = "feed_url",
                     xml_col: str = "xml") -> DataFrame:
    """Atom feed documents → one row per ``<entry>``: (feed_url,
    entry_id, link, updated_date, title). Atom's ``<updated>`` is
    RFC 3339 (ISO-8601), so the recrawl-relevant date is the verbatim
    first 10 chars cast to DATE — no locale-dependent parse (RSS 2.0's
    RFC-822 pubDate is deliberately NOT parsed here; an RSS document
    routes through its own parser if one is ever needed). Entries
    without an ``<id>`` are dropped (required by RFC 4287); duplicate
    ids collapse first-in-document-order, the sitemap/alternates rule."""
    from .sitemap import _xml_unescape

    entries = F.regexp_extract_all(F.col(xml_col),
                                   F.lit("(?s)<entry>(.*?)</entry>"), F.lit(1))
    block = F.col("_block")

    def field(tag):
        return F.regexp_extract(block, f"(?s)<{tag}>(.*?)</{tag}>", 1)

    # id and link are URLs and MUST decode XML entities (Atom is XML;
    # same rule as sitemap <loc>) — identity for entity-free documents
    # attribute-order-insensitive: real feeds emit <link rel="alternate"
    # type="text/html" href=...> — match href anywhere inside the first
    # <link ...> tag, not only as its first attribute
    link = _xml_unescape(F.regexp_extract(
        block, '(?s)<link\\b[^>]*?href="([^"]*)"', 1))
    return (feeds
            .select(F.col(feed_col).alias("feed_url"),
                    F.posexplode(entries).alias("entry_idx", "_block"))
            .select("feed_url", "entry_idx",
                    _xml_unescape(field("id")).alias("entry_id"),
                    link.alias("link"),
                    F.substring(field("updated"), 1, 10).try_cast("date")
                    .alias("updated_date"),
                    F.nullif(field("title"), F.lit("")).alias("title"))
            .where(F.length("entry_id") > 0)
            .groupBy("feed_url", "entry_id")
            .agg(F.min(F.struct("entry_idx", "link", "updated_date",
                                "title")).alias("_w"))
            .select("feed_url", "entry_id", F.col("_w.link").alias("link"),
                    F.col("_w.updated_date").alias("updated_date"),
                    F.col("_w.title").alias("title")))


