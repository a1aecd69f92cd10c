"""Unit tests for the Atom feed parser (operators/html_links.py) and the
sitemap parser on tiny hand-built documents where every edge case is
enumerable by eye."""

import pyspark.sql.functions as F

from distributed_web_crawler_spark.operators.html_links import (
    parse_atom_feeds,
)


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, html string")


def test_atom_parse_required_id_and_dup_collapse(spark):
    xml = ("<feed>"
           '<entry><id>e1</id><link href="l1"/>'
           "<updated>2024-03-05T01:02:03Z</updated>"
           "<title>T1</title></entry>"
           '<entry><id>e1</id><link href="l1-dup"/></entry>'
           '<entry><id>e2</id></entry>'
           '<entry><link href="noid"/></entry>'
           "</feed>")
    feeds = _pages(spark, [("f1", xml)]).select(
        F.col("url").alias("feed_url"), F.col("html").alias("xml"))
    out = {r["entry_id"]: r for r in parse_atom_feeds(feeds).collect()}
    assert set(out) == {"e1", "e2"}                # id-less entry dropped
    assert out["e1"]["link"] == "l1"               # first id occurrence wins
    assert str(out["e1"]["updated_date"]) == "2024-03-05"
    assert out["e2"]["link"] == "" and out["e2"]["updated_date"] is None
    assert out["e2"]["title"] is None


def test_atom_parse_pretty_printed_real_world_form(spark):
    """Real feeds are pretty-printed (entries span newlines) and emit
    href AFTER rel/type — both silently parsed zero entries before the
    (?s) + attr-order-insensitive fix (HTTP feed discovery degraded to
    a no-op)."""
    xml = (
        "<feed>\n"
        "  <entry>\n"
        "    <id>e1</id>\n"
        '    <link rel="alternate" type="text/html" href="l1"/>\n'
        "    <updated>2024-03-05T01:02:03Z</updated>\n"
        "    <title>T1</title>\n"
        "  </entry>\n"
        "  <entry>\n"
        "    <id>e2</id>\n"
        '    <link href="l2"/>\n'
        "  </entry>\n"
        "</feed>\n")
    feeds = spark.createDataFrame([("f1", xml)],
                                  "feed_url string, xml string")
    out = {r["entry_id"]: r for r in parse_atom_feeds(feeds).collect()}
    assert set(out) == {"e1", "e2"}
    assert out["e1"]["link"] == "l1"
    assert str(out["e1"]["updated_date"]) == "2024-03-05"
    assert out["e1"]["title"] == "T1"
    assert out["e2"]["link"] == "l2"


def test_sitemap_parse_pretty_printed(spark):
    from distributed_web_crawler_spark.operators.sitemap import (
        parse_sitemaps,
    )
    xml = ("<urlset>\n"
           "  <url>\n"
           "    <loc>http://h1.example.com/a</loc>\n"
           "    <lastmod>2024-01-02</lastmod>\n"
           "  </url>\n"
           "</urlset>\n")
    sm = spark.createDataFrame(
        [("h1.example.com", xml)], "host string, xml string")
    rows = parse_sitemaps(sm).collect()
    assert [r["url"] for r in rows] == ["http://h1.example.com/a"]
