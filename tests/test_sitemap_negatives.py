"""Unit invariants for operators.sitemap.parse_sitemaps (values
oracle-checked via sitemap_extract; these pin edge cases the synthetic
query corpus can't reach)."""

from distributed_web_crawler_spark.operators.sitemap import parse_sitemaps


def _rows(spark, xml, host="a.com"):
    df = spark.createDataFrame([(host, xml)], "host string, xml string")
    return {(r["url"]): (r["lastmod"], r["priority"])
            for r in parse_sitemaps(df).collect()}


def test_https_loc_kept_and_fields_optional(spark):
    got = _rows(spark,
                "<urlset><url><loc>https://a.com/x</loc></url>"
                "<url><loc>http://a.com/y</loc>"
                "<lastmod>2024-02-29</lastmod>"
                "<priority>0.5</priority></url></urlset>")
    assert got["https://a.com/x"] == (None, None)
    lm, pr = got["http://a.com/y"]
    assert str(lm) == "2024-02-29" and pr == 0.5


def test_cross_host_and_locless_dropped(spark):
    got = _rows(spark,
                "<urlset><url><loc>http://evil.com/x</loc></url>"
                "<url><lastmod>2023-01-01</lastmod></url>"
                "<url><loc>http://a.com.evil.com/x</loc></url>"
                "<url><loc>http://a.com/ok</loc></url></urlset>")
    assert set(got) == {"http://a.com/ok"}


def test_unparseable_lastmod_is_null_not_error(spark):
    got = _rows(spark,
                "<urlset><url><loc>http://a.com/x</loc>"
                "<lastmod>soon</lastmod></url></urlset>")
    assert got["http://a.com/x"][0] is None


def test_loc_xml_entities_decode_one_level(spark):
    """The spec REQUIRES loc URLs to be entity-escaped: '&amp;' etc must
    decode before the URL joins the frontier; a double-escaped entity
    decodes exactly one level (&amp;lt; -> &lt;, never '<'); and the
    same-host rule runs on the DECODED url."""
    got = _rows(spark,
                "<urlset><url>"
                "<loc>http://a.com/q?x=1&amp;y=2&apos;&quot;</loc></url>"
                "<url><loc>http://a.com/d?e=&amp;lt;tag&amp;gt;</loc>"
                "</url></urlset>")
    assert set(got) == {"http://a.com/q?x=1&y=2'\"",
                       "http://a.com/d?e=&lt;tag&gt;"}


def test_index_loc_entities_decode_and_same_host_on_decoded(spark):
    from distributed_web_crawler_spark.operators.sitemap import (
        parse_sitemap_index,
    )
    df = spark.createDataFrame(
        [("a.com",
          "<sitemapindex>"
          "<sitemap><loc>http://a.com/sm.xml?a=1&amp;b=2</loc></sitemap>"
          "<sitemap><loc>http://b.com/x.xml?a=1&amp;b=2</loc></sitemap>"
          "</sitemapindex>")],
        "host string, xml string")
    assert [r["sitemap_url"] for r in parse_sitemap_index(df).collect()] \
        == ["http://a.com/sm.xml?a=1&b=2"]


def test_duplicate_loc_first_entry_wins_even_across_files(spark):
    # two sitemap FILES for one host -> colliding entry_idx; the struct
    # min stays deterministic (lowest idx, then lexicographic fields)
    df = spark.createDataFrame(
        [("a.com", "<url><loc>http://a.com/x</loc>"
                   "<lastmod>2024-05-05</lastmod></url>"),
         ("a.com", "<url><loc>http://a.com/x</loc>"
                   "<lastmod>2024-01-01</lastmod></url>")],
        "host string, xml string")
    rows = parse_sitemaps(df).collect()
    assert len(rows) == 1
    assert str(rows[0]["lastmod"]) == "2024-01-01"  # idx ties -> min struct


