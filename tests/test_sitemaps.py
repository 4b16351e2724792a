"""Sitemap parser (operators/sitemaps.py): sitemaps.org truth,
namespaces/CDATA/entities, gzip bodies, hostile input, the Spark
entry pass, and the coverage-gap anti-join."""

import gzip
import random

import pytest

from irivermetrics_offpaper.operators import sitemaps as sm

URLSET = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>https://example.com/</loc>
    <lastmod>2024-01-05</lastmod>
    <changefreq>daily</changefreq>
    <priority>0.8</priority>
  </url>
  <url><loc>https://example.com/a?x=1&amp;y=2</loc></url>
  <url><loc><![CDATA[https://example.com/cdata?q=<odd>]]></loc></url>
  <url><lastmod>2024-01-01</lastmod></url><!-- no loc: dropped -->
</urlset>"""

INDEX = """<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>https://example.com/sitemap1.xml.gz</loc>
           <lastmod>2024-02-02</lastmod></sitemap>
  <sitemap><loc>https://example.com/sitemap2.xml</loc></sitemap>
</sitemapindex>"""


def test_urlset_truth():
    d = sm.parse_sitemap(URLSET)
    assert d["kind"] == "urlset" and d["error"] is None
    locs = [e["loc"] for e in d["entries"]]
    assert locs == ["https://example.com/",
                    "https://example.com/a?x=1&y=2",
                    "https://example.com/cdata?q=<odd>"]
    assert d["entries"][0]["lastmod"] == "2024-01-05"
    assert d["entries"][0]["changefreq"] == "daily"
    assert d["entries"][0]["priority"] == "0.8"
    assert d["entries"][1]["priority"] is None


def test_sitemapindex_and_namespaced_tags():
    d = sm.parse_sitemap(INDEX)
    assert d["kind"] == "sitemapindex"
    assert [e["loc"] for e in d["entries"]] == [
        "https://example.com/sitemap1.xml.gz",
        "https://example.com/sitemap2.xml"]
    # namespace-prefixed tags parse too
    ns = ('<ns:urlset xmlns:ns="x"><ns:url><ns:loc>https://h/p</ns:loc>'
          "</ns:url></ns:urlset>")
    d2 = sm.parse_sitemap(ns)
    assert d2["kind"] == "urlset"
    assert [e["loc"] for e in d2["entries"]] == ["https://h/p"]


def test_gzip_body_and_truncation():
    blob = gzip.compress(URLSET.encode())
    d = sm.parse_sitemap(blob)
    assert d["kind"] == "urlset" and len(d["entries"]) == 3
    bad = sm.parse_sitemap(blob[:-6])
    assert bad["error"] is not None and "gzip" in bad["error"]


def test_hostile_input_never_raises():
    assert sm.parse_sitemap(None)["error"] == "NULL body"
    assert sm.parse_sitemap("<html>not a sitemap</html>")["error"] is not None
    assert sm.parse_sitemap(b"\x00\x01garbage")["error"] is not None
    rng = random.Random(7)
    chars = "<>/urlsetlocsitemap&#;ax \n\t"
    for _ in range(200):
        body = "".join(rng.choice(chars) for _ in range(rng.randrange(0, 300)))
        assert isinstance(sm.parse_sitemap(body), dict)


def test_numeric_entities_decode():
    body = ("<urlset><url><loc>https://h/p&#63;a=1&#x26;b=2</loc></url>"
            "</urlset>")
    assert sm.parse_sitemap(body)["entries"][0]["loc"] == "https://h/p?a=1&b=2"


def test_parse_sitemaps_df_and_dead_letter(spark):
    rows = [("a.example", URLSET.encode()),
            ("b.example", gzip.compress(INDEX.encode())),
            ("c.example", b"junk body")]
    df = spark.createDataFrame(rows, "host string, sitemap_xml binary")
    out = sm.parse_sitemaps_df(df).collect()
    by = {}
    for r in out:
        by.setdefault(r.host, []).append(r)
    assert len([r for r in by["a.example"] if r.sitemap_error is None]) == 3
    assert by["a.example"][0].priority == pytest.approx(0.8)
    assert all(r.kind == "sitemapindex" for r in by["b.example"])
    assert len(by["c.example"]) == 1
    assert by["c.example"][0].sitemap_error is not None


def test_coverage_gaps(spark):
    body = ("<urlset>"
            "<url><loc>HTTP://Example.com/a</loc></url>"
            "<url><loc>https://example.com/missing</loc></url>"
            "</urlset>")
    entries = sm.parse_sitemaps_df(spark.createDataFrame(
        [("example.com", body.encode())], "host string, sitemap_xml binary"))
    from irivermetrics_offpaper.operators import urlops

    urls = urlops.with_url_parts(spark.createDataFrame(
        [(1, "http://example.com/a"), (2, "http://example.com/other")],
        "doc_id bigint, url string"))
    gaps = sm.coverage_gaps(urls, entries).collect()
    # /a is covered (case-normalized); /missing is the gap
    assert [r.loc for r in gaps] == ["https://example.com/missing"]


def test_review_fixes_surrogate_multimember_quadratic(spark):
    """r7 review finds: (1) a lone-surrogate numeric entity must not
    crash Arrow serialization; (2) concatenated gzip members decode
    FULLY; (3) unclosed-tag spam must parse in linear time."""
    import time

    # (1) &#55296; = lone surrogate: parse keeps it un-decoded and the
    # Spark pass dead-letters nothing / crashes nothing
    body = "<urlset><url><loc>https://h/&#55296;x</loc></url></urlset>"
    d = sm.parse_sitemap(body)
    assert d["entries"][0]["loc"] == "https://h/&#55296;x"
    df = spark.createDataFrame([("h", body.encode())],
                               "host string, sitemap_xml binary")
    rows = sm.parse_sitemaps_df(df).collect()
    assert len(rows) == 1 and rows[0].loc.endswith("x")

    # (2) two gzip members back-to-back: entries from BOTH
    a = gzip.compress(b"<urlset><url><loc>https://h/1</loc></url>")
    b = gzip.compress(b"<url><loc>https://h/2</loc></url></urlset>")
    d2 = sm.parse_sitemap(a + b)
    assert [e["loc"] for e in d2["entries"]] == ["https://h/1", "https://h/2"]

    # (3) 100k unclosed '<url ' openers: linear, not quadratic
    hostile = "<urlset>" + "<url >" * 100_000
    t0 = time.perf_counter()
    d3 = sm.parse_sitemap(hostile)
    assert time.perf_counter() - t0 < 5.0
    assert d3["entries"] == []


def test_coverage_gaps_drops_unnormalizable_locs(spark):
    body = ("<urlset><url><loc>https://пример.рф/x</loc></url>"
            "<url><loc>https://ok.example/missing</loc></url></urlset>")
    entries = sm.parse_sitemaps_df(spark.createDataFrame(
        [("h", body.encode())], "host string, sitemap_xml binary"))
    from irivermetrics_offpaper.operators import urlops

    urls = urlops.with_url_parts(spark.createDataFrame(
        [(1, "https://ok.example/present")], "doc_id bigint, url string"))
    gaps = sm.coverage_gaps(urls, entries).collect()
    # the raw-unicode host fails normalization -> NOT reported as a gap
    assert [r.loc for r in gaps] == ["https://ok.example/missing"]
