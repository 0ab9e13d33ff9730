"""Sitemap (sitemaps.org) parsing: urlset, sitemapindex, text, gzip —
and composition into the crawl-frontier ops."""

import gzip

import pytest

from littletable_spark import Table
from littletable_spark.sources.sitemap_io import parse_sitemap, sitemap_entries

_URLSET = b"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>https://ex.com/a</loc>
    <lastmod>2024-01-02</lastmod>
    <changefreq>daily</changefreq>
    <priority>0.8</priority>
  </url>
  <url><loc>https://ex.com/b?utm_source=x&amp;q=1</loc></url>
  <url><lastmod>2024-01-01</lastmod></url><!-- no loc: dropped -->
</urlset>"""

_INDEX = b"""<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>https://ex.com/sitemap1.xml.gz</loc>
    <lastmod>2024-02-03</lastmod></sitemap>
  <sitemap><loc>https://ex.com/sitemap2.xml.gz</loc></sitemap>
</sitemapindex>"""


def _corrupt_gzips() -> tuple[bytes, bytes]:
    """A half-truncated ``.xml.gz`` (``EOFError`` out of ``gzip``) and
    one with a flipped deflate byte (``zlib.error``)."""
    good = gzip.compress(_INDEX)
    flipped = bytearray(good)
    flipped[12] ^= 0xFF
    return good[: len(good) // 2], bytes(flipped)


def test_parse_urlset():
    got = parse_sitemap(_URLSET)
    assert len(got) == 2
    assert got[0] == {
        "loc": "https://ex.com/a", "lastmod": "2024-01-02",
        "changefreq": "daily", "priority": 0.8, "kind": "url",
    }
    assert got[1]["loc"] == "https://ex.com/b?utm_source=x&q=1"
    assert got[1]["priority"] is None


def test_parse_sitemapindex_and_gzip():
    got = parse_sitemap(gzip.compress(_INDEX))
    assert [e["kind"] for e in got] == ["sitemap", "sitemap"]
    assert got[0]["loc"] == "https://ex.com/sitemap1.xml.gz"
    assert got[0]["lastmod"] == "2024-02-03"


def test_parse_text_sitemap():
    txt = b"https://ex.com/1\n# junk\nhttps://ex.com/2\nrelative/skip\n"
    got = parse_sitemap(txt)
    assert [e["loc"] for e in got] == ["https://ex.com/1", "https://ex.com/2"]
    assert all(e["kind"] == "url" for e in got)


def test_parse_rejections():
    with pytest.raises(ValueError, match="malformed"):
        parse_sitemap(b"<urlset><url></urlset>")
    with pytest.raises(ValueError, match="not a sitemap"):
        parse_sitemap(b"<html><body>nope</body></html>")
    for blob in (b"\x1f\x8b" + b"\x00" * 10, *_corrupt_gzips()):
        with pytest.raises(ValueError, match="gzip"):
            parse_sitemap(blob)
    assert parse_sitemap(b"") == []


def test_sitemap_entries_to_frontier(spark):
    """Spark path + composition: entries -> canonicalize -> robots."""
    from littletable_spark.operators.robots import filter_by_robots, parse_robots
    from littletable_spark.operators.urlops import canonicalize_urls

    t = Table("maps", spark=spark)
    t.insert_many(
        [
            {"id": 0, "blob": _URLSET},
            {"id": 1, "blob": gzip.compress(_INDEX)},
            {"id": 2, "blob": b"totally not xml <"},
            {"id": 3, "blob": _corrupt_gzips()[0]},
        ]
    )
    entries = sitemap_entries(t, "blob", "id", on_error="null")
    rows = sorted((r.id, r.kind, r.loc) for r in entries)
    assert len(rows) == 4 and not any(i in (2, 3) for i, _, _ in rows)
    with pytest.raises(Exception):
        sitemap_entries(t, "blob", "id").df.collect()

    urls = Table.from_df(
        entries.df.where("kind = 'url'").selectExpr("loc AS url"), name="u"
    )
    canon = canonicalize_urls(urls, "url")
    got = sorted(r.canon_url for r in canon)
    assert got == ["https://ex.com/a", "https://ex.com/b?q=1"]  # utm dropped
    rt = Table("r", spark=spark)
    rt.insert_many([{"domain": "ex.com", "txt": "User-agent: *\nDisallow: /a\n"}])
    kept = filter_by_robots(canon, parse_robots(rt, "txt", "domain"), "url")
    assert [r.canon_url for r in kept] == ["https://ex.com/b?q=1"]
