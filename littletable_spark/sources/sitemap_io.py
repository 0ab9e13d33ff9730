"""Sitemap parsing (sitemaps.org protocol, public) — crawl discovery.

The discovery half of crawl politeness: robots.txt names sitemaps,
sitemaps enumerate a site's URLs with freshness hints. This module
turns fetched sitemap blobs into rows the frontier ops consume
(``canonicalize_urls`` → ``filter_by_robots`` → per-domain quotas):

- ``<urlset>`` XML: one row per ``<url>`` with ``loc``, ``lastmod``,
  ``changefreq``, ``priority`` (kind = ``url``)
- ``<sitemapindex>`` XML: one row per child ``<sitemap>`` ``loc``
  (kind = ``sitemap`` — feed these back into the fetcher)
- plain-text sitemaps: one URL per line (kind = ``url``)
- gzip blobs (``sitemap.xml.gz``) inflate transparently

Parsing is stdlib ``xml.etree`` inside an Arrow pass, namespace- and
junk-tolerant: undecodable blobs raise ValueError so the usual
``on_error`` policy applies at the call site. One sitemap holds at
most 50k URLs by spec, so per-blob output is bounded.

No reference analog; net-new crawl capability like robots/urlops.
"""

from __future__ import annotations

import gzip
import re
import zlib
from typing import Iterator
from xml.etree import ElementTree

import pandas as pd

from ..table import Table

__all__ = ["sitemap_entries", "parse_sitemap"]

_TAG_RE = re.compile(r"^(?:\{[^}]*\})?(\w+)$")


def _local(tag: str) -> str:
    m = _TAG_RE.match(tag)
    return m.group(1).lower() if m else tag.lower()


def parse_sitemap(blob: bytes) -> list[dict]:
    """Entries of ONE sitemap blob: dicts of (loc, lastmod, changefreq,
    priority, kind). Raises ValueError on undecodable data."""
    if blob[:2] == b"\x1f\x8b":
        try:
            blob = gzip.decompress(blob)
        except (OSError, EOFError, zlib.error) as exc:  # bad, truncated, flipped
            raise ValueError(f"corrupt gzip sitemap: {exc}") from None
    text = blob.decode("utf-8", errors="replace").strip()
    if not text:
        return []
    if not text.lstrip().startswith("<"):
        # plain-text sitemap: one URL per line (spec: nothing else)
        entries = [
            {
                "loc": line.strip(),
                "lastmod": None,
                "changefreq": None,
                "priority": None,
                "kind": "url",
            }
            for line in text.splitlines()
            if line.strip().startswith(("http://", "https://"))
        ]
        if not entries:
            # non-XML content with zero URLs is junk, not a sitemap —
            # surface it so on_error applies instead of silent empty
            raise ValueError("not a sitemap document: no URLs in text body")
        return entries
    try:
        root = ElementTree.fromstring(text)
    except ElementTree.ParseError as exc:
        raise ValueError(f"malformed sitemap XML: {exc}") from None
    kind_of_root = _local(root.tag)
    if kind_of_root not in ("urlset", "sitemapindex"):
        raise ValueError(f"not a sitemap document: <{kind_of_root}>")
    child_kind = "url" if kind_of_root == "urlset" else "sitemap"
    out = []
    for node in root:
        if _local(node.tag) not in ("url", "sitemap"):
            continue
        fields = {"loc": None, "lastmod": None, "changefreq": None,
                  "priority": None}
        for sub in node:
            name = _local(sub.tag)
            if name in fields and sub.text:
                fields[name] = sub.text.strip()
        if fields["loc"]:
            pr = fields["priority"]
            try:
                pr = float(pr) if pr is not None else None
            except ValueError:
                pr = None
            out.append(
                {
                    "loc": fields["loc"],
                    "lastmod": fields["lastmod"],
                    "changefreq": fields["changefreq"],
                    "priority": pr,
                    "kind": child_kind,
                }
            )
    return out


def sitemap_entries(
    table: Table,
    blob_col: str,
    id_col: str,
    on_error: str = "raise",
) -> Table:
    """Explode sitemap blobs into entry rows ``(id, loc, lastmod,
    changefreq, priority, kind)`` — kind ``sitemap`` rows are child
    sitemaps to fetch, ``url`` rows feed the canonical frontier.
    ``on_error="null"`` skips undecodable blobs (count ids downstream
    for the audit trail) instead of failing the job."""
    if on_error not in ("raise", "null"):
        raise ValueError(
            f"sitemap_entries: on_error must be raise|null, got {on_error!r}"
        )
    id_type = dict(table._require_df().dtypes)[id_col]
    schema = (
        f"{id_col} {id_type}, loc string, lastmod string, "
        "changefreq string, priority double, kind string"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for rid, blob in zip(pdf[id_col], pdf[blob_col]):
                try:
                    entries = parse_sitemap(bytes(blob or b""))
                except ValueError:
                    if on_error == "raise":
                        raise
                    continue
                for e in entries:
                    rows.append(
                        (rid, e["loc"], e["lastmod"], e["changefreq"],
                         e["priority"], e["kind"])
                    )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "loc", "lastmod", "changefreq",
                         "priority", "kind"],
            )

    out = (
        table._require_df().select(id_col, blob_col).mapInPandas(run, schema)
    )
    return Table.from_df(out, name=f"{table.table_name}_sitemap_entries")
