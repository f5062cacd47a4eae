"""Sitemap parsing — the DISCOVERY half of crawl governance
(sitemaps.org protocol, referenced by RFC 9309's ``Sitemap:``
directive): robots.txt tells a crawler what it may fetch
(:mod:`operators.robots`), the sitemap tells it what EXISTS. This
completes the crawl chapter's front end: robots → sitemap index →
per-page URL rows → frontier.

Two halves, same shapes as the robots module:

- :func:`parse_sitemap_xml` / :func:`parse_sitemaps` — a real parser
  over stdlib ``xml.etree`` (no lxml): ``<urlset>`` documents yield
  one row per ``<url>`` (loc, lastmod, changefreq, priority);
  ``<sitemapindex>`` documents yield one row per child ``<sitemap>``
  with ``is_index = true`` so the caller knows to fetch another
  level. Namespace-tolerant (the 0.9 namespace, a versioned one, or
  none at all — real sitemaps ship all three), and malformed XML
  yields zero rows rather than raising — at crawl scale a poison
  document must not kill the task.
- :func:`sitemap_urls_from_robots` — the ``Sitemap:`` directive
  lives OUTSIDE user-agent groups (RFC 9309 §2.2.4: any line,
  case-insensitive, absolute URL); the group parser in
  :mod:`operators.robots` rightly ignores it, this extracts it.

Scale shape: one fetched sitemap blob fans out to ≤50,000 URL rows
(the protocol's own cap) as a pure map — the same
embarrassingly-parallel kernel as WARC record fan-out; no shuffle.

The reference has no crawl handling; §2.9 extension surface (X193).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from workshoop2_etl_spark.operators.rows import flat_map_rows


def _local(tag: str) -> str:
    """Element tag without its XML namespace."""
    return tag.rsplit("}", 1)[-1].lower()


def parse_sitemap_xml(
    xml_text: str,
) -> list[tuple[str, str | None, str | None, float | None, bool]]:
    """One sitemap document → [(loc, lastmod, changefreq, priority,
    is_index)]. ``<sitemapindex>`` children come back with
    ``is_index=True`` (their loc is ANOTHER sitemap to fetch);
    ``<urlset>`` children with ``False``. Unparseable XML, missing
    ``<loc>``, or a non-numeric priority degrade to zero rows / NULL
    fields — never an exception."""
    out: list[tuple] = []
    if not xml_text:
        return out
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError:
        return out
    kind = _local(root.tag)
    if kind not in ("urlset", "sitemapindex"):
        return out
    is_index = kind == "sitemapindex"
    for child in root:
        if _local(child.tag) not in ("url", "sitemap"):
            continue
        loc = lastmod = changefreq = None
        priority = None
        for field in child:
            name = _local(field.tag)
            val = (field.text or "").strip() or None
            if name == "loc":
                loc = val
            elif name == "lastmod":
                lastmod = val
            elif name == "changefreq":
                changefreq = val
            elif name == "priority" and val is not None:
                try:
                    priority = float(val)
                except ValueError:
                    priority = None
        if loc is not None:
            out.append((loc, lastmod, changefreq, priority, is_index))
    return out


def parse_sitemaps(
    df: DataFrame,
    xml_col: str = "sitemap_xml",
    *,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """One input row (a fetched sitemap document) → one output row
    per listed URL: ``key_cols…, loc, lastmod, changefreq, priority,
    is_index``. Pure Arrow-batched map — the fan-out happens inside
    the task, no shuffle, no driver involvement (the WARC record
    kernel's shape, ``operators/warc.py``)."""
    return flat_map_rows(
        df,
        [xml_col],
        parse_sitemap_xml,
        [
            T.StructField("loc", T.StringType()),
            T.StructField("lastmod", T.StringType()),
            T.StructField("changefreq", T.StringType()),
            T.StructField("priority", T.DoubleType()),
            T.StructField("is_index", T.BooleanType()),
        ],
        keep=key_cols,
    )


def sitemap_urls_from_robots(text: str) -> list[str]:
    """Extract ``Sitemap:`` directives from a robots.txt body — RFC
    9309 §2.2.4: they live OUTSIDE user-agent groups (any position),
    the key is case-insensitive, the value is an absolute URL kept
    verbatim. Comments and malformed lines are ignored."""
    out: list[str] = []
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        key, sep, val = line.partition(":")
        if sep and key.strip().lower() == "sitemap":
            val = val.strip()
            if val:
                out.append(val)
    return out


def synthesize_sitemap(
    locs: list[tuple[str, str | None, float | None]],
    *,
    index: bool = False,
) -> str:
    """A valid sitemaps.org document for fixtures: ``locs`` is
    [(loc, lastmod, priority)]; ``index=True`` emits a
    ``<sitemapindex>`` of ``<sitemap>`` children instead of a
    ``<urlset>`` of ``<url>``."""
    from xml.sax.saxutils import escape

    root = "sitemapindex" if index else "urlset"
    child = "sitemap" if index else "url"
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        f'<{root} xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
    ]
    for loc, lastmod, priority in locs:
        parts.append(f"<{child}>")
        # escape: query strings carry '&' routinely — unescaped it is
        # invalid XML the tolerant parser would silently zero-row
        parts.append(f"<loc>{escape(loc)}</loc>")
        if lastmod is not None:
            parts.append(f"<lastmod>{escape(lastmod)}</lastmod>")
        if priority is not None:
            parts.append(f"<priority>{priority:.1f}</priority>")
        parts.append(f"</{child}>")
    parts.append(f"</{root}>")
    return "".join(parts)
