"""Sitemap (sitemaps.org protocol) parsing — crawl URL discovery.

The third member of the crawl-ingestion suite (WARC = the archive
format, robots.txt = the compliance gate, sitemaps = URL DISCOVERY):
a crawl seeds its frontier from each host's sitemap, which is either a
``<urlset>`` of page entries or a ``<sitemapindex>`` pointing at child
sitemaps (the sharding mechanism the protocol mandates above 50,000
URLs). Both document kinds parse here via the stdlib XML parser with
the protocol's own limits enforced.

Error contract (identical to sources/warc.py): malformed XML, a wrong
root element, a missing ``<loc>``, or an entry count above the
protocol's 50,000 cap raise ValueError, nothing else — so the per-row
quarantine pattern holds for sitemap ingestion too.

Scale shape: one sitemap is a ≤50 MB XML document; a host's sitemaps
are independent rows, so discovery is a narrow mapInArrow over the
(host, sitemap_bytes) table — record-granularity parallelism, no
shuffle, exactly the WARC argument.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

_NS = "http://www.sitemaps.org/schemas/sitemap/0.9"
#: the protocol's own per-file cap — also our bomb guard
_MAX_ENTRIES = 50_000


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def parse_sitemap(data: bytes) -> dict:
    """Sitemap XML bytes → {kind: 'urlset'|'index', entries: [...]}.

    ``urlset`` entries are dicts with loc (required), lastmod,
    changefreq, priority (optional, None when absent); ``index``
    entries have loc and lastmod. Namespaced and un-namespaced
    documents both parse (real-world sitemaps are sloppy); anything
    malformed raises ValueError."""
    try:
        root = ET.fromstring(data)
    except ET.ParseError as exc:
        raise ValueError(f"sitemap XML parse failed: {exc}") from exc
    kind = _local(root.tag)
    if kind == "urlset":
        child_tag, keys = "url", ("loc", "lastmod", "changefreq", "priority")
    elif kind == "sitemapindex":
        child_tag, keys = "sitemap", ("loc", "lastmod")
    else:
        raise ValueError(f"not a sitemap document (root <{kind}>)")
    entries = []
    for child in root:
        if _local(child.tag) != child_tag:
            raise ValueError(
                f"unexpected <{_local(child.tag)}> under <{kind}>"
            )
        if len(entries) >= _MAX_ENTRIES:
            raise ValueError(
                f"sitemap exceeds the protocol's {_MAX_ENTRIES}-entry cap"
            )
        fields = {k: None for k in keys}
        for f in child:
            name = _local(f.tag)
            if name in fields:
                fields[name] = (f.text or "").strip()
        if not fields["loc"]:
            raise ValueError(f"<{child_tag}> entry missing <loc>")
        entries.append(fields)
    return {"kind": "index" if kind == "sitemapindex" else "urlset",
            "entries": entries}


def build_sitemap(urls: list[dict]) -> bytes:
    """Hermetic ``<urlset>`` builder: each dict needs loc and may carry
    lastmod/changefreq/priority."""
    return _build("urlset", "url", urls,
                  ("loc", "lastmod", "changefreq", "priority"))


def build_sitemap_index(sitemaps: list[dict]) -> bytes:
    """Hermetic ``<sitemapindex>`` builder: dicts with loc [, lastmod]."""
    return _build("sitemapindex", "sitemap", sitemaps, ("loc", "lastmod"))


def _build(root_tag: str, child_tag: str, rows: list[dict],
           keys: tuple[str, ...]) -> bytes:
    root = ET.Element(f"{{{_NS}}}{root_tag}")
    for row in rows:
        if not row.get("loc"):
            raise ValueError(f"{child_tag} entry requires loc")
        child = ET.SubElement(root, f"{{{_NS}}}{child_tag}")
        for k in keys:
            v = row.get(k)
            if v is not None:
                ET.SubElement(child, f"{{{_NS}}}{k}").text = str(v)
    return b'<?xml version="1.0" encoding="UTF-8"?>' + ET.tostring(
        root, encoding="utf-8", xml_declaration=False
    )
