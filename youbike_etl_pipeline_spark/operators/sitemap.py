"""Sitemap discovery — the frontier-completing step between robots.txt
and fetch scheduling.

A crawler learns most of a site's URL inventory not from links but from
the ``Sitemap:`` directives robots.txt advertises (sitemaps.org
protocol, referenced by RFC 9309 §2.3 as an "other record").
:mod:`.robots` deliberately ignores those lines for ACCESS matching;
this module extracts them (:func:`robots_sitemaps`), parses the two
sitemap XML document shapes — ``<urlset>`` of ``<url><loc>`` entries
and ``<sitemapindex>`` of child ``<sitemap><loc>`` entries — and feeds
the discovered URLs through the SAME RFC 3986 canonicalizer as mm30's
dedup keys and mm36's redirect targets, so a sitemap-discovered URL, a
redirect target, and a crawled URL all compare equal in the frontier.

Spec behaviors implemented (sitemaps.org/protocol):

- ``<loc>`` values are XML-escaped (``&amp;`` etc.) — the XML parser
  unescapes them — and may carry surrounding whitespace (trimmed),
- a sitemap may be served gzip-compressed (``.xml.gz``); the HTTP
  decode path (:func:`..operators.warc.http_decode_body`) already
  handles ``Content-Encoding: gzip``, so the parse rides that chain,
- optional per-URL elements (``lastmod``, ``changefreq``,
  ``priority``) are ignored for discovery,
- namespace-agnostic tag matching (documents declare the
  ``sitemaps.org/schemas/sitemap/0.9`` default namespace; real-world
  files routinely omit or typo it).

Reference parity: the reference repo has no crawl machinery (SURVEY.md
§2 ext rows) — this extends the mm26–mm39 Common Crawl chain.

Cost posture: identical to the rest of the crawl family — one
Arrow-batched ``mapInPandas`` pass over archive payloads, linear in
bytes, zero shuffle; at 100 TB each WARC file is one input split.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

__all__ = [
    "robots_sitemaps",
    "parse_sitemap_xml",
]


def robots_sitemaps(text: str) -> "list[str]":
    """``Sitemap:`` directive values from a robots.txt, in file order.

    Values are absolute URLs per the protocol ("the sitemap URL must be
    fully qualified"); returned RAW — callers canonicalize, keeping the
    extraction and the normalization independently testable. Comments
    strip exactly like :func:`..operators.robots.parse_robots`; the
    directive is case-insensitive and may appear anywhere in the file
    (it belongs to no group)."""
    out: list[str] = []
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if ":" not in line:
            continue
        key, _, val = line.partition(":")
        if key.strip().lower() == "sitemap" and val.strip():
            out.append(val.strip())
    return out


def _local(tag: str) -> str:
    """XML local name: '{ns}urlset' -> 'urlset' (namespace-agnostic)."""
    return tag.rsplit("}", 1)[-1].lower()


def parse_sitemap_xml(body: bytes) -> "tuple[str, list[str]]":
    """Parse one sitemap document → ``(kind, locs)`` where kind is
    ``urlset`` or ``sitemapindex`` and locs are the ``<loc>`` values in
    document order, entity-unescaped (the parser's job) and
    whitespace-trimmed (the protocol allows surrounding whitespace).

    Raises ``ValueError`` (typed, not a parser internal) for malformed
    XML or a root element that is neither sitemap shape — the honest
    corruption contract the codec family uses."""
    try:
        root = ET.fromstring(body)
    except ET.ParseError as ex:
        raise ValueError(f"malformed sitemap XML: {ex}") from ex
    kind = _local(root.tag)
    if kind not in ("urlset", "sitemapindex"):
        raise ValueError(f"not a sitemap document: root <{kind}>")
    child = "url" if kind == "urlset" else "sitemap"
    locs: list[str] = []
    for entry in root:
        if _local(entry.tag) != child:
            continue
        for el in entry:
            if _local(el.tag) == "loc" and el.text and el.text.strip():
                locs.append(el.text.strip())
    return kind, locs
