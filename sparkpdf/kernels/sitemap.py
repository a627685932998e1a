"""sitemap.xml parsing (sitemaps.org protocol) — the discovery leg of
the crawl stack (robots.txt points here; the frontier seeds from it).

Pure Python over the stdlib HTMLParser (tag-tolerant, namespace- and
case-insensitive — real-world sitemaps are messy XML): <urlset>
entries with loc/lastmod/changefreq/priority, <sitemapindex> entries
with loc/lastmod. Never raises; unrecognized documents yield an empty
entry list with kind None.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import List, Optional


class _SitemapParser(HTMLParser):
    _FIELDS = {"loc", "lastmod", "changefreq", "priority"}

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.kind: Optional[str] = None
        self.entries: List[dict] = []
        self._entry: Optional[dict] = None
        self._field: Optional[str] = None
        self._parts: List[str] = []

    @staticmethod
    def _local(tag: str) -> str:
        return tag.rsplit(":", 1)[-1]

    def handle_starttag(self, tag, attrs):
        tag = self._local(tag)
        if tag in ("urlset", "sitemapindex") and self.kind is None:
            self.kind = tag
        elif tag in ("url", "sitemap") and self.kind is not None:
            self._entry = {}
        elif tag in self._FIELDS and self._entry is not None:
            self._field = tag
            self._parts = []

    def handle_endtag(self, tag):
        tag = self._local(tag)
        if tag in self._FIELDS and self._field == tag:
            if self._entry is not None:
                self._entry[tag] = "".join(self._parts).strip()
            self._field = None
        elif tag in ("url", "sitemap") and self._entry is not None:
            if self._entry.get("loc"):
                self.entries.append(self._entry)
            self._entry = None

    def handle_data(self, data):
        if self._field is not None:
            self._parts.append(data)


def parse_sitemap(text: str) -> dict:
    """sitemap XML -> {kind: 'urlset'|'sitemapindex'|None, entries:
    [{loc, lastmod?, changefreq?, priority?}]}. Tolerant: namespaced
    tags, mixed case, junk around the document."""
    p = _SitemapParser()
    p.feed(text or "")
    p.close()
    return {"kind": p.kind, "entries": p.entries}
