"""HTML main-content extraction — the north rule's 'HTML boilerplate
strip / DOM heuristics' leg (the PDF leg is kernels/extract.py).

Readability-style heuristics on a stdlib html.parser DOM walk, no
third-party dependency:

  * tag blacklist: script/style/noscript/template contents dropped
    outright; nav/header/footer/aside/form subtrees are boilerplate
  * link-density rule: a block whose anchor text is more than half of
    its text is navigation-shaped -> dropped
  * block assembly: block-level boundaries emit newlines; inline text
    concatenates; entities unescaped; whitespace collapsed per block

Deterministic and pure — safe inside a vectorized batch kernel at
10^12 docs. The quarantine discipline matches extraction: the operator
layer catches everything and emits NULL main_text for poison inputs.
"""

from __future__ import annotations

import html as _htmlmod
import re as _re
from html.parser import HTMLParser
from typing import List, Optional, Tuple

# printable-ASCII sanitizer for the corpus generators (round 9):
# byte-identical to the old per-char genexpr, C-speed
NONPRINTABLE = _re.compile(r"[^ -~]")

_DROP_ENTIRELY = {"script", "style", "noscript", "template"}
_BOILERPLATE = {"nav", "header", "footer", "aside", "form"}
_BLOCK = {
    "p", "div", "article", "section", "main", "li", "ul", "ol",
    "h1", "h2", "h3", "h4", "h5", "h6", "table", "tr", "td", "th",
    "blockquote", "pre", "br",
}


class _MainTextParser(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.drop_depth = 0
        self.boiler_depth = 0
        self.anchor_depth = 0
        self.title_depth = 0
        self.title_parts: List[str] = []
        # blocks under construction: [(text_parts, anchor_chars)]
        self.blocks: List[Tuple[List[str], int]] = [([], 0)]
        self.done: List[str] = []

    # -- tree state -----------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in _DROP_ENTIRELY:
            self.drop_depth += 1
        elif tag in _BOILERPLATE:
            self.boiler_depth += 1
        elif tag == "a":
            self.anchor_depth += 1
        elif tag == "title":
            self.title_depth += 1
        if tag in _BLOCK:
            self._flush_block()

    def handle_endtag(self, tag):
        if tag in _DROP_ENTIRELY:
            self.drop_depth = max(0, self.drop_depth - 1)
        elif tag in _BOILERPLATE:
            self.boiler_depth = max(0, self.boiler_depth - 1)
        elif tag == "a":
            self.anchor_depth = max(0, self.anchor_depth - 1)
        elif tag == "title":
            self.title_depth = max(0, self.title_depth - 1)
        if tag in _BLOCK:
            self._flush_block()

    def handle_data(self, data):
        if self.drop_depth or self.boiler_depth:
            return
        if self.title_depth:
            self.title_parts.append(data)
            return
        parts, anchors = self.blocks[-1]
        parts.append(data)
        if self.anchor_depth:
            self.blocks[-1] = (parts, anchors + len(data.strip()))

    # -- block assembly ---------------------------------------------------
    def _flush_block(self):
        parts, anchor_chars = self.blocks.pop()
        text = " ".join("".join(parts).split())
        if text:
            # link-density: navigation-shaped blocks are boilerplate
            if anchor_chars * 2 <= len(text):
                self.done.append(text)
        self.blocks.append(([], 0))

    def result(self) -> Tuple[str, Optional[str]]:
        self._flush_block()
        title = " ".join("".join(self.title_parts).split()) or None
        return "\n".join(self.done), title


class _SpanParser(_MainTextParser):
    """Main-text walk that keeps the DOCUMENT-ORDER interleaving of
    text blocks and images — the HTML analog of the PDF span
    contract: each surviving main-content block becomes text spans
    (text + "\\n", exactly the chunk shape extract_doc emits per
    Tj/TJ), and each main-content <img src> becomes a media_ref span
    at its position.

    A mid-block image does NOT change the block's fate: link-density
    is judged over the WHOLE block exactly as _MainTextParser does
    (an early cut would judge fragments and diverge from the
    main-text lane — r8 review finding), and only a SURVIVING block
    is then split at its image positions into alternating text /
    media_ref spans (a dropped nav-shaped block drops its images
    too). So the span lane keeps byte-identical drop decisions to
    extract_main_html; the only textual difference is the newline a
    mid-block image cut introduces where the single-line main_text
    has a space."""

    def __init__(self):
        super().__init__()
        self.spans: List[dict] = []
        # per open block: [(position_in_parts, src)] of its images
        self._imgs: List[List[tuple]] = [[]]

    def _flush_block(self):
        parts, anchor_chars = self.blocks.pop()
        imgs = self._imgs.pop()
        text = " ".join("".join(parts).split())
        if text and anchor_chars * 2 <= len(text):
            self.done.append(text)
            # split the surviving block at its image positions
            prev = 0
            for pos, src in imgs:
                seg = " ".join("".join(parts[prev:pos]).split())
                if seg:
                    self.spans.append({"kind": "text",
                                       "text": seg + "\n",
                                       "media_ref": None})
                self.spans.append({"kind": "media_ref", "text": None,
                                   "media_ref": src})
                prev = pos
            seg = " ".join("".join(parts[prev:]).split())
            if seg:
                self.spans.append({"kind": "text", "text": seg + "\n",
                                   "media_ref": None})
        elif not text:
            # an image-only block has no text to judge: keep its
            # images (figures commonly sit in their own block)
            for _, src in imgs:
                self.spans.append({"kind": "media_ref", "text": None,
                                   "media_ref": src})
        self.blocks.append(([], 0))
        self._imgs.append([])

    def handle_starttag(self, tag, attrs):
        if (tag == "img" and not self.drop_depth
                and not self.boiler_depth):
            src = dict(attrs).get("src")
            if src:
                self._imgs[-1].append((len(self.blocks[-1][0]), src))
        super().handle_starttag(tag, attrs)


# --- fast event scanner ------------------------------------------------------
#
# stdlib html.parser spends ~70% of the HTML lane's kernel time in
# goahead/parse_starttag/updatepos bookkeeping (line-position tracking,
# incremental-feed buffering) that a whole-string batch kernel never
# needs. _fast_events tokenizes the COMMON well-formed shape with three
# compiled regexes and yields the exact handler-event stream
# HTMLParser(convert_charrefs=True).feed(s); close() would produce —
# including the one-data-call-per-segment chunking that the
# link-density arithmetic depends on — and returns None (bail) on ANY
# construct it is not certain it tokenizes stdlib-identically
# (malformed tags, marked sections, unterminated comments, tag-soup
# attr runs). Callers fall back to a fresh stdlib-driven parse, so the
# fast path can never change a single output row; parity is pinned by
# tests/test_html_fast.py's differential event-stream suite.

# tag name exactly as stdlib tagfind_tolerant's leading form; attr
# syntax is a strict SUBSET of attrfind_tolerant (leading whitespace
# required, names can't start with quote/=, unquoted values can't
# start with a quote) — anything outside the subset fails the match
# and bails to stdlib rather than risking a divergent parse. One
# attribute fragment serves the start-tag scan and the attr walk.
_ATTR_NAME = r"[^\s/>=\"'][^\s/=>]*"
# unquoted values must not START with '=' (nor a quote): stdlib's
# attrfind_tolerant eats runs of '=' ('foo==\"bar\"' -> ('foo','bar')),
# so a leading '=' here would swallow the extra equals into the value
# and silently diverge — excluding it makes the whole start-tag match
# fail and the document bail to stdlib instead (r9 review finding,
# pinned in tests/test_html_fast.py)
_ATTR_VALUE = r"\"[^\"]*\"|'[^']*'|(?![\"'=])[^\s>]+"
_F_STARTTAG = _re.compile(
    r"<([a-zA-Z][-.a-zA-Z0-9:_]*)"
    rf"((?:\s+{_ATTR_NAME}(?:\s*=\s*(?:{_ATTR_VALUE}))?)*)"
    r"\s*(/?)>"
)
_F_ATTR = _re.compile(rf"\s+({_ATTR_NAME})(?:\s*=\s*({_ATTR_VALUE}))?")
_F_ENDTAG = _re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_F_COMMENT_CLOSE = _re.compile(r"--\s*>")  # stdlib _markupbase.Marked...
_F_CDATA_CLOSE = {
    elem: _re.compile(r"</\s*%s" % elem, _re.IGNORECASE)
    for elem in ("script", "style")
}
_unescape = _htmlmod.unescape

# event kinds: (0, data) (1, tag, attrs) (2, tag) (3, tag, attrs)
_EV_DATA, _EV_START, _EV_END, _EV_STARTEND = 0, 1, 2, 3


def _fast_events(raw: str):
    """Tokenize `raw` into the stdlib-identical event list, or None to
    signal the caller to fall back to html.parser."""
    events = []
    add = events.append
    i = 0
    n = len(raw)
    find = raw.find
    while i < n:
        j = find("<", i)
        if j < 0:
            add((_EV_DATA, _unescape(raw[i:])))
            break
        if i < j:
            add((_EV_DATA, _unescape(raw[i:j])))
        i = j
        c = raw[j + 1] if j + 1 < n else ""
        if c == "/":
            m = _F_ENDTAG.match(raw, i)
            if m is None:
                return None  # tag-soup end tag -> stdlib
            add((_EV_END, m.group(1).lower()))
            i = m.end()
        elif c.isalpha():
            m = _F_STARTTAG.match(raw, i)
            if m is None:
                return None  # malformed/unsupported start tag
            tag = m.group(1).lower()
            rawattrs = m.group(2)
            if rawattrs:
                attrs = []
                for am in _F_ATTR.finditer(rawattrs):
                    v = am.group(2)
                    if v is not None:
                        if v[0] in "\"'":
                            v = v[1:-1]
                        v = _unescape(v)
                    attrs.append((am.group(1).lower(), v))
            else:
                attrs = []
            i = m.end()
            if m.group(3):
                add((_EV_STARTEND, tag, attrs))
            elif tag in _F_CDATA_CLOSE:
                # CDATA content element: raw data (no unescape) up to
                # the matching close candidate, exactly as
                # set_cdata_mode/goahead chunk it
                cm = _F_CDATA_CLOSE[tag].search(raw, i)
                if cm is None:
                    # unclosed cdata: stdlib DROPS the tail silently —
                    # defer to it rather than encode that quirk here
                    return None
                em = _F_ENDTAG.match(raw, cm.start())
                if em is None or em.group(1).lower() != tag:
                    return None  # close candidate isn't a clean end tag
                add((_EV_START, tag, attrs))
                if i < cm.start():
                    add((_EV_DATA, raw[i:cm.start()]))
                add((_EV_END, tag))
                i = em.end()
            else:
                add((_EV_START, tag, attrs))
        elif c == "!":
            if raw.startswith("<!--", i):
                cm = _F_COMMENT_CLOSE.search(raw, i + 4)
                if cm is None:
                    return None  # unterminated comment
                i = cm.end()  # handle_comment is a no-op everywhere here
            elif raw.startswith("<![", i):
                return None  # marked section -> stdlib
            elif raw[i:i + 9].lower() == "<!doctype":
                g = find(">", i + 9)
                if g < 0:
                    return None
                i = g + 1  # handle_decl is a no-op
            else:
                g = find(">", i + 2)
                if g < 0:
                    return None
                i = g + 1  # bogus comment, handle_comment no-op
        elif c == "?":
            g = find(">", i + 2)
            if g < 0:
                return None
            i = g + 1  # handle_pi is a no-op
        else:
            # bare '<' (stdlib emits it as its own data call)
            add((_EV_DATA, "<"))
            i += 1
    return events


def _replay(events, parser) -> None:
    """Dispatch a _fast_events list into an HTMLParser subclass."""
    data = parser.handle_data
    start = parser.handle_starttag
    end = parser.handle_endtag
    startend = parser.handle_startendtag
    for ev in events:
        k = ev[0]
        if k == 0:
            data(ev[1])
        elif k == 1:
            start(ev[1], ev[2])
        elif k == 2:
            end(ev[1])
        else:
            startend(ev[1], ev[2])


def _drive(parser_factory, raw: str, events=...):
    """Run one parser over `raw` via the fast scanner, stdlib fallback.
    Pass a precomputed `events` list/None to share one tokenization
    across several parsers."""
    if events is ...:
        events = _fast_events(raw)
    p = parser_factory()
    if events is None:
        p.feed(raw)
        p.close()
    else:
        _replay(events, p)
    return p


def html_to_spans(html_text: str) -> dict:
    """HTML -> {spans, title}: ordered (kind, text, media_ref) spans
    with offsets contiguous from 0 (invariant 4) — one shape for the
    interleaved-corpus extractor regardless of source format. Never
    raises on parser-tolerable input; the operator layer quarantines
    anything else."""
    p = _drive(_SpanParser, html_text or "")
    _, title = p.result()  # result() flushes the trailing open block
    return {
        "spans": [dict(s, offset=i) for i, s in enumerate(p.spans)],
        "title": title,
    }


def extract_main_html(html_text: str) -> dict:
    """HTML -> {main_text, title}. Never raises on parser-tolerable
    input; the operator layer quarantines anything else."""
    p = _drive(_MainTextParser, html_text or "")
    main_text, title = p.result()
    return {"main_text": main_text, "title": title}


class _WebFeatureParser(HTMLParser):
    """One-pass DOM feature walk for the web-pipeline queries the
    main-text strip doesn't cover: outlinks (every <a href>, document
    order, with anchor text / rel=nofollow / inside-boilerplate flag),
    page metadata (<html lang>, <title>, <link rel=canonical>,
    <meta name=description|robots|charset>, og:title), the heading
    outline (h1-h6 with level + boilerplate flag — the HTML analog of
    the PDF outlines operator), and <table> shapes (n_rows, max row
    width, cell texts in row-major order). Same tolerance contract as
    _MainTextParser: never raises on parser-tolerable input."""

    _HEADINGS = {"h1", "h2", "h3", "h4", "h5", "h6"}

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.boiler_depth = 0
        self.drop_depth = 0
        self.lang = None
        self.canonical = None
        self.description = None
        self.robots = None
        self.og_title = None
        self.charset = None
        self.title_depth = 0
        self.title_parts: List[str] = []
        self.links: List[dict] = []
        self._anchor = None  # {href, rel, boiler, parts}
        self.headings: List[dict] = []
        self._heading = None  # {level, boiler, parts}
        self.sections: List[dict] = []
        self._section = None  # {heading, level, parts}
        self.tables: List[dict] = []
        # stack of open tables (nested <table> is common in real HTML);
        # each entry: {rows: [[cell,...]], cell: None|[parts]} — cell
        # state is per-table so an inner table never clobbers the outer
        self._table_stack: List[dict] = []

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag in _DROP_ENTIRELY:
            self.drop_depth += 1
            return
        if tag in _BOILERPLATE:
            self.boiler_depth += 1
        if tag == "html" and a.get("lang"):
            self.lang = a["lang"].strip()
        elif tag == "title":
            self.title_depth += 1
        elif tag == "link":
            if (a.get("rel") or "").strip().lower() == "canonical":
                self.canonical = a.get("href")
        elif tag == "meta":
            name = (a.get("name") or a.get("property") or "").lower()
            if name == "description":
                self.description = a.get("content")
            elif name == "robots":
                self.robots = a.get("content")
            elif name == "og:title":
                self.og_title = a.get("content")
            if a.get("charset"):
                self.charset = a["charset"].lower()
        elif tag == "a":
            href = a.get("href")
            if href is not None:
                rel = (a.get("rel") or "").lower()
                self._anchor = {
                    "href": href,
                    "nofollow": 1 if "nofollow" in rel.split() else 0,
                    "boiler": 1 if self.boiler_depth else 0,
                    "parts": [],
                }
        elif tag in self._HEADINGS:
            if not self.boiler_depth:
                self._close_section()  # a new main heading cuts here
            self._heading = {
                "level": int(tag[1]),
                "boiler": 1 if self.boiler_depth else 0,
                "parts": [],
            }
        elif tag == "table":
            self._table_stack.append({"rows": [], "cell": None})
        elif tag == "tr" and self._table_stack:
            self._table_stack[-1]["rows"].append([])
        elif tag in ("td", "th") and self._table_stack:
            top = self._table_stack[-1]
            if not top["rows"]:
                top["rows"].append([])
            top["cell"] = []

    def handle_endtag(self, tag):
        if tag in _DROP_ENTIRELY:
            self.drop_depth = max(0, self.drop_depth - 1)
            return
        if tag in _BOILERPLATE:
            self.boiler_depth = max(0, self.boiler_depth - 1)
        if tag in ("article", "main", "section", "body"):
            self._close_section()  # sections end with their container
        if tag == "title":
            self.title_depth = max(0, self.title_depth - 1)
        elif tag == "a" and self._anchor is not None:
            anc = self._anchor
            self._anchor = None
            self.links.append({
                "href": anc["href"],
                "anchor": " ".join("".join(anc["parts"]).split()),
                "nofollow": anc["nofollow"],
                "boiler": anc["boiler"],
            })
        elif tag in self._HEADINGS and self._heading is not None:
            h = self._heading
            self._heading = None
            text = " ".join("".join(h["parts"]).split())
            self.headings.append({
                "level": h["level"],
                "text": text,
                "boiler": h["boiler"],
            })
            if not h["boiler"]:
                # open the section this main-content heading starts
                self._section = {"heading": text, "level": h["level"],
                                 "parts": []}
        elif (tag in ("td", "th") and self._table_stack
                and self._table_stack[-1]["cell"] is not None):
            top = self._table_stack[-1]
            cell = " ".join("".join(top["cell"]).split())
            top["cell"] = None
            top["rows"][-1].append(cell)
        elif tag == "table" and self._table_stack:
            rows = self._table_stack.pop()["rows"]
            if rows:
                self.tables.append({
                    "n_rows": len(rows),
                    "n_cols": max(len(r) for r in rows),
                    "cells": " ".join(c for r in rows for c in r),
                })

    def _close_section(self):
        if self._section is not None:
            s = self._section
            self._section = None
            self.sections.append({
                "heading": s["heading"],
                "level": s["level"],
                "text": " ".join("".join(s["parts"]).split()),
            })

    def handle_data(self, data):
        if self.drop_depth:
            return
        if self.title_depth:
            self.title_parts.append(data)
        if self._anchor is not None:
            self._anchor["parts"].append(data)
        if self._heading is not None:
            self._heading["parts"].append(data)
        if self._table_stack and self._table_stack[-1]["cell"] is not None:
            self._table_stack[-1]["cell"].append(data)
        if (self._section is not None and self._heading is None
                and not self.boiler_depth and not self.title_depth):
            self._section["parts"].append(data)

    def result(self) -> dict:
        self._close_section()
        title = " ".join("".join(self.title_parts).split()) or None
        return {
            "lang": self.lang,
            "title": title,
            "canonical": self.canonical,
            "description": self.description,
            "robots": self.robots,
            "og_title": self.og_title,
            "charset": self.charset,
            "links": self.links,
            "headings": self.headings,
            "tables": self.tables,
            "sections": self.sections,
        }


def parse_webpage(html_text: str) -> dict:
    """HTML -> {lang, title, canonical, description, robots, og_title,
    charset, links[], headings[], tables[]} in one DOM pass. Never
    raises on parser-tolerable input; the operator layer quarantines
    anything else."""
    p = _drive(_WebFeatureParser, html_text or "")
    return p.result()


def parse_web_doc(html_text: str) -> "tuple[dict, dict]":
    """extract_main_html + parse_webpage over ONE tokenization — the
    production web lane (extract_web_docs) previously ran the stdlib
    tokenizer twice per page; the event list is scanned once and
    replayed into both parsers (outputs identical by construction,
    stdlib fallback shares the same guarantee by feeding each parser
    directly)."""
    raw = html_text or ""
    events = _fast_events(raw)
    if events is None:
        main = _drive(_MainTextParser, raw, None)
        feats = _drive(_WebFeatureParser, raw, None)
    else:
        # one loop, both parsers: same handler calls as two _replay
        # passes, minus the second iteration's dispatch overhead
        main = _MainTextParser()
        feats = _WebFeatureParser()
        da_m, da_f = main.handle_data, feats.handle_data
        st_m, st_f = main.handle_starttag, feats.handle_starttag
        en_m, en_f = main.handle_endtag, feats.handle_endtag
        se_m, se_f = main.handle_startendtag, feats.handle_startendtag
        for ev in events:
            k = ev[0]
            if k == 0:
                da_m(ev[1])
                da_f(ev[1])
            elif k == 1:
                st_m(ev[1], ev[2])
                st_f(ev[1], ev[2])
            elif k == 2:
                en_m(ev[1])
                en_f(ev[1])
            else:
                se_m(ev[1], ev[2])
                se_f(ev[1], ev[2])
    main_text, title = main.result()
    return {"main_text": main_text, "title": title}, feats.result()


def synthesize_interleaved_html(doc_id: int, text: str) -> str:
    """Deterministic page for the MIXED-corpus extractor (the odd-id
    lane of synthesize_interleaved_corpus): the doc text as the lead
    paragraph, one main-content <img>, a formula closing paragraph,
    and the usual boilerplate (nav links, header h1, script, footer)
    the extractor must strip. Span contract: exactly
    [text(lead), media_ref(img-{d}), text('closing paragraph {d}')]."""
    printable = NONPRINTABLE.sub("?", text)
    body = _htmlmod.escape(printable)
    return (
        "<!DOCTYPE html><html><head>"
        f"<title>doc-{doc_id}</title>"
        "<script>var tracking='pixel';</script>"
        "</head><body>"
        "<header><h1>Site Name</h1></header>"
        '<nav><a href="/">Home</a> <a href="/about">About</a></nav>'
        f"<article><p>{body}</p>"
        f'<img src="img-{doc_id}">'
        f"<p>closing paragraph {doc_id}</p></article>"
        "<footer>(c) 2024 Site Name - all rights reserved</footer>"
        "</body></html>"
    )
