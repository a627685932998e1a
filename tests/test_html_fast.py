"""Round-9 fast HTML scanner parity: _fast_events must reproduce the
stdlib HTMLParser event stream exactly wherever it does not bail, and
every public kernel entry point must produce byte-identical output with
the fast path on and off (the oracle-facing guarantee)."""

from html.parser import HTMLParser

import pytest

import sparkpdf.kernels.html as H
from sparkpdf.testing.corpora import synthesize_html, synthesize_webpage


class _Recorder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.events = []

    def handle_data(self, data):
        self.events.append((H._EV_DATA, data))

    def handle_starttag(self, tag, attrs):
        self.events.append((H._EV_START, tag, attrs))

    def handle_endtag(self, tag):
        self.events.append((H._EV_END, tag))

    def handle_startendtag(self, tag, attrs):
        self.events.append((H._EV_STARTEND, tag, attrs))


def _stdlib_events(raw):
    r = _Recorder()
    r.feed(raw)
    r.close()
    return r.events


TEXTS = [
    "",
    "plain words only",
    "amp &amp; lt &lt; mixed &#65; end",
    "spark batch sort " * 30,
    "tabs\tand\nnewlines  collapse",
]

NASTY = [
    # bare '<' as data, exactly one data call each side of it
    "<p>a < b</p>",
    "x<",
    "a<1 and b>2",
    # uppercase tags/attrs, quotes both kinds, bare attrs
    '<DIV CLASS="X">t</DIV>',
    "<input disabled>",
    "<a href='s'>t</a>",
    "<img src=bare>",
    "<img src=x/>",
    "<img src=x />",
    "<br/><br />",
    # cdata elements: entities NOT unescaped, '<' tolerated inside
    "<script>if (a<b && c>d) {x='&amp;';}</script><p>t</p>",
    "<style>a>b{color:red}</style>ok",
    "<SCRIPT>x</SCRIPT>done",
    "<script src=x></script>after",
    "<script/>not-cdata",
    # comments / doctype / pi / bogus comments
    "<!-- c <p>not a tag</p> --><p>t</p>",
    "<!DOCTYPE html><p>t</p>",
    "<!doctype html public 'x'><i>t</i>",
    "<?php echo 1 ?><p>t</p>",
    "<!foo><p>t</p>",
    # entity forms in data and attr values
    '<a href="/x?a=1&amp;b=2" title="&quot;q&quot;">z &nbsp; w</a>',
    "&amp;&lt;&gt;&#x41;&#66;",
    # quoted '>' inside attr values
    '<a href="x>y">t</a>',
    '<meta content="a > b" name=description>',
    # nested tables / headings / sections like the corpora
    "<table><tr><td>a</td><td><table><tr><td>i</td></tr></table></td>"
    "</tr></table>",
    "<h1>T</h1><p>body</p><h2>S</h2><p>more</p>",
    # things the fast path must BAIL on (stdlib still defines truth)
    "<p a=>t</p>",
    "<a href='x'y>t</a>",
    "<![CDATA[ raw ]]><p>t</p>",
    "<!-- unterminated",
    "<script>never closed",
    "<p",
    "</ p>t",
    "<p/ >t",
    "<3 items>",
    "trailing <",
    # r9 review finding: stdlib attrfind_tolerant eats runs of '='
    # ('foo==\'bar\'' parses as ('foo','bar')); the fast path must
    # BAIL on these, never swallow the extra '=' into the value
    '<a foo=="bar">t</a>',
    "<a foo ==bar>t</a>",
    "<a foo===bar>t</a>",
    "<a foo= =bar>t</a>",
    '<img src =="x">',
]


def _corpus_pages():
    pages = []
    for d in range(40):
        t = TEXTS[d % len(TEXTS)]
        pages.append(synthesize_html(d, t))
        pages.append(synthesize_webpage(d, t))
        pages.append(H.synthesize_interleaved_html(d, t))
    return pages


@pytest.mark.parametrize("raw", NASTY + TEXTS)
def test_event_stream_parity_nasty(raw):
    ev = H._fast_events(raw)
    if ev is not None:
        assert ev == _stdlib_events(raw)


def test_event_stream_parity_corpora():
    bails = 0
    for raw in _corpus_pages():
        ev = H._fast_events(raw)
        if ev is None:
            bails += 1
            continue
        assert ev == _stdlib_events(raw)
    # the synthesized corpora must take the fast path (the bench lanes)
    assert bails == 0


def test_outputs_identical_fast_vs_stdlib(monkeypatch):
    inputs = _corpus_pages() + NASTY
    fast = [
        (H.extract_main_html(r), H.parse_webpage(r), H.html_to_spans(r),
         H.parse_web_doc(r))
        for r in inputs
    ]
    # a fast scan of None is the bail: every parse takes stdlib
    monkeypatch.setattr(H, "_fast_events", lambda raw: None)
    slow = [
        (H.extract_main_html(r), H.parse_webpage(r), H.html_to_spans(r),
         H.parse_web_doc(r))
        for r in inputs
    ]
    assert fast == slow


def test_parse_web_doc_matches_single_passes():
    for raw in _corpus_pages():
        main, feats = H.parse_web_doc(raw)
        assert main == H.extract_main_html(raw)
        assert feats == H.parse_webpage(raw)


def test_event_stream_parity_fuzz():
    import random

    rng = random.Random(1789)
    frags = [
        "<p>", "</p>", "<a href='/x'>", "</a>", "text ", "&amp;", "<",
        ">", "<!-- c -->", "<br/>", "<script>", "</script>", "x<y",
        '<img src="i">', "<table>", "<tr>", "<td>", "</td>", "</tr>",
        "</table>", "&#65;", " ", "<DIV a=b>", "</div>", "<!doctype h>",
        "<?pi?>", "'", '"', "=", "/", "!", "&unknown;", "\n",
        "==", 'foo=="bar"', "a==b", "<a foo==bar>",
    ]
    checked = 0
    for _ in range(3000):
        raw = "".join(rng.choice(frags) for _ in range(rng.randint(1, 24)))
        ev = H._fast_events(raw)
        if ev is None:
            continue
        assert ev == _stdlib_events(raw), repr(raw)
        checked += 1
    assert checked > 800  # the fast path must cover most soup too
