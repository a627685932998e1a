"""HTML main-content extraction (north rule's boilerplate-strip leg)."""

from sparkpdf.kernels.html import extract_main_html
from sparkpdf.testing.corpora import synthesize_html


def test_boilerplate_stripped():
    html = synthesize_html(7, "Real article body with several words here.")
    res = extract_main_html(html)
    assert res["title"] == "doc-7"
    assert res["main_text"] == "Real article body with several words here."
    # nothing from nav/footer/script/style/related leaked
    for leak in ("Home", "About", "Site Name", "tracking", "font",
                 "Read more", "rights reserved"):
        assert leak not in res["main_text"]


def test_link_density_rule():
    # > half anchor text -> dropped; mostly-prose block with a link kept
    navish = '<div><a href="/x">All of this text is links</a> hi</div>'
    prose = ('<p>This paragraph has plenty of real prose and just '
             '<a href="/y">one link</a> inside it.</p>')
    res = extract_main_html("<html><body>" + navish + prose + "</body></html>")
    assert "All of this" not in res["main_text"]
    assert "plenty of real prose" in res["main_text"]
    assert "one link" in res["main_text"]  # anchor TEXT in prose is kept


def test_entities_and_blocks():
    res = extract_main_html(
        "<p>a &amp; b &lt;c&gt;</p><h2>Head</h2><ul><li>x</li><li>y</li></ul>"
    )
    assert res["main_text"] == "a & b <c>\nHead\nx\ny"


def test_nested_boilerplate_and_malformed():
    # unclosed tags, stray </div>, boilerplate nesting: never raises
    res = extract_main_html(
        "<nav><div><p>menu</p></div></nav><p>keep me</p></div><b>tail"
    )
    assert res["main_text"] == "keep me\ntail"
    assert extract_main_html("")["main_text"] == ""
    # bare < and & that form no tag/entity pass through as text
    assert extract_main_html("<<<>>>&&&")["main_text"] == "<<<>>>&&&"


def test_fuzz_never_raises():
    import random

    rng = random.Random(3)
    alphabet = "<>ab/&;# \"='pdiv" + "\x00"
    for _ in range(300):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120)))
        out = extract_main_html(s)
        assert isinstance(out["main_text"], str)


def test_webpage_features_roundtrip():
    """Round-7 DOM-feature walk: every planted formula feature of
    synthesize_webpage comes back exactly through parse_webpage —
    metadata scalars, outlinks in document order (with nofollow +
    boilerplate flags), the heading outline, and table shapes."""
    from sparkpdf.kernels.html import parse_webpage
    from sparkpdf.testing.corpora import synthesize_webpage

    for d in (0, 1, 6, 7, 13, 22):
        r = parse_webpage(synthesize_webpage(d, "body text"))
        assert r["lang"] == ("en", "de", "fr", "es", "it")[d % 5]
        assert r["title"] == f"doc-{d}"
        assert r["canonical"] == f"https://example.com/doc/{d}"
        assert r["description"] == f"Summary of document {d}"
        assert r["robots"] == (
            "noindex,nofollow" if d % 7 == 0 else "index,follow")
        assert r["og_title"] == f"OG Doc {d}"
        assert r["charset"] == "utf-8"
        # links: 3 nav (boiler) + d%4 body (nofollow on odd) + 2 related
        links = r["links"]
        assert len(links) == 5 + d % 4
        assert [l["boiler"] for l in links[:3]] == [1, 1, 1]
        for i, l in enumerate(links[3:3 + d % 4]):
            assert l["href"] == (
                f"https://site{(d + i) % 5}.example.com/ref/{d}/{i}")
            assert l["anchor"] == f"ref {d}-{i}"
            assert l["nofollow"] == (i % 2)
            assert l["boiler"] == 0
        assert links[-2]["href"] == "/a" and links[-1]["href"] == "/b"
        # headings: site h1 (boiler), doc h1, then 1+d%3 sections
        hs = r["headings"]
        assert len(hs) == 3 + d % 3
        assert hs[0] == {"level": 1, "text": "Site Name", "boiler": 1}
        assert hs[1] == {"level": 1, "text": f"Doc {d}", "boiler": 0}
        for i, h in enumerate(hs[2:]):
            assert h == {"level": 2, "text": f"Section {i} of doc {d}",
                         "boiler": 0}
        # sections: heading -> following text, cut at the next main
        # heading / container end; boilerplate h1 opens nothing and
        # the related/footer text never leaks into the last section
        secs = r["sections"]
        assert len(secs) == 2 + d % 3
        assert secs[0]["heading"] == f"Doc {d}"
        assert secs[0]["text"] == "body text"
        for i, s in enumerate(secs[1:]):
            assert s == {"heading": f"Section {i} of doc {d}",
                         "level": 2,
                         "text": f"Body of section {i} in doc {d}."}
        assert all("Read more" not in s["text"] for s in secs)
        # tables only when d%3==0, row-major cells
        if d % 3 == 0:
            (t,) = r["tables"]
            nr, nc = 2 + d % 5, 1 + d % 3
            assert (t["n_rows"], t["n_cols"]) == (nr, nc)
            assert t["cells"] == " ".join(
                f"c{rr}.{cc}" for rr in range(nr) for cc in range(nc))
        else:
            assert r["tables"] == []


def test_webpage_parser_tolerance():
    """parse_webpage on hostile input: ragged tables report max row
    width, anchors without href are skipped, unclosed structures and
    fuzz never raise, empty/None inputs give empty feature sets."""
    import random

    from sparkpdf.kernels.html import parse_webpage

    r = parse_webpage(
        "<table><tr><td>a</td><td>b</td></tr><tr><td>c</td></tr></table>"
        '<a name="no-href">skip me</a><a href="/k">keep</a>'
        "<h3>deep <b>bold</b> head</h3><table></table>"
    )
    assert r["tables"] == [{"n_rows": 2, "n_cols": 2, "cells": "a b c"}]
    assert [l["href"] for l in r["links"]] == ["/k"]
    assert r["headings"] == [
        {"level": 3, "text": "deep bold head", "boiler": 0}]
    assert parse_webpage("")["links"] == []
    assert parse_webpage(None)["headings"] == []
    rng = random.Random(11)
    alphabet = "<>ab/&;# \"='ptrdhl" + "\x00"
    for _ in range(300):
        s = "".join(rng.choice(alphabet)
                    for _ in range(rng.randrange(0, 120)))
        out = parse_webpage(s)
        assert isinstance(out["links"], list)


def test_html_to_spans_contract():
    """The DOM span walk mirrors the PDF span contract: surviving
    main-content blocks become text spans (text + newline), main-
    content <img src> become media_ref spans at their document-order
    position, offsets contiguous from 0; boilerplate images and
    link-dense blocks never produce spans; main_text equals the
    concatenation of the text spans; fuzz never raises."""
    import random

    from sparkpdf.kernels.html import (
        extract_main_html,
        html_to_spans,
        synthesize_interleaved_html,
    )

    page = synthesize_interleaved_html(7, "lead body text")
    r = html_to_spans(page)
    assert [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]] == [
        ("text", "lead body text\n", None),
        ("media_ref", None, "img-7"),
        ("text", "closing paragraph 7\n", None),
    ]
    assert [s["offset"] for s in r["spans"]] == [0, 1, 2]
    assert r["title"] == "doc-7"
    main = extract_main_html(page)["main_text"]
    assert "".join(
        s["text"] for s in r["spans"] if s["kind"] == "text"
    ) == main + "\n"
    # boilerplate/drop images emit nothing; a srcless img emits no
    # span AND does not cut the open block (only a real image does)
    r = html_to_spans(
        '<nav><img src="logo.png"></nav><script><img src="x"></script>'
        "<p>k<img>eep</p>"
    )
    assert [(s["kind"], s["text"] or s["media_ref"]) for s in r["spans"]] \
        == [("text", "keep\n")]
    # mid-block image: link-density is judged over the WHOLE block
    # (identical drop decisions to the main-text lane), THEN the
    # surviving block splits at the image into text/media/text
    r = html_to_spans('<p>intro text <img src="fig.png"> outro</p>')
    assert [(s["kind"], s["text"] or s["media_ref"]) for s in r["spans"]] \
        == [("text", "intro text\n"), ("media_ref", "fig.png"),
            ("text", "outro\n")]
    # a nav-shaped block (anchor text > half) drops WITH its images —
    # the base parser drops the same block, so decisions agree
    r = html_to_spans(
        '<p>x <img src="promo.png"> <a href="/l">a very long anchor '
        "that dominates this block entirely</a></p>"
    )
    assert r["spans"] == []
    from sparkpdf.kernels.html import extract_main_html as _emh
    assert _emh(
        '<p>x <img src="promo.png"> <a href="/l">a very long anchor '
        "that dominates this block entirely</a></p>")["main_text"] == ""
    rng = random.Random(8)
    alphabet = "<>ab/&;# \"='pimgsrc" + "\x00"
    for _ in range(200):
        s = "".join(rng.choice(alphabet)
                    for _ in range(rng.randrange(0, 100)))
        out = html_to_spans(s)
        offs = [sp["offset"] for sp in out["spans"]]
        assert offs == list(range(len(offs)))


def test_webpage_parser_nested_tables():
    """Nested <table> (common in real HTML) must not clobber the outer
    table's rows (r7 advice): each table reports its own shape, inner
    closing first, and an empty nested table inside an open cell must
    not raise on the outer </td>."""
    from sparkpdf.kernels.html import parse_webpage

    r = parse_webpage(
        "<table><tr><td>o1</td><td>"
        "<table><tr><td>i1</td><td>i2</td></tr></table>"
        "</td></tr><tr><td>o2</td></tr></table>"
    )
    assert r["tables"] == [
        {"n_rows": 1, "n_cols": 2, "cells": "i1 i2"},   # inner closes first
        {"n_rows": 2, "n_cols": 2, "cells": "o1  o2"},
    ]
    # empty nested table inside an open cell: outer </td> previously
    # raised TypeError (single-slot _table was None) — must parse clean
    r = parse_webpage(
        "<table><tr><td>x<table></table>y</td></tr></table>")
    # "x" and "y" are adjacent text fragments of the same cell (the
    # parser concatenates fragments, whitespace-normalizing after)
    assert r["tables"] == [{"n_rows": 1, "n_cols": 1, "cells": "xy"}]
