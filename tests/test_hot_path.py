"""Exactness of the multi-page hot path without the reference:

* the memoised CMap lookup equals the rule-by-rule matcher, and its
  whole-string memo keeps only short strings, up to its bound;
* the tokenizer's inline string tokens equal the string parsers, and
  its one-match flat arrays equal the COS array parser;
* a TJ chunk equals the per-element as_text join;
* the span extractor's own page loop equals the tokenize-based loop
  (testing.oracles) on spans and errors, in one pass over the page;
  its hex-digit CMap memo is bounded;
* every fixture's extract_doc output matches its golden digest;
* the run-wise Up predictor equals a per-row PNG unfilter, drops a
  trailing partial row and rejects unknown filter types;
* LZW round-trips across its width bumps and clear codes, its run-wise
  code extraction equals the per-code decoder, and a bad first code is
  a page-level error;
* a document's pages share one compiled ToUnicode CMap;
* the worker's zip-directory hook re-reads only changed archives, and
  every worker has it, RDD-path ones included;
* no worker imports pandas, and pyarrow's conversions are unchanged.
"""

import importlib
import json
import os
import random
import subprocess
import sys
import time
import zipfile
import zipimport
from unittest import mock

import pytest
from hypothesis import example, given, settings, strategies as st

from sparkpdf.kernels import cmap, cos, filters, fonts
from sparkpdf.kernels.cmap import _shift_be, parse_cmap
from sparkpdf.kernels import extract
from sparkpdf.kernels.content import _OPERATION, _SCAN, tokenize
from sparkpdf.kernels.extract import WORD_SPACE_LIMIT, extract_doc
from sparkpdf import worker_daemon
from sparkpdf.operators import _kernel
from sparkpdf.testing import oracles, pdfgen
from sparkpdf.testing.fixtures import doc_text
from sparkpdf.worker_daemon import _invalidate_if_changed


# --- CMap: memoised code2text == rule-by-rule matcher -------------------------

def _rule_by_rule(cm, code: bytes) -> str:
    """The matcher before memoisation: bfchar by code length, then the
    first bfrange whose bytes all lie in range, else U+FFFD per byte."""
    out = bytearray()
    i, n = 0, len(code)
    lengths = cm.codelengths or [1, 2]
    while i < n:
        for ln in lengths:
            hit = cm.fchars.get(code[i : i + ln])
            if hit is not None:
                out += hit
                i += ln
                break
        else:
            for lo, hi, dst in cm.franges:
                ln = len(lo)
                if i + ln > n:
                    continue
                if all(lo[k] <= code[i + k] <= hi[k] for k in range(ln)):
                    offset = code[i + ln - 1] - lo[ln - 1]
                    if isinstance(dst, list):
                        d = dst[offset] if offset < len(dst) else None
                        if isinstance(d, bytes):
                            out += d
                    else:
                        out += _shift_be(dst, offset)
                    i += ln
                    break
            else:
                out += b"\xff\xfd"
                i += 1
    return out.decode("utf-16-be", "replace")


def _hex(b: bytes) -> bytes:
    return b"<" + b.hex().encode() + b">"


# UTF-16BE destinations: BMP chars and surrogate pairs
_dst = st.one_of(
    st.integers(0x20, 0xD7FF).map(lambda c: chr(c).encode("utf-16-be")),
    st.integers(0x10000, 0x10FFFF).map(lambda c: chr(c).encode("utf-16-be")),
    st.just(b"\xd8\x3d"),  # a lone high surrogate, shifted by bfrange
)


@st.composite
def _cmap_program(draw):
    """A ToUnicode program: some codespace (1-byte, 2-byte, mixed or
    none), bfchars that may overlap bfranges, array destinations."""
    widths = draw(st.sampled_from([[], [1], [2], [1, 2]]))
    parts = [b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap"]
    if widths:
        parts.append(b"%d begincodespacerange" % len(widths))
        if widths == [1, 2]:
            parts.append(b"<00> <7f> <8000> <ffff>")
        else:
            w = widths[0]
            parts.append(_hex(b"\x00" * w) + b" " + _hex(b"\xff" * w))
        parts.append(b"endcodespacerange")
    codes = []
    for _ in range(draw(st.integers(0, 6))):
        w = draw(st.sampled_from(widths or [1, 2]))
        codes.append(draw(st.binary(min_size=w, max_size=w)))
    if codes:
        parts.append(b"%d beginbfchar" % len(codes))
        for c in codes:
            parts.append(_hex(c) + b" " + _hex(draw(_dst)))
        parts.append(b"endbfchar")
    ranges = []
    for _ in range(draw(st.integers(0, 4))):
        w = draw(st.sampled_from(widths or [1, 2]))
        lo = draw(st.binary(min_size=w, max_size=w))
        span = draw(st.integers(0, 40))
        hi = lo[:-1] + bytes([min(255, lo[-1] + span)])
        if draw(st.booleans()):
            dst = b"[" + b" ".join(
                _hex(d) for d in draw(st.lists(_dst, max_size=span + 2))
            ) + b"]"
        else:
            dst = _hex(draw(_dst))
        ranges.append(_hex(lo) + b" " + _hex(hi) + b" " + dst)
    if ranges:
        parts.append(b"%d beginbfrange" % len(ranges))
        parts += ranges
        parts.append(b"endbfrange")
    parts.append(b"endcmap CMapName currentdict /CMap defineresource pop end end")
    return b"\n".join(parts), codes


@given(_cmap_program(), st.lists(st.binary(max_size=24), min_size=1,
                                 max_size=4), st.data())
@settings(max_examples=300, deadline=None)
def test_memoised_code2text_equals_rule_by_rule(program, strings, data):
    prog, codes = program
    cm = parse_cmap(prog)
    # strings built from the mapped codes too, some with a truncated
    # trailing byte
    if codes:
        picked = data.draw(st.lists(st.sampled_from(codes), max_size=8))
        s = b"".join(picked)
        strings = strings + [s, s[:-1]]
    for code in strings + strings:  # the second round hits the memo
        assert cm.code2text(code) == _rule_by_rule(cm, code)


def test_text_memo_keeps_only_short_strings():
    cm = parse_cmap(b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
                    b"1 beginbfrange <0000> <FFFF> <0000> endbfrange\n"
                    b"1 beginbfchar <0001> <" + b"0041" * 40 + b"> endbfchar")
    at_cap = "ab".encode("utf-16-be") * (cmap._TEXT_KEY_MAX // 4)
    over_cap = at_cap + b"\x00c"
    long_text = b"\x00\x01\x00\x01"  # 4 bytes, 80 characters
    for code in (at_cap, over_cap, long_text):
        assert cm.code2text(code) == _rule_by_rule(cm, code)
    assert len(at_cap) == cmap._TEXT_KEY_MAX and at_cap in cm._texts
    assert over_cap not in cm._texts
    assert long_text not in cm._texts
    assert cm.code2text(over_cap) == _rule_by_rule(cm, over_cap)


def test_text_memo_stops_at_its_bound():
    cm = parse_cmap(b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
                    b"1 beginbfrange <0000> <FFFF> <0000> endbfrange")
    codes = [i.to_bytes(4, "big") for i in range(cmap._TEXT_MEMO_MAX + 50)]
    for code in codes:
        cm.code2text(code)
    assert len(cm._texts) == cmap._TEXT_MEMO_MAX
    assert codes[-1] not in cm._texts
    for code in codes[-60:]:  # past the bound: still decoded, not kept
        assert cm.code2text(code) == _rule_by_rule(cm, code)
    assert len(cm._texts) == cmap._TEXT_MEMO_MAX


def test_empty_bfchar_code_is_ignored():
    """A non-string bfchar source once mapped the empty code, which
    matched without advancing: code2text never returned."""
    cm = parse_cmap(b"begincmap 1 beginbfchar 12 <0041> endbfchar endcmap")
    assert cm.fchars == {}
    assert cm.code2text(b"ab") == "��"


# --- tokenizer: inline string tokens == parse_hex/literal_string --------------

@st.composite
def _hex_token(draw):
    digits = draw(st.binary(max_size=16)).hex()
    if draw(st.booleans()):
        digits = digits.upper()
    if draw(st.booleans()) and digits:
        digits = digits[:-1]  # odd length: parse_hex_string pads '0'
    if draw(st.booleans()) and digits:
        cut = draw(st.integers(0, len(digits)))
        digits = digits[:cut] + draw(st.sampled_from([" ", "\n", "\t"])) + digits[cut:]
    return b"<" + digits.encode() + b">"


_plain = st.binary(max_size=8).map(
    lambda b: bytes(c for c in b if c not in b"()\\"))
_escape = st.sampled_from([b"\\n", b"\\(", b"\\)", b"\\\\", b"\\101",
                           b"\\7", b"\\\n", b"\\\r\n", b"\\t"])


def _literal_body(depth):
    piece = st.one_of(_plain, _escape)
    if depth:
        piece = st.one_of(piece, _literal_body(depth - 1).map(
            lambda b: b"(" + b + b")"))
    return st.lists(piece, max_size=5).map(b"".join)


_literal_token = st.one_of(
    _literal_body(2).map(lambda b: b"(" + b + b")"),
    # UTF-16BE BOM: make_string decodes it to str
    st.text(max_size=6).map(
        lambda t: b"(" + pdfgen.esc_string(b"\xfe\xff" + t.encode("utf-16-be"))
        + b")"),
)


@given(_hex_token())
@example(b"<>")
@example(b"<4142>")
@example(b"<414>")
@settings(max_examples=300, deadline=None)
def test_tokenize_hex_string_equals_parser(tok):
    want, end = cos.parse_hex_string(tok, 0)
    assert end == len(tok)
    ops = tokenize(b"BT " + tok + b" Tj ET")
    assert ops[1] == ([want], "Tj")
    assert type(ops[1][0][0]) is type(want)


@given(_literal_token)
@example(b"()")
@example(b"(plain text)")
@example(b"(a (nested) b)")
@example(b"(\xfe\xff\x00A)")
@settings(max_examples=300, deadline=None)
def test_tokenize_literal_string_equals_parser(tok):
    want, end = cos.parse_literal_string(tok, 0)
    assert end == len(tok)
    ops = tokenize(b"BT " + tok + b" Tj ET")
    assert ops[1] == ([want], "Tj")
    assert type(ops[1][0][0]) is type(want)


def test_simple_strings_take_the_inline_tokens():
    assert _SCAN.match(b" <00410042>").lastgroup == "hexstr"
    assert _SCAN.match(b" (plain)").lastgroup == "litstr"
    assert _SCAN.match(b" <0041 0042>").lastgroup == "obj"
    assert _SCAN.match(b" (a\\)b)").lastgroup == "obj"
    assert _SCAN.match(b" <<").lastgroup == "obj"


# --- tokenizer: one-match flat arrays == the COS array parser -----------------

# (element bytes, whether a flat array may hold it)
_flat_element = st.one_of(
    st.binary(min_size=1, max_size=6).map(lambda b: (_hex(b), True)),
    st.binary(min_size=1, max_size=6).map(
        lambda b: (b"<" + b.hex().upper().encode() + b">", True)),
    st.integers(-99999, 99999).map(lambda i: (b"%d" % i, True)),
    st.sampled_from([b"1.", b".5", b"+3", b"-4.25", b"007", b"-.0"]).map(
        lambda b: (b, True)),
    st.binary(min_size=1, max_size=8).map(
        lambda b: bytes(c for c in b if c not in b"()\\") or b"x").map(
        lambda b: (b"(" + b + b")", True)),
    st.text(min_size=1, max_size=4).map(
        lambda t: (b"(" + pdfgen.esc_string(b"\xfe\xff" + t.encode("utf-16-be"))
                   + b")", None)),  # flat unless it needed an escape
)
_other_element = st.sampled_from([
    b"<>", b"()", b"<414>", b"<41 42>", b"(a\\)b)", b"(a (b) c)", b"/Name",
    b"true", b"false", b"null", b"[1 <0041>]", b"[]", b"<< /K 1 >>",
    b"%comment\n",
]).map(lambda b: (b, False))
_ws = st.sampled_from([b" ", b"\n", b"\t\r ", b"\x00", b"  "])


@st.composite
def _array(draw):
    """Array bytes and whether the flat branch must take it. Flat
    elements touch only where one side is a string, which delimits
    itself: `true1` would be one token, `1.1.` a malformed number."""
    els = draw(st.lists(st.one_of(_flat_element, _flat_element, _other_element),
                        max_size=8))
    out = [b"[", draw(st.sampled_from([b"", b" "]))]
    for i, (el, flat) in enumerate(els):
        if i:
            prev, prev_flat = els[i - 1]
            touch = (prev_flat is not False and flat is not False
                     and (prev[-1:] in b">)" or el[:1] in b"<(")
                     and draw(st.booleans()))
            out.append(b"" if touch else draw(_ws))
        out.append(el)
    out += [draw(st.sampled_from([b"", b" ", b"\n"])), b"]"]
    arr = b"".join(out)
    flat = all(f is True or f is None and b"\\" not in el for el, f in els)
    return arr, flat


def _typed(v):
    """A value with the type of every element, nested."""
    if isinstance(v, list):
        return [_typed(x) for x in v]
    if isinstance(v, dict):
        return {k: _typed(x) for k, x in v.items()}
    return type(v), v


@given(_array())
@example((b"[<0041> -250 <00420043>]", True))
@example((b"[<0041>-250<0042>(ab)1.2.3+3-4]", True))
@example((b"[<>]", False))
@example((b"[()]", False))
@example((b"[<414>]", False))
@example((b"[<41 42>]", False))
@example((b"[1.]", True))
@example((b"[.5]", True))
@example((b"[+3]", True))
@example((b"[1 %comment\n 2]", False))
@example((b"[[1] 2]", False))
@example((b"[(\xfe\xff\x00A)]", True))
@example((b"[true 1]", False))
@example((b"[1 " + b"9" * 5000 + b"]", True))  # past int()'s digit limit
@settings(max_examples=400, deadline=None)
def test_flat_array_equals_parse_array(case):
    arr, flat = case
    want, end = cos.parse_object(arr, 0)
    assert end == len(arr)
    ops = tokenize(arr + b" TJ")
    assert ops == [([want], "TJ")]
    assert _typed(ops[0][0][0]) == _typed(want)
    assert (_SCAN.match(arr).lastgroup == "flat") == flat


def test_array_with_a_ref_takes_the_per_token_path():
    assert _SCAN.match(b"[1 0 R]").lastgroup == "obj"


def test_array_with_a_ref_tokenizes_like_parse_array():
    want, _ = cos.parse_object(b"[1 0 R]", 0)
    assert tokenize(b"[1 0 R] TJ") == [([want], "TJ")]


# --- TJ chunk == per-element as_text join --------------------------------------

_TJ_CMAP = (
    b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap\n"
    b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
    b"2 beginbfchar <0003> <00660069> <0004> <D835DC00> endbfchar\n"
    b"1 beginbfrange <0020> <007E> <0020> endbfrange\n"
    b"endcmap CMapName currentdict /CMap defineresource pop end end"
)


def _two_font_pdf(content: bytes) -> bytes:
    """One page: /F1 WinAnsi, /F2 Type0 with the ToUnicode CMap above."""
    b = pdfgen.PdfBuilder()
    f1 = b.add(pdfgen.FONT_WINANSI)
    cm = b.add_stream(b"", _TJ_CMAP)
    f2 = b.add(b"<< /Type /Font /Subtype /Type0 /BaseFont /TJ-CID"
               b" /Encoding /Identity-H /ToUnicode %d 0 R >>" % cm)
    page = b.add_stream(b"", content)
    pages = len(b.bodies) + 2
    b.add(b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R"
          b" /Resources << /Font << /F1 %d 0 R /F2 %d 0 R >> >> >>"
          % (pages, page, f1, f2))
    assert b.add(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>"
                 % (pages - 1)) == pages
    return b.build(b.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages))


_tj_element = st.one_of(
    st.binary(max_size=8),  # written as hex or as a literal
    st.integers(-400, 400), st.floats(-400, 400, allow_nan=False).map(
        lambda f: round(f, 2)),
    st.sampled_from([True, False, None, "/N", "bom"]),
)


def _tj_bytes(el, hexed: bool) -> bytes:
    if isinstance(el, bytes):
        if hexed:
            return _hex(el)
        return b"(" + pdfgen.esc_string(el) + b")"
    if el is None:
        return b"null"
    if isinstance(el, bool):
        return b"true" if el else b"false"
    if el == "/N":
        return b"/N"
    if el == "bom":
        return b"(\xfe\xff\x00A)"
    return repr(el).encode()


@given(st.lists(st.tuples(_tj_element, st.booleans()), max_size=10),
       st.sampled_from([b"/F1", b"/F2"]))
@example([(b"\x00\x03", True), (-81, False), (b"\x00\x04", False)], b"/F2")
@settings(max_examples=200, deadline=None)
def test_tj_chunk_equals_per_element_as_text_join(elements, font):
    arr = b"[" + b" ".join(_tj_bytes(el, h) for el, h in elements) + b"]"
    content = b"BT " + font + b" 11 Tf " + arr + b" TJ ET"
    res = extract_doc(_two_font_pdf(content))
    assert res["error"] is None
    encoding = parse_cmap(_TJ_CMAP) if font == b"/F2" else "/WinAnsiEncoding"
    parts = []
    for el in cos.parse_object(arr, 0)[0]:
        if isinstance(el, (bytes, str)) and not isinstance(el, cos.Name):
            parts.append(fonts.as_text(el, encoding))
        elif (isinstance(el, (int, float)) and not isinstance(el, bool)
              and el < WORD_SPACE_LIMIT):
            parts.append(" ")
    assert [s["text"] for s in res["spans"]] == ["".join(parts) + "\n"]


# --- span extractor: whole-operation scanner == the tokenize-based loop ------

def _extract_both(content: bytes):
    """extract_doc of a two-font page, with the extractor's own page
    loop and with the tokenize-based oracle loop."""
    pdf = _two_font_pdf(content)
    got = extract_doc(pdf, with_page_meta=True)
    with mock.patch.object(extract, "extract_page_spans",
                           oracles.tokenize_page_spans):
        want = extract_doc(pdf, with_page_meta=True)
    return got, want


_content_token = st.one_of(
    st.integers(-500, 500).map(lambda i: b"%d" % i),
    st.sampled_from([b"1.5", b"-.5", b"1.", b"1.2.3", b"12abc", b"+.", b"+3",
                     b"-", b"007"]),
    st.sampled_from([b"/F1", b"/F2", b"/F3", b"/Im1", b"/"]),
    st.sampled_from([b"Tf", b"Tj", b"TJ", b"T*", b"'", b'"', b"Do", b"BI",
                     b"Td", b"TD", b"Tm", b"cm", b"re", b"BT", b"ET", b"q",
                     b"Q", b"rg", b"true", b"null", b"ID", b"EI", b"Tjx",
                     b"T", b"TJ'"]),
    _hex_token(),
    _literal_token,
    _array().map(lambda case: case[0]),
    st.sampled_from([b"<< /K 1 >>", b"%c\n", b"% Tj\n", b"]", b"\x00", b"{",
                     b")", b">", b"\xff", b"BI /W 1 /H 1 ID x EI Q",
                     b"BI /W 1 ID"]),
)
_separator = st.sampled_from([b" ", b" ", b"\n", b"", b"\t\r ", b"%c\n"])


@st.composite
def _content_stream(draw):
    """Operations of the shapes the scanner takes, between any tokens."""
    out = []
    for tok in draw(st.lists(st.one_of(
            _content_token,
            st.sampled_from([b"/F1 11 Tf", b"/F2 11 Tf", b"0 -13 Td",
                             b"T*", b"(ab) Tj", b"<00410042> Tj",
                             b"[<0041> -250 (c)] TJ", b"1 0 0 1 72 720 cm"])),
            max_size=24)):
        out += [draw(_separator), tok]
    return b"".join(out)


@given(_content_stream())
@example(b"BT /F1 %c\n 11 Tf (a) Tj 1 %x\n2 Td ET")
@example(b"1.2.3 Td 12abc (a) Tj +. (b) Tj")
@example(b"1 2 BI /W 1 ID x EI Q (a) Tj")
@example(b"true null (a) Tj false")
@example(b"/F2 11%c\nTf <0041> Tj (a) /F1 11 Tf (b) Tj")
@example(b"/F1 11 Tf (a\\)b) Tj <414> Tj <41 42> Tj [[1] (a)] TJ")
@example(b"/F2 11 Tf [(a) " + b"9" * 5000 + b" <0042>] TJ [-"
         + b"9" * 5000 + b" <0043>] TJ")
@example(b"/F1 11 Tf [(\xfe\xff\x00A) -250 (b)] TJ (\xfe\xff\x00B) Tj")
@example(b"(a) Tj ] (b) Tj [1 2] ] TJ")
@example(b"(a) Tj \x00 (b) Tj")
@example(b"(a) Tj \xff (b) Tj")
@example(b"(a) Tj { (b) Tj")
@example(b"(x) %'")
@example(b"(a) Tj\n% end")
@example(b"/Im1 Do 1 0 0 1 0 0 cm /Im1 Do BI /W 1 EI")
@settings(max_examples=400, deadline=None)
def test_page_loop_equals_tokenize_loop(content):
    got, want = _extract_both(content)
    assert got == want


def test_scanner_takes_the_common_shapes():
    shapes = {b" 0 -13 Td": "skip", b" BT": "skip", b"1 0 0 1 72 720 cm": "skip",
              b"true": "skip", b"/F1 11 Tf": "tf", b"<0041> Tj": "tjhex",
              b"(ab) Tj": "tjlit", b"[<0041> -250 (c)] TJ": "tjarr",
              b"T*": "tstar"}
    for data, group in shapes.items():
        assert _OPERATION.match(data).lastgroup == group, data
    for data in (b"1 Tj", b"/F1 Tf", b"(a\\)b) Tj", b"[/N] TJ", b"/Im1 Do",
                 b"BI", b"'", b"T*x", b"(x) %'"):
        m = _OPERATION.match(data)
        assert m is None or m.lastgroup == "skip" and data == b"T*x", data


def test_page_loop_is_linear():
    """200,000 numbers pending before one show, and 100,000 ignored
    operations: each page is read in one pass."""
    for content in (b" ".join([b"1"] * 200_000) + b" /x Tj",
                    b" 0 0 Td" * 100_000):
        pdf = _two_font_pdf(content)
        t0 = time.perf_counter()
        res = extract_doc(pdf)
        assert time.perf_counter() - t0 < 2.0
        assert res["error"] is None


def test_hex_memo_is_bounded():
    cm = parse_cmap(_TJ_CMAP)
    long_digits = b"0041" * (cmap._HEX_KEY_MAX // 4 + 1)
    assert cm.hex2text(long_digits) == "A" * (cmap._HEX_KEY_MAX // 4 + 1)
    assert long_digits not in cm._hex_texts
    for i in range(cmap._TEXT_MEMO_MAX + 10):
        digits = b"%08x" % i
        assert cm.hex2text(digits) == cm.code2text(bytes.fromhex(
            digits.decode()))
    assert len(cm._hex_texts) == cmap._TEXT_MEMO_MAX


# --- extract_doc golden digests ------------------------------------------------

_GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden",
                       "extract_doc_fixtures.json")


def test_fixture_outputs_match_golden_digests(fixture_pdfs):
    """n_pages, error, span count and sha1(repr(spans)) per fixture,
    captured from the reference-certified engine. A changed digest
    needs a written reason in CHANGES.md: the reference that certified
    it is not available to regenerate it."""
    import hashlib

    with open(_GOLDEN) as f:
        golden = json.load(f)
    assert sorted(golden) == sorted(fixture_pdfs)
    got = {}
    for tag, pdf in fixture_pdfs.items():
        res = extract_doc(pdf)
        got[tag] = {"n_pages": res["n_pages"], "error": res["error"],
                    "spans": len(res["spans"]),
                    "sha1": hashlib.sha1(repr(res["spans"]).encode()).hexdigest()}
    assert got == golden


# --- PNG predictors: Up runs == per-row unfilter ----------------------------

def _unfilter_rows(data: bytes, bpp: int, rowlen: int) -> bytes:
    """PNG unfilter, one row and one byte at a time."""
    stride = rowlen + 1
    prev = [0] * rowlen
    out = bytearray()
    for r in range(len(data) // stride):
        ft = data[r * stride]
        row = list(data[r * stride + 1 : (r + 1) * stride])
        for c in range(rowlen):
            left = row[c - bpp] if c >= bpp else 0
            up = prev[c]
            ul = prev[c - bpp] if c >= bpp else 0
            if ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) >> 1
            elif ft == 4:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else up if pb <= pc else ul
            else:
                pred = 0
            row[c] = (row[c] + pred) & 0xFF
        out += bytes(row)
        prev = row
    return bytes(out)


@given(st.integers(1, 12), st.sampled_from([1, 3, 4]),
       st.lists(st.sampled_from([0, 1, 2, 2, 2, 3, 4]), max_size=24),
       st.randoms(use_true_random=False))
@settings(max_examples=200, deadline=None)
def test_up_runs_equal_per_row_unfilter(columns, colors, ftypes, rnd):
    rowlen = columns * colors
    data = b"".join(bytes([ft]) + rnd.randbytes(rowlen) for ft in ftypes)
    parms = {"/Predictor": 12, "/Columns": columns, "/Colors": colors,
             "/BitsPerComponent": 8}
    assert filters._apply_predictor(data, parms) == _unfilter_rows(
        data, colors, rowlen)


@given(st.integers(1, 8),
       st.lists(st.sampled_from([0, 1, 2, 2, 2, 3, 4]), max_size=16),
       st.integers(0, 24), st.randoms(use_true_random=False))
@settings(max_examples=100, deadline=None)
def test_predictor_drops_a_trailing_partial_row(columns, ftypes, tail, rnd):
    rowlen = columns * 3
    data = b"".join(bytes([ft]) + rnd.randbytes(rowlen) for ft in ftypes)
    partial = rnd.randbytes(tail % (rowlen + 1))  # shorter than a row
    parms = {"/Predictor": 12, "/Columns": columns, "/Colors": 3,
             "/BitsPerComponent": 8}
    assert filters._apply_predictor(data + partial, parms) == _unfilter_rows(
        data, 3, rowlen)


def test_predictor_rejects_an_unknown_filter_type():
    # rowlen 2: an Up run, a Sub row, then filter type 7
    data = bytes([2, 1, 2, 2, 3, 4, 1, 5, 6, 7, 8, 9])
    parms = {"/Predictor": 12, "/Columns": 2}
    with pytest.raises(cos.PdfError, match="unknown PNG filter type 7$"):
        filters._apply_predictor(data, parms)


# --- LZW round trip across width bumps and clear codes -----------------------

@given(st.integers(0, 2**32 - 1), st.sampled_from([0, 1, 300, 2000, 9000]),
       st.sampled_from([4, 16, 256]))
@example(0, 9000, 256)  # low redundancy: passes 12 bits, CLEAR, restarts
@example(3037, 9000, 16)  # last code lands on a width bump: STOP widens
@settings(max_examples=40, deadline=None)
def test_lzw_round_trip(seed, n, alphabet):
    rnd = random.Random(seed)
    data = bytes(rnd.randrange(alphabet) for _ in range(n))
    enc = pdfgen.lzw_encode(data)
    assert filters.lzw_decode(enc, None) == data


# --- LZW: run-wise code extraction == the per-code decoder -------------------

def _lzw_outcome(decode, data: bytes):
    try:
        return "bytes", decode(data, None)
    except Exception as exc:  # noqa: BLE001 - the exception is the result
        return "raises", type(exc).__name__


@st.composite
def _lzw_stream(draw):
    """Encoder output across width bumps and CLEARs, STOP mid-stream,
    truncations, bit flips, or random bytes."""
    rnd = draw(st.randoms(use_true_random=False))
    kind = draw(st.sampled_from(["random", "encoded", "stop", "cut", "flip"]))
    if kind == "random":
        return rnd.randbytes(rnd.randrange(600))
    n = rnd.choice([0, 5, 300, 2000, 9000])
    alphabet = rnd.choice([2, 16, 256])
    enc = pdfgen.lzw_encode(bytes(rnd.randrange(alphabet) for _ in range(n)))
    if kind == "stop":  # STOP, then bytes the decoder must not read
        return enc + rnd.randbytes(rnd.randrange(1, 40))
    if kind == "cut" and enc:
        return enc[:rnd.randrange(len(enc))]
    if kind == "flip" and enc:
        b = bytearray(enc)
        for _ in range(rnd.randint(1, 3)):
            b[rnd.randrange(len(b))] ^= 1 << rnd.randrange(8)
        return bytes(b)
    return enc


@given(_lzw_stream())
@example(b"")
@example(b"\x80\x00")  # CLEAR first
@example(pdfgen.lzw_encode(bytes(range(256)) * 40))  # every width, a CLEAR
@settings(max_examples=150, deadline=None)
def test_lzw_runs_equal_per_code_decoder(data):
    want = _lzw_outcome(oracles.lzw_decode_per_code, data)
    if want == ("raises", "IndexError"):  # a first code past the table
        want = ("raises", "PdfError")
    assert _lzw_outcome(filters.lzw_decode, data) == want


def _pack_codes(codes, width=9) -> bytes:
    bits = "".join(format(c, "0%db" % width) for c in codes)
    bits += "0" * (-len(bits) % 8)
    return int(bits, 2).to_bytes(len(bits) // 8, "big")


def test_bad_first_lzw_code_is_a_page_error():
    """Page 2's stream starts with code 300, past the 258-entry table:
    a page-level PdfError, so pages 1 and 3 keep their spans."""
    def bad_page_two(b):
        raw = _pack_codes([300, 65, 257])
        b.bodies[3] = (b"<< /Filter /LZWDecode /Length %d >>\nstream\n"
                       % len(raw) + raw + b"\nendstream")

    pdf = pdfgen.simple_pdf(
        [b"BT /F1 12 Tf (one) Tj ET", b"BT /F1 12 Tf (two) Tj ET",
         b"BT /F1 12 Tf (three) Tj ET"],
        content_filters=["LZWDecode"], builder_hook=bad_page_two)
    res = extract_doc(pdf)
    assert [s["text"] for s in res["spans"]] == ["one\n", "three\n"]
    assert res["error"] == "page 1: LZW code 300 before any table entry"


# --- fonts: one CMap per document --------------------------------------------

_TOUNICODE = (
    b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap\n"
    b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
    b"1 beginbfrange <0020> <007E> <0020> endbfrange\n"
    b"endcmap CMapName currentdict /CMap defineresource pop end end"
)


def _shared_type0_pdf(n_pages: int) -> bytes:
    """n_pages pages, each with its own /Resources naming one shared
    Type0 font with a ToUnicode CMap."""
    b = pdfgen.PdfBuilder()
    cmap = b.add_stream(b"", _TOUNICODE)
    font = b.add(b"<< /Type /Font /Subtype /Type0 /BaseFont /Shared-CID"
                 b" /Encoding /Identity-H /ToUnicode %d 0 R >>" % cmap)
    pages_num = len(b.bodies) + 2 * n_pages + 1
    kids = []
    for i in range(n_pages):
        text = "page %d" % i
        content = b.add_stream(b"", b"BT /F2 11 Tf <" + text.encode(
            "utf-16-be").hex().encode() + b"> Tj ET")
        kids.append(b.add(
            b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R"
            b" /Resources << /Font << /F2 %d 0 R >> >> >>"
            % (pages_num, content, font)))
    assert b.add(b"<< /Type /Pages /Kids [" + b" ".join(
        b"%d 0 R" % k for k in kids) + b"] /Count %d >>" % n_pages) == pages_num
    root = b.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_num)
    return b.build(root)


def test_pages_sharing_a_font_parse_its_cmap_once(monkeypatch):
    calls = []
    real = fonts.parse_cmap
    monkeypatch.setattr(fonts, "parse_cmap",
                        lambda data: calls.append(1) or real(data))
    res = extract_doc(_shared_type0_pdf(8))
    assert res["error"] is None and res["n_pages"] == 8
    assert doc_text(res["spans"]) == "".join("page %d\n" % i for i in range(8))
    assert len(calls) == 1


# --- COS name cache -----------------------------------------------------------

def test_name_cache_clears_when_full(monkeypatch):
    monkeypatch.setattr(cos, "_NAME_CACHE", {})
    for i in range(cos._NAME_CACHE_MAX):
        cos._make_name(b"/U%d" % i)
    assert len(cos._NAME_CACHE) == cos._NAME_CACHE_MAX
    assert cos._make_name(b"/Type") == "/Type"
    assert cos._NAME_CACHE == {b"/Type": "/Type"}


# --- worker zip-directory hook -----------------------------------------------

def _write_zip(path, modules: dict):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.mark.skipif(worker_daemon._LAZY_ZIP_INVALIDATION,
                    reason="Python >= 3.13 re-reads zip directories lazily")
def test_zip_hook_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "hookmods.zip"
    _write_zip(archive, {"hookmod_a.py": "X = 1\n"})
    # restores whatever invalidate_caches is installed now
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))
    try:
        assert importlib.import_module("hookmod_a").X == 1
        assert worker_daemon.install_zip_hook()
        assert zipimport.zipimporter.invalidate_caches is _invalidate_if_changed

        def ours():
            return sum(p == str(archive) for p in reads)

        importlib.invalidate_caches()  # first re-read stamps the archive
        first = ours()
        for _ in range(3):
            importlib.invalidate_caches()
        assert ours() == first  # unchanged: not re-read

        _write_zip(archive, {"hookmod_a.py": "X = 1\n",
                             "hookmod_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert ours() == first + 1
        assert importlib.import_module("hookmod_b").Y == 2
    finally:
        for name in ("hookmod_a", "hookmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_zip_hook_is_a_no_op_with_lazy_invalidation(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon._eager_invalidate)
    monkeypatch.setattr(worker_daemon, "_LAZY_ZIP_INVALIDATION", True)
    assert worker_daemon.install_zip_hook() is False
    assert (zipimport.zipimporter.invalidate_caches
            is worker_daemon._eager_invalidate)


def test_worker_reports_zip_hook_installed(spark):
    def hooked(i):
        import zipimport

        from sparkpdf.worker_daemon import _invalidate_if_changed

        yield i, zipimport.zipimporter.invalidate_caches is _invalidate_if_changed

    rows = _kernel.map_kernel(spark.range(2), ["id"], hooked,
                              "id long, hooked boolean").collect()
    assert len(rows) == 2
    assert all(r.hooked == (sys.version_info < (3, 13)) for r in rows)


def test_rdd_path_worker_reports_zip_hook_installed(spark):
    """Workers that never run an Arrow batch (plain RDD tasks) have the
    hook too: the session's worker daemon installs it before it forks."""
    def hooked(i):
        import zipimport

        from sparkpdf.worker_daemon import _invalidate_if_changed

        return i, zipimport.zipimporter.invalidate_caches is _invalidate_if_changed

    got = spark.sparkContext.parallelize(range(4), 4).map(hooked).collect()
    assert sorted(i for i, _ in got) == [0, 1, 2, 3]
    assert [h for _, h in got] == [sys.version_info < (3, 13)] * 4


def test_workers_never_import_pandas(spark):
    def pandas_loaded(i):
        import sys

        yield i, "pandas" in sys.modules

    # the first job builds an output batch in each worker; the second
    # asks the same (reused) workers
    for _ in range(2):
        rows = _kernel.map_kernel(spark.range(0, 8, 1, 4), ["id"],
                                  pandas_loaded,
                                  "id long, pandas boolean").collect()
    assert len(rows) == 8
    assert [r.pandas for r in rows] == [False] * 8


# --- pyarrow's pandas probe ---------------------------------------------------

# run in a fresh interpreter, since the test process may hold pandas;
# argv[1] "hidden" settles the probe first, "imported" imports pandas
# first, which is what pyarrow sees without the helper
_PROBE = r"""
import json, sys
import pyarrow as pa
from sparkpdf.operators._kernel import settle_pandas_probe

if sys.argv[1] == "hidden":
    settle_pandas_probe()
else:
    import pandas
hooks = list(sys.meta_path)
settle_pandas_probe()
span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                  ("media_ref", pa.string()), ("offset", pa.int32())])
spans = [[{"kind": "text", "text": "Hello\n", "media_ref": None, "offset": 0},
          {"kind": "image", "text": float("nan"), "media_ref": "img/0",
           "offset": 6}],
         [], None]
out = {
    "second_call_inert": sys.meta_path == hooks,
    "nan_nulls": pa.array([1.0, float("nan"), None], pa.float64(),
                          from_pandas=True).null_count,
    "spans": pa.array(spans, pa.list_(span), from_pandas=True).to_pylist(),
}
out["pandas"] = "pandas" in sys.modules  # after the conversions
import pandas as pd
stamps = pd.Series(pd.to_datetime(["2024-01-02"]))
out["before_to_pandas"] = str(pa.array(stamps).type)
pa.table({"x": [1]}).to_pandas()
out["after_to_pandas"] = str(pa.array(stamps).type)
print(json.dumps(out))
"""


def _probe(mode: str) -> dict:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run([sys.executable, "-c", _PROBE, mode], cwd=root,
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout)


def test_settled_probe_keeps_pandas_out_and_conversions_unchanged():
    hidden, imported = _probe("hidden"), _probe("imported")
    assert hidden["pandas"] is False and imported["pandas"] is True
    assert hidden["second_call_inert"] and imported["second_call_inert"]
    assert hidden["nan_nulls"] == imported["nan_nulls"] == 2
    assert hidden["spans"] == imported["spans"]
    assert hidden["spans"][0][1]["text"] is None  # NaN -> null, nested
    # the documented side effect, and its end at the first to_pandas()
    assert hidden["before_to_pandas"] == "timestamp[us]"
    assert hidden["after_to_pandas"] == "timestamp[ns]"
    assert imported["before_to_pandas"] == "timestamp[ns]"
