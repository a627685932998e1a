"""Fixture corpus: one tiny deterministic PDF per parser feature
(FIXTURES.md §2). `all_fixtures()` -> {tag: pdf_bytes}; failures
localize to a single feature.
"""

from __future__ import annotations

import re
import zlib
from typing import Dict, List

from ..kernels import crypto
from . import pdfgen
from .pdfgen import (
    FONT_DINGBATS,
    FONT_MACROMAN,
    FONT_STD,
    FONT_SYMBOL,
    FONT_WINANSI,
    PdfBuilder,
    esc_string,
    font_differences,
    simple_pdf,
    text_content,
)

_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)\s*%%EOF\s*$")


def _hello(xref_style: str = "table", **kw) -> bytes:
    return simple_pdf(
        [text_content(["Hello", "World"])], xref_style=xref_style, **kw
    )


# --- xref variants -----------------------------------------------------------

def xref_classic() -> bytes:
    return _hello()


def xref_multisection() -> bytes:
    return simple_pdf(
        [text_content(["multi"]), text_content(["section"])],
        multisection=True,
    )


def xref_nonzero_index() -> bytes:
    return _hello(nonzero_index=True)


def xref_stream() -> bytes:
    return _hello(xref_style="stream")


def xref_broken_startxref() -> bytes:
    return _hello(startxref_delta=3)


def xref_rebuild() -> bytes:
    return _hello(startxref_garbage=True)


def xref_prev_chain() -> bytes:
    """Incremental update: object 1 (first content stream) replaced in an
    appended section whose xref carries /Prev to the original table."""
    base = _hello()
    m = _STARTXREF_RE.search(base)
    prev_off = int(m.group(1))
    new_content = b"BT /F1 12 Tf (Updated) Tj ET"
    raw = zlib.compress(new_content)
    # object 2 is the first page's content stream in simple_pdf layout
    body = (
        b"2 0 obj\n<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(raw)
        + raw
        + b"\nendstream\nendobj\n"
    )
    out = bytearray(base)
    obj_off = len(out)
    out += body
    xref_off = len(out)
    out += b"xref\n2 1\n%010d 00000 n \n" % obj_off
    # /Root must repeat: trailer merge is first-wins so this one rules
    root_m = re.search(rb"/Root (\d+) 0 R", base)
    out += (
        b"trailer\n<< /Size 99 /Root %s 0 R /Prev %d >>\n" % (root_m.group(1), prev_off)
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_off
    return bytes(out)


def xref_objstm() -> bytes:
    """Catalog/pages/page packed into an /ObjStm; xref stream with
    type-2 entries (exercises _reader.py:734-778 semantics)."""
    content = b"BT /F1 12 Tf (objstm) Tj ET"
    craw = zlib.compress(content)
    out = bytearray(pdfgen.HEADER)
    offsets = {}
    # obj 1: content stream (cannot live in an ObjStm)
    offsets[1] = len(out)
    out += (
        b"1 0 obj\n<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(craw)
        + craw
        + b"\nendstream\nendobj\n"
    )
    # obj 2: font
    offsets[2] = len(out)
    out += b"2 0 obj\n" + FONT_STD + b"\nendobj\n"
    # objects 3 (catalog), 4 (pages), 5 (page) packed into ObjStm obj 6
    members = [
        (3, b"<< /Type /Catalog /Pages 4 0 R >>"),
        (4, b"<< /Type /Pages /Kids [5 0 R] /Count 1 /Resources << /Font << /F1 2 0 R >> >> /MediaBox [0 0 612 792] >>"),
        (5, b"<< /Type /Page /Parent 4 0 R /Contents 1 0 R >>"),
    ]
    header = b""
    bodies = b""
    for num, body in members:
        header += b"%d %d " % (num, len(bodies))
        bodies += body + b" "
    first = len(header)
    stm_data = zlib.compress(header + bodies)
    offsets[6] = len(out)
    out += (
        b"6 0 obj\n<< /Type /ObjStm /N 3 /First %d /Filter /FlateDecode /Length %d >>\nstream\n"
        % (first, len(stm_data))
        + stm_data
        + b"\nendstream\nendobj\n"
    )
    # obj 7: xref stream
    xref_pos = len(out)
    entries = bytearray()
    entries += bytes([0, 0, 0, 0, 0, 255, 255])
    for i in (1, 2):
        entries += bytes([1]) + offsets[i].to_bytes(4, "big") + b"\x00\x00"
    for idx in range(3):  # objects 3,4,5 -> (stream 6, idx)
        entries += bytes([2]) + (6).to_bytes(4, "big") + idx.to_bytes(2, "big")
    entries += bytes([1]) + offsets[6].to_bytes(4, "big") + b"\x00\x00"
    entries += bytes([1]) + xref_pos.to_bytes(4, "big") + b"\x00\x00"
    xraw = zlib.compress(bytes(entries))
    out += (
        b"7 0 obj\n<< /Type /XRef /W [1 4 2] /Size 8 /Root 3 0 R"
        b" /Filter /FlateDecode /Length %d >>\nstream\n" % len(xraw)
        + xraw
        + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_pos
    return bytes(out)


def xref_hybrid() -> bytes:
    """Hybrid-reference file: classic table + trailer /XRefStm pointing
    at an xref stream (entries redundant with the table so pre-1.5
    readers — including the reference, which has no /XRefStm support —
    still resolve everything; our engine parses both sections)."""
    base = _hello()
    m = _STARTXREF_RE.search(base)
    table_off = int(m.group(1))
    out = bytearray(base[: m.start()])
    # xref stream object: type-1 entries for objects 0..n duplicated
    import re as _re

    nums = [int(x) for x in _re.findall(rb"(\d+) 0 obj", base)]
    top = max(nums)
    offsets = {
        int(mm.group(1)): mm.start()
        for mm in _re.finditer(rb"(\d+) 0 obj", base)
    }
    entries = bytearray(b"\x00\x00\x00\x00\x00\xff\xff")
    for i in range(1, top + 1):
        entries += b"\x01" + offsets[i].to_bytes(4, "big") + b"\x00\x00"
    xraw = zlib.compress(bytes(entries))
    stm_num = top + 1
    stm_off = len(out)
    nl = b"\n"
    out += b"%d 0 obj" % stm_num + nl
    out += (
        b"<< /Type /XRef /W [1 4 2] /Size %d"
        b" /Filter /FlateDecode /Length %d >>" % (stm_num, len(xraw))
    )
    out += nl + b"stream" + nl + xraw + nl + b"endstream" + nl + b"endobj" + nl
    # re-emit the classic table with /XRefStm in the trailer
    table = base[table_off : m.start()]
    new_table_off = len(out)
    table = table.replace(
        b"trailer" + nl + b"<< ",
        b"trailer" + nl + b"<< /XRefStm %d " % stm_off,
        1,
    )
    out += table
    out += b"startxref" + nl + b"%d" % new_table_off + nl + b"%%EOF" + nl
    return bytes(out)


_CMAP_MIXED = b"""/CIDInit /ProcSet findresource begin
begincmap
2 begincodespacerange
<00> <7F>
<8000> <FFFF>
endcodespacerange
1 beginbfchar
<41> <0058>
endbfchar
1 beginbfrange
<8040> <807F> <0061>
endbfrange
endcmap
end
"""


def enc_cmap_mixed_codespace() -> bytes:
    """1-byte and 2-byte codes in one font (toUnicode.py:118-121
    codelength list semantics)."""
    b = PdfBuilder()
    font = _cmap_font(b, _CMAP_MIXED)
    content = b"BT /F1 12 Tf <41> Tj <80408041> Tj <41804241> Tj ET"
    cref = b.add_stream(b"", content)
    res = b"<< /Font << /F1 %d 0 R >> >>" % font
    page = b.add(
        b"<< /Type /Page /Parent {p} 0 R /Resources " + res
        + b" /MediaBox [0 0 612 792] /Contents %d 0 R >>" % cref
    )
    pages = b.add(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page)
    b.bodies[page - 1] = b.bodies[page - 1].replace(b"{p}", b"%d" % pages)
    root = b.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages)
    return b.build(root)


def enc_type3() -> bytes:
    """Type3 font: the reference returns encoding=None and extractText
    crashes on the assert (toUnicode.py:861-864 + _page.py:808); the
    engine falls back to StandardEncoding (documented divergence)."""
    font = (
        b"<< /Type /Font /Subtype /Type3 /FontBBox [0 0 1 1]"
        b" /FontMatrix [1 0 0 1 0 0] /CharProcs << >> >>"
    )
    return simple_pdf([text_content([b"type3 text"])], fonts={b"/F1": font})


# --- filters -----------------------------------------------------------------

def _filtered(tag: str, filters) -> bytes:
    return simple_pdf(
        [text_content([f"filter {tag} payload", "second line"])],
        content_filters=filters,
    )


def filter_flate() -> bytes:
    return _filtered("flate", ["FlateDecode"])


def filter_flate_pred12() -> bytes:
    return _filtered("pred12", ["FlatePred12"])


def filter_flate_pred15() -> bytes:
    return _filtered("pred15", ["FlatePred15"])


def filter_lzw() -> bytes:
    return _filtered("lzw", ["LZWDecode"])


def filter_ahx() -> bytes:
    return _filtered("ahx", ["ASCIIHexDecode"])


def filter_a85() -> bytes:
    return _filtered("a85", ["ASCII85Decode"])


def filter_chain() -> bytes:
    return _filtered("chain", ["ASCII85Decode", "FlateDecode"])


def filter_dct() -> bytes:
    """DCT image XObject drawn between text ops -> media_ref span."""
    b = PdfBuilder()
    f1 = b.add(FONT_STD)
    img = b.add_stream(
        b"/Type /XObject /Subtype /Image /Width 2 /Height 2"
        b" /ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode",
        b"\xff\xd8\xff\xe0fakejpegdata\xff\xd9",
    )
    content = b"BT /F1 12 Tf (before) Tj ET q /Im0 Do Q BT (after) Tj ET"
    cref = b.add_stream(b"", content)
    res = (
        b"<< /Font << /F1 %d 0 R >> /XObject << /Im0 %d 0 R >> >>" % (f1, img)
    )
    page = b.add(
        b"<< /Type /Page /Parent 5 0 R /Resources " + res
        + b" /MediaBox [0 0 612 792] /Contents %d 0 R >>" % cref
    )
    pages = b.add(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page)
    root = b.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages)
    assert pages == 5
    return b.build(root)


# --- strings -----------------------------------------------------------------

def str_literal_escapes() -> bytes:
    content = (
        rb"BT /F1 12 Tf (esc \n nl \t tab \( paren \) oct \101\102 pct \% nested (x) done) Tj"
        + b" (eol-elide a\\\nb) Tj ET"
    )
    return simple_pdf([content])


def str_hex() -> bytes:
    content = b"BT /F1 12 Tf <48 65 6C6C 6F> Tj <313> Tj ET"  # odd pads 0
    return simple_pdf([content])


def str_utf16bom() -> bytes:
    # BOM sniff applies to LITERAL strings only (generic.py:446-462);
    # hex strings stay bytes (generic.py:500-535)
    payload = b"\xfe\xff" + "Unicode — café".encode("utf-16-be")
    content = b"BT /F1 12 Tf (" + esc_string(payload) + b") Tj ET"
    return simple_pdf([content])


# --- encodings ---------------------------------------------------------------

def enc_standard() -> bytes:
    return simple_pdf(
        [text_content([b"quote ' and ` here"])], fonts={b"/F1": FONT_STD}
    )


def enc_winansi() -> bytes:
    return simple_pdf(
        [b"BT /F1 12 Tf (" + esc_string(bytes(range(0xC0, 0xD0)) + b" caf\xe9 \x93quoted\x94") + b") Tj ET"],
        fonts={b"/F1": FONT_WINANSI},
    )


def enc_macroman() -> bytes:
    return simple_pdf(
        [b"BT /F1 12 Tf (" + esc_string(b"caf\x8e and \xa5bullet") + b") Tj ET"],
        fonts={b"/F1": FONT_MACROMAN},
    )


def enc_symbol() -> bytes:
    return simple_pdf(
        [text_content([b"abgd ABGD pqrs"])], fonts={b"/F1": FONT_SYMBOL}
    )


def enc_dingbats() -> bytes:
    return simple_pdf(
        [text_content([b"!\x25\x30ABC"])], fonts={b"/F1": FONT_DINGBATS}
    )


def enc_differences() -> bytes:
    font = font_differences(
        b"[65 /alpha /beta /gamma 97 /adieresis /emdash /Euro]"
    )
    return simple_pdf(
        [text_content([b"ABC abc XY"])], fonts={b"/F1": font}
    )


def _cmap_font(builder: PdfBuilder, cmap_src: bytes) -> int:
    cm = builder.add_stream(b"", cmap_src)
    return builder.add(
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Fake-CID"
        b" /Encoding /Identity-H /ToUnicode %d 0 R >>" % cm
    )


_CMAP_BFCHAR = b"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
/CMapName /Fake-UCS def
/CMapType 2 def
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
3 beginbfchar
<0041> <0048>
<0042> <0065 006C 006C 006F>
<0043> <4F60 597D>
endbfchar
endcmap
CMapName currentdict /CMap defineresource pop
end
end
"""

_CMAP_BFRANGE = b"""/CIDInit /ProcSet findresource begin
begincmap
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
2 beginbfrange
<0061> <007A> <0041>
<0100> <0102> [<00580058> <0059> <005A005A>]
endbfrange
endcmap
end
"""


def enc_cmap_bfchar() -> bytes:
    def hook(b):
        pass

    b = PdfBuilder()
    font = _cmap_font(b, _CMAP_BFCHAR)
    content = b"BT /F1 12 Tf <0041> Tj <00420043> Tj ET"
    cref = b.add_stream(b"", content)
    res = b"<< /Font << /F1 %d 0 R >> >>" % font
    page = b.add(
        b"<< /Type /Page /Parent {p} 0 R /Resources " + res
        + b" /MediaBox [0 0 612 792] /Contents %d 0 R >>" % cref
    )
    pages = b.add(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page)
    b.bodies[page - 1] = b.bodies[page - 1].replace(b"{p}", b"%d" % pages)
    root = b.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages)
    return b.build(root)


def enc_cmap_bfrange() -> bytes:
    b = PdfBuilder()
    font = _cmap_font(b, _CMAP_BFRANGE)
    content = b"BT /F1 12 Tf <00610062007A> Tj <010001010102> Tj ET"
    cref = b.add_stream(b"", content)
    res = b"<< /Font << /F1 %d 0 R >> >>" % font
    page = b.add(
        b"<< /Type /Page /Parent {p} 0 R /Resources " + res
        + b" /MediaBox [0 0 612 792] /Contents %d 0 R >>" % cref
    )
    pages = b.add(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page)
    b.bodies[page - 1] = b.bodies[page - 1].replace(b"{p}", b"%d" % pages)
    root = b.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages)
    return b.build(root)


# --- text operators ----------------------------------------------------------

def op_tj() -> bytes:
    return simple_pdf([b"BT /F1 12 Tf (one) Tj (two) Tj ET"])


def op_quote() -> bytes:
    return simple_pdf([b"BT /F1 12 Tf (first) Tj (quoted) ' ET"])


def op_dquote() -> bytes:
    return simple_pdf([b'BT /F1 12 Tf (x) Tj 2 3 (dquoted) " ET'])


def op_tstar() -> bytes:
    return simple_pdf([b"BT /F1 12 Tf (a) Tj T* (b) Tj ET"])


def op_tj_array() -> bytes:
    # kerning -81 -> space, -80 and -79 -> nothing (limit is < -80)
    return simple_pdf(
        [b"BT /F1 12 Tf [(A) -81 (B) -80 (C) -79.5 (D) 120 (E)] TJ ET"]
    )


def op_media_do() -> bytes:
    return filter_dct()


def op_inline_image() -> bytes:
    # data contains "EI" not followed by ws+Q -> must not terminate early
    img_data = b"\x00\x01EIx\x02\x03\xff"
    content = (
        b"BT /F1 12 Tf (pre) Tj ET q BI /W 2 /H 2 /BPC 8 /CS /G ID "
        + img_data
        + b" EI Q BT /F1 12 Tf (post) Tj ET"
    )
    return simple_pdf([content])


def contents_array() -> bytes:
    return simple_pdf(
        [[b"BT /F1 12 Tf (part one) Tj ET", b"BT /F1 12 Tf (part two) Tj ET"]]
    )


# --- page tree ---------------------------------------------------------------

def pagetree_deep() -> bytes:
    """3-level nesting; /Resources+/MediaBox inherited from root node,
    /Rotate inherited from mid node."""
    b = PdfBuilder()
    f1 = b.add(FONT_STD)
    c1 = b.add_stream(b"", b"BT /F1 12 Tf (deep one) Tj ET")
    c2 = b.add_stream(b"", b"BT /F1 12 Tf (deep two) Tj ET")
    c3 = b.add_stream(b"", b"BT /F1 12 Tf (deep three) Tj ET")
    res = b"<< /Font << /F1 %d 0 R >> >>" % f1
    # numbering: 5=top pages, 6=mid pages, 7,8,9=pages
    top, mid, p1, p2, p3 = 5, 6, 7, 8, 9
    assert b.add(
        b"<< /Type /Pages /Kids [%d 0 R %d 0 R] /Count 3 /Resources " % (p1, mid)
        + res
        + b" /MediaBox [0 0 612 792] >>"
    ) == top
    assert b.add(
        b"<< /Type /Pages /Parent %d 0 R /Kids [%d 0 R %d 0 R] /Count 2 /Rotate 90 >>"
        % (top, p2, p3)
    ) == mid
    assert b.add(b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R >>" % (top, c1)) == p1
    assert b.add(b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R >>" % (mid, c2)) == p2
    assert (
        b.add(
            b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R /Rotate 180 >>" % (mid, c3)
        )
        == p3
    )
    root = b.add(b"<< /Type /Catalog /Pages %d 0 R >>" % top)
    return b.build(root)


def comments() -> bytes:
    content = (
        b"% leading comment\nBT /F1 12 Tf % mid comment\n(visible) Tj ET"
    )
    pdf = simple_pdf([content])
    return pdf.replace(b"1 0 obj", b"% stray comment\n1 0 obj", 1)


def stream_len_indirect() -> bytes:
    """/Length as an indirect reference (generic.py:896-899)."""
    content = b"BT /F1 12 Tf (indirect length) Tj ET"
    b = PdfBuilder()
    f1 = b.add(FONT_STD)
    lref = b.add(b"%d" % len(content))
    cref = b.add(
        b"<< /Length %d 0 R >>\nstream\n" % lref + content + b"\nendstream"
    )
    res = b"<< /Font << /F1 %d 0 R >> >>" % f1
    page = b.add(
        b"<< /Type /Page /Parent {p} 0 R /Resources " + res
        + b" /MediaBox [0 0 612 792] /Contents %d 0 R >>" % cref
    )
    pages = b.add(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page)
    b.bodies[page - 1] = b.bodies[page - 1].replace(b"{p}", b"%d" % pages)
    root = b.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages)
    return b.build(root)


def stream_len_long() -> bytes:
    """Overlong /Length -> tolerant endstream backtrack."""
    pdf = simple_pdf([b"BT /F1 12 Tf (long length) Tj ET"])
    m = re.search(rb"/Length (\d+)", pdf)
    bad = b"/Length %d" % (int(m.group(1)) + 2)  # ReportLab-style overlong; both recover
    return pdf[: m.start()] + bad + pdf[m.end() :]


def docinfo() -> bytes:
    b = PdfBuilder()
    f1 = b.add(FONT_STD)
    cref = b.add_stream(b"", b"BT /F1 12 Tf (has docinfo) Tj ET")
    res = b"<< /Font << /F1 %d 0 R >> >>" % f1
    page = b.add(
        b"<< /Type /Page /Parent {p} 0 R /Resources " + res
        + b" /MediaBox [0 0 612 792] /Contents %d 0 R >>" % cref
    )
    pages = b.add(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page)
    b.bodies[page - 1] = b.bodies[page - 1].replace(b"{p}", b"%d" % pages)
    root = b.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages)
    title_utf16 = "﻿Título ünïcode".encode("utf-16-be")
    info = b.add(
        b"<< /Title <" + title_utf16.hex().encode() + b">"
        b" /Author (Ada Lovelace) /Subject (Fixtures)"
        b" /Creator (sparkpdf) /Producer (pdfgen) >>"
    )
    return b.build(root, info=info)


_XMP_XML = b"""<?xpacket begin='' id='W5M0MpCehiHzreSzNTczkc9d'?>
<x:xmpmeta xmlns:x="adobe:ns:meta/">
 <rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">
  <rdf:Description rdf:about=""
      xmlns:dc="http://purl.org/dc/elements/1.1/"
      xmlns:xmp="http://ns.adobe.com/xap/1.0/"
      xmlns:pdf="http://ns.adobe.com/pdf/1.3/"
      xmlns:xmpMM="http://ns.adobe.com/xap/1.0/mm/"
      xmlns:pdfx="http://ns.adobe.com/pdfx/1.3/">
   <dc:title><rdf:Alt><rdf:li xml:lang="x-default">Fixture Title</rdf:li></rdf:Alt></dc:title>
   <dc:creator><rdf:Seq><rdf:li>Ada</rdf:li><rdf:li>Grace</rdf:li></rdf:Seq></dc:creator>
   <dc:subject><rdf:Bag><rdf:li>spark</rdf:li><rdf:li>pdf</rdf:li></rdf:Bag></dc:subject>
   <dc:contributor><rdf:Bag><rdf:li>Edsger</rdf:li></rdf:Bag></dc:contributor>
   <dc:coverage>worldwide</dc:coverage>
   <dc:date><rdf:Seq><rdf:li>2026-01-01T00:00:00Z</rdf:li><rdf:li>2026-02-01T00:00:00Z</rdf:li></rdf:Seq></dc:date>
   <dc:description><rdf:Alt><rdf:li xml:lang="x-default">a fixture doc</rdf:li></rdf:Alt></dc:description>
   <dc:format>application/pdf</dc:format>
   <dc:identifier>fixture-id-1</dc:identifier>
   <dc:language><rdf:Bag><rdf:li>en</rdf:li><rdf:li>nl</rdf:li></rdf:Bag></dc:language>
   <dc:publisher><rdf:Bag><rdf:li>SparkPress</rdf:li></rdf:Bag></dc:publisher>
   <dc:relation><rdf:Bag><rdf:li>part-of-suite</rdf:li></rdf:Bag></dc:relation>
   <dc:rights><rdf:Alt><rdf:li xml:lang="x-default">CC0</rdf:li></rdf:Alt></dc:rights>
   <dc:source>fixture-source</dc:source>
   <dc:type><rdf:Bag><rdf:li>Text</rdf:li></rdf:Bag></dc:type>
   <pdf:Producer>sparkpdf-fixture</pdf:Producer>
   <pdf:Keywords>alpha, beta</pdf:Keywords>
   <pdf:PDFVersion>1.7</pdf:PDFVersion>
   <xmp:CreateDate>2026-01-02T03:04:05Z</xmp:CreateDate>
   <xmp:ModifyDate>2026-01-03T03:04:05Z</xmp:ModifyDate>
   <xmp:MetadataDate>2026-01-04T03:04:05Z</xmp:MetadataDate>
   <xmp:CreatorTool>sparkpdf-gen</xmp:CreatorTool>
   <xmpMM:DocumentID>uuid:fixture-doc</xmpMM:DocumentID>
   <xmpMM:InstanceID>uuid:fixture-inst</xmpMM:InstanceID>
   <pdfx:my\xe2\x86\x820020car>a value</pdfx:my\xe2\x86\x820020car>
  </rdf:Description>
 </rdf:RDF>
</x:xmpmeta>
<?xpacket end='w'?>"""


def xmp_metadata() -> bytes:
    b = PdfBuilder()
    f1 = b.add(FONT_STD)
    cref = b.add_stream(b"", b"BT /F1 12 Tf (has xmp) Tj ET")
    meta = b.add_stream(b"/Type /Metadata /Subtype /XML", _XMP_XML)
    res = b"<< /Font << /F1 %d 0 R >> >>" % f1
    page = b.add(
        b"<< /Type /Page /Parent {p} 0 R /Resources " + res
        + b" /MediaBox [0 0 612 792] /Contents %d 0 R >>" % cref
    )
    pages = b.add(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page)
    b.bodies[page - 1] = b.bodies[page - 1].replace(b"{p}", b"%d" % pages)
    root = b.add(
        b"<< /Type /Catalog /Pages %d 0 R /Metadata %d 0 R >>" % (pages, meta)
    )
    return b.build(root)


# --- encryption --------------------------------------------------------------

def _encrypted(rev: int, keylen: int) -> bytes:
    file_id = b"fixture-file-id!"
    p = -44
    o, u, key = crypto.make_encrypt_parts(b"", b"owner", p, file_id, rev, keylen)
    content = b"BT /F1 12 Tf (secret rc4 text) Tj ET"
    b = PdfBuilder()
    f1 = b.add(FONT_STD)
    # content stream will be object 2: encrypt with its object key
    enc_content = crypto.rc4(crypto.object_key(key, 2, 0), content)
    cref = b.add_stream(b"", enc_content)
    assert cref == 2
    res = b"<< /Font << /F1 %d 0 R >> >>" % f1
    page = b.add(
        b"<< /Type /Page /Parent {p} 0 R /Resources " + res
        + b" /MediaBox [0 0 612 792] /Contents %d 0 R >>" % cref
    )
    pages = b.add(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page)
    b.bodies[page - 1] = b.bodies[page - 1].replace(b"{p}", b"%d" % pages)
    root = b.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages)
    v = 1 if rev == 2 else 2
    enc = b.add(
        b"<< /Filter /Standard /V %d /R %d /Length %d /P %d /O <%s> /U <%s> >>"
        % (v, rev, keylen * 8, p, o.hex().encode(), u.hex().encode())
    )
    return b.build(root, encrypt=enc, file_id=file_id)


def encrypt_rc4_40() -> bytes:
    return _encrypted(rev=2, keylen=5)


def encrypt_rc4_128() -> bytes:
    return _encrypted(rev=3, keylen=16)


# --- catalog -----------------------------------------------------------------

ALL = {
    "xref-classic": xref_classic,
    "xref-multisection": xref_multisection,
    "xref-nonzero-index": xref_nonzero_index,
    "xref-stream": xref_stream,
    "xref-objstm": xref_objstm,
    "xref-prev-chain": xref_prev_chain,
    "xref-broken-startxref": xref_broken_startxref,
    "xref-hybrid": xref_hybrid,
    "xref-rebuild": xref_rebuild,
    "filter-flate": filter_flate,
    "filter-flate-pred12": filter_flate_pred12,
    "filter-flate-pred15": filter_flate_pred15,
    "filter-lzw": filter_lzw,
    "filter-ahx": filter_ahx,
    "filter-a85": filter_a85,
    "filter-chain": filter_chain,
    "filter-dct": filter_dct,
    "str-literal-escapes": str_literal_escapes,
    "str-hex": str_hex,
    "str-utf16bom": str_utf16bom,
    "enc-standard": enc_standard,
    "enc-winansi": enc_winansi,
    "enc-macroman": enc_macroman,
    "enc-symbol": enc_symbol,
    "enc-dingbats": enc_dingbats,
    "enc-differences": enc_differences,
    "enc-cmap-bfchar": enc_cmap_bfchar,
    "enc-cmap-bfrange": enc_cmap_bfrange,
    "enc-cmap-mixed-codespace": enc_cmap_mixed_codespace,
    "enc-type3": enc_type3,
    "op-tj": op_tj,
    "op-quote": op_quote,
    "op-dquote": op_dquote,
    "op-tstar": op_tstar,
    "op-tj-array": op_tj_array,
    "op-media-do": op_media_do,
    "op-inline-image": op_inline_image,
    "contents-array": contents_array,
    "pagetree-deep": pagetree_deep,
    "comments": comments,
    "stream-len-indirect": stream_len_indirect,
    "stream-len-long": stream_len_long,
    "docinfo": docinfo,
    "xmp-metadata": xmp_metadata,
    "encrypt-rc4-40": encrypt_rc4_40,
    "encrypt-rc4-128": encrypt_rc4_128,
}

# fixtures where the REFERENCE itself crashes or produces known-buggy
# output; engine behavior is asserted directly instead (SURVEY §7.2)
REFERENCE_DIVERGENT = {
    # as_text dict path reads an undefined var (toUnicode.py:763):
    # reference yields "?" per byte; we implement intended semantics
    "enc-differences",
    # Type3: reference crashes (encoding None -> assert); engine falls
    # back to StandardEncoding
    "enc-type3",
}


def all_fixtures() -> Dict[str, bytes]:
    return {tag: fn() for tag, fn in ALL.items()}


def doc_text(spans: List[dict]) -> str:
    """A whole document's text from extract_doc spans (the engine
    keeps only the per-page `kernels.extract.page_text`)."""
    return "".join(s["text"] for s in spans if s["kind"] == "text")
