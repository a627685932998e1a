"""Deterministic synthetic-PDF builder — FIXTURES.md §2 feature matrix.

Everything is enumeration-deterministic (no randomness): the same call
always yields byte-identical PDFs, so goldens and benches are stable.
This module is also used DISTRIBUTED (inside the Arrow row kernels) to synthesise
the pdf_raw corpus from /root/testdata documents rows.
"""

from __future__ import annotations

import base64
import binascii
import zlib
from typing import Dict, List, Optional, Sequence, Tuple, Union

# printable-ASCII sanitizer — canonical definition lives with the
# HTML corpus generators (kernels/html.py); one pattern, one comment
from ..kernels.html import NONPRINTABLE  # noqa: E402

HEADER = b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n"


def esc_string(s: Union[str, bytes]) -> bytes:
    """Escape for a ( ) literal string."""
    if isinstance(s, str):
        s = s.encode("latin-1", "replace")
    return (
        s.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
    )


def hex_string(data: bytes) -> bytes:
    return b"<" + binascii.hexlify(data) + b">"


# --- stream filter ENCODERS (inverse of kernels/filters.py) ------------------

def flate_encode(data: bytes) -> bytes:
    return zlib.compress(data)


def flate_png_up_encode(data: bytes, columns: int) -> bytes:
    """PNG predictor 12 (Up): rows of `columns` bytes, filter byte 2."""
    rows = [data[i : i + columns] for i in range(0, len(data), columns)]
    prev = bytes(columns)
    out = bytearray()
    for row in rows:
        row = row.ljust(columns, b"\x00")
        out.append(2)
        out += bytes((row[i] - prev[i]) & 0xFF for i in range(columns))
        prev = row
    return zlib.compress(bytes(out))


def flate_png_paeth_encode(data: bytes, columns: int) -> bytes:
    """PNG predictor 15 with per-row filter type 4 (Paeth), bpp=1."""

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        if pb <= pc:
            return b
        return c

    rows = [data[i : i + columns].ljust(columns, b"\x00") for i in range(0, len(data), columns)]
    prev = bytes(columns)
    out = bytearray()
    for row in rows:
        out.append(4)
        for i in range(columns):
            a = row[i - 1] if i > 0 else 0
            b = prev[i]
            c = prev[i - 1] if i > 0 else 0
            out.append((row[i] - paeth(a, b, c)) & 0xFF)
        prev = row
    return zlib.compress(bytes(out))


def lzw_encode(data: bytes) -> bytes:
    """Variable-width LZW matching the DECODERS' growth rule. The
    decoders (ours and the reference's) grow their table one code
    LATER than the encoder (the first post-CLEAR code adds no entry),
    and bump the width when that lagged table reaches 2**width - 1 —
    seen from the encoder's unlagged next_code, the threshold is
    2**width exactly (a off-by-one here only bites once the table
    passes ~253 entries, i.e. inputs of a few hundred low-redundancy
    bytes). A CLEAR is emitted before the table could outgrow the
    12-bit code space."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    bitbuf = 0
    nbits = 0
    result = bytearray()

    def emit(code, w):
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << w) | code
        nbits += w
        while nbits >= 8:
            result.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    emit(256, width)  # CLEAR
    w = b""
    for byte in data:
        c = bytes([byte])
        if w + c in table:
            w = w + c
            continue
        emit(table[w], width)
        table[w + c] = next_code
        next_code += 1
        if next_code >= 4095:
            emit(256, width)  # CLEAR before the 12-bit space overflows
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        elif next_code >= (1 << width) and width < 12:
            width += 1
        w = c
    if w:
        emit(table[w], width)
        # the decoders add an entry for this last code too, and widen
        # when it reaches their threshold: STOP goes out at that width
        if next_code + 1 >= (1 << width) and width < 12:
            width += 1
    emit(257, width)  # STOP
    if nbits:
        result.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(result)


def ahx_encode(data: bytes) -> bytes:
    return binascii.hexlify(data) + b">"


def a85_encode(data: bytes) -> bytes:
    return base64.a85encode(data) + b"~>"


def encode_stream(data: bytes, filters: Sequence[str]) -> Tuple[bytes, bytes]:
    """Apply encoders in reverse filter order; returns (raw, dict_extra)."""
    parms_entries: List[bytes] = []
    raw = data
    for f in reversed(filters):
        if f == "FlateDecode":
            raw = flate_encode(raw)
            parms_entries.insert(0, b"null")
        elif f == "FlatePred12":
            columns = 16
            raw = flate_png_up_encode(raw, columns)
            parms_entries.insert(
                0, b"<< /Predictor 12 /Columns %d >>" % columns
            )
        elif f == "FlatePred15":
            columns = 16
            raw = flate_png_paeth_encode(raw, columns)
            parms_entries.insert(
                0, b"<< /Predictor 15 /Columns %d >>" % columns
            )
        elif f == "LZWDecode":
            raw = lzw_encode(raw)
            parms_entries.insert(0, b"null")
        elif f == "ASCIIHexDecode":
            raw = ahx_encode(raw)
            parms_entries.insert(0, b"null")
        elif f == "ASCII85Decode":
            raw = a85_encode(raw)
            parms_entries.insert(0, b"null")
        else:
            raise ValueError(f"no encoder for {f}")
    names = b" ".join(
        b"/" + {"FlatePred12": "FlateDecode", "FlatePred15": "FlateDecode"}
        .get(f, f)
        .encode()
        for f in filters
    )
    extra = b""
    if len(filters) == 1:
        extra += b"/Filter " + names
    elif filters:
        extra += b"/Filter [" + names + b"]"
    if any(p != b"null" for p in parms_entries):
        if len(parms_entries) == 1:
            extra += b" /DecodeParms " + parms_entries[0]
        else:
            extra += b" /DecodeParms [" + b" ".join(parms_entries) + b"]"
    return raw, extra


# --- low-level document assembly --------------------------------------------

class PdfBuilder:
    """Assigns object numbers, serializes bodies, writes the xref."""

    def __init__(self):
        self.bodies: List[Optional[bytes]] = []  # index i -> object i+1

    def add(self, body: bytes) -> int:
        """Reserve the next object number; body is raw object syntax."""
        self.bodies.append(body)
        return len(self.bodies)

    def add_stream(self, dict_extra: bytes, raw: bytes) -> int:
        body = (
            b"<< " + dict_extra + b" /Length %d >>\nstream\n" % len(raw)
            + raw
            + b"\nendstream"
        )
        return self.add(body)

    def build(
        self,
        root: int,
        info: Optional[int] = None,
        xref_style: str = "table",
        encrypt: Optional[int] = None,
        file_id: bytes = b"0123456789abcdef",
        startxref_delta: int = 0,
        startxref_garbage: bool = False,
        multisection: bool = False,
        nonzero_index: bool = False,
    ) -> bytes:
        out = bytearray(HEADER)
        offsets: Dict[int, int] = {}
        for i, body in enumerate(self.bodies, start=1):
            if body is None:
                continue
            offsets[i] = len(out)
            out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
        trailer_extra = b""
        if info:
            trailer_extra += b" /Info %d 0 R" % info
        if encrypt:
            trailer_extra += b" /Encrypt %d 0 R" % encrypt
        trailer_extra += (
            b" /ID [" + hex_string(file_id) + b" " + hex_string(file_id) + b"]"
        )
        n = len(self.bodies)
        if xref_style == "table":
            xref_pos = len(out)
            out += b"xref\n"
            if nonzero_index:
                out += b"1 %d\n" % n
                rows = range(1, n + 1)
                for i in rows:
                    out += b"%010d %05d n \n" % (offsets.get(i, 0), 0)
            elif multisection and n > 3:
                out += b"0 3\n"
                out += b"0000000000 65535 f \n"
                for i in (1, 2):
                    out += b"%010d %05d n \n" % (offsets.get(i, 0), 0)
                out += b"3 %d\n" % (n - 2)
                for i in range(3, n + 1):
                    out += b"%010d %05d n \n" % (offsets.get(i, 0), 0)
            else:
                out += b"0 %d\n" % (n + 1)
                out += b"0000000000 65535 f \n"
                for i in range(1, n + 1):
                    out += b"%010d %05d n \n" % (offsets.get(i, 0), 0)
            out += (
                b"trailer\n<< /Size %d /Root %d 0 R" % (n + 1, root)
                + trailer_extra
                + b" >>\n"
            )
        elif xref_style == "stream":
            # xref stream object gets the next object number
            xref_obj = n + 1
            xref_pos = len(out)
            entries = bytearray()
            entries += bytes([0, 0, 0, 0, 0, 255, 255])  # obj 0: free
            for i in range(1, n + 1):
                off = offsets.get(i, 0)
                entries += bytes([1]) + off.to_bytes(4, "big") + b"\x00\x00"
            entries += bytes([1]) + xref_pos.to_bytes(4, "big") + b"\x00\x00"
            raw = zlib.compress(bytes(entries))
            out += b"%d 0 obj\n" % xref_obj
            out += (
                b"<< /Type /XRef /W [1 4 2] /Size %d /Root %d 0 R" % (xref_obj + 1, root)
                + trailer_extra
                + b" /Filter /FlateDecode /Length %d >>\nstream\n" % len(raw)
                + raw
                + b"\nendstream\nendobj\n"
            )
        else:
            raise ValueError(xref_style)
        sx = xref_pos + startxref_delta
        if startxref_garbage:
            sx = len(out) + 12345
        out += b"startxref\n%d\n%%%%EOF\n" % sx
        return bytes(out)


# --- page-level convenience --------------------------------------------------

FONT_STD = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
FONT_WINANSI = (
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
    b" /Encoding /WinAnsiEncoding >>"
)
FONT_MACROMAN = (
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
    b" /Encoding /MacRomanEncoding >>"
)
FONT_SYMBOL = b"<< /Type /Font /Subtype /Type1 /BaseFont /Symbol >>"
FONT_DINGBATS = b"<< /Type /Font /Subtype /Type1 /BaseFont /ZapfDingbats >>"


def font_differences(diffs: bytes, base: bytes = b"/StandardEncoding") -> bytes:
    return (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding"
        b" << /Type /Encoding /BaseEncoding " + base
        + b" /Differences " + diffs + b" >> >>"
    )


def simple_pdf(
    page_contents: Sequence[Union[bytes, Sequence[bytes]]],
    fonts: Optional[Dict[bytes, Union[bytes, int]]] = None,
    content_filters: Sequence[str] = (),
    xref_style: str = "table",
    builder_hook=None,
    **build_kwargs,
) -> bytes:
    """One /Pages tree, shared resources, one content stream per page
    (or a list -> /Contents array)."""
    b = PdfBuilder()
    font_refs: Dict[bytes, int] = {}
    for name, spec in (fonts or {b"/F1": FONT_STD}).items():
        font_refs[name] = spec if isinstance(spec, int) else b.add(spec)
    res = (
        b"<< /Font << "
        + b" ".join(n + b" %d 0 R" % r for n, r in font_refs.items())
        + b" >> /ProcSet [/PDF /Text] >>"
    )
    res_ref = b.add(res)
    page_refs: List[int] = []
    pages_ref_num = None
    content_refs: List[Tuple[List[int], int]] = []
    for contents in page_contents:
        if isinstance(contents, (bytes, bytearray)):
            contents = [bytes(contents)]
        refs = []
        for data in contents:
            raw, extra = encode_stream(data, content_filters)
            refs.append(b.add_stream(extra, raw))
        content_refs.append((refs, 0))
    # pages tree object comes after contents so numbers are predictable
    kids_nums = []
    for refs, _ in content_refs:
        if len(refs) == 1:
            cts = b"%d 0 R" % refs[0]
        else:
            cts = b"[" + b" ".join(b"%d 0 R" % r for r in refs) + b"]"
        page_body_tpl = (
            b"<< /Type /Page /Parent {parent} 0 R /Contents " + cts + b" >>"
        )
        kids_nums.append(page_body_tpl)
    parent_num = len(b.bodies) + len(kids_nums) + 1
    for tpl in kids_nums:
        page_refs.append(b.add(tpl.replace(b"{parent}", b"%d" % parent_num)))
    pages_ref_num = b.add(
        b"<< /Type /Pages /Kids ["
        + b" ".join(b"%d 0 R" % r for r in page_refs)
        + b"] /Count %d /Resources " % len(page_refs)
        + res
        + b" /MediaBox [0 0 612 792] >>"
    )
    assert pages_ref_num == parent_num
    root = b.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_ref_num)
    if builder_hook:
        builder_hook(b)
    return b.build(root, xref_style=xref_style, **build_kwargs)


def text_content(lines: Sequence[Union[str, bytes]], font: bytes = b"/F1") -> bytes:
    """BT /F1 12 Tf (line) Tj ... ET — one Tj per line."""
    parts = [b"BT " + font + b" 12 Tf"]
    for line in lines:
        parts.append(b"(" + esc_string(line) + b") Tj")
    parts.append(b"ET")
    return b" ".join(parts)


# --- the distributed corpus builder (entry()/bench path) ---------------------

def doc_to_pdf_paged(text: str, n_pages: int, title: Optional[str] = None) -> bytes:
    """Multi-page corpus doc: the sanitized text splits into n_pages
    equal substrings (K = ceil(len/n)), one Tj per page — page i's
    extracted text is substr(printable, i*K, K) + "\n", reproducible in
    ANSI SQL for the oracle."""
    printable = NONPRINTABLE.sub("?", text)
    k = max(1, -(-len(printable) // n_pages))
    chunks = [printable[i * k : (i + 1) * k] for i in range(n_pages)]
    return simple_pdf(
        [text_content([chunk], font=b"/F1") for chunk in chunks],
        fonts={b"/F1": FONT_WINANSI},
    )


def doc_to_pdf(text: str, n_media: int = 1, title: Optional[str] = None) -> bytes:
    """One deterministic PDF per corpus document.

    Contract with the oracle SQL (see __spark_entry__.oracle_sql): the
    extracted full_text equals regexp_replace(text, '[^ -~]', '?') plus
    a trailing newline, and exactly `n_media` media spans named
    'img%02d' follow the text span.
    """
    printable = NONPRINTABLE.sub("?", text)
    content = bytearray(b"BT /F1 12 Tf (" + esc_string(printable) + b") Tj ET")
    b = PdfBuilder()
    # WinAnsi -> cp1252 decode: identity on printable ASCII, so the
    # extracted text is exactly `printable` + "\n" (oracle contract)
    f1 = b.add(FONT_WINANSI)
    xo_refs = []
    for k in range(n_media):
        xo_refs.append(
            (
                b"/img%02d" % k,
                b.add_stream(
                    b"/Type /XObject /Subtype /Image /Width 1 /Height 1"
                    b" /ColorSpace /DeviceGray /BitsPerComponent 8"
                    b" /Filter /DCTDecode",
                    b"\xff\xd8\xff\xdb-fake-jpeg-%d\xff\xd9" % k,
                ),
            )
        )
    for name, _ in xo_refs:
        content += b" q " + name + b" Do Q"
    raw, extra = encode_stream(bytes(content), ["FlateDecode"])
    cref = b.add_stream(extra, raw)
    res = (
        b"<< /Font << /F1 %d 0 R >> /XObject << " % f1
        + b" ".join(n + b" %d 0 R" % r for n, r in xo_refs)
        + b" >> >>"
    )
    page = b.add(
        b"<< /Type /Page /Parent {p} 0 R /Resources " + res
        + b" /MediaBox [0 0 612 792] /Contents %d 0 R >>" % cref
    )
    pages = b.add(
        b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page
    )
    b.bodies[page - 1] = b.bodies[page - 1].replace(b"{p}", b"%d" % pages)
    # interactive features, all deterministic functions of `title`:
    # one /Tx form field, one named destination, one outline bookmark,
    # one URI link annotation on the page
    extra_root = b""
    if title is not None:
        t = esc_string(title)
        link = b.add(
            b"<< /Type /Annot /Subtype /Link /Rect [0 0 100 20]"
            b" /A << /S /URI /URI (https://example.org/" + t + b") >> >>"
        )
        b.bodies[page - 1] = b.bodies[page - 1].replace(
            b" /MediaBox", b" /Annots [%d 0 R] /MediaBox" % link
        )
        field = b.add(
            b"<< /FT /Tx /T (fld-" + t + b") /V (v-" + t + b") /Ff 0 >>"
        )
        names = b.add(
            b"<< /Dests << /Names [(top) [%d 0 R /Fit]] >> >>" % page
        )
        ol_root_num = len(b.bodies) + 2  # bookmark added first
        bookmark = b.add(
            b"<< /Title (" + t + b") /Parent %d 0 R" % ol_root_num
            + b" /Dest [%d 0 R /Fit] >>" % page
        )
        ol_root = b.add(
            b"<< /Type /Outlines /First %d 0 R /Last %d 0 R /Count 1 >>"
            % (bookmark, bookmark)
        )
        assert ol_root == ol_root_num
        extra_root = (
            b" /AcroForm << /Fields [%d 0 R] >> /Names %d 0 R"
            b" /Outlines %d 0 R" % (field, names, ol_root)
        )
    # XMP metadata + viewer prefs, deterministic functions of the text
    # length so the oracle can restate them in SQL (length(text) is the
    # same in Python and DuckDB: sanitization replaces, never deletes)
    n = len(printable)
    day = 1 + n % 28
    xmp = (
        b'<?xpacket begin="" id="W5M0MpCehiHzreSzNTczkc9d"?>\n'
        b'<x:xmpmeta xmlns:x="adobe:ns:meta/">\n'
        b'<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">\n'
        b'<rdf:Description rdf:about=""'
        b' xmlns:dc="http://purl.org/dc/elements/1.1/"'
        b' xmlns:xmp="http://ns.adobe.com/xap/1.0/"'
        b' xmlns:pdf="http://ns.adobe.com/pdf/1.3/"'
        b' xmlns:xmpMM="http://ns.adobe.com/xap/1.0/mm/"'
        b' xmlns:pdfx="http://ns.adobe.com/pdfx/1.3/">\n'
        b"<dc:title><rdf:Alt><rdf:li xml:lang=\"x-default\">"
        + esc_string(title if title is not None else "untitled")
        .replace(b"<", b"&lt;")
        + b"</rdf:li></rdf:Alt></dc:title>\n"
        # one Seq, one Bag, and the remaining named properties the
        # reference's getter surface exposes — all deterministic in n
        b"<dc:creator><rdf:Seq>"
        b"<rdf:li>author-%d</rdf:li><rdf:li>editor-%d</rdf:li>"
        b"</rdf:Seq></dc:creator>\n" % (n % 10, n % 6)
        + b"<dc:subject><rdf:Bag>"
        b"<rdf:li>topic-%d</rdf:li><rdf:li>topic-%d</rdf:li>"
        b"</rdf:Bag></dc:subject>\n" % (n % 7, 7 + n % 11)
        + b"<dc:language><rdf:Bag><rdf:li>en</rdf:li></rdf:Bag>"
        b"</dc:language>\n"
        b"<dc:format>application/pdf</dc:format>\n"
        b"<pdf:Producer>sparkpdf</pdf:Producer>\n"
        b"<pdf:Keywords>kw%d, kw%d</pdf:Keywords>\n" % (n % 5, 5 + n % 9)
        + b"<pdf:PDFVersion>1.%d</pdf:PDFVersion>\n" % (3 + n % 5)
        + b"<xmp:CreatorTool>tool-%d</xmp:CreatorTool>\n" % (n % 4)
        + b"<xmp:CreateDate>2020-01-%02dT00:00:00Z</xmp:CreateDate>\n" % day
        + b"<xmp:ModifyDate>2020-01-%02dT06:30:00Z</xmp:ModifyDate>\n" % day
        + b"<xmp:MetadataDate>2020-02-%02dT12:00:00Z</xmp:MetadataDate>\n" % day
        + b"<xmpMM:DocumentID>uuid:doc-%d</xmpMM:DocumentID>\n" % (n % 100)
        + b"<xmpMM:InstanceID>uuid:inst-%d</xmpMM:InstanceID>\n" % (n % 50)
        # pdfx custom property: key "my car" with the U+2182 escape for
        # the space (UTF-8 E2 86 82), value deterministic in n
        + b"<pdfx:my\xe2\x86\x820020car>custom-%d</pdfx:my\xe2\x86\x820020car>\n"
        % (n % 13)
        + b"</rdf:Description>\n</rdf:RDF>\n</x:xmpmeta>\n"
        b'<?xpacket end="w"?>'
    )
    meta = b.add_stream(b"/Type /Metadata /Subtype /XML", xmp)
    layout = b"/SinglePage" if n % 2 == 0 else b"/TwoColumnLeft"
    mode = b"/UseNone" if n % 3 == 0 else b"/UseOutlines"
    root = b.add(
        b"<< /Type /Catalog /Pages %d 0 R /Metadata %d 0 R" % (pages, meta)
        + b" /PageLayout " + layout + b" /PageMode " + mode
        + extra_root + b" >>"
    )
    info = None
    if title is not None:
        info = b.add(
            b"<< /Title (" + esc_string(title) + b") /Producer (sparkpdf) >>"
        )
    return b.build(root, info=info)


def chain_bytes(seed: bytes, n_bytes: int) -> bytes:
    """Incompressible binary payload: raw sha256 digest chain (flate
    ratio ~1.0) — the scanned-image whale regime for skew experiments."""
    import hashlib

    out = bytearray()
    while len(out) < n_bytes:
        seed = hashlib.sha256(seed).digest()
        out += seed
    return bytes(out[:n_bytes])


def image_whale_pdf(i: int, payload_bytes: int) -> bytes:
    """A whale whose mass is an incompressible image XObject (DCT
    passthrough): the extraction kernel emits one media_ref span and
    never tokenizes the payload, so extraction cost per on-disk byte
    is ~IO only — the opposite compressibility regime from a
    flate-expanded text whale. Used to validate that the MEASURED
    whale cost factor (plans/salting.py) adapts where the text-tuned
    3.2 constant would over-size the target ~1.7x."""
    b = PdfBuilder()
    f1 = b.add(FONT_WINANSI)
    payload = (
        b"\xff\xd8\xff\xdb"
        + chain_bytes(b"imgwhale-%d" % i, payload_bytes)
        + b"\xff\xd9"
    )
    img = b.add_stream(
        b"/Type /XObject /Subtype /Image /Width 4096 /Height 4096"
        b" /ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /DCTDecode",
        payload,
    )
    raw, extra = encode_stream(
        b"BT /F1 12 Tf (image whale %d) Tj ET q /imgW Do Q" % i,
        ["FlateDecode"],
    )
    cref = b.add_stream(extra, raw)
    res = (
        b"<< /Font << /F1 %d 0 R >> /XObject << /imgW %d 0 R >> >>"
        % (f1, img)
    )
    page = b.add(
        b"<< /Type /Page /Parent {p} 0 R /Resources " + res
        + b" /MediaBox [0 0 612 792] /Contents %d 0 R >>" % cref
    )
    pages = b.add(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page)
    b.bodies[page - 1] = b.bodies[page - 1].replace(b"{p}", b"%d" % pages)
    root = b.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages)
    return b.build(root)
