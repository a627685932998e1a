"""Write-side round-trips (SURVEY §2.2): extract(write(spans)) == spans
and the REFERENCE can read engine-written PDFs."""

import io

import pytest

from sparkpdf.kernels import extract_doc, page_text
from sparkpdf.kernels.write import spans_to_pdf
from sparkpdf.testing.fixtures import ALL
from sparkpdf.testing.reference import load_reference


def _pages_of(res):
    pages = {}
    for s in res["spans"]:
        pages.setdefault(s["page_no"], []).append(s)
    return [pages[p] for p in sorted(pages)] or [[]]


@pytest.mark.parametrize("tag", sorted(ALL))
def test_roundtrip_fixture(tag, fixture_pdfs):
    orig = extract_doc(fixture_pdfs[tag])
    assert orig["error"] is None
    written = spans_to_pdf(_pages_of(orig))
    again = extract_doc(written)
    assert again["error"] is None, f"{tag}: {again['error']}"
    key = lambda r: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
    assert key(again) == key(orig), tag
    # offsets stay the contiguous 0..n-1 contract
    assert [s["offset"] for s in again["spans"]] == list(
        range(len(again["spans"]))
    )


@pytest.mark.parametrize("tag", sorted(ALL))
def test_reference_reads_written(tag, fixture_pdfs):
    """The reference's own extractText on an engine-written file must
    equal the engine's text — interoperability, not just self-parity."""
    orig = extract_doc(fixture_pdfs[tag])
    written = spans_to_pdf(_pages_of(orig))
    ref = load_reference()
    rd = ref.PdfFileReader(io.BytesIO(written), strict=False)
    assert rd.getNumPages() == orig["n_pages"] or orig["n_pages"] == 0
    for p in range(rd.getNumPages()):
        assert rd.getPage(p).extractText() == page_text(
            extract_doc(written)["spans"], p
        )


def test_jpx_xobject_roundtrip_and_reference_interop():
    """Round 8: a JPEG 2000 media payload embeds as a /JPXDecode
    XObject (the reference's passthrough filter) and survives the
    write -> reopen -> payload-pull chain byte-exactly for all three
    jp2 layouts; the REFERENCE also reads the engine-written file and
    hands back the identical payload through its own JPXDecode
    passthrough (filters.py:327-330)."""
    from sparkpdf.kernels.media import jp2_dims
    from sparkpdf.kernels.extract import extract_doc as _ed
    from sparkpdf.testing.imagegen import make_jp2

    for kind in ("j2k", "jp2", "jp2xl"):
        payload = make_jp2(33, 17, n_components=3, bit_depth=12,
                           kind=kind)
        spans = [
            {"kind": "text", "text": "jpx doc\n", "media_ref": None},
            {"kind": "media_ref", "text": None, "media_ref": "imgJ"},
        ]
        pdf = spans_to_pdf([spans], media_payloads={"imgJ": payload})
        res = _ed(pdf)
        assert res["error"] is None
        # engine round-trip: pull the XObject payload back
        from sparkpdf.kernels.document import PdfDocument

        (obj,) = PdfDocument(pdf).media_objects()
        assert obj["name"] == "imgJ"
        assert bytes(obj["data"]) == payload, kind
        d = jp2_dims(bytes(obj["data"]))
        assert (d["width"], d["height"], d["bits"]) == (33, 17, 12)
        # reference interop: its JPXDecode passthrough returns the
        # same bytes
        ref = load_reference()
        rd = ref.PdfFileReader(io.BytesIO(pdf), strict=False)
        xo = rd.getPage(0)["/Resources"]["/XObject"]["/imgJ"]
        assert xo.getData() == payload, kind


def test_unicode_fidelity():
    spans = [
        {"kind": "text", "text": "CJK 你好 + emoji 🚀 + ascii\n", "media_ref": None},
        {"kind": "media_ref", "text": None, "media_ref": "imgX"},
        {"kind": "text", "text": "\nquoted-continuation ünïcode", "media_ref": None},
        {"kind": "text", "text": "\n", "media_ref": None},
    ]
    pdf = spans_to_pdf([spans])
    res = extract_doc(pdf)
    assert res["error"] is None
    got = [(s["kind"], s["text"], s["media_ref"]) for s in res["spans"]]
    assert got == [(s["kind"], s["text"], s["media_ref"]) for s in spans]
    # and the reference agrees on the text
    ref = load_reference()
    rd = ref.PdfFileReader(io.BytesIO(pdf), strict=False)
    assert rd.getPage(0).extractText() == page_text(res["spans"], 0)


def test_write_enriched_encrypted_reference_interop():
    """C6/D6 closed: write-side /Info + bookmarks + URI links + RC4-128
    encryption. BOTH engines read every feature back: ours with the
    password, and the REFERENCE (decrypt + getOutlines + annots +
    getDocumentInfo) — cross-engine proof the bytes are spec-correct."""
    import io

    from sparkpdf.kernels.document import PdfDocument
    from sparkpdf.kernels.extract import extract_doc
    from sparkpdf.kernels.write import spans_to_pdf
    from sparkpdf.testing.fixtures import doc_text
    from sparkpdf.testing.reference import load_reference

    pages = [
        [
            {"kind": "text", "text": "hello world\n", "media_ref": None},
            {"kind": "media_ref", "text": None, "media_ref": "img00"},
        ],
        [{"kind": "text", "text": "page two\n", "media_ref": None}],
    ]
    pdf = spans_to_pdf(
        pages,
        title="t-doc",
        bookmarks=[("ch1", 0), ("ch2", 1)],
        links=[(0, "https://example.org/a"), (1, "https://example.org/b")],
        user_password=b"pw",
    )

    doc = PdfDocument(pdf, password=b"pw")
    assert [o["title"] for o in doc.outlines()] == ["ch1", "ch2"]
    assert [o["page_no"] for o in doc.outlines()] == [0, 1]
    assert [a["uri"] for a in doc.link_annotations()] == [
        "https://example.org/a", "https://example.org/b"]
    res = extract_doc(pdf, password=b"pw")
    assert res["error"] is None
    assert doc_text(res["spans"]) == "hello world\npage two\n"
    with pytest.raises(Exception):
        PdfDocument(pdf, password=b"wrong")

    ref = load_reference()
    r = ref.PdfFileReader(io.BytesIO(pdf))
    assert r.decrypt("pw") == 1
    assert r.getPage(0).extractText() == "hello world\n"
    assert [o.title for o in r.getOutlines()] == [b"ch1", b"ch2"]
    assert r.getDocumentInfo()["/Title"] == b"t-doc"

    # determinism: a Spark operator must be pure
    assert pdf == spans_to_pdf(
        pages,
        title="t-doc",
        bookmarks=[("ch1", 0), ("ch2", 1)],
        links=[(0, "https://example.org/a"), (1, "https://example.org/b")],
        user_password=b"pw",
    )


def test_attachments_both_directions():
    """Attachments interop: (a) the REFERENCE's addAttachment output is
    read by our attachments() projection; (b) our written attachments
    round-trip through our reader, including under encryption."""
    import io

    from sparkpdf.kernels.document import PdfDocument
    from sparkpdf.kernels.write import spans_to_pdf
    from sparkpdf.testing.reference import load_reference

    # (a) reference writes, we read
    ref = load_reference()
    w = ref.PdfFileWriter()
    w.addBlankPage(100, 100)
    w.addAttachment("hello.txt", b"Hello world!")
    buf = io.BytesIO()
    w.write(buf)
    doc = PdfDocument(buf.getvalue())
    atts = doc.attachments()
    assert [(a["filename"], a["data"]) for a in atts] == [
        ("hello.txt", b"Hello world!")
    ]

    # (b) we write (plain and encrypted), we read
    pages = [[{"kind": "text", "text": "x\n", "media_ref": None}]]
    for pw in (None, b"pw"):
        pdf = spans_to_pdf(
            pages,
            title="t",
            attachments=[("a.bin", b"\x00\x01\xff"), ("b.txt", b"data2")],
            user_password=pw,
        )
        doc = PdfDocument(pdf, password=pw or b"")
        got = {a["filename"]: a["data"] for a in doc.attachments()}
        assert got == {"a.bin": b"\x00\x01\xff", "b.txt": b"data2"}


def test_write_form_fields_encrypted_and_reference():
    """Filled text fields write-side (updatePageFormFieldValues analog):
    both engines read the name/value back; encryption included."""
    import io

    from sparkpdf.kernels.document import PdfDocument
    from sparkpdf.kernels.write import spans_to_pdf
    from sparkpdf.testing.reference import load_reference

    pages = [[{"kind": "text", "text": "x\n", "media_ref": None}]]
    for pw in (None, b"pw"):
        pdf = spans_to_pdf(
            pages, form_fields=[("name", "Ada"), ("role", "eng")],
            attachments=[("a.txt", b"z")], user_password=pw,
        )
        doc = PdfDocument(pdf, password=pw or b"")
        got = {f["name"]: f["value"] for f in doc.form_fields()}
        assert got == {"name": "Ada", "role": "eng"}
        # attachments still intact alongside the AcroForm
        assert doc.attachments()[0]["data"] == b"z"

    ref = load_reference()
    pdf = spans_to_pdf(pages, form_fields=[("name", "Ada")])
    r = ref.PdfFileReader(io.BytesIO(pdf))
    # reference getFields is dead code (Field ctor raises) — read the
    # raw AcroForm instead, like reference users must
    acro = r.trailer["/Root"]["/AcroForm"]
    f0 = acro["/Fields"][0].getObject()
    assert f0["/T"] == b"name" and f0["/V"] == b"Ada"


def test_write_navigation_reference_parity():
    """Nested outlines, named destinations, internal GoTo links and
    addJS: the REFERENCE reads back everything we write (parity:
    addBookmark parent=/_writer.py:768-842, addNamedDestination:852-869,
    addLink:1061-1145, addJS:237-279), including under encryption."""
    import io

    from sparkpdf.kernels.document import PdfDocument
    from sparkpdf.kernels.write import spans_to_pdf
    from sparkpdf.testing.reference import load_reference

    pages = [
        [{"kind": "text", "text": "front\n", "media_ref": None}],
        [{"kind": "text", "text": "back\n", "media_ref": None}],
    ]
    kwargs = dict(
        bookmarks=[("rootA", 0), ("kidA1", 1, 0), ("kidA2", 1, 0), ("rootB", 1)],
        links=[(0, 1, (10, 10, 200, 30), "/Fit"), (1, "https://e.org/x")],
        named_dests=[("zz", 1), ("aa", 0)],
        javascript="app.alert('hi');",
    )
    pdf = spans_to_pdf(pages, **kwargs)

    # reference reads the TREE (nesting as sub-lists), dests, link
    ref = load_reference()
    r = ref.PdfFileReader(io.BytesIO(pdf), strict=False)
    ol = r.getOutlines()
    assert [o.title for o in (ol[0], ol[2])] == [b"rootA", b"rootB"]
    assert [o["/Title"] for o in ol[1]] == [b"kidA1", b"kidA2"]  # nested
    assert r.getDestinationPageNumber(ol[1][0]) == 1
    nds = r.getNamedDestinations()
    assert {k: r.getDestinationPageNumber(v) for k, v in nds.items()} == {
        b"aa": 0, b"zz": 1
    }
    a0 = r.getPage(0)["/Annots"][0].getObject()
    assert list(a0["/Rect"]) == [10, 10, 200, 30]
    assert a0["/Dest"][1] == "/Fit" and a0["/Border"] == [0, 0, 0]
    js_names = r.trailer["/Root"]["/Names"]["/JavaScript"]["/Names"]
    assert js_names[1].getObject()["/JS"] == b"app.alert('hi');"

    # our reader agrees, and the surface survives encryption
    for pw in (None, b"pw"):
        enc = spans_to_pdf(pages, user_password=pw, **kwargs)
        doc = PdfDocument(enc, password=pw or b"")
        assert [(o["title"], o["level"], o["page_no"]) for o in doc.outlines()] == [
            ("rootA", 0, 0), ("kidA1", 1, 1), ("kidA2", 1, 1), ("rootB", 0, 1)
        ]
        assert [(n["name"], n["page_no"]) for n in doc.named_destinations()] == [
            ("aa", 0), ("zz", 1)
        ]
        ln = doc.link_annotations()
        assert (ln[0]["dest_page"], ln[1]["uri"]) == (1, "https://e.org/x")
        assert doc.javascript() == [{"name": "js0", "js": "app.alert('hi');"}]
    # determinism (pure Spark writer)
    assert pdf == spans_to_pdf(pages, **kwargs)


def test_reference_written_navigation_read_back():
    """REVERSE direction: the REFERENCE writes nested bookmarks, a
    named destination, a GoTo link, and addJS — our readers project
    all of it (level-tagged outlines, page-resolved dests, dest_page,
    JS text). Two reference bugs pinned while building this fixture:
    (a) addNamedDestination appends a RAW python str to the name tree,
    crashing the reference's own writer — callers must pre-wrap with
    createStringObject; (b) addJS OVERWRITES the root /Names tree
    (/root/reference/_writer.py:273-278 update), destroying any
    previously added named destinations — addJS must come first."""
    import io

    from sparkpdf.kernels.document import PdfDocument
    from sparkpdf.testing.reference import load_reference

    ref = load_reference()
    from PyPDF2.generic import createStringObject

    w = ref.PdfFileWriter()
    w.addBlankPage(100, 100)
    w.addBlankPage(100, 100)
    w.addJS("app.alert(1);")  # first, or it clobbers /Names (bug b)
    root = w.addBookmark("c1", 0)
    w.addBookmark("c1.1", 1, parent=root)
    w.addBookmark("c2", 1)
    w.addNamedDestination(createStringObject("ndest"), 1)  # bug (a)
    w.addLink(0, 1, [5, 5, 50, 20], border=None, fit="/Fit")
    buf = io.BytesIO()
    w.write(buf)

    doc = PdfDocument(buf.getvalue())
    assert [(o["title"], o["level"], o["page_no"]) for o in doc.outlines()] == [
        ("c1", 0, 0), ("c1.1", 1, 1), ("c2", 0, 1)
    ]
    assert [(n["name"], n["page_no"]) for n in doc.named_destinations()] == [
        ("ndest", 1)
    ]
    ln = doc.link_annotations()
    assert ln[0]["dest_page"] == 1 and ln[0]["uri"] is None
    assert [j["js"] for j in doc.javascript()] == ["app.alert(1);"]


def test_embedded_media_payload_roundtrip():
    """media_payloads: a REAL baseline JPEG embedded as an XObject
    round-trips byte-exactly through write -> reopen -> media_objects
    -> full pixel decode, including under encryption. Regression: the
    XObject stream must NOT be flate-wrapped (a duplicate /Filter key
    with first-wins parsing would return deflated bytes as the image)."""
    import numpy as np

    from sparkpdf.kernels.document import PdfDocument
    from sparkpdf.kernels.jpeg import decode_jpeg, encode_jpeg
    from sparkpdf.kernels.write import spans_to_pdf

    img = np.zeros((8, 16), dtype=np.uint8)
    img[:, :8] = 100
    img[:, 8:] = 180
    jpg = encode_jpeg(img)
    pages = [[
        {"kind": "text", "text": "x\n", "media_ref": None},
        {"kind": "media_ref", "text": None, "media_ref": "img00"},
    ]]
    for pw in (None, b"pw"):
        pdf = spans_to_pdf(
            pages, media_payloads={"img00": jpg}, user_password=pw
        )
        doc = PdfDocument(pdf, password=pw or b"")
        media = doc.media_objects()
        assert len(media) == 1
        m = media[0]
        assert (m["name"], m["page_no"]) == ("img00", 0)
        assert (m["width"], m["height"]) == (16, 8)  # real header dims
        assert m["data"] == jpg  # byte-exact payload back out
        assert (decode_jpeg(m["data"]) == img).all()  # lossless tiles
    # refs without a payload entry keep the stub and still parse
    pdf2 = spans_to_pdf(pages)
    m2 = PdfDocument(pdf2).media_objects()
    assert len(m2) == 1 and m2[0]["data"].startswith(b"\xff\xd8")


def test_rc4_40_write_reference_decrypts():
    """RC4-40 (V=1 R=2) write + permissions_flag parity: the reference
    (encrypt(use_128bit=False, permissions_flag=...), _writer.py:443-496)
    must decrypt our output and see the /P we asked for."""
    pages = [[{"kind": "text", "text": "forty bits\n", "media_ref": None}]]
    pdf = spans_to_pdf(
        pages, user_password=b"pw", encryption="rc4-40", permissions=-44
    )
    ref = load_reference()
    rd = ref.PdfFileReader(io.BytesIO(pdf), strict=False)
    assert rd.decrypt("pw") == 1
    assert rd.getPage(0).extractText() == "forty bits\n"
    assert rd.trailer["/Encrypt"]["/P"] == -44
    assert rd.trailer["/Encrypt"]["/V"] == 1
    # our own reader agrees
    res = extract_doc(pdf, password=b"pw")
    assert res["error"] is None
    assert res["spans"][0]["text"] == "forty bits\n"
    # permissions flag also honored on the other handlers
    p2 = spans_to_pdf(
        pages, user_password=b"pw", encryption="rc4-128", permissions=-1852
    )
    rd2 = ref.PdfFileReader(io.BytesIO(p2), strict=False)
    assert rd2.decrypt("pw") == 1
    assert rd2.trailer["/Encrypt"]["/P"] == -1852
    # reference rejects V=4/5 — check the raw (never-encrypted) dict
    for mode in ("aes-128", "aes-256"):
        p3 = spans_to_pdf(
            pages, user_password=b"pw", encryption=mode, permissions=-1852
        )
        assert b" /P -1852 >>" in p3
        res3 = extract_doc(p3, password=b"pw")
        assert res3["error"] is None


def test_write_viewer_prefs_reference_reads():
    """Catalog /PageLayout //PageMode (parity: setPageLayout/setPageMode,
    _writer.py:1157-1258) — written values read back via the reference's
    own getPageLayout/getPageMode."""
    pages = [[{"kind": "text", "text": "vp\n", "media_ref": None}]]
    pdf = spans_to_pdf(
        pages, page_layout="/TwoColumnLeft", page_mode="/UseOutlines"
    )
    ref = load_reference()
    rd = ref.PdfFileReader(io.BytesIO(pdf), strict=False)
    assert rd.getPageLayout() == "/TwoColumnLeft"
    assert rd.getPageMode() == "/UseOutlines"
    # engine reads its own output too
    from sparkpdf.kernels.document import PdfDocument

    doc = PdfDocument(pdf)
    assert doc.page_layout() == "/TwoColumnLeft"
    assert doc.page_mode() == "/UseOutlines"
    # invalid values rejected like the reference warns
    with pytest.raises(ValueError):
        spans_to_pdf(pages, page_layout="/Sideways")
    with pytest.raises(ValueError):
        spans_to_pdf(pages, page_mode="/UseMagic")
    # unset -> absent
    rd0 = ref.PdfFileReader(io.BytesIO(spans_to_pdf(pages)), strict=False)
    assert rd0.getPageLayout() is None and rd0.getPageMode() is None


def test_need_appearances_flag_set():
    """/AcroForm //NeedAppearances true whenever fields are written
    (parity: set_need_appearances_writer, _writer.py:133-152) — without
    it filled /V values render blank in most viewers."""
    pages = [[{"kind": "text", "text": "f\n", "media_ref": None}]]
    pdf = spans_to_pdf(pages, form_fields=[("name", "Alice")])
    ref = load_reference()
    rd = ref.PdfFileReader(io.BytesIO(pdf), strict=False)
    acro = rd.trailer["/Root"]["/AcroForm"]
    assert acro["/NeedAppearances"].value is True  # BooleanObject
    f0 = acro["/Fields"][0].getObject()
    assert f0["/T"] == b"name" and f0["/V"] == b"Alice"
    # no fields -> no AcroForm at all
    rd0 = ref.PdfFileReader(io.BytesIO(spans_to_pdf(pages)), strict=False)
    assert "/AcroForm" not in rd0.trailer["/Root"]


def test_media_payload_colorspace_follows_content():
    """XObject /ColorSpace derives from the payload: 3-component JPEG ->
    /DeviceRGB, grayscale -> /DeviceGray, PNG -> re-wrapped raw samples
    under /FlateDecode, non-image payloads rejected."""
    import numpy as np

    from sparkpdf.kernels import jpeg as J

    rng = np.random.default_rng(7)
    pages = [[{"kind": "text", "text": "x\n", "media_ref": None},
              {"kind": "media_ref", "text": None, "media_ref": "Im1"}]]
    ref = load_reference()

    rgb = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    rd = ref.PdfFileReader(
        io.BytesIO(spans_to_pdf(pages, media_payloads={"Im1": J.encode_jpeg(rgb)})),
        strict=False,
    )
    xo = rd.getPage(0)["/Resources"]["/XObject"]["/Im1"]
    assert xo["/ColorSpace"] == "/DeviceRGB" and xo["/Filter"] == "/DCTDecode"
    assert (xo["/Width"], xo["/Height"]) == (16, 16)

    gray = rng.integers(0, 256, (8, 8), dtype=np.uint8)
    rd2 = ref.PdfFileReader(
        io.BytesIO(spans_to_pdf(pages, media_payloads={"Im1": J.encode_jpeg(gray)})),
        strict=False,
    )
    assert rd2.getPage(0)["/Resources"]["/XObject"]["/Im1"]["/ColorSpace"] == "/DeviceGray"

    # PNG (RGBA): alpha stripped, raw FlateDecode samples, pixel-exact
    import struct
    import zlib

    def png(w, h, ch, data):
        def chunk(t, d):
            return (
                struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d))
            )

        ct = {1: 0, 3: 2, 2: 4, 4: 6}[ch]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
        rows = b"".join(
            b"\x00" + data[y * w * ch:(y + 1) * w * ch] for y in range(h)
        )
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(rows)) + chunk(b"IEND", b"")
        )

    rgba = bytes(rng.integers(0, 256, 4 * 4 * 4, dtype=np.uint8))
    rd3 = ref.PdfFileReader(
        io.BytesIO(spans_to_pdf(pages, media_payloads={"Im1": png(4, 4, 4, rgba)})),
        strict=False,
    )
    xo3 = rd3.getPage(0)["/Resources"]["/XObject"]["/Im1"]
    assert xo3["/ColorSpace"] == "/DeviceRGB"
    got = xo3.getData()
    arr = np.frombuffer(rgba, np.uint8).reshape(4, 4, 4)[..., :3].tobytes()
    assert got == arr

    with pytest.raises(ValueError):
        spans_to_pdf(pages, media_payloads={"Im1": b"not an image"})


def test_xref_stream_output():
    """xref_stream=True writes a PDF 1.5 cross-reference STREAM
    (§7.5.8) instead of the classic table: our reader's S5 path and
    the REFERENCE both read it back, round-trip equality holds, and
    the xref stream itself stays unencrypted under encryption."""
    pages = [[{"kind": "text", "text": "xref stream doc\n", "media_ref": None}]]
    pdf = spans_to_pdf(
        pages, title="t", bookmarks=[("b", 0)], xref_stream=True
    )
    assert b"/Type /XRef" in pdf and b"trailer" not in pdf
    res = extract_doc(pdf)
    assert res["error"] is None
    assert res["spans"][0]["text"] == "xref stream doc\n"
    ref = load_reference()
    rd = ref.PdfFileReader(io.BytesIO(pdf), strict=False)
    assert rd.getPage(0).extractText() == "xref stream doc\n"
    assert rd.getDocumentInfo().title == b"t"
    assert rd.getOutlines()[0]["/Title"] == b"b"
    # span-level equality vs the classic-table serialization
    classic = extract_doc(spans_to_pdf(pages, title="t", bookmarks=[("b", 0)]))
    key = lambda r: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
    assert key(res) == key(classic)
    # encrypted: xref stream must remain readable (never encrypted)
    enc = spans_to_pdf(
        pages, user_password=b"pw", encryption="rc4-128", xref_stream=True
    )
    r2 = extract_doc(enc, password=b"pw")
    assert r2["error"] is None and r2["spans"][0]["text"] == "xref stream doc\n"
    rd2 = ref.PdfFileReader(io.BytesIO(enc), strict=False)
    assert rd2.decrypt("pw") == 1
    assert rd2.getPage(0).extractText() == "xref stream doc\n"
    # wrong password still detected through the stream-xref path
    import pytest as _pytest
    from sparkpdf.kernels.cos import PdfError
    from sparkpdf.kernels.document import PdfDocument

    with _pytest.raises(PdfError):
        PdfDocument(enc, password=b"nope")


def test_deep_bit_jpeg_media_embedding():
    """12-bit (SOF1) and 16-bit lossless (SOF3) JPEG payloads embed as
    DCTDecode XObjects labeled BitsPerComponent 16 (PDF §8.9.5.1
    allows only 1/2/4/8/16) and round-trip through the media bridge
    byte-identically; 8-bit stays BPC 8."""
    import numpy as np

    from sparkpdf.kernels.document import PdfDocument
    from sparkpdf.kernels.extract import extract_doc
    from sparkpdf.kernels.jpeg import decode_jpeg, encode_jpeg
    from sparkpdf.kernels.write import spans_to_pdf
    from sparkpdf.testing.imagegen import encode_jpeg_lossless

    img12 = np.full((8, 16), 2080, dtype=np.uint16)
    img16 = np.arange(8 * 16, dtype=np.uint16).reshape(8, 16) * 512
    img8 = np.full((8, 16), 130, dtype=np.uint8)
    payloads = {
        "m12": encode_jpeg(img12, precision=12),
        "m16": encode_jpeg_lossless(img16),
        "m8": encode_jpeg(img8),
    }
    spans = [
        {"kind": "text", "text": "deep bits\n", "media_ref": None,
         "offset": 0, "page_no": 0},
    ] + [
        {"kind": "media_ref", "text": None, "media_ref": k,
         "offset": i + 1, "page_no": 0}
        for i, k in enumerate(payloads)
    ]
    raw = spans_to_pdf([spans], media_payloads=payloads)
    assert b"/BitsPerComponent 16" in raw
    assert b"/BitsPerComponent 8" in raw
    doc = PdfDocument(raw)
    media = {m["name"]: m["data"] for m in doc.media_objects()}
    # payloads survive byte-identically (no flate re-wrap of DCT)
    for k, p in payloads.items():
        got = [v for name, v in media.items() if k in name]
        assert got and got[0] == p, (k, list(media))
    # and still decode to the planted pixels
    assert (decode_jpeg([v for n, v in media.items() if "m16" in n][0])
            == img16).all()
