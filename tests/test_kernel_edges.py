"""Edge-branch unit tests: salvage/recovery paths that the fixture
matrix exercises only indirectly."""

import struct
import zlib

import pytest

from sparkpdf.kernels import cos, crypto, filters
from sparkpdf.kernels.extract import extract_doc, page_text
from sparkpdf.testing import pdfgen


def test_flate_salvage_partial():
    """Corrupted tail: decompress whatever prefix survives
    (filters.py:55-66 byte-wise salvage)."""
    good = zlib.compress(b"A" * 100)
    corrupt = good[:-4] + b"\xde\xad\xbe\xef"
    out = filters.flate_decode(corrupt, None)
    assert out.startswith(b"A")


def test_run_length_decode():
    # literal run (l<128), repeat run (l>128), EOD (128)
    enc = bytes([2]) + b"abc" + bytes([254]) + b"z" + bytes([128]) + b"junk"
    assert filters.run_length_decode(enc) == b"abc" + b"z" * 3


def test_ccitt_wrap_is_tiff():
    data = b"\x01\x02\x03"
    out = filters.ccitt_fax_wrap(data, {"/K": -1, "/Columns": 1728, "/Rows": 2})
    assert out.startswith(b"II") and out.endswith(data)
    assert struct.unpack("<h", out[2:4])[0] == 42  # TIFF magic


def test_unknown_filter_quarantines_doc():
    pdf = pdfgen.simple_pdf([b"BT /F1 12 Tf (x) Tj ET"])
    bad = pdf.replace(b"<<  /Length", b"<< /Filter /NoSuchFilter /Length")
    res = extract_doc(bad)
    assert res["error"] is not None  # quarantined, not raised


def test_crypt_identity_filter_passthrough():
    s = cos.StreamObj({"/Filter": cos.Name("/Crypt")}, b"payload")
    assert filters.decode_stream(s) == b"payload"
    s2 = cos.StreamObj(
        {"/Filter": cos.Name("/Crypt"), "/DecodeParms": {"/Name": cos.Name("/Other")}},
        b"x",
    )
    with pytest.raises(cos.PdfError):
        filters.decode_stream(s2)


def test_encrypt_v4_rejected():
    with pytest.raises(cos.PdfError):
        crypto.StandardDecryptor(
            {"/Filter": cos.Name("/Standard"), "/V": 4, "/R": 4,
             "/O": b"x" * 32, "/U": b"y" * 32, "/P": -1},
            b"id",
        )


def test_v4_stmf_strf_dispatch():
    """PDF 32000 §7.6.5: /StmF and /StrF resolve SEPARATELY; /Identity
    means passthrough. A V=4 doc with /StmF /Identity must leave stream
    bytes untouched while strings still decrypt through /StdCF."""
    id1 = b"fixture-id-0001!"
    o, u, key = crypto.make_encrypt_parts(b"", b"owner", -3904, id1, 4, 16)
    enc = {
        "/Filter": cos.Name("/Standard"), "/V": 4, "/R": 4,
        "/Length": 128, "/O": o, "/U": u, "/P": -3904,
        "/CF": {"/StdCF": {"/CFM": cos.Name("/V2")}},
        "/StmF": cos.Name("/Identity"), "/StrF": cos.Name("/StdCF"),
    }
    dec = crypto.StandardDecryptor(enc, id1, b"")
    assert dec.stm_mode == "identity" and dec.str_mode == "rc4"
    # stream raw passes through unchanged
    s = cos.StreamObj({"/Length": 9}, b"plaintext")
    assert dec.decrypt_object(s, 7, 0).raw == b"plaintext"
    # strings still decrypt with the per-object RC4 key
    okey = crypto.object_key(key, 7, 0)
    ct = crypto.rc4(okey, b"secret")
    assert dec.decrypt_object(ct, 7, 0) == b"secret"
    # and the reverse orientation: encrypted streams, plaintext strings
    enc2 = dict(enc)
    enc2["/StmF"], enc2["/StrF"] = cos.Name("/StdCF"), cos.Name("/Identity")
    dec2 = crypto.StandardDecryptor(enc2, id1, b"")
    assert dec2.stm_mode == "rc4" and dec2.str_mode == "identity"
    s2 = cos.StreamObj({"/Length": 6}, crypto.rc4(okey, b"stream"))
    assert dec2.decrypt_object(s2, 7, 0).raw == b"stream"
    assert dec2.decrypt_object("as-is", 7, 0) == "as-is"
    # omitted /StmF//StrF default to /Identity per spec
    enc3 = {k: v for k, v in enc.items() if k not in ("/StmF", "/StrF")}
    dec3 = crypto.StandardDecryptor(enc3, id1, b"")
    assert dec3.stm_mode == "identity" and dec3.str_mode == "identity"


def test_wrong_password_detected():
    from sparkpdf.testing.fixtures import encrypt_rc4_40
    from sparkpdf.kernels.document import PdfDocument

    with pytest.raises(cos.PdfError):
        PdfDocument(encrypt_rc4_40(), password=b"wrong-password")


def test_duplicate_dict_keys_first_wins():
    d, _ = cos.parse_dict(b"<< /K 1 /K 2 >>", 0)
    assert d == {"/K": 1}


def test_number_edge_cases():
    assert cos.parse_object(b".5", 0)[0] == 0.5
    assert cos.parse_object(b"-.25", 0)[0] == -0.25
    assert cos.parse_object(b"17.", 0)[0] == 17.0
    # indirect-ref guard: "1 0 Rx" is a number then junk, not a Ref
    v, pos = cos.parse_object(b"1 0 Rx", 0)
    assert v == 1 and pos == 1


def test_trailer_less_rebuild():
    """File with garbage startxref AND no trailer keyword: catalog
    found by scanning object bodies (xref.py rebuild fallback)."""
    pdf = pdfgen.simple_pdf([b"BT /F1 12 Tf (rebuilt) Tj ET"],
                            startxref_garbage=True)
    # remove the trailer section entirely (keep startxref pointer)
    t = pdf.index(b"trailer")
    sx = pdf.index(b"startxref")
    pdf2 = pdf[:t] + pdf[sx:]
    res = extract_doc(pdf2)
    assert res["error"] is None
    assert page_text(res["spans"], 0) == "rebuilt\n"


def test_objstm_tolerant_index_mismatch():
    """Type-2 entry with a wrong in-stream index still resolves by
    scanning the member list (document.py:_from_object_stream)."""
    from sparkpdf.testing.fixtures import xref_objstm
    from sparkpdf.kernels.document import PdfDocument

    pdf = xref_objstm()
    doc = PdfDocument(pdf)
    # force wrong indices, drop caches, re-resolve
    doc.xref.in_objstm = {k: (s, (i + 1) % 3) for k, (s, i) in doc.xref.in_objstm.items()}
    doc._cache.clear()
    doc._objstm_cache.clear()
    doc._pages = None
    assert doc.num_pages() == 1


def test_ref_cycle_quarantines_not_hangs():
    """A 0 R -> B 0 R -> A 0 R must raise PdfError (quarantined by
    extract_doc), never spin an executor task forever (ADVICE r1 high)."""
    from sparkpdf.kernels.cos import PdfError, Ref
    from sparkpdf.kernels.document import PdfDocument

    b = pdfgen.PdfBuilder()
    b.add(b"2 0 R")  # obj 1 -> obj 2
    b.add(b"1 0 R")  # obj 2 -> obj 1 (cycle)
    b.add(b"<< /Type /Page /Parent 4 0 R /Contents 1 0 R >>")  # obj 3
    b.add(b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")  # obj 4
    root = b.add(b"<< /Type /Catalog /Pages 4 0 R >>")
    pdf = b.build(root)

    doc = PdfDocument(pdf)
    with pytest.raises(PdfError):
        doc.resolve(Ref(1, 0))
    res = extract_doc(pdf)  # cycle hit resolving page contents
    assert res["error"] is not None and "cycle" in res["error"]


def test_cyclic_page_tree_page_number_map():
    """/Pages node listing itself in /Kids: _page_number_map must
    terminate like pages() does (ADVICE r1 medium)."""
    from sparkpdf.kernels.document import PdfDocument

    b = pdfgen.PdfBuilder()
    b.add_stream(b"", b"BT /F1 12 Tf (x) Tj ET")  # obj 1
    b.add(b"<< /Type /Page /Parent 3 0 R /Contents 1 0 R >>")  # obj 2
    b.add(b"<< /Type /Pages /Kids [2 0 R 3 0 R] /Count 1 >>")  # obj 3: self-kid
    root = b.add(b"<< /Type /Catalog /Pages 3 0 R >>")
    pdf = b.build(root)

    doc = PdfDocument(pdf)
    m = doc._page_number_map()
    assert m == {2: 0}


def test_decode_parms_shorter_than_filter_chain():
    """/DecodeParms list shorter than /Filter must pad with None, not
    silently skip trailing filters (ADVICE r1 low)."""
    payload = b"padded-parms-roundtrip"
    raw = pdfgen.ahx_encode(pdfgen.flate_encode(payload))
    s = cos.StreamObj(
        {
            "/Filter": [cos.Name("/ASCIIHexDecode"), cos.Name("/FlateDecode")],
            "/DecodeParms": [None],  # one entry for two filters
        },
        raw,
    )
    assert filters.decode_stream(s) == payload


def test_image_dims_parsers():
    """Real header decode (VERDICT r1 #5): JPEG SOF, PNG IHDR, GIF LSD,
    TIFF IFD — including the TIFF containers our own CCITT wrap emits."""
    from sparkpdf.kernels.media import image_dims
    from sparkpdf.testing.imagegen import make_gif, make_jpeg, make_png

    assert image_dims(make_png(640, 480)) == {
        "format": "png", "width": 640, "height": 480}
    assert image_dims(make_jpeg(1920, 1080)) == {
        "format": "jpeg", "width": 1920, "height": 1080, "bits": 8,
        "components": 3}
    assert image_dims(make_gif(13, 7)) == {
        "format": "gif", "width": 13, "height": 7}
    tiff = filters.ccitt_fax_wrap(b"\x01\x02", {"/K": -1, "/Columns": 1728,
                                                "/Rows": 4}, 4)
    d = image_dims(tiff)
    assert d and d["format"] == "tiff" and d["width"] == 1728 and d["height"] == 4
    # robustness: garbage, truncation, empty never raise
    assert image_dims(b"") is None
    assert image_dims(b"not an image at all") is None
    assert image_dims(make_png(10, 10)[:15]) is None
    assert image_dims(make_jpeg(10, 10)[:5]) is None
    assert image_dims(b"\xff\xd8\xff\xd9") is None  # SOI+EOI, no frame


def test_image_dims_never_raises_fuzz():
    """Random bytes + truncated real headers: image_dims returns a dict
    or None, never raises (feature extraction shares extraction's
    quarantine discipline)."""
    import random

    from sparkpdf.kernels.media import image_dims
    from sparkpdf.testing.imagegen import make_jpeg, make_png

    rng = random.Random(7)
    seeds = [make_png(9, 9), make_jpeg(9, 9),
             b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"II*\x00", b"MM\x00*"]
    for trial in range(300):
        base = seeds[trial % len(seeds)]
        b = bytearray(base[: rng.randrange(0, len(base) + 1)])
        for _ in range(rng.randrange(0, 4)):
            if b:
                b[rng.randrange(len(b))] = rng.randrange(256)
        b += bytes(rng.randrange(256) for _ in range(rng.randrange(0, 16)))
        out = image_dims(bytes(b))
        assert out is None or isinstance(out, dict)


def test_av_container_parsers():
    """WAV/RIFF and MP4/ISO-BMFF header parsing (audio/video stub
    closed): duration/rate/dims from container structures, truncated
    and foreign payloads rejected cleanly."""
    from sparkpdf.kernels.media import (
        audio_info, mp4_info, video_info, wav_info,
    )
    from sparkpdf.testing.imagegen import make_mp4, make_png, make_wav

    w = make_wav(12000, 250, channels=2, bits=16)
    assert wav_info(w) == {
        "format": "wav", "sample_rate": 12000, "channels": 2,
        "bits": 16, "duration_ms": 250,
    }
    m = make_mp4(640, 360, 1500)
    got = mp4_info(m)
    assert (got["width"], got["height"], got["duration_ms"]) == (640, 360, 1500)
    assert got["brand"] == "isom"
    # sniffing: wrong container -> None, not an exception
    assert wav_info(m) is None and mp4_info(w) is None
    assert audio_info(w)["format"] == "wav"
    assert video_info(m)["format"] == "mp4"
    png = make_png(4, 4)
    assert audio_info(png) is None and video_info(png) is None
    # truncation tolerance: no IndexError on any prefix
    for n in range(0, len(m), 7):
        mp4_info(m[:n])
    for n in range(0, len(w), 7):
        wav_info(w[:n])
    # 64-bit largesize box and v1 mvhd parse too
    big = (1).to_bytes(4, "big") + b"moov" + (16).to_bytes(8, "big")
    assert mp4_info(m[:32] + big) is not None  # no crash on largesize


def test_mp4_v1_mvhd_truncation_no_wrong_duration():
    """A version-1 mvhd whose 64-bit duration field is truncated must be
    SKIPPED, not silently decoded short (the bounds check reads through
    s2+32, so guarding only s2+28 let int.from_bytes of a short slice
    return a wrong smaller duration)."""
    from sparkpdf.kernels.media import mp4_info

    def mp4_v1(payload_len: int) -> bytes:
        # mvhd v1: ver/flags + 8-byte ctime + 8-byte mtime + 4-byte
        # timescale + 8-byte duration = 32 bytes minimum
        body = (
            b"\x01\x00\x00\x00" + b"\x00" * 16
            + (1000).to_bytes(4, "big")
            + (5000).to_bytes(8, "big")
        )[:payload_len]
        mvhd = (len(body) + 8).to_bytes(4, "big") + b"mvhd" + body
        moov = (len(mvhd) + 8).to_bytes(4, "big") + b"moov" + mvhd
        ftyp = (16).to_bytes(4, "big") + b"ftyp" + b"isom" + b"\x00" * 4
        return ftyp + moov

    full = mp4_info(mp4_v1(32))
    assert full and full["duration_ms"] == 5000
    # truncated inside the duration field: entry skipped entirely
    for cut in range(25, 32):
        got = mp4_info(mp4_v1(cut))
        assert got is not None and "duration_ms" not in got, cut


def test_dict_scanner_linear_on_ws_bomb():
    """A long whitespace run followed by a non-key byte must fail FAST:
    the combined dict/array scanners use single-char ws alternation —
    the (ws+|comment)* shape backtracks exponentially here."""
    import time

    bomb = b"<< " + b" " * 4000 + b"x >>"
    t0 = time.time()
    with pytest.raises(cos.PdfError):
        cos.parse_dict(bomb, 0)
    arr_bomb = b"[" + b" " * 4000 + b"\x07]"
    with pytest.raises(cos.PdfError):
        cos.parse_object(arr_bomb, 0)
    assert time.time() - t0 < 1.0  # exponential blowup would hang


def test_deep_nesting_reads_without_recursion():
    """parse_object nests on an explicit stack: 100,000 levels of
    arrays or of dicts read under the default recursion limit."""
    depth = 100_000
    arr = b"[" * depth + b"]" * depth
    v, end = cos.parse_object(arr, 0)
    assert end == len(arr)
    for _ in range(depth - 1):
        (v,) = v
    assert v == []
    dct = b"<< /a " * depth + b"1" + b" >>" * depth
    v, end = cos.parse_object(dct, 0)
    assert end == len(dct)
    for _ in range(depth):
        v = v["/a"]
    assert v == 1


def test_deeply_nested_content_keeps_every_page():
    """5,000 nested arrays in page 2's content are one TJ operand; the
    document is not quarantined and pages 1 and 3 keep their text."""
    pdf = pdfgen.simple_pdf([
        b"BT /F1 12 Tf (one) Tj ET",
        b"BT /F1 12 Tf " + b"[" * 5000 + b"]" * 5000 + b" TJ ET",
        b"BT /F1 12 Tf (three) Tj ET",
    ], fonts={b"/F1": pdfgen.FONT_WINANSI})
    res = extract_doc(pdf)
    assert res["error"] is None and res["n_pages"] == 3
    assert page_text(res["spans"], 0) == "one\n"
    assert page_text(res["spans"], 2) == "three\n"


def test_deeply_nested_font_dict_extracts():
    deep = b"<< /a " * 3000 + b"1" + b" >>" * 3000
    font = pdfgen.FONT_WINANSI[:-2] + b" /Deep " + deep + b" >>"
    res = extract_doc(pdfgen.simple_pdf([b"BT /F1 12 Tf (deep font) Tj ET"],
                                        fonts={b"/F1": font}))
    assert res["error"] is None
    assert page_text(res["spans"], 0) == "deep font\n"


def test_ref_past_the_digit_limit_is_a_pdf_error():
    """int() refuses more than 4,300 digits; a Ref that long is a
    PdfError, so the tokenizer stops there like at any bad operand."""
    from sparkpdf.kernels.content import tokenize

    with pytest.raises(cos.PdfError):
        cos.parse_object(b"9" * 5000 + b" 0 R", 0)
    assert tokenize(b"(a) Tj [" + b"9" * 5000 + b" 0 R] TJ") == [([b"a"], "Tj")]


def test_png_pixel_decode_all_filters():
    """png_pixels must invert every PNG row filter (Sub/Up/Average/
    Paeth) — the same predictor kernel the xref-stream path uses — and
    reject depth-16/interlaced/truncated files with None."""
    import struct as _struct
    import zlib as _zlib

    from sparkpdf.kernels.media import png_mean_luma, png_pixels
    from sparkpdf.testing.imagegen import _png_chunk, make_png

    w, h, ch = 4, 5, 3
    raw_rows = [
        bytes((x * 7 + y * 13) % 256 for x in range(w * ch)) for y in range(h)
    ]

    def filt(ft, row, prev):
        out = bytearray()
        for c, v in enumerate(row):
            left = row[c - ch] if c >= ch else 0
            up = prev[c]
            ul = prev[c - ch] if c >= ch else 0
            if ft == 0:
                p = 0
            elif ft == 1:
                p = left
            elif ft == 2:
                p = up
            elif ft == 3:
                p = (left + up) >> 1
            else:  # paeth
                q = left + up - ul
                pa, pb, pc = abs(q - left), abs(q - up), abs(q - ul)
                p = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
            out.append((v - p) & 0xFF)
        return bytes(out)

    scan = bytearray()
    prev = bytes(w * ch)
    for y, row in enumerate(raw_rows):
        ft = y % 5  # exercise every filter type
        scan += bytes([ft]) + filt(ft, row, prev)
        prev = row
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib.compress(bytes(scan)))
        + _png_chunk(b"IEND", b"")
    )
    got = png_pixels(png)
    assert got is not None
    gw, gh, gch, pix = got
    assert (gw, gh, gch) == (w, h, ch)
    assert pix == b"".join(raw_rows)

    # rejects: 16-bit depth, interlaced, truncated IDAT
    deep = png.replace(ihdr, _struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0))
    assert png_pixels(b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR",
        _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1))) is None  # interlace
    assert png_mean_luma(png[:40]) is None
    # good file: luma matches the integer formula
    p2 = make_png(6, 4)
    tot = 0
    for y in range(4):
        for p in range(6):
            r = (9 * p + y) % 256
            g = (9 * p + 3 + y) % 256
            b = (9 * p + 6 + y) % 256
            tot += 299 * r + 587 * g + 114 * b
    assert png_mean_luma(p2) == round(tot / (1000.0 * 24), 6)


def test_mp3_and_mkv_header_parse():
    """MP3 Layer-III frame-header walk + Matroska EBML parse (public
    ISO 11172-3 / matroska.org specs): planted metadata reads back
    exactly; truncations and junk never raise."""
    from sparkpdf.kernels.media import (
        audio_info, mkv_info, mp3_info, video_info,
    )
    from sparkpdf.testing.imagegen import make_mkv, make_mp3

    m = make_mp3(12)
    got = mp3_info(m)
    assert got == {
        "format": "mp3", "sample_rate": 32000, "bitrate_kbps": 64,
        "channels": 2, "duration_ms": 432,  # 12 frames * 36 ms
    }
    # ID3v2 prefix skipped; other rates/bitrates honored
    assert mp3_info(make_mp3(7, id3=True))["duration_ms"] == 7 * 36
    g = mp3_info(make_mp3(5, sample_rate=48000, kbps=96))
    assert g["sample_rate"] == 48000 and g["duration_ms"] == 5 * 1152 * 1000 // 48000
    # trailing junk after the last full frame: full frames still counted
    assert mp3_info(m + b"\xff\xfb")["duration_ms"] == 432
    # truncation sweep never raises; partial final frame not counted
    for n in range(0, len(m), 13):
        out = mp3_info(m[:n])
        assert out is None or out["duration_ms"] % 36 == 0

    k = make_mkv(640, 360, 1500)
    assert mkv_info(k) == {
        "format": "mkv", "width": 640, "height": 360, "duration_ms": 1500,
    }
    assert mkv_info(make_mkv(100, 80, 700, doctype=b"webm"))["format"] == "webm"
    for n in range(0, len(k), 7):
        mkv_info(k[:n])
    assert audio_info(m)["format"] == "mp3"
    assert video_info(k)["format"] == "mkv"
    assert mp3_info(b"\xff\xe0") is None and mkv_info(b"\x1a\x45") is None


def test_pixel_stats_header_only():
    """pixel_formats=set() is header-only (the image-heavy-corpus mode
    pixel_stats_policy picks when no format fits the budget): dims
    survive, pixel-derived stats are skipped; None decodes every
    format."""
    import numpy as np

    from sparkpdf.kernels.jpeg import encode_jpeg
    from sparkpdf.operators.multimodal import _decode_image

    enc = encode_jpeg(np.full((8, 8), 100, dtype=np.uint8))
    full = _decode_image(enc)
    assert full["mean_luma"] == 100.0 and full["width"] == 8
    hdr = _decode_image(enc, pixel_formats=set())
    assert "mean_luma" not in hdr and hdr["width"] == 8


def test_png_full_colortype_depth_matrix():
    """png_pixels covers every legal PNG colortype/bit-depth combo plus
    Adam7: palette (PLTE expansion), 1/4-bit gray (scaled), 16-bit
    (high byte), and interlaced == non-interlaced pixel equality —
    all against independently packed files (filter 0 rows)."""
    import struct
    import zlib

    import numpy as np

    from sparkpdf.kernels.media import png_mean_luma, png_pixels

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d)))

    def build(w, h, depth, ctype, interlace, raw, plte=None):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    def pack_rows(arr, pw, depth):
        ph = arr.shape[0]
        rows = b""
        for y in range(ph):
            if depth == 8:
                rows += b"\x00" + arr[y].astype(np.uint8).tobytes()
            elif depth == 16:
                rows += b"\x00" + arr[y].astype(">u2").tobytes()
            else:
                bits = []
                for x in range(pw):
                    bits.extend(
                        int(c) for c in format(int(arr[y, x, 0]), f"0{depth}b")
                    )
                while len(bits) % 8:
                    bits.append(0)
                rows += b"\x00" + np.packbits(
                    np.array(bits, np.uint8)).tobytes()
        return rows

    rng = np.random.default_rng(0)
    pal = (np.arange(48, dtype=np.uint8).reshape(16, 3) * 5)

    idx = rng.integers(0, 16, (7, 9, 1), dtype=np.uint8)
    w, h, ch, pix = png_pixels(
        build(9, 7, 8, 3, 0, pack_rows(idx, 9, 8), plte=pal.tobytes()))
    assert ch == 3
    assert np.array_equal(
        np.frombuffer(pix, np.uint8).reshape(7, 9, 3), pal[idx[..., 0]])

    idx4 = rng.integers(0, 16, (5, 5, 1), dtype=np.uint8)
    _, _, _, pix = png_pixels(
        build(5, 5, 4, 3, 0, pack_rows(idx4, 5, 4), plte=pal.tobytes()))
    assert np.array_equal(
        np.frombuffer(pix, np.uint8).reshape(5, 5, 3), pal[idx4[..., 0]])

    g1 = rng.integers(0, 2, (6, 11, 1), dtype=np.uint8)
    _, _, ch, pix = png_pixels(build(11, 6, 1, 0, 0, pack_rows(g1, 11, 1)))
    assert ch == 1
    assert np.array_equal(
        np.frombuffer(pix, np.uint8).reshape(6, 11), g1[..., 0] * 255)

    g16 = rng.integers(0, 65536, (4, 6, 1), dtype=np.uint32)
    _, _, _, pix = png_pixels(build(6, 4, 16, 0, 0, pack_rows(g16, 6, 16)))
    assert np.array_equal(
        np.frombuffer(pix, np.uint8).reshape(4, 6),
        (g16[..., 0] >> 8).astype(np.uint8))

    c16 = rng.integers(0, 65536, (3, 5, 3), dtype=np.uint32)
    _, _, _, pix = png_pixels(build(5, 3, 16, 2, 0, pack_rows(c16, 5, 16)))
    assert np.array_equal(
        np.frombuffer(pix, np.uint8).reshape(3, 5, 3),
        (c16 >> 8).astype(np.uint8))

    # Adam7: interleaved passes decode to the SAME pixels
    adam7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
             (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    img = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    rows_i = b""
    for x0, y0, dx, dy in adam7:
        sub = img[y0::dy, x0::dx]
        if sub.size:
            rows_i += pack_rows(sub, sub.shape[1], 8)
    png_i = build(17, 13, 8, 2, 1, rows_i)
    _, _, _, pix = png_pixels(png_i)
    assert np.array_equal(
        np.frombuffer(pix, np.uint8).reshape(13, 17, 3), img)
    assert png_mean_luma(png_i) is not None
    # palette index out of range / missing PLTE / truncations quarantine
    assert png_pixels(build(5, 5, 4, 3, 0, pack_rows(idx4, 5, 4))) is None
    bad_idx = np.full((2, 2, 1), 17, dtype=np.uint8)
    assert png_pixels(
        build(2, 2, 8, 3, 0, pack_rows(bad_idx, 2, 8),
              plte=pal.tobytes())) is None
    for n in range(0, len(png_i), 13):
        png_pixels(png_i[:n])


def test_gif_frame_decode():
    """Real GIF frame decode: variable-width LSB LZW, palette
    expansion, 4-pass de-interlace — against independently built files
    (literal-code streams that exercise table/width growth)."""
    import numpy as np

    from sparkpdf.kernels.media import gif_mean_luma, gif_pixels
    from sparkpdf.testing.imagegen import make_gif, make_gif_frame

    rng = np.random.default_rng(4)
    pal = rng.integers(0, 256, (11, 3), dtype=np.uint8)
    idx = rng.integers(0, 11, (14, 23), dtype=np.uint8)
    exp = pal[idx]

    for interlace in (False, True):
        gif = make_gif_frame(idx, pal, interlace=interlace)
        w, h, ch, pix = gif_pixels(gif)
        assert (w, h, ch) == (23, 14, 3)
        assert np.array_equal(
            np.frombuffer(pix, np.uint8).reshape(14, 23, 3), exp), interlace
    # integer-exact luma against direct computation
    gif = make_gif_frame(idx, pal)
    a = exp.astype(np.int64)
    total = int((a[..., 0] * 299 + a[..., 1] * 587 + a[..., 2] * 114).sum())
    assert gif_mean_luma(gif) == round(total / (1000.0 * 23 * 14), 6)
    # large frame: LZW table crosses the 4096-entry cap at width 12
    big = rng.integers(0, 11, (70, 70), dtype=np.uint8)
    w, h, ch, pix = gif_pixels(make_gif_frame(big, pal))
    assert np.array_equal(
        np.frombuffer(pix, np.uint8).reshape(70, 70, 3), pal[big])
    # header-only fixture (no frame) and truncations quarantine
    assert gif_pixels(make_gif(8, 8)) is None
    full = make_gif_frame(idx, pal, interlace=True)
    for n in range(0, len(full), 11):
        out = gif_pixels(full[:n])
        assert out is None or len(out) == 4


def test_lzw_width_bump_and_overflow_roundtrip():
    """Deterministic LZW regression beyond what the hypothesis sizes
    reach: the encoder's width-bump timing was one code EARLY relative
    to both decoders (visible only past ~253 table entries), and the
    table now CLEARs before outgrowing 12-bit codes. Round-trips
    through our decoder AND the reference's at sizes that cross every
    width transition and the 4095-entry overflow."""
    import numpy as np

    from sparkpdf.kernels.filters import lzw_decode
    from sparkpdf.testing.pdfgen import lzw_encode
    from sparkpdf.testing.reference import load_reference

    ref = load_reference()
    rng = np.random.default_rng(6)
    for data in (
        bytes(rng.integers(0, 256, 663, dtype=np.uint8)),   # 9->10 bump
        bytes(rng.integers(0, 256, 5000, dtype=np.uint8)),  # ->11/12
        bytes(rng.integers(0, 256, 20000, dtype=np.uint8)),  # overflow CLEAR
        bytes(rng.integers(0, 4, 30000, dtype=np.uint8)),   # compressible
    ):
        enc = lzw_encode(data)
        assert lzw_decode(enc, None) == data
        assert bytes(ref.filters.LZWDecode.decode(enc, None)) == data


def test_tiff_strip_pixel_decode():
    """Baseline TIFF strip decode: none/LZW/PackBits compressions,
    multi-strip, both byte orders, horizontal-differencing predictor,
    1-bit bilevel with WhiteIsZero inversion — against independently
    built files (testing/imagegen.make_tiff)."""
    import numpy as np

    from sparkpdf.kernels.media import tiff_mean_luma, tiff_pixels
    from sparkpdf.testing.imagegen import make_tiff

    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    for comp in (1, 5, 32773):
        for rps in (0, 4):
            for bo in ("II", "MM"):
                t = make_tiff(img, compression=comp, rows_per_strip=rps,
                              byte_order=bo)
                got = tiff_pixels(t)
                assert got is not None, (comp, rps, bo)
                w, h, ch, pix = got
                assert (w, h, ch) == (17, 13, 3)
                assert np.array_equal(
                    np.frombuffer(pix, np.uint8).reshape(13, 17, 3), img
                ), (comp, rps, bo)
    # gray + predictor 2 + LZW + strips
    g = rng.integers(0, 256, (9, 21), dtype=np.uint8)
    t = make_tiff(g, compression=5, predictor=2, rows_per_strip=3)
    w, h, ch, pix = tiff_pixels(t)
    assert ch == 1
    assert np.array_equal(np.frombuffer(pix, np.uint8).reshape(9, 21), g)
    # integer luma discipline
    assert tiff_mean_luma(t) == round(int(g.astype(np.int64).sum())
                                      / (9 * 21), 6)
    # truncation sweep never raises
    for n in range(0, len(t), 13):
        out = tiff_pixels(t[:n])
        assert out is None or len(out) == 4
    # the G4 fax wrap still routes through ink_ratio, not strip decode
    from sparkpdf.kernels import filters
    from sparkpdf.kernels.media import ink_ratio
    from sparkpdf.testing.imagegen import g4_encode

    fax = filters.ccitt_fax_wrap(g4_encode([[1] * 8], 8),
                                 {"/K": -1, "/Columns": 8, "/Rows": 1})
    assert ink_ratio(fax) == 1.0 and tiff_pixels(fax) is None


def test_inline_image_payloads_in_media_objects():
    """Inline (BI/ID/EI) image payloads surface through
    PdfDocument.media_objects() alongside XObjects — same media-table
    bridge, names '__inline__{k}', dims from the abbreviated /W //H
    keys."""
    from sparkpdf.kernels.document import PdfDocument
    from sparkpdf.testing import pdfgen

    payload = bytes(range(12))  # 4x3 gray 8-bit = 12 bytes
    content = (
        b"BT /F1 12 Tf (x) Tj ET "
        b"q BI /W 4 /H 3 /BPC 8 /CS /G ID " + payload + b" EI Q"
    )
    pdf = pdfgen.simple_pdf([content])
    doc = PdfDocument(pdf)
    media = [m for m in doc.media_objects() if m["name"].startswith("__inline__")]
    assert len(media) == 1
    m = media[0]
    assert (m["width"], m["height"]) == (4, 3)
    # EI-ws-Q framing: the tokenizer's documented contract (C2c) keeps
    # the byte before EI with the data when the following op is Q
    assert m["data"] == payload + b" "


def test_flac_ogg_avi_header_parse():
    """Round-5 container widening: FLAC STREAMINFO bitfields, Ogg
    Vorbis/Opus ident + last-page granule duration, AVI avih — plus
    truncation/garbage quarantine (None, never a raise)."""
    from sparkpdf.kernels.media import (
        audio_info, avi_info, flac_info, ogg_info, video_info,
    )
    from sparkpdf.testing.imagegen import make_avi, make_flac, make_ogg

    f = flac_info(make_flac(44100, 2500, channels=2, bits=16))
    assert f == {"format": "flac", "sample_rate": 44100, "channels": 2,
                 "bits": 16, "duration_ms": 2500}
    # odd rate exercises the 20-bit split across three bytes
    assert flac_info(make_flac(96000, 1000, channels=8, bits=24))[
        "sample_rate"] == 96000
    v = ogg_info(make_ogg(24000, 1300, channels=1, codec="vorbis"))
    assert v == {"format": "ogg-vorbis", "channels": 1,
                 "sample_rate": 24000, "duration_ms": 1300}
    o = ogg_info(make_ogg(16000, 700, channels=2, codec="opus"))
    assert o["format"] == "ogg-opus" and o["duration_ms"] == 700
    a = avi_info(make_avi(640, 360, 2000, fps=25))
    assert a == {"format": "avi", "width": 640, "height": 360,
                 "duration_ms": 2000}
    # the header dispatchers pick each container by magic
    assert audio_info(make_flac(8000, 100))["format"] == "flac"
    assert video_info(make_avi(32, 32, 40))["format"] == "avi"
    assert audio_info(make_ogg(24000, 100))["format"] == "ogg-vorbis"
    # quarantine: truncation sweeps and lookalike garbage return None
    for full in (make_flac(8000, 100), make_ogg(24000, 100),
                 make_avi(32, 32, 40)):
        for n in range(0, min(len(full), 40), 3):
            for fn in (flac_info, ogg_info, avi_info, audio_info,
                       video_info):
                fn(full[:n])  # must not raise
    assert flac_info(b"fLaCgarbage") is None
    assert ogg_info(b"OggS\x00rubbish") is None
    assert avi_info(b"RIFF\x04\x00\x00\x00AVI ") is None


def test_ogg_payload_oggs_lookalike():
    """Round-6 advice fix: an 'OggS' byte pattern INSIDE a packet body
    (arbitrary codec data can contain it) must not be mistaken for the
    last page header — duration comes from the forward page walk via
    the segment tables, not rfind."""
    from sparkpdf.kernels.media import ogg_info
    from sparkpdf.testing.imagegen import _ogg_page

    ident = (
        b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([1])
        + (24000).to_bytes(4, "little") + (0).to_bytes(4, "little") * 3
        + bytes([0xB8, 0x01])
    )
    gran = 24000 * 1300 // 1000
    # the EOS page's own packet embeds a fake page header with a
    # garbage granule — rfind(b"OggS") would land on it
    fake = (b"OggS" + bytes([0, 4])
            + (10 ** 15).to_bytes(8, "little") + b"junk" * 4)
    b = (_ogg_page(7, 0, 0, ident, 0x02)
         + _ogg_page(7, 1, -1, b"\x01" * 10, 0x00)  # -1: none finishes
         + _ogg_page(7, 2, gran, fake, 0x04))
    v = ogg_info(b)
    assert v["duration_ms"] == 1300, v
    # truncation mid-header of the last page: fall back to the last
    # COMPLETE page's positive granule (here: none -> no duration)
    t = ogg_info(b[: len(b) - len(fake) - 10])
    assert t is not None and "duration_ms" not in t


def test_wav_pcm_sample_decode():
    """Round-6 sample-level WAV decode: every PCM width, IEEE float,
    and the G.711 expansions, validated against hand-derived spec
    values (mu-law 0xFF/0x7F -> 0, 0x80 -> +32124, A-law 0x55 -> -8,
    0xAA -> +32256) and closed-form waveforms; truncation/garbage
    quarantines to None, never a raise."""
    import struct

    from sparkpdf.kernels.media import (
        _alaw_to_linear,
        _ulaw_to_linear,
        wav_pcm_stats,
    )
    from sparkpdf.testing.imagegen import make_wav

    # G.711 canonical identities (public ITU spec values)
    assert _ulaw_to_linear(0xFF) == 0
    assert _ulaw_to_linear(0x7F) == 0
    assert _ulaw_to_linear(0x80) == 32124
    assert _ulaw_to_linear(0x00) == -32124
    assert _alaw_to_linear(0x55) == -8
    assert _alaw_to_linear(0xD5) == 8
    assert _alaw_to_linear(0xAA) == 32256
    assert _alaw_to_linear(0x2A) == -32256

    # 16-bit square: rms = peak = A/32768 exactly, mean 0
    s = wav_pcm_stats(
        make_wav(8000, 0, bits=16, data=struct.pack("<4h", 8192, -8192,
                                                    8192, -8192))
    )
    assert s == {"n_samples": 4, "rms": 0.25, "peak": 0.25, "mean": 0.0}
    # 8-bit unsigned square around the 128 midpoint
    s8 = wav_pcm_stats(make_wav(8000, 0, bits=8,
                                data=bytes([128 + 64, 128 - 64] * 3)))
    assert s8 == {"n_samples": 6, "rms": 0.5, "peak": 0.5, "mean": 0.0}
    # 24-bit: one sample at exactly -2^23 -> peak 1.0
    s24 = wav_pcm_stats(make_wav(8000, 0, bits=24,
                                 data=b"\x00\x00\x80"))
    assert s24["n_samples"] == 1 and s24["peak"] == 1.0
    assert s24["mean"] == -1.0
    # 32-bit int and 32-bit float
    s32 = wav_pcm_stats(
        make_wav(8000, 0, bits=32,
                 data=struct.pack("<2i", 1 << 30, -(1 << 30)))
    )
    assert s32["rms"] == 0.5 and s32["mean"] == 0.0
    sf = wav_pcm_stats(
        make_wav(8000, 0, bits=32, fmt_code=3,
                 data=struct.pack("<4f", 0.5, -0.5, 0.5, -0.5))
    )
    assert sf == {"n_samples": 4, "rms": 0.5, "peak": 0.5, "mean": 0.0}
    # G.711 payloads through the full RIFF path
    mu = wav_pcm_stats(make_wav(8000, 0, bits=8, fmt_code=7,
                                data=bytes([0x80, 0x00] * 5)))
    assert mu["peak"] == round(32124 / 32768, 6) and mu["mean"] == 0.0
    al = wav_pcm_stats(make_wav(8000, 0, bits=8, fmt_code=6,
                                data=bytes([0xAA, 0x2A] * 5)))
    assert al["peak"] == round(32256 / 32768, 6) and al["mean"] == 0.0
    # quarantine: unsupported format code, empty data, truncations
    assert wav_pcm_stats(make_wav(8000, 0, bits=16, fmt_code=2,
                                  data=b"\x00\x00")) is None
    assert wav_pcm_stats(make_wav(8000, 0, bits=16, data=b"")) is None
    full = make_wav(8000, 0, bits=16,
                    data=struct.pack("<4h", 100, -100, 100, -100))
    for n in range(0, len(full), 3):
        wav_pcm_stats(full[:n])  # must not raise
    assert wav_pcm_stats(b"RIFFxxxxWAVEgarbage") is None


def test_adpcm_sample_decode():
    """Round-7 ADPCM decode (WAV formats 2 and 17): pinned vectors
    hand-derived from the public IMA / Microsoft specs (step + index
    adaptation, coefficient prediction, C-style truncating division,
    int16 clamping), block walking, stereo interleave, and the
    quarantine contract (bad step/coefficient indices, truncation,
    non-positive delta -> None, never a raise)."""
    from sparkpdf.kernels.media import (
        _ima_adpcm_decode,
        _ms_adpcm_decode,
        wav_pcm_stats,
    )
    from sparkpdf.testing.imagegen import (
        ima_adpcm_block,
        make_wav_adpcm,
        ms_adpcm_block,
    )

    # IMA spec vector: pred=0, step index 20 (step 50), nibbles
    # 7,12,1,9,15,2,0,8 (low nibble first per byte) — exercises both
    # signs, every magnitude bit, and index movement in both directions
    blk = ima_adpcm_block([0], [20], bytes([0xC7, 0x91, 0x2F, 0x80]))
    assert _ima_adpcm_decode(blk, 1, 8) == [
        0, 93, -27, 21, -22, -221, -78, -52, -75]
    # positive clamp at the table top: pred 32000, index 88 (step
    # 32767), magnitude-7 nibbles saturate to 32767
    clamp = ima_adpcm_block([32000], [88], bytes([0x77, 0x77, 0x77,
                                                  0x77]))
    assert set(_ima_adpcm_decode(clamp, 1, 8)[1:]) == {32767}
    # two blocks decode independently (state resets per header)
    two = _ima_adpcm_decode(blk + blk, 1, 8)
    assert two == 2 * [0, 93, -27, 21, -22, -221, -78, -52, -75]
    # stereo: header frame then 4-byte groups per channel, interleaved
    st = ima_adpcm_block([1000, -1000], [0, 0], bytes(8))
    dec = _ima_adpcm_decode(st, 2, 16)
    assert dec == [1000, -1000] * 9  # nibble 0 at step 7 -> diff 0

    # MS spec vector: coefficient set 4 (240,0), delta 32,
    # s1=1000/s2=-500, nibbles 3,-4,7,-8 (high nibble first) —
    # exercises signed nibbles, delta adaptation, truncating /256
    mblk = ms_adpcm_block([4], [32], [1000], [-500],
                          bytes([0x3C, 0x78]))
    assert _ms_adpcm_decode(mblk, 1, 9) == [
        -500, 1000, 1033, 856, 1033, 336]

    # MS stereo: 7-byte headers per channel, nibbles alternate
    # channels (high first) — constant streams stay per-channel
    sblk = ms_adpcm_block([0, 0], [16, 16], [500, -500], [500, -500],
                          bytes(4))
    sdec = _ms_adpcm_decode(sblk, 2, 18)
    assert sdec == [500, -500] * 6  # 2 header frames + 4 nibble frames
    # IMA stereo alternating: each channel advances independently
    # through its own 4-byte groups
    salt = ima_adpcm_block([100, -100], [0, 0],
                           bytes([0xB3] * 4) + bytes(4))
    d2 = _ima_adpcm_decode(salt, 2, 16)
    left = d2[0::2]
    right = d2[1::2]
    assert left == [100] + [104, 100] * 4  # +-4 at pinned step 7
    assert right == [-100] * 9             # zero nibbles: constant

    # quarantine lanes
    assert _ima_adpcm_decode(
        ima_adpcm_block([0], [89], bytes(4)), 1, 8) is None
    assert _ms_adpcm_decode(
        ms_adpcm_block([7], [16], [0], [0], bytes(2)), 1, 9) is None
    assert _ms_adpcm_decode(
        ms_adpcm_block([0], [0], [0], [0], bytes(2)), 1, 9) is None
    assert _ima_adpcm_decode(b"", 1, 8) is None
    assert _ima_adpcm_decode(bytes(8), 1, 5) is None  # bad geometry

    # full RIFF path + corruption fuzz: truncations never raise
    wav = make_wav_adpcm(8000, 1, 17, 8, 9, blk * 3)
    s = wav_pcm_stats(wav)
    assert s is not None and s["n_samples"] == 27
    for n in range(0, len(wav), 3):
        wav_pcm_stats(wav[:n])  # must not raise
    mwav = make_wav_adpcm(8000, 1, 2, 9, 6, mblk)
    ms_stats = wav_pcm_stats(mwav)
    assert ms_stats is not None and ms_stats["n_samples"] == 6
    assert ms_stats["peak"] == round(1033 / 32768, 6)
    for n in range(0, len(mwav), 3):
        wav_pcm_stats(mwav[:n])


def test_avi_mjpeg_frame_decode():
    """Round-7 MJPEG-in-AVI: LIST movi walk + per-frame JPEG decode
    through the validated codec. Uniform even-gray frames decode to
    their exact planted values; torn chunks / undecodable frames /
    header-only AVIs quarantine to None, truncation never raises."""
    import numpy as np

    from sparkpdf.kernels.jpeg import encode_jpeg
    from sparkpdf.kernels.media import avi_info, avi_mjpeg_frames
    from sparkpdf.testing.imagegen import make_avi

    frames = [encode_jpeg(np.full((8, 16), g, dtype=np.uint8))
              for g in (16, 100, 238)]
    avi = make_avi(16, 8, 0, fps=25, frames=frames)
    out = avi_mjpeg_frames(avi)
    assert out == [
        {"frame_idx": 0, "width": 16, "height": 8, "mean_luma": 16.0},
        {"frame_idx": 1, "width": 16, "height": 8, "mean_luma": 100.0},
        {"frame_idx": 2, "width": 16, "height": 8, "mean_luma": 238.0},
    ]
    # the frame-ful AVI still parses as an AVI header (video_info lane)
    info = avi_info(avi)
    assert info["width"] == 16 and info["format"] == "avi"
    # header-only AVI (the av corpus shape) has no frames -> None
    assert avi_mjpeg_frames(make_avi(32, 16, 200)) is None
    # a non-JPEG video chunk quarantines the payload
    bad = make_avi(16, 8, 0, frames=[b"not a jpeg"])
    assert avi_mjpeg_frames(bad) is None
    # truncation fuzz: never a raise
    for n in range(0, len(avi), 5):
        avi_mjpeg_frames(avi[:n])
    assert avi_mjpeg_frames(b"RIFFxxxxAVI garbage") is None


def test_bmp_pnm_decode():
    """Round-7 still-image DIB + netpbm codecs: BMP 24-bit (bottom-up
    AND top-down) and 8-bit over a twisted palette (the indirection
    proves palette reads), PNM P5-8/P6-RGB/P5-16BE at native depth
    (16-bit mean exactly 257x the 8-bit one); non-gray RGB uses the
    exact 299/587/114 luma; truncation quarantines, fuzz never
    raises; image_dims sniffs both without leaking parser internals."""
    import numpy as np

    from sparkpdf.kernels.media import (
        bmp_dims, bmp_mean_luma, image_dims, pnm_dims, pnm_mean_luma)
    from sparkpdf.testing.imagegen import make_bmp, make_pnm

    img = np.zeros((8, 24), np.uint8)
    for y in range(8):
        img[y, :] = 40 + ((3 + y * 11) % 50) * 4
    exp = round(sum(40 + ((3 + y * 11) % 50) * 4 for y in range(8)) / 8, 6)
    for topdown in (False, True):
        b = make_bmp(img, topdown=topdown)
        assert bmp_dims(b) == {"format": "bmp", "width": 24, "height": 8}
        assert bmp_mean_luma(b) == exp
    pal = b"".join(bytes(((7 * i + 13) % 256,) * 3 + (0,))
                   for i in range(256))
    b8 = make_bmp(img, bits=8, palette=pal)
    exp8 = round(sum((7 * (40 + ((3 + y * 11) % 50) * 4) + 13) % 256
                     for y in range(8)) / 8, 6)
    assert bmp_mean_luma(b8) == exp8
    # top-down vs bottom-up really changes the raster: first stored
    # row of an asymmetric image differs between the two files
    asym = np.zeros((2, 4), np.uint8)
    asym[0, :], asym[1, :] = 10, 200
    off = 14 + 40
    assert make_bmp(asym)[off] != make_bmp(asym, topdown=True)[off]
    assert bmp_mean_luma(make_bmp(asym)) == bmp_mean_luma(
        make_bmp(asym, topdown=True)) == 105.0

    # BI_RLE8 (round 7): encoded runs + absolute-mode spans decode
    # losslessly; >255 runs split; delta escape skips to index 0;
    # torn streams quarantine
    from sparkpdf.kernels.media import _bmp_rle8_decode

    brle = make_bmp(img, bits=8, rle=True)
    assert bmp_dims(brle)["width"] == 24
    assert bmp_mean_luma(brle) == exp
    rng = np.random.default_rng(5)
    img2 = rng.integers(0, 256, (16, 37), dtype=np.uint8)
    b2 = make_bmp(img2, bits=8, rle=True)
    assert bmp_mean_luma(b2) == round(
        int(img2.astype(np.int64).sum()) / (16 * 37), 6)
    assert bmp_mean_luma(
        make_bmp(np.full((2, 600), 7, np.uint8), bits=8, rle=True)
    ) == 7.0
    raster = _bmp_rle8_decode(
        bytes([2, 5, 0, 2, 1, 1, 1, 9, 0, 1]), 4, 2)
    assert raster[1, :2].tolist() == [5, 5]  # bottom row lands last
    assert raster[0, 3] == 9 and raster[0, 2] == 0  # delta skip = 0
    assert bmp_mean_luma(b2[:len(b2) // 2]) is None
    for n in range(0, len(b2), 17):
        bmp_mean_luma(b2[:n])

    p5 = make_pnm(img)
    assert pnm_dims(p5)["width"] == 24
    assert pnm_mean_luma(p5) == exp
    assert pnm_mean_luma(make_pnm(np.repeat(img[..., None], 3, 2))) == exp
    p5w = make_pnm(img.astype(np.uint16) * 257, maxval=65535)
    assert pnm_mean_luma(p5w) == round(exp * 257, 6)
    # non-gray RGB: exact integer-accumulated luma on both codecs
    c = np.zeros((2, 2, 3), np.uint8)
    c[..., 0], c[..., 1], c[..., 2] = 200, 100, 50
    expc = round((200 * 299 + 100 * 587 + 50 * 114) / 1000.0, 6)
    assert pnm_mean_luma(make_pnm(c)) == expc
    assert bmp_mean_luma(make_bmp(c)) == expc
    # sniff dispatch, private-field hygiene, quarantine, fuzz
    assert image_dims(p5) == {"format": "pnm", "width": 24, "height": 8}
    assert image_dims(make_bmp(img))["format"] == "bmp"
    assert bmp_mean_luma(make_bmp(img)[:40]) is None
    assert pnm_mean_luma(p5[:20]) is None
    for n in range(0, len(b8), 5):
        bmp_mean_luma(b8[:n])
        pnm_mean_luma(p5w[:n])


def test_sitemap_parse():
    """sitemaps.org kernel: urlset + sitemapindex round-trip the
    planted formulas; namespaced/mixed-case tags tolerated; entries
    without loc dropped; garbage yields kind None, never raises."""
    from sparkpdf.kernels.sitemap import parse_sitemap
    from sparkpdf.testing.corpora import synthesize_sitemap

    for d in (0, 1, 3, 5, 7):
        r = parse_sitemap(synthesize_sitemap(d))
        if d % 5 == 0:
            assert r["kind"] == "sitemapindex"
            assert len(r["entries"]) == 1 + d % 2
            assert r["entries"][0]["loc"] == \
                f"https://example.com/sm{d}-0.xml"
        else:
            assert r["kind"] == "urlset"
            assert len(r["entries"]) == 1 + d % 4
            e = r["entries"][0]
            assert e["loc"] == f"https://example.com/doc/{d}/0"
            assert e["lastmod"] == f"2024-01-{1 + d % 28:02d}"
            assert e["priority"] == f"{d % 10 / 10:.1f}"
    assert parse_sitemap("")["kind"] is None
    assert parse_sitemap("<html><body>no</body></html>")["entries"] == []
    r = parse_sitemap(
        "<NS:URLSET><ns:url><ns:loc> x </ns:loc></ns:url>"
        "<ns:url><lastmod>2024</lastmod></ns:url></NS:URLSET>")
    assert r["entries"] == [{"loc": "x"}]  # loc-less entry dropped
    parse_sitemap(None)


def test_robots_rfc9309():
    """robots.txt kernel: named-group selection shields the agent
    from the '*' group, longest-match rules with allow winning
    length ties, '$'-anchored wildcards, crawl-delay + sitemaps;
    empty/garbage inputs default to allowed and never raise."""
    from sparkpdf.kernels.robots import crawl_delay, is_allowed, parse_robots
    from sparkpdf.testing.corpora import synthesize_robots

    for d in (0, 1, 5, 7):
        r = parse_robots(synthesize_robots(d))
        k = d % 4
        assert crawl_delay(r, "sparkbot/1.0") == float(d % 5)
        assert len(r["sitemaps"]) == 1 + d % 2
        assert is_allowed(r, "sparkbot", "/sec1/page") == (k != 1)
        assert is_allowed(r, "sparkbot", f"/sec{k}/pub/x") is True
        assert is_allowed(r, "sparkbot", f"/sec{k}/x") is False
        assert is_allowed(r, "sparkbot", "/a/file.pdf") is False
        assert is_allowed(r, "sparkbot", "/a/file.pdfx") is True
        assert is_allowed(r, "sparkbot", "/tmp/x") is True
        assert is_allowed(r, "otherbot", "/tmp/x") is False
        assert is_allowed(r, "otherbot", "/anything") is True
    assert is_allowed(parse_robots(""), "x", "/a") is True
    assert is_allowed(parse_robots("garbage\n:::\n#c"), "x", "/a")
    parse_robots(None)
    # consecutive user-agent lines share one group
    r = parse_robots(
        "User-agent: a\nUser-agent: b\nDisallow: /x/\n")
    assert is_allowed(r, "b", "/x/1") is False
    assert is_allowed(r, "a", "/x/1") is False


def test_webp_dims():
    """WebP header parse: all three container layouts decode their
    differently-encoded dims; non-WebP RIFF and truncation quarantine;
    fuzz never raises. Pixel decode is header-only by design (VP8
    entropy decode is conformance-vector-blocked)."""
    from sparkpdf.kernels.media import image_dims, webp_dims
    from sparkpdf.testing.imagegen import make_webp

    for kind in ("vp8", "vp8l", "vp8x"):
        b = make_webp(47, 23, kind)
        d = webp_dims(b)
        assert (d["width"], d["height"], d["variant"]) == (47, 23, kind)
        assert image_dims(b) is not None
        assert image_dims(b)["format"] == "webp"
        for n in range(0, len(b), 3):
            webp_dims(b[:n])
    # 14-bit edge dims survive the bitfields
    big = make_webp(16383, 16383, "vp8l")
    assert webp_dims(big)["width"] == 16383
    assert webp_dims(b"RIFFxxxxWAVE" + b"\x00" * 30) is None
    bad = bytearray(make_webp(8, 8, "vp8"))
    bad[23] = 0  # broken start code
    assert webp_dims(bytes(bad)) is None


def test_jp2_dims():
    """JPEG 2000 header parse (round 8 — the /JPXDecode gap): raw j2k
    codestream (SIZ grid minus offsets), jp2 container (box walk to
    ihdr / jp2c SIZ), XLBox extended-length jp2c; components + stored
    bit depth flow; truncation/corruption quarantine; fuzz never
    raises."""
    from sparkpdf.kernels.media import image_dims, jp2_dims
    from sparkpdf.testing.imagegen import make_jp2

    for kind in ("j2k", "jp2", "jp2xl"):
        b = make_jp2(47, 23, n_components=3, bit_depth=12, kind=kind)
        d = jp2_dims(b)
        assert (d["width"], d["height"]) == (47, 23), kind
        assert d["n_components"] == 3 and d["bits"] == 12
        assert d["variant"] == ("j2k" if kind == "j2k" else "jp2")
        assert image_dims(b)["format"] == "jp2"
        for n in range(0, len(b), 3):
            jp2_dims(b[:n])  # truncation never raises
    # 16-bit depth and single component survive
    d = jp2_dims(make_jp2(1, 1, n_components=1, bit_depth=16))
    assert (d["n_components"], d["bits"]) == (1, 16)
    # SIZ with a nonzero image offset: dims are grid minus offset
    raw = bytearray(make_jp2(40, 20, kind="j2k"))
    raw[2 + 14:2 + 18] = (8).to_bytes(4, "big")   # XOsiz = 8
    raw[2 + 18:2 + 22] = (4).to_bytes(4, "big")   # YOsiz = 4
    d = jp2_dims(bytes(raw))
    assert (d["width"], d["height"]) == (32, 16)
    # corruption: wrong signature / zero components / truncated SIZ
    assert jp2_dims(b"\x00\x00\x00\x0cjQ  \r\n\x87\n" * 3) is None
    bad = bytearray(make_jp2(8, 8, kind="j2k"))
    bad[2 + 38:2 + 40] = (0).to_bytes(2, "big")   # Csiz = 0
    assert jp2_dims(bytes(bad)) is None
    import random
    rng = random.Random(82)
    base = make_jp2(9, 7, kind="jp2")
    for _ in range(200):
        mut = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            mut[rng.randrange(len(mut))] = rng.randrange(256)
        jp2_dims(bytes(mut))  # never raises


def test_warc_roundtrip():
    """Round-7 WARC kernel: build_warc -> parse_warc round-trips all
    record types in both file forms (plain + CommonCrawl
    per-record-gzip members, byte-deterministic); response records
    surface http_status/content-type and the exact payload; torn
    framing, truncated gzip and garbage quarantine (None), fuzz never
    raises."""
    from sparkpdf.kernels.warc import parse_warc
    from sparkpdf.testing.corpora import build_warc

    html = "<html><body>hello</body></html>"
    recs = [
        {"warc_type": "warcinfo", "record_id": "<urn:x:info>",
         "body": b"software: test\r\n"},
        {"warc_type": "request", "record_id": "<urn:x:req>",
         "target_uri": "https://example.com/doc/3",
         "body": b"GET /doc/3 HTTP/1.1\r\nHost: example.com\r\n\r\n"},
        {"warc_type": "response", "record_id": "<urn:x:resp>",
         "target_uri": "https://example.com/doc/3",
         "http_status": 404, "body": html.encode()},
    ]
    for gz in (False, True):
        b = build_warc(recs, gzip_members=gz)
        out = parse_warc(b)
        assert [r["warc_type"] for r in out] == [
            "warcinfo", "request", "response"]
        resp = out[2]
        assert resp["http_status"] == 404
        assert resp["target_uri"] == "https://example.com/doc/3"
        assert resp["http_content_type"] == "text/html; charset=utf-8"
        assert resp["body"] == html.encode()
        assert out[1]["http_status"] is None  # requests keep raw block
        assert build_warc(recs, gzip_members=gz) == b  # deterministic
    b = build_warc(recs)
    bz = build_warc(recs, gzip_members=True)
    assert parse_warc(b"garbage") is None
    assert parse_warc(b"\x1f\x8bgarbage") is None
    assert parse_warc(b[:len(b) // 2]) is None
    for n in range(0, max(len(b), len(bz)), 11):
        parse_warc(b[:n])
        parse_warc(bz[:n])


def test_tga_ico_decode():
    """Round-7 TGA + ICO codecs: TGA gray/truecolor/palettized with
    REAL RLE packets (types 3/2/1 and 11/10/9), top-down + bottom-up;
    ICO classic DIB entries (doubled-height XOR+AND planes) and
    PNG-compressed entries through the full PNG path; twisted palette
    proves colormap reads; truncation quarantines; fuzz never raises;
    TGA's magic-less sniff never false-positives on the other
    formats."""
    import numpy as np

    from sparkpdf.kernels.media import (
        ico_dims, ico_mean_luma, image_dims, png_mean_luma,
        tga_dims, tga_mean_luma)
    from sparkpdf.testing.imagegen import (
        make_bmp, make_ico, make_png, make_png_gray, make_tga)

    img = np.zeros((8, 24), np.uint8)
    for y in range(8):
        img[y, :] = 40 + ((3 + y * 11) % 50) * 4
    exp = round(sum(40 + ((3 + y * 11) % 50) * 4
                    for y in range(8)) / 8, 6)
    exp8 = round(sum((7 * (40 + ((3 + y * 11) % 50) * 4) + 13) % 256
                     for y in range(8)) / 8, 6)
    pal = b"".join(bytes((((7 * i + 13) % 256),) * 3)
                   for i in range(256))
    for rle in (False, True):
        for td in (False, True):
            t3 = make_tga(img, rle=rle, topdown=td)
            assert tga_dims(t3) == {
                "format": "tga", "width": 24, "height": 8}
            assert tga_mean_luma(t3) == exp
        rgb = np.repeat(img[..., None], 3, axis=2)
        assert tga_mean_luma(make_tga(rgb, rle=rle)) == exp
        assert tga_mean_luma(
            make_tga(img, img_type=1, rle=rle, palette=pal)) == exp8
    c = np.zeros((2, 2, 3), np.uint8)
    c[..., 0], c[..., 1], c[..., 2] = 200, 100, 50
    expc = round((200 * 299 + 100 * 587 + 50 * 114) / 1000.0, 6)
    assert tga_mean_luma(make_tga(c)) == expc
    assert tga_mean_luma(make_tga(c, rle=True)) == expc

    i_dib = make_ico(img)
    assert ico_dims(i_dib) == {"format": "ico", "width": 24, "height": 8}
    assert ico_mean_luma(i_dib) == exp
    i_png = make_ico(img, png=True)
    assert ico_mean_luma(i_png) == exp
    assert png_mean_luma(make_png_gray(img)) == exp

    # quarantine + fuzz + sniff hygiene
    t = make_tga(img, rle=True)
    assert tga_mean_luma(t[:30]) is None
    assert ico_mean_luma(i_dib[:40]) is None
    for n in range(0, max(len(t), len(i_dib), len(i_png)), 7):
        tga_mean_luma(t[:n])
        ico_mean_luma(i_dib[:n])
        ico_mean_luma(i_png[:n])
    assert image_dims(i_dib)["format"] == "ico"
    assert image_dims(make_tga(img))["format"] == "tga"
    assert image_dims(make_png(5, 5))["format"] == "png"
    assert image_dims(make_bmp(img))["format"] == "bmp"


def test_avi_dib_frame_decode():
    """Round-7 uncompressed video: BI_RGB DIB frames in AVI decode
    losslessly — 24-bit BGR (bottom-up AND negative-biHeight
    top-down, with real 4-byte row padding) and 8-bit palettized over
    the gray-identity palette; non-gray RGB uses the 299/587/114 luma;
    torn DIB chunks quarantine; MJPEG AVIs are unaffected."""
    import numpy as np

    from sparkpdf.kernels.media import avi_mjpeg_frames
    from sparkpdf.testing.imagegen import make_avi

    # width 24 -> 72-byte 24-bit rows, not a multiple of 4 (pad = 2)
    tiles = [np.full((8, 24), g, dtype=np.uint8) for g in (16, 100, 238)]
    for topdown in (False, True):
        avi = make_avi(24, 8, 0, fps=25, dib_frames=tiles,
                       topdown=topdown)
        out = avi_mjpeg_frames(avi)
        assert [f["mean_luma"] for f in out] == [16.0, 100.0, 238.0]
        assert out[0]["width"] == 24 and out[0]["height"] == 8
    # 8-bit palettized
    avi8 = make_avi(24, 8, 0, fps=25, dib_frames=tiles, dib_bits=8)
    out8 = avi_mjpeg_frames(avi8)
    assert [f["mean_luma"] for f in out8] == [16.0, 100.0, 238.0]
    # non-gray RGB: exact integer-accumulated 299/587/114 luma
    rgb = np.zeros((8, 24, 3), dtype=np.uint8)
    rgb[..., 0], rgb[..., 1], rgb[..., 2] = 200, 100, 50
    expect = round((200 * 299 + 100 * 587 + 50 * 114)
                   / 1000.0, 6)
    avic = make_avi(24, 8, 0, fps=25, dib_frames=[rgb])
    assert avi_mjpeg_frames(avic)[0]["mean_luma"] == expect
    # a torn movi (truncated mid-chunk) quarantines the payload
    avi = make_avi(24, 8, 0, fps=25, dib_frames=tiles)
    assert avi_mjpeg_frames(avi[:len(avi) // 2]) is None
    # truncation fuzz: never a raise
    for n in range(0, len(avi), 7):
        avi_mjpeg_frames(avi[:n])
        avi_mjpeg_frames(avi8[:n])


def test_mp4_mjpeg_sample_demux():
    """Round-7 ISO-BMFF demux: stsd 'jpeg' entry gate + real
    stsc/stco/stsz sample resolution (incl. a short last chunk),
    every sample decoded through the JPEG kernel. Torn sample tables,
    non-MJPEG codecs and truncation quarantine, never a raise."""
    import numpy as np

    from sparkpdf.kernels.jpeg import encode_jpeg
    from sparkpdf.kernels.media import mp4_info, mp4_mjpeg_frames
    from sparkpdf.testing.imagegen import make_mp4_mjpeg

    for nf in (1, 2, 3, 5):  # 3 and 5 leave a short last chunk
        frames = [encode_jpeg(np.full((8, 16), 16 + 2 * i,
                                      dtype=np.uint8))
                  for i in range(nf)]
        mp4 = make_mp4_mjpeg(16, 8, frames, samples_per_chunk=2)
        out = mp4_mjpeg_frames(mp4)
        assert out == [
            {"frame_idx": i, "width": 16, "height": 8,
             "mean_luma": float(16 + 2 * i)} for i in range(nf)
        ]
    # the movie still parses as an MP4 header (video_info lane)
    info = mp4_info(mp4)
    assert info["width"] == 16 and info["format"] == "mp4"
    # torn sample table: an stsz size pointing past EOF quarantines
    bad = bytearray(mp4)
    i = bytes(bad).find(b"stsz")
    bad[i + 12:i + 16] = (1 << 30).to_bytes(4, "big")
    assert mp4_mjpeg_frames(bytes(bad)) is None
    # non-MJPEG codec fourcc quarantines
    assert mp4_mjpeg_frames(mp4.replace(b"jpeg", b"avc1", 1)) is None
    # truncation fuzz: never a raise
    for n in range(0, len(mp4), 5):
        mp4_mjpeg_frames(mp4[:n])
    assert mp4_mjpeg_frames(b"\x00\x00\x00\x08ftyp") is None


def test_mp4_pcm_audio_decode():
    """Round-7 PCM-in-MP4: the QuickTime uncompressed sample entries
    (sowt/twos/in24/raw) through the shared ISO-BMFF sample-table
    walk. Compressed codecs and header-only MP4s quarantine,
    truncation never raises."""
    import struct

    from sparkpdf.kernels.media import mp4_pcm_stats
    from sparkpdf.testing.imagegen import make_mp4, make_mp4_pcm

    n = 500
    le = struct.pack(f"<{n}h", *([8192, -8192] * (n // 2)))
    m = make_mp4_pcm(8000, 1, b"sowt", le)
    assert mp4_pcm_stats(m) == {
        "n_samples": n, "rms": 0.25, "peak": 0.25, "mean": 0.0}
    be = struct.pack(f">{n}h", *([4096, -4096] * (n // 2)))
    assert mp4_pcm_stats(
        make_mp4_pcm(8000, 1, b"twos", be))["rms"] == 0.125
    amp = 1 << 20
    pos = amp.to_bytes(3, "big", signed=True)
    neg = (-amp).to_bytes(3, "big", signed=True)
    s24 = mp4_pcm_stats(make_mp4_pcm(48000, 2, b"in24",
                                     (pos + neg) * 100))
    assert s24["rms"] == 0.125 and s24["mean"] == 0.0
    s8 = mp4_pcm_stats(make_mp4_pcm(8000, 1, b"raw ",
                                    bytes([192, 64] * 50)))
    assert s8["rms"] == 0.5 and s8["mean"] == 0.0
    # compressed codec entry and header-only movies quarantine
    assert mp4_pcm_stats(m.replace(b"sowt", b"mp4a")) is None
    assert mp4_pcm_stats(make_mp4(16, 8, 100)) is None
    # truncation fuzz: never a raise
    for k in range(0, len(m), 7):
        mp4_pcm_stats(m[:k])


def test_mkv_mjpeg_demux():
    """Round-7 Matroska demux: V_MJPEG TrackEntry gate (TrackNumber
    matched per block), Cluster/SimpleBlock walk, every payload
    through the JPEG kernel. Foreign codecs, laced blocks, header-only
    MKVs and truncation quarantine, never a raise."""
    import numpy as np

    from sparkpdf.kernels.jpeg import encode_jpeg
    from sparkpdf.kernels.media import mkv_info, mkv_mjpeg_frames
    from sparkpdf.testing.imagegen import make_mkv, make_mkv_mjpeg

    frames = [encode_jpeg(np.full((8, 16), g, dtype=np.uint8))
              for g in (16, 100, 238)]
    mkv = make_mkv_mjpeg(16, 8, frames)
    assert mkv_mjpeg_frames(mkv) == [
        {"frame_idx": i, "width": 16, "height": 8,
         "mean_luma": float(g)} for i, g in enumerate((16, 100, 238))
    ]
    # still a parseable MKV header (video_info lane)
    info = mkv_info(mkv)
    assert info["width"] == 16 and info["format"] == "mkv"
    # header-only corpus shape has no V_MJPEG track -> None
    assert mkv_mjpeg_frames(make_mkv(32, 16, 200)) is None
    # foreign codec fourcc quarantines
    assert mkv_mjpeg_frames(
        mkv.replace(b"V_MJPEG", b"V_VP9\x00\x00", 1)) is None
    # truncation fuzz: never a raise
    for n in range(0, len(mkv), 5):
        mkv_mjpeg_frames(mkv[:n])
    assert mkv_mjpeg_frames(b"\x1a\x45\xdf\xa3" + bytes(8)) is None


def test_mjpeg_lanes_decode_each_frame_once(monkeypatch):
    """The AVI, MP4 and MKV MJPEG lanes decode every frame exactly
    once: width, height and mean luma all come from one decode_jpeg
    call per frame (through the video_frames dispatcher too)."""
    import numpy as np

    from sparkpdf.kernels import jpeg
    from sparkpdf.kernels.media import (
        avi_mjpeg_frames, mkv_mjpeg_frames, mp4_mjpeg_frames, video_frames,
    )
    from sparkpdf.testing.imagegen import (
        make_avi, make_mkv_mjpeg, make_mp4_mjpeg,
    )

    calls = []
    real = jpeg.decode_jpeg
    monkeypatch.setattr(jpeg, "decode_jpeg",
                        lambda data: calls.append(1) or real(data))
    for n in (1, 2, 5):
        frames = [jpeg.encode_jpeg(np.full((8, 16), 16 + 32 * i, np.uint8))
                  for i in range(n)]
        for lane, blob in (
            (avi_mjpeg_frames, make_avi(16, 8, 0, fps=25, frames=frames)),
            (mp4_mjpeg_frames, make_mp4_mjpeg(16, 8, frames)),
            (mkv_mjpeg_frames, make_mkv_mjpeg(16, 8, frames)),
        ):
            for fn in (lane, video_frames):
                calls.clear()
                rows = fn(blob)
                assert [r["mean_luma"] for r in rows] == [
                    float(16 + 32 * i) for i in range(n)]
                assert len(calls) == n, (fn.__name__, n, len(calls))


def test_ogg_flac_decode():
    """Round-7 Ogg-FLAC (public FLAC-to-Ogg mapping): RFC 3533 page
    walk with VERIFIED CRCs, lacing reassembly incl. packets spanning
    pages (continuation flags), mapping-header gate, then the full
    FLAC frame decode. Vorbis/Opus payloads, flipped bits and
    truncation quarantine, never a raise."""
    from sparkpdf.kernels.media import (
        _ogg_packets,
        ogg_flac_pcm_stats,
        ogg_info,
    )
    from sparkpdf.testing.imagegen import make_ogg, make_ogg_flac

    sq = [8192, -8192] * 100
    one = make_ogg_flac(sq, 8000)
    assert ogg_flac_pcm_stats(one) == {
        "n_samples": 200, "rms": 0.25, "peak": 0.25, "mean": 0.0}
    # multi-frame: many packets greedily packed into pages
    multi = make_ogg_flac(sq, 8000, block_size=16)
    assert ogg_flac_pcm_stats(multi) == ogg_flac_pcm_stats(one)
    # spanning: a verbatim frame forced across >= 3 pages
    big = [4096, -4096] * 600
    span = make_ogg_flac(big, 8000, max_segs_per_page=2,
                         subframe="verbatim")
    assert span.count(b"OggS") >= 4
    s3 = ogg_flac_pcm_stats(span)
    assert s3["n_samples"] == 1200 and s3["rms"] == 0.125
    # mid-side stereo through the container
    st = make_ogg_flac([4096, -4096] * 120, 8000, channels=2,
                       stereo_mode="mid-side", subframe="constant")
    assert ogg_flac_pcm_stats(st)["rms"] == 0.125
    # ogg_info now identifies the mapping (rate/channels/duration)
    info = ogg_info(one)
    assert info["format"] == "ogg-flac" and info["sample_rate"] == 8000
    assert info["channels"] == 1
    # CRC flip quarantines (page checksums are verified)
    bad = bytearray(one)
    bad[60] ^= 0xFF
    assert ogg_flac_pcm_stats(bytes(bad)) is None
    # continuation-flag mismatch quarantines
    assert _ogg_packets(b"OggS" + bytes(23) + b"\x01\x01A") is None
    # foreign Ogg codecs quarantine in this lane
    assert ogg_flac_pcm_stats(
        make_ogg(24000, 1000, 1, codec="vorbis")) is None
    assert ogg_flac_pcm_stats(
        make_ogg(24000, 1000, 1, codec="opus")) is None
    # truncation fuzz: never a raise
    for n in range(0, len(span), 13):
        ogg_flac_pcm_stats(span[:n])


def test_aiff_au_sample_decode():
    """Round-7 big-endian audio containers: AIFF (IFF chunk walk,
    80-bit extended sample rate, SIGNED PCM at 8/16/24/32) and Sun AU
    (.snd header; linear BE 8-32, float32 BE, G.711 mu/A-law).
    Truncation/garbage/NaN floats quarantine to None, never a raise."""
    import struct

    from sparkpdf.kernels.media import (
        _ieee_extended,
        aiff_pcm_stats,
        au_pcm_stats,
    )
    from sparkpdf.testing.imagegen import (
        _ieee_extended_80,
        make_aiff,
        make_au,
    )

    # 80-bit extended round-trip for real-world rates
    for r in (8000, 11025, 22050, 44100, 48000, 96000, 192000, 1):
        assert _ieee_extended(_ieee_extended_80(r)) == r
    assert _ieee_extended(bytes(10)) == 0  # zero mantissa -> rate 0
    assert _ieee_extended(b"\x00") is None

    # AIFF: signed PCM at every depth, big-endian
    a = aiff_pcm_stats(
        make_aiff(44100, 1, 16, struct.pack(">4h", 8192, -8192,
                                            8192, -8192)))
    assert a == {"n_samples": 4, "rms": 0.25, "peak": 0.25, "mean": 0.0}
    a8 = aiff_pcm_stats(
        make_aiff(8000, 1, 8, struct.pack(">4b", 64, -64, 64, -64)))
    assert a8["rms"] == 0.5 and a8["mean"] == 0.0
    amp = 1 << 20
    pos = amp.to_bytes(3, "big", signed=True)
    neg = (-amp).to_bytes(3, "big", signed=True)
    a24 = aiff_pcm_stats(make_aiff(48000, 2, 24, (pos + neg) * 4))
    assert a24 == {"n_samples": 8, "rms": 0.125, "peak": 0.125,
                   "mean": 0.0}
    a32 = aiff_pcm_stats(
        make_aiff(8000, 1, 32, struct.pack(">2i", 1 << 30, -(1 << 30))))
    assert a32["rms"] == 0.5

    # AU: every decoded encoding + the quarantine lanes
    assert au_pcm_stats(make_au(8000, 1, 3, struct.pack(
        ">4h", 4096, -4096, 4096, -4096)))["rms"] == 0.125
    assert au_pcm_stats(make_au(8000, 1, 1, bytes(
        [0x80, 0x00] * 3)))["peak"] == round(32124 / 32768, 6)
    assert au_pcm_stats(make_au(8000, 1, 27, bytes(
        [0xAA, 0x2A] * 3)))["peak"] == round(32256 / 32768, 6)
    assert au_pcm_stats(make_au(8000, 1, 2, struct.pack(
        ">4b", 32, -32, 32, -32)))["rms"] == 0.25
    assert au_pcm_stats(make_au(8000, 1, 4, (pos + neg) * 2))[
        "rms"] == 0.125
    assert au_pcm_stats(make_au(8000, 1, 5, struct.pack(
        ">2i", 1 << 29, -(1 << 29))))["rms"] == 0.25
    assert au_pcm_stats(make_au(8000, 1, 6, struct.pack(
        ">4f", 0.5, -0.5, 0.5, -0.5)))["rms"] == 0.5
    assert au_pcm_stats(make_au(8000, 1, 6, struct.pack(
        ">2f", float("nan"), 0.0))) is None
    assert au_pcm_stats(make_au(8000, 1, 23, bytes(8))) is None

    # AIFF-C: NONE (BE), sowt (LE-in-BE-container), ulaw/alaw G.711
    assert aiff_pcm_stats(make_aiff(
        8000, 1, 16, struct.pack(">4h", 4096, -4096, 4096, -4096),
        compression=b"NONE"))["rms"] == 0.125
    assert aiff_pcm_stats(make_aiff(
        8000, 1, 16, struct.pack("<4h", 8192, -8192, 8192, -8192),
        compression=b"sowt"))["rms"] == 0.25
    assert aiff_pcm_stats(make_aiff(
        8000, 1, 8, bytes([0x80, 0x00] * 4),
        compression=b"ulaw"))["peak"] == round(32124 / 32768, 6)
    assert aiff_pcm_stats(make_aiff(
        8000, 1, 8, bytes([0xAA, 0x2A] * 4),
        compression=b"alaw"))["peak"] == round(32256 / 32768, 6)
    # unknown AIFC compression quarantines
    assert aiff_pcm_stats(make_aiff(
        8000, 1, 16, bytes(8), compression=b"ima4")) is None

    # corruption fuzz: every truncation point, never a raise
    full = make_aiff(8000, 1, 16, struct.pack(">4h", 1, 2, 3, 4))
    for n in range(len(full)):
        aiff_pcm_stats(full[:n])
        au_pcm_stats(full[:n])
    aifc = make_aiff(8000, 1, 16, bytes(16), compression=b"sowt")
    for n in range(len(aifc)):
        aiff_pcm_stats(aifc[:n])
    aufull = make_au(8000, 1, 3, bytes(10))
    for n in range(len(aufull)):
        au_pcm_stats(aufull[:n])
    assert aiff_pcm_stats(b"FORMxxxxAIFC" + bytes(20)) is None
    assert au_pcm_stats(b".snd" + bytes(4)) is None


def test_flac_sample_decode():
    """Round-7 FLAC frame decode: every subframe type (CONSTANT /
    VERBATIM / FIXED 0-4 / LPC), rice partitions incl. escapes, all
    three stereo decorrelations and depths 8-32, round-tripped EXACTLY
    through the from-scratch encoder (FLAC is lossless by
    construction); CRC-8/16 are verified, so corruption quarantines."""
    from sparkpdf.kernels.media import flac_pcm_samples, flac_pcm_stats
    from sparkpdf.testing.imagegen import encode_flac

    def rt(samples, **kw):
        blob = encode_flac(samples, kw.pop("rate", 8000), **kw)
        dec = flac_pcm_samples(blob)
        assert dec is not None, f"quarantined: {kw}"
        x, _, _, _ = dec
        assert list(x) == list(samples), kw
        return blob

    sq = [4096, -4096] * 100
    rt(sq)
    rt([7] * 64, subframe="constant")
    rt(sq, subframe="verbatim")
    for o in range(5):
        rt(sq, subframe=f"fixed{o}")
    rt(sq, subframe="fixed3", partition_order=2, block_size=64)
    rt(sq, subframe="fixed2", rice_escape=True)
    rt(sq, subframe="lpc1")  # LPC warm-up + precision + shift path
    rt(sq, bits=24)
    rt(sq, bits=32, subframe="fixed1")
    rt([1024, -1024] * 30, bits=12, subframe="verbatim")
    rt([20, -20] * 50, bits=8)
    rt([5, 3, -7, 2] * 123, subframe="fixed2", block_size=64)
    st_ = [100, -100] * 80
    rt(st_, channels=2)
    for m in ("left-side", "right-side", "mid-side"):
        rt(st_, channels=2, stereo_mode=m, subframe="fixed1")
    # closed-form stats: square wave rms = peak = A/2^(bits-1)
    s = flac_pcm_stats(encode_flac(sq, 8000))
    assert s == {"n_samples": 200, "rms": 0.125, "peak": 0.125,
                 "mean": 0.0}
    sc = flac_pcm_stats(encode_flac([1024] * 50, 8000,
                                    subframe="constant"))
    assert sc == {"n_samples": 50, "rms": 0.03125, "peak": 0.03125,
                  "mean": 0.03125}
    # quarantine lane: non-FLAC, truncations, CRC-breaking flips
    assert flac_pcm_samples(b"fLaC") is None
    assert flac_pcm_samples(b"\x00" * 100) is None
    blob = encode_flac(sq, 8000)
    for n in range(0, len(blob), 7):
        flac_pcm_samples(blob[:n])  # must not raise
    flipped = bytearray(blob)
    flipped[-10] ^= 0x40  # inside the last frame -> CRC-16 mismatch
    assert flac_pcm_samples(bytes(flipped)) is None


def test_gif_frames_info():
    """GIF animation metadata (round 5): frame count, summed GCE
    delays, NETSCAPE loop count; single-frame GIFs report one frame /
    zero duration; first-frame pixel decode is unaffected."""
    from sparkpdf.kernels.media import gif_frames_info, gif_pixels
    from sparkpdf.testing.imagegen import make_animated_gif, make_gif_frame

    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    f1 = [[0, 1], [2, 3]]
    f2 = [[3, 2], [1, 0]]
    f3 = [[1, 1], [1, 1]]
    gif = make_animated_gif([f1, f2, f3], pal, [10, 25, 7], loop=0)
    info = gif_frames_info(gif)
    assert info == {"n_frames": 3, "duration_ms": 420, "loop": 0}
    # the first-frame decoder still reads frame 1 of the animation
    w, h, ch, pix = gif_pixels(gif)
    assert (w, h, ch) == (2, 2, 3)
    assert pix[0:3] == bytes(pal[0]) and pix[3:6] == bytes(pal[1])
    # ... also when a later frame is offset and has a transparent index
    base = [[1] * 4 for _ in range(4)]
    offset = make_animated_gif(
        [base, [[0, 2], [2, 0]]], pal, [5, 5],
        specs=[{}, {"left": 1, "top": 1, "transparent": 0}],
    )
    w, h, ch, pix = gif_pixels(offset)
    assert (w, h, ch) == (4, 4, 3) and pix == bytes(pal[1]) * 16
    single = make_gif_frame(f1, pal)
    assert gif_frames_info(single) == {"n_frames": 1, "duration_ms": 0}
    # loop=5 finite; truncation never raises
    g5 = make_animated_gif([f1, f2], pal, [50, 50], loop=5)
    assert gif_frames_info(g5)["loop"] == 5
    for n in range(0, len(gif), 7):
        gif_frames_info(gif[:n])
    assert gif_frames_info(b"GIF89anope") is None


def test_mixed_mode_g3_tiff_roundtrip():
    """/K > 0 mixed-mode G3 (T.4 MR) now round-trips through the TIFF
    container: ccitt_fax_wrap signals T4Options bit 0 and
    tiff_g4_pixels dispatches the 2-D decoder (round 5; previously a
    documented quarantine)."""
    from sparkpdf.kernels.filters import ccitt_fax_wrap
    from sparkpdf.kernels.media import ink_ratio, tiff_g4_pixels
    from sparkpdf.testing.imagegen import g3_encode_1d, g3_encode_2d

    w, h = 40, 12
    bitmap = [
        [1 if (r * 7 + c) % 5 < 2 else 0 for c in range(w)]
        for r in range(h)
    ]
    enc2d = g3_encode_2d(bitmap, w, k=4)
    t2 = ccitt_fax_wrap(enc2d, {"/K": 4, "/Columns": w, "/Rows": h})
    assert tiff_g4_pixels(t2) == bitmap
    ink = sum(map(sum, bitmap)) / (w * h)
    assert abs(ink_ratio(t2) - ink) < 1e-9
    # K=0 (pure 1-D) still dispatches MH — no T4Options tag written
    enc1d = g3_encode_1d(bitmap, w)
    t1 = ccitt_fax_wrap(enc1d, {"/K": 0, "/Columns": w, "/Rows": h})
    assert tiff_g4_pixels(t1) == bitmap
    # and G4 (/K < 0) is untouched
    from sparkpdf.testing.imagegen import g4_encode

    t4 = ccitt_fax_wrap(g4_encode(bitmap, w), {"/K": -1, "/Columns": w,
                                               "/Rows": h})
    assert tiff_g4_pixels(t4) == bitmap


def test_tiled_tiff_decode():
    """Tiled TIFFs (tags 322-325) decode for none/LZW/PackBits with
    the per-tile predictor reset; edge tiles crop; strip decode and
    mean luma are unaffected (round 5; previously a quarantine)."""
    import numpy as np

    from sparkpdf.kernels.media import tiff_mean_luma, tiff_pixels
    from sparkpdf.testing.imagegen import make_tiff, make_tiff_tiled

    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, (37, 53, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (20, 30), dtype=np.uint8)
    for comp in (1, 5, 32773):
        t = make_tiff_tiled(rgb, 16, 16, compression=comp)
        w, h, ch, pix = tiff_pixels(t)
        assert (w, h, ch) == (53, 37, 3)
        assert np.array_equal(
            np.frombuffer(pix, np.uint8).reshape(37, 53, 3), rgb
        )
    # predictor 2 resets per tile (a cross-tile cumsum would corrupt)
    t = make_tiff_tiled(gray, 8, 8, compression=5, predictor=2)
    w, h, ch, pix = tiff_pixels(t)
    assert np.array_equal(
        np.frombuffer(pix, np.uint8).reshape(20, 30), gray
    )
    # strip path still equals tiled path on the same pixels
    ts = make_tiff(gray, compression=5)
    assert tiff_pixels(ts)[3] == pix
    assert tiff_mean_luma(t) == tiff_mean_luma(ts)


def test_planar_tiff_decode():
    """PlanarConfiguration 2 (round 6): plane-major strips decode to
    the SAME pixels as the chunky file across compressions, multi-strip
    layouts and the per-plane predictor. Before this round the tag was
    ignored — plane-0 bytes would decode as interleaved RGB, a silent
    wrong answer. Round 7 closes the planar x TILED corner (plane-
    major tile order per §14 x §15); planar x JPEG still quarantines
    to None."""
    import numpy as np

    from sparkpdf.kernels.media import tiff_pixels
    from sparkpdf.testing.imagegen import make_tiff, make_tiff_tiled

    rng = np.random.default_rng(23)
    rgb = rng.integers(0, 256, (23, 31, 3), dtype=np.uint8)
    chunky = tiff_pixels(make_tiff(rgb))
    for comp in (1, 5, 32773):
        for rps in (0, 7):
            p = make_tiff(rgb, compression=comp, rows_per_strip=rps,
                          planar=2)
            got = tiff_pixels(p)
            assert got == chunky, (comp, rps)
    # per-plane horizontal predictor
    p = make_tiff(rgb, compression=5, predictor=2, planar=2,
                  rows_per_strip=9)
    assert tiff_pixels(p) == chunky
    # gray planar=2 degenerates to chunky (one plane) and still decodes
    gray = rng.integers(0, 256, (9, 11), dtype=np.uint8)
    assert tiff_pixels(make_tiff(gray, planar=2)) == \
        tiff_pixels(make_tiff(gray))
    # round 7: planar x tiled decodes to the chunky pixels across
    # compressions and the per-plane-tile predictor
    for comp in (1, 5, 32773):
        for pred in (1, 2):
            pt = make_tiff_tiled(rgb, 16, 16, compression=comp,
                                 predictor=pred, planar=2)
            assert tiff_pixels(pt) == chunky, (comp, pred)
    # round 7: planar x JPEG strips (per-plane grayscale SOF3,
    # with and without shared JPEGTables), one-row strips included;
    # the planar x tiled x JPEG triple stays quarantined
    from sparkpdf.testing.imagegen import make_tiff_jpeg

    for rps in (6, 1):
        for st in (False, True):
            pj = make_tiff_jpeg(rgb, rows_per_strip=rps, planar=2,
                                shared_tables=st)
            assert tiff_pixels(pj) == chunky, (rps, st)
    assert tiff_pixels(make_tiff_tiled(rgb, 16, 16, compression=7,
                                       planar=2)) is None
    # truncation sweep must never raise
    full = make_tiff(rgb, compression=5, planar=2)
    for n in range(0, len(full), 17):
        tiff_pixels(full[:n])
    ptfull = make_tiff_tiled(rgb, 16, 16, compression=5, planar=2)
    for n in range(0, len(ptfull), 17):
        tiff_pixels(ptfull[:n])


def test_jpeg_in_tiff_decode():
    """New-style JPEG-in-TIFF (compression 7, round 5): lossless-JPEG
    strips round-trip exactly, with and without a shared JPEGTables
    (347) stream; JPEG-compressed tiles stitch; garbage strips
    quarantine to None."""
    import numpy as np

    from sparkpdf.kernels.media import tiff_pixels
    from sparkpdf.testing.imagegen import make_tiff_jpeg, make_tiff_tiled

    rng = np.random.default_rng(9)
    g = rng.integers(0, 256, (21, 33), dtype=np.uint8)
    rgb = rng.integers(0, 256, (17, 19, 3), dtype=np.uint8)
    for t, exp in [
        (make_tiff_jpeg(g, rows_per_strip=8), g),
        (make_tiff_jpeg(rgb, rows_per_strip=6), rgb),
        (make_tiff_jpeg(g, rows_per_strip=8, shared_tables=True), g),
        (make_tiff_tiled(g, 16, 16, compression=7), g),
    ]:
        w, h, ch, pix = tiff_pixels(t)
        got = np.frombuffer(pix, np.uint8).reshape(h, w, ch)
        assert np.array_equal(np.squeeze(got), np.squeeze(exp))
    # a corrupted strip (not a JPEG stream) quarantines
    t = bytearray(make_tiff_jpeg(g, rows_per_strip=8))
    t[8:10] = b"\x00\x00"  # first strip no longer starts with SOI
    assert tiff_pixels(bytes(t)) is None


def test_ojpeg_in_tiff_decode():
    """OLD-style JPEG-in-TIFF (compression 6, round 7 — the VERDICT-r6
    'missing #3' corner): the 513/514 interchange form and the
    full-JPEG-per-strip form both decode; a baseline SOF0 stream of
    per-MCU-uniform even grays decodes exactly through the same lane
    (the common wild shape); the tables-fragment form quarantines."""
    import numpy as np

    from sparkpdf.kernels.media import tiff_dims, tiff_pixels
    from sparkpdf.testing.imagegen import make_tiff_ojpeg

    rng = np.random.default_rng(11)
    g = rng.integers(0, 256, (21, 33), dtype=np.uint8)
    rgb = rng.integers(0, 256, (17, 19, 3), dtype=np.uint8)
    # uniform EVEN grays per 8x8 block survive the Annex-K DC
    # quantizer exactly (round-7 MJPEG lesson)
    blocky = np.kron(
        np.arange(6, dtype=np.uint8).reshape(2, 3) * 40 + 60,
        np.ones((8, 8), dtype=np.uint8),
    )
    for t, exp in [
        (make_tiff_ojpeg(g), g),
        (make_tiff_ojpeg(rgb), rgb),
        (make_tiff_ojpeg(g, per_strip=8), g),
        (make_tiff_ojpeg(blocky, lossless=False), blocky),
        (make_tiff_ojpeg(blocky, per_strip=8, lossless=False), blocky),
    ]:
        w, h, ch, pix = tiff_pixels(t)
        assert (h, w) == exp.shape[:2]
        got = np.frombuffer(pix, np.uint8).reshape(h, w, ch)
        assert np.array_equal(np.squeeze(got), np.squeeze(exp))
    # the broken tables-in-tags fragment form (no SOI) -> quarantine,
    # but dims still probe from the IFD
    frag = make_tiff_ojpeg(g, fragment=True)
    assert tiff_pixels(frag) is None
    d = tiff_dims(frag)
    assert (d["width"], d["height"]) == (33, 21)
    # truncation sweep must never raise
    full = make_tiff_ojpeg(g)
    for n in range(0, len(full), 17):
        tiff_pixels(full[:n])


def test_round5_parsers_corruption_fuzz():
    """Deterministic byte-flip fuzz over every round-5 parser (FLAC /
    Ogg vorbis+opus / AVI / animated GIF / tiled + JPEG TIFF /
    lossless JPEG / audio_info dispatch): corrupted inputs must return
    None or a partial dict, never raise (the operator layer's
    quarantine contract starts at the kernel boundary)."""
    import numpy as np

    from sparkpdf.kernels import media
    from sparkpdf.kernels.jpeg import decode_jpeg
    from sparkpdf.testing.imagegen import (
        encode_jpeg_lossless,
        make_animated_gif,
        make_avi,
        make_flac,
        make_ogg,
        make_tiff_jpeg,
        make_tiff_tiled,
    )

    rng = np.random.default_rng(42)
    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    fr = [[0, 1], [2, 3]]
    g = rng.integers(0, 256, (12, 20), dtype=np.uint8)
    anim = make_animated_gif([fr, fr], pal, [5, 5], loop=1)
    fixtures = [
        (make_flac(44100, 1000), media.flac_info),
        (make_ogg(24000, 500), media.ogg_info),
        (make_ogg(16000, 500, codec="opus"), media.ogg_info),
        (make_avi(64, 48, 400), media.avi_info),
        (anim, media.gif_frames_info),
        (make_tiff_tiled(g, 8, 8, compression=5), media.tiff_pixels),
        (make_tiff_jpeg(g, rows_per_strip=4), media.tiff_pixels),
        (encode_jpeg_lossless(g), decode_jpeg),
        (make_flac(8000, 100), media.audio_info),
    ]
    for data, fn in fixtures:
        for trial in range(150):
            b = bytearray(data)
            for _ in range(1 + trial % 5):
                b[rng.integers(0, len(b))] = rng.integers(0, 256)
            fn(bytes(b))  # any return is fine; raising is the failure
