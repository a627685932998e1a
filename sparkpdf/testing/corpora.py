"""Deterministic corpus builders: documents(doc_id, text) -> the
synthesized tables that the oracle queries, tests and benches run on.

Every payload is a pure function of (doc_id, text), so a corpus is the
same on any cluster size. Each planted signal (a closed-form value
such as an amplitude, a gray level or a sample rate, which the DuckDB
oracle restates in SQL) is built by exactly one helper in the first
half of this module; a Spark builder only picks which variant each
doc_id gets. Every builder runs its per-document Python work through
`map_docs`, which repartitions a small scan before `map_kernel`.

The HTML page builders (`synthesize_html`, `synthesize_webpage`), the
WARC archive builder (`build_warc`) and the robots.txt / sitemap
builders (`synthesize_robots`, `synthesize_sitemap`) open the module.
The one string builder that the benchmark inputs also call,
`kernels.html.synthesize_interleaved_html`, stays beside its parser;
this module composes it.
"""

from __future__ import annotations

import html as _htmlmod
import struct
import zlib
from typing import List

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.filters import ccitt_fax_wrap
from ..kernels.html import NONPRINTABLE, synthesize_interleaved_html
from ..kernels.jpeg import encode_jpeg
from ..kernels.write import spans_to_pdf
from ..operators._kernel import map_kernel
from ..operators.extract import (
    INTERLEAVED_SCHEMA,
    PDF_RAW_SCHEMA,
    STATS_SCHEMA,
    _span_row,
    _stats_row,
)
from ..operators.multimodal import MEDIA_SCHEMA
from . import imagegen
from .imagegen import encode_jpeg_lossless, encode_jpeg_progressive, g4_encode
from .pdfgen import doc_to_pdf, doc_to_pdf_paged


def map_docs(documents: DataFrame, cols, row_fn,
             out_schema: "StructType | str") -> DataFrame:
    """`map_kernel` over documents(doc_id, *cols) for per-document
    work: `row_fn(d, *values)` gets doc_id as a Python int. The input
    is hash-partitioned by doc_id at defaultParallelism first, since a
    small scan arrives as 1-2 tasks, which would serialize the
    per-document Python work. One partition per core: every (task x
    python-runner) pays a fixed worker cost, so more tasks only add
    that cost on a uniform per-document workload."""
    n_parts = documents.sparkSession.sparkContext.defaultParallelism
    docs = documents.select(F.col("doc_id").cast("long").alias("doc_id"), *cols)
    return map_kernel(docs.repartition(n_parts, "doc_id"), ["doc_id", *cols],
                      row_fn, out_schema)


# --- HTML pages and WARC archives ------------------------------------------


def synthesize_html(doc_id: int, text: str) -> str:
    """Deterministic page around `text` (sanitized like doc_to_pdf):
    real boilerplate (nav with links, header/footer, script/style, a
    link-dense related-articles div) that the extractor must strip,
    leaving exactly the planted paragraphs."""
    printable = NONPRINTABLE.sub("?", text)
    body = _htmlmod.escape(printable)
    return (
        "<!DOCTYPE html><html><head>"
        f"<title>doc-{doc_id}</title>"
        "<style>body{font:16px serif}</style>"
        "<script>var tracking='pixel';</script>"
        "</head><body>"
        "<header><h1>Site Name</h1></header>"
        '<nav><a href="/">Home</a> <a href="/about">About</a>'
        ' <a href="/contact">Contact</a></nav>'
        f"<article><p>{body}</p></article>"
        '<div class="related"><a href="/a">Read more stuff here</a>'
        ' <a href="/b">Another related article link</a> also</div>'
        "<footer>(c) 2024 Site Name - all rights reserved</footer>"
        "</body></html>"
    )


def synthesize_webpage(doc_id: int, text: str) -> str:
    """Rich deterministic page for the web-feature queries (links /
    meta / headings / tables), leaving synthesize_html (the html_main
    oracle's corpus) untouched. Every planted feature is a pure
    doc_id formula so DuckDB closed-form oracles exist:

      lang     = (en de fr es it)[d%5]
      robots   = noindex,nofollow when d%7==0 else index,follow
      canonical= https://example.com/doc/{d};  og:title = OG Doc {d}
      headings = h1 'Site Name' (boilerplate header), h1 'Doc {d}',
                 then 1+d%3 x h2 'Section {i} of doc {d}', each h2
                 followed by 'Body of section {i} in doc {d}.' (the
                 section stream: h1 section carries the doc text)
      links    = 3 nav (boiler) + d%4 body refs in the pre-heading
                 article preamble
                 (https://site{(d+i)%5}.example.com/ref/{d}/{i} —
                 the rotating host feeds the link-graph degree
                 oracle — rel=nofollow on odd i) + 2 related
                 -> 5 + d%4 total, document order
      table    = only when d%3==0: (2+d%5) x (1+d%3) cells 'c{r}.{c}'
    """
    d = int(doc_id)
    lang = ("en", "de", "fr", "es", "it")[d % 5]
    robots = "noindex,nofollow" if d % 7 == 0 else "index,follow"
    printable = NONPRINTABLE.sub("?", text)
    body = _htmlmod.escape(printable)
    parts = [
        f'<!DOCTYPE html><html lang="{lang}"><head>',
        '<meta charset="utf-8">',
        f"<title>doc-{d}</title>",
        f'<link rel="canonical" href="https://example.com/doc/{d}">',
        f'<meta name="description" content="Summary of document {d}">',
        f'<meta name="robots" content="{robots}">',
        f'<meta property="og:title" content="OG Doc {d}">',
        "<style>body{font:16px serif}</style>",
        "<script>var tracking='pixel';</script>",
        "</head><body>",
        "<header><h1>Site Name</h1></header>",
        '<nav><a href="/">Home</a> <a href="/about">About</a>'
        ' <a href="/contact">Contact</a></nav>',
        "<article>",
    ]
    # links + table live in the pre-heading preamble so the SECTION
    # stream (heading -> following text) stays a pure formula
    for i in range(d % 4):
        rel = ' rel="nofollow"' if i % 2 == 1 else ""
        parts.append(
            f'<a href="https://site{(d + i) % 5}.example.com'
            f'/ref/{d}/{i}"{rel}>ref {d}-{i}</a>'
        )
    if d % 3 == 0:
        rows = []
        for r in range(2 + d % 5):
            cells = "".join(
                f"<td>c{r}.{c}</td>" for c in range(1 + d % 3)
            )
            rows.append(f"<tr>{cells}</tr>")
        parts.append(f"<table>{''.join(rows)}</table>")
    parts.append(f"<h1>Doc {d}</h1><p>{body}</p>")
    for i in range(1 + d % 3):
        parts.append(
            f"<h2>Section {i} of doc {d}</h2>"
            f"<p>Body of section {i} in doc {d}.</p>"
        )
    parts += [
        "</article>",
        '<div class="related"><a href="/a">Read more stuff here</a>'
        ' <a href="/b">Another related article link</a></div>',
        "<footer>(c) 2024 Site Name - all rights reserved</footer>",
        "</body></html>",
    ]
    return "".join(parts)


def build_warc(records: List[dict], gzip_members: bool = False) -> bytes:
    """Deterministic WARC builder (fixtures + tests): records are
    {warc_type, record_id, target_uri, body(bytes), http_status,
    http_content_type} — response records get a full HTTP response
    envelope; others write their body as the raw block. With
    `gzip_members`, each record becomes its own gzip member (the
    CommonCrawl layout), mtime pinned to 0 for determinism."""
    out = []
    for rec in records:
        body = rec.get("body", b"")
        if rec.get("warc_type") == "response":
            status = rec.get("http_status", 200)
            reason = {200: "OK", 404: "Not Found"}.get(status, "X")
            ctype = rec.get("http_content_type",
                            "text/html; charset=utf-8")
            body = (
                f"HTTP/1.1 {status} {reason}\r\n"
                f"Content-Type: {ctype}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode("latin-1") + body
        hdr = [
            "WARC/1.0",
            f"WARC-Type: {rec.get('warc_type', 'resource')}",
            f"WARC-Record-ID: {rec.get('record_id', '<urn:x:0>')}",
            "WARC-Date: 2024-01-01T00:00:00Z",
        ]
        if rec.get("target_uri"):
            hdr.append(f"WARC-Target-URI: {rec['target_uri']}")
        if rec.get("warc_type") == "response":
            hdr.append("Content-Type: application/http;msgtype=response")
        else:
            hdr.append("Content-Type: application/octet-stream")
        hdr.append(f"Content-Length: {len(body)}")
        raw = ("\r\n".join(hdr) + "\r\n\r\n").encode("latin-1") \
            + body + b"\r\n\r\n"
        if gzip_members:
            co = zlib.compressobj(9, zlib.DEFLATED, 31)
            raw = co.compress(raw) + co.flush()
        out.append(raw)
    return b"".join(out)


# --- robots.txt files and sitemaps -------------------------------------------


def synthesize_robots(doc_id: int) -> str:
    """Deterministic robots.txt for doc d (formula oracle): a
    'sparkbot' group disallowing /sec{d%4}/ but allowing
    /sec{d%4}/pub/ with Crawl-delay d%5, a wildcard-anchored pdf ban,
    a '*' group banning /tmp/, and 1 + d%2 sitemap lines."""
    d = int(doc_id)
    k = d % 4
    lines = [
        "# synthetic fixture",
        "User-agent: sparkbot",
        f"Disallow: /sec{k}/",
        f"Allow: /sec{k}/pub/",
        "Disallow: /*.pdf$",
        f"Crawl-delay: {d % 5}",
        "",
        "User-agent: *",
        "Disallow: /tmp/",
    ]
    for i in range(1 + d % 2):
        lines.append(
            f"Sitemap: https://example.com/sitemap{i}-{d}.xml")
    return "\n".join(lines) + "\n"


def synthesize_sitemap(doc_id: int) -> str:
    """Deterministic sitemap for doc d (formula oracle): d%5==0 docs
    get a <sitemapindex> with 1 + d%2 child sitemaps; others a
    <urlset> with 1 + d%4 urls at loc
    https://example.com/doc/{d}/{i}, lastmod 2024-01-{1+(d+i)%28},
    priority (d+i)%10/10."""
    d = int(doc_id)
    if d % 5 == 0:
        items = "".join(
            f"<sitemap><loc>https://example.com/sm{d}-{i}.xml</loc>"
            f"<lastmod>2024-02-{1 + (d + i) % 28:02d}</lastmod>"
            "</sitemap>"
            for i in range(1 + d % 2)
        )
        return ('<?xml version="1.0" encoding="UTF-8"?>'
                '<sitemapindex xmlns="http://www.sitemaps.org/'
                f'schemas/sitemap/0.9">{items}</sitemapindex>')
    items = "".join(
        f"<url><loc>https://example.com/doc/{d}/{i}</loc>"
        f"<lastmod>2024-01-{1 + (d + i) % 28:02d}</lastmod>"
        f"<priority>{(d + i) % 10 / 10:.1f}</priority></url>"
        for i in range(1 + d % 4)
    )
    return ('<?xml version="1.0" encoding="UTF-8"?>'
            '<urlset xmlns="http://www.sitemaps.org/schemas/'
            f'sitemap/0.9">{items}</urlset>')


# --- planted signals: one builder each --------------------------------------


def _rate(d: int) -> int:
    """The sample rate of doc d's audio: 8000 + (d%8)*1000."""
    return 8000 + (d % 8) * 1000


def _square(amp, n: int) -> list:
    """n samples alternating +amp/-amp (n even): mean exactly 0 and
    rms = peak = |amp|."""
    return [amp, -amp] * (n // 2)


def _square_pcm(amp, n: int, fmt: str) -> bytes:
    """`_square(amp, n)` as PCM bytes. `fmt` is a byte order ('<' or
    '>') and a sample code: 'b'/'h'/'i' signed 8/16/32-bit, 'f'
    float32, 'i3' signed 24-bit, 'B' 8-bit offset binary (128 is
    zero)."""
    order, code = fmt[0], fmt[1:]
    samples = _square(amp, n)
    if code == "i3":
        byteorder = "little" if order == "<" else "big"
        return b"".join(s.to_bytes(3, byteorder, signed=True)
                        for s in samples)
    if code == "B":
        samples = [128 + s for s in samples]
    return struct.pack(f"{order}{len(samples)}{code}", *samples)


# the G.711 code pair that decodes to +-32124 (mu-law) / +-32256 (A-law)
_G711_PAIR = {"ulaw": b"\x80\x00", "alaw": b"\xaa\x2a"}


def _g711_square(law: str, n: int) -> bytes:
    """n G.711 `law` codes alternating between the +-full-scale pair:
    rms = peak = 32124/32768 (mu-law) or 32256/32768 (A-law), mean 0."""
    return _G711_PAIR[law] * (n // 2)


def _gray_ramp(d: int):
    """The BMP/PNM/TGA/TIFF image of doc d: (24 + (d%3)*8) x
    (8 + (d%2)*8) uint8, row y the constant 40 + ((d + y*11) % 50)*4,
    so mean_luma = avg_y(row value) exactly (heights 8/16 keep its
    decimals terminating)."""
    w, h = 24 + (d % 3) * 8, 8 + (d % 2) * 8
    img = np.zeros((h, w), np.uint8)
    for y in range(h):
        img[y, :] = 40 + ((d + y * 11) % 50) * 4
    return img


def _rgb(img):
    """A gray image as R=G=B planes: the 299/587/114 luma weights sum
    to 1000, so the decoded luma equals the gray value exactly."""
    return np.repeat(img[..., None], 3, axis=2)


def _twisted_palette(pad: bytes = b"") -> bytes:
    """The 256-entry gray palette pal[i] = (7*i + 13) % 256, each entry
    followed by `pad`: the indirection proves a decoder reads the
    palette, not the indices."""
    return b"".join(bytes(((7 * i + 13) % 256,) * 3) + pad
                    for i in range(256))


def _flat_tiles(d: int, base: int, step: int, dtype):
    """The JPEG image of doc d: (16 + (d%4)*8) x (8 + (d%2)*8), flat
    8x8 tiles, tile t at base + step*((t*7 + d) % 51)."""
    w, h = 16 + (d % 4) * 8, 8 + (d % 2) * 8
    img = np.zeros((h, w), dtype=dtype)
    tiles_x = w // 8
    for ty in range(h // 8):
        for tx in range(tiles_x):
            t = ty * tiles_x + tx
            img[ty * 8:(ty + 1) * 8, tx * 8:(tx + 1) * 8] = (
                base + step * ((t * 7 + d) % 51)
            )
    return img


def _tile_jpeg(d: int) -> bytes:
    """The 8-bit planted-tile JPEG for doc d: tiles at
    78 + 2*((t*7 + d) % 51) (even offsets from 128 survive Annex-K DC
    quantization exactly). Encoding varies by doc so the corpus
    exercises every decoder path while the ORACLE FORMULA never moves:
      d%4==0 -> grayscale 4:4:4 baseline
      d%4==1 -> gray-valued RGB, 4:2:0, restart_interval=2
      d%4==2 -> gray-valued RGB, 4:2:2, restart_interval=1
      d%4==3 -> gray-valued RGB, 4:2:0, PROGRESSIVE (SOF2, Annex G)
    Gray-valued RGB keeps decode lossless under subsampling: Y == v
    (the luma weights sum to 1) and Cb == Cr == 128 exactly, so chroma
    box-averaging and upsampling are the identity; progressive carries
    the same quantized coefficients as sequential, so it is equally
    lossless on these tiles."""
    img = _flat_tiles(d, 78, 2, np.uint8)
    variant = d % 4
    if variant == 0:
        return encode_jpeg(img)
    if variant == 1:
        return encode_jpeg(_rgb(img), subsampling="420", restart_interval=2)
    if variant == 2:
        return encode_jpeg(_rgb(img), subsampling="422", restart_interval=1)
    return encode_jpeg_progressive(_rgb(img), subsampling="420")


def _tile_jpeg12(d: int) -> bytes:
    """The 12-bit planted-tile JPEG for doc d (medical/scanned corpora):
    tiles at 1248 + 32*((t*7 + d) % 51) = 16x the 8-bit values, so the
    offsets from the 2048 level shift are multiples of 32 and survive
    the x16-scaled Annex-K DC quantization exactly (step 256, DC =
    8*delta -> delta/32 integral). Even docs are EXTENDED SEQUENTIAL
    (SOF1, 16-bit DQT); odd docs are 12-bit PROGRESSIVE (SOF2). The
    oracle mean is exactly 16x the 8-bit formula."""
    img = _flat_tiles(d, 1248, 32, np.uint16)
    if d % 2 == 0:
        return encode_jpeg(img, precision=12)
    return encode_jpeg_progressive(img, precision=12)


def _gif_frame(d: int):
    """(index rows, palette) of doc d's GIF frame: npal = 8,
    palette[k] = gray 30 + ((d + k*7) % 26)*8, width 24 + (d%3)*8 (a
    multiple of npal), height 8 + d%8, index(x, y) = (x + y) % 8 — every
    palette entry appears equally often in each row, so mean_luma =
    avg_k palette[k] exactly."""
    w, h = 24 + (d % 3) * 8, 8 + d % 8
    pal = [(v, v, v) for v in (30 + ((d + k * 7) % 26) * 8 for k in range(8))]
    return [[(x + y) % 8 for x in range(w)] for y in range(h)], pal


def _jp2(d: int) -> bytes:
    """Doc d's JPEG 2000 payload: layout ('j2k', 'jp2', 'jp2xl')[d%3]
    at width 20 + d%40, height 10 + d%20, n_components 1 + (d%2)*2,
    bit_depth (8, 10, 12, 16)[d%4]."""
    return imagegen.make_jp2(
        20 + d % 40, 10 + d % 20, n_components=1 + (d % 2) * 2,
        bit_depth=(8, 10, 12, 16)[d % 4], kind=("j2k", "jp2", "jp2xl")[d % 3])


def _wav_pcm(d: int) -> bytes:
    """Doc d's closed-form WAV (see synthesize_wav_pcm_media)."""
    v, rate = d % 6, _rate(d)
    if v == 0:
        return imagegen.make_wav(rate, 0, bits=16, data=_square_pcm(
            4096 * (1 + d % 7), 2 * (100 + d % 250), "<h"))
    if v == 1:
        return imagegen.make_wav(rate, 0, bits=8, data=_square_pcm(
            2 * (1 + d % 63), 2 * (50 + d % 200), "<B"))
    if v == 2:
        return imagegen.make_wav(rate, 0, bits=8, fmt_code=7,
                                 data=_g711_square("ulaw", 2 * (60 + d % 100)))
    if v == 3:
        return imagegen.make_wav(rate, 0, bits=8, fmt_code=6,
                                 data=_g711_square("alaw", 2 * (60 + d % 100)))
    if v == 4:
        return imagegen.make_wav(rate, 0, bits=24, data=_square_pcm(
            (1 << 20) * (1 + d % 7), 2 * (40 + d % 80), "<i3"))
    return imagegen.make_wav(rate, 0, bits=32, fmt_code=3, data=_square_pcm(
        0.125 * (1 + d % 7), 2 * (30 + d % 60), "<f"))


def _text_pdf(doc_id, text) -> bytes:
    """The synthesized corpus PDF for a documents(doc_id, text) row:
    one text span and one media span."""
    return doc_to_pdf(text or "", n_media=1, title=f"doc-{doc_id}")


def _media_pdf(d: int, payload: bytes) -> bytes:
    """A one-page PDF for doc d: one text span and ONE embedded media
    XObject 'img00' holding `payload`."""
    page = [
        {"kind": "text", "text": f"doc {d}\n", "media_ref": None},
        {"kind": "media_ref", "text": None, "media_ref": "img00"},
    ]
    return spans_to_pdf([page], media_payloads={"img00": payload})


def _warcinfo(d: int) -> dict:
    """The warcinfo record that opens doc d's archive."""
    return {"warc_type": "warcinfo",
            "record_id": f"<urn:warcinfo:{d}>",
            "body": b"software: sparkpdf-fixture\r\n"}


def _row_per_doc(documents: DataFrame, row_fn,
                 schema=MEDIA_SCHEMA) -> DataFrame:
    """One row per document: the string doc_id, then `row_fn(d)`'s
    columns for the integer doc_id d."""
    return map_docs(documents, [], lambda d: [(str(d), *row_fn(d))], schema)


# --- PDF corpora --------------------------------------------------------------


def synthesize_pdf_corpus(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, ...) -> pdf_raw(doc_id, pdf_bytes).

    Deterministic: doc_to_pdf is pure, so the corpus is reproducible on
    any cluster size; used by entry(), the oracle queries, and bench.
    Skewed REAL corpora should size partitions with plans/salting.py,
    not map_docs's one-per-core default."""
    return map_docs(documents, ["text"],
                    lambda d, text: [(str(d), _text_pdf(d, text))],
                    PDF_RAW_SCHEMA)


def synthesize_and_extract_spans(documents: DataFrame) -> DataFrame:
    """Fused synthesize_pdf_corpus + extract_spans in ONE Python
    layer: row-identical to extract_spans(synthesize_pdf_corpus(
    documents)) — pinned by tests/test_fused_extract.py and the
    extract_spans oracle — but the synthesized PDF bytes never cross
    the Arrow boundary and the pipeline pays one python-runner layer
    instead of two chained ones (each (task x runner) costs a fixed
    worker handshake)."""
    return map_docs(documents, ["text"],
                    lambda d, text: [_span_row(str(d), _text_pdf(d, text))],
                    INTERLEAVED_SCHEMA)


def synthesize_and_extract_stats(documents: DataFrame) -> DataFrame:
    """Fused synthesize_pdf_corpus + extract_stats: one python-runner
    layer, and NEITHER the PDF bytes NOR the span text ever cross
    Arrow — the output is five scalars per doc. Row-identical to
    extract_stats(synthesize_pdf_corpus(documents))."""
    return map_docs(documents, ["text"],
                    lambda d, text: [_stats_row(str(d), _text_pdf(d, text))],
                    STATS_SCHEMA)


def synthesize_paged_corpus(documents: DataFrame,
                            n_pages: int = 3) -> DataFrame:
    """Multi-page variant of synthesize_pdf_corpus (page ops at scale)."""
    return map_docs(
        documents, ["text"],
        lambda d, text: [(str(d), doc_to_pdf_paged(text or "", n_pages))],
        PDF_RAW_SCHEMA)


def synthesize_interleaved_corpus(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text) -> (doc_id, payload): even doc_ids
    become PDFs (the extract_spans corpus, 1 text + 1 media span), odd
    doc_ids become HTML pages with the doc text as the lead paragraph,
    one <img src="img-{d}"> and a formula closing paragraph (2 text
    spans + 1 media_ref span), with the usual nav/header/footer
    boilerplate the extractor must strip. Both lanes are closed-form
    so one DuckDB oracle covers the mixed output."""

    def row(d, text):
        if d % 2 == 0:
            return [(str(d), _text_pdf(d, text))]
        return [(str(d), synthesize_interleaved_html(d, text).encode("utf-8"))]

    return map_docs(documents, ["text"], row, "doc_id string, payload binary")


def write_pdfs_with_jpeg_media(documents: DataFrame) -> DataFrame:
    """documents -> pdf_raw where each doc embeds ONE REAL JPEG
    ('img00', the synthesize_jpeg_media tiles) — the input side of the
    end-to-end chain encode JPEG -> embed in PDF -> reopen PDF -> pull
    XObject -> Huffman+IDCT decode -> stats, all in-engine and
    SQL-verifiable."""
    return _row_per_doc(documents, lambda d: (_media_pdf(d, _tile_jpeg(d)),),
                        PDF_RAW_SCHEMA)


def write_pdfs_with_jp2_media(documents: DataFrame) -> DataFrame:
    """documents -> pdf_raw where each doc embeds ONE JPEG 2000
    payload ('img00', /Filter /JPXDecode — the reference's passthrough
    filter) at the synthesize_jp2_media formulas: the end-to-end chain
    build jp2 -> embed as JPX XObject -> reopen the PDF -> pull the
    payload -> header parse -> dims/bits, all in-engine and
    SQL-verifiable. Layout rotates d%3 so the codestream, container
    and XLBox paths all survive the PDF round-trip byte-exactly."""
    return _row_per_doc(documents, lambda d: (_media_pdf(d, _jp2(d)),),
                        PDF_RAW_SCHEMA)


def synthesize_attachment_pdf_media(documents: DataFrame) -> DataFrame:
    """documents -> pdf_raw(doc_id, pdf_bytes) where each PDF carries
    the doc's synthesize_wav_pcm_media waveform as an EMBEDDED FILE
    (catalog /Names /EmbeddedFiles, the write side the reference
    calls addAttachment). The end-to-end contract: PDF byte
    serialization -> xref/COS parse -> name-tree walk -> Flate stream
    decode -> RIFF chunk walk -> per-sample PCM/G.711 decode, all
    under the SAME closed-form oracle as wav_pcm_stats."""

    def row(d):
        page = [{"kind": "text", "text": f"audio host {d}", "media_ref": None}]
        return (spans_to_pdf([page], title=f"att-{d}",
                             attachments=[(f"wav-{d}.wav", _wav_pcm(d))]),)

    return _row_per_doc(documents, row, PDF_RAW_SCHEMA)


# --- web corpora --------------------------------------------------------------


def synthesize_html_corpus(documents: DataFrame) -> DataFrame:
    """documents -> (doc_id, html): deterministic pages with real
    boilerplate around the text (kernels/html.synthesize_html)."""
    return map_docs(documents, ["text"],
                    lambda d, text: [(str(d), synthesize_html(d, text or ""))],
                    "doc_id string, html string")


def synthesize_web_corpus(documents: DataFrame) -> DataFrame:
    """documents -> (doc_id, html): the RICH deterministic pages
    (kernels/html.synthesize_webpage — planted links/meta/headings/
    tables, all doc_id formulas) for the web-feature queries; the
    html_main oracle keeps its own unchanged synthesize_html corpus."""
    return map_docs(documents, ["text"],
                    lambda d, text: [(str(d), synthesize_webpage(d, text or ""))],
                    "doc_id string, html string")


def synthesize_warc_corpus(documents: DataFrame) -> DataFrame:
    """documents -> (doc_id, warc_bytes): one REAL WARC archive per
    doc — warcinfo + request + response records with the rich webpage
    as the HTTP payload (kernels/warc.build_warc over
    kernels/html.synthesize_webpage). Formula-planted for oracles:
    target URI = https://example.com/doc/{d}, HTTP status = 404 when
    d%9==0 else 200, and ODD docs use the CommonCrawl
    per-record-gzip-member layout (even docs plain) so both file
    forms decode in every corpus."""

    def row(d, text):
        uri = f"https://example.com/doc/{d}"
        html = synthesize_webpage(d, text or "")
        recs = [
            _warcinfo(d),
            {"warc_type": "request",
             "record_id": f"<urn:request:{d}>",
             "target_uri": uri,
             "body": (f"GET /doc/{d} HTTP/1.1\r\n"
                      "Host: example.com\r\n\r\n").encode("latin-1")},
            {"warc_type": "response",
             "record_id": f"<urn:response:{d}>",
             "target_uri": uri,
             "http_status": 404 if d % 9 == 0 else 200,
             "body": html.encode("latin-1")},
        ]
        return [(str(d), build_warc(recs, gzip_members=(d % 2 == 1)))]

    return map_docs(documents, ["text"], row, "doc_id string, warc_bytes binary")


def synthesize_warc_mixed_corpus(documents: DataFrame) -> DataFrame:
    """documents -> (doc_id, warc_bytes): one archive per doc whose
    response record carries a MIXED payload — even docs an
    application/pdf body (the synthesize_pdf_corpus PDF), odd docs a
    text/html body (kernels/html.synthesize_interleaved_html) — the
    real CommonCrawl shape where crawls interleave document formats.
    Odd docs use the per-record-gzip-member layout. Feeds
    sources/warc_source.warc_documents -> extract_interleaved."""

    def row(d, text):
        if d % 2 == 0:
            body = _text_pdf(d, text)
            ctype = "application/pdf"
        else:
            body = synthesize_interleaved_html(d, text or "").encode("latin-1")
            ctype = "text/html; charset=utf-8"
        recs = [
            _warcinfo(d),
            {"warc_type": "response",
             "record_id": f"<urn:response:{d}>",
             "target_uri": f"https://example.com/doc/{d}",
             "http_status": 200,
             "http_content_type": ctype,
             "body": body},
        ]
        return [(str(d), build_warc(recs, gzip_members=(d % 2 == 1)))]

    return map_docs(documents, ["text"], row, "doc_id string, warc_bytes binary")


def synthesize_robots_corpus(documents: DataFrame) -> DataFrame:
    """documents -> (doc_id, robots_txt): one synthesize_robots file per
    doc, the input of operators/text.extract_robots_rules."""
    return map_docs(documents, [], lambda d: [(d, synthesize_robots(d))],
                    "doc_id long, robots_txt string")


def synthesize_sitemap_corpus(documents: DataFrame) -> DataFrame:
    """documents -> (doc_id, sitemap_xml): one synthesize_sitemap file
    per doc, the input of operators/text.extract_sitemap_entries."""
    return map_docs(documents, [], lambda d: [(d, synthesize_sitemap(d))],
                    "doc_id long, sitemap_xml string")


# --- image corpora ------------------------------------------------------------


def synthesize_media(documents: DataFrame) -> DataFrame:
    """documents -> one deterministic fake-image row per doc (payload =
    md5(text) bytes via JVM-side functions; no Python here)."""
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("img-"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.lit("image").alias("modality"),
        # payload = ASCII bytes of the md5 hex digest: DuckDB's sha256
        # only hashes VARCHAR, so the oracle chain is sha256(md5(text))
        F.md5(F.col("text").cast("binary")).cast("binary").alias("payload"),
    )


def synthesize_image_media(documents: DataFrame) -> DataFrame:
    """documents -> one REAL image per doc (PNG for even doc_id, JPEG
    for odd) with formula dimensions width = 16 + doc_id % 32,
    height = 8 + doc_id % 16 — so the oracle can state the expected
    dims in pure SQL while the engine must actually parse the binary
    headers to reproduce them."""

    def row(d):
        w, h = 16 + d % 32, 8 + d % 16
        make = imagegen.make_png if d % 2 == 0 else imagegen.make_jpeg
        return f"img-{d}", "image", make(w, h)

    return _row_per_doc(documents, row)


def synthesize_bmp_media(documents: DataFrame) -> DataFrame:
    """documents -> one REAL BMP per doc (_gray_ramp), rotating by d%4
    across the DIB variants (0 -> 24-bit bottom-up; 1 -> 24-bit
    TOP-DOWN, negative biHeight; 2 -> 8-bit palettized over the
    twisted palette; 3 -> BI_RLE8 COMPRESSED 8-bit over the
    gray-identity palette — encoded runs AND absolute-mode spans). The
    oracle is the gray-ramp closed form with a palette CASE on the
    d%4==2 lane."""

    def row(d):
        img, lane = _gray_ramp(d), d % 4
        if lane == 2:
            payload = imagegen.make_bmp(img, bits=8,
                                        palette=_twisted_palette(b"\x00"))
        elif lane == 3:
            payload = imagegen.make_bmp(img, bits=8, rle=True)
        else:
            payload = imagegen.make_bmp(img, topdown=(lane == 1))
        return f"bmp-{d}", "image", payload

    return _row_per_doc(documents, row)


def synthesize_pnm_media(documents: DataFrame) -> DataFrame:
    """documents -> one REAL binary netpbm per doc (_gray_ramp),
    rotating by d%3 (0 -> P5 8-bit graymap; 1 -> P6 RGB pixmap with
    gray-valued pixels; 2 -> P5 16-BIT graymap at maxval 65535 storing
    g*257, the standard 8->16 bit scaling, so the native-depth mean is
    exactly 257x the 8-bit formula)."""

    def row(d):
        img, lane = _gray_ramp(d), d % 3
        if lane == 1:
            payload = imagegen.make_pnm(_rgb(img))
        elif lane == 2:
            payload = imagegen.make_pnm(img.astype(np.uint16) * 257,
                                        maxval=65535)
        else:
            payload = imagegen.make_pnm(img)
        return f"pnm-{d}", "image", payload

    return _row_per_doc(documents, row)


def synthesize_webp_media(documents: DataFrame) -> DataFrame:
    """documents -> one WebP per doc, layout rotating by d%3
    (VP8 lossy header / VP8L lossless bitfields / VP8X extended
    canvas) at formula dims width = 16 + d%32, height = 8 + d%16 —
    each layout encodes dims differently, so one dims oracle
    certifies all three header parsers."""

    def row(d):
        kind = ("vp8", "vp8l", "vp8x")[d % 3]
        return f"webp-{d}", "image", imagegen.make_webp(
            16 + d % 32, 8 + d % 16, kind)

    return _row_per_doc(documents, row)


def synthesize_jp2_media(documents: DataFrame) -> DataFrame:
    """documents -> one JPEG 2000 per doc (_jp2): raw j2k codestream /
    jp2 container / jp2 container with an XLBox-length jp2c by d%3 —
    each layout stores the dims in a different structure (SIZ grid vs
    ihdr), so one dims oracle certifies the codestream parser, the
    box walk, and the extended-length path."""
    return _row_per_doc(documents, lambda d: (f"jp2-{d}", "image", _jp2(d)))


def synthesize_tga_ico_media(documents: DataFrame) -> DataFrame:
    """documents -> one REAL TGA or ICO per doc (_gray_ramp), rotating
    by d%5 (0 -> TGA grayscale type 3; 1 -> TGA truecolor type 2 with
    REAL RLE packets, gray-valued BGR; 2 -> TGA palettized type 1 over
    the twisted palette, RLE on odd docs; 3 -> ICO classic DIB entry
    (doubled-height XOR+AND planes); 4 -> ICO with a PNG-compressed
    entry — the full PNG pixel path inside the ICO container). The
    oracle is one closed form with the palette CASE on lane 2."""

    def row(d):
        img, lane = _gray_ramp(d), d % 5
        if lane == 0:
            payload = imagegen.make_tga(img, topdown=(d % 2 == 1))
        elif lane == 1:
            payload = imagegen.make_tga(_rgb(img), rle=True)
        elif lane == 2:
            payload = imagegen.make_tga(img, img_type=1,
                                        palette=_twisted_palette(),
                                        rle=(d % 2 == 1))
        elif lane == 3:
            payload = imagegen.make_ico(img)
        else:
            payload = imagegen.make_ico(img, png=True)
        return f"tga-{d}", "image", payload

    return _row_per_doc(documents, row)


def synthesize_g4_media(documents: DataFrame) -> DataFrame:
    """documents -> one Group-4 TIFF per doc: width = 16 + doc_id % 32,
    height = 8 + doc_id % 16, the top half(height//2 rows) solid black —
    so the expected ink_ratio is (height//2)/height, SQL-restatable,
    while the engine must really run the T.6 MMR decode to measure it."""

    def row(d):
        w, h = 16 + d % 32, 8 + d % 16
        bitmap = [[1] * w if r < h // 2 else [0] * w for r in range(h)]
        payload = ccitt_fax_wrap(
            g4_encode(bitmap, w), {"/K": -1, "/Columns": w, "/Rows": h}
        )
        return f"scan-{d}", "image", payload

    return _row_per_doc(documents, row)


def synthesize_gif_media(documents: DataFrame) -> DataFrame:
    """documents -> one REAL LZW-coded GIF frame per doc (_gif_frame:
    GIF decode is lossless palette lookup, so the decoded mean
    luminance is a pure doc_id formula). Odd docs are INTERLACED
    (4-pass row order) — same pixels, so the oracle doesn't move while
    the de-interlacer is exercised."""

    def row(d):
        rows, pal = _gif_frame(d)
        return (f"gif-{d}", "image",
                imagegen.make_gif_frame(rows, pal, interlace=bool(d % 2)))

    return _row_per_doc(documents, row)


def synthesize_animated_gif_media(documents: DataFrame) -> DataFrame:
    """documents -> one ANIMATED GIF per doc: n_frames = 1 + d%4
    identical _gif_frame frames, per-frame GCE delay = (10 + d%20) cs
    -> duration_ms = n_frames * (10 + d%20) * 10, mean_luma the gif
    corpus formula. The engine must walk the real block stream
    (gif_frames_info) AND LZW-decode frame 1 to match."""

    def row(d):
        rows, pal = _gif_frame(d)
        n = 1 + d % 4
        return f"anim-{d}", "image", imagegen.make_animated_gif(
            [rows] * n, pal, [10 + d % 20] * n, loop=d % 3)

    return _row_per_doc(documents, row)


def synthesize_tiff_media(documents: DataFrame) -> DataFrame:
    """documents -> one TIFF per doc (_gray_ramp) cycling EIGHT
    organizations over identical luma (the oracle formula never moves
    while the engine exercises every decode path):
      d%8==0 strip, uncompressed      d%8==1 strip, LZW + predictor 2
      d%8==2 TILED 16x16, LZW         d%8==3 JPEG strips (lossless SOF3)
      d%8==4 RGB PLANAR (tag 284=2), LZW + predictor 2, multi-strip —
             gray-valued planes (R=G=B=row value)
      d%8==5 RGB PLANAR x TILED 16x16, LZW + predictor 2
      d%8==6 RGB PLANAR x JPEG strips (per-plane grayscale SOF3 with
             shared JPEGTables)
      d%8==7 OLD-style JPEG (compression 6): one SOF3 interchange
             stream under JPEGInterchangeFormat 513/514 — lossless,
             so the shared formula still holds"""

    def row(d):
        img, v = _gray_ramp(d), d % 8
        if v == 0:
            payload = imagegen.make_tiff(img)
        elif v == 1:
            payload = imagegen.make_tiff(img, compression=5,
                                         rows_per_strip=4, predictor=2)
        elif v == 2:
            payload = imagegen.make_tiff_tiled(img, 16, 16, compression=5)
        elif v == 3:
            payload = imagegen.make_tiff_jpeg(img, rows_per_strip=8)
        elif v == 4:
            payload = imagegen.make_tiff(_rgb(img), compression=5,
                                         rows_per_strip=4, predictor=2,
                                         planar=2)
        elif v == 5:
            payload = imagegen.make_tiff_tiled(_rgb(img), 16, 16,
                                               compression=5, predictor=2,
                                               planar=2)
        elif v == 6:
            payload = imagegen.make_tiff_jpeg(_rgb(img), rows_per_strip=8,
                                              planar=2, shared_tables=True)
        else:
            payload = imagegen.make_tiff_ojpeg(img)
        return f"tif-{d}", "image", payload

    return _row_per_doc(documents, row)


def synthesize_lossless_jpeg_media(documents: DataFrame) -> DataFrame:
    """documents -> one LOSSLESS JPEG (SOF3) per doc: 12-bit gray,
    predictor = 1 + d%7 (decode is exact for every selector), row y
    constant 400 + ((d + y*13) % 200) * 16, width = 24 + (d%3)*8,
    height = 8 + (d%2)*8 -> mean_luma = avg_y(row value) exactly."""

    def row(d):
        w, h = 24 + (d % 3) * 8, 8 + (d % 2) * 8
        img = np.zeros((h, w), dtype=np.uint16)
        for y in range(h):
            img[y, :] = 400 + ((d + y * 13) % 200) * 16
        return f"ljpg-{d}", "image", encode_jpeg_lossless(
            img, predictor=1 + d % 7, precision=12)

    return _row_per_doc(documents, row)


def synthesize_jpeg12_media(documents: DataFrame) -> DataFrame:
    """documents -> one REAL 12-bit JPEG per doc (_tile_jpeg12): the
    engine must run the full 12-bit decode (16-bit DQT, SOF1/SOF2,
    2048 level shift) to reproduce the SQL-restatable mean."""
    return _row_per_doc(documents,
                        lambda d: (f"jpg12-{d}", "image", _tile_jpeg12(d)))


def synthesize_jpeg_media(documents: DataFrame) -> DataFrame:
    """documents -> one REAL JPEG per doc (_tile_jpeg) so the oracle
    restates the decoded mean luminance in pure SQL while the engine
    must run the full Huffman + IDCT decode — including the 4:2:0/4:2:2
    chroma upsample, DRI/RSTn restart handling and progressive scans —
    to match."""
    return _row_per_doc(documents,
                        lambda d: (f"jpg-{d}", "image", _tile_jpeg(d)))


# --- audio and video corpora --------------------------------------------------


def synthesize_av_media(documents: DataFrame) -> DataFrame:
    """documents -> one REAL audio/video container per doc (doc_id % 7)
    with formula metadata the oracle can restate in SQL while the engine
    must parse the real binary headers (RIFF chunks / BMFF boxes /
    Layer-III frame walk / EBML / STREAMINFO bitfields / Ogg granule):
      0 WAV:  sample_rate = 8000 + (d%8)*1000, duration_ms = 100 + d%400
      1 MP4:  width = 320 + (d%8)*16, height = 240 + (d%4)*16,
              duration_ms = 500 + d%1000
      2 MP3:  sample_rate = 32000, frames = 5 + d%20 ->
              duration_ms = (5 + d%20) * 36
      3 MKV:  width = 100 + d%300, height = 80 + d%200,
              duration_ms = 700 + d%900
      4 FLAC: sample_rate = 16000 + (d%4)*8000, duration_ms = 200 + d%600
      5 OGG:  vorbis (even d): rate = 24000, duration_ms = 300 + d%500;
              opus (odd d): rate = 16000 + (d%3)*16000, same duration
              (granule math stays exact: 24000 and 48000 divide 1000ms)
      6 AVI:  width = 160 + (d%10)*32, height = 120 + (d%6)*32,
              duration_ms = 400 + d%800 (25 fps -> exact usec math)"""

    def row(d):
        v = d % 7
        if v == 0:
            return f"av-{d}", "audio", imagegen.make_wav(_rate(d), 100 + d % 400)
        if v == 1:
            return f"av-{d}", "video", imagegen.make_mp4(
                320 + (d % 8) * 16, 240 + (d % 4) * 16, 500 + d % 1000)
        if v == 2:
            return f"av-{d}", "audio", imagegen.make_mp3(
                5 + d % 20, id3=(d % 8 == 6))
        if v == 3:
            return f"av-{d}", "video", imagegen.make_mkv(
                100 + d % 300, 80 + d % 200, 700 + d % 900)
        if v == 4:
            return f"av-{d}", "audio", imagegen.make_flac(
                16000 + (d % 4) * 8000, 200 + d % 600)
        if v == 5:
            return f"av-{d}", "audio", imagegen.make_ogg(
                24000 if d % 2 == 0 else 16000 + (d % 3) * 16000,
                300 + d % 500, codec="vorbis" if d % 2 == 0 else "opus")
        return f"av-{d}", "video", imagegen.make_avi(
            160 + (d % 10) * 32, 120 + (d % 6) * 32, 400 + d % 800)

    return _row_per_doc(documents, row)


def synthesize_wav_pcm_media(documents: DataFrame) -> DataFrame:
    """documents -> one REAL WAV per doc (doc_id % 6) whose waveform
    has a CLOSED-FORM rms/peak/mean the oracle restates in SQL while
    the engine must parse the RIFF chunks and decode every sample:
      0: 16-bit PCM square wave, A = 4096*(1 + d%7)
         -> rms = peak = A/32768 (exact eighths), n = 2*(100 + d%250)
      1: 8-bit PCM square wave, A = 2*(1 + d%63)
         -> rms = peak = A/128, n = 2*(50 + d%200)
      2: G.711 mu-law -> rms = peak = 32124/32768, n = 2*(60 + d%100)
      3: G.711 A-law -> rms = peak = 32256/32768, n = 2*(60 + d%100)
      4: 24-bit PCM square, A = 2^20*(1 + d%7)
         -> rms = peak = A/2^23 (exact eighths), n = 2*(40 + d%80)
      5: IEEE float32 square, amp = 0.125*(1 + d%7) (exact binary)
         -> rms = peak = amp, n = 2*(30 + d%60)
    All squares alternate +A/-A over an even frame count, so mean is
    exactly 0; amplitudes are picked so every 6-dp round is exact on
    both engines (terminating binary fractions)."""
    return _row_per_doc(documents, lambda d: (f"wav-{d}", "audio", _wav_pcm(d)))


def synthesize_flac_pcm_media(documents: DataFrame) -> DataFrame:
    """documents -> one REAL FLAC per doc (doc_id % 6) covering the
    codec surface — the engine must parse STREAMINFO, frame headers,
    subframes, rice residuals and stereo decorrelation (CRCs and all)
    to recover waveforms whose stats the oracle restates in SQL:
      0: CONSTANT subframe, 16-bit, A = 1024*(1 + d%7)
         -> rms = peak = mean = A/32768, n = 100 + d%250
      1: VERBATIM square +-A, A = 4096*(1 + d%7)
         -> rms = peak = A/32768, mean 0, n = 2*(50 + d%200)
      2: FIXED-2 square (partition order 1), same A
         -> same closed form, n = 2*(60 + d%100)
      3: LPC (order 1, shift 2) square, 24-bit, A = 2^20*(1 + d%7)
         -> rms = peak = A/2^23 = 0.125*(1 + d%7), n = 2*(40 + d%80)
      4: MID-SIDE stereo, L = +A / R = -A constant, A = 4096*(1+d%7)
         -> rms = peak = A/32768, mean 0, n = 2*(60 + d%100)
      5: 8-bit square with ESCAPED rice partitions, A = 2*(1 + d%31)
         -> rms = peak = A/128, mean 0, n = 2*(50 + d%200)
    Amplitudes are terminating binary fractions (exact 6-dp rounds on
    both engines); FLAC is lossless, so decode is exact by
    construction."""

    def row(d):
        v, rate, k = d % 6, _rate(d), 1 + d % 7
        encode = imagegen.encode_flac
        if v == 0:
            blob = encode([1024 * k] * (100 + d % 250), rate,
                          subframe="constant")
        elif v == 1:
            blob = encode(_square(4096 * k, 2 * (50 + d % 200)), rate,
                          subframe="verbatim")
        elif v == 2:
            blob = encode(_square(4096 * k, 2 * (60 + d % 100)), rate,
                          subframe="fixed2", partition_order=1)
        elif v == 3:
            blob = encode(_square((1 << 20) * k, 2 * (40 + d % 80)), rate,
                          bits=24, subframe="lpc1")
        elif v == 4:
            blob = encode(_square(4096 * k, 2 * (60 + d % 100)), rate,
                          channels=2, stereo_mode="mid-side",
                          subframe="constant")
        else:
            blob = encode(_square(2 * (1 + d % 31), 2 * (50 + d % 200)),
                          rate, bits=8, subframe="fixed1", rice_escape=True)
        return f"flac-{d}", "audio", blob

    return _row_per_doc(documents, row)


def synthesize_bigendian_audio_media(documents: DataFrame) -> DataFrame:
    """documents -> one REAL AIFF/AIFF-C or Sun AU payload per doc
    (doc_id % 8) with closed-form waveforms (k = 1 + d%7; squares
    alternate so mean is exactly 0 and every 6-dp round is exact on
    both engines):
      0: AIFF 16-bit BE square, A = 4096k -> rms = peak = k/8,
         n = 2*(50 + d%200)
      1: AIFF 8-bit SIGNED square (AIFF is signed at every depth),
         A = 2*(1 + d%63) -> A/128, n = 2*(40 + d%120)
      2: AIFF 24-bit STEREO (L=+A, R=-A), A = 2^20*k
         -> 0.125k, n = 2*(30 + d%90) total samples
      3: AU 16-bit BE square, A = 4096k -> k/8, n = 2*(60 + d%100)
      4: AU G.711 mu-law -> +-32124, n = 2*(60 + d%100)
      5: AU G.711 A-law -> +-32256, n = 2*(60 + d%100)
      6: AIFF-C 'sowt' (LITTLE-endian 16-bit inside the BE
         container), A = 4096k -> k/8, n = 2*(50 + d%150)
      7: AIFF-C 'ulaw' -> +-32124, n = 2*(40 + d%120)
    The engine must walk IFF chunks (COMM's 80-bit extended rate,
    the AIFC compression fourcc, SSND offset) or the .snd header and
    decode the samples to match the oracle's restated formulas."""

    def row(d):
        v, rate, k = d % 8, _rate(d), 1 + d % 7
        aiff, au = imagegen.make_aiff, imagegen.make_au
        if v == 0:
            blob = aiff(rate, 1, 16,
                        _square_pcm(4096 * k, 2 * (50 + d % 200), ">h"))
        elif v == 1:
            blob = aiff(rate, 1, 8,
                        _square_pcm(2 * (1 + d % 63), 2 * (40 + d % 120), ">b"))
        elif v == 2:
            blob = aiff(rate, 2, 24,
                        _square_pcm((1 << 20) * k, 2 * (30 + d % 90), ">i3"))
        elif v == 3:
            blob = au(rate, 1, 3,
                      _square_pcm(4096 * k, 2 * (60 + d % 100), ">h"))
        elif v == 4:
            blob = au(rate, 1, 1, _g711_square("ulaw", 2 * (60 + d % 100)))
        elif v == 5:
            blob = au(rate, 1, 27, _g711_square("alaw", 2 * (60 + d % 100)))
        elif v == 6:
            blob = aiff(rate, 1, 16,
                        _square_pcm(4096 * k, 2 * (50 + d % 150), "<h"),
                        compression=b"sowt")
        else:
            blob = aiff(rate, 1, 8, _g711_square("ulaw", 2 * (40 + d % 120)),
                        compression=b"ulaw")
        return f"be-audio-{d}", "audio", blob

    return _row_per_doc(documents, row)


def synthesize_segmented_wav_media(documents: DataFrame) -> DataFrame:
    """documents -> one 16-bit WAV per doc whose waveform alternates
    LOUD and SILENT blocks exactly aligned to 64-sample segments:
    r = 1 + d%3 repeats of [L = 2 + d%3 loud segments (square +-A,
    A = 4096k, k = 1 + d%7)] + [Q = 1 + d%2 zero segments]. Every
    segment is full, loud segments have rms = peak = k/8 / mean 0 and
    silent ones are exactly 0 — closed forms for BOTH the
    per-segment query and the silence-span islands."""

    def row(d):
        loud = _square_pcm(4096 * (1 + d % 7), 64 * (2 + d % 3), "<h")
        quiet = _square_pcm(0, 64 * (1 + d % 2), "<h")
        return f"seg-wav-{d}", "audio", imagegen.make_wav(
            _rate(d), 0, bits=16, data=(loud + quiet) * (1 + d % 3))

    return _row_per_doc(documents, row)


def synthesize_mp4_pcm_media(documents: DataFrame) -> DataFrame:
    """documents -> one REAL PCM-in-MP4 movie per doc (doc_id % 4),
    QuickTime uncompressed sample entries over closed-form squares
    (k = 1 + d%7; mean exactly 0 except the raw variant's midpoint):
      0: 'sowt' LE 16-bit, A = 4096k, n = 2*(50 + d%200)
      1: 'twos' BE 16-bit, A = 4096k, n = 2*(60 + d%100)
      2: 'in24' BE 24-bit STEREO L=+A/R=-A, A = 2^20*k,
         n = 2*(40 + d%80) total samples
      3: 'raw ' unsigned 8-bit, A = 2*(1 + d%63), n = 2*(50 + d%120)
    The table samples hold 64 PCM frames each (2 per chunk), so the
    engine exercises real stsc/stco/stsz resolution per §8.7."""

    def row(d):
        v, rate, k = d % 4, _rate(d), 1 + d % 7
        mp4 = imagegen.make_mp4_pcm
        if v == 0:
            blob = mp4(rate, 1, b"sowt",
                       _square_pcm(4096 * k, 2 * (50 + d % 200), "<h"))
        elif v == 1:
            blob = mp4(rate, 1, b"twos",
                       _square_pcm(4096 * k, 2 * (60 + d % 100), ">h"))
        elif v == 2:
            blob = mp4(rate, 2, b"in24",
                       _square_pcm((1 << 20) * k, 2 * (40 + d % 80), ">i3"))
        else:
            blob = mp4(rate, 1, b"raw ",
                       _square_pcm(2 * (1 + d % 63), 2 * (50 + d % 120), "<B"))
        return f"mp4-pcm-{d}", "audio", blob

    return _row_per_doc(documents, row)


def synthesize_ogg_flac_media(documents: DataFrame) -> DataFrame:
    """documents -> one REAL Ogg-FLAC stream per doc (doc_id % 4),
    exercising every demux shape under closed-form waveforms
    (k = 1 + d%7; squares alternate so mean is exactly 0):
      0: one frame, one audio packet, one page (A = 4096k,
         n = 2*(50 + d%200))
      1: MULTI-FRAME (block_size 32 -> many packets packed greedily
         into pages), A = 4096k, n = 2*(60 + d%100)
      2: packet SPANNING pages (16-bit VERBATIM frame, 4-segment page
         budget -> continuation flags + lacing reassembly),
         A = 4096k, n = 2*(300 + d%300)
      3: mid-side stereo constant L=+A/R=-A, A = 4096k,
         n = 2*(60 + d%100) total samples
    All page CRCs are real and VERIFIED by the demuxer; rms = peak =
    k/8 exactly for every variant, mean 0."""

    def row(d):
        v, rate, amp = d % 4, _rate(d), 4096 * (1 + d % 7)
        ogg = imagegen.make_ogg_flac
        if v == 0:
            blob = ogg(_square(amp, 2 * (50 + d % 200)), rate)
        elif v == 1:
            blob = ogg(_square(amp, 2 * (60 + d % 100)), rate, block_size=32)
        elif v == 2:
            blob = ogg(_square(amp, 2 * (300 + d % 300)), rate,
                       subframe="verbatim", max_segs_per_page=4)
        else:
            blob = ogg(_square(amp, 2 * (60 + d % 100)), rate, channels=2,
                       stereo_mode="mid-side", subframe="constant")
        return f"ogg-flac-{d}", "audio", blob

    return _row_per_doc(documents, row)


def synthesize_adpcm_media(documents: DataFrame) -> DataFrame:
    """documents -> one REAL ADPCM WAV per doc (doc_id % 4) whose
    nibble streams are constructed so the spec state machines decode
    to closed-form waveforms (k = 1 + d%7, B = 1 + d%4 blocks):
      0: IMA mono, pred A = 4096k-2 at step index 0 (step 7), bytes
         0xB3 = nibbles 3/11 -> exactly +-4 with the index pinned at 0
         -> samples per block: A, then (A+4, A) x 4g, g = 2 + d%6
      1: IMA stereo, L=+A / R=-A (A = 4096k), all-zero nibbles (step 7
         -> diff 0) -> constant; mean 0, rms = peak = A/32768 exact
      2: MS mono, coeff set 0 (256,0), delta 16 (the floor: 230*16>>8
         = 14 -> clamps back to 16), bytes 0x1F = +1/-1 -> A+16, A
         alternation after the two header samples; A = 4096k-8,
         m = 2 + d%7 data bytes
      3: MS mono, coeff set 1 (512,-256): s1 = s2 = A = 4096k keeps
         the prediction at A under zero nibbles -> constant;
         mean = rms = peak = k/8 exact, m = 1 + d%6
    The engine must parse the extended fmt chunk, walk the blocks and
    run the public adaptation tables to match; peaks are terminating
    binary fractions, means/rms mirror the kernel's exact-int
    accumulation in the oracle's CASE formulas."""

    def row(d):
        v, rate, k, blocks = d % 4, _rate(d), 1 + d % 7, 1 + d % 4
        if v == 0:
            g = 2 + d % 6
            blk = imagegen.ima_adpcm_block(
                [4096 * k - 2], [0], bytes([0xB3]) * (4 * g))
            wav = imagegen.make_wav_adpcm(rate, 1, 17, 4 + 4 * g, 1 + 8 * g,
                                          blk * blocks)
        elif v == 1:
            g = 1 + d % 5
            blk = imagegen.ima_adpcm_block(
                [4096 * k, -4096 * k], [0, 0], bytes(8 * g))
            wav = imagegen.make_wav_adpcm(rate, 2, 17, 8 + 8 * g, 1 + 8 * g,
                                          blk * blocks)
        elif v == 2:
            m = 2 + d % 7
            blk = imagegen.ms_adpcm_block(
                [0], [16], [4096 * k - 8], [4096 * k - 8], bytes([0x1F]) * m)
            wav = imagegen.make_wav_adpcm(rate, 1, 2, 7 + m, 2 + 2 * m,
                                          blk * blocks)
        else:
            m = 1 + d % 6
            blk = imagegen.ms_adpcm_block(
                [1], [16], [4096 * k], [4096 * k], bytes(m))
            wav = imagegen.make_wav_adpcm(rate, 1, 2, 7 + m, 2 + 2 * m,
                                          blk * blocks)
        return f"adpcm-{d}", "audio", wav

    return _row_per_doc(documents, row)


def synthesize_mjpeg_media(documents: DataFrame) -> DataFrame:
    """documents -> one REAL movie per doc, container/codec rotating
    by d%5 (0 -> RIFF/AVI MJPEG with movi chunks + idx1; 1 -> ISO-BMFF
    MP4 MJPEG with a full stsd/stsc/stco/stsz sample table, 2 samples
    per chunk so a short last chunk exercises real sample-to-chunk
    resolution; 2 -> Matroska with a V_MJPEG TrackEntry and one
    SimpleBlock per frame; 3 -> AVI UNCOMPRESSED 24-bit BI_RGB DIB,
    top-down when d is odd; 4 -> AVI UNCOMPRESSED 8-bit palettized
    DIB over the gray-identity palette): nf = 1 + d%5 uniform gray
    frames at value g_i = 16 + 2*((d + 37*i) % 112) — EVEN gray values
    survive the Annex-K DC quantizer exactly (DC = 8*(g-128) with
    quantizer 16 needs (g-128) even), and DIB decode is lossless for
    any value, so each decoded frame's mean luma is its planted gray
    value bit-for-bit. Dims (16 + 8*(d%4)) x (8 + 8*(d%3)) exercise
    non-square tiles and real DIB row padding (24-bit rows of widths
    24/40 are 72/120 bytes — not multiples of 4). The frame formulas
    are container/codec-independent, so ONE generate_series oracle
    covers every demux+decode path."""

    def row(d):
        w, h, lane = 16 + 8 * (d % 4), 8 + 8 * (d % 3), d % 5
        tiles = [np.full((h, w), 16 + 2 * ((d + 37 * i) % 112), dtype=np.uint8)
                 for i in range(1 + d % 5)]
        if lane in (3, 4):  # uncompressed DIB lanes
            blob = imagegen.make_avi(
                w, h, 0, fps=25, dib_frames=tiles,
                dib_bits=24 if lane == 3 else 8,
                topdown=(lane == 3 and d % 2 == 1))
        else:
            frames = [encode_jpeg(t) for t in tiles]
            if lane == 1:
                blob = imagegen.make_mp4_mjpeg(w, h, frames,
                                               samples_per_chunk=2)
            elif lane == 2:
                blob = imagegen.make_mkv_mjpeg(w, h, frames)
            else:
                blob = imagegen.make_avi(w, h, 0, fps=25, frames=frames)
        return f"mjpeg-{d}", "video", blob

    return _row_per_doc(documents, row)


# --- embeddings ---------------------------------------------------------------


def synthesize_clustered_embeddings(
    embeddings: DataFrame, dim: int = 64
) -> DataFrame:
    """Deterministic CLUSTERED embedding corpus — the realistic-data
    counterpart of the iid-random embeddings table, where ANN recall
    is meaningful (iid vectors are PQ's adversarial worst case,
    pq_recall ~= 0.25 by design). Integer-valued so both engines
    compute bit-identical doubles:

      emb[j] = 10*center(c,j) + 2*pat(t,j) + micro(v,j)
        c      = v % 8                      (cluster; vec 0..7 seed
                                             one k-means centroid per
                                             cluster)
        k      = v // 32                    (duplicate-group block)
        digit  = k%8 for subspaces 0,2;
                 (k//8 + 2*(k%4)) % 8 for subspaces 1,3
                 ((digit0, digit1) identifies k for k < 64, i.e. all
                 test scales, so duplicate groups never merge; BOTH
                 digits take every value 0..7 uniformly over k, so
                 every subspace carries pattern signal in every
                 cluster — a dead or cluster-skewed subspace would
                 train its codebook on jitter/cluster offsets and
                 corrupt the ADC sum)
        t      = (digit + c) % 8            (+c so vecs 0..7 also seed
                                             all 8 PQ patterns per
                                             subspace)
        center = ((c*37 + j*11) % 19) - 9
        pat    = ((t*23 + j*5) % 9) - 4
        micro  = ((v*13 + j*7) % 3) - 1

    Structure: 8 well-separated centers >> 8 residual patterns per
    subspace >> +-1 jitter; vectors sharing (c, k) — exactly 4 ids
    v = 32k + 8i + c — are near-duplicates, so each query's exact
    top-3 IS its duplicate group, and a residual codebook with 8
    centroids can represent the patterns. Oracle-replayable: the SQL
    states the same closed form."""
    v = F.col("vec_id").cast("long")

    def component(j):
        digit = (
            F.when((j < 16) | ((j >= 32) & (j < 48)),
                   F.shiftright(v, 5) % 8)
            .otherwise(
                (F.shiftright(v, 8) % 8
                 + 2 * (F.shiftright(v, 5) % 4)) % 8)
        )
        t = (digit + v % 8) % 8
        center = ((v % 8) * 37 + j * 11) % 19 - 9
        pat = (t * 23 + j * 5) % 9 - 4
        micro = (v * 13 + j * 7) % 3 - 1
        return (center * 10 + pat * 2 + micro).cast("double")

    return embeddings.select(
        v.alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)).cast("array<long>"),
            component,
        ).alias("embedding"),
    )
