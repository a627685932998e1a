"""Distributed span extraction — the engine's flagship operator.

pdf_raw(doc_id, pdf_bytes) -> documents_interleaved
    (doc_id, spans ARRAY<STRUCT<kind,text,media_ref,offset>>, n_pages,
     n_bytes, error)

Every lane here is a per-document row function run by the one Arrow
adapter (`_kernel.map_kernel`, SURVEY.md §3.2): the JVM<->Python Arrow
IPC is the only process boundary, there is NO shuffle in the extraction
path, and no per-row Python UDFs exist anywhere (input_hint mandate).
Catalyst still prunes columns/partitions upstream because the input is
a plain DataFrame scan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ._kernel import doc_id_str, map_kernel, quarantine_message

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

INTERLEAVED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_STRUCT)),
        StructField("n_pages", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("error", StringType()),
    ]
)

# page-level view used by split/merge/page-range operators
PAGE_SPAN_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("page_no", IntegerType()),
        StructField("spans", ArrayType(SPAN_STRUCT)),
        StructField("full_text", StringType()),
        StructField("rotate", IntegerType()),
        StructField("mediabox", ArrayType(DoubleType())),
        StructField("error", StringType()),
    ]
)


def _span_row(doc_id, data, password: bytes = b""):
    """One documents_interleaved row for a document's bytes."""
    from ..kernels.extract import extract_doc

    data = data or b""
    res = extract_doc(data, password=password)
    return doc_id, res["spans"], res["n_pages"], len(data), res["error"]


def _stats_row(doc_id, data):
    """One STATS_SCHEMA row for a document's bytes."""
    from ..kernels.extract import extract_doc

    data = data or b""
    res = extract_doc(data)
    texts = [s["text"] or "" for s in res["spans"] if s["kind"] == "text"]
    return (doc_id, res["n_pages"], len(texts),
            len(res["spans"]) - len(texts), sum(map(len, texts)),
            len(data), res["error"])


def extract_spans(pdf_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """pdf_raw(doc_id, pdf_bytes, ...) -> documents_interleaved.
    `password` decrypts standard-security-handler docs (C3)."""
    return map_kernel(
        pdf_raw, [doc_id_str(), "pdf_bytes"],
        lambda d, data: [_span_row(d, data, password)],
        INTERLEAVED_SCHEMA,
    )


def _page_rows(doc_id, data):
    from ..kernels.extract import extract_doc, page_text

    # single parse: page metas come from extract_doc's own PdfDocument
    res = extract_doc(data or b"", with_page_meta=True)
    metas: dict = res["page_meta"]
    by_page: dict = {p: [] for p in range(res["n_pages"])}
    for s in res["spans"]:
        by_page.setdefault(s["page_no"], []).append(s)
    for page_no in sorted(by_page):
        meta = metas.get(page_no, {})
        yield (doc_id, page_no, by_page[page_no],
               page_text(res["spans"], page_no), meta.get("rotate", 0),
               meta.get("mediabox"), res["error"])


def extract_page_spans(pdf_raw: DataFrame) -> DataFrame:
    """Page-granular variant feeding split/merge/page-range operators."""
    return map_kernel(pdf_raw, [doc_id_str(), "pdf_bytes"], _page_rows,
                      PAGE_SPAN_SCHEMA)


# --- pdf_raw and mixed PDF/HTML payloads ------------------------------------

PDF_RAW_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("pdf_bytes", BinaryType()),
    ]
)


# markup shapes that identify an HTML prefix ahead of a quoted
# %PDF- magic: every real page opens with one of these long before
# any quoted PDF header, while torn-PDF junk (dict '<<' tokens, hex
# strings '<A0B1>', random bytes) does not form them
_HTML_PREFIX = re.compile(
    rb"(?i)<(?:!doctype|!--|html|head|body|meta|title|script|style|"
    rb"div|span|article|section|nav|header|footer|table|ul|ol|li|"
    rb"img|br|p[\s>]|a\s)"
)


def _sniff_is_pdf(data: bytes) -> bool:
    """PDF iff the %PDF- magic appears in the first KB (the reference
    tolerates leading junk there) and the bytes BEFORE it are not
    markup-shaped: an HTML page QUOTING a PDF header has real tags
    ahead of the quoted magic, while torn-header PDF junk may contain
    stray '<' bytes (dict tokens, hex strings) but not tag forms —
    a bare any-'<' guard silently sent torn PDFs to the DOM lane
    (r8 review findings, both directions)."""
    idx = data[:1024].find(b"%PDF-")
    return idx >= 0 and not _HTML_PREFIX.search(data[:idx])


def _interleaved_row(doc_id, data, ctype=None):
    from ..kernels.extract import extract_doc
    from ..kernels.html import html_to_spans

    data = data or b""
    try:
        # inside the try: a malformed content_type must quarantine the
        # ROW, never kill the task (invariant 2)
        base = (ctype.split(";")[0].strip().lower()
                if isinstance(ctype, str) and ctype else "")
        # a declared upstream content type (e.g. the WARC HTTP
        # envelope) outranks the byte sniff
        if base == "application/pdf" or (
                base not in ("text/html",) and _sniff_is_pdf(data)):
            res = extract_doc(data)
            spans, n_pages, error = res["spans"], res["n_pages"], res["error"]
        else:
            # textual lane: a NUL/control-dense payload is not a
            # document of either kind -> quarantine (a torn-header PDF
            # still routes above via the magic-in-first-1KB scan)
            head = data[:4096]
            ctrl = sum(1 for b in head if b < 9 or 13 < b < 32)
            if data and ctrl * 10 > len(head):
                spans, n_pages = [], 0
                error = "unrecognized payload (binary, no PDF magic)"
            else:
                try:
                    textual = data.decode("utf-8")
                except UnicodeDecodeError:
                    textual = data.decode("latin-1")
                spans = html_to_spans(textual)["spans"]
                n_pages, error = 1, None
    except Exception as exc:  # the row keeps spans=[], n_pages=0, n_bytes
        spans, n_pages, error = [], 0, quarantine_message(exc)
    return [(doc_id, spans, n_pages, len(data), error)]


def extract_interleaved(
    raw: DataFrame, content_type_col: str | None = None
) -> DataFrame:
    """raw(doc_id, payload) -> documents_interleaved, where payload is
    a MIXED column: PDF bytes or HTML markup in the SAME table — the
    north rule's interleaved text+media corpus taken literally. One
    batch kernel sniffs per document (%PDF- magic in the first KB ->
    the full PDF span path; otherwise the DOM span walk, where each
    surviving main-content block is a text span and each main-content
    <img> a media_ref span) and emits ONE span contract regardless of
    source format: kinds/order/offsets identical in shape to
    extract_spans, so every downstream operator (dedup, quality,
    chunking, write-back) consumes both formats unchanged. Binary
    payloads with neither PDF magic nor textual structure quarantine
    via the error column; the kernel never raises.

    `content_type_col`: a declared upstream media type (the WARC HTTP
    envelope's Content-Type) that OUTRANKS the byte sniff —
    application/pdf forces the PDF lane, text/html the DOM lane; only
    unlabeled payloads fall back to the magic scan (which itself
    requires no '<' before the magic, see _sniff_is_pdf)."""
    cols = [doc_id_str(), "payload"]
    if content_type_col is not None:
        cols.append(F.col(content_type_col).alias("content_type"))
    return map_kernel(raw, cols, _interleaved_row, INTERLEAVED_SCHEMA)


# --- metadata-only projection (P1: getDocumentInfo analog) -------------------

DOCINFO_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("title", StringType()),
        StructField("producer", StringType()),
        StructField("info_n_pages", IntegerType()),
    ]
)


def _docinfo_row(doc_id, data):
    from ..kernels.document import PdfDocument

    def _s(v):
        if isinstance(v, bytes):
            return v.decode("latin-1", "replace")
        return str(v) if v is not None else None

    title = producer = None
    n_pages = 0
    try:
        doc = PdfDocument(data)
        info = doc.doc_info() or {}
        title = _s(info.get("/Title"))
        producer = _s(info.get("/Producer"))
        n_pages = doc.num_pages()
    except Exception:  # unparseable: null metadata, 0 pages
        pass
    return [(doc_id, title, producer, n_pages)]


def extract_docinfo(pdf_raw: DataFrame) -> DataFrame:
    """Metadata-only projection (parity: getDocumentInfo,
    _reader.py:244-260): the kernel touches only the xref chain +
    /Info object — content streams are never decoded, which is what
    makes metadata queries cheap at 100 TB."""
    return map_kernel(pdf_raw, [doc_id_str(), "pdf_bytes"], _docinfo_row,
                      DOCINFO_SCHEMA)


# --- interactive-document projections (P2/P4/P5) -----------------------------

FORM_FIELDS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("name", StringType()),
        StructField("ft", StringType()),
        StructField("value", StringType()),
        StructField("flags", IntegerType()),
    ]
)

NAMED_DESTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("name", StringType()),
        StructField("page_no", IntegerType()),
        StructField("fit", StringType()),
    ]
)

OUTLINES_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("title", StringType()),
        StructField("level", IntegerType()),
        StructField("page_no", IntegerType()),
    ]
)


def _project(pdf_raw: DataFrame, project, schema: StructType) -> DataFrame:
    """doc -> rows projection (fields/dests/outlines/...): `project(doc)`
    yields one dict per output row, keyed by the schema's column names
    after doc_id."""
    fields = schema.names[1:]

    def row(doc_id, data):
        from ..kernels.document import PdfDocument

        rows = []
        try:
            for rec in project(PdfDocument(data)):
                rows.append((doc_id, *(rec.get(f) for f in fields)))
        except Exception:
            pass  # quarantine: an unparseable doc contributes no rows
        return rows

    return map_kernel(pdf_raw, [doc_id_str(), "pdf_bytes"], row, schema)


def extract_form_fields(pdf_raw: DataFrame) -> DataFrame:
    """AcroForm projection (parity: getFields, _reader.py:355-450 —
    whose Field ctor is dead code in the reference; we implement the
    intended semantics, see kernels/document.form_fields)."""
    return _project(pdf_raw, lambda doc: doc.form_fields(),
                    FORM_FIELDS_SCHEMA)


def extract_named_dests(pdf_raw: DataFrame) -> DataFrame:
    """Name-tree destinations (parity: getNamedDestinations,
    _reader.py:464-503)."""
    return _project(pdf_raw, lambda doc: doc.named_destinations(),
                    NAMED_DESTS_SCHEMA)


def extract_outlines(pdf_raw: DataFrame) -> DataFrame:
    """Bookmark tree flattened with level (parity: getOutlines,
    _reader.py:513-558)."""
    return _project(pdf_raw, lambda doc: doc.outlines(), OUTLINES_SCHEMA)


LINKS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("page_no", IntegerType()),
        StructField("uri", StringType()),
        StructField("dest_page", IntegerType()),
    ]
)


def extract_links(pdf_raw: DataFrame) -> DataFrame:
    """Link-annotation projection (the read side of removeLinks,
    _writer.py:871-877)."""
    return _project(pdf_raw, lambda doc: doc.link_annotations(),
                    LINKS_SCHEMA)


ATTACHMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("filename", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("sha8", StringType()),
    ]
)


def extract_attachments(pdf_raw: DataFrame) -> DataFrame:
    """Embedded-file projection (read side of addAttachment,
    _writer.py:280-358): one row per attachment with size + digest —
    at corpus scale the attachment payloads feed the same media/dedup
    pipelines as XObject media."""
    import hashlib

    def project(doc):
        for a in doc.attachments():
            data = a["data"] or b""
            yield {
                "filename": a["filename"],
                "n_bytes": len(data),
                "sha8": hashlib.sha256(data).hexdigest()[:8],
            }

    return _project(pdf_raw, project, ATTACHMENTS_SCHEMA)


JAVASCRIPT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("name", StringType()),
        StructField("js", StringType()),
    ]
)


def extract_javascript(pdf_raw: DataFrame) -> DataFrame:
    """Document-open JavaScript projection (read side of addJS,
    _writer.py:237-279): /Names//JavaScript entries + /OpenAction."""
    return _project(pdf_raw, lambda doc: doc.javascript(),
                    JAVASCRIPT_SCHEMA)


XMP_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("xmp_title", StringType()),
        StructField("xmp_producer", StringType()),
        StructField("create_date", StringType()),
        StructField("modify_date", StringType()),
        StructField("creators", StringType()),
        StructField("subjects", StringType()),
        StructField("keywords", StringType()),
        StructField("pdfversion", StringType()),
        StructField("creator_tool", StringType()),
        StructField("metadata_date", StringType()),
        StructField("document_id", StringType()),
        StructField("custom_car", StringType()),
    ]
)


def extract_xmp(pdf_raw: DataFrame) -> DataFrame:
    """XMP metadata projection (parity: getXmpMetadata + the FULL
    XmpInformation getter surface, reference xmp.py:212-390): langalt
    title, seq creators / bag subjects (';'-joined — the driver
    canonicalizer hashes strings, not arrays), pdf:Keywords/PDFVersion/
    Producer, xmp dates + CreatorTool, xmpMM DocumentID, and the pdfx
    custom-property map ('my car' exercises the U+2182 key unescape)."""

    def project(doc):
        from ..kernels.xmp import doc_xmp

        info = doc_xmp(doc)
        if info is None:
            return
        d = info.as_dict()
        fmt = "%Y-%m-%dT%H:%M:%S"
        date = lambda v: v.strftime(fmt) if v else None
        yield {
            "xmp_title": d["title"],
            "xmp_producer": d["producer"],
            "create_date": date(d["create_date"]),
            "modify_date": date(d["modify_date"]),
            "creators": ";".join(d["creators"]) or None,
            "subjects": ";".join(d["subjects"]) or None,
            "keywords": d["keywords"],
            "pdfversion": d["pdfversion"],
            "creator_tool": d["creator_tool"],
            "metadata_date": date(d["metadata_date"]),
            "document_id": d["document_id"],
            "custom_car": d["custom"].get("my car"),
        }

    return _project(pdf_raw, project, XMP_SCHEMA)


VIEWER_PREFS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("page_layout", StringType()),
        StructField("page_mode", StringType()),
    ]
)


def extract_viewer_prefs(pdf_raw: DataFrame) -> DataFrame:
    """Catalog /PageLayout + /PageMode projection (parity:
    getPageLayout/getPageMode, _reader.py:654-693)."""
    return _project(
        pdf_raw,
        lambda doc: [{"page_layout": doc.page_layout(),
                      "page_mode": doc.page_mode()}],
        VIEWER_PREFS_SCHEMA,
    )


# --- write side: spans -> PDF bytes (SURVEY §2.2 K1 inverse) ------------------

def _page(spans) -> list:
    return [{"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"]}
            for s in spans]


def _write(interleaved: DataFrame, pdf_fn) -> DataFrame:
    """documents_interleaved -> pdf_raw: `pdf_fn(doc_id, page)` writes
    one document from its spans as a single page."""
    return map_kernel(interleaved, [doc_id_str(), "spans"],
                      lambda d, spans: [(d, pdf_fn(d, _page(spans)))],
                      PDF_RAW_SCHEMA)


def write_pdfs(interleaved: DataFrame) -> DataFrame:
    """documents_interleaved -> pdf_raw (single-page docs). The inverse
    of extract_spans: extract(write(spans)) == spans, and the REFERENCE
    reads the written files (tests/test_write.py). Odd doc_ids are
    serialized with a PDF 1.5 xref STREAM, even ones with the classic
    table (both read back identically) — the round-trip query
    certifies both serializations with the same oracle."""

    def pdf(doc_id, page):
        from ..kernels.write import spans_to_pdf

        try:
            d = int(doc_id)
        except (TypeError, ValueError):
            d = 0
        return spans_to_pdf([page], xref_stream=bool(d % 2))

    return _write(interleaved, pdf)


def write_pdfs_enriched(
    interleaved: DataFrame,
    password: bytes | None = None,
    encryption: str = "rc4-128",
    permissions: int = -3904,
) -> DataFrame:
    """Write side with the full enrichment surface (C6/D6): per doc a
    deterministic /Info title 'doc-{id}', one bookmark 'bm-{id}' and one
    URI link 'https://example.org/w/{id}', optionally encrypted with
    `password` (rc4-40 / rc4-128 / aes-128 / aes-256) and a /P
    permissions flag (parity: _writer.py encrypt(use_128bit=False,
    permissions_flag=...), :443-496). The REFERENCE decrypts and reads
    the RC4 output (tests/test_write.py interop); it rejects the AES
    modes, which our reader decrypts (tests/test_aes.py)."""

    def pdf(d, page):
        from ..kernels.write import spans_to_pdf

        return spans_to_pdf(
            [page],
            title=f"doc-{d}",
            bookmarks=[(f"bm-{d}", 0)],
            links=[(0, f"https://example.org/w/{d}")],
            attachments=[(f"att-{d}.txt", f"payload-{d}".encode())],
            form_fields=[(f"wfld-{d}", f"wval-{d}")],
            user_password=password,
            encryption=encryption,
            permissions=permissions,
        )

    return _write(interleaved, pdf)


def write_pdfs_viewer_prefs(interleaved: DataFrame) -> DataFrame:
    """Write side of P6: per doc a single-page PDF whose catalog
    carries /PageLayout = layouts[doc_id % 7] and /PageMode =
    modes[doc_id % 6] (the reference's full accepted lists,
    setPageLayout/setPageMode _writer.py:1157-1258), doc_id-derived so
    the DuckDB oracle restates them by formula."""
    from ..kernels.write import _VALID_LAYOUTS, _VALID_MODES

    def pdf(doc_id, page):
        from ..kernels.write import spans_to_pdf

        d = int(doc_id)
        return spans_to_pdf([page], page_layout=_VALID_LAYOUTS[d % 7],
                            page_mode=_VALID_MODES[d % 6])

    return _write(interleaved, pdf)


def write_pdfs_navigation(interleaved: DataFrame) -> DataFrame:
    """Write side of the NAVIGATION surface (VERDICT r2 items 3/4/8):
    per doc a two-page PDF carrying a nested 2-level outline
    (addBookmark parent=, _writer.py:768-842), an internal GoTo link
    page 0 -> page 1 with rect+fit (addLink, _writer.py:1061-1145), a
    URI link, a named destination (addNamedDestination,
    _writer.py:852-869), and document-open JavaScript (addJS,
    _writer.py:237-279). All values derive from doc_id so the DuckDB
    oracle can recompute them."""

    def pdf(d, page0):
        from ..kernels.write import spans_to_pdf

        page1 = [{"kind": "text", "text": f"appendix {d}\n",
                  "media_ref": None}]
        return spans_to_pdf(
            [page0, page1],
            bookmarks=[(f"root-{d}", 0), (f"child-{d}", 1, 0)],
            links=[
                (0, 1, (10, 10, 200, 30), "/Fit"),  # GoTo
                (1, f"https://example.org/n/{d}"),  # URI
            ],
            named_dests=[(f"nd-{d}", 1)],
            javascript=f"app.alert('{d}');",
        )

    return _write(interleaved, pdf)


def _paged_pdf_row(doc_id, pages):
    from ..kernels.write import spans_to_pdf

    ordered = sorted(pages, key=lambda p: p["page_no"])
    return [(doc_id, spans_to_pdf([_page(p["spans"]) for p in ordered]))]


def write_paged_pdfs(page_df: DataFrame) -> DataFrame:
    """Page-level span table -> multi-page PDFs (one per doc_id): pages
    are grouped per doc_id JVM-side, then one row kernel writes each
    document in page_no order — the grouped write that makes
    merge/split physically round-trippable (full PdfFileMerger/Writer
    replacement)."""
    docs = page_df.groupBy("doc_id").agg(
        F.collect_list(F.struct("page_no", "spans")).alias("pages")
    )
    return map_kernel(docs, [doc_id_str(), "pages"], _paged_pdf_row,
                      PDF_RAW_SCHEMA)


# --- transfer-lean stats kernel (metadata-only pipelines at scale) -----------

STATS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("n_text", IntegerType()),
        StructField("n_media", IntegerType()),
        StructField("n_chars", LongType()),
        StructField("n_bytes", LongType()),
        StructField("error", StringType()),
    ]
)


def extract_stats(pdf_raw: DataFrame) -> DataFrame:
    """Corpus statistics WITHOUT shipping span text back over Arrow —
    Catalyst cannot prune columns inside a Python lane's output, so
    stats-only pipelines at 100 TB use this kernel and move ~50x fewer
    bytes JVM<-python than extract_spans."""
    return map_kernel(pdf_raw, [doc_id_str(), "pdf_bytes"],
                      lambda d, data: [_stats_row(d, data)], STATS_SCHEMA)
