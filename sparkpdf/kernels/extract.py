"""Doc bytes -> ordered span sequence. The flagship kernel (SURVEY §3.2).

Implements the reference's extractText emission contract
(/root/reference/_page.py:758-837) EXACTLY, plus the north-rule media
spans the reference recognises but skips:

  op        emitted chunk                          span
  --        -------------                          ----
  Tf        (font switch; no emission)             —
  Tj        as_text(operand[0]) + "\\n"            kind='text'
  T*        "\\n"                                  kind='text'
  '         "\\n" + as_text(operand[0])            kind='text'
  "         "\\n" + as_text(operand[2])            kind='text'
  TJ        join(elements; num < -80 -> " ") +"\\n" kind='text'
  Do        (XObject draw, _writer.py:911)         kind='media_ref',
                                                   media_ref = name sans '/'
  BI..EI    (inline image, generic.py:1222-1280)   kind='media_ref',
                                                   media_ref = '__inline__'

`full_text` per page == "".join(text chunks) == reference
page.extractText() byte-for-byte (media spans excluded, as the
reference ignores Do). Each span carries the op index within the page
(`op_idx`); doc-level `offset` is the 0-based rank over
(page_no, op_idx) — strictly increasing, contiguous.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional

from .content import INLINE_IMAGE_OP, tokenize
from .cos import PdfError
from .document import PdfDocument
from .fonts import as_text, resolve_font_encoding

WORD_SPACE_LIMIT = -80  # kerning threshold, _page.py:787

INLINE_MEDIA_REF = "__inline__"


def extract_page_spans(doc: PdfDocument, page: dict, page_no: int) -> List[dict]:
    """One page -> ordered span dicts (kind, text, media_ref, op_idx)."""
    data = doc.page_contents(page)
    spans: List[dict] = []
    if not data:
        return spans
    encoding = None  # Tj-before-Tf falls back to StandardEncoding
    enc_cache: Dict[str, Any] = {}
    for op_idx, (operands, operator) in enumerate(tokenize(data)):
        chunk: Optional[str] = None
        if operator == "Tf":
            if operands:
                fname = str(operands[0])
                if fname not in enc_cache:
                    enc_cache[fname] = resolve_font_encoding(doc, page, fname)
                encoding = enc_cache[fname]
        elif operator == "Tj":
            if operands:
                chunk = as_text(operands[0], encoding) + "\n"
        elif operator == "T*":
            chunk = "\n"
        elif operator == "'":
            if operands:
                chunk = "\n" + as_text(operands[0], encoding)
        elif operator == '"':
            if len(operands) >= 3:
                chunk = "\n" + as_text(operands[2], encoding)
        elif operator == "TJ":
            if operands and isinstance(operands[0], list):
                parts: List[str] = []
                add = parts.append
                for el in operands[0]:
                    t = type(el)  # bool, Name, list and dict show nothing
                    if t is bytes or t is str:  # str: a BOM literal
                        add(as_text(el, encoding))
                    elif (t is int or t is float) and el < WORD_SPACE_LIMIT:
                        add(" ")
                chunk = "".join(parts) + "\n"
        elif operator == "Do":
            if operands:
                name = str(operands[0])
                spans.append(
                    {
                        "kind": "media_ref",
                        "text": None,
                        "media_ref": name[1:] if name.startswith("/") else name,
                        "op_idx": op_idx,
                    }
                )
        elif operator == INLINE_IMAGE_OP:
            spans.append(
                {
                    "kind": "media_ref",
                    "text": None,
                    "media_ref": INLINE_MEDIA_REF,
                    "op_idx": op_idx,
                }
            )
        if chunk is not None:
            spans.append(
                {"kind": "text", "text": chunk, "media_ref": None, "op_idx": op_idx}
            )
    return spans


def extract_doc(
    pdf_bytes: bytes, password: bytes = b"", with_page_meta: bool = False
) -> dict:
    """Whole-document kernel: bytes -> {spans, n_pages, error}
    (+ page_meta when requested — emitted from the SAME parse, so the
    page-granular operators never pay a second PdfDocument build).

    Never raises: malformed docs yield error != None with whatever spans
    were recovered (doc-level quarantine, SURVEY §4.1 — a poisoned doc
    must not kill a 100 TB partition).
    """
    spans: List[dict] = []
    n_pages = 0
    error: Optional[str] = None
    page_meta: Dict[int, dict] = {}
    try:
        doc = PdfDocument(pdf_bytes, password=password)
        pages = doc.pages()
        n_pages = len(pages)
        offset = 0
        for page_no, page in enumerate(pages):
            if with_page_meta:
                try:
                    page_meta[page_no] = doc.page_meta(page, page_no)
                except (PdfError, Exception):
                    pass
            try:
                page_spans = extract_page_spans(doc, page, page_no)
            except PdfError as exc:
                error = f"page {page_no}: {exc}"
                continue
            for s in page_spans:
                s["page_no"] = page_no
                s["offset"] = offset
                offset += 1
                spans.append(s)
    except PdfError as exc:
        error = str(exc)
    except Exception as exc:  # absolute backstop: quarantine, don't kill
        error = f"{type(exc).__name__}: {exc}"
    out = {"spans": spans, "n_pages": n_pages, "error": error}
    if with_page_meta:
        out["page_meta"] = page_meta
    return out


def page_text(spans: List[dict], page_no: int) -> str:
    """Reference extractText() for one page, reconstructed from spans."""
    return "".join(
        s["text"]
        for s in spans
        if s["kind"] == "text" and s.get("page_no") == page_no
    )
