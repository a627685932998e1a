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

from binascii import unhexlify
from typing import Any, Dict, List, Optional

from .cmap import CMap
# tokenize is re-exported: perfbench's kernel replay wraps the name here
from .content import tokenize  # noqa: F401
from .content import (_FLAT_ITEM, _OPERATION, _SCAN, _operand,
                      _read_inline_image)
from .cos import PdfError, make_string
from .document import PdfDocument
from .fonts import as_text, resolve_font_encoding

WORD_SPACE_LIMIT = -80  # kerning threshold, _page.py:787

INLINE_MEDIA_REF = "__inline__"


def _hex_text(encoding):
    """hex digits -> their string's text under `encoding`: the CMap's
    hex-digit memo when the font has one, else as_text."""
    if type(encoding) is CMap:
        return encoding.hex2text
    return lambda digits: as_text(unhexlify(digits), encoding)


def _flat_tj(data: bytes, start: int, end: int, encoding, hex_text) -> \
        Optional[str]:
    """The TJ chunk of the flat array whose elements lie in
    data[start:end], straight from the _FLAT_ITEM matches. None when an
    int is past int()'s digit limit; the per-token path then reads the
    array as tokenize does."""
    parts: List[str] = []
    add = parts.append
    try:
        for h, lit, real, i in _FLAT_ITEM.findall(data, start, end):
            if h:
                add(hex_text(h))
            elif lit:
                add(as_text(make_string(lit), encoding))
            elif (float(real) if real else int(i)) < WORD_SPACE_LIMIT:
                add(" ")
    except ValueError:
        return None
    return "".join(parts) + "\n"


def extract_page_spans(doc: PdfDocument, page: dict, page_no: int) -> List[dict]:
    """One page -> ordered span dicts (kind, text, media_ref, op_idx).

    Reads the content stream itself, in tokenize's order. Where no
    operand is pending, one content._OPERATION match takes a whole
    operation of a common shape: an operator the extractor ignores
    costs that match and one op_idx step, and a flat TJ array is shown
    straight from its element matches. Every other token goes through
    tokenize's own scanner and operand conversions (content._SCAN,
    content._operand), so the spans, op_idx included, equal the
    tokenize-based loop (testing.oracles.tokenize_page_spans,
    differential-tested)."""
    data = doc.page_contents(page)
    spans: List[dict] = []
    if not data:
        return spans
    encoding = None  # Tj-before-Tf falls back to StandardEncoding
    hex_text = _hex_text(encoding)
    enc_cache: Dict[str, Any] = {}  # font name -> (encoding, hex_text)
    operands: list = []
    op_idx = 0
    pos = 0
    n = len(data)
    operation = _OPERATION.match
    scan = _SCAN.match
    while pos < n:
        op = None  # an operator left to the dispatch below
        chunk: Optional[str] = None
        m = None if operands else operation(data, pos)
        if m is not None:
            g = m.lastgroup
            if g == "skip":
                op_idx += 1
                pos = m.end()
                continue
            if g == "tjarr":
                start, end = m.span(g)
                chunk = _flat_tj(data, start + 1, end - 1, encoding, hex_text)
                if chunk is None:
                    m = None  # read it token by token
            elif g == "tf":
                op = b"Tf"
                operands = [m.group(g).decode("utf-8", "surrogateescape")]
            elif g == "tjhex":
                chunk = hex_text(m.group(g)) + "\n"
            elif g == "tjlit":
                chunk = as_text(make_string(m.group(g)), encoding) + "\n"
            else:  # T*
                chunk = "\n"
        if m is None:
            m = scan(data, pos)
            if m is None:  # every alternative consumes a byte
                break
            g = m.lastgroup
            if g == "op":
                op = m.group(g)
            elif g == "close":  # stray ']': wraps the operands so far
                operands = [operands]
                pos = m.end()
                continue
            elif g == "nul" or g == "bad":
                break
            else:
                try:
                    v, pos = _operand(data, m)
                except PdfError:
                    break
                operands.append(v)
                continue
        pos = m.end()
        if op is None:
            pass
        elif op == b"Tf":
            if operands:
                fname = str(operands[0])
                if fname not in enc_cache:
                    enc = resolve_font_encoding(doc, page, fname)
                    enc_cache[fname] = enc, _hex_text(enc)
                encoding, hex_text = enc_cache[fname]
        elif op == b"Tj":
            if operands:
                chunk = as_text(operands[0], encoding) + "\n"
        elif op == b"T*":
            chunk = "\n"
        elif op == b"'":
            if operands:
                chunk = "\n" + as_text(operands[0], encoding)
        elif op == b'"':
            if len(operands) >= 3:
                chunk = "\n" + as_text(operands[2], encoding)
        elif op == b"TJ":
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
        elif op == b"Do":
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
        elif op == b"BI":
            try:
                _, _, pos = _read_inline_image(data, pos)
            except PdfError:
                break
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
        operands = []
        op_idx += 1
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
