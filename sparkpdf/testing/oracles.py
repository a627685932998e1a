"""Reference-free oracles: the straightforward forms of two kernel hot
paths, kept so that differential tests can hold the fast forms to them.

* `tokenize_page_spans` is the span extractor's page loop over
  `content.tokenize`'s full operation list, one `as_text` call per
  shown string. `kernels.extract.extract_page_spans` reads the content
  stream with its own whole-operation scanner and must return the same
  spans, op_idx included, and raise the same errors.
* `lzw_decode_per_code` decodes LZW one code at a time.
  `kernels.filters.lzw_decode` extracts each run of same-width codes at
  once and must return the same bytes or raise the same exception, with
  one exception: a first code past the table after a start or CLEAR
  raises IndexError here and PdfError there.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional

import numpy as np

from sparkpdf.kernels.content import INLINE_IMAGE_OP, tokenize
from sparkpdf.kernels.extract import INLINE_MEDIA_REF, WORD_SPACE_LIMIT
from sparkpdf.kernels.filters import _apply_predictor
from sparkpdf.kernels.fonts import as_text, resolve_font_encoding


def tokenize_page_spans(doc, page: dict, page_no: int) -> List[dict]:
    """One page -> ordered span dicts (kind, text, media_ref, op_idx),
    operation by operation over tokenize(content)."""
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
                for el in operands[0]:
                    t = type(el)  # bool, Name, list and dict show nothing
                    if t is bytes or t is str:  # str: a BOM literal
                        parts.append(as_text(el, encoding))
                    elif (t is int or t is float) and el < WORD_SPACE_LIMIT:
                        parts.append(" ")
                chunk = "".join(parts) + "\n"
        elif operator == "Do":
            if operands:
                name = str(operands[0])
                spans.append({
                    "kind": "media_ref", "text": None,
                    "media_ref": name[1:] if name.startswith("/") else name,
                    "op_idx": op_idx,
                })
        elif operator == INLINE_IMAGE_OP:
            spans.append({"kind": "media_ref", "text": None,
                          "media_ref": INLINE_MEDIA_REF, "op_idx": op_idx})
        if chunk is not None:
            spans.append({"kind": "text", "text": chunk, "media_ref": None,
                          "op_idx": op_idx})
    return spans


def lzw_decode_per_code(data: bytes, parms: Optional[dict]) -> bytes:
    """Variable-width LZW, 9->12-bit codes, CLEAR=256 STOP=257, one code
    per loop step: each code is one shift and mask of the 24-bit
    big-endian window starting at its first byte."""
    d = np.frombuffer(data + b"\0\0", dtype=np.uint8).astype(np.uint32)
    windows = memoryview((d[:-2] << 16) | (d[1:-1] << 8) | d[2:])
    nbits = 8 * len(data)
    table = [bytes([i]) for i in range(256)] + [b"", b""]
    out = []
    width = 9
    prev: Optional[bytes] = None
    pos = 0  # bit offset of the next code
    while pos + width <= nbits:
        code = (windows[pos >> 3] >> (24 - width - (pos & 7))) & (
            (1 << width) - 1)
        pos += width
        if code == 256:  # CLEARDICT
            table = table[:258]
            width = 9
            prev = None
            continue
        if code == 257:  # STOP
            break
        if prev is None:
            entry = table[code]  # IndexError past the table
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        else:
            entry = prev + prev[:1]
            table.append(entry)
        out.append(entry)
        prev = entry
        if len(table) >= (1 << width) - 1 and width < 12:
            width += 1
    return _apply_predictor(b"".join(out), parms)
