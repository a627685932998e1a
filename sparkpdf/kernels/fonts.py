"""Font → encoding resolution cascade — SURVEY.md §2.4 (J2) / §2.9 (T1).

Parity target: FetchFontExtended (/root/reference/toUnicode.py:775-875).
Cascade order (toUnicode.py:824-874):

  1. /ToUnicode stream        -> compiled CMap
  2. /Encoding dict           -> /Differences byte->char table
  3. /Encoding name           -> builtin-encoding name
  4. /BaseFont Symbol/Dingbats-> that name
  5. /Subtype /Type3          -> unhandled (reference returns None and
                                 extractText crashes on the assert;
                                 we fall back to StandardEncoding)
  6. 14-standard-font BaseFont-> StandardEncoding
  7. anything else            -> reference crashes (unbound local);
                                 we fall back to StandardEncoding

Documented divergence: the reference's /Differences decode path is dead
code — as_text's dict branch reads an undefined variable (`encodng`,
toUnicode.py:763) so every byte decodes to "?". We implement the
INTENDED semantics (table lookup, "?" only for unmapped bytes), per
SURVEY.md §7.2.
"""

from __future__ import annotations

from typing import Optional, Union

from . import encodings
from .cmap import CMap, parse_cmap
from .cos import StreamObj
from .glyphlist import glyph_to_unicode

FOURTEEN_STANDARD_FONTS = frozenset(
    {
        "/Courier", "/Courier-Bold", "/Courier-BoldOblique", "/Courier-Oblique",
        "/Helvetica", "/Helvetica-Bold", "/Helvetica-BoldOblique",
        "/Helvetica-Oblique", "/Symbol", "/Times-Bold", "/Times-BoldItalic",
        "/Times-Italic", "/Times-Roman", "/ZapfDingbats",
    }
)

DEFAULT_ENCODING = "/StandardEncoding"

# an Encoding is one of: CMap | dict[int,str] | encoding-name str
Encoding = Union[CMap, dict, str]


def differences_table(diff_list) -> dict:
    """/Differences array -> {byte: unicode} (intended semantics of
    toUnicode.py:845-860: an int sets the next code, names fill
    successive codes via the glyph list)."""
    repl: dict = {}
    code = 0
    for item in diff_list:
        if isinstance(item, bool):
            continue
        if isinstance(item, (int, float)):
            code = int(item)
        elif isinstance(item, str):
            ch = glyph_to_unicode(item)
            repl[code] = ch if ch is not None else "?"
            code += 1
    return repl


def resolve_font_encoding(doc, page: dict, font_name: str) -> Encoding:
    """(page resources, /Fx) -> Encoding for as_text. `doc` is a
    PdfDocument used to chase indirect refs; it keeps each font's
    Encoding, so pages sharing a font dict (the usual case) compile its
    /ToUnicode CMap once per document."""
    resources = doc.resolve(page.get("/Resources")) or {}
    fonts = doc.resolve(resources.get("/Font")) or {}
    font = doc.resolve(fonts.get(font_name))
    if not isinstance(font, dict):
        return DEFAULT_ENCODING
    # keyed by identity; the entry holds the font so the id stays unique
    hit = doc.font_encodings.get(id(font))
    if hit is None:
        hit = doc.font_encodings[id(font)] = (font, _font_encoding(doc, font))
    return hit[1]


def _font_encoding(doc, font: dict) -> Encoding:
    """The cascade above for one resolved font dict."""
    to_unicode = doc.resolve(font.get("/ToUnicode"))
    if isinstance(to_unicode, StreamObj):
        return parse_cmap(to_unicode.get_data(doc.resolve))
    enc = doc.resolve(font.get("/Encoding"))
    if isinstance(enc, dict):
        diffs = doc.resolve(enc.get("/Differences"))
        if diffs:
            return differences_table(diffs)
        base = enc.get("/BaseEncoding")
        return str(base) if base else DEFAULT_ENCODING
    if isinstance(enc, str) and enc in (
        "/WinAnsiEncoding", "/MacRomanEncoding",
        "/StandardEncoding", "/PDFDocEncoding",
    ):
        return str(enc)
    base_font = font.get("/BaseFont")
    if base_font in ("/Symbol", "/ZapfDingbats"):
        return str(base_font)
    if font.get("/Subtype") == "/Type3":
        return DEFAULT_ENCODING  # divergence: reference returns None
    if base_font in FOURTEEN_STANDARD_FONTS:
        return DEFAULT_ENCODING
    if isinstance(enc, str):
        return str(enc)  # unknown named encoding -> python codec fallback
    return DEFAULT_ENCODING


def as_text(value, encoding: Optional[Encoding]) -> str:
    """Central string decode dispatcher (parity: as_text,
    toUnicode.py:738-772, minus the dict-path typo bug)."""
    if isinstance(value, str):
        return value
    if not isinstance(value, (bytes, bytearray)):
        return ""
    data = bytes(value)
    if encoding is None:
        encoding = DEFAULT_ENCODING
    if isinstance(encoding, CMap):
        return encoding.code2text(data)
    if isinstance(encoding, dict):
        return "".join(encoding.get(b, "?") for b in data)
    return encodings.decode_builtin(data, encoding)
