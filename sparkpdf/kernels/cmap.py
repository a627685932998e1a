"""/ToUnicode CMap parse + apply — SURVEY.md §2.9 (T4, T5).

A fresh PostScript-subset CMap parser built on our COS lexer
(the reference re-lexes byte-at-a-time through readObject,
toUnicode.py:265-461). Semantics matched to toUnicode.code2text
(toUnicode.py:176-261):

  * bfchar entries match first (greedy, file order),
  * bfrange per-byte interval test; offset computed from the LAST code
    byte; destination shifted big-endian (or indexed if an array),
  * unmatched code unit -> U+FFFD, advance one byte,
  * output assembled as UTF-16BE then decoded once.
"""

from __future__ import annotations

import re
from binascii import unhexlify
from typing import Dict, List, Optional, Tuple, Union

from .cos import PdfError, parse_object, skip_ws

_TOKEN = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]+")

_CMD_SECTION_BEGIN = {b"begincodespacerange", b"beginbfchar", b"beginbfrange"}

# bound on one CMap's memo: ~2.5 MB, beyond the glyph count of real fonts
_MEMO_MAX = 1 << 14
# whole-string memo: TJ elements are word fragments that repeat across a
# document's pages. It keeps strings of at most _TEXT_KEY_MAX bytes
# whose text is at most _TEXT_KEY_MAX characters, and at most
# _TEXT_MEMO_MAX of them (< 4 MB), so neither a hostile font's long
# destinations nor a content stream of unique strings grows it
# without limit
_TEXT_KEY_MAX = 64
_TEXT_MEMO_MAX = 1 << 13
# the hex-digit memo of content-stream hex strings (`hex2text`) has the
# same bounds: keys of at most 2 * _TEXT_KEY_MAX digits (the same
# strings), texts of at most _TEXT_KEY_MAX characters, at most
# _TEXT_MEMO_MAX entries (< 5 MB)
_HEX_KEY_MAX = 2 * _TEXT_KEY_MAX


class CMap:
    """Compiled ToUnicode mapping for one font.

    The match at a position depends only on the next `width` bytes
    (the longest codespace or bfrange code), so `code2text` memoises
    `_match` on that window: a font's glyph codes repeat across every
    string and page that uses it. Short whole strings are memoised
    too (`_texts`), since the decode is a pure function of the bytes,
    and so are the hex digits of a content stream's hex strings
    (`_hex_texts`), which the span extractor reads without unhexlifying
    them first."""

    __slots__ = ("fchars", "franges", "codespace", "codelengths",
                 "_memo", "_width", "_texts", "_hex_texts")

    def __init__(self):
        self.fchars: Dict[bytes, bytes] = {}
        # (from_bytes, to_bytes, dst_bytes_or_list)
        self.franges: List[Tuple[bytes, bytes, Union[bytes, list]]] = []
        self.codespace: List[Tuple[bytes, bytes]] = []
        self.codelengths: List[int] = []
        self._memo: Optional[Dict[bytes, Tuple[bytes, int]]] = None
        self._width = 0
        self._texts: Dict[bytes, str] = {}
        self._hex_texts: Dict[bytes, str] = {}

    def hex2text(self, digits: bytes) -> str:
        """code2text of the bytes an even-length run of hex digits
        spells, memoised under the digits."""
        text = self._hex_texts.get(digits)
        if text is not None:
            return text
        text = self._decode(unhexlify(digits))
        if (len(digits) <= _HEX_KEY_MAX and len(text) <= _TEXT_KEY_MAX
                and len(self._hex_texts) < _TEXT_MEMO_MAX):
            self._hex_texts[digits] = text
        return text

    def code2text(self, code: bytes) -> str:
        text = self._texts.get(code)
        if text is not None:
            return text
        text = self._decode(code)
        if (len(code) <= _TEXT_KEY_MAX and len(text) <= _TEXT_KEY_MAX
                and len(self._texts) < _TEXT_MEMO_MAX):
            self._texts[code] = text
        return text

    def _decode(self, code: bytes) -> str:
        memo = self._memo
        if memo is None:  # first use: the CMap is complete by now
            memo = self._memo = {}
            self._width = max(
                [*(self.codelengths or [1, 2]),
                 *(len(lo) for lo, _, _ in self.franges)])
        width = self._width
        out = bytearray()
        i = 0
        n = len(code)
        while i < n:
            window = code[i : i + width]
            hit = memo.get(window)
            if hit is None:
                hit = self._match(window)
                if len(memo) < _MEMO_MAX:
                    memo[window] = hit
            out += hit[0]
            i += hit[1]
        return out.decode("utf-16-be", "replace")

    def _match(self, code: bytes) -> Tuple[bytes, int]:
        """The rule-by-rule match at the start of `code` (the next
        `width` bytes): (UTF-16BE bytes, bytes consumed)."""
        n = len(code)
        for ln in self.codelengths or [1, 2]:
            hit = self.fchars.get(code[:ln])
            if hit is not None:
                return (hit if isinstance(hit, bytes)
                        else str(hit).encode("utf-16-be")), ln
        for lo, hi, dst in self.franges:
            ln = len(lo)
            if ln > n:
                continue
            if all(lo[k] <= code[k] <= hi[k] for k in range(ln)):
                offset = code[ln - 1] - lo[ln - 1]
                if not isinstance(dst, list):
                    return _shift_be(dst, offset), ln
                d = dst[offset] if offset < len(dst) else None
                if isinstance(d, bytes):
                    return d, ln
                if isinstance(d, str):
                    return d.encode("utf-16-be"), ln
                return b"", ln
        return b"\xff\xfd", 1


def _shift_be(dst: bytes, offset: int) -> bytes:
    if not dst:
        return b""
    width = len(dst)
    val = int.from_bytes(dst, "big") + offset
    return val.to_bytes(width, "big")


def _as_bytes(v) -> bytes:
    if isinstance(v, bytes):
        return v
    if isinstance(v, str):
        return v.encode("utf-16-be", "replace")
    return b""


def parse_cmap(data: bytes) -> CMap:
    """Single pass over the CMap program: operands accumulate on a stack
    until a command token; only the codespacerange/bfchar/bfrange
    sections matter (everything else is PostScript ceremony)."""
    cm = CMap()
    pos = 0
    n = len(data)
    operands: list = []
    while pos < n:
        pos = skip_ws(data, pos)
        if pos >= n:
            break
        c = data[pos]
        if c in b"/<([+-.0123456789":
            try:
                obj, pos = parse_object(data, pos)
            except PdfError:
                m = _TOKEN.match(data, pos)
                pos = m.end() if m else pos + 1
                continue
            operands.append(obj)
            continue
        m = _TOKEN.match(data, pos)
        if not m:
            pos += 1
            continue
        tok = m.group()
        pos = m.end()
        if tok == b"endcodespacerange":
            for i in range(0, len(operands) - 1, 2):
                lo, hi = _as_raw(operands[i]), _as_raw(operands[i + 1])
                if lo and hi:
                    cm.codespace.append((lo, hi))
            operands.clear()
        elif tok == b"endbfchar":
            for i in range(0, len(operands) - 1, 2):
                src = _as_raw(operands[i])
                if src:  # an empty code would match without advancing
                    cm.fchars[src] = _as_bytes(operands[i + 1])
            operands.clear()
        elif tok == b"endbfrange":
            for i in range(0, len(operands) - 2, 3):
                lo, hi = _as_raw(operands[i]), _as_raw(operands[i + 1])
                dst = operands[i + 2]
                if isinstance(dst, list):
                    cm.franges.append((lo, hi, [_as_bytes(d) for d in dst]))
                else:
                    cm.franges.append((lo, hi, _as_bytes(dst)))
            operands.clear()
        elif tok in _CMD_SECTION_BEGIN:
            # entries follow until the matching end token; the count
            # operand (and any stray ceremony) is dropped here
            operands.clear()
        else:
            # def/begin/end/dict/begincmap/... — drop pending operands
            operands.clear()
    cm.codelengths = sorted({len(lo) for lo, _ in cm.codespace}) or sorted(
        {len(k) for k in cm.fchars} | {len(lo) for lo, _, _ in cm.franges}
    ) or [1, 2]
    return cm


def _as_raw(v) -> bytes:
    """Hex-string operand as raw code bytes. parse_object turns
    UTF-16BE-BOM'd hex strings into str; recover the original bytes."""
    if isinstance(v, bytes):
        return v
    if isinstance(v, str):
        try:
            return b"\xfe\xff" + v.encode("utf-16-be")
        except UnicodeEncodeError:
            return b""
    return b""
