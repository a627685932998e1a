"""COS (Carousel Object System) object model + lexer.

From-scratch, regex-over-buffer tokenizer for the PDF object syntax.
Behavioral parity targets (see SURVEY.md §1.2) are cited against the
reference implementation at /root/reference (johns1c/PyPDF2), but the
implementation here is new: the reference reads byte-at-a-time from a
stream (its own author calls `readWord` "appallingly slow",
generic.py:137); we scan a whole in-memory buffer with compiled
regexes and return (value, next_pos) pairs.

Object model (reference generic.py:33-51 → plain Python):
  null                -> None
  boolean             -> bool
  integer             -> int          (overflow-to-0 parity: generic.py:423-428)
  real                -> float        (malformed -> 0.0: generic.py:396-399)
  byte string         -> bytes
  text string         -> str          (UTF-16BE BOM sniff: generic.py:446-462)
  name                -> Name(str)    (keeps '#' raw like generic.py:751-757)
  array               -> list
  dictionary          -> dict
  stream              -> StreamObj    (dict + raw encoded bytes)
  indirect reference  -> Ref          (a value, never a live pointer)
"""

from __future__ import annotations

import re
import sys
from typing import Callable, NamedTuple, Optional, Tuple

if sys.version_info < (3, 11):  # pragma: no cover
    # the lexer's possessive quantifiers (*+/++, PEP 9049-era re syntax)
    # compile only on 3.11+; fail loudly at import instead of with an
    # opaque re.error on every executor task (pyproject.toml declares
    # requires-python >= 3.11 for the same reason)
    raise ImportError(
        "sparkpdf requires Python >= 3.11 (possessive regex quantifiers "
        "in the COS lexer); executor Python is "
        + sys.version.split()[0]
    )


class PdfError(Exception):
    """Any unrecoverable parse error (quarantined per-doc, never fatal)."""


class Name(str):
    """A PDF name token, including the leading '/'."""

    __slots__ = ()

    def __repr__(self):  # pragma: no cover
        return f"Name({str.__repr__(self)})"


class Ref(NamedTuple):
    """Indirect reference "N G R" — a foreign key (SURVEY §1.2)."""

    idnum: int
    gen: int


class StreamObj:
    """A stream object: dictionary + raw (still encoded) data bytes.

    Decoding is deferred to filters.decode_stream and memoised, matching
    the reference's `decodedSelf` cache (generic.py:1154-1167).
    """

    __slots__ = ("sdict", "raw", "_decoded")

    def __init__(self, sdict: dict, raw: bytes):
        self.sdict = sdict
        self.raw = raw
        self._decoded: Optional[bytes] = None

    def get_data(self, resolve: Optional[Callable] = None) -> bytes:
        if self._decoded is None:
            from . import filters

            self._decoded = filters.decode_stream(self, resolve)
        return self._decoded

    def __repr__(self):  # pragma: no cover
        return f"StreamObj({self.sdict!r}, {len(self.raw)} raw bytes)"


# --- lexical classes (PDF 32000-1:2008 §7.2) ---------------------------------
WHITESPACE = b"\x00\t\n\x0c\r "
DELIMITERS = b"()<>[]{}/%"

# whitespace and %-comments are interchangeable between tokens
# (reference skips comments in readObject, generic.py:176-198)
_WS_COMMENT = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)+")

# "N G R" guarded so bare numbers aren't swallowed
# (reference IndirectPattern, generic.py:90)
_INDIRECT = re.compile(rb"(\d+)[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+R(?![0-9A-Za-z])")

# a name runs to the next whitespace or delimiter (generic.py:731-734);
# '#' escapes are kept RAW for parity with the reference fork, which does
# not decode them (generic.py:751-757)
_NAME = re.compile(rb"/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")

# fused hot-loop scanners (parse_dict / parse_object):
# one C-level match replaces ws-skip + name + ws-skip per dict key, and
# one match resolves the Ref-vs-number ambiguity for numeric operands
# one C-level match per dict-loop iteration: ws/comments then EITHER
# the closing >> or the next /key (with its trailing ws folded in).
# NB the ws runs are POSSESSIVE (`*+`, Python 3.11): a greedy
# `(?:[ws]+|%...)*` before a required token backtracks exponentially
# when that token is absent (hypothesis found the hang); possessive
# quantifiers keep C-speed run matching with zero backtracking.
_WS_RUN = rb"(?:[\x00\t\n\x0c\r ]++|%[^\r\n]*+)*+"
# round 9: the dict/array scanners fold the COMMON simple values
# (ref, number, name, bool/null) into the same C-level match that
# already consumed the whitespace — one regex call replaces
# ws-skip + dispatch + token match per value. The sub-patterns are
# byte-for-byte the _REF_OR_NUMBER / _NAME / keyword forms, so a
# fused match yields exactly what parse_object would; anything the
# optional value group does not match (strings, nested dicts/arrays,
# malformed input) falls through to parse_object at the same offset
# with identical semantics, including error behavior.
_SIMPLE_VAL = (
    rb"(?:(\d++)[\x00\t\n\x0c\r ]++(\d++)[\x00\t\n\x0c\r ]++R(?![0-9A-Za-z])"
    rb"|([+-]?+(?:\d++\.\d*+|\.\d++|\d++))"
    rb"|(/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*+)"
    rb"|(true|false|null))"
)
_DICT_NEXT = re.compile(
    _WS_RUN
    + rb"(?:(>>)|(/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*+)"
    + _WS_RUN + _SIMPLE_VAL + rb"?+)"
)
# array-loop iteration: ws/comments then the closing ] OR a fused
# simple value if present
_ARR_NEXT = re.compile(_WS_RUN + rb"(?:(\])|" + _SIMPLE_VAL + rb")?+")

_KEYWORD_VALUES = {b"true": True, b"false": False, b"null": None}

# interned Name cache (round 9): PDF name tokens repeat massively
# (/Type, /Length, /Filter, ...) — reuse the immutable Name instead of
# re-decoding per occurrence. Cleared when full, so adversarial inputs
# cannot grow it without limit and one early document full of unique
# names cannot pin it for the life of a worker.
_NAME_CACHE: dict = {}
_NAME_CACHE_MAX = 4096


def _make_name(raw: bytes) -> "Name":
    n = _NAME_CACHE.get(raw)
    if n is None:
        n = Name(raw.decode("utf-8", "surrogateescape"))
        if len(_NAME_CACHE) >= _NAME_CACHE_MAX:
            _NAME_CACHE.clear()
        _NAME_CACHE[raw] = n
    return n
_REF_OR_NUMBER = re.compile(
    rb"(?:(\d+)[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+R(?![0-9A-Za-z]))"
    rb"|([+-]?(?:\d+\.\d*|\.\d+|\d+))"
)

_HEX_BODY = re.compile(rb"[^>]*")
_NONHEX = re.compile(rb"[^0-9a-fA-F]")

# inside a literal string, jump straight to the next interesting byte
_LIT_SPECIAL = re.compile(rb"[()\\]")

_OCTAL = re.compile(rb"[0-7]{1,3}")

_STREAM_KW = re.compile(rb"stream(?:\r\n|\n|\r)?")
_ENDSTREAM_NEAR = re.compile(rb"[\x00\t\n\x0c\r ]*endstream")

_SIMPLE_ESCAPES = {
    ord("n"): b"\n",
    ord("r"): b"\r",
    ord("t"): b"\t",
    ord("b"): b"\b",
    ord("f"): b"\x0c",
    ord("("): b"(",
    ord(")"): b")",
    ord("\\"): b"\\",
    # tolerated odd escapes seen in the wild (reference generic.py:607-620)
    ord("/"): b"/",
    ord(" "): b" ",
    ord("%"): b"%",
    ord("<"): b"<",
    ord(">"): b">",
    ord("["): b"[",
    ord("]"): b"]",
    ord("#"): b"#",
    ord("_"): b"_",
    ord("&"): b"&",
    ord("$"): b"$",
}


_WS_BYTES = frozenset(b"\x00\t\n\x0c\r ")


def skip_ws(buf: bytes, pos: int) -> int:
    # fast path: whitespace runs here are almost always 0-2 plain
    # chars — a byte loop beats a regex call until a %-comment appears
    n = len(buf)
    p = pos
    while p < n and buf[p] in _WS_BYTES:
        p += 1
    if p < n and buf[p] == 0x25:  # '%' comment: full regex handling
        m = _WS_COMMENT.match(buf, pos)
        return m.end() if m else pos
    return p


def make_string(raw: bytes):
    """UTF-16BE-BOM byte strings become str; all else stays bytes
    (parity: createStringObject, generic.py:446-462)."""
    if raw.startswith(b"\xfe\xff"):
        try:
            return raw.decode("utf-16")
        except UnicodeDecodeError:
            return raw
    return raw


def parse_name(buf: bytes, pos: int) -> Tuple[Name, int]:
    m = _NAME.match(buf, pos)
    if not m:
        raise PdfError(f"expected name at {pos}")
    return _make_name(m.group()), m.end()


def parse_literal_string(buf: bytes, pos: int):
    """( ... ) with nesting, escapes, octal; EOLs kept verbatim, escaped
    EOLs dropped (parity: readStringFromStream, generic.py:538-646)."""
    if buf[pos : pos + 1] != b"(":
        raise PdfError(f"expected '(' at {pos}")
    pos += 1
    depth = 0
    out = bytearray()
    n = len(buf)
    while True:
        m = _LIT_SPECIAL.search(buf, pos)
        if not m:
            raise PdfError("unterminated literal string")
        out += buf[pos : m.start()]
        c = buf[m.start()]
        pos = m.end()
        if c == 0x28:  # (
            depth += 1
            out += b"("
        elif c == 0x29:  # )
            if depth == 0:
                return make_string(bytes(out)), pos
            depth -= 1
            out += b")"
        else:  # backslash
            if pos >= n:
                raise PdfError("string ends in backslash")
            e = buf[pos]
            rep = _SIMPLE_ESCAPES.get(e)
            if rep is not None:
                out += rep
                pos += 1
            elif 0x30 <= e <= 0x37:  # octal, 1-3 digits, mod 256
                om = _OCTAL.match(buf, pos)
                out.append(int(om.group(), 8) % 256)
                pos = om.end()
            elif e in (0x0D, 0x0A):  # escaped EOL elided
                pos += 1
                if e == 0x0D and buf[pos : pos + 1] == b"\n":
                    pos += 1
            else:
                raise PdfError(f"unexpected escape \\{chr(e)!r}")


def parse_hex_string(buf: bytes, pos: int):
    """<hex>; whitespace tolerated, odd length pads '0'. Always a BYTE
    string — the reference applies the UTF-16 BOM sniff only to literal
    strings (readHexStringFromStream, generic.py:500-535, returns
    ByteStringObject unconditionally)."""
    if buf[pos : pos + 1] != b"<":
        raise PdfError(f"expected '<' at {pos}")
    m = _HEX_BODY.match(buf, pos + 1)
    end = m.end()
    if buf[end : end + 1] != b">":
        raise PdfError("unterminated hex string")
    hexs = _NONHEX.sub(b"", m.group())
    if len(hexs) % 2:
        hexs += b"0"
    return bytes.fromhex(hexs.decode("ascii")), end + 1


def parse_dict(buf: bytes, pos: int, resolve: Optional[Callable] = None):
    """<< /K v ... >> , optionally followed by a stream body."""
    if buf[pos : pos + 2] != b"<<":
        raise PdfError(f"expected '<<' at {pos}")
    pos += 2
    d: dict = {}
    nxt = _DICT_NEXT.match
    n_buf = len(buf)
    while True:
        m = nxt(buf, pos)
        if not m:  # neither '>>' nor a '/key' after the whitespace
            if skip_ws(buf, pos) >= n_buf:
                raise PdfError("unterminated dictionary")
            raise PdfError(f"expected name at {pos}")
        closing, rawkey, r1, r2, tok, nm, kw = m.group(
            1, 2, 3, 4, 5, 6, 7)
        if closing:  # '>>'
            pos = m.end()
            break
        key = _make_name(rawkey)
        # fused simple value (ref/number/name/keyword) from the same
        # match; composite values fall through to parse_object
        if r1 is not None:
            val = Ref(int(r1), int(r2))
            pos = m.end()
        elif tok is not None:
            if b"." in tok:
                try:
                    val = float(tok)
                except ValueError:  # malformed real -> 0
                    val = 0.0
            else:
                try:
                    val = int(tok)
                except ValueError:  # overflow -> 0
                    val = 0
            pos = m.end()
        elif nm is not None:
            val = _make_name(nm)
            pos = m.end()
        elif kw is not None:
            val = _KEYWORD_VALUES[kw]
            pos = m.end()
        else:
            val, pos = parse_object(buf, m.end(), resolve)
        d.setdefault(key, val)  # duplicate keys: first wins, tolerated
    # stream body? (generic.py:878-949)
    save = pos
    pos = skip_ws(buf, pos)
    m = _STREAM_KW.match(buf, pos)
    if not m:
        return d, save
    data_start = m.end()
    length = d.get("/Length")
    if isinstance(length, Ref):
        length = resolve(length) if resolve else None
    if isinstance(length, int) and length >= 0:
        data_end = data_start + length
        if not _ENDSTREAM_NEAR.match(buf, data_end):
            # /Length is wrong: recover by scanning for endstream
            # (tolerant-endstream parity: generic.py:920-945)
            idx = buf.find(b"endstream", data_start)
            if idx < 0:
                raise PdfError("stream without endstream")
            data_end = idx
            while data_end > data_start and buf[data_end - 1] in b"\r\n":
                data_end -= 1
    else:
        idx = buf.find(b"endstream", data_start)
        if idx < 0:
            raise PdfError("stream without endstream")
        data_end = idx
        while data_end > data_start and buf[data_end - 1] in b"\r\n":
            data_end -= 1
    raw = buf[data_start:data_end]
    em = _ENDSTREAM_NEAR.match(buf, data_end)
    return StreamObj(d, raw), (em.end() if em else data_end + len(b"endstream"))


def parse_array(buf: bytes, pos: int, resolve: Optional[Callable] = None):
    if buf[pos : pos + 1] != b"[":
        raise PdfError(f"expected '[' at {pos}")
    pos += 1
    arr = []
    nxt = _ARR_NEXT.match
    n_buf = len(buf)
    append = arr.append
    while True:
        m = nxt(buf, pos)  # always matches (possibly empty)
        closing, r1, r2, tok, nm, kw = m.group(1, 2, 3, 4, 5, 6)
        if closing:  # ']'
            return arr, m.end()
        # fused simple element from the same match (see _SIMPLE_VAL)
        if r1 is not None:
            append(Ref(int(r1), int(r2)))
            pos = m.end()
            continue
        if tok is not None:
            if b"." in tok:
                try:
                    v = float(tok)
                except ValueError:  # malformed real -> 0
                    v = 0.0
            else:
                try:
                    v = int(tok)
                except ValueError:  # overflow -> 0
                    v = 0
            append(v)
            pos = m.end()
            continue
        if nm is not None:
            append(_make_name(nm))
            pos = m.end()
            continue
        if kw is not None:
            append(_KEYWORD_VALUES[kw])
            pos = m.end()
            continue
        pos = m.end()
        if pos >= n_buf:
            raise PdfError("unterminated array")
        val, pos = parse_object(buf, pos, resolve)
        append(val)


def parse_object(buf: bytes, pos: int, resolve: Optional[Callable] = None):
    """The readObject dispatcher (parity: generic.py:143-227)."""
    pos = skip_ws(buf, pos)
    if pos >= len(buf):
        raise PdfError("unexpected EOF")
    c = buf[pos]
    if c == 0x2F:  # /
        return parse_name(buf, pos)
    if c == 0x28:  # (
        return parse_literal_string(buf, pos)
    if c == 0x3C:  # <
        if buf[pos : pos + 2] == b"<<":
            return parse_dict(buf, pos, resolve)
        return parse_hex_string(buf, pos)
    if c == 0x5B:  # [
        return parse_array(buf, pos, resolve)
    if c == 0x74:  # t
        if buf[pos : pos + 4] == b"true":
            return True, pos + 4
        raise PdfError(f"bad keyword at {pos}")
    if c == 0x66:  # f
        if buf[pos : pos + 5] == b"false":
            return False, pos + 5
        raise PdfError(f"bad keyword at {pos}")
    if c == 0x6E:  # n
        if buf[pos : pos + 4] == b"null":
            return None, pos + 4
        raise PdfError(f"bad keyword at {pos}")
    if c in b"+-.0123456789":
        m = _REF_OR_NUMBER.match(buf, pos)
        if not m:
            raise PdfError(f"expected number at {pos}")
        if m.group(1) is not None:
            return Ref(int(m.group(1)), int(m.group(2))), m.end()
        tok = m.group(3)
        if b"." in tok:
            try:
                return float(tok), m.end()
            except ValueError:  # malformed real -> 0 (generic.py:396-399)
                return 0.0, m.end()
        try:
            return int(tok), m.end()
        except ValueError:  # overflow -> 0 (generic.py:423-428)
            return 0, m.end()
    raise PdfError(f"cannot dispatch byte {bytes([c])!r} at {pos}")
