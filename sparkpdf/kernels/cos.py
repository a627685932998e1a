"""COS (Carousel Object System) object model + lexer.

From-scratch, regex-over-buffer reader for the PDF object syntax.
Behavioral parity targets (see SURVEY.md §1.2) are cited against the
reference implementation (johns1c/PyPDF2), but the implementation here
is new: the reference reads byte-at-a-time from a stream (its own
author calls `readWord` "appallingly slow", generic.py:137); we scan a
whole in-memory buffer with compiled regexes and return
(value, next_pos) pairs.

One reader, `parse_object`, reads every value, as the reference's
readObject does (generic.py:143-227). Arrays and dictionaries nest on
an explicit stack inside its one loop, so nesting depth costs memory,
not Python frames, and a deeply nested input never raises
RecursionError.

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
from typing import Callable, NamedTuple, Optional

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
# whitespace and %-comments are interchangeable between tokens
# (reference skips comments in readObject, generic.py:176-198)
_WS_COMMENT = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)+")

# parse_object's scanners: one C-level match per token consumes the
# whitespace before it and reads it whole when it is a simple value.
# NB the ws runs are POSSESSIVE (`*+`, Python 3.11): a greedy
# `(?:[ws]+|%...)*` before a required token backtracks exponentially
# when that token is absent (hypothesis found the hang); possessive
# quantifiers keep C-speed run matching with zero backtracking.
_WS_RUN = rb"(?:[\x00\t\n\x0c\r ]++|%[^\r\n]*+)*+"
# the simple values: ref "N G R" (tried before the number it starts
# with), number, name, and true/false/null. A name runs to the next
# whitespace or delimiter (generic.py:731-734); '#' escapes are kept
# RAW for parity with the reference fork, which does not decode them
# (generic.py:751-757). Anything else (strings, arrays, dicts,
# malformed input) leaves the value groups empty, and parse_object
# dispatches on the token's first byte.
_SIMPLE_VAL = (
    rb"(?:(\d++)[\x00\t\n\x0c\r ]++(\d++)[\x00\t\n\x0c\r ]++R(?![0-9A-Za-z])"
    rb"|([+-]?+(?:\d++\.\d*+|\.\d++|\d++))"
    rb"|(/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*+)"
    rb"|(true|false|null))"
)
# a dict entry: the closing >> OR the next /key together with its
# value when that value is simple, in one fused match
_DICT_NEXT = re.compile(
    _WS_RUN
    + rb"(?:(>>)|(/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*+)"
    + _WS_RUN + _SIMPLE_VAL + rb"?+)"
)
# an array element or a lone value: the closing ] OR a simple value
_NEXT = re.compile(_WS_RUN + rb"(?:(\])|" + _SIMPLE_VAL + rb")?+")

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


def _number(tok: bytes):
    """The number rule: a real has a '.', anything else is an int."""
    if b"." in tok:
        try:
            return float(tok)
        except ValueError:  # malformed real -> 0 (generic.py:396-399)
            return 0.0
    try:
        return int(tok)
    except ValueError:  # past int()'s digit limit -> 0 (generic.py:423-428)
        return 0


_HEX_BODY = re.compile(rb"[^>]*")
_NONHEX = re.compile(rb"[^0-9a-fA-F]")

# inside a literal string, jump straight to the next interesting byte
_LIT_SPECIAL = re.compile(rb"[()\\]")

_OCTAL = re.compile(rb"[0-7]{1,3}")

# after a closed dict: the stream keyword and its EOL (generic.py:878)
_STREAM_KW = re.compile(_WS_RUN + rb"stream(?:\r\n|\n|\r)?")
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


def _stream(buf: bytes, d: dict, data_start: int,
            resolve: Optional[Callable]):
    """The stream whose body starts at data_start, d its dict
    (generic.py:878-949)."""
    length = d.get("/Length")
    if isinstance(length, Ref):
        length = resolve(length) if resolve else None
    data_end = (data_start + length
                if isinstance(length, int) and length >= 0 else -1)
    if data_end < 0 or not _ENDSTREAM_NEAR.match(buf, data_end):
        # no /Length, or a wrong one: recover by scanning for endstream
        # (tolerant-endstream parity: generic.py:920-945)
        data_end = buf.find(b"endstream", data_start)
        if data_end < 0:
            raise PdfError("stream without endstream")
        while data_end > data_start and buf[data_end - 1] in b"\r\n":
            data_end -= 1
    em = _ENDSTREAM_NEAR.match(buf, data_end)
    return (StreamObj(d, buf[data_start:data_end]),
            em.end() if em else data_end + len(b"endstream"))


def parse_dict(buf: bytes, pos: int, resolve: Optional[Callable] = None):
    """<< /K v ... >> , optionally followed by a stream body."""
    if buf[pos : pos + 2] != b"<<":
        raise PdfError(f"expected '<<' at {pos}")
    return parse_object(buf, pos, resolve)


def parse_object(buf: bytes, pos: int, resolve: Optional[Callable] = None):
    """The readObject dispatcher (parity: generic.py:143-227): the value
    at pos and the offset after it. One loop reads every value; an
    array or dict being read sits on an explicit stack with its pending
    key, so nesting costs no Python frames."""
    stack: list = []  # (container, pending key) of each enclosing one
    cur = key = None  # the open container (None: a lone value), its key
    in_dict = False
    if buf.startswith((b"<<", b"["), pos):  # open a top-level container
        stack.append((None, None))
        in_dict = buf[pos] == 0x3C
        cur = {} if in_dict else []
        pos += 2 if in_dict else 1
    while True:
        if in_dict:
            m = _DICT_NEXT.match(buf, pos)
            if not m:  # neither '>>' nor a '/key' after the whitespace
                if skip_ws(buf, pos) >= len(buf):
                    raise PdfError("unterminated dictionary")
                raise PdfError(f"expected name at {pos}")
            closing, rawkey, r1, r2, tok, nm, kw = m.group(
                1, 2, 3, 4, 5, 6, 7)
            if rawkey is not None:
                key = _make_name(rawkey)
        else:
            m = _NEXT.match(buf, pos)  # always matches (possibly empty)
            closing, r1, r2, tok, nm, kw = m.group(1, 2, 3, 4, 5, 6)
        pos = m.end()
        if nm is not None:
            val = _make_name(nm)
        elif r1 is not None:
            try:
                val = Ref(int(r1), int(r2))
            except ValueError:  # past int()'s digit limit
                raise PdfError("indirect reference number too long") from None
        elif tok is not None:
            val = _number(tok)
        elif kw is not None:
            val = _KEYWORD_VALUES[kw]
        elif closing is not None:  # '>>' or ']'
            if in_dict:  # a dict, or the stream whose body follows it
                sm = _STREAM_KW.match(buf, pos)
                if sm is None:
                    val = cur
                else:
                    val, pos = _stream(buf, cur, sm.end(), resolve)
            elif cur is None:
                raise PdfError(f"cannot dispatch byte b']' at {pos - 1}")
            else:
                val = cur
            cur, key = stack.pop()
            in_dict = key is not None
        else:  # not a simple value: dispatch on the first byte
            c = buf[pos : pos + 1]
            if c == b"(":
                val, pos = parse_literal_string(buf, pos)
            elif c == b"<" and buf[pos + 1 : pos + 2] != b"<":
                val, pos = parse_hex_string(buf, pos)
            elif c == b"<" or c == b"[":  # open a dict or an array
                stack.append((cur, key))
                in_dict = c == b"<"
                cur = {} if in_dict else []
                key = None
                pos += 2 if in_dict else 1
                continue
            elif not c:
                raise PdfError("unterminated array" if cur is not None
                               and not in_dict else "unexpected EOF")
            elif c in b"tfn":
                raise PdfError(f"bad keyword at {pos}")
            elif c in b"+-.0123456789":
                raise PdfError(f"expected number at {pos}")
            else:
                raise PdfError(f"cannot dispatch byte {c!r} at {pos}")
        if in_dict:
            cur.setdefault(key, val)  # duplicate keys: first wins, tolerated
        elif cur is not None:
            cur.append(val)
        else:
            return val, pos
