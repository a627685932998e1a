"""Content-stream tokenizer — SURVEY.md §2.12 (C2a, C2b).

Parity target: ContentStream.__parseContentStream
(/root/reference/generic.py:1189-1220) and _readInlineImage
(generic.py:1222-1280), re-built as a single regex-driven pass over the
decoded content bytes. Yields (operands, operator) pairs in byte order —
the ordering contract every span derives from (SURVEY §2.6 O1).
"""

from __future__ import annotations

import re
from binascii import unhexlify
from typing import List, Tuple

from .cos import (_WS_RUN, Name, PdfError, _make_name, _number,
                  make_string, parse_object, skip_ws)

# the reference ends an inline image only at "EI" + whitespace + "Q"
# (generic.py:1262-1276); raw "EI" bytes inside the data are skipped
# unless that exact pattern follows. Fallback for images not wrapped in
# q/Q: "EI" preceded and followed by whitespace (or end-of-stream).
_EI_Q = re.compile(rb"EI[\x00\t\n\x0c\r ]+(?=Q)")
_EI_WS = re.compile(rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r ]|$)")

INLINE_IMAGE_OP = "INLINE IMAGE"


# The token rules, one copy each. Every piece is possessive: a token
# either matches whole or not at all, so it splits the bytes exactly as
# the per-token scan does wherever it is used.
_REGULAR = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"  # neither whitespace nor delimiter
_NUM = rb"[+-]?+(?:\d++\.\d*+|\.\d++|\d++)"
_NAME = rb"/" + _REGULAR + rb"*+"
_OP = rb"[A-Za-z'\"]" + _REGULAR + rb"*+"
_HEX_DIGITS = rb"(?:[0-9A-Fa-f]{2})*+"  # even length: parse_hex_string's value
_LIT_BODY = rb"[^()\\]*+"  # no nesting or escapes: the bytes verbatim
_OPERATOR = re.compile(_REGULAR + rb"+")  # any token of regular bytes

# A flat array: only non-empty even-length hex strings, numbers and
# escape-free non-empty literal strings, whitespace between them (the
# kerned TJ arrays of real text). Each element is atomic and every
# repeat possessive, so it splits exactly as the per-token scan does;
# anything else (comments, names, keywords, nesting, escapes, odd or
# spaced hex) fails the group and goes to cos.parse_object.
_FLAT = (
    rb"\[(?:[\x00\t\n\x0c\r ]*+"
    rb"(?><(?:[0-9A-Fa-f]{2})++>|\([^()\\]++\)|" + _NUM + rb"))*+"
    rb"[\x00\t\n\x0c\r ]*+\]"
)
# one flat-array element per match: (hex digits, literal body, real, int)
_FLAT_ITEM = re.compile(
    rb"<([0-9A-Fa-f]++)>|\(([^()\\]++)\)"
    rb"|([+-]?+(?:\d++\.\d*+|\.\d++))|([+-]?+\d++)"
)

# NB the leading whitespace/comment run BACKTRACKS (unlike cos._WS_RUN):
# at the end of the data, a trailing comment gives its last byte back
# as one more token (`% end` ends in an operator `d`). tokenize has
# always read it so, and the span extractor's scanner leaves such input
# to this one.
_SCAN = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*"
    rb"(?:"
    rb"(?P<hexstr><" + _HEX_DIGITS + rb">)"
    rb"|(?P<litstr>\(" + _LIT_BODY + rb"\))"
    rb"|(?P<num>" + _NUM + rb")"
    rb"|(?P<name>" + _NAME + rb")"
    rb"|(?P<op>" + _OP + rb")"
    rb"|(?P<flat>" + _FLAT + rb")"
    rb"|(?P<obj>[(\[<])"
    rb"|(?P<close>\])"
    rb"|(?P<nul>\x00)"
    rb"|(?P<bad>.)"
    rb")"
)

# The span extractor's whole-operation scanner, tried only where no
# operand is pending. One match takes an operation of a common shape:
#   skip   numbers, then any operator but the eight the extractor reads
#          (Tf Tj TJ T* ' " Do BI): it builds no operands
#   tf     /name <number> Tf
#   tjhex  <even hex> Tj        tjlit  (escape-free literal) Tj
#   tjarr  <flat array> TJ      tstar  T*
# Any other shape fails the match and goes to _SCAN token by token.
_READ = rb"(?:T[fjJ*]|['\"]|Do|BI)(?!" + _REGULAR + rb")"
_OPERATION = re.compile(
    _WS_RUN + rb"(?:"
    rb"(?P<skip>(?:(?>" + _NUM + rb")" + _WS_RUN + rb")*+(?!" + _READ + rb")"
    + _OP + rb")"
    rb"|(?P<tjarr>" + _FLAT + rb")" + _WS_RUN + rb"TJ"
    rb"|(?P<tf>" + _NAME + rb")" + _WS_RUN + rb"(?>" + _NUM + rb")" + _WS_RUN
    + rb"Tf"
    rb"|<(?P<tjhex>" + _HEX_DIGITS + rb")>" + _WS_RUN + rb"Tj"
    rb"|\((?P<tjlit>" + _LIT_BODY + rb")\)" + _WS_RUN + rb"Tj"
    rb"|(?P<tstar>T\*)"
    rb")(?!" + _REGULAR + rb")"
)


def _operand(data: bytes, m):
    """The operand that the _SCAN match `m` of an operand group reads,
    and the offset after it: tokenize's conversions, which the span
    extractor's per-token path shares. Raises PdfError where the
    tokenizer stops (an unreadable string, array or dict)."""
    g = m.lastgroup
    if g == "num":
        return _number(m.group(g)), m.end()
    if g == "flat":
        start, end = m.span(g)
        try:
            return [unhexlify(h) if h else make_string(lit) if lit
                    else float(real) if real else int(i)
                    for h, lit, real, i in _FLAT_ITEM.findall(
                        data, start + 1, end - 1)], end
        except ValueError:  # an int past the digit limit
            return parse_object(data, start)
    if g == "name":
        return _make_name(m.group(g)), m.end()
    if g == "hexstr":
        return bytes.fromhex(m.group(g)[1:-1].decode()), m.end()
    if g == "litstr":
        return make_string(m.group(g)[1:-1]), m.end()
    return parse_object(data, m.start(g))  # any other string, array or dict


def tokenize(data: bytes) -> List[Tuple[list, str]]:
    """Decoded content bytes -> ordered [(operands, operator)].

    Single combined-scanner regex (one C-level match per token; one
    match and one findall per flat array, see _FLAT); semantics
    identical to the reference tokenizer (hypothesis-tested): alpha
    tokens are operators, and every other string, array and dict is
    read whole by cos.parse_object, as readObject does
    (generic.py:278-330), so `[1 0 R]` is one Ref."""
    ops: List[Tuple[list, str]] = []
    operands: list = []
    pos = 0
    n = len(data)
    scan = _SCAN.match
    append_op = ops.append
    while pos < n:
        m = scan(data, pos)
        if m is None:  # every alternative consumes a byte
            break
        g = m.lastgroup
        if g == "op":
            tok = m.group(g)
            pos = m.end()
            if tok == b"BI":
                try:
                    settings, img, pos = _read_inline_image(data, pos)
                except PdfError:
                    break
                append_op(
                    ([{"settings": settings, "data": img}], INLINE_IMAGE_OP)
                )
            else:
                append_op((operands, tok.decode("latin-1")))
            operands = []
        elif g == "close":  # stray ']': wraps the operands so far
            operands = [operands]
            pos = m.end()
        elif g == "nul" or g == "bad":
            break  # NUL terminates (generic.py:1196); "bad" bytes stop too
        else:
            try:
                v, pos = _operand(data, m)
            except PdfError:
                break  # tolerate trailing garbage
            operands.append(v)
    return ops


_LIT_ESC = {0x5C: b"\\\\", 0x28: b"\\(", 0x29: b"\\)",
            0x0A: b"\\n", 0x0D: b"\\r", 0x09: b"\\t",
            0x08: b"\\b", 0x0C: b"\\f"}


def _ser_string(raw: bytes) -> bytes:
    """Literal string with octal escapes for non-printables — every
    byte round-trips through parse_literal_string."""
    out = bytearray(b"(")
    for b in raw:
        esc = _LIT_ESC.get(b)
        if esc is not None:
            out += esc
        elif 0x20 <= b <= 0x7E:
            out.append(b)
        else:
            out += b"\\%03o" % b
    out += b")"
    return bytes(out)


def _ser_value(v) -> bytes:
    """One COS operand -> bytes that tokenize back to an equal value."""
    if isinstance(v, Name):
        return str(v).encode("utf-8", "surrogateescape")
    if isinstance(v, bool):
        return b"true" if v else b"false"
    if v is None:
        return b"null"
    if isinstance(v, int):
        return b"%d" % v
    if isinstance(v, float):
        s = repr(v)
        if "e" in s or "E" in s:  # scanner has no exponent syntax
            s = format(v, ".20f").rstrip("0") or "0."
        return s.encode()
    if isinstance(v, str):
        # text strings re-enter via the literal-string BOM sniff (hex
        # strings are never sniffed, cos.py parity)
        return _ser_string(b"\xfe\xff" + v.encode("utf-16-be"))
    if isinstance(v, (bytes, bytearray)):
        return _ser_string(bytes(v))
    if isinstance(v, list):
        return b"[" + b" ".join(_ser_value(x) for x in v) + b"]"
    if isinstance(v, dict):
        parts = []
        for k, val in v.items():
            parts.append(_ser_value(k if isinstance(k, Name) else Name(k)))
            parts.append(_ser_value(val))
        return b"<< " + b" ".join(parts) + b" >>"
    raise PdfError(f"unserializable operand {type(v).__name__}")


def serialize_ops(ops: List[Tuple[list, str]]) -> bytes:
    """[(operands, operator)] -> content-stream bytes; the inverse of
    tokenize at op-list granularity (C2c):
    tokenize(serialize_ops(tokenize(x))) == tokenize(x), property-tested.

    Inline images re-frame per the tokenizer's own EI contract: data
    captured via the EI-ws-Q path is re-emitted bare before 'EI' (the
    following Q op completes the pattern); data from the ws-EI path
    already carries its trailing whitespace byte, which the re-parse
    returns to it."""
    toks: List[bytes] = []
    for operands, operator in ops:
        if operator == INLINE_IMAGE_OP:
            img = operands[0]
            parts = [b"BI"]
            for k, val in img["settings"].items():
                parts.append(_ser_value(k if isinstance(k, Name) else Name(k)))
                parts.append(_ser_value(val))
            parts.append(b"ID")
            head = b" ".join(parts) + b" "
            toks.append(head + img["data"] + b"EI")
        else:
            toks.append(
                b" ".join([_ser_value(v) for v in operands]
                          + [operator.encode("latin-1")])
            )
    return b" ".join(toks)


def _read_inline_image(data: bytes, pos: int):
    """BI <k v ...> ID <raw> EI."""
    settings: dict = {}
    n = len(data)
    while True:
        pos = skip_ws(data, pos)
        if pos >= n:
            raise PdfError("unterminated inline image dict")
        m = _OPERATOR.match(data, pos)
        if m and m.group() == b"ID":
            pos = m.end()
            break
        key, pos = parse_object(data, pos)
        pos = skip_ws(data, pos)
        val, pos = parse_object(data, pos)
        settings[key] = val
    # exactly one whitespace byte after ID separates it from the data
    if pos < n and data[pos] in b"\x00\t\n\x0c\r ":
        pos += 1
    m = _EI_Q.search(data, pos)
    if m:
        return settings, data[pos : m.start()], m.end()
    m = _EI_WS.search(data, max(pos - 1, 0))
    if not m:
        raise PdfError("inline image without EI")
    # the whitespace byte before EI belongs to the image data
    return settings, data[pos : m.start() + 1], m.end()
