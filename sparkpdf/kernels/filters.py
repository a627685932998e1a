"""Stream filter ("decompression codec") chain — SURVEY.md §2.8.

From-scratch implementations; parity targets cited against
/root/reference/filters.py. PNG predictors are vectorized with numpy
(per-row loop only where the spec forces sequential dependence), unlike
the reference's per-byte loops (filters.py:98-153).
"""

from __future__ import annotations

import base64
import codecs
import re
import struct
import zlib
from typing import Callable, Optional

import numpy as np

from .cos import Name, PdfError, Ref, StreamObj

_WS_STRIP = re.compile(rb"\s+")


def flate_decode(data: bytes, parms: Optional[dict]) -> bytes:
    """zlib inflate with byte-wise salvage fallback (filters.py:55-66),
    then PNG predictors 10-15 if /Predictor says so (filters.py:98-153)."""
    try:
        out = zlib.decompress(data)
    except zlib.error:
        # salvage whatever decompresses before the corruption point
        d = zlib.decompressobj()
        chunks = []
        for i in range(0, len(data), 1):
            try:
                chunks.append(d.decompress(data[i : i + 1]))
            except zlib.error:
                break
        out = b"".join(chunks)
    return _apply_predictor(out, parms)


def _apply_predictor(data: bytes, parms: Optional[dict]) -> bytes:
    if not parms:
        return data
    pred = _as_int(parms.get("/Predictor", 1))
    if pred <= 1:
        return data
    if pred == 2:  # TIFF predictor
        raise PdfError("TIFF predictor 2 unsupported")
    colors = _as_int(parms.get("/Colors", 1))
    bpc = _as_int(parms.get("/BitsPerComponent", 8))
    columns = _as_int(parms.get("/Columns", 1))
    bpp = max(1, (colors * bpc) // 8)  # bytes per pixel
    rowlen = (columns * colors * bpc + 7) // 8
    stride = rowlen + 1  # +1 filter-type byte per row
    nrows = len(data) // stride
    if nrows * stride != len(data):
        data = data[: nrows * stride]
    if nrows == 0:
        return b""
    a = np.frombuffer(data, dtype=np.uint8).reshape(nrows, stride)
    rows = a[:, 1:].astype(np.int16)  # working copy, room for sums
    prev = np.zeros(rowlen, dtype=np.int16)
    # [start, end) runs of one filter type, found once; types as ints
    bounds = [0] + (np.flatnonzero(np.diff(a[:, 0])) + 1).tolist() + [nrows]
    ftypes = a[bounds[:-1], 0].tolist()
    for start, end, ft in zip(bounds, bounds[1:], ftypes):
        if ft == 2:  # Up: one running sum down the columns of the run
            run = np.cumsum(np.vstack((prev, rows[start:end])), axis=0,
                            dtype=np.uint8)
            rows[start:end] = run[1:]
        elif ft == 1:  # Sub: left neighbour, sequential in-row
            for row in rows[start:end]:
                for c in range(bpp, rowlen):
                    row[c] = (row[c] + row[c - bpp]) & 0xFF
        elif ft == 3:  # Average
            for row in rows[start:end]:
                for c in range(rowlen):
                    left = row[c - bpp] if c >= bpp else 0
                    row[c] = (row[c] + ((left + prev[c]) >> 1)) & 0xFF
                prev = row
        elif ft == 4:  # Paeth (paethPredictor parity: filters.py:902-913)
            for row in rows[start:end]:
                for c in range(rowlen):
                    left = int(row[c - bpp]) if c >= bpp else 0
                    up = int(prev[c])
                    ul = int(prev[c - bpp]) if c >= bpp else 0
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    if pa <= pb and pa <= pc:
                        pr = left
                    elif pb <= pc:
                        pr = up
                    else:
                        pr = ul
                    row[c] = (row[c] + pr) & 0xFF
                prev = row
        elif ft != 0:
            raise PdfError(f"unknown PNG filter type {ft}")
        prev = rows[end - 1]
    return rows.astype(np.uint8).tobytes()


# codes extracted per numpy step at most: bounds the temporaries of a
# run at 12 bits, which lasts until a CLEAR or the end of the data
_LZW_RUN_MAX = 4096


def lzw_decode(data: bytes, parms: Optional[dict]) -> bytes:
    """Variable-width LZW, 9->12-bit codes, CLEAR=256 STOP=257
    (parity: filters.py:204-293); fresh implementation. A code never
    spans more than 3 bytes, so each is one shift and mask of the
    24-bit big-endian window starting at its first byte. The width
    changes only at a known table size, so each run of same-width codes
    is extracted in one numpy step; a run ends at the next width bump,
    CLEAR or STOP, whichever comes first, and the table loop walks it."""
    buf = np.frombuffer(data + b"\0\0", dtype=np.uint8)
    nbits = 8 * len(data)
    table = [bytes([i]) for i in range(256)] + [b"", b""]
    grow = table.append
    out = []
    add = out.append
    width = 9
    prev: Optional[bytes] = None
    pos = 0  # bit offset of the next code
    while True:
        # codes left at this width: the first after a start or CLEAR
        # adds no table entry, every later one adds one
        count = min((nbits - pos) // width, _LZW_RUN_MAX)
        if width < 12:
            count = min(count, (1 << width) - 1 - len(table) + (prev is None))
        if count <= 0:
            break
        bit = pos & 7
        run = buf[pos >> 3:((pos + count * width - 1) >> 3) + 3].astype(np.int64)
        at = np.arange(bit, bit + count * width, width)
        first = at >> 3  # each code's first byte in `run`
        codes = (((run[first] << 16) | (run[first + 1] << 8) | run[first + 2])
                 >> (24 - width - (at & 7))) & ((1 << width) - 1)
        control = np.flatnonzero((codes >> 1) == 128)  # CLEAR or STOP
        stop = int(control[0]) if control.size else count
        walk = iter(codes[:stop].tolist())
        if prev is None and stop:
            code = next(walk)
            if code >= 258:
                raise PdfError(f"LZW code {code} before any table entry")
            prev = table[code]
            add(prev)
        for code in walk:
            if code < len(table):
                entry = table[code]
                grow(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                grow(entry)
            add(entry)
            prev = entry
        pos += stop * width
        if stop < count:
            if codes[stop] == 257:  # STOP
                break
            del table[258:]  # CLEARDICT
            pos += width
            width = 9
            prev = None
        elif len(table) >= (1 << width) - 1 and width < 12:
            width += 1
    return _apply_predictor(b"".join(out), parms)


def ascii_hex_decode(data: bytes, parms=None) -> bytes:
    """Whitespace-tolerant hex; '>' terminator; odd length pads '0'
    (parity: filters.py:164-201)."""
    end = data.find(b">")
    if end >= 0:
        data = data[:end]
    h = _WS_STRIP.sub(b"", data)
    if len(h) % 2:
        h += b"0"
    try:
        return codecs.decode(h, "hex")
    except Exception as exc:
        raise PdfError(f"bad ASCIIHex data: {exc}") from exc


def ascii85_decode(data: bytes, parms=None) -> bytes:
    """base64.a85decode, tolerant of the '~>' tail (filters.py:296-318)."""
    data = _WS_STRIP.sub(b"", data)
    if data.startswith(b"<~"):
        data = data[2:]
    if data.endswith(b"~>"):
        data = data[:-2]
    return base64.a85decode(data)


def run_length_decode(data: bytes, parms=None) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        l = data[i]
        i += 1
        if l == 128:
            break
        if l < 128:
            out += data[i : i + l + 1]
            i += l + 1
        else:
            out += data[i : i + 1] * (257 - l)
            i += 1
    return bytes(out)


def ccitt_fax_wrap(data: bytes, parms: Optional[dict], height: int = 0) -> bytes:
    """Wrap raw CCITT data in a minimal little-endian TIFF header — the
    reference does NOT decode G3/G4 here either (filters.py:333-388)."""
    parms = parms or {}
    k = _as_int(parms.get("/K", 0))
    columns = _as_int(parms.get("/Columns", 1728))
    rows = _as_int(parms.get("/Rows", height))
    compression = 4 if k < 0 else 3  # G4 / G3
    img_size = len(data)
    # /K > 0 is 2-D-extended G3: signalled in TIFF by T4Options (292)
    # bit 0 so the decode side can dispatch MR instead of MH
    extra = [(292, 4, 1, 1)] if k > 0 else []
    n_tags = 8 + len(extra)
    tiff_header_struct = "<2shlh" + "hhll" * n_tags + "h"
    tag_fields = [
        (256, 4, 1, columns),
        (257, 4, 1, rows),
        (258, 3, 1, 1),
        (259, 3, 1, compression),
        (262, 3, 1, 0),
        (273, 4, 1, struct.calcsize(tiff_header_struct)),
        (278, 4, 1, rows),
        (279, 4, 1, img_size),
    ] + extra
    header = struct.pack(
        tiff_header_struct,
        b"II", 42, 8, n_tags,
        *[v for tag in tag_fields for v in tag],
        0,
    )
    return header + data


def _as_int(v) -> int:
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return int(v)
    return 0


# filter-name -> (fn, is_passthrough); abbreviations per PDF spec Table 6
_DECODERS: dict = {
    "/FlateDecode": flate_decode,
    "/Fl": flate_decode,
    "/LZWDecode": lzw_decode,
    "/LZW": lzw_decode,
    "/ASCIIHexDecode": ascii_hex_decode,
    "/AHx": ascii_hex_decode,
    "/ASCII85Decode": ascii85_decode,
    "/A85": ascii85_decode,
    "/RunLengthDecode": run_length_decode,
    "/RL": run_length_decode,
}
_PASSTHROUGH = {"/DCTDecode", "/DCT", "/JPXDecode"}  # filters.py:321-330


def decode_stream(stream: StreamObj, resolve: Optional[Callable] = None) -> bytes:
    """Apply the /Filter chain in order, normalising scalar-or-array
    (parity: decodeStreamData, filters.py:391-429)."""
    d = stream.sdict
    filters = d.get("/Filter", [])
    if isinstance(filters, Ref) and resolve:
        filters = resolve(filters)
    if isinstance(filters, (str, Name)):
        filters = [filters]
    parms = d.get("/DecodeParms", d.get("/DP"))
    if isinstance(parms, Ref) and resolve:
        parms = resolve(parms)
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    elif len(parms) < len(filters):
        # short /DecodeParms array must not drop trailing filters
        parms = parms + [None] * (len(filters) - len(parms))
    data = stream.raw
    for f, p in zip(filters, parms):
        if isinstance(p, Ref) and resolve:
            p = resolve(p)
        if f in _DECODERS:
            data = _DECODERS[f](data, p)
        elif f in _PASSTHROUGH:
            return data  # compressed image payload stays as-is
        elif f == "/CCITTFaxDecode" or f == "/CCF":
            data = ccitt_fax_wrap(data, p, _as_int(d.get("/Height", 0)))
        elif f == "/Crypt":
            p = p or {}
            if p.get("/Name") not in (None, "/Identity"):
                raise PdfError("/Crypt filter with a named handler")
        else:
            raise PdfError(f"unsupported filter {f!r}")
    return data
