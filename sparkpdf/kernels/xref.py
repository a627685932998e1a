"""Cross-reference index bootstrap — SURVEY.md §2.1 (S2-S7).

Builds, from raw PDF bytes, the row index that makes the object graph
navigable:

    offsets:   {idnum: byte_offset}            (classic + stream entries)
    in_objstm: {idnum: (stream_objnum, idx)}   (PDF-1.5 type-2 entries)
    trailer:   merged trailer dict (first key wins across /Prev chain,
               parity: /root/reference/_reader.py:948-980)

All parsing is buffer+regex based; the classic-table fast path decodes
fixed-width rows with numpy (vs the reference's per-row readline loop,
_reader.py:1052-1121).
"""

from __future__ import annotations

import re
from typing import Dict, Optional, Tuple

import numpy as np

from .cos import PdfError, Ref, StreamObj, parse_dict, parse_object, skip_ws

_STARTXREF = re.compile(rb"startxref[\x00\t\n\x0c\r ]+(\d+)")
_XREF_KW = re.compile(rb"xref[\x00\t\n\x0c\r ]*")
_SUBSECTION = re.compile(rb"(\d+)[\x00\t ]+(\d+)[\x00\t ]*(?:\r\n|\r|\n)")
_XREF_ROW = re.compile(rb"(\d{10})[\x00\t ](\d{5})[\x00\t ]([nf])")
_OBJ_HEADER = re.compile(rb"(\d+)[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+obj\b")
_TRAILER_KW = re.compile(rb"trailer[\x00\t\n\x0c\r ]*")


class XRef:
    __slots__ = ("offsets", "in_objstm", "trailer", "rebuilt")

    def __init__(self):
        self.offsets: Dict[int, int] = {}
        self.in_objstm: Dict[int, Tuple[int, int]] = {}
        self.trailer: dict = {}
        self.rebuilt = False

    def _add_offset(self, idnum: int, off: int):
        # earlier xref sections shadow /Prev sections: first wins
        self.offsets.setdefault(idnum, off)

    def _add_objstm(self, idnum: int, stm: int, idx: int):
        if idnum not in self.offsets:
            self.in_objstm.setdefault(idnum, (stm, idx))

    def _merge_trailer(self, d: dict):
        for k, v in d.items():
            self.trailer.setdefault(k, v)


def find_startxref(buf: bytes) -> Optional[int]:
    """%%EOF must be near the end; the startxref pointer sits just above
    (parity: _reader.py:909-950, searches the last 1 MB)."""
    tail = buf[-1048576:]
    matches = list(_STARTXREF.finditer(tail))
    if not matches:
        return None
    return int(matches[-1].group(1))


def read_xref(buf: bytes) -> XRef:
    xref = XRef()
    start = find_startxref(buf)
    if start is None:
        return rebuild_xref(buf, xref)
    seen = set()
    pos: Optional[int] = start
    while pos is not None and pos not in seen:
        seen.add(pos)
        pos = _correct_startxref(buf, pos)
        if pos is None:
            return rebuild_xref(buf, xref)
        nxt = _read_one_section(buf, pos, xref)
        pos = nxt
    _sanity_check(buf, xref)
    return xref


def _correct_startxref(buf: bytes, pos: int) -> Optional[int]:
    """Tolerate slightly-off startxref values by probing a small window
    (parity: off-by-N recovery, _reader.py:994-1013)."""
    if pos < 0 or pos >= len(buf):
        return None
    window = buf[max(0, pos - 20) : pos + 40]
    base = max(0, pos - 20)
    if _XREF_KW.match(buf, pos) or _OBJ_HEADER.match(buf, pos):
        return pos
    m = _XREF_KW.search(window)
    if m:
        return base + m.start()
    m = _OBJ_HEADER.search(window)
    if m:
        return base + m.start()
    return None


def _read_one_section(buf: bytes, pos: int, xref: XRef) -> Optional[int]:
    """Returns the /Prev position to follow, or None."""
    if _XREF_KW.match(buf, pos):
        return _read_table_section(buf, pos, xref)
    return _read_stream_section(buf, pos, xref)


def _read_table_section(buf: bytes, pos: int, xref: XRef) -> Optional[int]:
    """Classic fixed-20-byte xref table, multi-subsection, EOL-tolerant
    (parity: _read_standard_xref_table, _reader.py:1052-1121)."""
    pos = _XREF_KW.match(buf, pos).end()
    while True:
        m = _SUBSECTION.match(buf, pos)
        if not m:
            break
        first, count = int(m.group(1)), int(m.group(2))
        pos = m.end()
        # fast path: a clean block of count 20-byte rows. Small tables
        # (the common case) decode by direct slicing; big tables (linear
        # xrefs with 10^5+ rows) via one numpy pass.
        block = buf[pos : pos + 20 * count]
        rows_done = 0
        if count and len(block) == 20 * count:
            if count < 512:
                try:
                    for i in range(count):
                        base = i * 20
                        t = block[base + 17]
                        if t == 110:  # 'n'
                            xref._add_offset(first + i, int(block[base : base + 10]))
                        elif t != 102:  # not 'f' -> bail to tolerant path
                            raise ValueError
                    rows_done = count
                    pos += 20 * count
                except ValueError:
                    rows_done = 0
            else:
                arr = np.frombuffer(block, dtype=np.uint8).reshape(count, 20)
                digits_ok = ((arr[:, :10] >= 48) & (arr[:, :10] <= 57)).all() and (
                    (arr[:, 11:16] >= 48) & (arr[:, 11:16] <= 57)
                ).all()
                types = arr[:, 17]
                if digits_ok and ((types == 110) | (types == 102)).all():
                    offs = np.zeros(count, dtype=np.int64)
                    for d in range(10):
                        offs = offs * 10 + (arr[:, d].astype(np.int64) - 48)
                    mask = types == 110
                    for i in np.nonzero(mask)[0]:
                        xref._add_offset(first + int(i), int(offs[i]))
                    rows_done = count
                    pos += 20 * count
        if rows_done < count:
            # tolerant path: rows with short/odd EOLs (_reader.py:1081-1098)
            for i in range(rows_done, count):
                m2 = _XREF_ROW.search(buf, pos, pos + 40)
                if not m2:
                    raise PdfError("malformed xref row")
                if m2.group(3) == b"n":
                    xref._add_offset(first + i, int(m2.group(1)))
                pos = m2.end()
            pos = skip_ws(buf, pos)
    pos = skip_ws(buf, pos)
    tm = _TRAILER_KW.match(buf, pos)
    if not tm:
        raise PdfError("xref table without trailer")
    trailer, _ = parse_dict(buf, skip_ws(buf, tm.end()))
    if isinstance(trailer, StreamObj):
        trailer = trailer.sdict
    xref._merge_trailer(trailer)
    # hybrid-reference file: /XRefStm points at an xref stream with
    # entries for objects the table lists as free
    if "/XRefStm" in trailer:
        _read_stream_section(buf, int(trailer["/XRefStm"]), xref)
    prev = trailer.get("/Prev")
    return int(prev) if isinstance(prev, (int, float)) else None


def _read_stream_section(buf: bytes, pos: int, xref: XRef) -> Optional[int]:
    """PDF-1.5 xref stream: /W field widths, /Index subsections,
    type 0/1/2 entries, big-endian fields
    (parity: _read_pdf15_xref_stream, _reader.py:1123-1159, 1211-1241)."""
    m = _OBJ_HEADER.match(buf, pos)
    if not m:
        raise PdfError(f"no xref stream at {pos}")
    obj, newpos = parse_object(buf, skip_ws(buf, m.end()))
    if not isinstance(obj, StreamObj):
        raise PdfError("xref stream is not a stream")
    d = obj.sdict
    data = obj.get_data()
    w = [int(x) for x in d["/W"]]
    size = int(d.get("/Size", 0))
    index = d.get("/Index", [0, size])
    entry_len = sum(w)
    if entry_len <= 0:
        raise PdfError("bad /W in xref stream")
    n_entries = len(data) // entry_len
    arr = np.frombuffer(data[: n_entries * entry_len], dtype=np.uint8).reshape(
        n_entries, entry_len
    )

    def field(col_start: int, width: int) -> np.ndarray:
        if width == 0:
            return np.full(n_entries, -1, dtype=np.int64)
        v = np.zeros(n_entries, dtype=np.int64)
        for i in range(width):
            v = (v << 8) | arr[:, col_start + i].astype(np.int64)
        return v

    f1 = field(0, w[0])
    f2 = field(w[0], w[1])
    f3 = field(w[0] + w[1], w[2])
    if w[0] == 0:
        f1 = np.ones(n_entries, dtype=np.int64)  # default type 1
    row = 0
    for i in range(0, len(index), 2):
        first, count = int(index[i]), int(index[i + 1])
        for j in range(count):
            if row >= n_entries:
                break
            t = int(f1[row])
            if t == 1:
                xref._add_offset(first + j, int(f2[row]))
            elif t == 2:
                xref._add_objstm(first + j, int(f2[row]), int(f3[row]))
            row += 1
    xref._merge_trailer(d)
    prev = d.get("/Prev")
    return int(prev) if isinstance(prev, (int, float)) else None


def _sanity_check(buf: bytes, xref: XRef):
    """Detect off-by-N table indexing: probe a few entries and, on
    mismatch, fall back to a full rebuild (covers the reference's
    non-zero-index correction, _reader.py:1016-1033 + _zeroXref)."""
    checked = 0
    for idnum, off in list(xref.offsets.items()):
        if checked >= 4:
            break
        m = _OBJ_HEADER.match(buf, skip_ws(buf, off))
        if not m or int(m.group(1)) != idnum:
            rebuild_xref(buf, xref, reset=True)
            return
        checked += 1


def rebuild_xref(buf: bytes, xref: XRef, reset: bool = False) -> XRef:
    """Full-file regex scan "N G obj" → offsets; later definitions win
    (parity: _rebuild_xref_table, _reader.py:1186-1209)."""
    if reset:
        xref.offsets.clear()
        xref.in_objstm.clear()
    xref.rebuilt = True
    offsets: Dict[int, int] = {}
    for m in _OBJ_HEADER.finditer(buf):
        offsets[int(m.group(1))] = m.start()
    xref.offsets.update(offsets)
    if not xref.trailer.get("/Root"):
        # re-read the last trailer dict; else scan objects for /Catalog
        tpos = buf.rfind(b"trailer")
        if tpos >= 0:
            try:
                t, _ = parse_dict(buf, skip_ws(buf, tpos + len(b"trailer")))
                if isinstance(t, StreamObj):
                    t = t.sdict
                xref._merge_trailer(t)
            except PdfError:
                pass
    if not xref.trailer.get("/Root"):
        for idnum, off in offsets.items():
            m = _OBJ_HEADER.match(buf, off)
            try:
                obj, _ = parse_object(buf, skip_ws(buf, m.end()))
            except PdfError:
                continue
            d = obj.sdict if isinstance(obj, StreamObj) else obj
            if isinstance(d, dict) and d.get("/Type") == "/Catalog":
                xref.trailer["/Root"] = Ref(idnum, 0)
            if isinstance(d, dict) and d.get("/Type") == "/XRef":
                xref._merge_trailer(d)
    return xref
