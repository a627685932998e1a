"""WARC (Web ARChive, ISO 28500) record parsing — the native container
of CommonCrawl-style web corpora and the raw input of the north rule's
HTML extraction leg (jobs/web_job.py --warc).

Pure Python, no Spark: record framing (WARC/1.x header block +
Content-Length body + CRLF CRLF separator), per-record-gzip-member
files (the CommonCrawl layout — each record its own gzip stream,
members concatenated) and plain files, HTTP response parsing (status
line, headers, payload) for response records. Same quarantine
discipline as the media kernels: every parser returns None/partial
rather than raising; the operator layer owns the error column.
"""

from __future__ import annotations

import zlib
from typing import List, Optional


def _gunzip_members(b: bytes) -> Optional[bytes]:
    """Concatenated gzip members -> joined plaintext (the CommonCrawl
    per-record-gzip layout). None on a corrupt stream."""
    out = []
    data = b
    while data:
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(data))
            out.append(d.flush())
        except zlib.error:
            return None
        if not d.eof:
            return None  # truncated member
        data = d.unused_data
    return b"".join(out)


def _parse_headers(block: bytes):
    """CRLF-separated Name: value lines -> ({lower_name: value},
    first_line). Tolerates bare-LF line ends."""
    headers = {}
    lines = block.replace(b"\r\n", b"\n").split(b"\n")
    first = lines[0] if lines else b""
    for ln in lines[1:]:
        if b":" not in ln:
            continue
        name, _, val = ln.partition(b":")
        headers[name.strip().lower().decode("latin-1")] = (
            val.strip().decode("latin-1"))
    return headers, first


def parse_warc(b: bytes) -> Optional[List[dict]]:
    """WARC file bytes (plain or per-record gzip members) -> list of
    records, each {warc_type, record_id, target_uri, date,
    content_type, http_status, http_content_type, body}: http_* and
    body come from parsing the HTTP response inside response records
    (body = payload bytes after the HTTP header block); non-response
    records carry their raw block as body with http_status None.
    None = quarantine (bad magic, torn framing, corrupt gzip)."""
    if b[:2] == b"\x1f\x8b":
        b = _gunzip_members(b)
        if b is None:
            return None
    if not b.startswith(b"WARC/"):
        return None
    records = []
    i = 0
    n = len(b)
    while i < n:
        # skip inter-record CRLFs
        while i < n and b[i:i + 2] == b"\r\n":
            i += 2
        if i >= n:
            break
        if not b.startswith(b"WARC/", i):
            return None  # torn framing
        hdr_end = b.find(b"\r\n\r\n", i)
        if hdr_end < 0:
            return None
        headers, _ = _parse_headers(b[i:hdr_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return None
        body_start = hdr_end + 4
        if body_start + length > n:
            return None  # truncated block
        block = b[body_start:body_start + length]
        rec = {
            "warc_type": headers.get("warc-type"),
            "record_id": headers.get("warc-record-id"),
            "target_uri": headers.get("warc-target-uri"),
            "date": headers.get("warc-date"),
            "content_type": headers.get("content-type"),
            "http_status": None,
            "http_content_type": None,
            "body": block,
        }
        if (rec["warc_type"] == "response"
                and block[:5] in (b"HTTP/",)):
            http_end = block.find(b"\r\n\r\n")
            if http_end >= 0:
                hh, status_line = _parse_headers(block[:http_end])
                parts = status_line.split()
                if len(parts) >= 2 and parts[1].isdigit():
                    rec["http_status"] = int(parts[1])
                rec["http_content_type"] = hh.get("content-type")
                rec["body"] = block[http_end + 4:]
        records.append(rec)
        i = body_start + length
    return records
