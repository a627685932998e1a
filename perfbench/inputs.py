"""Seeded inputs for the three workloads, cached as parquet.

Only the engine's pure per-document builders are used
(`pdfgen.doc_to_pdf`, `PdfBuilder`, `encode_stream`, `image_whale_pdf`,
`chain_bytes`, `html.synthesize_interleaved_html`), never the
`synthesize_*_corpus` Spark operators, so the bytes do not change when
those operators move.

Every document carries the span sequence it must extract to, known by
construction: the `extract_spans` / `interleaved_extract` contracts of
`__spark_entry__.oracle_sql()` for `doc_to_pdf` and
`synthesize_interleaved_html` documents, and the text each `pdf_paged`
page was built from. Expected spans are stored beside the input, in a
file the engine never reads.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import time

import pyarrow as pa
import pyarrow.parquet as pq

# bump when any generator below changes, so stale caches are not reused
GENERATOR_VERSION = 6

# documents per workload; sized so one warm pass on local[2] is mostly
# kernel work (pdf_*) or a whole checkpointed job (mixed_job)
N_DOCS = {"pdf_text": 9000, "pdf_paged": 28, "mixed_job": 1000}

# one file per slot, document d in file d % N_FILES: the scan is one
# task per slot, and the seeded draws below keep those tasks equal
N_FILES = 2

# total work must not depend on the seed, only its order and text:
# (page count, content filter) pairs are a seeded shuffle of a fixed
# multiset, shared by documents 2k and 2k+1 so both files hold the same
# work; whale sizes are a seeded shuffle of fixed sizes
PAGE_COUNTS = range(8, 25)
CONTENT_FILTERS = (["FlateDecode"], ["FlatePred12"], ["FlateDecode"],
                   ["LZWDecode"], ["FlateDecode"])
MIXED_WHALE_MB = (1.5, 2.0, 2.5, 3.0)  # image PDFs above MIXED_BIG_DOC_BYTES
MIXED_BIG_DOC_BYTES = 1 << 20  # passed to plan_salted_partitions
MIXED_POISON_SHARE = 0.005

_VOCAB = (
    "spark arrow kernel page stream filter xref object span offset "
    "document parquet shuffle stage task executor driver partition "
    "batch font glyph cmap unicode trailer catalog outline annotation "
    "the of and to in is for on with as by at from that this be are "
    "data extract content token operator image media form field "
    "(paren) back\\slash café naïve über 3.14 42 2024 "
    "a<b x&y \"quoted\" it's tab\tsep"
).split(" ")

_NONPRINTABLE = re.compile(r"[^ -~]")
_WS = re.compile(r"\s+")

PDF_COLUMNS = {"pdf_text": "pdf_bytes", "pdf_paged": "pdf_bytes",
               "mixed_job": "payload"}


def _words(rng: random.Random, n: int) -> list:
    return [rng.choice(_VOCAB) for _ in range(n)]


def _text(rng: random.Random, n_words: int) -> str:
    return " ".join(_words(rng, n_words))


def _printable(text: str) -> str:
    return _NONPRINTABLE.sub("?", text)


def pdf_text_doc(rng: random.Random, d: int):
    """doc_to_pdf contract: one text span (sanitized text + newline)
    then one media span 'img00'."""
    from sparkpdf.testing.pdfgen import doc_to_pdf

    text = " ".join([_text(rng, rng.randint(50, 62))] * 8)
    expected = [("text", _printable(text) + "\n", None),
                ("media_ref", None, "img00")]
    return doc_to_pdf(text, title=f"doc-{d}"), expected, 1


def html_doc(rng: random.Random, d: int):
    """synthesize_interleaved_html contract: lead paragraph (sanitized,
    whitespace collapsed), one image, one closing paragraph."""
    from sparkpdf.kernels.html import synthesize_interleaved_html

    text = _text(rng, rng.randint(40, 120))
    expected = [
        ("text", _WS.sub(" ", _printable(text)).strip() + "\n", None),
        ("media_ref", None, f"img-{d}"),
        ("text", f"closing paragraph {d}\n", None),
    ]
    return synthesize_interleaved_html(d, text).encode("utf-8"), expected, 1


def mixed_pdf_doc(rng: random.Random, d: int):
    from sparkpdf.testing.pdfgen import doc_to_pdf

    text = _text(rng, rng.randint(40, 120))
    expected = [("text", _printable(text) + "\n", None),
                ("media_ref", None, "img00")]
    return doc_to_pdf(text, title=f"doc-{d}"), expected, 1


# --- pdf_paged: multi-page documents with mixed fonts and filters -----------

_TOUNICODE = b"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
/CMapName /Bench-UCS def
/CMapType 2 def
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
1 beginbfrange
<0020> <007E> <0020>
endbfrange
endcmap
CMapName currentdict /CMap defineresource pop
end
end
"""

def _winansi_line(rng: random.Random):
    """A Tj of a WinAnsi literal string (latin-1 bytes decode as cp1252)."""
    from sparkpdf.testing.pdfgen import esc_string

    words = [w.replace("\t", " ") for w in _words(rng, rng.randint(5, 11))]
    text = " ".join(words)
    return b"(" + esc_string(text) + b") Tj", text + "\n"


def _type0_line(rng: random.Random):
    """A TJ array of 2-byte codes through the ToUnicode CMap: kerning
    below -80 separates words, smaller kerning splits a word and adds
    nothing to the text."""
    words = [_printable(w) for w in _words(rng, rng.randint(5, 11))]
    parts = []
    for i, word in enumerate(words):
        if i:
            parts.append(b"-%d" % rng.randint(180, 320))
        cut = rng.randint(0, len(word))
        pieces = [word[:cut], word[cut:]] if 0 < cut < len(word) else [word]
        for j, piece in enumerate(pieces):
            if j:
                parts.append(b"-%d" % rng.randint(5, 60))
            parts.append(b"<" + piece.encode("utf-16-be").hex().encode() + b">")
    return b"[" + b" ".join(parts) + b"] TJ", " ".join(words) + "\n"


def pdf_paged_doc(rng: random.Random, n_pages: int, filters: list):
    """n_pages pages in a two-level page tree, xref stream, per-page
    content streams under one filter chain, a WinAnsi font and a Type0
    font with a ToUnicode CMap. Expected: one text span per Tj/TJ."""
    from sparkpdf.testing.pdfgen import FONT_WINANSI, PdfBuilder, encode_stream

    b = PdfBuilder()
    f1 = b.add(FONT_WINANSI)
    cmap = b.add_stream(b"", _TOUNICODE)
    f2 = b.add(b"<< /Type /Font /Subtype /Type0 /BaseFont /Bench-CID"
               b" /Encoding /Identity-H /ToUnicode %d 0 R >>" % cmap)
    expected = []
    page_nums = []
    for _ in range(n_pages):
        ops = [b"BT"]
        font = None
        for k in range(rng.randint(18, 30)):
            use_type0 = rng.random() < 0.5
            want = b"/F2" if use_type0 else b"/F1"
            if want != font:
                ops.append(want + b" 11 Tf")
                font = want
            ops.append(b"0 -13 Td" if k else b"72 740 Td")
            op, text = _type0_line(rng) if use_type0 else _winansi_line(rng)
            ops.append(op)
            expected.append(("text", text, None))
        ops.append(b"ET")
        raw, extra = encode_stream(b"\n".join(ops), filters)
        content = b.add_stream(extra, raw)
        page_nums.append(b.add(
            b"<< /Type /Page /Parent {p} 0 R /Contents %d 0 R >>" % content))
    kids = []
    for i in range(0, n_pages, 8):
        group = page_nums[i:i + 8]
        node = b.add(b"<< /Type /Pages /Parent {p} 0 R /Kids ["
                     + b" ".join(b"%d 0 R" % n for n in group)
                     + b"] /Count %d >>" % len(group))
        for n in group:
            b.bodies[n - 1] = b.bodies[n - 1].replace(b"{p}", b"%d" % node)
        kids.append(node)
    top = b.add(b"<< /Type /Pages /Kids ["
                + b" ".join(b"%d 0 R" % n for n in kids)
                + b"] /Count %d /MediaBox [0 0 612 792] /Resources"
                  b" << /Font << /F1 %d 0 R /F2 %d 0 R >> >> >>"
                % (n_pages, f1, f2))
    for n in kids:
        b.bodies[n - 1] = b.bodies[n - 1].replace(b"{p}", b"%d" % top)
    root = b.add(b"<< /Type /Catalog /Pages %d 0 R >>" % top)
    return b.build(root, xref_style="stream"), expected, n_pages


# --- mixed_job extras: whales and poison -----------------------------------

def whale_doc(rng: random.Random, d: int, size: int):
    from sparkpdf.testing.pdfgen import image_whale_pdf

    expected = [("text", f"image whale {d}\n", None),
                ("media_ref", None, "imgW")]
    return image_whale_pdf(d, size), expected, 1


def poison_doc(rng: random.Random, d: int):
    """Unrecoverable PDFs that must quarantine: random bytes behind a PDF
    header (no catalog), or a page whose only content stream names a
    filter no reader implements."""
    from sparkpdf.testing.pdfgen import HEADER, PdfBuilder, chain_bytes

    if d % 2:
        return HEADER + chain_bytes(b"poison-%d" % d,
                                    rng.randint(2048, 8192)), None, 0
    b = PdfBuilder()
    content = b.add_stream(b"/Filter /BenchUnknownDecode",
                           chain_bytes(b"poison-%d" % d, 512))
    page = b.add(b"<< /Type /Page /Parent {p} 0 R /Contents %d 0 R >>"
                 % content)
    pages = b.add(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page)
    b.bodies[page - 1] = b.bodies[page - 1].replace(b"{p}", b"%d" % pages)
    return b.build(b.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages)), None, 1


# --- corpus assembly and cache ----------------------------------------------

def _corpus(workload: str, seed: int):
    """Yields (doc_id, payload, expected, n_pages, kind)."""
    rng = random.Random(f"{workload}:{seed}")
    n = N_DOCS[workload]
    if workload == "pdf_text":
        for d in range(n):
            yield (d, *pdf_text_doc(rng, d), "pdf")
    elif workload == "pdf_paged":
        shapes = [(PAGE_COUNTS[i % len(PAGE_COUNTS)],
                   CONTENT_FILTERS[i % len(CONTENT_FILTERS)])
                  for i in range(-(-n // 2))]
        rng.shuffle(shapes)
        for d in range(n):
            yield (d, *pdf_paged_doc(rng, *shapes[d // 2]), "pdf")
    else:
        n_poison = max(2, round(n * MIXED_POISON_SHARE))
        sizes = [int(mb * (1 << 20)) for mb in MIXED_WHALE_MB]
        rng.shuffle(sizes)
        special = rng.sample(range(n), len(sizes) + n_poison)
        whales = dict(zip(special, sizes))
        poison = set(special[len(sizes):])
        for d in range(n):
            if d in whales:
                yield (d, *whale_doc(rng, d, whales[d]), "whale")
            elif d in poison:
                yield (d, *poison_doc(rng, d), "poison")
            elif d % 2:
                yield (d, *html_doc(rng, d), "html")
            else:
                yield (d, *mixed_pdf_doc(rng, d), "pdf")


class Inputs:
    """One workload's generated corpus on disk: `data_path` is the only
    thing the engine reads; expected spans stay in this process."""

    def __init__(self, workload: str, seed: int, work_dir: str):
        self.workload = workload
        self.seed = seed
        self.payload_col = PDF_COLUMNS[workload]
        self.dir = os.path.join(
            work_dir, "inputs",
            f"{workload}-seed{seed}-v{GENERATOR_VERSION}")
        self.data_path = os.path.join(self.dir, "data")
        self.expected_path = os.path.join(self.dir, "expected.parquet")
        self.meta_path = os.path.join(self.dir, "meta.json")

    def ensure(self) -> "Inputs":
        if not os.path.exists(self.meta_path):
            self._build()
        with open(self.meta_path) as f:
            self.meta = json.load(f)
        exp = pq.read_table(self.expected_path).to_pydict()
        self.expected = {
            doc_id: (None if e is None else [tuple(s) for s in json.loads(e)],
                     n_pages, kind)
            for doc_id, e, n_pages, kind in zip(
                exp["doc_id"], exp["expected"], exp["n_pages"], exp["kind"])
        }
        return self

    def _build(self):
        t0 = time.perf_counter()
        os.makedirs(self.dir, exist_ok=True)
        ids, payloads, exps, pages, kinds = [], [], [], [], []
        digest = hashlib.sha256()
        for d, payload, expected, n_pages, kind in _corpus(self.workload,
                                                           self.seed):
            doc_id = str(d)
            digest.update(doc_id.encode() + b"\0" + payload)
            ids.append(doc_id)
            payloads.append(payload)
            exps.append(None if expected is None else json.dumps(expected))
            pages.append(n_pages)
            kinds.append(kind)
        os.makedirs(self.data_path, exist_ok=True)
        for i in range(N_FILES):
            pq.write_table(
                pa.table({"doc_id": pa.array(ids[i::N_FILES], pa.string()),
                          self.payload_col: pa.array(payloads[i::N_FILES],
                                                     pa.binary())}),
                os.path.join(self.data_path, f"part-{i}.parquet"))
        pq.write_table(
            pa.table({"doc_id": ids, "expected": exps,
                      "n_pages": pa.array(pages, pa.int32()),
                      "kind": kinds}),
            self.expected_path)
        meta = {
            "workload": self.workload,
            "seed": self.seed,
            "generator_version": GENERATOR_VERSION,
            "docs": len(ids),
            "input_bytes": sum(len(p) for p in payloads),
            "input_mb": sum(len(p) for p in payloads) / 1e6,
            "pages": sum(pages),
            "whales": kinds.count("whale"),
            "poison": kinds.count("poison"),
            "html": kinds.count("html"),
            "input_sha256": digest.hexdigest(),
            "generate_s": time.perf_counter() - t0,
        }
        with open(self.meta_path, "w") as f:
            json.dump(meta, f)

    def payloads(self):
        """(doc_id, payload, kind) in input order, for the kernel replay."""
        t = pq.read_table(self.data_path)  # files in name order
        kinds = {k: v[2] for k, v in self.expected.items()}
        for doc_id, payload in zip(t.column("doc_id").to_pylist(),
                                   t.column(self.payload_col).to_pylist()):
            yield doc_id, payload, kinds[doc_id]
