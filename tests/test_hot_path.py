"""Exactness of the multi-page hot path without the reference:

* the memoised CMap lookup equals the rule-by-rule matcher;
* the tokenizer's inline string tokens equal the string parsers;
* the run-wise Up predictor equals a per-row PNG unfilter, drops a
  trailing partial row and rejects unknown filter types;
* LZW round-trips across its width bumps and clear codes;
* a document's pages share one compiled ToUnicode CMap;
* the worker's zip-directory hook re-reads only changed archives, and
  every worker has it, RDD-path ones included;
* no worker imports pandas, and pyarrow's conversions are unchanged.
"""

import importlib
import json
import os
import random
import subprocess
import sys
import zipfile
import zipimport

import pytest
from hypothesis import example, given, settings, strategies as st

from sparkpdf.kernels import cos, filters, fonts
from sparkpdf.kernels.cmap import _shift_be, parse_cmap
from sparkpdf.kernels.content import _SCAN, tokenize
from sparkpdf.kernels.extract import doc_text, extract_doc
from sparkpdf import worker_daemon
from sparkpdf.operators import _kernel
from sparkpdf.testing import pdfgen
from sparkpdf.worker_daemon import _invalidate_if_changed


# --- CMap: memoised code2text == rule-by-rule matcher -------------------------

def _rule_by_rule(cm, code: bytes) -> str:
    """The matcher before memoisation: bfchar by code length, then the
    first bfrange whose bytes all lie in range, else U+FFFD per byte."""
    out = bytearray()
    i, n = 0, len(code)
    lengths = cm.codelengths or [1, 2]
    while i < n:
        for ln in lengths:
            hit = cm.fchars.get(code[i : i + ln])
            if hit is not None:
                out += hit
                i += ln
                break
        else:
            for lo, hi, dst in cm.franges:
                ln = len(lo)
                if i + ln > n:
                    continue
                if all(lo[k] <= code[i + k] <= hi[k] for k in range(ln)):
                    offset = code[i + ln - 1] - lo[ln - 1]
                    if isinstance(dst, list):
                        d = dst[offset] if offset < len(dst) else None
                        if isinstance(d, bytes):
                            out += d
                    else:
                        out += _shift_be(dst, offset)
                    i += ln
                    break
            else:
                out += b"\xff\xfd"
                i += 1
    return out.decode("utf-16-be", "replace")


def _hex(b: bytes) -> bytes:
    return b"<" + b.hex().encode() + b">"


# UTF-16BE destinations: BMP chars and surrogate pairs
_dst = st.one_of(
    st.integers(0x20, 0xD7FF).map(lambda c: chr(c).encode("utf-16-be")),
    st.integers(0x10000, 0x10FFFF).map(lambda c: chr(c).encode("utf-16-be")),
    st.just(b"\xd8\x3d"),  # a lone high surrogate, shifted by bfrange
)


@st.composite
def _cmap_program(draw):
    """A ToUnicode program: some codespace (1-byte, 2-byte, mixed or
    none), bfchars that may overlap bfranges, array destinations."""
    widths = draw(st.sampled_from([[], [1], [2], [1, 2]]))
    parts = [b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap"]
    if widths:
        parts.append(b"%d begincodespacerange" % len(widths))
        if widths == [1, 2]:
            parts.append(b"<00> <7f> <8000> <ffff>")
        else:
            w = widths[0]
            parts.append(_hex(b"\x00" * w) + b" " + _hex(b"\xff" * w))
        parts.append(b"endcodespacerange")
    codes = []
    for _ in range(draw(st.integers(0, 6))):
        w = draw(st.sampled_from(widths or [1, 2]))
        codes.append(draw(st.binary(min_size=w, max_size=w)))
    if codes:
        parts.append(b"%d beginbfchar" % len(codes))
        for c in codes:
            parts.append(_hex(c) + b" " + _hex(draw(_dst)))
        parts.append(b"endbfchar")
    ranges = []
    for _ in range(draw(st.integers(0, 4))):
        w = draw(st.sampled_from(widths or [1, 2]))
        lo = draw(st.binary(min_size=w, max_size=w))
        span = draw(st.integers(0, 40))
        hi = lo[:-1] + bytes([min(255, lo[-1] + span)])
        if draw(st.booleans()):
            dst = b"[" + b" ".join(
                _hex(d) for d in draw(st.lists(_dst, max_size=span + 2))
            ) + b"]"
        else:
            dst = _hex(draw(_dst))
        ranges.append(_hex(lo) + b" " + _hex(hi) + b" " + dst)
    if ranges:
        parts.append(b"%d beginbfrange" % len(ranges))
        parts += ranges
        parts.append(b"endbfrange")
    parts.append(b"endcmap CMapName currentdict /CMap defineresource pop end end")
    return b"\n".join(parts), codes


@given(_cmap_program(), st.lists(st.binary(max_size=24), min_size=1,
                                 max_size=4), st.data())
@settings(max_examples=300, deadline=None)
def test_memoised_code2text_equals_rule_by_rule(program, strings, data):
    prog, codes = program
    cm = parse_cmap(prog)
    # strings built from the mapped codes too, some with a truncated
    # trailing byte
    if codes:
        picked = data.draw(st.lists(st.sampled_from(codes), max_size=8))
        s = b"".join(picked)
        strings = strings + [s, s[:-1]]
    for code in strings + strings:  # the second round hits the memo
        assert cm.code2text(code) == _rule_by_rule(cm, code)


def test_empty_bfchar_code_is_ignored():
    """A non-string bfchar source once mapped the empty code, which
    matched without advancing: code2text never returned."""
    cm = parse_cmap(b"begincmap 1 beginbfchar 12 <0041> endbfchar endcmap")
    assert cm.fchars == {}
    assert cm.code2text(b"ab") == "��"


# --- tokenizer: inline string tokens == parse_hex/literal_string --------------

@st.composite
def _hex_token(draw):
    digits = draw(st.binary(max_size=16)).hex()
    if draw(st.booleans()):
        digits = digits.upper()
    if draw(st.booleans()) and digits:
        digits = digits[:-1]  # odd length: parse_hex_string pads '0'
    if draw(st.booleans()) and digits:
        cut = draw(st.integers(0, len(digits)))
        digits = digits[:cut] + draw(st.sampled_from([" ", "\n", "\t"])) + digits[cut:]
    return b"<" + digits.encode() + b">"


_plain = st.binary(max_size=8).map(
    lambda b: bytes(c for c in b if c not in b"()\\"))
_escape = st.sampled_from([b"\\n", b"\\(", b"\\)", b"\\\\", b"\\101",
                           b"\\7", b"\\\n", b"\\\r\n", b"\\t"])


def _literal_body(depth):
    piece = st.one_of(_plain, _escape)
    if depth:
        piece = st.one_of(piece, _literal_body(depth - 1).map(
            lambda b: b"(" + b + b")"))
    return st.lists(piece, max_size=5).map(b"".join)


_literal_token = st.one_of(
    _literal_body(2).map(lambda b: b"(" + b + b")"),
    # UTF-16BE BOM: make_string decodes it to str
    st.text(max_size=6).map(
        lambda t: b"(" + pdfgen.esc_string(b"\xfe\xff" + t.encode("utf-16-be"))
        + b")"),
)


@given(_hex_token())
@example(b"<>")
@example(b"<4142>")
@example(b"<414>")
@settings(max_examples=300, deadline=None)
def test_tokenize_hex_string_equals_parser(tok):
    want, end = cos.parse_hex_string(tok, 0)
    assert end == len(tok)
    ops = tokenize(b"BT " + tok + b" Tj ET")
    assert ops[1] == ([want], "Tj")
    assert type(ops[1][0][0]) is type(want)


@given(_literal_token)
@example(b"()")
@example(b"(plain text)")
@example(b"(a (nested) b)")
@example(b"(\xfe\xff\x00A)")
@settings(max_examples=300, deadline=None)
def test_tokenize_literal_string_equals_parser(tok):
    want, end = cos.parse_literal_string(tok, 0)
    assert end == len(tok)
    ops = tokenize(b"BT " + tok + b" Tj ET")
    assert ops[1] == ([want], "Tj")
    assert type(ops[1][0][0]) is type(want)


def test_simple_strings_take_the_inline_tokens():
    assert _SCAN.match(b" <00410042>").lastgroup == "hexstr"
    assert _SCAN.match(b" (plain)").lastgroup == "litstr"
    assert _SCAN.match(b" <0041 0042>").lastgroup == "hex"
    assert _SCAN.match(b" (a\\)b)").lastgroup == "lit"
    assert _SCAN.match(b" <<").lastgroup == "dict"


# --- PNG predictors: Up runs == per-row unfilter ----------------------------

def _unfilter_rows(data: bytes, bpp: int, rowlen: int) -> bytes:
    """PNG unfilter, one row and one byte at a time."""
    stride = rowlen + 1
    prev = [0] * rowlen
    out = bytearray()
    for r in range(len(data) // stride):
        ft = data[r * stride]
        row = list(data[r * stride + 1 : (r + 1) * stride])
        for c in range(rowlen):
            left = row[c - bpp] if c >= bpp else 0
            up = prev[c]
            ul = prev[c - bpp] if c >= bpp else 0
            if ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) >> 1
            elif ft == 4:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else up if pb <= pc else ul
            else:
                pred = 0
            row[c] = (row[c] + pred) & 0xFF
        out += bytes(row)
        prev = row
    return bytes(out)


@given(st.integers(1, 12), st.sampled_from([1, 3, 4]),
       st.lists(st.sampled_from([0, 1, 2, 2, 2, 3, 4]), max_size=24),
       st.randoms(use_true_random=False))
@settings(max_examples=200, deadline=None)
def test_up_runs_equal_per_row_unfilter(columns, colors, ftypes, rnd):
    rowlen = columns * colors
    data = b"".join(bytes([ft]) + rnd.randbytes(rowlen) for ft in ftypes)
    parms = {"/Predictor": 12, "/Columns": columns, "/Colors": colors,
             "/BitsPerComponent": 8}
    assert filters._apply_predictor(data, parms) == _unfilter_rows(
        data, colors, rowlen)


@given(st.integers(1, 8),
       st.lists(st.sampled_from([0, 1, 2, 2, 2, 3, 4]), max_size=16),
       st.integers(0, 24), st.randoms(use_true_random=False))
@settings(max_examples=100, deadline=None)
def test_predictor_drops_a_trailing_partial_row(columns, ftypes, tail, rnd):
    rowlen = columns * 3
    data = b"".join(bytes([ft]) + rnd.randbytes(rowlen) for ft in ftypes)
    partial = rnd.randbytes(tail % (rowlen + 1))  # shorter than a row
    parms = {"/Predictor": 12, "/Columns": columns, "/Colors": 3,
             "/BitsPerComponent": 8}
    assert filters._apply_predictor(data + partial, parms) == _unfilter_rows(
        data, 3, rowlen)


def test_predictor_rejects_an_unknown_filter_type():
    # rowlen 2: an Up run, a Sub row, then filter type 7
    data = bytes([2, 1, 2, 2, 3, 4, 1, 5, 6, 7, 8, 9])
    parms = {"/Predictor": 12, "/Columns": 2}
    with pytest.raises(cos.PdfError, match="unknown PNG filter type 7$"):
        filters._apply_predictor(data, parms)


# --- LZW round trip across width bumps and clear codes -----------------------

@given(st.integers(0, 2**32 - 1), st.sampled_from([0, 1, 300, 2000, 9000]),
       st.sampled_from([4, 16, 256]))
@example(0, 9000, 256)  # low redundancy: passes 12 bits, CLEAR, restarts
@example(3037, 9000, 16)  # last code lands on a width bump: STOP widens
@settings(max_examples=40, deadline=None)
def test_lzw_round_trip(seed, n, alphabet):
    rnd = random.Random(seed)
    data = bytes(rnd.randrange(alphabet) for _ in range(n))
    enc = pdfgen.lzw_encode(data)
    assert filters.lzw_decode(enc, None) == data


# --- fonts: one CMap per document --------------------------------------------

_TOUNICODE = (
    b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap\n"
    b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
    b"1 beginbfrange <0020> <007E> <0020> endbfrange\n"
    b"endcmap CMapName currentdict /CMap defineresource pop end end"
)


def _shared_type0_pdf(n_pages: int) -> bytes:
    """n_pages pages, each with its own /Resources naming one shared
    Type0 font with a ToUnicode CMap."""
    b = pdfgen.PdfBuilder()
    cmap = b.add_stream(b"", _TOUNICODE)
    font = b.add(b"<< /Type /Font /Subtype /Type0 /BaseFont /Shared-CID"
                 b" /Encoding /Identity-H /ToUnicode %d 0 R >>" % cmap)
    pages_num = len(b.bodies) + 2 * n_pages + 1
    kids = []
    for i in range(n_pages):
        text = "page %d" % i
        content = b.add_stream(b"", b"BT /F2 11 Tf <" + text.encode(
            "utf-16-be").hex().encode() + b"> Tj ET")
        kids.append(b.add(
            b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R"
            b" /Resources << /Font << /F2 %d 0 R >> >> >>"
            % (pages_num, content, font)))
    assert b.add(b"<< /Type /Pages /Kids [" + b" ".join(
        b"%d 0 R" % k for k in kids) + b"] /Count %d >>" % n_pages) == pages_num
    root = b.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_num)
    return b.build(root)


def test_pages_sharing_a_font_parse_its_cmap_once(monkeypatch):
    calls = []
    real = fonts.parse_cmap
    monkeypatch.setattr(fonts, "parse_cmap",
                        lambda data: calls.append(1) or real(data))
    res = extract_doc(_shared_type0_pdf(8))
    assert res["error"] is None and res["n_pages"] == 8
    assert doc_text(res["spans"]) == "".join("page %d\n" % i for i in range(8))
    assert len(calls) == 1


# --- COS name cache -----------------------------------------------------------

def test_name_cache_clears_when_full(monkeypatch):
    monkeypatch.setattr(cos, "_NAME_CACHE", {})
    for i in range(cos._NAME_CACHE_MAX):
        cos._make_name(b"/U%d" % i)
    assert len(cos._NAME_CACHE) == cos._NAME_CACHE_MAX
    assert cos._make_name(b"/Type") == "/Type"
    assert cos._NAME_CACHE == {b"/Type": "/Type"}


# --- worker zip-directory hook -----------------------------------------------

def _write_zip(path, modules: dict):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.mark.skipif(worker_daemon._LAZY_ZIP_INVALIDATION,
                    reason="Python >= 3.13 re-reads zip directories lazily")
def test_zip_hook_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "hookmods.zip"
    _write_zip(archive, {"hookmod_a.py": "X = 1\n"})
    # restores whatever invalidate_caches is installed now
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))
    try:
        assert importlib.import_module("hookmod_a").X == 1
        assert worker_daemon.install_zip_hook()
        assert zipimport.zipimporter.invalidate_caches is _invalidate_if_changed

        def ours():
            return sum(p == str(archive) for p in reads)

        importlib.invalidate_caches()  # first re-read stamps the archive
        first = ours()
        for _ in range(3):
            importlib.invalidate_caches()
        assert ours() == first  # unchanged: not re-read

        _write_zip(archive, {"hookmod_a.py": "X = 1\n",
                             "hookmod_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert ours() == first + 1
        assert importlib.import_module("hookmod_b").Y == 2
    finally:
        for name in ("hookmod_a", "hookmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_zip_hook_is_a_no_op_with_lazy_invalidation(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon._eager_invalidate)
    monkeypatch.setattr(worker_daemon, "_LAZY_ZIP_INVALIDATION", True)
    assert worker_daemon.install_zip_hook() is False
    assert (zipimport.zipimporter.invalidate_caches
            is worker_daemon._eager_invalidate)


def test_worker_reports_zip_hook_installed(spark):
    def hooked(i):
        import zipimport

        from sparkpdf.worker_daemon import _invalidate_if_changed

        yield i, zipimport.zipimporter.invalidate_caches is _invalidate_if_changed

    rows = _kernel.map_kernel(spark.range(2), ["id"], hooked,
                              "id long, hooked boolean").collect()
    assert len(rows) == 2
    assert all(r.hooked == (sys.version_info < (3, 13)) for r in rows)


def test_rdd_path_worker_reports_zip_hook_installed(spark):
    """Workers that never run an Arrow batch (plain RDD tasks) have the
    hook too: the session's worker daemon installs it before it forks."""
    def hooked(i):
        import zipimport

        from sparkpdf.worker_daemon import _invalidate_if_changed

        return i, zipimport.zipimporter.invalidate_caches is _invalidate_if_changed

    got = spark.sparkContext.parallelize(range(4), 4).map(hooked).collect()
    assert sorted(i for i, _ in got) == [0, 1, 2, 3]
    assert [h for _, h in got] == [sys.version_info < (3, 13)] * 4


def test_workers_never_import_pandas(spark):
    def pandas_loaded(i):
        import sys

        yield i, "pandas" in sys.modules

    # the first job builds an output batch in each worker; the second
    # asks the same (reused) workers
    for _ in range(2):
        rows = _kernel.map_kernel(spark.range(0, 8, 1, 4), ["id"],
                                  pandas_loaded,
                                  "id long, pandas boolean").collect()
    assert len(rows) == 8
    assert [r.pandas for r in rows] == [False] * 8


# --- pyarrow's pandas probe ---------------------------------------------------

# run in a fresh interpreter, since the test process may hold pandas;
# argv[1] "hidden" settles the probe first, "imported" imports pandas
# first, which is what pyarrow sees without the helper
_PROBE = r"""
import json, sys
import pyarrow as pa
from sparkpdf.operators._kernel import settle_pandas_probe

if sys.argv[1] == "hidden":
    settle_pandas_probe()
else:
    import pandas
hooks = list(sys.meta_path)
settle_pandas_probe()
span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                  ("media_ref", pa.string()), ("offset", pa.int32())])
spans = [[{"kind": "text", "text": "Hello\n", "media_ref": None, "offset": 0},
          {"kind": "image", "text": float("nan"), "media_ref": "img/0",
           "offset": 6}],
         [], None]
out = {
    "second_call_inert": sys.meta_path == hooks,
    "nan_nulls": pa.array([1.0, float("nan"), None], pa.float64(),
                          from_pandas=True).null_count,
    "spans": pa.array(spans, pa.list_(span), from_pandas=True).to_pylist(),
}
out["pandas"] = "pandas" in sys.modules  # after the conversions
import pandas as pd
stamps = pd.Series(pd.to_datetime(["2024-01-02"]))
out["before_to_pandas"] = str(pa.array(stamps).type)
pa.table({"x": [1]}).to_pandas()
out["after_to_pandas"] = str(pa.array(stamps).type)
print(json.dumps(out))
"""


def _probe(mode: str) -> dict:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run([sys.executable, "-c", _PROBE, mode], cwd=root,
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout)


def test_settled_probe_keeps_pandas_out_and_conversions_unchanged():
    hidden, imported = _probe("hidden"), _probe("imported")
    assert hidden["pandas"] is False and imported["pandas"] is True
    assert hidden["second_call_inert"] and imported["second_call_inert"]
    assert hidden["nan_nulls"] == imported["nan_nulls"] == 2
    assert hidden["spans"] == imported["spans"]
    assert hidden["spans"][0][1]["text"] is None  # NaN -> null, nested
    # the documented side effect, and its end at the first to_pandas()
    assert hidden["before_to_pandas"] == "timestamp[us]"
    assert hidden["after_to_pandas"] == "timestamp[ns]"
    assert imported["before_to_pandas"] == "timestamp[ns]"
