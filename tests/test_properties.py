"""Property tests (SURVEY §5.2): randomized inputs, reference as oracle.

* literal-string lexing == reference byte-for-byte
* content-stream tokenization == reference (operators + operands)
* filter encode->decode round-trips, including through the REFERENCE
  decoder (cross-implementation compatibility)
* span order invariant: extraction is a pure function of bytes
"""

import io

from hypothesis import example, given, settings, strategies as st

from sparkpdf.kernels import cos, filters
from sparkpdf.kernels.content import tokenize
from sparkpdf.testing import pdfgen
from sparkpdf.testing.reference import load_reference


# bytes that may appear inside a literal string once escaped
_raw_bytes = st.binary(min_size=0, max_size=64)


@given(_raw_bytes)
@settings(max_examples=200, deadline=None)
def test_literal_string_roundtrip(data):
    """esc_string(data) must lex back to exactly `data` in BOTH lexers
    (unless it BOM-sniffs to text, which both then decode the same)."""
    enc = b"(" + pdfgen.esc_string(data) + b")"
    mine, pos = cos.parse_literal_string(enc, 0)
    assert pos == len(enc)
    ref = load_reference()
    theirs = ref.generic.readStringFromStream(io.BytesIO(enc))
    if isinstance(mine, bytes):
        assert mine == data
        assert bytes(theirs) == data
    else:  # BOM path: both produced unicode
        assert isinstance(theirs, str)
        assert mine == str(theirs)


_octal = st.integers(min_value=0, max_value=511)


@given(st.lists(_octal, min_size=1, max_size=8))
@settings(max_examples=50, deadline=None)
@example(codes=[254, 255])      # BOM -> reference returns str
@example(codes=[254, 255, 0])   # BOM + torn UTF-16 -> reference raises
def test_octal_escape_overflow_parity(codes):
    """1-3 digit octal escapes with high-order overflow mod 256
    (generic.py:569-605). Octal sequences that assemble a UTF-16 BOM
    hit the reference's createStringObject decode: it returns a
    TextStringObject (str) for decodable payloads and RAISES
    UnicodeDecodeError on torn ones — the bytes comparison only
    holds on the non-BOM branch (hypothesis found the BOM examples
    in round 7; they are pinned above)."""
    enc = b"(" + b"".join(b"\\%o" % c for c in codes) + b")"
    mine, _ = cos.parse_literal_string(enc, 0)
    ref = load_reference()
    want = bytes(c % 256 for c in codes)
    if want[:2] == b"\xfe\xff":
        # valid-BOM strings decode to str at OUR parse layer (the
        # reference defers the same sniff to createStringObject); the
        # BOM branch parity is asserted in test_literal_string_parity
        try:
            assert not isinstance(mine, bytes) or mine == want
        except UnicodeDecodeError:  # malformed UTF-16: stays bytes
            pass
        if isinstance(mine, str):
            assert mine == want[2:].decode("utf-16-be")
        try:
            theirs = ref.generic.readStringFromStream(io.BytesIO(enc))
        except UnicodeDecodeError:
            # torn UTF-16 after a BOM: the reference raises; our
            # layer keeps bytes (quarantine-friendly) — both recorded
            assert isinstance(mine, bytes)
        else:
            assert str(theirs) == want[2:].decode("utf-16-be")
    else:
        assert mine == want
        theirs = ref.generic.readStringFromStream(io.BytesIO(enc))
        assert bytes(theirs) == want


_word = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz ABC0123()\\%",
    min_size=0,
    max_size=20,
)
_num = st.integers(min_value=-99999, max_value=99999)


@st.composite
def _content_stream(draw):
    """A random-but-valid content stream: text ops with string/number
    operands, graphics ops, comments."""
    parts = [b"BT /F1 12 Tf"]
    n = draw(st.integers(min_value=0, max_value=12))
    for _ in range(n):
        kind = draw(st.sampled_from(["Tj", "TJ", "T*", "'", '"', "cm", "%"]))
        if kind == "Tj":
            parts.append(b"(" + pdfgen.esc_string(draw(_word)) + b") Tj")
        elif kind == "'":
            parts.append(b"(" + pdfgen.esc_string(draw(_word)) + b") '")
        elif kind == '"':
            parts.append(
                b"%d %d (" % (draw(_num), draw(_num))
                + pdfgen.esc_string(draw(_word))
                + b') "'
            )
        elif kind == "TJ":
            els = []
            for _ in range(draw(st.integers(min_value=0, max_value=4))):
                if draw(st.booleans()):
                    els.append(b"(" + pdfgen.esc_string(draw(_word)) + b")")
                else:
                    els.append(b"%d" % draw(_num))
            parts.append(b"[" + b" ".join(els) + b"] TJ")
        elif kind == "T*":
            parts.append(b"T*")
        elif kind == "cm":
            parts.append(
                b"%d %d %d %d %d %d cm"
                % tuple(draw(_num) for _ in range(6))
            )
        else:
            parts.append(b"% a comment\n")
    parts.append(b"ET")
    return b" ".join(parts)


@given(_content_stream())
@settings(max_examples=100, deadline=None)
def test_tokenizer_parity(stream_bytes):
    """(operands, operator) sequences match the reference tokenizer."""
    mine = tokenize(stream_bytes)
    ref = load_reference()
    # build a minimal one-page doc around the content and re-lex with
    # the reference's ContentStream
    pdf = pdfgen.simple_pdf([stream_bytes])
    rd = ref.PdfFileReader(io.BytesIO(pdf), strict=False)
    page = rd.getPage(0)
    contents = page["/Contents"].getObject()
    cs = ref.generic.ContentStream(contents, rd)
    theirs = cs.operations
    assert len(mine) == len(theirs), (mine, theirs)
    for (m_ops, m_op), (t_ops, t_op) in zip(mine, theirs):
        assert m_op == t_op.decode("latin-1")
        assert len(m_ops) == len(t_ops)
        for mv, tv in zip(m_ops, t_ops):
            if isinstance(mv, bytes):
                assert bytes(tv) == mv
            elif isinstance(mv, str):
                assert str(tv) == mv
            elif isinstance(mv, float):
                assert abs(float(tv) - mv) < 1e-9
            else:
                assert tv == mv


@given(st.binary(min_size=0, max_size=4096))
@settings(max_examples=50, deadline=None)
def test_filter_cross_roundtrip(data):
    """Our encoders are decodable by BOTH decoders; chains included."""
    ref = load_reference()
    for enc_name, my_enc, ref_dec in (
        ("FlateDecode", pdfgen.flate_encode, ref.filters.FlateDecode.decode),
        ("LZWDecode", pdfgen.lzw_encode, ref.filters.LZWDecode.decode),
        ("ASCIIHexDecode", pdfgen.ahx_encode, ref.filters.ASCIIHexDecode.decode),
        ("ASCII85Decode", pdfgen.a85_encode, ref.filters.ASCII85Decode.decode),
    ):
        enc = my_enc(data)
        mine = filters._DECODERS["/" + enc_name](enc, None)
        assert mine == data, enc_name
        theirs = ref_dec(enc, None)
        assert bytes(theirs) == data, enc_name


@given(st.text(max_size=200), st.integers(min_value=0, max_value=3))
@settings(max_examples=50, deadline=None)
def test_extraction_is_pure(text, n_media):
    from sparkpdf.kernels import extract_doc

    pdf = pdfgen.doc_to_pdf(text, n_media=n_media, title="t")
    a = extract_doc(pdf)
    b = extract_doc(pdf)
    assert a == b
    assert a["error"] is None
    offsets = [s["offset"] for s in a["spans"]]
    assert offsets == sorted(offsets) == list(range(len(offsets)))


@given(_content_stream())
@settings(max_examples=100, deadline=None)
def test_op_list_roundtrip(stream_bytes):
    """C2c: serialize_ops is the exact inverse of tokenize at op-list
    granularity — tokenize(serialize(tokenize(x))) == tokenize(x)."""
    from sparkpdf.kernels.content import serialize_ops, tokenize

    ops = tokenize(stream_bytes)
    assert tokenize(serialize_ops(ops)) == ops


def test_op_roundtrip_framings():
    """Both inline-image EI framings + value types survive re-serialize."""
    from sparkpdf.kernels.content import serialize_ops, tokenize

    for stream in (
        b"q BI /W 1 /H 1 /BPC 8 /CS /G ID \x00\x01\x02 EI Q",   # EI-ws-Q
        b"BI /W 2 ID ab EI\n(x) Tj",                            # ws-EI
        b"BT (\xfe\xff\x00A\x00b) Tj ET",                       # BOM text
        b"<< /A [1 2.25 /n true null] >> foo (\\377\\n) Tj",
    ):
        ops = tokenize(stream)
        assert tokenize(serialize_ops(ops)) == ops


@given(st.binary(max_size=400))
@settings(max_examples=300, deadline=None)
def test_av_parsers_never_raise(data):
    """The A/V header parsers, sample lanes, frame lanes and their
    dispatchers must return dict/list-or-None on ANY bytes — fuzzed
    garbage, truncations, and magic-prefixed noise included
    (quarantine discipline: the feature kernels rely on it)."""
    from sparkpdf.kernels.media import (
        aiff_pcm_stats, au_pcm_stats, audio_info, avi_info,
        avi_mjpeg_frames, mkv_info, mp3_info, mp4_info, mp4_pcm_stats,
        pcm_stats, video_frames, video_info, wav_info,
    )

    for probe in (
        data,
        b"RIFF" + data,
        b"RIFF\x10\x00\x00\x00WAVE" + data,
        b"RIFF\x10\x00\x00\x00AVI " + data,
        b"FORM\x10\x00\x00\x00AIFF" + data,
        b"FORM\x10\x00\x00\x00AIFC" + data,
        b".snd" + data,
        data[:4] + b"ftyp" + data[4:],
        (8).to_bytes(4, "big") + b"ftyp" + data,
        b"\xff\xfb" + data,
        b"ID3" + data,
        b"\x1a\x45\xdf\xa3" + data,
    ):
        for fn in (wav_info, mp4_info, mp3_info, mkv_info, avi_info,
                   audio_info, video_info, aiff_pcm_stats, au_pcm_stats,
                   mp4_pcm_stats, pcm_stats, avi_mjpeg_frames,
                   video_frames):
            out = fn(probe)
            assert out is None or isinstance(out, (dict, list))


@given(st.binary(max_size=300))
@settings(max_examples=200, deadline=None)
def test_jpeg_decoder_never_raises(data):
    """decode_jpeg returns array-or-None on ANY bytes — garbage,
    SOI-prefixed noise, and corrupted valid files included."""
    from sparkpdf.kernels.jpeg import decode_jpeg, jpeg_mean_luma

    for probe in (data, b"\xff\xd8" + data, b"\xff\xd8\xff\xdb" + data):
        out = decode_jpeg(probe)
        assert out is None or out.dtype.name == "uint8"
        jpeg_mean_luma(probe)


@given(st.integers(0, 2**32 - 1))
@settings(max_examples=25, deadline=None)
def test_jpeg_valid_file_bitflip_quarantines(seed):
    """Flip one byte inside a VALID jpeg's scan: decode must return
    None or a well-formed array, never raise."""
    import numpy as np

    from sparkpdf.kernels.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    ss = ("444", "422", "420")[seed % 3]
    ri = (0, 1, 3)[(seed // 3) % 3]
    if seed % 2:
        img = rng.integers(0, 256, (24, 16, 3), dtype=np.uint8)
    else:
        img = rng.integers(0, 256, (8, 16), dtype=np.uint8)
    enc = bytearray(encode_jpeg(img, subsampling=ss, restart_interval=ri))
    pos = int(rng.integers(2, len(enc) - 2))
    enc[pos] ^= int(rng.integers(1, 256))
    out = decode_jpeg(bytes(enc))
    assert out is None or out.dtype.name == "uint8"


@given(
    st.lists(st.integers(-32768, 32767), min_size=1, max_size=400),
    st.sampled_from([8, 16, 24, 32]),
)
@settings(max_examples=120, deadline=None)
def test_wav_pcm_stats_matches_python_reference(values, bits):
    """wav_pcm_stats equals a direct Python computation of the
    normalized rms/peak/mean for every PCM width on arbitrary sample
    values (round 6 — the closed-form corpus only exercises square
    waves; this pins the general decode + exact accumulation)."""
    import math
    import struct

    from sparkpdf.kernels.media import wav_pcm_stats
    from sparkpdf.testing.imagegen import make_wav

    if bits == 8:
        xs = [max(-128, min(127, v // 256)) for v in values]
        data = bytes((x + 128) & 0xFF for x in xs)
        full = 128.0
    elif bits == 16:
        xs = values
        data = struct.pack(f"<{len(xs)}h", *xs)
        full = 32768.0
    elif bits == 24:
        xs = [v * 199 for v in values]  # spread into the 24-bit range
        data = b"".join(x.to_bytes(3, "little", signed=True) for x in xs)
        full = float(1 << 23)
    else:
        xs = [v * 65519 for v in values]
        data = struct.pack(f"<{len(xs)}i", *xs)
        full = float(1 << 31)
    got = wav_pcm_stats(make_wav(8000, 0, bits=bits, data=data))
    n = len(xs)
    ss_sum = sum(x * x for x in xs)
    expect = {
        "n_samples": n,
        "rms": round(math.sqrt(ss_sum / n) / full, 6),
        "peak": round(max(abs(x) for x in xs) / full, 6),
        "mean": round(sum(xs) / n / full, 6),
    }
    assert got == expect


@given(
    st.lists(st.integers(-32768, 32767), min_size=2, max_size=300),
    st.sampled_from(["auto", "verbatim", "fixed1", "fixed2", "fixed4",
                     "lpc1"]),
    st.sampled_from([16, 24]),
    st.sampled_from([0, 1, 2]),
)
@settings(max_examples=80, deadline=None)
def test_flac_round_trip_lossless(values, subframe, bits, porder):
    """FLAC is lossless: encode(arbitrary samples) -> decode recovers
    them EXACTLY for every subframe type, depth, and partition order
    (round 7 — pins the rice coder, predictors, and bit I/O on
    non-square waveforms the closed-form corpus never exercises)."""
    from sparkpdf.kernels.media import flac_pcm_samples
    from sparkpdf.testing.imagegen import encode_flac

    xs = [v << (bits - 16) for v in values]
    blob = encode_flac(xs, 8000, bits=bits, subframe=subframe,
                       partition_order=porder, block_size=64)
    dec = flac_pcm_samples(blob)
    assert dec is not None
    x, got_bits, ch, rate = dec
    assert list(x) == xs and got_bits == bits and ch == 1 and rate == 8000


@given(st.integers(0, 2**31 - 1))
@settings(max_examples=120, deadline=None)
@example(seed=1_616_460_464)  # LPC recurrence overflowed int64
def test_flac_corruption_fuzz(seed):
    """Random byte flips in a valid FLAC must never raise: decode
    either still succeeds or quarantines to None (the CRC-8/16
    verification catches frame corruption; STREAMINFO flips may
    change metadata but must still never escape the None contract)."""
    import numpy as np

    from sparkpdf.kernels.media import flac_pcm_stats
    from sparkpdf.testing.imagegen import encode_flac

    rng = np.random.default_rng(seed)
    n = int(rng.integers(2, 128)) * 2
    xs = [int(v) for v in rng.integers(-32768, 32768, n)]
    sub = ["auto", "verbatim", "fixed2", "lpc1"][int(rng.integers(0, 4))]
    full = bytearray(encode_flac(xs, 8000, subframe=sub, block_size=64))
    for _ in range(int(rng.integers(1, 5))):
        full[int(rng.integers(0, len(full)))] ^= int(rng.integers(1, 256))
    out = flac_pcm_stats(bytes(full))
    assert out is None or isinstance(out, dict)


@given(st.integers(0, 2**31 - 1))
@settings(max_examples=150, deadline=None)
def test_wav_pcm_stats_corruption_fuzz(seed):
    """Random byte flips in a valid WAV must never raise: the kernel
    either still decodes (stats dict) or quarantines (None) — same
    contract as every other media kernel."""
    import struct

    import numpy as np

    from sparkpdf.kernels.media import wav_pcm_stats
    from sparkpdf.testing.imagegen import make_wav

    rng = np.random.default_rng(seed)
    n = int(rng.integers(2, 64)) * 2
    xs = rng.integers(-32768, 32768, n)
    full = bytearray(
        make_wav(8000, 0, bits=16,
                 data=struct.pack(f"<{n}h", *map(int, xs)))
    )
    for _ in range(int(rng.integers(1, 5))):
        full[int(rng.integers(0, len(full)))] ^= int(rng.integers(1, 256))
    out = wav_pcm_stats(bytes(full))
    assert out is None or set(out) == {"n_samples", "rms", "peak", "mean"}


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(0, 1200), min_size=1, max_size=8),
    st.integers(2, 255),
    st.integers(0, 2**32 - 1),
)
def test_ogg_lacing_round_trip(lengths, max_segs, seed):
    """Property (round 7): any packet sequence — including empty
    packets and exact 255-multiples, whose lacing must end in a 0
    terminator — survives page packing at ANY segment budget and
    reassembles byte-identically through the kernel's _ogg_packets
    (CRCs verified, continuation flags enforced). The packer here is
    an independent in-test implementation of RFC 3533, so muxer and
    demuxer bugs cannot cancel out."""
    import numpy as np

    from sparkpdf.kernels.media import _ogg_packets
    from sparkpdf.testing.imagegen import _ogg_crc

    rng = np.random.default_rng(seed)
    packets = [bytes(rng.integers(0, 256, n, dtype=np.uint8))
               for n in lengths]

    out = bytearray()
    seq = 0
    segs: list = []
    data = bytearray()
    page_cont = False

    def flush():
        nonlocal segs, data, seq, page_cont
        hdr = bytearray(
            b"OggS" + bytes([0, 0x01 if page_cont else 0])
            + (0).to_bytes(8, "little") + (1).to_bytes(4, "little")
            + seq.to_bytes(4, "little") + bytes(4)
            + bytes([len(segs)]) + bytes(segs))
        page = bytes(hdr) + bytes(data)
        hdr[22:26] = _ogg_crc(page).to_bytes(4, "little")
        out.extend(bytes(hdr) + bytes(data))
        seq += 1
        segs, data = [], bytearray()

    for pk in packets:
        lacing = [255] * (len(pk) // 255) + [len(pk) % 255]
        off = 0
        for li, lv in enumerate(lacing):
            if len(segs) >= max_segs:
                mid = li > 0
                flush()
                page_cont = mid
            segs.append(lv)
            data += pk[off:off + lv]
            off += lv
    flush()

    assert _ogg_packets(bytes(out)) == packets
    # a single flipped byte anywhere must quarantine: the CRC is a
    # linear code, so any one-byte corruption has a nonzero syndrome
    # (structure flips fail earlier) — never silently-wrong packets
    flip = bytearray(out)
    flip[int(rng.integers(0, len(flip)))] ^= 0xFF
    assert _ogg_packets(bytes(flip)) is None
