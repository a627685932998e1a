"""Deterministic tiny image builders for the media_dims oracle and
header-parser tests. make_png emits a fully valid file; make_jpeg emits
a structurally valid header chain (SOI/APP0/DQT/SOF0/EOI — pixel data
out of scope, matching the reference's undecoded DCT passthrough).

The end of the module holds the test-data encoders for the kernels'
decoders: progressive and lossless JPEG (`encode_jpeg_progressive`,
`encode_jpeg_lossless`) and CCITT fax (`g4_encode`, `g3_encode_1d`,
`g3_encode_2d`, `pack_rows`). They import the shared tables and
bit-level helpers from kernels/jpeg.py and kernels/ccitt_g4.py."""

from __future__ import annotations

import struct
import zlib
from typing import List

import numpy as np

from ..kernels.ccitt_g4 import (
    _BLACK_MAKEUP,
    _BLACK_TERM,
    _EXT_MAKEUP,
    _MODE_HORIZ,
    _MODE_PASS,
    _MODE_V,
    _WHITE_MAKEUP,
    _WHITE_TERM,
    _transitions,
)
from ..kernels.jpeg import (
    AC_CHROMA,
    AC_LUMA,
    DC_CHROMA,
    DC_LUMA,
    QUANT_CHROMA,
    QUANT_LUMA,
    _BitWriter,
    _canonical_codes,
    _jpeg_headers,
    _magnitude,
    _mcu_block_indices,
    _pad_edge,
    _prepare_components,
    _T,
    _ZZ,
    encode_jpeg,
)


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    raw = tag + payload
    return struct.pack(">I", len(payload)) + raw + struct.pack(
        ">I", zlib.crc32(raw) & 0xFFFFFFFF
    )


def make_png(width: int, height: int) -> bytes:
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)  # 8-bit RGB
    scanlines = b"".join(
        b"\x00" + bytes((x * 3 + y) % 256 for x in range(width * 3))
        for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scanlines))
        + _png_chunk(b"IEND", b"")
    )


def make_jpeg(width: int, height: int) -> bytes:
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    dqt = b"\x00" + bytes(range(1, 65))
    sof0 = (
        struct.pack(">BHHB", 8, height, width, 3)
        + b"\x01\x22\x00\x02\x11\x00\x03\x11\x00"
    )

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    return (
        b"\xff\xd8"
        + seg(0xE0, app0)
        + seg(0xDB, dqt)
        + seg(0xC0, sof0)
        + b"\xff\xd9"
    )


def make_webp(width: int, height: int, kind: str = "vp8") -> bytes:
    """WebP header fixtures for all three container layouts ('vp8'
    lossy frame header with the 9D 01 2A start code, 'vp8l' lossless
    14-bit bitfields, 'vp8x' extended 24-bit canvas); payload bytes
    past the dims are deterministic filler (the engine's WebP support
    is header-only by design)."""
    if kind == "vp8":
        body = (b"\x00\x00\x00" + b"\x9d\x01\x2a"
                + width.to_bytes(2, "little")
                + height.to_bytes(2, "little") + b"\x00" * 8)
        chunk = b"VP8 " + len(body).to_bytes(4, "little") + body
    elif kind == "vp8l":
        bits = (width - 1) | ((height - 1) << 14)
        body = b"\x2f" + bits.to_bytes(4, "little") + b"\x00" * 8
        chunk = b"VP8L" + len(body).to_bytes(4, "little") + body
    else:  # vp8x
        body = (b"\x00\x00\x00\x00"
                + (width - 1).to_bytes(3, "little")
                + (height - 1).to_bytes(3, "little"))
        chunk = b"VP8X" + len(body).to_bytes(4, "little") + body
    return (b"RIFF" + (4 + len(chunk)).to_bytes(4, "little")
            + b"WEBP" + chunk)


def _j2k_codestream(width: int, height: int, n_components: int,
                    bit_depth: int) -> bytes:
    """Minimal JPEG 2000 codestream: SOC + SIZ (Rsiz 0, one tile the
    size of the image, XRsiz/YRsiz 1) + EOC. No entropy-coded data —
    the engine's JP2 support is header-only by design (it mirrors the
    reference's /JPXDecode passthrough)."""
    body = (
        struct.pack(">H", 0)                      # Rsiz
        + struct.pack(">II", width, height)       # Xsiz, Ysiz
        + struct.pack(">II", 0, 0)                # XOsiz, YOsiz
        + struct.pack(">II", width, height)       # XTsiz, YTsiz
        + struct.pack(">II", 0, 0)                # XTOsiz, YTOsiz
        + struct.pack(">H", n_components)
        + bytes([bit_depth - 1, 1, 1]) * n_components
    )
    return (
        b"\xff\x4f"                               # SOC
        + b"\xff\x51" + struct.pack(">H", len(body) + 2) + body  # SIZ
        + b"\xff\xd9"                             # EOC
    )


def _jp2_box(typ: bytes, payload: bytes, xl: bool = False) -> bytes:
    if xl:  # XLBox: LBox=1 + 8-byte extended length (incl. 16-byte hdr)
        return (b"\x00\x00\x00\x01" + typ
                + struct.pack(">Q", len(payload) + 16) + payload)
    return struct.pack(">I", len(payload) + 8) + typ + payload


def make_jp2(width: int, height: int, n_components: int = 1,
             bit_depth: int = 8, kind: str = "jp2") -> bytes:
    """JPEG 2000 fixtures for the three layouts the sniffer covers:
    'j2k' raw codestream (SOC+SIZ), 'jp2' full container (signature +
    ftyp + jp2h/ihdr + jp2c codestream), 'jp2xl' container whose jp2c
    uses the XLBox extended-length form. Header-only by design —
    /JPXDecode is a passthrough filter in the reference too."""
    cs = _j2k_codestream(width, height, n_components, bit_depth)
    if kind == "j2k":
        return cs
    sig = b"\x00\x00\x00\x0cjP  \r\n\x87\n"
    ftyp = _jp2_box(b"ftyp", b"jp2 " + struct.pack(">I", 0) + b"jp2 ")
    bpc = 255 if n_components > 1 and bit_depth == 0 else bit_depth - 1
    ihdr = _jp2_box(
        b"ihdr",
        struct.pack(">IIH", height, width, n_components)
        + bytes([bpc, 7, 0, 0]),
    )
    jp2h = _jp2_box(b"jp2h", ihdr)
    jp2c = _jp2_box(b"jp2c", cs, xl=(kind == "jp2xl"))
    return sig + ftyp + jp2h + jp2c


def make_png_gray(pixels) -> bytes:
    """8-bit grayscale PNG from an (h, w) uint8 array (filter-0 rows,
    one IDAT) — planted values decode losslessly, unlike make_png's
    fixed gradient."""
    a = np.asarray(pixels, dtype=np.uint8)
    h, w = a.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit gray
    scanlines = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scanlines))
        + _png_chunk(b"IEND", b"")
    )


def make_tga(pixels, img_type: int = 2, rle: bool = False,
             topdown: bool = False,
             palette: "bytes | None" = None) -> bytes:
    """Truevision TGA: (h, w) gray -> type 3 (or type 1 palettized
    when img_type=1, over `palette` = 3-byte BGR entries, default
    gray-identity), (h, w, 3) RGB -> type 2 as BGR. `rle` writes the
    run-length forms (9/10/11) with a run packet per homogeneous row
    span (max 128) — real packets, not raw-only."""
    a = np.asarray(pixels, dtype=np.uint8)
    h, w = a.shape[:2]
    if a.ndim == 3:
        img_type, bpp = 2, 24
        raster_rows = [a[y, :, ::-1].reshape(-1) for y in range(h)]
    elif img_type == 1:
        bpp = 8
        raster_rows = [a[y] for y in range(h)]
    else:
        img_type, bpp = 3, 8
        raster_rows = [a[y] for y in range(h)]
    cm = b""
    cm_spec = struct.pack("<HHB", 0, 0, 0)
    cm_type = 0
    if img_type == 1:
        cm = palette if palette is not None else b"".join(
            bytes((i, i, i)) for i in range(256))
        cm_type = 1
        cm_spec = struct.pack("<HHB", 0, len(cm) // 3, 24)
    if not topdown:
        raster_rows = raster_rows[::-1]
    psize = bpp // 8
    if rle:
        img_type += 8
        body = bytearray()
        for row in raster_rows:
            px = bytes(row.tobytes())
            i = 0
            n = len(px) // psize
            while i < n:
                run = 1
                first = px[i * psize:(i + 1) * psize]
                while (i + run < n and run < 128
                       and px[(i + run) * psize:(i + run + 1) * psize]
                       == first):
                    run += 1
                if run > 1:
                    body += bytes((0x80 | (run - 1),)) + first
                else:
                    body += b"\x00" + first
                i += run
        raster = bytes(body)
    else:
        raster = b"".join(bytes(r.tobytes()) for r in raster_rows)
    header = (bytes((0, cm_type, img_type)) + cm_spec
              + struct.pack("<HHHHBB", 0, 0, w, h, bpp,
                            0x20 if topdown else 0))
    return header + cm + raster


def make_ico(pixels, png: bool = False) -> bytes:
    """Windows ICO with ONE image: `png=True` embeds an 8-bit gray
    PNG (make_png_gray); otherwise a classic DIB entry — 24-bit BGR
    XOR plane (bottom-up, doubled biHeight) followed by an all-zero
    (fully opaque) 1-bit AND mask, rows padded to 4 bytes."""
    a = np.asarray(pixels, dtype=np.uint8)
    h, w = a.shape[:2]
    if png:
        img = make_png_gray(a if a.ndim == 2 else a[..., 0])
    else:
        if a.ndim == 2:
            a = np.repeat(a[..., None], 3, axis=2)
        rowbytes = (w * 24 + 31) // 32 * 4
        rows = a[:, :, ::-1].reshape(h, w * 3)
        pad = np.zeros((h, rowbytes - rows.shape[1]), np.uint8)
        xor = np.concatenate([rows, pad], axis=1)[::-1].tobytes()
        and_rowbytes = (w + 31) // 32 * 4
        and_mask = b"\x00" * (and_rowbytes * h)
        bih = struct.pack("<IiihhIIiiII", 40, w, 2 * h, 1, 24, 0,
                          len(xor) + len(and_mask), 0, 0, 0, 0)
        img = bih + xor + and_mask
    entry = struct.pack(
        "<BBBBHHII", w if w < 256 else 0, h if h < 256 else 0,
        0, 0, 1, 24, len(img), 22)
    return b"\x00\x00\x01\x00\x01\x00" + entry + img


def make_bmp(pixels, bits: int = 24, topdown: bool = False,
             palette: "bytes | None" = None,
             rle: bool = False) -> bytes:
    """Windows BMP (BITMAPFILEHEADER + BITMAPINFOHEADER): `pixels` is
    an (h, w) gray or (h, w, 3) RGB uint8 array. bits=24 writes BGR
    rows; bits=8 writes palettized rows over `palette` (256 BGRA
    quads; default gray-identity). Rows pad to 4 bytes and store
    bottom-up unless `topdown` (negative biHeight). `rle` (8-bit,
    bottom-up only) writes BI_RLE8: encoded runs split at 255, odd
    bottom-up rows emit 3..255-length spans in ABSOLUTE mode (with
    its word-alignment pad) so both packet kinds really occur,
    end-of-line after every row, end-of-bitmap at the end."""
    a = np.asarray(pixels, dtype=np.uint8)
    h, w = a.shape[:2]
    rowbytes = (w * bits + 31) // 32 * 4
    if rle:
        assert bits == 8 and not topdown
        pal = palette if palette is not None else b"".join(
            bytes((i, i, i, 0)) for i in range(256))
        stream = bytearray()
        for r, row in enumerate(a[::-1]):  # bottom-up row order
            x = 0
            while x < w:
                run = 1
                while (x + run < w and run < 255
                       and row[x + run] == row[x]):
                    run += 1
                if r % 2 == 1 and 3 <= run <= 255:
                    stream += bytes((0, run)) + row[x:x + run].tobytes()
                    if run & 1:
                        stream += b"\x00"  # absolute-mode word pad
                else:
                    stream += bytes((run, row[x]))
                x += run
            stream += b"\x00\x00"  # end of line
        stream += b"\x00\x01"  # end of bitmap
        raster = bytes(stream)
        bih = struct.pack(
            "<IiihhIIiiII", 40, w, h, 1, 8, 1,
            len(raster), 2835, 2835, 256, 0)
        off = 14 + 40 + len(pal)
        bfh = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
        return bfh + bih + pal + raster
    if bits == 24:
        if a.ndim == 2:
            a = np.repeat(a[..., None], 3, axis=2)
        rows = a[:, :, ::-1].reshape(h, w * 3)  # BGR
        pal = b""
    else:
        rows = a.reshape(h, w)
        pal = palette if palette is not None else b"".join(
            bytes((i, i, i, 0)) for i in range(256))
    pad = np.zeros((h, rowbytes - rows.shape[1]), np.uint8)
    rows = np.concatenate([rows, pad], axis=1)
    if not topdown:
        rows = rows[::-1]
    raster = rows.tobytes()
    bih = struct.pack(
        "<IiihhIIiiII", 40, w, -h if topdown else h, 1, bits, 0,
        len(raster), 2835, 2835, len(pal) // 4, 0)
    off = 14 + 40 + len(pal)
    bfh = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
    return bfh + bih + pal + raster


def make_pnm(pixels, maxval: int = 255) -> bytes:
    """Binary netpbm: (h, w) -> P5 graymap, (h, w, 3) -> P6 pixmap;
    samples are 1 byte at maxval < 256, else 2 bytes big-endian. A
    comment line in the header exercises the tolerant parse."""
    a = np.asarray(pixels)
    h, w = a.shape[:2]
    kind = b"P6" if a.ndim == 3 else b"P5"
    if maxval > 255:
        raster = a.astype(">u2").tobytes()
    else:
        raster = a.astype(np.uint8).tobytes()
    return (kind + b"\n# synthetic fixture\n"
            + f"{w} {h}\n{maxval}\n".encode() + raster)


def make_gif(width: int, height: int) -> bytes:
    return (
        b"GIF89a"
        + struct.pack("<HH", width, height)
        + b"\x00\x00\x00"
        + b"\x3b"
    )


def make_wav(sample_rate: int, duration_ms: int, channels: int = 1,
             bits: int = 8, data: bytes | None = None,
             fmt_code: int = 1) -> bytes:
    """Minimal valid RIFF/WAVE: fmt + data chunks. `data=None` fills
    a silence payload sized from duration; a bytes payload embeds
    verbatim (round 6: sample-level decode fixtures). `fmt_code`:
    1 = PCM, 3 = IEEE float, 6 = A-law, 7 = mu-law."""
    if data is None:
        data = b"\x00" * (
            sample_rate * duration_ms // 1000 * channels * (bits // 8)
        )
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + fmt_code.to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * channels * bits // 8).to_bytes(4, "little")
        + (channels * bits // 8).to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    chunk = b"data" + len(data).to_bytes(4, "little") + data
    if len(data) & 1:
        chunk += b"\x00"  # RIFF chunks pad to even offsets
    body = b"WAVE" + fmt + chunk
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def make_wav_adpcm(sample_rate: int, channels: int, fmt_code: int,
                   block_align: int, samples_per_block: int,
                   blocks: bytes) -> bytes:
    """RIFF/WAVE wrapping pre-built ADPCM block bytes. Writes the
    spec-correct extended fmt chunk: IMA (17) gets cbSize=2 +
    wSamplesPerBlock; MS (2) gets cbSize=32 + wSamplesPerBlock +
    wNumCoef + the 7 standard coefficient pairs."""
    if fmt_code == 2:
        coefs = ((256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
                 (460, -208), (392, -232))
        ext = (samples_per_block.to_bytes(2, "little")
               + (7).to_bytes(2, "little")
               + b"".join(c1.to_bytes(2, "little", signed=True)
                          + c2.to_bytes(2, "little", signed=True)
                          for c1, c2 in coefs))
    else:
        ext = samples_per_block.to_bytes(2, "little")
    avg_bps = sample_rate * block_align // max(1, samples_per_block)
    body = (fmt_code.to_bytes(2, "little")
            + channels.to_bytes(2, "little")
            + sample_rate.to_bytes(4, "little")
            + avg_bps.to_bytes(4, "little")
            + block_align.to_bytes(2, "little")
            + (4).to_bytes(2, "little")
            + len(ext).to_bytes(2, "little") + ext)
    fmt = b"fmt " + len(body).to_bytes(4, "little") + body
    chunk = b"data" + len(blocks).to_bytes(4, "little") + blocks
    if len(blocks) & 1:
        chunk += b"\x00"
    wave = b"WAVE" + fmt + chunk
    return b"RIFF" + len(wave).to_bytes(4, "little") + wave


def ima_adpcm_block(predictors, step_indices, body: bytes) -> bytes:
    """One IMA ADPCM block: a 4-byte header per channel (int16
    predictor = the block's first output frame, uint8 step index,
    reserved 0) followed by the nibble body (caller interleaves
    4-byte groups per channel, low nibble first)."""
    hdr = b"".join(
        int(p).to_bytes(2, "little", signed=True)
        + bytes([int(ix), 0])
        for p, ix in zip(predictors, step_indices)
    )
    return hdr + body


def _ieee_extended_80(rate: int) -> bytes:
    """Integer -> 80-bit IEEE extended (AIFF COMM sample rate): sign 0,
    15-bit biased exponent, 64-bit mantissa with explicit integer bit."""
    if rate <= 0:
        return bytes(10)
    l = rate.bit_length() - 1
    exp = 16383 + l
    mant = rate << (63 - l)
    return exp.to_bytes(2, "big") + mant.to_bytes(8, "big")


def make_aiff(sample_rate: int, channels: int, bits: int,
              data: bytes, compression: bytes | None = None) -> bytes:
    """Minimal valid AIFF: FORM/AIFF with a COMM chunk (channels,
    frames, bits, 80-bit extended rate) and an SSND chunk (offset 0,
    block size 0) wrapping big-endian signed PCM `data`. With
    `compression` (e.g. b'sowt', b'ulaw') the form becomes AIFF-C and
    COMM grows the compression fourcc + pstring name."""
    frames = len(data) // max(1, channels * (bits // 8))
    comm_body = (channels.to_bytes(2, "big")
                 + frames.to_bytes(4, "big")
                 + bits.to_bytes(2, "big")
                 + _ieee_extended_80(sample_rate))
    form = b"AIFF"
    if compression is not None:
        form = b"AIFC"
        comm_body += compression + b"\x00\x00"  # empty pstring + pad
    comm = b"COMM" + len(comm_body).to_bytes(4, "big") + comm_body
    ssnd = (b"SSND" + (8 + len(data)).to_bytes(4, "big")
            + bytes(8) + data)
    if len(data) & 1:
        ssnd += b"\x00"  # IFF chunks pad to even offsets
    body = form + comm + ssnd
    return b"FORM" + len(body).to_bytes(4, "big") + body


def make_au(sample_rate: int, channels: int, encoding: int,
            data: bytes) -> bytes:
    """Minimal valid Sun/NeXT .au: '.snd' magic + 24-byte big-endian
    header (offset, data size, encoding, rate, channels) + data."""
    return (b".snd"
            + (24).to_bytes(4, "big")
            + len(data).to_bytes(4, "big")
            + encoding.to_bytes(4, "big")
            + sample_rate.to_bytes(4, "big")
            + channels.to_bytes(4, "big")
            + data)


def ms_adpcm_block(coef_indices, deltas, samples1, samples2,
                   body: bytes) -> bytes:
    """One MS ADPCM block: per-channel coefficient index bytes, then
    int16 initial deltas, sample1s, sample2s (sample2 is emitted
    first), then the nibble body (high nibble first)."""
    return (bytes(int(i) for i in coef_indices)
            + b"".join(int(d).to_bytes(2, "little", signed=True)
                       for d in deltas)
            + b"".join(int(s).to_bytes(2, "little", signed=True)
                       for s in samples1)
            + b"".join(int(s).to_bytes(2, "little", signed=True)
                       for s in samples2)
            + body)


def _box(typ: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + typ + body


def make_mp4(width: int, height: int, duration_ms: int,
             timescale: int = 1000) -> bytes:
    """Minimal valid ISO-BMFF: ftyp + moov(mvhd + trak(tkhd)); no mdat
    (header-only probing is the point)."""
    dur = duration_ms * timescale // 1000
    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00"                 # version 0 + flags
        + b"\x00" * 8                        # ctime, mtime
        + timescale.to_bytes(4, "big")
        + dur.to_bytes(4, "big")
        + b"\x00\x01\x00\x00"                # rate 1.0
        + b"\x01\x00" + b"\x00" * 10         # volume + reserved
        + (b"\x00\x01\x00\x00" + b"\x00" * 12) * 2 + b"\x40\x00\x00\x00"
        + b"\x00" * 24                       # unity matrix tail + predef
        + (2).to_bytes(4, "big")             # next track id
    )
    tkhd = _box(
        b"tkhd",
        b"\x00\x00\x00\x07"                  # version 0, enabled flags
        + b"\x00" * 8                        # ctime, mtime
        + (1).to_bytes(4, "big")             # track id
        + b"\x00" * 4                        # reserved
        + dur.to_bytes(4, "big")
        + b"\x00" * 16                       # reserved/layer/group/volume
        + (b"\x00\x01\x00\x00" + b"\x00" * 12) * 2 + b"\x40\x00\x00\x00"
        + (width << 16).to_bytes(4, "big")
        + (height << 16).to_bytes(4, "big")
    )
    moov = _box(b"moov", mvhd + _box(b"trak", tkhd))
    ftyp = _box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isommp42")
    return ftyp + moov


def make_mp4_mjpeg(width: int, height: int, frames: list,
                   timescale: int = 1000, fps: int = 25,
                   samples_per_chunk: int = 2) -> bytes:
    """Real ISO-BMFF MJPEG movie: ftyp + mdat (samples contiguous) +
    moov with a full sample table — stsd 'jpeg' VisualSampleEntry,
    stts, stsc (multi-entry when the last chunk is short), stsz,
    stco. moov goes LAST so the absolute chunk offsets are known.
    samples_per_chunk < len(frames) exercises real sample-to-chunk
    resolution in the demuxer."""
    nf = len(frames)
    ftyp = _box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isommp42")
    mdat = _box(b"mdat", b"".join(frames))
    base = len(ftyp) + 8  # first sample's absolute offset
    # chunk layout: groups of samples_per_chunk, last may be short
    spc = max(1, samples_per_chunk)
    chunk_sizes = [min(spc, nf - i) for i in range(0, nf, spc)]
    offsets = []
    pos = base
    si = 0
    for cs in chunk_sizes:
        offsets.append(pos)
        for _ in range(cs):
            pos += len(frames[si])
            si += 1
    # stsc runs: (first_chunk, samples_per_chunk, desc_index)
    stsc_entries = []
    for ci, cs in enumerate(chunk_sizes, start=1):
        if not stsc_entries or stsc_entries[-1][1] != cs:
            stsc_entries.append((ci, cs))
    dur = nf * timescale // fps
    entry = _box(b"jpeg",
                 bytes(6) + (1).to_bytes(2, "big")   # data ref
                 + bytes(16)                          # pre_defined
                 + width.to_bytes(2, "big")
                 + height.to_bytes(2, "big")
                 + b"\x00\x48\x00\x00" * 2            # 72 dpi
                 + bytes(4)
                 + (1).to_bytes(2, "big")             # frame count
                 + bytes(32)                          # compressor
                 + (24).to_bytes(2, "big")
                 + (0xFFFF).to_bytes(2, "big"))
    stsd = _box(b"stsd", b"\x00\x00\x00\x00" + (1).to_bytes(4, "big")
                + entry)
    stts = _box(b"stts", b"\x00\x00\x00\x00" + (1).to_bytes(4, "big")
                + nf.to_bytes(4, "big")
                + (timescale // fps).to_bytes(4, "big"))
    stsc = _box(b"stsc", b"\x00\x00\x00\x00"
                + len(stsc_entries).to_bytes(4, "big")
                + b"".join(fc.to_bytes(4, "big")
                           + cs.to_bytes(4, "big")
                           + (1).to_bytes(4, "big")
                           for fc, cs in stsc_entries))
    stsz = _box(b"stsz", b"\x00\x00\x00\x00" + (0).to_bytes(4, "big")
                + nf.to_bytes(4, "big")
                + b"".join(len(f).to_bytes(4, "big") for f in frames))
    stco = _box(b"stco", b"\x00\x00\x00\x00"
                + len(offsets).to_bytes(4, "big")
                + b"".join(o.to_bytes(4, "big") for o in offsets))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = _box(b"vmhd", b"\x00\x00\x00\x01" + bytes(8))
    dinf = _box(b"dinf", _box(b"dref", b"\x00\x00\x00\x00"
                              + (1).to_bytes(4, "big")
                              + _box(b"url ", b"\x00\x00\x00\x01")))
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdhd = _box(b"mdhd", b"\x00\x00\x00\x00" + bytes(8)
                + timescale.to_bytes(4, "big") + dur.to_bytes(4, "big")
                + b"\x55\xc4\x00\x00")
    hdlr = _box(b"hdlr", b"\x00\x00\x00\x00" + bytes(4) + b"vide"
                + bytes(12) + b"MJPEG\x00")
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00" + b"\x00" * 8
        + timescale.to_bytes(4, "big") + dur.to_bytes(4, "big")
        + b"\x00\x01\x00\x00" + b"\x01\x00" + b"\x00" * 10
        + (b"\x00\x01\x00\x00" + b"\x00" * 12) * 2 + b"\x40\x00\x00\x00"
        + b"\x00" * 24 + (2).to_bytes(4, "big"))
    tkhd = _box(
        b"tkhd",
        b"\x00\x00\x00\x07" + b"\x00" * 8 + (1).to_bytes(4, "big")
        + b"\x00" * 4 + dur.to_bytes(4, "big") + b"\x00" * 16
        + (b"\x00\x01\x00\x00" + b"\x00" * 12) * 2 + b"\x40\x00\x00\x00"
        + (width << 16).to_bytes(4, "big")
        + (height << 16).to_bytes(4, "big"))
    moov = _box(b"moov", mvhd + _box(b"trak", tkhd + mdia))
    return ftyp + mdat + moov


def make_mp4_pcm(sample_rate: int, channels: int, fourcc: bytes,
                 data: bytes, frames_per_sample: int = 64,
                 samples_per_chunk: int = 2,
                 timescale: int = 1000) -> bytes:
    """Real ISO-BMFF PCM audio movie (QuickTime uncompressed sample
    entries 'sowt'/'twos'/'in24'/'raw '): ftyp + mdat + moov with a
    'soun' handler track and a full sample table — the PCM stream is
    split into table samples of `frames_per_sample` frames each, so
    the demuxer exercises real stsc/stco/stsz resolution (short last
    chunk included)."""
    width = {b"sowt": 2, b"twos": 2, b"raw ": 1, b"in24": 3}[fourcc]
    bpf = width * channels
    ftyp = _box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isommp42")
    mdat = _box(b"mdat", data)
    base = len(ftyp) + 8
    step = frames_per_sample * bpf
    sizes = [min(step, len(data) - i) for i in range(0, len(data), step)]
    nf = len(sizes)
    spc = max(1, samples_per_chunk)
    chunk_sizes = [min(spc, nf - i) for i in range(0, nf, spc)]
    offsets = []
    pos = base
    si = 0
    for cs in chunk_sizes:
        offsets.append(pos)
        for _ in range(cs):
            pos += sizes[si]
            si += 1
    stsc_entries = []
    for ci, cs in enumerate(chunk_sizes, start=1):
        if not stsc_entries or stsc_entries[-1][1] != cs:
            stsc_entries.append((ci, cs))
    total_frames = len(data) // bpf
    dur = total_frames * timescale // max(1, sample_rate)
    entry = _box(fourcc,
                 bytes(6) + (1).to_bytes(2, "big")   # data ref index
                 + bytes(8)                           # version/rev/vendor
                 + channels.to_bytes(2, "big")
                 + (width * 8).to_bytes(2, "big")
                 + bytes(4)                           # compression/packet
                 + (sample_rate << 16).to_bytes(4, "big"))
    stsd = _box(b"stsd", b"\x00\x00\x00\x00" + (1).to_bytes(4, "big")
                + entry)
    stts = _box(b"stts", b"\x00\x00\x00\x00" + (1).to_bytes(4, "big")
                + nf.to_bytes(4, "big")
                + max(1, frames_per_sample).to_bytes(4, "big"))
    stsc = _box(b"stsc", b"\x00\x00\x00\x00"
                + len(stsc_entries).to_bytes(4, "big")
                + b"".join(fc.to_bytes(4, "big") + cs.to_bytes(4, "big")
                           + (1).to_bytes(4, "big")
                           for fc, cs in stsc_entries))
    stsz = _box(b"stsz", b"\x00\x00\x00\x00" + (0).to_bytes(4, "big")
                + nf.to_bytes(4, "big")
                + b"".join(s.to_bytes(4, "big") for s in sizes))
    stco = _box(b"stco", b"\x00\x00\x00\x00"
                + len(offsets).to_bytes(4, "big")
                + b"".join(o.to_bytes(4, "big") for o in offsets))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    smhd = _box(b"smhd", b"\x00\x00\x00\x00" + bytes(4))
    dinf = _box(b"dinf", _box(b"dref", b"\x00\x00\x00\x00"
                              + (1).to_bytes(4, "big")
                              + _box(b"url ", b"\x00\x00\x00\x01")))
    minf = _box(b"minf", smhd + dinf + stbl)
    mdhd = _box(b"mdhd", b"\x00\x00\x00\x00" + bytes(8)
                + timescale.to_bytes(4, "big") + dur.to_bytes(4, "big")
                + b"\x55\xc4\x00\x00")
    hdlr = _box(b"hdlr", b"\x00\x00\x00\x00" + bytes(4) + b"soun"
                + bytes(12) + b"PCM\x00")
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00" + b"\x00" * 8
        + timescale.to_bytes(4, "big") + dur.to_bytes(4, "big")
        + b"\x00\x01\x00\x00" + b"\x01\x00" + b"\x00" * 10
        + (b"\x00\x01\x00\x00" + b"\x00" * 12) * 2 + b"\x40\x00\x00\x00"
        + b"\x00" * 24 + (2).to_bytes(4, "big"))
    tkhd = _box(
        b"tkhd",
        b"\x00\x00\x00\x07" + b"\x00" * 8 + (1).to_bytes(4, "big")
        + b"\x00" * 4 + dur.to_bytes(4, "big") + b"\x00" * 16
        + (b"\x00\x01\x00\x00" + b"\x00" * 12) * 2 + b"\x40\x00\x00\x00"
        + bytes(8))
    moov = _box(b"moov", mvhd + _box(b"trak", tkhd + mdia))
    return ftyp + mdat + moov


def make_mp3(n_frames: int, sample_rate: int = 32000, kbps: int = 64,
             id3: bool = False) -> bytes:
    """Minimal valid MPEG-1 Layer III stream: n_frames identical frame
    headers with zero-filled payloads (header-only probing is the
    point). duration_ms = n_frames * 1152 * 1000 / sample_rate."""
    sr_idx = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
    br_idx = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
              160, 192, 224, 256, 320).index(kbps)
    # FF FB = sync + MPEG1 + Layer III + no CRC; mode byte 0 = stereo
    hdr = bytes([0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), 0x00])
    flen = 144000 * kbps // sample_rate
    frame = hdr + bytes(flen - 4)
    out = b""
    if id3:  # ID3v2.4 tag, 10-byte syncsafe body
        out = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + bytes(10)
    return out + frame * n_frames


def _ebml_el(eid: bytes, body: bytes) -> bytes:
    n = len(body)
    if n < 127:
        return eid + bytes([0x80 | n]) + body
    return eid + b"\x01" + n.to_bytes(7, "big")[:7].rjust(7, b"\x00") + body


def make_mkv(width: int, height: int, duration_ms: int,
             doctype: bytes = b"matroska") -> bytes:
    """Minimal valid Matroska/EBML: EBML header (DocType) + Segment
    with Info (TimestampScale 1 ms, float Duration) and one video
    TrackEntry carrying PixelWidth/PixelHeight."""
    header = _ebml_el(b"\x1a\x45\xdf\xa3", _ebml_el(b"\x42\x82", doctype))
    info = _ebml_el(
        b"\x15\x49\xa9\x66",
        _ebml_el(b"\x2a\xd7\xb1", (1_000_000).to_bytes(3, "big"))
        + _ebml_el(b"\x44\x89", struct.pack(">d", float(duration_ms))),
    )
    video = _ebml_el(
        b"\xe0",
        _ebml_el(b"\xb0", width.to_bytes(2, "big"))
        + _ebml_el(b"\xba", height.to_bytes(2, "big")),
    )
    tracks = _ebml_el(b"\x16\x54\xae\x6b", _ebml_el(b"\xae", video))
    segment = _ebml_el(b"\x18\x53\x80\x67", info + tracks)
    return header + segment


def make_mkv_mjpeg(width: int, height: int, frames: list,
                   frame_ms: int = 40) -> bytes:
    """Real Matroska MJPEG movie: Tracks carries a video TrackEntry
    (TrackNumber 1, TrackType 1, CodecID 'V_MJPEG', pixel dims) and a
    Cluster holds one SimpleBlock per JPEG frame (vint track number,
    int16 relative timestamp, keyframe flag, raw payload)."""
    header = _ebml_el(b"\x1a\x45\xdf\xa3",
                      _ebml_el(b"\x42\x82", b"matroska"))
    info = _ebml_el(
        b"\x15\x49\xa9\x66",
        _ebml_el(b"\x2a\xd7\xb1", (1_000_000).to_bytes(3, "big"))
        + _ebml_el(b"\x44\x89",
                   struct.pack(">d", float(len(frames) * frame_ms))),
    )
    video = _ebml_el(
        b"\xe0",
        _ebml_el(b"\xb0", width.to_bytes(2, "big"))
        + _ebml_el(b"\xba", height.to_bytes(2, "big")),
    )
    entry = (_ebml_el(b"\xd7", b"\x01")        # TrackNumber 1
             + _ebml_el(b"\x83", b"\x01")      # TrackType video
             + _ebml_el(b"\x86", b"V_MJPEG")   # CodecID
             + video)
    tracks = _ebml_el(b"\x16\x54\xae\x6b", _ebml_el(b"\xae", entry))
    blocks = b""
    for i, f in enumerate(frames):
        body = (b"\x81"                          # track 1 (vint)
                + (i * frame_ms).to_bytes(2, "big")  # rel. timestamp
                + b"\x80"                        # flags: keyframe
                + f)
        blocks += _ebml_el(b"\xa3", body)        # SimpleBlock
    cluster = _ebml_el(b"\x1f\x43\xb6\x75",
                       _ebml_el(b"\xe7", b"\x00") + blocks)
    segment = _ebml_el(b"\x18\x53\x80\x67", info + tracks + cluster)
    return header + segment


def _gif_lzw_literals(indices, mcs: int) -> bytes:
    """GIF LZW stream that encodes every pixel as a literal code,
    tracking the decoder's table growth so the variable code width
    stays in sync (the classic 'uncompressed GIF' technique)."""
    clear = 1 << mcs
    end = clear + 1
    width = mcs + 1
    acc = 0
    nb = 0
    out = bytearray()

    def emit(code: int, w: int):
        nonlocal acc, nb
        acc |= code << nb
        nb += w
        while nb >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nb -= 8

    emit(clear, width)
    table_size = clear + 2
    first = True
    for p in indices:
        emit(int(p), width)
        if first:
            first = False
        else:
            if table_size < 4096:
                table_size += 1
            if table_size == (1 << width) and width < 12:
                width += 1
    emit(end, width)
    if nb:
        out.append(acc & 0xFF)
    return bytes(out)


def make_gif_frame(index_rows, palette, interlace: bool = False) -> bytes:
    """Full valid GIF89a with one LZW-coded frame: index_rows is an
    (h, w) iterable of palette indices, palette an iterable of (r,g,b).
    interlace=True stores rows in GIF 4-pass order."""
    rows = [list(r) for r in index_rows]
    h, w = len(rows), len(rows[0])
    pal = [tuple(c) for c in palette]
    s = 0
    while (2 << s) < len(pal):
        s += 1
    pal += [(0, 0, 0)] * ((2 << s) - len(pal))
    gct = b"".join(bytes(c) for c in pal)
    mcs = max(2, s + 1)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h) + bytes([0x80 | s, 0, 0])
    out += gct
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([0x40 if interlace else 0x00])
    order = rows
    if interlace:
        order = []
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
            order.extend(rows[start::step])
    flat = [p for r in order for p in r]
    data = _gif_lzw_literals(flat, mcs)
    out += bytes([mcs])
    for i in range(0, len(data), 255):
        blk = data[i:i + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Apple PackBits: repeat runs >=3 as (257-n, byte), else literals."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit = i
        while i < n and i - lit < 128:
            nxt = 1
            while i + nxt < n and nxt < 3 and data[i + nxt] == data[i]:
                nxt += 1
            if nxt >= 3:
                break
            i += 1
        out += bytes([i - lit - 1]) + data[lit:i]
    return bytes(out)


def make_tiff(pixels, compression: int = 1, rows_per_strip: int = 0,
              photometric=None, predictor: int = 1,
              byte_order: str = "II", planar: int = 1) -> bytes:
    """Baseline multi-strip TIFF from an (h, w[, ch]) uint8-like array:
    compression 1 (none), 5 (LZW) or 32773 (PackBits); optional
    horizontal-differencing predictor (317=2); strips of
    rows_per_strip rows (0 = single strip). `planar=2` writes
    PlanarConfiguration 2 (TIFF 6.0 §14: all plane-0 strips, then
    plane 1, ...; the predictor differences within each plane)."""
    from .pdfgen import lzw_encode

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[..., None]
    h, w, ch = arr.shape
    if photometric is None:
        photometric = 2 if ch == 3 else 1
    rps = rows_per_strip or h
    src = arr
    if predictor == 2:
        diff = src.astype(np.int16)
        diff[:, 1:, :] -= src[:, :-1, :].astype(np.int16)
        src = (diff & 0xFF).astype(np.uint8)
    strips = []
    if planar == 2 and ch > 1:
        for c in range(ch):
            for r0 in range(0, h, rps):
                raw = np.ascontiguousarray(
                    src[r0:r0 + rps, :, c]
                ).tobytes()
                if compression == 5:
                    raw = lzw_encode(raw)
                elif compression == 32773:
                    raw = _packbits_encode(raw)
                strips.append(raw)
    else:
        for r0 in range(0, h, rps):
            raw = src[r0:r0 + rps].tobytes()
            if compression == 5:
                raw = lzw_encode(raw)
            elif compression == 32773:
                raw = _packbits_encode(raw)
            strips.append(raw)
    bo = "little" if byte_order == "II" else "big"

    def _e(v, n):
        return int(v).to_bytes(n, bo)

    nstrips = len(strips)
    # header + IFD later; strip data first at offset 8
    data = bytearray()
    strip_offsets = []
    pos = 8
    for sdat in strips:
        strip_offsets.append(pos)
        data += sdat
        pos += len(sdat)
    # external arrays (offsets/counts/bits) if they don't fit inline
    tags = []

    def tag(tid, typ, cnt, values):
        tags.append((tid, typ, cnt, values))

    tag(256, 4, 1, [w])
    tag(257, 4, 1, [h])
    tag(258, 3, ch, [8] * ch)
    tag(259, 3, 1, [compression])
    tag(262, 3, 1, [photometric])
    tag(273, 4, nstrips, strip_offsets)
    tag(277, 3, 1, [ch])
    tag(278, 4, 1, [rps])
    tag(279, 4, nstrips, [len(s) for s in strips])
    if predictor != 1:
        tag(317, 3, 1, [predictor])
    if planar != 1:
        tag(284, 3, 1, [planar])
    tags.sort()
    ifd_off = pos
    ext = bytearray()
    ext_off = ifd_off + 2 + 12 * len(tags) + 4
    entries = b""
    for tid, typ, cnt, values in tags:
        size = 2 if typ == 3 else 4
        entries += _e(tid, 2) + _e(typ, 2) + _e(cnt, 4)
        if cnt * size <= 4:
            field = b"".join(_e(v, size) for v in values)
            entries += field + b"\x00" * (4 - len(field))
        else:
            entries += _e(ext_off, 4)
            ext += b"".join(_e(v, size) for v in values)
            ext_off += cnt * size
    header = (byte_order.encode() + _e(42, 2) + _e(ifd_off, 4))
    return (header + bytes(data)
            + _e(len(tags), 2) + entries + _e(0, 4) + bytes(ext))


def make_flac(sample_rate: int, duration_ms: int, channels: int = 2,
              bits: int = 16) -> bytes:
    """Minimal valid FLAC: fLaC magic + a last-flagged STREAMINFO
    metadata block (header-only probing — no audio frames)."""
    total = sample_rate * duration_ms // 1000
    s = bytearray(34)
    s[0:2] = (4096).to_bytes(2, "big")   # min blocksize
    s[2:4] = (4096).to_bytes(2, "big")   # max blocksize
    # min/max frame size (24-bit each) stay 0 = unknown
    s[10] = (sample_rate >> 12) & 0xFF
    s[11] = (sample_rate >> 4) & 0xFF
    s[12] = ((sample_rate & 0x0F) << 4) | (((channels - 1) & 0x07) << 1) \
        | (((bits - 1) >> 4) & 1)
    s[13] = (((bits - 1) & 0x0F) << 4) | ((total >> 32) & 0x0F)
    s[14:18] = (total & 0xFFFFFFFF).to_bytes(4, "big")
    # bytes 18-33: md5 of the (absent) audio stream — zeros
    return b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + bytes(s)


class _FlacBitW:
    """MSB-first bit accumulator for FLAC frame assembly."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def w(self, val: int, bits: int):
        self.acc = (self.acc << bits) | (val & ((1 << bits) - 1))
        self.n += bits
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def align(self):
        if self.n:
            self.w(0, 8 - self.n)

    def data(self) -> bytes:
        self.align()
        return bytes(self.buf)


def flac_crc8(data: bytes) -> int:
    """CRC-8, poly x^8+x^2+x+1 (0x07), init 0 — FLAC frame header."""
    c = 0
    for byte in data:
        c ^= byte
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
    return c


def flac_crc16(data: bytes) -> int:
    """CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0 — FLAC frame."""
    c = 0
    for byte in data:
        c ^= byte << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else \
                (c << 1) & 0xFFFF
    return c


def flac_coded_number(n: int) -> bytes:
    """FLAC frame/sample number: UTF-8-style variable length (up to
    7 bytes / 36 bits)."""
    if n < 0x80:
        return bytes([n])
    k = 1
    while n >= (1 << (6 - k + 6 * k)) and k < 6:
        k += 1
    cont = []
    for _ in range(k):
        cont.append(0x80 | (n & 0x3F))
        n >>= 6
    first = ((0xFF << (7 - k)) & 0xFF) | n
    return bytes([first] + cont[::-1])


_FLAC_DEPTH_CODE = {8: 0b001, 12: 0b010, 16: 0b100, 20: 0b101,
                    24: 0b110, 32: 0b111}

_FIXED_COEF = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _rice_param(resid, order, depth):
    """Cheapest 4-bit rice parameter for a residual run (exhaustive
    over 0..14; escape code left to the explicit fixture knob)."""
    us = [(v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1 for v in resid]
    best, best_r = None, 0
    for r in range(15):
        cost = sum((u >> r) for u in us) + len(us) * (r + 1)
        if best is None or cost < best:
            best, best_r = cost, r
    return best_r


def _encode_subframe(w: _FlacBitW, x, depth: int, subframe: str,
                     partition_order: int, block_size: int,
                     rice_escape: bool):
    """One subframe: CONSTANT / VERBATIM / FIXED order 0-4 with rice
    residuals (method 0, 4-bit params), optional escaped partitions."""
    if subframe == "auto":
        if len(set(x)) == 1:
            subframe = "constant"
        else:
            subframe = "fixed2" if len(x) > 4 else "verbatim"
    if subframe == "constant" and len(set(x)) != 1:
        raise ValueError("constant subframe needs a constant signal")
    if (subframe.startswith("fixed") and int(subframe[-1]) >= len(x)) \
            or (subframe == "lpc1" and len(x) < 2):
        subframe = "verbatim"  # short final block: no room for warm-up
    w.w(0, 1)
    if subframe == "constant":
        w.w(0b000000, 6)
        w.w(0, 1)  # no wasted bits
        w.w(x[0], depth)
        return
    if subframe == "verbatim":
        w.w(0b000001, 6)
        w.w(0, 1)
        for v in x:
            w.w(v, depth)
        return
    if subframe == "lpc1":
        # order-1 LPC, coef 4 at shift 2 (predictor = x[i-1]) —
        # exercises the decoder's LPC warm-up/precision/shift path
        # with residuals identical to fixed1
        order, coef = 1, [1]
        if order >= len(x):
            raise ValueError("lpc1 needs >= 2 samples")
        w.w(0b100000, 6)  # LPC, order-1 = 0
        w.w(0, 1)
        w.w(x[0], depth)
        w.w(3, 4)   # precision-1 -> 4-bit coefficients
        w.w(2, 5)   # shift
        w.w(4, 4)   # qlp coef: 4 >> 2 == 1
    else:
        order = int(subframe[-1])
        if not subframe.startswith("fixed") or order > 4 \
                or order >= len(x):
            raise ValueError(f"unsupported subframe {subframe}")
        w.w(0b001000 | order, 6)
        w.w(0, 1)
        for v in x[:order]:
            w.w(v, depth)
        coef = _FIXED_COEF[order]
    resid = [
        x[i] - sum(c * x[i - 1 - j] for j, c in enumerate(coef))
        for i in range(order, len(x))
    ]
    w.w(0b00, 2)  # residual method 0: 4-bit rice params
    p = partition_order
    # final partial block: clamp p so partitions divide the block and
    # the first partition still has room for the warm-up samples
    while p and (block_size % (1 << p)
                 or block_size // (1 << p) <= order):
        p -= 1
    w.w(p, 4)
    idx = 0
    for part in range(1 << p):
        n = block_size // (1 << p) - (order if part == 0 else 0)
        chunk = resid[idx:idx + n]
        idx += n
        if rice_escape:
            w.w(0b1111, 4)  # escape: raw residuals at `depth` bits
            w.w(depth, 5)
            for v in chunk:
                w.w(v, depth)
            continue
        r = _rice_param(chunk, order, depth)
        w.w(r, 4)
        for v in chunk:
            u = (v << 1) if v >= 0 else ((-v) << 1) - 1
            q = u >> r
            w.w(0, q)   # unary quotient: q zeros...
            w.w(1, 1)   # ...then a one
            w.w(u, r)   # r low bits
    assert idx == len(resid)


def encode_flac(samples, sample_rate: int, bits: int = 16,
                channels: int = 1, block_size: int = 4096,
                subframe: str = "auto", partition_order: int = 0,
                stereo_mode: str = "independent",
                rice_escape: bool = False,
                return_parts: bool = False):
    """REAL FLAC encoder (public spec / RFC 9639) for sample-decode
    fixtures: STREAMINFO + fixed-blocking frames, subframes CONSTANT /
    VERBATIM / FIXED 0-4 with rice residuals (4-bit params, any
    partition order that divides the block, optional escape coding),
    stereo decorrelation left-side / right-side / mid-side. CRC-8 and
    CRC-16 are real, so any spec-conforming decoder accepts the
    output; round-trip with kernels.media.flac_pcm_samples is exact
    (lossless by construction).

    `samples`: interleaved ints in [-2^(bits-1), 2^(bits-1));
    `subframe`: auto|constant|verbatim|fixed0..fixed4."""
    assert sample_rate < 65536, "encoder writes 16-bit rate"
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    assert all(lo <= v <= hi for v in samples), \
        f"samples out of {bits}-bit range"
    total = len(samples) // channels
    chans = [samples[c::channels] for c in range(channels)]
    out = bytearray()
    frames = []
    pos = 0
    frame_no = 0
    min_bs = max_bs = None
    while pos < total:
        bs = min(block_size, total - pos)
        min_bs = bs if min_bs is None else min(min_bs, bs)
        max_bs = bs if max_bs is None else max(max_bs, bs)
        hdr = bytearray()
        hw = _FlacBitW()
        hw.w(0b11111111111110, 14)
        hw.w(0, 1)   # reserved
        hw.w(0, 1)   # fixed blocksize strategy
        hw.w(0b0111, 4)   # blocksize: 16-bit value-1 follows
        hw.w(0b1101, 4)   # rate: 16-bit Hz follows
        block = [ch[pos:pos + bs] for ch in chans]
        if channels == 2 and stereo_mode != "independent":
            l, r = block
            if stereo_mode == "left-side":
                ca, sub = 0b1000, [l, [a - b for a, b in zip(l, r)]]
                depths = [bits, bits + 1]
            elif stereo_mode == "right-side":
                ca, sub = 0b1001, [[a - b for a, b in zip(l, r)], r]
                depths = [bits + 1, bits]
            elif stereo_mode == "mid-side":
                ca = 0b1010
                sub = [[(a + b) >> 1 for a, b in zip(l, r)],
                       [a - b for a, b in zip(l, r)]]
                depths = [bits, bits + 1]
            else:
                raise ValueError(stereo_mode)
        else:
            ca, sub, depths = channels - 1, block, [bits] * channels
        hw.w(ca, 4)
        hw.w(_FLAC_DEPTH_CODE[bits], 3)
        hw.w(0, 1)   # reserved
        hdr += hw.data()
        hdr += flac_coded_number(frame_no)
        hdr += (bs - 1).to_bytes(2, "big")
        hdr += sample_rate.to_bytes(2, "big")
        hdr.append(flac_crc8(bytes(hdr)))
        fw = _FlacBitW()
        for x, depth in zip(sub, depths):
            _encode_subframe(fw, x, depth, subframe, partition_order,
                             bs, rice_escape)
        frame = bytes(hdr) + fw.data()
        frame += flac_crc16(frame).to_bytes(2, "big")
        out += frame
        frames.append(frame)
        pos += bs
        frame_no += 1
    s = bytearray(34)
    s[0:2] = (min_bs or 0).to_bytes(2, "big")
    s[2:4] = (max_bs or 0).to_bytes(2, "big")
    s[10] = (sample_rate >> 12) & 0xFF
    s[11] = (sample_rate >> 4) & 0xFF
    s[12] = ((sample_rate & 0x0F) << 4) | (((channels - 1) & 0x07) << 1) \
        | (((bits - 1) >> 4) & 1)
    s[13] = (((bits - 1) & 0x0F) << 4) | ((total >> 32) & 0x0F)
    s[14:18] = (total & 0xFFFFFFFF).to_bytes(4, "big")
    streaminfo = bytes([0x80]) + (34).to_bytes(3, "big") + bytes(s)
    if return_parts:
        # (STREAMINFO block incl. its header, per-frame bytes) — the
        # Ogg-FLAC muxer needs packet boundaries (one frame = one
        # audio packet per the FLAC-to-Ogg mapping)
        return streaminfo, frames
    return b"fLaC" + streaminfo + bytes(out)


def _ogg_crc(data: bytes) -> int:
    """Ogg page CRC-32 (RFC 3533): polynomial 0x04c11db7,
    non-reflected, init 0, no final xor."""
    crc = 0
    for byte in data:
        crc ^= byte << 24
        for _ in range(8):
            crc = ((crc << 1) ^ 0x04C11DB7 if crc & 0x80000000
                   else crc << 1) & 0xFFFFFFFF
    return crc


def _ogg_page_crc(serial: int, seq: int, granule: int,
                  header_type: int, segs: list, data: bytes) -> bytes:
    """One Ogg page with a REAL CRC (unlike the header-probe pages of
    _ogg_page) — the Ogg-FLAC demuxer verifies checksums."""
    hdr = bytearray(
        b"OggS" + bytes([0, header_type])
        + granule.to_bytes(8, "little", signed=True)
        + serial.to_bytes(4, "little")
        + seq.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + bytes([len(segs)]) + bytes(segs)
    )
    page = bytes(hdr) + data
    crc = _ogg_crc(page)
    hdr[22:26] = crc.to_bytes(4, "little")
    return bytes(hdr) + data


def make_ogg_flac(samples, sample_rate: int,
                  max_segs_per_page: int = 255, **flac_kw) -> bytes:
    """Ogg-encapsulated FLAC per the public FLAC-to-Ogg mapping: the
    BOS page carries the single header packet (0x7F 'FLAC' 1.0 +
    16-bit header count + 'fLaC' + STREAMINFO); each native frame is
    one audio packet. Packets pack into pages greedily;
    `max_segs_per_page` < 255 forces packets to SPAN pages
    (continuation flag), exercising real lacing reassembly. All page
    CRCs are real; the last page sets EOS with the total-sample
    granule."""
    streaminfo, frames = encode_flac(samples, sample_rate,
                                     return_parts=True, **flac_kw)
    channels = flac_kw.get("channels", 1)
    total = len(samples) // channels
    first = (b"\x7fFLAC\x01\x00" + (0).to_bytes(2, "big")
             + b"fLaC" + streaminfo)
    serial = 0x464C6143
    segs0 = [255] * (len(first) // 255) + [len(first) % 255]
    out = bytearray(_ogg_page_crc(serial, 0, 0, 0x02, segs0, first))
    seq = 1
    # greedy packer with forced spanning under a segment budget
    blk = flac_kw.get("block_size", 4096)
    cur_segs: list = []
    cur_data = bytearray()
    page_is_cont = False   # current page started mid-packet
    page_granule = -1      # last completed packet's granule, -1 if none
    done = 0

    def flush(eos: bool = False):
        nonlocal cur_segs, cur_data, page_is_cont, page_granule, seq
        out.extend(_ogg_page_crc(
            serial, seq, page_granule,
            (0x01 if page_is_cont else 0) | (0x04 if eos else 0),
            cur_segs, bytes(cur_data)))
        seq += 1
        cur_segs, cur_data = [], bytearray()
        page_granule = -1

    for frame in frames:
        lacing = [255] * (len(frame) // 255) + [len(frame) % 255]
        off = 0
        for li, lv in enumerate(lacing):
            if len(cur_segs) >= max_segs_per_page:
                mid_packet = li > 0  # flushing inside this packet?
                flush()
                page_is_cont = mid_packet
            cur_segs.append(lv)
            cur_data += frame[off:off + lv]
            off += lv
        done += 1
        # a packet just COMPLETED on the current page
        page_granule = min(done * blk, total)
    page_granule = total
    flush(eos=True)
    return bytes(out)


def _ogg_page(serial: int, seq: int, granule: int, packet: bytes,
              header_type: int) -> bytes:
    """One Ogg page (RFC 3533) holding a single packet; CRC left 0
    (the header probe does not verify checksums)."""
    segs = []
    n = len(packet)
    while n >= 255:
        segs.append(255)
        n -= 255
    segs.append(n)
    hdr = (
        b"OggS" + bytes([0, header_type])
        + granule.to_bytes(8, "little", signed=True)
        + serial.to_bytes(4, "little")
        + seq.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + bytes([len(segs)]) + bytes(segs)
    )
    return hdr + packet


def make_ogg(sample_rate: int, duration_ms: int, channels: int = 2,
             codec: str = "vorbis") -> bytes:
    """Minimal Ogg stream: BOS page with the codec ident packet + an
    EOS page whose granule position encodes the duration (vorbis
    granule = PCM samples at `sample_rate`; opus granule is always
    48 kHz per RFC 7845 §4)."""
    if codec == "vorbis":
        ident = (
            b"\x01vorbis"
            + (0).to_bytes(4, "little")         # version
            + bytes([channels])
            + sample_rate.to_bytes(4, "little")
            + (0).to_bytes(4, "little") * 3     # bitrates
            + bytes([0xB8, 0x01])               # blocksizes + framing
        )
        gran = sample_rate * duration_ms // 1000
    elif codec == "opus":
        ident = (
            b"OpusHead" + bytes([1, channels])
            + (312).to_bytes(2, "little")       # pre-skip
            + sample_rate.to_bytes(4, "little")  # input rate (memo only)
            + (0).to_bytes(2, "little")         # output gain
            + bytes([0])                        # channel mapping 0
        )
        gran = 48000 * duration_ms // 1000
    else:
        raise ValueError(codec)
    return (
        _ogg_page(7, 0, 0, ident, 0x02)         # BOS
        + _ogg_page(7, 1, gran, b"\x00", 0x04)  # EOS carries the granule
    )


def make_avi(width: int, height: int, duration_ms: int,
             fps: int = 25, frames: list | None = None,
             dib_frames: list | None = None,
             dib_bits: int = 24, topdown: bool = False) -> bytes:
    """Minimal RIFF/AVI: LIST hdrl with an avih main header
    (MicroSecPerFrame + TotalFrames + dims); no movi payload. With
    `frames` (a list of JPEG byte strings) it becomes a real MJPEG
    AVI: hdrl grows a LIST strl ('vids'/'MJPG' strh + a
    BITMAPINFOHEADER strf), the frames land in LIST movi as '00dc'
    chunks, and an idx1 keyframe index follows (offsets relative to
    the 'movi' fourcc, per the AVI 1.0 spec). `dib_frames` (a list of
    (h, w[, 3]) uint8 arrays) instead writes UNCOMPRESSED video
    (biCompression 0 = BI_RGB, '00db' chunks): 24-bit BGR bottom-up
    rows padded to 4 bytes, or with dib_bits=8 palettized rows over a
    256-entry gray-identity BGRA palette; `topdown` writes the
    negative-biHeight top-down variant."""
    usec = 1000000 // fps
    if dib_frames is not None:
        rowbytes = (width * dib_bits + 31) // 32 * 4
        frames = []
        for a in dib_frames:
            a = np.asarray(a, dtype=np.uint8)
            if dib_bits == 24:
                if a.ndim == 2:
                    a = np.repeat(a[..., None], 3, axis=2)
                rows = a[:, :, ::-1].reshape(height, width * 3)  # BGR
            else:  # 8-bit palettized over the gray-identity palette
                rows = a.reshape(height, width)
            pad = np.zeros((height, rowbytes - rows.shape[1]), np.uint8)
            rows = np.concatenate([rows, pad], axis=1)
            if not topdown:
                rows = rows[::-1]  # bottom-up (positive biHeight)
            frames.append(rows.tobytes())
    n_frames = len(frames) if frames else duration_ms * 1000 // usec
    avih = (
        usec.to_bytes(4, "little")
        + (0).to_bytes(4, "little")     # max bytes/sec
        + (0).to_bytes(4, "little")     # padding
        + (0x10).to_bytes(4, "little")  # flags (HASINDEX)
        + n_frames.to_bytes(4, "little")
        + (0).to_bytes(4, "little")     # initial frames
        + (1).to_bytes(4, "little")     # streams
        + (0).to_bytes(4, "little")     # suggested buffer
        + width.to_bytes(4, "little")
        + height.to_bytes(4, "little")
        + b"\x00" * 16                  # reserved
    )
    avih_chunk = b"avih" + len(avih).to_bytes(4, "little") + avih
    strl_chunk = b""
    if frames is not None:
        handler = b"DIB " if dib_frames is not None else b"MJPG"
        strh = (b"vids" + handler
                + (0).to_bytes(4, "little")   # flags
                + (0).to_bytes(4, "little")   # priority+language
                + (0).to_bytes(4, "little")   # initial frames
                + (1).to_bytes(4, "little")   # scale
                + fps.to_bytes(4, "little")   # rate
                + (0).to_bytes(4, "little")   # start
                + n_frames.to_bytes(4, "little")
                + max((len(f) for f in frames), default=0)
                  .to_bytes(4, "little")      # suggested buffer
                + (0xFFFFFFFF).to_bytes(4, "little")  # quality
                + (0).to_bytes(4, "little")   # sample size
                + (0).to_bytes(8, "little"))  # rcFrame
        if dib_frames is not None:
            bih_h = -height if topdown else height
            palette = b""
            n_colors = 0
            if dib_bits == 8:
                n_colors = 256
                palette = b"".join(
                    bytes((i, i, i, 0)) for i in range(256))
            strf = ((40).to_bytes(4, "little")
                    + width.to_bytes(4, "little")
                    + (bih_h & 0xFFFFFFFF).to_bytes(4, "little")
                    + (1).to_bytes(2, "little")
                    + dib_bits.to_bytes(2, "little")
                    + (0).to_bytes(4, "little")  # BI_RGB
                    + (rowbytes * height).to_bytes(4, "little")
                    + (0).to_bytes(8, "little")
                    + n_colors.to_bytes(4, "little")
                    + (0).to_bytes(4, "little")
                    + palette)
        else:
            strf = ((40).to_bytes(4, "little")
                    + width.to_bytes(4, "little")
                    + height.to_bytes(4, "little")
                    + (1).to_bytes(2, "little")
                    + (24).to_bytes(2, "little")
                    + b"MJPG"
                    + (width * height * 3).to_bytes(4, "little")
                    + (0).to_bytes(16, "little"))
        strl = (b"strh" + len(strh).to_bytes(4, "little") + strh
                + b"strf" + len(strf).to_bytes(4, "little") + strf)
        strl_chunk = (b"LIST" + (4 + len(strl)).to_bytes(4, "little")
                      + b"strl" + strl)
    hdrl = (b"LIST"
            + (4 + len(avih_chunk) + len(strl_chunk)).to_bytes(4, "little")
            + b"hdrl" + avih_chunk + strl_chunk)
    body = b"AVI " + hdrl
    if frames is not None:
        ckid = b"00db" if dib_frames is not None else b"00dc"
        chunks = b""
        idx = b""
        for f in frames:
            # idx1 offsets point at the chunk fourcc, relative to
            # the 'movi' fourcc position
            idx += (ckid + (0x10).to_bytes(4, "little")
                    + (4 + len(chunks)).to_bytes(4, "little")
                    + len(f).to_bytes(4, "little"))
            chunks += ckid + len(f).to_bytes(4, "little") + f
            if len(f) & 1:
                chunks += b"\x00"
        body += (b"LIST" + (4 + len(chunks)).to_bytes(4, "little")
                 + b"movi" + chunks
                 + b"idx1" + len(idx).to_bytes(4, "little") + idx)
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def make_animated_gif(frame_rows_list, palette, delays_cs, loop=None,
                      specs=None, screen=None, bg_index=0) -> bytes:
    """Multi-frame GIF89a: one Graphic Control Extension (delay in
    1/100 s) before each LZW-coded frame; optional NETSCAPE2.0 loop
    extension (0 = infinite). `specs` (per-frame dicts) add placement
    and compositing controls: left/top offsets, transparent index,
    disposal method; `screen` overrides the logical screen size."""
    pal = [tuple(c) for c in palette]
    s = 0
    while (2 << s) < len(pal):
        s += 1
    pal += [(0, 0, 0)] * ((2 << s) - len(pal))
    mcs = max(2, s + 1)
    first = [list(r) for r in frame_rows_list[0]]
    if screen is None:
        screen = (len(first[0]), len(first))
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", *screen) + bytes([0x80 | s, bg_index, 0])
    out += b"".join(bytes(c) for c in pal)
    if loop is not None:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
        out += struct.pack("<H", loop) + b"\x00"
    specs = specs or [{} for _ in frame_rows_list]
    for rows, delay, spec in zip(frame_rows_list, delays_cs, specs):
        rows = [list(r) for r in rows]
        flags = (spec.get("disposal", 0) & 7) << 2
        trans = spec.get("transparent")
        if trans is not None:
            flags |= 1
        out += (b"\x21\xf9\x04" + bytes([flags])
                + struct.pack("<H", delay)
                + bytes([trans or 0, 0]))
        out += b"\x2c" + struct.pack(
            "<HHHH", spec.get("left", 0), spec.get("top", 0),
            len(rows[0]), len(rows))
        out += bytes([0x00, mcs])
        data = _gif_lzw_literals([p for r in rows for p in r], mcs)
        for i in range(0, len(data), 255):
            blk = data[i:i + 255]
            out += bytes([len(blk)]) + blk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def make_tiff_tiled(pixels, tile_w: int, tile_h: int,
                    compression: int = 1, predictor: int = 1,
                    planar: int = 1) -> bytes:
    """Tiled TIFF 6.0 (§15) from an (h, w[, ch]) uint8-like array:
    full tile_w x tile_h tiles (edges zero-padded), each compressed
    independently; tags 322/323/324/325 instead of strips. `planar=2`
    writes plane-major tile order (all of plane 0's tiles, then plane
    1's...) with tag 284=2 — the §14 x §15 combination."""
    from .pdfgen import lzw_encode

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[..., None]
    h, w, ch = arr.shape
    tiles_x, tiles_y = -(-w // tile_w), -(-h // tile_h)
    padded = np.zeros((tiles_y * tile_h, tiles_x * tile_w, ch), np.uint8)
    padded[:h, :w] = arr
    if planar == 2 and ch > 1:
        blocks = [padded[..., p:p + 1] for p in range(ch)]
    else:
        planar = 1
        blocks = [padded]
    tiles = []
    for blk_arr in blocks:
        for ty in range(tiles_y):
            for tx in range(tiles_x):
                t = blk_arr[ty * tile_h:(ty + 1) * tile_h,
                            tx * tile_w:(tx + 1) * tile_w]
                if predictor == 2:
                    d = t.astype(np.int16)
                    d[:, 1:, :] -= t[:, :-1, :].astype(np.int16)
                    t = (d & 0xFF).astype(np.uint8)
                raw = t.tobytes()
                if compression == 5:
                    raw = lzw_encode(raw)
                elif compression == 32773:
                    raw = _packbits_encode(raw)
                elif compression == 7:
                    raw = encode_jpeg_lossless(np.squeeze(t))
                tiles.append(raw)

    def _e(v, n):
        return int(v).to_bytes(n, "little")

    data = bytearray()
    offs = []
    pos = 8
    for t in tiles:
        offs.append(pos)
        data += t
        pos += len(t)
    tags = []

    def tag(tid, typ, cnt, values):
        tags.append((tid, typ, cnt, values))

    tag(256, 4, 1, [w])
    tag(257, 4, 1, [h])
    tag(258, 3, ch, [8] * ch)
    tag(259, 3, 1, [compression])
    tag(262, 3, 1, [2 if ch == 3 else 1])
    tag(277, 3, 1, [ch])
    tag(322, 4, 1, [tile_w])
    tag(323, 4, 1, [tile_h])
    tag(324, 4, len(tiles), offs)
    tag(325, 4, len(tiles), [len(t) for t in tiles])
    if predictor != 1:
        tag(317, 3, 1, [predictor])
    if planar != 1:
        tag(284, 3, 1, [planar])
    tags.sort()
    ifd_off = pos
    ext = bytearray()
    ext_off = ifd_off + 2 + 12 * len(tags) + 4
    entries = b""
    for tid, typ, cnt, values in tags:
        size = 2 if typ == 3 else 4
        entries += _e(tid, 2) + _e(typ, 2) + _e(cnt, 4)
        if cnt * size <= 4:
            field = b"".join(_e(v, size) for v in values)
            entries += field + b"\x00" * (4 - len(field))
        else:
            entries += _e(ext_off, 4)
            ext += b"".join(_e(v, size) for v in values)
            ext_off += cnt * size
    return (b"II" + _e(42, 2) + _e(ifd_off, 4) + bytes(data)
            + _e(len(tags), 2) + entries + _e(0, 4) + bytes(ext))


def make_tiff_ojpeg(pixels, per_strip: int = 0,
                    lossless: bool = True,
                    fragment: bool = False) -> bytes:
    """OLD-style JPEG-in-TIFF (compression 6, TIFF 6.0 §22 — the form
    TTN2 deprecated): the dominant wild shape embeds one complete
    interchange JPEG stream located by JPEGInterchangeFormat (513) /
    JPEGInterchangeFormatLength (514). `per_strip=N` instead writes
    every N rows as its own full interchange stream under 273/279
    (the other writer variant seen in the wild). `lossless` uses SOF3
    so fixtures round-trip exactly; False uses the baseline SOF0
    encoder (lossy — only exact for per-MCU-uniform even grays).
    `fragment=True` emulates the broken tables-in-tags form (515-521,
    no SOI anywhere) that decoders are expected to QUARANTINE."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[..., None]
    h, w, ch = arr.shape
    enc = encode_jpeg_lossless if lossless else encode_jpeg
    img = np.squeeze(arr)

    def _e(v, n):
        return int(v).to_bytes(n, "little")

    data = bytearray()
    pos = 8
    tags = []

    def tag(tid, typ, cnt, values):
        tags.append((tid, typ, cnt, values))

    tag(256, 4, 1, [w])
    tag(257, 4, 1, [h])
    tag(258, 3, ch, [8] * ch)
    tag(259, 3, 1, [6])
    tag(262, 3, 1, [2 if ch == 3 else 1])
    tag(277, 3, 1, [ch])
    if fragment:
        # tables-only fragments at 519/520-style offsets, strips of
        # raw entropy bytes with no SOI — undecodable without the
        # writer's private reassembly rules; must land in quarantine
        frag = b"\x00" * 16
        data += frag
        tag(273, 4, 1, [8])
        tag(279, 4, 1, [len(frag)])
        pos += len(frag)
    elif per_strip:
        strips = [enc(img[r0:r0 + per_strip])
                  for r0 in range(0, h, per_strip)]
        offs = []
        for s in strips:
            offs.append(pos)
            data += s
            pos += len(s)
        tag(273, 4, len(strips), offs)
        tag(278, 4, 1, [per_strip])
        tag(279, 4, len(strips), [len(s) for s in strips])
    else:
        stream = enc(img)
        data += stream
        tag(513, 4, 1, [pos])
        tag(514, 4, 1, [len(stream)])
        pos += len(stream)
    tags.sort()
    ifd_off = pos
    ext = bytearray()
    ext_off = ifd_off + 2 + 12 * len(tags) + 4
    entries = b""
    for tid, typ, cnt, values in tags:
        size = 2 if typ == 3 else 4
        entries += _e(tid, 2) + _e(typ, 2) + _e(cnt, 4)
        if cnt * size <= 4:
            field = b"".join(_e(v, size) for v in values)
            entries += field + b"\x00" * (4 - len(field))
        else:
            entries += _e(ext_off, 4)
            ext += b"".join(_e(v, size) for v in values)
            ext_off += cnt * size
    return (b"II" + _e(42, 2) + _e(ifd_off, 4) + bytes(data)
            + _e(len(tags), 2) + entries + _e(0, 4) + bytes(ext))


def make_tiff_jpeg(pixels, rows_per_strip: int = 0,
                   shared_tables: bool = False,
                   planar: int = 1) -> bytes:
    """New-style JPEG-in-TIFF (compression 7): each strip is a full
    lossless-JPEG (SOF3) stream so the round trip is exact; with
    shared_tables the DHT moves into a JPEGTables (347) abbreviated
    stream and the strips carry no tables (TIFF-EP table sharing).
    `planar=2` writes plane-major strip order (tag 284=2) with each
    strip a single-plane GRAYSCALE JPEG — the §14 x compression-7
    combination."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[..., None]
    h, w, ch = arr.shape
    rps = rows_per_strip or h
    if planar == 2 and ch > 1:
        blocks = [arr[..., p] for p in range(ch)]
    else:
        planar = 1
        blocks = [np.squeeze(arr)]
    strips = []
    tables_payload = None
    for blk in blocks:
        for r0 in range(0, h, rps):
            enc = encode_jpeg_lossless(blk[r0:r0 + rps])
            if shared_tables:
                i = enc.index(b"\xff\xc4")
                ln = int.from_bytes(enc[i + 2:i + 4], "big")
                dht = enc[i:i + 2 + ln]
                if tables_payload is None:
                    tables_payload = b"\xff\xd8" + dht + b"\xff\xd9"
                enc = enc[:i] + enc[i + 2 + ln:]
            strips.append(enc)

    def _e(v, n):
        return int(v).to_bytes(n, "little")

    data = bytearray()
    offs = []
    pos = 8
    for s in strips:
        offs.append(pos)
        data += s
        pos += len(s)
    tbl_off = None
    if tables_payload is not None:
        tbl_off = pos
        data += tables_payload
        pos += len(tables_payload)
    tags = []

    def tag(tid, typ, cnt, values):
        tags.append((tid, typ, cnt, values))

    tag(256, 4, 1, [w])
    tag(257, 4, 1, [h])
    tag(258, 3, ch, [8] * ch)
    tag(259, 3, 1, [7])
    tag(262, 3, 1, [2 if ch == 3 else 1])
    tag(273, 4, len(strips), offs)
    tag(277, 3, 1, [ch])
    tag(278, 4, 1, [rps])
    tag(279, 4, len(strips), [len(s) for s in strips])
    if planar != 1:
        tag(284, 3, 1, [planar])
    if tables_payload is not None:
        tag(347, 7, len(tables_payload), ("raw", tbl_off))
    tags.sort()
    ifd_off = pos
    ext = bytearray()
    ext_off = ifd_off + 2 + 12 * len(tags) + 4
    entries = b""
    for tid, typ, cnt, values in tags:
        size = 2 if typ == 3 else (1 if typ == 7 else 4)
        entries += _e(tid, 2) + _e(typ, 2) + _e(cnt, 4)
        if isinstance(values, tuple) and values[0] == "raw":
            entries += _e(values[1], 4)  # offset into the data block
            continue
        if cnt * size <= 4:
            field = b"".join(_e(v, size) for v in values)
            entries += field + b"\x00" * (4 - len(field))
        else:
            entries += _e(ext_off, 4)
            ext += b"".join(_e(v, size) for v in values)
            ext_off += cnt * size
    return (b"II" + _e(42, 2) + _e(ifd_off, 4) + bytes(data)
            + _e(len(tags), 2) + entries + _e(0, 4) + bytes(ext))


# --- JPEG progressive + lossless encoders (decoded by kernels/jpeg.py) ---


def _raster_zigzag_blocks(plane: np.ndarray, bw_i: int, bh_i: int,
                          q: np.ndarray, shift: float = 128.0) -> list:
    """Component plane -> quantized zigzag blocks in RASTER order over
    the padded (bh_i x bw_i)-block grid (the progressive encoder's
    per-component addressing)."""
    padded = _pad_edge(plane, bh_i * 8, bw_i * 8)
    blocks = (
        padded.reshape(bh_i, 8, bw_i, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )
    coeff = np.matmul(np.matmul(_T, blocks - shift), _T.T)
    quant = np.round(coeff / q).astype(np.int64).reshape(-1, 64)
    return quant[:, _ZZ].tolist()


# progressive-encoder AC tables: Annex K + the single free 16-bit code
# slot spent on EOB1 (symbol 0x10; runs of 2-3 blocks with one ext bit)
# — sequential tables define only EOB0/ZRL, and the Kraft sum leaves
# exactly one unused 16-bit code in each
PROG_AC_LUMA = (
    AC_LUMA[0][:15] + [AC_LUMA[0][15] + 1],
    AC_LUMA[1] + [0x10],
)
PROG_AC_CHROMA = (
    AC_CHROMA[0][:15] + [AC_CHROMA[0][15] + 1],
    AC_CHROMA[1] + [0x10],
)


class _RefineState:
    """Encoder-side EOB-run bookkeeping for progressive AC scans: the
    pending EOB run plus the correction bits each covered block owns
    (T.81 G.1.2.3 — every EOBn code must be followed by exactly the
    correction bits of the blocks it covers, in block order)."""

    __slots__ = ("eobrun", "be")

    def __init__(self):
        self.eobrun = 0
        self.be: list = []  # one bit-list per covered block

    def add_block(self, bits_for_block: list):
        self.eobrun += 1
        self.be.append(bits_for_block)

    def flush(self, bwr, ac_enc):
        i = 0
        while self.eobrun:
            if self.eobrun >= 2:
                n = 2 + min(self.eobrun - 2, 1)
                c, ln = ac_enc[0x10]  # EOB1: run 2-3, one ext bit
                bwr.put(c, ln)
                bwr.put(n - 2, 1)
            else:
                n = 1
                c, ln = ac_enc[0x00]  # EOB0
                bwr.put(c, ln)
            for blk in self.be[i:i + n]:
                for b in blk:
                    bwr.put(b, 1)
            i += n
            self.eobrun -= n
        self.be = []


def _enc_ac_first_block(bwr, st, zz, ac_enc, ss, se, al):
    """One block of a first AC scan (Ah=0): zero-run/size coding of
    the magnitude-shifted band, trailing zeros folded into the EOB
    run."""
    vs = []
    for k in range(ss, se + 1):
        v = zz[k]
        vs.append((v >> al) if v >= 0 else -((-v) >> al))
    last_nz = -1
    for j in range(len(vs) - 1, -1, -1):
        if vs[j]:
            last_nz = j
            break
    if last_nz < 0:
        st.add_block([])
        return
    st.flush(bwr, ac_enc)
    run = 0
    for j in range(last_nz + 1):
        v = vs[j]
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_enc[0xF0]
            bwr.put(c, ln)
            run -= 16
        t, codebits = _magnitude(v)
        c, ln = ac_enc[(run << 4) | t]
        bwr.put(c, ln)
        bwr.put(codebits, t)
        run = 0
    if last_nz < se - ss:
        st.add_block([])


def _enc_ac_refine_block(bwr, st, zz, ac_enc, ss, se, al):
    """One block of a refinement AC scan (Ah=Al+1): newly-nonzero
    coefficients as (run, 1) codes with sign bits; one correction bit
    per already-nonzero coefficient, routed through the proper buffer
    (after the owning code, or after the EOB run that covers it)."""
    absv = []
    for k in range(ss, se + 1):
        v = zz[k]
        absv.append(((-v) if v < 0 else v) >> al)
    last_new = -1
    for j in range(len(absv) - 1, -1, -1):
        if absv[j] == 1:
            last_new = j
            break
    r = 0
    br: list = []
    for j, a in enumerate(absv):
        if a == 0:
            r += 1
            continue
        while r > 15 and j <= last_new:
            st.flush(bwr, ac_enc)
            c, ln = ac_enc[0xF0]
            bwr.put(c, ln)
            r -= 16
            for b in br:
                bwr.put(b, 1)
            br = []
        if a > 1:  # nonzero history: correction bit only
            br.append(a & 1)
            continue
        st.flush(bwr, ac_enc)
        c, ln = ac_enc[(r << 4) | 1]
        bwr.put(c, ln)
        bwr.put(1 if zz[ss + j] > 0 else 0, 1)
        for b in br:
            bwr.put(b, 1)
        br = []
        r = 0
    if r > 0 or br:
        st.add_block(br)


def encode_jpeg_progressive(pixels: np.ndarray, subsampling: str = "444",
                            restart_interval: int = 0,
                            precision: int = 8) -> bytes:
    """8-bit (or, with precision=12, 12-bit) image -> PROGRESSIVE JPEG
    (SOF2). Scan script exercises every Annex G decode path:
    interleaved DC first (Al=1), per-component AC first (Ss=1..63,
    Al=1), DC refinement (raw bits), and per-component AC refinement
    (Ah=1 -> Al=0, correction bits). The decoded pixels are
    bit-identical to the sequential encoding of the same image (same
    quantized coefficients — tests pin this)."""
    if precision not in (8, 12):
        raise ValueError("precision must be 8 or 12")
    shift = float(1 << (precision - 1))
    planes, factors, color, h, w, mcux, mcuy = _prepare_components(
        pixels, subsampling, center=shift)
    if precision == 12:
        qts = [QUANT_LUMA * 16] + ([QUANT_CHROMA * 16] if color else [])
    else:
        qts = [QUANT_LUMA] + ([QUANT_CHROMA] if color else [])
    _, dc_enc0 = _canonical_codes(*DC_LUMA)
    _, ac_enc0 = _canonical_codes(*PROG_AC_LUMA)
    dc_enc = [dc_enc0]
    ac_enc = [ac_enc0]
    if color:
        _, dc_enc1 = _canonical_codes(*DC_CHROMA)
        _, ac_enc1 = _canonical_codes(*PROG_AC_CHROMA)
        dc_enc += [dc_enc1, dc_enc1]
        ac_enc += [ac_enc1, ac_enc1]
    grids = []
    zz_blocks = []
    for ci, (hi_f, vi_f) in enumerate(factors):
        bw_i, bh_i = mcux * hi_f, mcuy * vi_f
        grids.append((bw_i, bh_i))
        zz_blocks.append(_raster_zigzag_blocks(
            planes[ci], bw_i, bh_i, qts[min(ci, len(qts) - 1)],
            shift=shift))

    out, seg = _jpeg_headers(h, w, planes, factors, qts, color, 0xC2,
                             restart_interval,
                             ac_pair=(PROG_AC_LUMA, PROG_AC_CHROMA),
                             prec=precision)
    nc = len(planes)
    n_mcus = mcux * mcuy

    def sos(sel_tables, ss, se, ah, al):
        body = bytes([len(sel_tables)])
        for cid, tdta in sel_tables:
            body += bytes([cid, tdta])
        return seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    def rst_boundary(bwr, idx, rst_counter):
        bwr.flush()
        bwr.out += bytes([0xFF, 0xD0 + (rst_counter & 7)])

    # --- scan 1: DC first, all components interleaved, Al=1
    out += sos([(ci + 1, (0 if ci == 0 else 1) << 4) for ci in range(nc)],
               0, 0, 0, 1)
    bwr = _BitWriter()
    pred = [0] * nc
    rst = 0
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            rst_boundary(bwr, m, rst)
            rst += 1
            pred = [0] * nc
        my, mx = divmod(m, mcux)
        for ci in range(nc):
            hi_f, vi_f = factors[ci]
            for bi in _mcu_block_indices(my, mx, hi_f, vi_f, grids[ci][0]):
                val = zz_blocks[ci][bi][0] >> 1  # arithmetic shift, Al=1
                diff = val - pred[ci]
                pred[ci] = val
                t, codebits = _magnitude(diff)
                c, ln = dc_enc[ci][t]
                bwr.put(c, ln)
                if t:
                    bwr.put(codebits, t)
    bwr.flush()
    out += bwr.out

    # --- scans 2..: AC first per component, Ss=1..63, Al=1
    for ci in range(nc):
        out += sos([(ci + 1, 0 if ci == 0 else 1)], 1, 63, 0, 1)
        bwr = _BitWriter()
        st = _RefineState()
        bw_i, bh_i = grids[ci]
        hi_f, vi_f = factors[ci]
        cw = -(-w * hi_f // factors[0][0])
        chh = -(-h * vi_f // factors[0][1])
        bis = [r_ * bw_i + c_
               for r_ in range(-(-chh // 8)) for c_ in range(-(-cw // 8))]
        rst = 0
        for idx, bi in enumerate(bis):
            if restart_interval and idx and idx % restart_interval == 0:
                st.flush(bwr, ac_enc[ci])
                rst_boundary(bwr, idx, rst)
                rst += 1
            _enc_ac_first_block(bwr, st, zz_blocks[ci][bi], ac_enc[ci],
                                1, 63, 1)
        st.flush(bwr, ac_enc[ci])
        bwr.flush()
        out += bwr.out

    # --- DC refinement: one raw bit per block (Ah=1, Al=0)
    out += sos([(ci + 1, 0) for ci in range(nc)], 0, 0, 1, 0)
    bwr = _BitWriter()
    rst = 0
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            rst_boundary(bwr, m, rst)
            rst += 1
        my, mx = divmod(m, mcux)
        for ci in range(nc):
            hi_f, vi_f = factors[ci]
            for bi in _mcu_block_indices(my, mx, hi_f, vi_f, grids[ci][0]):
                bwr.put(zz_blocks[ci][bi][0] & 1, 1)
    bwr.flush()
    out += bwr.out

    # --- AC refinement per component (Ah=1 -> Al=0)
    for ci in range(nc):
        out += sos([(ci + 1, 0 if ci == 0 else 1)], 1, 63, 1, 0)
        bwr = _BitWriter()
        st = _RefineState()
        bw_i, bh_i = grids[ci]
        hi_f, vi_f = factors[ci]
        cw = -(-w * hi_f // factors[0][0])
        chh = -(-h * vi_f // factors[0][1])
        bis = [r_ * bw_i + c_
               for r_ in range(-(-chh // 8)) for c_ in range(-(-cw // 8))]
        rst = 0
        for idx, bi in enumerate(bis):
            if restart_interval and idx and idx % restart_interval == 0:
                st.flush(bwr, ac_enc[ci])
                rst_boundary(bwr, idx, rst)
                rst += 1
            _enc_ac_refine_block(bwr, st, zz_blocks[ci][bi], ac_enc[ci],
                                 1, 63, 0)
        st.flush(bwr, ac_enc[ci])
        bwr.flush()
        out += bwr.out

    out += b"\xff\xd9"
    return bytes(out)


# 17 diff categories at a uniform 5-bit code length — a legal DHT that
# covers the full 16-bit lossless diff range (Annex K's DC table stops
# at category 11, which 16-bit content overflows)
LOSSLESS_DC_TABLE = ([0, 0, 0, 0, 17] + [0] * 11, list(range(17)))


def encode_jpeg_lossless(pixels: np.ndarray, predictor: int = 1,
                         precision: "int | None" = None,
                         point_transform: int = 0) -> bytes:
    """Image -> LOSSLESS JPEG (SOF3). pixels: (h, w) or (h, w, c<=4)
    integer array; precision defaults to 8 for uint8 input, 16
    otherwise. decode_jpeg() recovers the input exactly."""
    arr = np.asarray(pixels)
    if arr.ndim == 2:
        arr = arr[..., None]
    h, w, nc = arr.shape
    if not (1 <= nc <= 4):
        raise ValueError("1-4 components")
    if not (1 <= predictor <= 7):
        raise ValueError("predictor 1-7")
    if precision is None:
        precision = 8 if arr.dtype == np.uint8 else 16
    if not (2 <= precision <= 16):
        raise ValueError("precision 2-16")
    pt = point_transform
    samples = (arr.astype(np.int64) >> pt)

    def seg(marker: int, payload: bytes) -> bytes:
        return (bytes([0xFF, marker])
                + (len(payload) + 2).to_bytes(2, "big") + payload)

    out = bytearray(b"\xff\xd8")
    bits, vals = LOSSLESS_DC_TABLE
    out += seg(0xC4, bytes([0x00]) + bytes(bits) + bytes(vals))
    sof = (bytes([precision]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
           + bytes([nc]))
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0])
    out += seg(0xC3, sof)
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([predictor, 0, pt])
    out += seg(0xDA, sos)
    _, enc = _canonical_codes(*LOSSLESS_DC_TABLE)
    bwr = _BitWriter()
    default = 1 << (precision - pt - 1)
    for y in range(h):
        for x in range(w):
            for ci in range(nc):
                p = samples[..., ci]
                if y == 0 and x == 0:
                    pred = default
                elif y == 0:
                    pred = int(p[0, x - 1])
                elif x == 0:
                    pred = int(p[y - 1, 0])
                else:
                    a = int(p[y, x - 1])
                    b = int(p[y - 1, x])
                    c = int(p[y - 1, x - 1])
                    pred = (
                        a, b, c, a + b - c,
                        a + ((b - c) >> 1),
                        b + ((a - c) >> 1),
                        (a + b) >> 1,
                    )[predictor - 1]
                diff = ((int(p[y, x]) - pred + 32768) & 0xFFFF) - 32768
                if diff == -32768:
                    c_, ln = enc[16]  # category 16: no appended bits
                    bwr.put(c_, ln)
                    continue
                t, codebits = _magnitude(diff)
                c_, ln = enc[t]
                bwr.put(c_, ln)
                if t:
                    bwr.put(codebits, t)
    bwr.flush()
    out += bwr.out
    out += b"\xff\xd9"
    return bytes(out)


# --- CCITT T.4/T.6 encoders (decoded by kernels/ccitt_g4.py) -----------


class _FaxBitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, nbits: int, value: int):
        for k in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> k) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                self.acc = 0
                self.n = 0

    def bytes(self) -> bytes:
        if self.n:
            return bytes(self.buf) + bytes([self.acc << (8 - self.n)])
        return bytes(self.buf)


def g4_encode(bitmap: List[List[int]], columns: int) -> bytes:
    """T.6 MMR encode of 0/1 pixel rows (1=black); appends EOFB."""
    bw = _FaxBitWriter()
    ref = [0] * columns
    for line in bitmap:
        _encode_2d_line(bw, ref, line, columns)
        ref = line
    bw.write(12, 0b000000000001)  # EOFB
    bw.write(12, 0b000000000001)
    return bw.bytes()


def _write_run(bw: _FaxBitWriter, run: int, color: int):
    term = _BLACK_TERM if color else _WHITE_TERM
    makeup = _BLACK_MAKEUP if color else _WHITE_MAKEUP
    while run >= 64:
        step = min((run // 64) * 64, 2560)
        if step > 1728:
            ln, code = _EXT_MAKEUP[step]
        else:
            ln, code = makeup[step]
        bw.write(ln, code)
        run -= step
    ln, code = term[run]
    bw.write(ln, code)


_EOL = (12, 0b000000000001)


def g3_encode_1d(bitmap: List[List[int]], columns: int) -> bytes:
    """T.4 1-D encode: EOL before every line, then alternating runs
    (white first; a leading black pixel gets a zero-length white run)."""
    bw = _FaxBitWriter()
    for line in bitmap:
        bw.write(*_EOL)
        pos = 0
        color = 0
        while pos < columns:
            run = 0
            while pos + run < columns and line[pos + run] == color:
                run += 1
            _write_run(bw, run, color)
            pos += run
            color = 1 - color
    bw.write(*_EOL)
    return bw.bytes()


def g3_encode_2d(bitmap: List[List[int]], columns: int, k: int = 4) -> bytes:
    """T.4 2-D encode: a 1-D line every k lines, 2-D lines between
    (the standard K-parameter error-containment cadence)."""
    bw = _FaxBitWriter()
    ref = [0] * columns
    for i, line in enumerate(bitmap):
        bw.write(*_EOL)
        if i % k == 0:  # 1-D anchor line
            bw.write(1, 1)
            pos = 0
            color = 0
            while pos < columns:
                run = 0
                while pos + run < columns and line[pos + run] == color:
                    run += 1
                _write_run(bw, run, color)
                pos += run
                color = 1 - color
        else:
            bw.write(1, 0)
            _encode_2d_line(bw, ref, line, columns)
        ref = line
    bw.write(*_EOL)
    return bw.bytes()


def _encode_2d_line(bw: _FaxBitWriter, ref: List[int], line: List[int], columns: int):
    ref_tr = _transitions(ref, columns)
    cur_tr = _transitions(line, columns)
    a0 = -1
    color = 0
    while a0 < columns:
        a1 = columns
        for t in cur_tr:
            if t > a0:
                a1 = t
                break
        b1 = columns
        b2 = columns
        for idx, t in enumerate(ref_tr):
            if t <= a0:
                continue
            t_color = 1 if idx % 2 == 0 else 0
            if t_color != color:
                b1 = t
                b2 = ref_tr[idx + 1] if idx + 1 < len(ref_tr) else columns
                break
        if b2 < a1:
            bw.write(_MODE_PASS[0], _MODE_PASS[1])
            a0 = b2
            continue
        if abs(a1 - b1) <= 3:
            ln, code = _MODE_V[a1 - b1]
            bw.write(ln, code)
            a0 = a1
            color = 1 - color
            continue
        a2 = columns
        for t in cur_tr:
            if t > a1:
                a2 = t
                break
        start = max(a0, 0)
        bw.write(_MODE_HORIZ[0], _MODE_HORIZ[1])
        _write_run(bw, a1 - start, color)
        _write_run(bw, a2 - a1, 1 - color)
        a0 = a2


def pack_rows(bitmap: List[List[int]], columns: int, black_is_1: bool = False) -> bytes:
    """Pixel rows -> packed 1-bit raster, each row byte-aligned. PDF
    default (BlackIs1=false): 0 bits are black."""
    out = bytearray()
    for line in bitmap:
        acc = 0
        n = 0
        row = bytearray()
        for px in line[:columns]:
            bit = px if black_is_1 else 1 - px
            acc = (acc << 1) | bit
            n += 1
            if n == 8:
                row.append(acc)
                acc = n = 0
        if n:
            row.append(acc << (8 - n))
        out += row
    return bytes(out)
