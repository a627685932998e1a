"""Media kernels — pure Python, no codec libraries, public specs only.

Grew from round-1 header introspection (JPEG SOFn / PNG IHDR / GIF LSD
/ TIFF IFD dimensions) into real decode across the media surface:

* image pixels: PNG (all color/depth combos + Adam7), GIF (LZW +
  animation compositing), TIFF (strips/tiles/planar/JPEG-in-TIFF),
  BMP/ICO DIB rasters, PNM, TGA, plus the G4 fax codec in
  kernels/ccitt_g4.py and the full JPEG codec in kernels/jpeg.py;
* audio samples: WAV (PCM 8-32, float32, G.711 mu/A-law, IMA +
  Microsoft ADPCM via precomputed adaptation tables), FLAC (native
  frame decode, CRC-verified, and Ogg-encapsulated per the
  FLAC-to-Ogg mapping with page CRCs verified), AIFF/AIFF-C, Sun AU,
  and PCM-in-MP4 through the shared ISO-BMFF sample-table walk;
* video frames: MJPEG demuxed from RIFF/AVI (movi chunks), ISO-BMFF
  (stsd/stsc/stco/stsz resolution) and Matroska (V_MJPEG
  SimpleBlocks), each frame decoded once through the JPEG kernel;
* container metadata: WAV/MP4/MP3/MKV/FLAC/Ogg/AVI duration, rate
  and dimension probes.

Each media decision lives in one place:

* _tiff_segment turns every raw TIFF strip or tile (chunky, planar,
  tiled, new- and old-style JPEG) into pixels: the decompress step,
  the 1-bit unpack and the predictor undo; _tiff_decode pastes the
  segments of one grid onto one canvas;
* _iter_chunks walks every RIFF (WAV, AVI) and IFF (AIFF) chunk list
  and owns the even-offset pad advance; LIST children walk with it,
  clipped to the parent's end;
* _linear_pcm, _g711 and _float32_pcm decode every PCM sample format
  (WAV, AIFF/AIFC, AU, PCM-in-MP4); _pcm_int_stats / _float_stats
  reduce the samples;
* mean_luma holds the integer 299/587/114 luma reduction that every
  image and video-frame lane (and kernels/jpeg.jpeg_mean_luma) uses;
  luma_image is the one shape check the JPEG lanes run before it;
* one dispatcher per modality: pixel_stats (format -> lane table;
  PIXEL_DECODABLE_FORMATS is its key set), pcm_stats and
  video_frames (magic bytes), audio_info and video_info (headers).

Contract everywhere: undecodable or corrupt payloads return None —
the operators' error-column quarantine lane — never a raise. The
reference has no media decode at all (its only media op is DCT
passthrough, reference filters.py:321-330); this surface is pipeline
scope. Integer lanes accumulate stats exactly so synthetic
closed-form corpora hash-match SQL oracles.
"""

from __future__ import annotations

import struct
from typing import Optional

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# JPEG SOFn markers that carry frame dimensions: C0-CF minus DHT (C4),
# JPG-extension (C8) and DAC (CC)
_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def mean_luma(px, bgr: bool = False) -> float:
    """Mean ITU-R 601 luminance of an (h, w) gray or (h, w, c >= 3)
    color pixel array — the one reduction every image and video-frame
    lane shares. INTEGER arithmetic: the sum of 299R + 587G + 114B per
    pixel (channels read B, G, R when `bgr`; alpha ignored), ONE
    division at the end, rounded to 6 dp, so a SQL oracle restates it
    bit-for-bit and float summation order never enters. Samples keep
    their native depth (a 12-bit JPEG or 16-bit PNM reports its native
    mean)."""
    import numpy as np

    a = np.asarray(px).astype(np.int64)
    if a.ndim == 2:  # gray: the weights collapse onto the one sample
        total = int(a.sum()) * 1000
    else:
        r, b = (2, 0) if bgr else (0, 2)
        total = int((a[..., r] * 299 + a[..., 1] * 587
                     + a[..., b] * 114).sum())
    return round(total / (1000.0 * a.shape[1] * a.shape[0]), 6)


def luma_image(img):
    """`img` when mean_luma can reduce it — an (h, w) gray or (h, w,
    c >= 3) color decode — else None (quarantine): the one shape check
    of the JPEG lanes. SOF3 allows 1-4 components, so a 2-component
    lossless JPEG decodes to (h, w, 2), which has no luma."""
    if img is None or not (img.ndim == 2
                           or (img.ndim == 3 and img.shape[2] >= 3)):
        return None
    return img


def _decoded_luma(decoded):
    """mean_luma of a (width, height, channels, pixel_bytes) decode;
    gray(+alpha) decodes reduce their first sample. None passes
    through (quarantine)."""
    import numpy as np

    if decoded is None:
        return None
    w, h, ch, pix = decoded
    px = np.frombuffer(pix, np.uint8).reshape(h, w, ch)
    return mean_luma(px if ch >= 3 else px[..., 0])


def _bgra_palette(raw: bytes):
    """256 BGRA palette quads (the DIB color table) as a (256, 4)
    array, or None when fewer are present."""
    import numpy as np

    pal = np.frombuffer(raw, np.uint8)
    if pal.size < 4 * 256:
        return None
    return pal[:4 * 256].reshape(256, 4)


def png_dims(b: bytes) -> Optional[dict]:
    """PNG: width/height are the first 8 bytes of the IHDR chunk, which
    the spec requires to be the first chunk after the signature."""
    if len(b) >= 24 and b[:8] == _PNG_SIG and b[12:16] == b"IHDR":
        return {
            "format": "png",
            "width": int.from_bytes(b[16:20], "big"),
            "height": int.from_bytes(b[20:24], "big"),
        }
    return None


def jpeg_dims(b: bytes) -> Optional[dict]:
    """JPEG: walk the segment chain from SOI to the first SOFn frame
    header; height/width are bytes 3-6 of its payload."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            i += 1  # tolerate padding/garbage between segments
            continue
        marker = b[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2  # standalone markers carry no length
            continue
        if marker == 0xD9:  # EOI before any SOF
            return None
        seg_len = int.from_bytes(b[i + 2:i + 4], "big")
        if seg_len < 2:
            return None
        if marker in _SOF_MARKERS:
            if i + 9 > len(b):
                return None
            out = {
                "format": "jpeg",
                "height": int.from_bytes(b[i + 5:i + 7], "big"),
                "width": int.from_bytes(b[i + 7:i + 9], "big"),
                "bits": b[i + 4],  # SOF sample precision (8/12/16)
            }
            if i + 10 <= len(b):
                out["components"] = b[i + 9]
            return out
        if marker == 0xDA:  # SOS: entropy data follows, no SOF seen
            return None
        i += 2 + seg_len
    return None


def gif_dims(b: bytes) -> Optional[dict]:
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        return {
            "format": "gif",
            "width": int.from_bytes(b[6:8], "little"),
            "height": int.from_bytes(b[8:10], "little"),
        }
    return None


def tiff_dims(b: bytes) -> Optional[dict]:
    """TIFF: IFD tags 256 (ImageWidth) / 257 (ImageLength). Handles both
    byte orders; reads SHORT(3) and LONG(4) tag values."""
    if len(b) < 8 or b[:2] not in (b"II", b"MM"):
        return None
    bo = "little" if b[:2] == b"II" else "big"
    if int.from_bytes(b[2:4], bo) != 42:
        return None
    dims = {"format": "tiff"}
    for key, tag in (("width", 256), ("height", 257)):
        ent = _tiff_entry(b, tag)
        if ent is None or ent[1] not in (3, 4):
            return None
        dims[key] = _tiff_tag(b, tag)
    return dims


def bmp_dims(b: bytes) -> Optional[dict]:
    """Windows BMP: 'BM' BITMAPFILEHEADER + BITMAPINFOHEADER (biSize
    >= 40). biHeight is SIGNED — negative means top-down row order;
    dims report the absolute height."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    bisize = int.from_bytes(b[14:18], "little")
    if bisize < 40:
        return None  # BITMAPCOREHEADER and smaller: unsupported
    w = int.from_bytes(b[18:22], "little")
    h = int.from_bytes(b[22:26], "little", signed=True)
    if w <= 0 or h == 0:
        return None
    return {"format": "bmp", "width": w, "height": abs(h)}


def bmp_mean_luma(b: bytes):
    """REAL BMP pixel decode for uncompressed BI_RGB payloads: 24-bit
    BGR or 8-bit palettized rows (BGRA palette quads between the info
    header and bfOffBits), 4-byte row padding, bottom-up for positive
    biHeight / top-down for negative — the same DIB raster the AVI
    '00db' video lane decodes (_dib_frame_stats), here under the BMP
    file header. Integer accumulation, one final division, 6 dp
    (the png_mean_luma discipline). None = quarantine (compressed /
    truncated / exotic depths)."""
    if bmp_dims(b) is None:
        return None
    data_off = int.from_bytes(b[10:14], "little")
    bisize = int.from_bytes(b[14:18], "little")
    fmt = {
        "width": int.from_bytes(b[18:22], "little"),
        "height": int.from_bytes(b[22:26], "little", signed=True),
        "bits": int.from_bytes(b[28:30], "little"),
        "compression": b[30:34],
        "palette": bytes(b[14 + bisize:data_off]),
    }
    if data_off >= len(b):
        return None
    if fmt["compression"] == b"\x01\x00\x00\x00":  # BI_RLE8
        if fmt["bits"] != 8 or fmt["height"] <= 0:
            return None  # RLE is 8-bit bottom-up only per the format
        pal = _bgra_palette(fmt["palette"])
        if pal is None:
            return None
        idx = _bmp_rle8_decode(
            b[data_off:], fmt["width"], fmt["height"])
        if idx is None:
            return None
        return mean_luma(pal[idx], bgr=True)
    if fmt["compression"] != b"\x00\x00\x00\x00":
        return None  # BI_RLE4/BI_BITFIELDS: quarantine
    st = _dib_frame_stats(b[data_off:], fmt)
    return None if st is None else st[2]


def _bmp_rle8_decode(data: bytes, w: int, h: int):
    """BI_RLE8 (BMP compression 1) -> row-major index raster
    (bottom-up storage unwound to top-down). Encoded runs
    (count, value), escape 00: 00=end-of-line, 01=end-of-bitmap,
    02=delta(dx, dy) — skipped pixels are index 0 per the format's
    convention — and 03..FF = absolute mode (n literals, padded to a
    word boundary). None on torn streams or out-of-bounds writes."""
    import numpy as np

    out = np.zeros((h, w), np.uint8)
    x, y = 0, 0  # y counts from the BOTTOM row (RLE is bottom-up)
    i = 0
    n = len(data)
    while i + 1 < n:
        c, v = data[i], data[i + 1]
        i += 2
        if c:  # encoded run
            if y >= h or x + c > w:
                return None
            out[h - 1 - y, x:x + c] = v
            x += c
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            return out
        elif v == 2:  # delta
            if i + 2 > n:
                return None
            x += data[i]
            y += data[i + 1]
            i += 2
            if x > w or y > h:
                return None
        else:  # absolute mode: v literal indices, word-aligned
            if i + v > n or y >= h or x + v > w:
                return None
            out[h - 1 - y, x:x + v] = np.frombuffer(
                data[i:i + v], np.uint8)
            x += v
            i += v + (v & 1)
    return None  # ran out of input before end-of-bitmap


def pnm_dims(b: bytes) -> Optional[dict]:
    """Binary netpbm (P5 graymap / P6 pixmap): whitespace-and-comment
    tolerant header parse -> {format:'pnm', width, height} (+ the
    parsed maxval and raster offset stashed for the decoder)."""
    if len(b) < 2 or b[:1] != b"P" or b[1:2] not in b"56":
        return None
    fields = []
    i = 2
    while len(fields) < 3 and i < len(b):
        c = b[i:i + 1]
        if c == b"#":  # comment runs to end of line
            while i < len(b) and b[i:i + 1] not in (b"\n", b"\r"):
                i += 1
        elif c.isspace():
            i += 1
        elif c.isdigit():
            j = i
            while j < len(b) and b[j:j + 1].isdigit():
                j += 1
            fields.append(int(b[i:j]))
            i = j
        else:
            return None
    if len(fields) < 3 or i >= len(b) or not b[i:i + 1].isspace():
        return None
    w, h, maxval = fields
    if w <= 0 or h <= 0 or not 0 < maxval < 65536:
        return None
    return {"format": "pnm", "width": w, "height": h,
            "_maxval": maxval, "_data": i + 1,
            "_rgb": b[1:2] == b"6"}


def pnm_mean_luma(b: bytes):
    """REAL netpbm raster decode: P5 gray / P6 RGB, 1 byte per sample
    at maxval < 256 else 2 bytes big-endian (the PNM spec's only two
    encodings). Mean is over NATIVE sample values (a 16-bit graymap
    reports its 16-bit mean — the jpeg12 discipline) with RGB reduced
    by mean_luma. None = truncated raster."""
    import numpy as np

    meta = pnm_dims(b)
    if meta is None:
        return None
    w, h, maxval = meta["width"], meta["height"], meta["_maxval"]
    spp = 3 if meta["_rgb"] else 1
    bps = 2 if maxval > 255 else 1
    need = w * h * spp * bps
    raster = b[meta["_data"]:meta["_data"] + need]
    if len(raster) < need:
        return None
    a = np.frombuffer(raster, np.uint8)
    if bps == 2:
        a = (a[0::2].astype(np.int64) << 8) | a[1::2]
    return mean_luma(a.reshape((h, w, 3) if spp == 3 else (h, w)))


def webp_dims(b: bytes) -> Optional[dict]:
    """WebP header parse, all three container layouts: 'VP8 ' (lossy
    — 3-byte frame tag, 9D 01 2A start code, 14-bit dims), 'VP8L'
    (lossless — 0x2F signature, 14-bit w-1/h-1 bitfields) and 'VP8X'
    (extended — 24-bit LE canvas w-1/h-1). Header-only on purpose:
    VP8's boolean-arithmetic entropy decode and VP8L's
    neighbor-distance table have no in-container conformance vectors
    (the arithmetic-JPEG quarantine rationale), so pixel stats stay
    quarantined and dims/format/digest flow from here."""
    if len(b) < 30 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        return None
    fourcc = b[12:16]
    if fourcc == b"VP8 ":
        if b[23:26] != b"\x9d\x01\x2a":
            return None
        w = int.from_bytes(b[26:28], "little") & 0x3FFF
        h = int.from_bytes(b[28:30], "little") & 0x3FFF
        variant = "vp8"
    elif fourcc == b"VP8L":
        if b[20] != 0x2F:
            return None
        bits = int.from_bytes(b[21:25], "little")
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        variant = "vp8l"
    elif fourcc == b"VP8X":
        w = int.from_bytes(b[24:27], "little") + 1
        h = int.from_bytes(b[27:30], "little") + 1
        variant = "vp8x"
    else:
        return None
    if w <= 0 or h <= 0:
        return None
    return {"format": "webp", "width": w, "height": h,
            "variant": variant}


def _j2k_siz(b: bytes, off: int) -> Optional[dict]:
    """Parse the SIZ marker segment at byte offset `off` (which must
    point at FF 51): image grid minus offsets gives the true dims; the
    first component's Ssiz gives the stored bit depth (low 7 bits are
    depth-1, bit 7 is the signedness flag)."""
    if b[off:off + 2] != b"\xff\x51" or len(b) < off + 41:
        return None
    xsiz = int.from_bytes(b[off + 6:off + 10], "big")
    ysiz = int.from_bytes(b[off + 10:off + 14], "big")
    xo = int.from_bytes(b[off + 14:off + 18], "big")
    yo = int.from_bytes(b[off + 18:off + 22], "big")
    csiz = int.from_bytes(b[off + 38:off + 40], "big")
    if csiz < 1 or len(b) < off + 40 + 3 * csiz:
        return None
    w, h = xsiz - xo, ysiz - yo
    if w <= 0 or h <= 0:
        return None
    return {"format": "jp2", "width": w, "height": h,
            "n_components": csiz,
            "bits": (b[off + 40] & 0x7F) + 1}


def jp2_dims(b: bytes) -> Optional[dict]:
    """JPEG 2000 header parse — the one PDF-native payload format
    (/JPXDecode, a passthrough filter in the reference:
    /root/reference/filters.py:321-330) with no sniffer until round 8.
    Covers the raw codestream (SOC + SIZ marker segment) and the
    JP2/JPX container (signature box -> box walk, incl. XLBox
    extended lengths -> jp2h/ihdr; a jp2c codestream's SIZ is
    authoritative when present). Header-only BY DESIGN: EBCOT/MQ
    entropy decode has no in-container conformance vectors (the
    arithmetic-JPEG / WebP quarantine rationale), so pixel stats stay
    quarantined and dims/components/bit-depth flow from here."""
    if len(b) >= 4 and b[:4] == b"\xff\x4f\xff\x51":
        siz = _j2k_siz(b, 2)
        if siz is not None:
            siz["variant"] = "j2k"
        return siz
    if len(b) < 20 or b[:12] != b"\x00\x00\x00\x0cjP  \r\n\x87\n":
        return None
    ihdr_meta = None
    i = 12
    while i + 8 <= len(b):
        ln = int.from_bytes(b[i:i + 4], "big")
        typ = b[i + 4:i + 8]
        hdr = 8
        if ln == 1:  # XLBox: 8-byte extended length after the type
            if i + 16 > len(b):
                break
            ln = int.from_bytes(b[i + 8:i + 16], "big")
            hdr = 16
        elif ln == 0:  # box runs to EOF
            ln = len(b) - i
        if ln < hdr:
            break
        if typ == b"jp2h":  # superbox: walk children for ihdr
            j = i + hdr
            end = min(i + ln, len(b))
            while j + 8 <= end:
                cl = int.from_bytes(b[j:j + 4], "big")
                ct = b[j + 4:j + 8]
                if cl == 0:
                    cl = end - j
                if cl < 8:
                    break
                if ct == b"ihdr" and j + 22 <= len(b):
                    h = int.from_bytes(b[j + 8:j + 12], "big")
                    w = int.from_bytes(b[j + 12:j + 16], "big")
                    nc = int.from_bytes(b[j + 16:j + 18], "big")
                    bpc = b[j + 18]
                    if w > 0 and h > 0 and nc > 0:
                        ihdr_meta = {
                            "format": "jp2", "width": w, "height": h,
                            "n_components": nc,
                            # 255 = "components differ" -> bits unknown
                            "bits": ((bpc & 0x7F) + 1
                                     if bpc != 255 else None),
                            "variant": "jp2",
                        }
                j += cl
        elif typ == b"jp2c":
            c = i + hdr
            if b[c:c + 4] == b"\xff\x4f\xff\x51":
                siz = _j2k_siz(b, c + 2)
                if siz is not None:
                    siz["variant"] = "jp2"
                    return siz
            break
        i += ln
    return ihdr_meta


def _tga_header(b: bytes) -> Optional[dict]:
    """TGA has no magic — validate the 18-byte header fields instead
    (image_type, bpp, colormap consistency) so the sniff stays safe
    inside image_dims' or-chain. Returns the parsed header or None."""
    if len(b) < 18:
        return None
    id_len, cm_type, img_type = b[0], b[1], b[2]
    cm_first = int.from_bytes(b[3:5], "little")
    cm_len = int.from_bytes(b[5:7], "little")
    cm_bits = b[7]
    w = int.from_bytes(b[12:14], "little")
    h = int.from_bytes(b[14:16], "little")
    bpp = b[16]
    desc = b[17]
    if img_type not in (1, 2, 3, 9, 10, 11) or cm_type not in (0, 1):
        return None
    if w <= 0 or h <= 0 or w > 0xFFFF or h > 0xFFFF:
        return None
    if img_type in (1, 9):  # palettized requires a colormap
        if cm_type != 1 or cm_len == 0 or cm_bits not in (24, 32) \
                or bpp != 8:
            return None
    elif cm_type != 0 or cm_len != 0:
        return None
    if img_type in (3, 11) and bpp != 8:
        return None
    if img_type in (2, 10) and bpp not in (24, 32):
        return None
    return {"id_len": id_len, "img_type": img_type, "cm_first": cm_first,
            "cm_len": cm_len, "cm_bits": cm_bits, "width": w,
            "height": h, "bpp": bpp, "topdown": bool(desc & 0x20)}


def tga_dims(b: bytes) -> Optional[dict]:
    """Truevision TGA: header-validated sniff -> {format, width,
    height} (types 1/2/3 and their RLE forms 9/10/11)."""
    hd = _tga_header(b)
    if hd is None:
        return None
    return {"format": "tga", "width": hd["width"],
            "height": hd["height"]}


def _tga_rle_expand(data: bytes, n_px: int, psize: int):
    """TGA RLE: packet header bit7 = run (one pixel repeated
    count times) else raw (count literal pixels); count = low7 + 1.
    Returns the expanded raster or None on a torn stream."""
    out = bytearray()
    need = n_px * psize
    i = 0
    while len(out) < need:
        if i >= len(data):
            return None
        hdr = data[i]
        count = (hdr & 0x7F) + 1
        i += 1
        if hdr & 0x80:  # run packet
            px = data[i:i + psize]
            if len(px) < psize:
                return None
            out += px * count
            i += psize
        else:  # raw packet
            chunk = data[i:i + count * psize]
            if len(chunk) < count * psize:
                return None
            out += chunk
            i += count * psize
    return bytes(out[:need])


def tga_mean_luma(b: bytes):
    """REAL TGA raster decode: grayscale (type 3), truecolor BGR/BGRA
    (type 2), palettized over a BGR/BGRA colormap (type 1), plus all
    three RLE forms (9/10/11); bottom-up by default, top-down when
    descriptor bit 5 is set (orientation does not move the mean but
    torn-stream handling differs). Integer accumulation, one final
    division, 6 dp; alpha ignored for luma. None = quarantine."""
    import numpy as np

    hd = _tga_header(b)
    if hd is None:
        return None
    w, h, bpp = hd["width"], hd["height"], hd["bpp"]
    psize = bpp // 8
    i = 18 + hd["id_len"]
    cmap = None
    if hd["img_type"] in (1, 9):
        csize = hd["cm_bits"] // 8
        cbytes = b[i:i + hd["cm_len"] * csize]
        if len(cbytes) < hd["cm_len"] * csize:
            return None
        i += hd["cm_len"] * csize
        cm = np.frombuffer(cbytes, np.uint8).reshape(-1, csize)
        # map entries land at cm_first..cm_first+cm_len-1 (BGR(A)
        # order); indices outside the map read black
        cmap = np.zeros((256, csize), np.uint8)
        hi = min(hd["cm_first"] + hd["cm_len"], 256)
        cmap[hd["cm_first"]:hi] = cm[:hi - hd["cm_first"]]
    if hd["img_type"] >= 9:  # RLE forms
        raster = _tga_rle_expand(b[i:], w * h, psize)
        if raster is None:
            return None
    else:
        raster = b[i:i + w * h * psize]
        if len(raster) < w * h * psize:
            return None
    px = np.frombuffer(raster, np.uint8).reshape(h, w, psize)
    if psize == 1:  # grayscale samples or colormap indices
        px = px[..., 0] if cmap is None else cmap[px[..., 0]]
    return mean_luma(px, bgr=True)


def ico_dims(b: bytes) -> Optional[dict]:
    """Windows ICO: ICONDIR (reserved 0, type 1, count >= 1) ->
    dims of the FIRST directory entry (0 encodes 256)."""
    if len(b) < 22 or b[:4] != b"\x00\x00\x01\x00":
        return None
    count = int.from_bytes(b[4:6], "little")
    if count == 0:
        return None
    w = b[6] or 256
    h = b[7] or 256
    return {"format": "ico", "width": w, "height": h}


def ico_mean_luma(b: bytes):
    """REAL ICO first-image decode: a PNG-compressed entry goes
    through the full PNG pixel path; a classic DIB entry decodes via
    the shared BI_RGB raster math (BITMAPINFOHEADER with DOUBLED
    biHeight — XOR color plane first, then the 1-bit AND mask, which
    is parsed past but excluded from luma). None = quarantine."""
    if ico_dims(b) is None:
        return None
    off = int.from_bytes(b[18:22], "little")
    size = int.from_bytes(b[14:18], "little")
    if off + size > len(b) or size < 8:
        return None
    img = b[off:off + size]
    if img[:8] == b"\x89PNG\r\n\x1a\n":
        return png_mean_luma(img)
    if len(img) < 40:
        return None
    bisize = int.from_bytes(img[0:4], "little")
    if bisize < 40:
        return None
    h2 = int.from_bytes(img[8:12], "little", signed=True)
    if h2 % 2 != 0:
        return None  # ICO DIB height covers XOR + AND planes
    fmt = {
        "width": int.from_bytes(img[4:8], "little"),
        "height": h2 // 2,  # XOR plane only; sign keeps orientation
        "bits": int.from_bytes(img[14:16], "little"),
        "compression": img[16:20],
        "palette": bytes(img[bisize:bisize + 4 * 256]),
    }
    if fmt["compression"] != b"\x00\x00\x00\x00":
        return None
    pal_len = 4 * 256 if fmt["bits"] == 8 else 0
    st = _dib_frame_stats(img[bisize + pal_len:], fmt)
    return None if st is None else st[2]


def image_dims(b: bytes) -> Optional[dict]:
    """Sniff the container by magic and return
    {format, width, height}, or None for unrecognised payloads."""
    if not b:
        return None
    dims = (png_dims(b) or jpeg_dims(b) or gif_dims(b) or tiff_dims(b)
            or bmp_dims(b) or pnm_dims(b) or ico_dims(b)
            or webp_dims(b) or jp2_dims(b) or tga_dims(b))
    if dims is not None:
        # the pnm parser's private header fields stay kernel-internal
        dims = {k: v for k, v in dims.items() if not k.startswith("_")}
    return dims


def _tiff_entry(b: bytes, want: int):
    """(byte order, type, count, entry offset) of tag `want` in the
    first IFD, or None (absent, or the entry table runs past EOF)."""
    bo = "little" if b[:2] == b"II" else "big"
    ifd = int.from_bytes(b[4:8], bo)
    n = int.from_bytes(b[ifd:ifd + 2], bo)
    for k in range(n):
        e = ifd + 2 + 12 * k
        if e + 12 > len(b):
            return None
        if int.from_bytes(b[e:e + 2], bo) == want:
            return (bo, int.from_bytes(b[e + 2:e + 4], bo),
                    int.from_bytes(b[e + 4:e + 8], bo), e)
    return None


def _tiff_tag(b: bytes, want: int) -> Optional[int]:
    ent = _tiff_entry(b, want)
    if ent is None:
        return None
    bo, typ, _, e = ent
    return int.from_bytes(b[e + 8:e + (10 if typ == 3 else 12)], bo)


def _tiff_tag_bytes(b: bytes, want: int) -> Optional[bytes]:
    """Raw payload of a BYTE/UNDEFINED IFD tag (e.g. JPEGTables 347)."""
    ent = _tiff_entry(b, want)
    if ent is None:
        return None
    bo, typ, cnt, e = ent
    if typ not in (1, 7) or cnt == 0:
        return None
    base = e + 8 if cnt <= 4 else int.from_bytes(b[e + 8:e + 12], bo)
    if base + cnt > len(b):
        return None
    return b[base:base + cnt]


def _tiff_jpeg_block(b: bytes, raw: bytes, comp: int):
    """Decode one JPEG-compressed TIFF strip/tile, a full interchange
    stream (None unless it opens with SOI). New-style blocks
    (compression 7): if a JPEGTables (347) abbreviated stream is
    present, splice its table segments between the block's SOI and
    body (TIFF-EP §, the standard table-sharing form). Old-style
    (6) streams carry their own tables."""
    from .jpeg import decode_jpeg

    if raw[:2] != b"\xff\xd8":
        return None
    tables = _tiff_tag_bytes(b, 347) if comp == 7 else None
    if tables and len(tables) > 4 and tables[:2] == b"\xff\xd8" \
            and tables[-2:] == b"\xff\xd9":
        raw = b"\xff\xd8" + tables[2:-2] + raw[2:]
    return decode_jpeg(bytes(raw))


def tiff_g4_pixels(b: bytes):
    """Pixel rows (1=black) from a single-strip fax TIFF — the
    container our own ccitt_fax_wrap emits. Compression 4 -> T.6 MMR
    (G4); compression 3 -> T.4: MIXED-MODE 2-D (MR, the /K > 0 case)
    when T4Options (tag 292) bit 0 is set, else one-dimensional MH
    (the /K 0 case). Returns None for anything else. (The reference's
    Fax decoder, filters.py:434-899, mis-decodes everything beyond
    all-white vertical streams and prints 'Cannot handle G3' — see
    tests/test_kernel_edges.py / test_ccitt_g4.py.)"""
    d = tiff_dims(b)
    comp = _tiff_tag(b, 259)
    if d is None or comp not in (3, 4):
        return None
    off = _tiff_tag(b, 273)
    size = _tiff_tag(b, 279)
    if off is None or size is None or off + size > len(b):
        return None
    from .ccitt_g4 import g3_decode_1d, g3_decode_2d, g4_decode

    if comp == 4:
        decode = g4_decode
    elif (_tiff_tag(b, 292) or 0) & 1:
        decode = g3_decode_2d
    else:
        decode = g3_decode_1d
    return decode(b[off:off + size], d["width"], d["height"])


def _tiff_tag_array(b: bytes, want: int):
    """All values of a SHORT/LONG IFD tag (inline when they fit in the
    4-byte value field, else at the pointed-to offset)."""
    ent = _tiff_entry(b, want)
    if ent is None:
        return None
    bo, typ, cnt, e = ent
    size = 2 if typ == 3 else 4
    if typ not in (3, 4) or cnt == 0:
        return None
    if cnt * size <= 4:
        base = e + 8
    else:
        base = int.from_bytes(b[e + 8:e + 12], bo)
    if base + cnt * size > len(b):
        return None
    return [
        int.from_bytes(b[base + i * size:base + (i + 1) * size], bo)
        for i in range(cnt)
    ]


def _packbits_decode(data: bytes, expect: int) -> bytes:
    """Apple PackBits (TIFF compression 32773)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n and len(out) < expect:
        c = data[i]
        i += 1
        if c < 128:  # literal run of c+1 bytes
            out += data[i:i + c + 1]
            i += c + 1
        elif c > 128:  # repeat next byte 257-c times
            if i >= n:
                break
            out += bytes([data[i]]) * (257 - c)
            i += 1
        # c == 128: no-op
    return bytes(out)


def _tiff_segment(b, raw, comp, rows, cols, spp, depth, predictor):
    """One raw strip or tile -> a (>= rows, >= cols, spp) uint8 array,
    or None. The one place a TIFF segment is decompressed (none, LZW,
    PackBits, or a JPEG block), 1-bit rows are unpacked (1 -> 255;
    WhiteIsZero inverts the whole canvas later) and the horizontal
    predictor is undone: it restarts on every segment row."""
    import numpy as _np

    from .filters import lzw_decode

    if comp in (6, 7):
        blk = _tiff_jpeg_block(b, raw, comp)
        if blk is None or blk.dtype != _np.uint8:
            return None
        if blk.ndim == 2:
            blk = blk[..., None]
        if blk.shape[0] < rows or blk.shape[1] < cols \
                or blk.shape[2] != spp:
            return None
        return blk
    rowbytes = (cols * spp * depth + 7) // 8
    expect = rows * rowbytes
    if comp == 5:
        raw = lzw_decode(raw, None)
    elif comp == 32773:
        raw = _packbits_decode(raw, expect)
    if len(raw) < expect:
        return None
    px = _np.frombuffer(raw[:expect], _np.uint8)
    if depth == 1:
        bits = _np.unpackbits(px.reshape(rows, rowbytes), axis=1)
        return bits[:, :cols, None] * _np.uint8(255)
    px = px.reshape(rows, cols, spp)
    if predictor == 2:  # horizontal differencing: cumsum per row
        px = _np.cumsum(px.astype(_np.uint32), axis=1).astype(_np.uint8)
    return px


def tiff_pixels(b: bytes):
    """Decode a baseline multi-strip TIFF to (width, height, channels,
    pixel_bytes) with 8-bit samples: compressions 1 (none), 5 (LZW —
    the same MSB-first EarlyChange variant as PDF's LZWDecode), 6
    (OLD-style JPEG: interchange-stream and full-JPEG-strip forms;
    the tables-fragment form quarantines), 7 (new-style JPEG) and
    32773 (PackBits); 8-bit gray/RGB and 1-bit bilevel (photometric 0
    inverted per WhiteIsZero); horizontal-differencing predictor (tag
    317 = 2). Fax-compressed TIFFs go through tiff_g4_pixels instead.
    None for anything else — quarantine-friendly."""
    try:
        return _tiff_decode(b)
    except Exception:
        return None


def _tiff_decode(b: bytes):
    """Every layout is one segment grid pasted onto one canvas. A strip
    is a tile as wide as the image (TIFF 6.0 §15); PlanarConfiguration
    2 (§14) repeats the grid once per plane, plane 0 first, each
    segment holding one sample per pixel. OLD-style JPEG (compression
    6, §22) reads its JPEGInterchangeFormat (513/514) stream as one
    whole-image segment, else every strip as its own full interchange
    stream, and its pixels are never inverted. Its broken
    tables-in-tags fragment form (515-521, no SOI) stays quarantined:
    without the writer's private reassembly rules any decode would be
    a guess, and a wrong pixel is worse than an error column."""
    import numpy as _np

    d = tiff_dims(b)
    if d is None:
        return None
    comp = _tiff_tag(b, 259) or 1
    if comp not in (1, 5, 6, 7, 32773):
        return None
    w, h = d["width"], d["height"]
    if w == 0 or h == 0:
        return None
    spp = _tiff_tag(b, 277) or 1
    bits = _tiff_tag_array(b, 258) or [1]
    if len(set(bits)) != 1:
        return None
    depth = bits[0]
    photometric = _tiff_tag(b, 262)
    predictor = _tiff_tag(b, 317) or 1
    planar = _tiff_tag(b, 284) or 1
    if comp == 6:  # chunky 8-bit; the tile tags and predictor unused
        if depth != 8 or planar != 1:
            return None
    elif ((depth, spp) not in ((8, 1), (8, 3), (1, 1))
          or predictor not in (1, 2) or (predictor == 2 and depth != 8)
          or planar not in (1, 2)):
        return None
    elif comp == 7 and (predictor != 1 or depth != 8):
        return None  # new-style JPEG blocks carry no TIFF predictor
    planes = spp if planar == 2 and spp > 1 else 1
    tw, th = _tiff_tag(b, 322), _tiff_tag(b, 323)
    tiled = bool(tw and th) and comp != 6
    if tiled:
        if planes > 1 and comp == 7:
            return None  # the planar x tiled x JPEG triple: quarantined
        offs, sizes = _tiff_tag_array(b, 324), _tiff_tag_array(b, 325)
    else:
        tw, th = w, _tiff_tag(b, 278) or h
        offs, sizes = _tiff_tag_array(b, 273), _tiff_tag_array(b, 279)
    if comp == 6:
        off, ln = _tiff_tag(b, 513), _tiff_tag(b, 514)
        if off is not None and ln and off + ln <= len(b) \
                and b[off:off + 2] == b"\xff\xd8":
            offs, sizes, th = [off], [ln], h
    if not offs or not sizes or len(offs) != len(sizes):
        return None
    across = -(-w // tw)
    grid = across * -(-h // th)
    need = planes * grid
    if len(offs) < need or (len(offs) > need and (tiled or planes > 1)):
        return None  # only chunky strips may trail past the last row
    sub = spp // planes
    # a chunky new-style JPEG strip must be exactly as wide as the image
    exact = comp == 7 and not tiled and planes == 1
    canvas = _np.zeros((h, w, spp), dtype=_np.uint8)
    for i, (off, size) in enumerate(zip(offs, sizes)):
        if off + size > len(b):
            return None
        # a trailing chunky strip covers no rows: decoded, then dropped
        p, k = divmod(i, grid) if i < need else (0, i)
        y0, x0 = k // across * th, k % across * tw
        ny, nx = max(0, min(th, h - y0)), min(tw, w - x0)
        seg = _tiff_segment(b, b[off:off + size], comp,
                            th if tiled else ny, tw, sub, depth, predictor)
        if seg is None or (exact and seg.shape[1] != w):
            return None
        canvas[y0:y0 + ny, x0:x0 + nx, p * sub:(p + 1) * sub] = \
            seg[:ny, :nx]
    if photometric == 0 and comp != 6:  # WhiteIsZero
        canvas = 255 - canvas
    return w, h, spp, canvas.tobytes()


def tiff_mean_luma(b: bytes):
    """Mean ITU-R 601 luminance of a baseline TIFF (same integer
    discipline as png_mean_luma)."""
    return _decoded_luma(tiff_pixels(b))


def ink_ratio(b: bytes) -> Optional[float]:
    """Black-pixel fraction of a G4 TIFF payload (scanned-corpus quality
    signal: near-0 = blank page, near-1 = saturated scan)."""
    rows = tiff_g4_pixels(b)
    if not rows:
        return None
    total = sum(len(r) for r in rows)
    black = sum(sum(r) for r in rows)
    return black / total if total else None


# --- audio/video container headers (VERDICT r2 item 7) -----------------------
# Same discipline as the image headers above: duration/rate/dims live in
# fixed container structures (RIFF fmt/data chunks, ISO-BMFF mvhd/tkhd
# boxes) — no codec library needed; SAMPLE decode stays out of scope.


def _iter_chunks(b: bytes, start: int, end: int, order: str):
    """Walk a RIFF ('little') or IFF ('big') chunk list in b[start:end]:
    yield (fourcc, body_start, declared_body_end) for every chunk whose
    8-byte header fits. Bodies pad to even offsets per both specs. The
    declared end may run past `end` or the buffer; each caller decides
    whether that clips (slicing) or quarantines (a torn movi chunk)."""
    i = start
    while i + 8 <= end:
        size = int.from_bytes(b[i + 4:i + 8], order)
        yield b[i:i + 4], i + 8, i + 8 + size
        i += 8 + size + (size & 1)


def _wav_parse(b: bytes):
    """The one WAV fmt/data parse shared by wav_info and _wav_samples:
    (fmt, data) where fmt = (format code, channels, sample rate, byte
    rate, block align, bits) of the last well-formed fmt chunk and data
    = (body_start, declared_body_end) of the last data chunk, either
    None when absent. None when b is not RIFF/WAVE."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    fmt = data = None
    for cid, s, e in _iter_chunks(b, 12, len(b), "little"):
        if cid == b"fmt " and e - s >= 16 and s + 16 <= len(b):
            # a short fmt chunk (size < 16) is ignored, not read with
            # the NEXT chunk's header bytes as its format code / bits
            fmt = struct.unpack_from("<HHIIHH", b, s)
        elif cid == b"data":
            data = (s, e)
    return fmt, data


def wav_info(b: bytes) -> Optional[dict]:
    """WAV (RIFF): fmt chunk (channels, sample rate, bits) and data
    chunk size (-> duration)."""
    fmt, data = _wav_parse(b) or (None, None)
    if fmt is None:
        return None
    _, channels, rate, _, _, bits = fmt
    out = {
        "format": "wav",
        "sample_rate": rate,
        "channels": channels,
        "bits": bits,
    }
    if data is not None and rate and channels and bits:
        bytes_per_sec = rate * channels * (bits // 8)
        if bytes_per_sec:
            out["duration_ms"] = (data[1] - data[0]) * 1000 // bytes_per_sec
    return out


# G.711 (public ITU spec) byte -> linear decode, used for WAV format
# codes 6 (A-law) and 7 (mu-law). Pure closed-form expansion; the
# canonical identities (u-law 0xFF -> 0, u-law 0x7F -> 0, A-law
# 0x55 -> -8) are pinned in tests.
def _ulaw_to_linear(u: int) -> int:
    u = ~u & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    x = (((mant << 3) + 0x84) << exp) - 0x84
    return -x if sign else x


def _alaw_to_linear(a: int) -> int:
    a ^= 0x55
    sign = a & 0x80
    exp = (a >> 4) & 0x07
    mant = a & 0x0F
    if exp == 0:
        x = (mant << 4) + 8
    else:
        x = ((mant << 4) + 0x108) << (exp - 1)
    return x if sign else -x


def _g711(data: bytes, alaw: bool):
    """G.711 bytes -> (int64 samples, full scale): A-law when `alaw`,
    else mu-law, through the one 256-entry table built from the
    closed-form expansions above."""
    import numpy as np

    expand = _alaw_to_linear if alaw else _ulaw_to_linear
    lut = np.array([expand(v) for v in range(256)], dtype=np.int64)
    return lut[np.frombuffer(data, dtype=np.uint8)], 32768.0


def _linear_pcm(data: bytes, bits: int, order: str, offset8: bool = False):
    """Linear PCM bytes -> (int64 samples, full scale 2^(bits-1)), or
    None for depths other than 8/16/24/32. `order` is '<' (little-
    endian) or '>' (big-endian); a trailing partial sample is dropped.
    Samples are signed except 8-bit with `offset8` (offset-binary, as
    WAV and QuickTime 'raw ' store it)."""
    import numpy as np

    if bits not in (8, 16, 24, 32):
        return None
    width = bits // 8
    data = data[:len(data) - len(data) % width]
    if bits == 24:  # no numpy dtype: assemble big-endian, sign-extend
        a = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        a = a.astype(np.int64)
        if order == "<":
            a = a[:, ::-1]
        x = (a[:, 0] << 16) | (a[:, 1] << 8) | a[:, 2]
        x = np.where(x >= 1 << 23, x - (1 << 24), x)
    elif bits == 8 and offset8:
        x = np.frombuffer(data, dtype=np.uint8).astype(np.int64) - 128
    else:
        x = np.frombuffer(data, dtype=f"{order}i{width}").astype(np.int64)
    return x, float(1 << (bits - 1))


def _float32_pcm(data: bytes, order: str):
    """IEEE float32 bytes -> float64 samples, or None when there are
    none or any is NaN/Inf (those would flow straight through np.mean
    into the feature row — quarantine instead)."""
    import numpy as np

    xf = np.frombuffer(data[:len(data) - len(data) % 4],
                       dtype=f"{order}f4").astype(np.float64)
    if not xf.size or not np.isfinite(xf).all():
        return None
    return xf


# --- ADPCM (public specs: IMA/DVI ADPCM per the IMA Digital Audio ---
# --- compatibility pack; Microsoft ADPCM per the MS WAVE format doc) -

# IMA step-size table (89 entries) and per-nibble index adjustment —
# both fixed by the public IMA ADPCM specification.
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767,
)
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

# flattened (step_index * 16 + nibble) -> (signed diff, next index):
# the inner loop is pure table lookups (round 7 perf — the shifts and
# clamps are state-independent, so they precompute exactly)
_IMA_DIFF = []
_IMA_NEXT = []
for _ix in range(89):
    _step = _IMA_STEPS[_ix]
    for _nib in range(16):
        _d = _step >> 3
        if _nib & 1:
            _d += _step >> 2
        if _nib & 2:
            _d += _step >> 1
        if _nib & 4:
            _d += _step
        _IMA_DIFF.append(-_d if _nib & 8 else _d)
        _nx = _ix + _IMA_INDEX[_nib]
        _IMA_NEXT.append(0 if _nx < 0 else (88 if _nx > 88 else _nx))
_IMA_DIFF = tuple(_IMA_DIFF)
_IMA_NEXT = tuple(_IMA_NEXT)
del _ix, _step, _nib, _d, _nx

# Microsoft ADPCM adaptation table + the 7 standard predictor
# coefficient pairs (spec fixes both; the fmt-chunk copy is redundant).
_MS_ADAPT = (230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230)
_MS_COEF = ((256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
            (460, -208), (392, -232))


def _ima_adpcm_decode(data: bytes, channels: int, block_align: int):
    """IMA ADPCM (WAV format 17) -> list of int16 samples. Block layout
    per the IMA spec: a 4-byte header per channel (int16 predictor,
    uint8 step index, reserved) — the predictor IS the block's first
    output frame — then nibble data in 4-byte groups per channel
    (low nibble first). Only whole blocks decode; a malformed header
    (step index > 88) or geometry quarantines (None)."""
    if channels < 1 or block_align < 4 * channels:
        return None
    if (block_align - 4 * channels) % (4 * channels):
        return None
    n_blocks = len(data) // block_align
    if not n_blocks:
        return None
    out = []
    if channels == 1:
        # mono fast path (round 9): one continuous nibble run per
        # block — the general path pays a slice + state rebind every
        # 4 bytes, which is pure overhead when there is no channel
        # interleave. Identical output (differential test).
        append = out.append
        diff = _IMA_DIFF
        nxt = _IMA_NEXT
        for k in range(0, n_blocks * block_align, block_align):
            p = int.from_bytes(data[k:k + 2], "little", signed=True)
            ix = data[k + 2]
            if ix > 88:
                return None
            append(p)
            for byte in data[k + 4:k + block_align]:
                t = (ix << 4) | (byte & 0x0F)
                p += diff[t]
                if p < -32768:
                    p = -32768
                elif p > 32767:
                    p = 32767
                append(p)
                t = (nxt[t] << 4) | (byte >> 4)
                p += diff[t]
                if p < -32768:
                    p = -32768
                elif p > 32767:
                    p = 32767
                append(p)
                ix = nxt[t]
        return out
    for k in range(0, n_blocks * block_align, block_align):
        pred = []
        idx = []
        for c in range(channels):
            h = k + 4 * c
            pred.append(int.from_bytes(data[h:h + 2], "little",
                                       signed=True))
            step_idx = data[h + 2]
            if step_idx > 88:
                return None
            idx.append(step_idx)
        out.extend(pred)  # frame 0 = the header predictors
        body = data[k + 4 * channels:k + block_align]
        # per-channel sample runs, interleaved in 4-byte groups
        chans = [[] for _ in range(channels)]
        for g in range(0, len(body), 4 * channels):
            for c in range(channels):
                p, ix = pred[c], idx[c]
                append = chans[c].append
                for byte in body[g + 4 * c:g + 4 * c + 4]:
                    # t, never k: the block-offset loop variable must
                    # not be shadowed by the lookup-table index
                    t = (ix << 4) | (byte & 0x0F)
                    p += _IMA_DIFF[t]
                    p = -32768 if p < -32768 else (
                        32767 if p > 32767 else p)
                    append(p)
                    t = (_IMA_NEXT[t] << 4) | (byte >> 4)
                    p += _IMA_DIFF[t]
                    p = -32768 if p < -32768 else (
                        32767 if p > 32767 else p)
                    append(p)
                    ix = _IMA_NEXT[t]
                pred[c], idx[c] = p, ix
        # interleave channel runs into frames
        if channels == 1:
            out.extend(chans[0])
        else:
            for frame in zip(*chans):
                out.extend(frame)
    return out


def _ms_adpcm_decode(data: bytes, channels: int, block_align: int):
    """Microsoft ADPCM (WAV format 2) -> list of int16 samples. Block
    header per channel: predictor-coefficient index (1 byte), initial
    delta (int16), sample1, sample2 (int16 each, 7 bytes x channels);
    sample2 then sample1 are the first two output frames, then one
    sample per nibble (HIGH nibble first, channels alternating).
    Coefficient index > 6 or non-positive delta quarantines."""
    hdr = 7 * channels
    if channels < 1 or block_align <= hdr:
        return None
    n_blocks = len(data) // block_align
    if not n_blocks:
        return None
    out = []
    for k in range(0, n_blocks * block_align, block_align):
        coef = []
        delta = []
        s1 = []
        s2 = []
        for c in range(channels):
            ip = data[k + c]
            if ip > 6:
                return None
            coef.append(_MS_COEF[ip])
            d0 = int.from_bytes(
                data[k + channels + 2 * c:k + channels + 2 * c + 2],
                "little", signed=True)
            if d0 <= 0:
                return None
            delta.append(d0)
            s1.append(int.from_bytes(
                data[k + 3 * channels + 2 * c:
                     k + 3 * channels + 2 * c + 2],
                "little", signed=True))
            s2.append(int.from_bytes(
                data[k + 5 * channels + 2 * c:
                     k + 5 * channels + 2 * c + 2],
                "little", signed=True))
        out.extend(s2)  # frame 0
        out.extend(s1)  # frame 1
        body = data[k + hdr:k + block_align]
        c = 0
        adapt = _MS_ADAPT
        append = out.append
        for byte in body:
            for nib in (byte >> 4, byte & 0x0F):
                signed = nib - 16 if nib & 8 else nib
                c1, c2 = coef[c]
                q = s1[c] * c1 + s2[c] * c2
                # C-style /256 truncates toward zero (spec), not
                # floor; inlined — this loop is the measured hot path
                smp = (q >> 8 if q >= 0 else -((-q) >> 8)) \
                    + signed * delta[c]
                if smp < -32768:
                    smp = -32768
                elif smp > 32767:
                    smp = 32767
                s2[c], s1[c] = s1[c], smp
                d = (adapt[nib] * delta[c]) >> 8
                delta[c] = 16 if d < 16 else d
                append(smp)
                c = (c + 1) % channels
    return out


def _wav_samples(b: bytes):
    """Decode a WAV payload to its full sample stream (round 6, shape
    refactored round 7): linear PCM (format 1; 8-bit unsigned,
    16/24/32-bit signed LE), IEEE float32 (format 3), G.711 A-law /
    mu-law (formats 6/7, the public closed-form expansion above), and
    the two classic compressed WAV codecs — Microsoft ADPCM (format
    2) and IMA/DVI ADPCM (format 17), decoded block-by-block with the
    public integer adaptation tables. Returns (int64 numpy array,
    full_scale) for the integer lanes, (float64 array, None) for
    float32, or None for anything else (extensible fmt, exotic
    codecs — the quarantine lane). Shared by wav_pcm_stats and the
    per-segment features; integer samples accumulate exactly
    downstream so closed-form corpora hash-match an SQL oracle."""
    import numpy as np

    fmt, data = _wav_parse(b) or (None, None)
    if fmt is None or data is None:
        return None
    audio_fmt, channels, _, _, block_align, bits = fmt
    if not bits:
        return None
    data = b[data[0]:data[1]]
    if audio_fmt in (2, 17) and bits == 4:
        # compressed lanes: decode to int16 via the spec state machines
        dec = (_ms_adpcm_decode if audio_fmt == 2 else _ima_adpcm_decode)(
            data, channels, block_align)
        if not dec:
            return None
        r = np.array(dec, dtype=np.int64), 32768.0
    elif audio_fmt == 1:
        r = _linear_pcm(data, bits, "<", offset8=True)
    elif audio_fmt == 3 and bits == 32:
        xf = _float32_pcm(data, "<")
        return None if xf is None else (xf, None)
    elif audio_fmt in (6, 7) and bits == 8:
        r = _g711(data, alaw=audio_fmt == 6)
    else:
        return None
    if r is None or not int(r[0].size):
        return None
    return r


def _float_stats(xf) -> dict:
    import numpy as np

    return {
        "n_samples": int(xf.size),
        "rms": round(float(np.sqrt(np.mean(xf * xf))), 6),
        "peak": round(float(np.max(np.abs(xf))), 6),
        "mean": round(float(np.mean(xf)), 6),
    }


def wav_pcm_stats(b: bytes) -> Optional[dict]:
    """REAL sample-level decode for WAV payloads (see _wav_samples
    for the decoded surface: PCM 8/16/24/32, IEEE float32, G.711
    mu/A-law, IMA + Microsoft ADPCM). Returns {n_samples, rms, peak,
    mean} normalized to full scale, 6 dp; integer lanes accumulate
    exactly so closed-form corpora hash-match an SQL oracle.
    Undecodable payloads return None (quarantine)."""
    r = _wav_samples(b)
    if r is None:
        return None
    x, full = r
    return _float_stats(x) if full is None else _pcm_int_stats(x, full)


def wav_pcm_segment_stats(b: bytes, segment: int):
    """Per-segment audio features (round 7): the decoded WAV sample
    stream sliced into fixed `segment`-sample windows (last may be
    short), each with the same exact-int {n_samples, rms, peak, mean}
    contract as the whole-payload stats — the substrate for windowed
    audio analytics (silence spans, loudness segmentation) the same
    way per-frame rows feed scene cuts. None quarantines."""
    if segment <= 0:
        return None
    r = _wav_samples(b)
    if r is None:
        return None
    x, full = r
    out = []
    for i in range(0, int(x.size), segment):
        sl = x[i:i + segment]
        st = (_float_stats(sl) if full is None
              else _pcm_int_stats(sl, full))
        st["seg_idx"] = i // segment
        out.append(st)
    return out or None


def _pcm_int_stats(x, full: float) -> Optional[dict]:
    """Shared exact-int stats tail for every integer-sample audio
    lane (WAV/ADPCM/AIFF/AU): int64 sums are exact for any realistic
    payload (n * full^2 < 2^63 up to ~1e9 16-bit samples); fall back
    to python ints past that bound so the 6-dp rounds stay
    bit-identical to an SQL oracle's exact-int formulas."""
    import numpy as np

    n = int(x.size)
    if not n:
        return None
    if n * (full * full) < float(1 << 62):
        s = int(np.sum(x))
        ss = int(np.sum(x * x))
    else:
        s = sum(int(v) for v in x)
        ss = sum(int(v) * int(v) for v in x)
    import math

    return {
        "n_samples": n,
        "rms": round(math.sqrt(ss / n) / full, 6),
        "peak": round(int(np.max(np.abs(x))) / full, 6),
        "mean": round(s / n / full, 6),
    }


def _ieee_extended(b: bytes) -> Optional[int]:
    """80-bit IEEE 754 extended float -> int (AIFF's COMM sample rate
    field; spec: Apple Numerics / AIFF-1.3). Sign(1) + exponent(15) +
    64-bit mantissa with an EXPLICIT integer bit. Sample rates are
    exact integers, so return int (None for non-integral/denormal)."""
    if len(b) < 10:
        return None
    exp = int.from_bytes(b[0:2], "big")
    mant = int.from_bytes(b[2:10], "big")
    if exp & 0x8000 or not mant:
        return None if mant else 0
    e = (exp & 0x7FFF) - 16383 - 63
    if e >= 0:
        return mant << e
    if mant & ((1 << -e) - 1):
        return None  # fractional rate — not a real-world sample rate
    return mant >> -e


def aiff_pcm_stats(b: bytes) -> Optional[dict]:
    """REAL sample decode for AIFF/AIFF-C payloads (round 7 — the
    classic big-endian PCM container): FORM/AIFF|AIFC IFF chunk
    walk, COMM (channels, frames, bits, 80-bit extended sample rate;
    AIFC adds a compression fourcc) + SSND (offset/blockSize header
    then sample data). AIFF PCM is SIGNED at every depth (8/16/24/32,
    big-endian); AIFC compressions decoded: NONE (BE PCM), sowt
    (LE 16-bit), ulaw/alaw (G.711, 8 bits). Other compressions and
    malformed chunks quarantine (None)."""
    if len(b) < 12 or b[:4] != b"FORM" or b[8:12] not in (b"AIFF",
                                                          b"AIFC"):
        return None
    is_aifc = b[8:12] == b"AIFC"
    bits = rate = data = None
    comp = b"NONE"
    for cid, s, e in _iter_chunks(b, 12, len(b), "big"):
        if cid == b"COMM" and e - s >= 18 and s + 18 <= len(b):
            bits = int.from_bytes(b[s + 6:s + 8], "big")
            rate = _ieee_extended(b[s + 8:s + 18])
            if is_aifc:
                if e - s < 22 or s + 22 > len(b):
                    return None  # AIFC COMM must carry the fourcc
                comp = b[s + 18:s + 22]
        elif cid == b"SSND" and e - s >= 8:
            off = int.from_bytes(b[s:s + 4], "big")
            data = b[s + 8 + off:e]
    if bits is None or data is None or rate is None:
        return None
    if comp in (b"ulaw", b"ULAW", b"alaw", b"ALAW"):
        r = _g711(data, alaw=comp.lower() == b"alaw")
    elif comp == b"sowt" and bits == 16:
        r = _linear_pcm(data, 16, "<")
    elif comp in (b"NONE", b"twos"):
        r = _linear_pcm(data, bits, ">")
    else:
        return None  # compressed AIFC outside the decoded subset
    return None if r is None else _pcm_int_stats(*r)


def au_pcm_stats(b: bytes) -> Optional[dict]:
    """REAL sample decode for Sun/NeXT .au payloads (round 7): magic
    '.snd' + big-endian header (data offset, data size, encoding,
    sample rate, channels). Encodings decoded: 1 = G.711 mu-law,
    2/3/4/5 = signed linear 8/16/24/32-bit BE, 6 = float32 BE
    (NaN/Inf quarantines), 27 = G.711 A-law. Anything else (DSP,
    ADPCM variants...) quarantines (None)."""
    if len(b) < 24 or b[:4] != b".snd":
        return None
    off = int.from_bytes(b[4:8], "big")
    size = int.from_bytes(b[8:12], "big")
    enc = int.from_bytes(b[12:16], "big")
    if off < 24 or off > len(b):
        return None
    end = len(b) if size == 0xFFFFFFFF else min(len(b), off + size)
    data = b[off:end]
    if enc in (1, 27):
        return _pcm_int_stats(*_g711(data, alaw=enc == 27))
    if enc in (2, 3, 4, 5):
        return _pcm_int_stats(*_linear_pcm(data, 8 * (enc - 1), ">"))
    if enc == 6:
        xf = _float32_pcm(data, ">")
        return None if xf is None else _float_stats(xf)
    return None


def _iter_boxes(b: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for ISO-BMFF boxes in range."""
    i = start
    while i + 8 <= end:
        size = int.from_bytes(b[i:i + 4], "big")
        typ = b[i + 4:i + 8]
        body = i + 8
        if size == 1:  # 64-bit largesize
            if i + 16 > end:
                return
            size = int.from_bytes(b[i + 8:i + 16], "big")
            body = i + 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - i
        if size < 8 or i + size > end:
            return
        yield typ, body, i + size
        i += size


def mp4_info(b: bytes) -> Optional[dict]:
    """MP4/ISO-BMFF: ftyp brand + moov/mvhd (timescale -> duration) +
    the first video trak's tkhd 16.16 fixed-point width/height."""
    if len(b) < 12 or b[4:8] != b"ftyp":
        return None
    out: dict = {"format": "mp4", "brand": b[8:12].decode("latin-1")}
    for typ, s, e in _iter_boxes(b, 0, len(b)):
        if typ != b"moov":
            continue
        for t2, s2, e2 in _iter_boxes(b, s, e):
            if t2 == b"mvhd" and s2 + 4 <= e2:
                ver = b[s2]
                if ver == 1 and s2 + 32 <= e2:
                    scale = int.from_bytes(b[s2 + 20:s2 + 24], "big")
                    dur = int.from_bytes(b[s2 + 24:s2 + 32], "big")
                elif s2 + 20 <= e2:
                    scale = int.from_bytes(b[s2 + 12:s2 + 16], "big")
                    dur = int.from_bytes(b[s2 + 16:s2 + 20], "big")
                else:
                    continue
                if scale:
                    out["duration_ms"] = dur * 1000 // scale
            elif t2 == b"trak":
                for t3, s3, e3 in _iter_boxes(b, s2, e2):
                    if t3 != b"tkhd" or e3 - s3 < 84:
                        continue
                    w = int.from_bytes(b[e3 - 8:e3 - 4], "big") >> 16
                    h = int.from_bytes(b[e3 - 4:e3], "big") >> 16
                    if w and h and "width" not in out:
                        out["width"], out["height"] = w, h
    return out


# --- GIF frame decode (GIF89a spec, Appendix F: variable-width LSB LZW) ------


def _gif_lzw(data: bytes, mcs: int, npix: int) -> bytes:
    """GIF-flavor LZW: LSB-first packing, CLEAR=2^mcs, END=CLEAR+1,
    code width grows from mcs+1 to 12 as the table fills (cap 4096
    entries until the next CLEAR)."""
    clear = 1 << mcs
    end = clear + 1
    init = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(init)
    width = mcs + 1
    out = bytearray()
    acc = 0
    nb = 0
    pos = 0
    prev = None
    while len(out) < npix:
        while nb < width:
            if pos >= len(data):
                raise ValueError("truncated GIF image data")
            acc |= data[pos] << nb
            pos += 1
            nb += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nb -= width
        if code == clear:
            table = list(init)
            width = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            if len(table) < 4096:
                table.append(entry)
        else:
            raise ValueError("bad LZW code")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return bytes(out[:npix])


def gif_frames_info(b: bytes) -> Optional[dict]:
    """Animation metadata without decoding pixels: walk the block
    stream counting image descriptors and summing Graphic Control
    Extension delays (GIF89a §23: label 0xF9, delay in 1/100 s).
    Returns {"n_frames", "duration_ms", "loop"} — loop from the
    NETSCAPE2.0 application extension when present (0 = infinite)."""
    if gif_dims(b) is None or len(b) < 13:
        return None
    packed = b[10]
    pos = 13
    if packed & 0x80:
        pos += 3 * (2 << (packed & 7))
    n = len(b)
    n_frames = 0
    delay_cs = 0
    loop = None
    while pos < n:
        intro = b[pos]
        if intro == 0x21:  # extension
            if pos + 2 > n:
                break
            label = b[pos + 1]
            pos += 2
            if label == 0xF9 and pos + 4 < n and b[pos] >= 4:
                delay_cs += int.from_bytes(b[pos + 2:pos + 4], "little")
            if label == 0xFF and pos < n and b[pos] == 11 \
                    and b[pos + 1:pos + 12] == b"NETSCAPE2.0":
                k = pos + 12
                if k < n and b[k] >= 3 and k + 3 < n:
                    loop = int.from_bytes(b[k + 2:k + 4], "little")
            while pos < n and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif intro == 0x2C:  # image descriptor
            if pos + 10 > n:
                break
            ipacked = b[pos + 9]
            pos += 10
            if ipacked & 0x80:
                pos += 3 * (2 << (ipacked & 7))
            pos += 1  # LZW min code size
            while pos < n and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            n_frames += 1
        elif intro == 0x3B:
            break
        else:
            break
    if n_frames == 0:
        return None
    out = {"n_frames": n_frames, "duration_ms": delay_cs * 10}
    if loop is not None:
        out["loop"] = loop
    return out


def gif_pixels(b: bytes):
    """Decode the FIRST image frame of a GIF87a/89a to
    (frame_width, frame_height, 3, rgb_bytes): real LZW decode +
    palette expansion + 4-pass row de-interlace. None for malformed
    files — quarantine-friendly."""
    try:
        return _gif_decode_first(b)
    except Exception:
        return None


def _gif_decode_first(b: bytes):
    import numpy as _np

    if gif_dims(b) is None or len(b) < 13:
        return None
    packed = b[10]
    pos = 13
    gct = None
    if packed & 0x80:
        sz = 3 * (2 << (packed & 7))
        gct = b[pos:pos + sz]
        pos += sz
    n = len(b)
    while pos < n:
        intro = b[pos]
        if intro == 0x21:  # extension: label + sub-blocks until 0
            pos += 2
            while pos < n and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif intro == 0x2C:  # image descriptor
            if pos + 10 > n:
                return None
            iw = int.from_bytes(b[pos + 5:pos + 7], "little")
            ih = int.from_bytes(b[pos + 7:pos + 9], "little")
            ipacked = b[pos + 9]
            pos += 10
            lct = None
            if ipacked & 0x80:
                sz = 3 * (2 << (ipacked & 7))
                lct = b[pos:pos + sz]
                pos += sz
            interlaced = bool(ipacked & 0x40)
            if pos >= n or iw == 0 or ih == 0:
                return None
            mcs = b[pos]
            pos += 1
            if not (2 <= mcs <= 11):
                return None
            data = bytearray()
            while pos < n:
                bl = b[pos]
                pos += 1
                if bl == 0:
                    break
                data += b[pos:pos + bl]
                pos += bl
            idx = _np.frombuffer(
                _gif_lzw(bytes(data), mcs, iw * ih), _np.uint8)
            if len(idx) < iw * ih:
                return None
            pal = lct if lct is not None else gct
            if pal is None:
                return None
            pal_arr = _np.frombuffer(
                pal[: len(pal) // 3 * 3], _np.uint8).reshape(-1, 3)
            if int(idx.max(initial=0)) >= len(pal_arr):
                return None
            frame = pal_arr[idx].reshape(ih, iw, 3)
            if interlaced:  # GIF 4-pass row interlace
                out = _np.zeros_like(frame)
                r = 0
                for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                    nrows = len(range(start, ih, step))
                    out[start::step] = frame[r:r + nrows]
                    r += nrows
                frame = out
            return iw, ih, 3, frame.tobytes()
        elif intro == 0x3B:  # trailer
            return None
        else:
            return None
    return None


def gif_mean_luma(b: bytes):
    """Mean ITU-R 601 luminance of a GIF's first frame (same integer
    discipline as png_mean_luma: one division, 6dp)."""
    return _decoded_luma(gif_pixels(b))


# --- MP3 (MPEG-1/2 audio layer III frame headers, public ISO 11172-3) --------

_MP3_BITRATES = {  # kbps by version (3=MPEG1, 2=MPEG2, 0=MPEG2.5), Layer III
    3: (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    2: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    0: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_MP3_RATES = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}


def _mp3_frame(b: bytes, i: int):
    """Parse one Layer-III frame header at offset i ->
    (frame_len, sample_rate, kbps, channels, samples_per_frame), or
    None if no valid header starts there."""
    if i + 4 > len(b) or b[i] != 0xFF or (b[i + 1] & 0xE0) != 0xE0:
        return None
    ver = (b[i + 1] >> 3) & 3
    layer = (b[i + 1] >> 1) & 3
    if ver == 1 or layer != 1:  # reserved version / not Layer III
        return None
    br_idx = b[i + 2] >> 4
    sr_idx = (b[i + 2] >> 2) & 3
    if br_idx in (0, 15) or sr_idx == 3:  # free-format / reserved
        return None
    kbps = _MP3_BITRATES[ver][br_idx]
    sr = _MP3_RATES[ver][sr_idx]
    pad = (b[i + 2] >> 1) & 1
    mode = b[i + 3] >> 6
    spf = 1152 if ver == 3 else 576
    flen = (144000 if ver == 3 else 72000) * kbps // sr + pad
    return flen, sr, kbps, (1 if mode == 3 else 2), spf


def mp3_info(b: bytes) -> Optional[dict]:
    """MP3: skip an ID3v2 tag if present, then walk Layer-III frame
    headers; duration = full frames x samples-per-frame / rate."""
    if len(b) < 4:
        return None
    i = 0
    if b[:3] == b"ID3":
        if len(b) < 10:
            return None
        i = 10 + (
            ((b[6] & 0x7F) << 21) | ((b[7] & 0x7F) << 14)
            | ((b[8] & 0x7F) << 7) | (b[9] & 0x7F)
        )
    first = _mp3_frame(b, i)
    if first is None:
        return None
    _, sr, kbps, channels, spf = first
    frames = 0
    n = len(b)
    while frames < 1_000_000:
        f = _mp3_frame(b, i)
        if f is None or i + f[0] > n:
            break  # trailing partial frame / junk: count full frames only
        frames += 1
        i += f[0]
    if frames == 0:
        return None
    return {
        "format": "mp3",
        "sample_rate": sr,
        "bitrate_kbps": kbps,
        "channels": channels,
        "duration_ms": frames * spf * 1000 // sr,
    }


# --- Matroska/WebM (EBML, public matroska.org spec) ---------------------------


def _ebml_vint(b: bytes, i: int, keep_marker: bool):
    """EBML variable-length integer at offset i -> (value, next_pos).
    Element IDs keep the length-marker bit; sizes clear it."""
    if i >= len(b) or b[i] == 0:
        return None
    ln = 9 - b[i].bit_length()
    if i + ln > len(b):
        return None
    if keep_marker:
        return int.from_bytes(b[i:i + ln], "big"), i + ln
    val = b[i] & ((1 << (8 - ln)) - 1)
    for k in range(1, ln):
        val = (val << 8) | b[i + k]
    return val, i + ln


def _ebml_walk(b: bytes, i: int, end: int):
    """Yield (element_id, body_start, body_end) for EBML elements."""
    while i < end:
        r = _ebml_vint(b, i, True)
        if r is None:
            return
        eid, j = r
        r = _ebml_vint(b, j, False)
        if r is None:
            return
        size, k = r
        if size == (1 << (7 * (k - j))) - 1:  # unknown-size element
            body_end = end
        else:
            body_end = k + size
        if body_end > end:
            return
        yield eid, k, body_end
        i = body_end


def mkv_info(b: bytes) -> Optional[dict]:
    """Matroska/WebM: EBML DocType + Segment/Info (TimestampScale ->
    duration) + the first video track's PixelWidth/PixelHeight."""
    if b[:4] != b"\x1a\x45\xdf\xa3":
        return None
    import struct as _struct

    out: dict = {"format": "mkv"}
    for eid, s, e in _ebml_walk(b, 0, len(b)):
        if eid == 0x1A45DFA3:  # EBML header
            for e2, s2, e2e in _ebml_walk(b, s, e):
                if e2 == 0x4282:  # DocType
                    dt = b[s2:e2e].split(b"\x00")[0].decode("latin-1")
                    out["format"] = "webm" if dt == "webm" else "mkv"
        elif eid == 0x18538067:  # Segment
            scale = 1_000_000  # ns per timestamp unit (spec default)
            dur = None
            for e2, s2, e2e in _ebml_walk(b, s, e):
                if e2 == 0x1549A966:  # Info
                    for e3, s3, e3e in _ebml_walk(b, s2, e2e):
                        if e3 == 0x2AD7B1 and e3e > s3:  # TimestampScale
                            scale = int.from_bytes(b[s3:e3e], "big")
                        elif e3 == 0x4489:  # Duration (float)
                            raw = b[s3:e3e]
                            if len(raw) == 4:
                                dur = _struct.unpack(">f", raw)[0]
                            elif len(raw) == 8:
                                dur = _struct.unpack(">d", raw)[0]
                elif e2 == 0x1654AE6B:  # Tracks
                    for e3, s3, e3e in _ebml_walk(b, s2, e2e):
                        if e3 != 0xAE:  # TrackEntry
                            continue
                        for e4, s4, e4e in _ebml_walk(b, s3, e3e):
                            if e4 != 0xE0:  # Video
                                continue
                            for e5, s5, e5e in _ebml_walk(b, s4, e4e):
                                if e5 == 0xB0 and "width" not in out:
                                    out["width"] = int.from_bytes(
                                        b[s5:e5e], "big")
                                elif e5 == 0xBA and "height" not in out:
                                    out["height"] = int.from_bytes(
                                        b[s5:e5e], "big")
            if dur is not None and scale:
                out["duration_ms"] = int(dur * scale / 1e6)
    return out


def mkv_mjpeg_frames(b: bytes):
    """REAL Matroska demux (round 7): find the video TrackEntry whose
    CodecID is V_MJPEG (and its TrackNumber), then decode every
    SimpleBlock / BlockGroup>Block payload for that track in every
    Cluster through the JPEG kernel — same per-frame contract as the
    AVI/MP4 lanes. Laced blocks, foreign codecs and undecodable
    frames quarantine (None)."""
    if b[:4] != b"\x1a\x45\xdf\xa3":
        return None
    for eid, s, e in _ebml_walk(b, 0, len(b)):
        if eid != 0x18538067:  # Segment
            continue
        track_no = None
        for e2, s2, e2e in _ebml_walk(b, s, e):
            if e2 != 0x1654AE6B:  # Tracks
                continue
            for e3, s3, e3e in _ebml_walk(b, s2, e2e):
                if e3 != 0xAE:  # TrackEntry
                    continue
                num = None
                codec = None
                for e4, s4, e4e in _ebml_walk(b, s3, e3e):
                    if e4 == 0xD7:
                        num = int.from_bytes(b[s4:e4e], "big")
                    elif e4 == 0x86:
                        codec = b[s4:e4e].rstrip(b"\x00")
                if codec == b"V_MJPEG" and num:
                    track_no = num
        if track_no is None:
            return None
        frames = []

        def _block(body_s: int, body_e: int) -> bool:
            r = _ebml_vint(b, body_s, False)  # track vint, no marker
            if r is None:
                return False
            tno, j = r
            if j + 3 > body_e:
                return False
            if tno != track_no:
                return True  # another track's block: skip, not an error
            flags = b[j + 2]
            if flags & 0x06:
                return False  # lacing outside the decoded subset
            frame = _jpeg_frame(b[j + 3:body_e])
            if frame is None:
                return False
            frames.append(frame)
            return True

        for e2, s2, e2e in _ebml_walk(b, s, e):
            if e2 != 0x1F43B675:  # Cluster
                continue
            for e3, s3, e3e in _ebml_walk(b, s2, e2e):
                if e3 == 0xA3:  # SimpleBlock
                    if not _block(s3, e3e):
                        return None
                elif e3 == 0xA0:  # BlockGroup
                    for e4, s4, e4e in _ebml_walk(b, s3, e3e):
                        if e4 == 0xA1 and not _block(s4, e4e):
                            return None
        return _frame_rows(frames)
    return None


# --- FLAC (public format spec: fLaC magic + STREAMINFO block) ----------------


def flac_info(b: bytes) -> Optional[dict]:
    """FLAC: STREAMINFO metadata block (always first) -> sample rate
    (20 bits), channels (3 bits + 1), bits/sample (5 bits + 1), total
    samples (36 bits) -> duration."""
    if len(b) < 4 + 4 + 34 or b[:4] != b"fLaC":
        return None
    i = 4
    while i + 4 <= len(b):
        last = b[i] & 0x80
        btype = b[i] & 0x7F
        blen = int.from_bytes(b[i + 1:i + 4], "big")
        body = i + 4
        if btype == 0:  # STREAMINFO
            if blen < 34 or body + 34 > len(b):
                return None
            s = b[body:body + 34]
            rate = (s[10] << 12) | (s[11] << 4) | (s[12] >> 4)
            channels = ((s[12] >> 1) & 0x07) + 1
            bits = (((s[12] & 1) << 4) | (s[13] >> 4)) + 1
            total = ((s[13] & 0x0F) << 32) | int.from_bytes(s[14:18], "big")
            if not rate:
                return None
            out = {
                "format": "flac",
                "sample_rate": rate,
                "channels": channels,
                "bits": bits,
            }
            if total:
                out["duration_ms"] = total * 1000 // rate
            return out
        if last:
            break
        i = body + blen
    return None


class _FlacBitR:
    """MSB-first bit reader over a bytes buffer (FLAC frame decode).
    Raises ValueError past EOF — callers quarantine via the stats
    wrapper's None contract. `bits` lazily caches the np.unpackbits
    view of the buffer for the vectorized bulk reads (round 9)."""

    __slots__ = ("b", "pos", "bits")

    def __init__(self, b: bytes, bytepos: int = 0):
        self.b = b
        self.pos = bytepos * 8
        self.bits = None

    def bit_array(self):
        if self.bits is None:
            import numpy as np

            self.bits = np.unpackbits(
                np.frombuffer(self.b, dtype=np.uint8))
        return self.bits

    def read(self, n: int) -> int:
        # one int.from_bytes over the covered span (round 7 — the
        # per-byte shift loop was a measured hotspot at ~130k
        # calls per representative frame set)
        pos = self.pos
        end = pos + n
        b = self.b
        if end > len(b) * 8:
            raise ValueError("flac: bitstream truncated")
        self.pos = end
        hi = (end + 7) >> 3
        chunk = int.from_bytes(b[pos >> 3:hi], "big")
        return (chunk >> ((hi << 3) - end)) & ((1 << n) - 1)

    def sread(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= 1 << (n - 1) else v

    def unary(self) -> int:
        # skip whole zero bytes; locate the terminating 1 via
        # bit_length on the current byte's remaining bits
        b, pos = self.b, self.pos
        nbits = len(b) * 8
        q = 0
        while pos < nbits:
            rem = 8 - (pos & 7)
            bits = b[pos >> 3] & ((1 << rem) - 1)
            if bits:
                lead = rem - bits.bit_length()
                self.pos = pos + lead + 1
                return q + lead
            q += rem
            pos += rem
            if q > 1 << 20:  # corrupt zero-fill: bail, don't spin
                raise ValueError("flac: runaway unary code")
        raise ValueError("flac: bitstream truncated")


def _flac_coded_number_read(b: bytes, i: int):
    """Frame/sample number: UTF-8-style 1-7 bytes -> (value, next_i)."""
    first = b[i]
    if first < 0x80:
        return first, i + 1
    k = 0
    while (first << k) & 0x80:
        k += 1
    if k < 2 or k > 7:
        raise ValueError("flac: bad coded number")
    n = first & (0x7F >> k)
    for j in range(1, k):
        c = b[i + j]
        if c & 0xC0 != 0x80:
            raise ValueError("flac: bad coded number continuation")
        n = (n << 6) | (c & 0x3F)
    return n, i + k


_FLAC_CRC8_TABLE = None
_FLAC_CRC16_TABLE = None


def _flac_crc8(data: bytes) -> int:
    """CRC-8 poly 0x07, table-driven (round 7 — the per-bit loop was
    a measured hotspot: CRCs run over EVERY frame byte)."""
    global _FLAC_CRC8_TABLE
    if _FLAC_CRC8_TABLE is None:
        tbl = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 \
                    else (c << 1) & 0xFF
            tbl.append(c)
        _FLAC_CRC8_TABLE = tbl
    c = 0
    tbl = _FLAC_CRC8_TABLE
    for byte in data:
        c = tbl[c ^ byte]
    return c


def _flac_crc16_byte(data: bytes, c: int = 0) -> int:
    """CRC-16 poly 0x8005, byte-at-a-time (reference form; also the
    tail handler for the sliced fast path)."""
    tbl = _flac_crc16_tables()[0]
    for byte in data:
        c = ((c << 8) & 0xFF00) ^ tbl[(c >> 8) ^ byte]
    return c


def _flac_crc16_tables():
    """T[k][v] = CRC-16/0x8005 of byte v followed by k zero bytes —
    the slice-by-8 tables (CRC is GF(2)-linear, so eight lookups fold
    eight bytes per loop iteration)."""
    global _FLAC_CRC16_TABLE
    if _FLAC_CRC16_TABLE is None:
        t0 = []
        for i in range(256):
            c = i << 8
            for _ in range(8):
                c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 \
                    else (c << 1) & 0xFFFF
            t0.append(c)
        tables = [t0]
        for _ in range(7):
            prev = tables[-1]
            tables.append(
                [((v << 8) & 0xFF00) ^ t0[v >> 8] for v in prev])
        _FLAC_CRC16_TABLE = tables
    return _FLAC_CRC16_TABLE


def _flac_crc16(data: bytes) -> int:
    """CRC-16 poly 0x8005 over every frame byte — slice-by-8
    (round 9: the per-byte loop was 20% of a representative decode
    wall after the residual vectorization; eight table lookups per 8
    bytes cut the python iteration count 8x). Value-identical to the
    byte-at-a-time form (differential test)."""
    n8 = len(data) - (len(data) & 7)
    t7, t6, t5, t4, t3, t2, t1, t0 = _flac_crc16_tables()[::-1]
    c = 0
    i = 0
    while i < n8:
        c = (
            t7[data[i] ^ (c >> 8)]
            ^ t6[data[i + 1] ^ (c & 0xFF)]
            ^ t5[data[i + 2]]
            ^ t4[data[i + 3]]
            ^ t3[data[i + 4]]
            ^ t2[data[i + 5]]
            ^ t1[data[i + 6]]
            ^ t0[data[i + 7]]
        )
        i += 8
    return _flac_crc16_byte(data[n8:], c)


_FLAC_FIXED_COEF = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1],
                    4: [4, -6, 4, -1]}
_FLAC_DEPTHS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _flac_bulk_read(r: _FlacBitR, positions, width: int):
    """Vectorized fixed-width UNSIGNED reads (round 9): gather the
    `width` bits at each start position from the unpacked bit array
    and fold with a power-of-two dot product. Exact for width <= 62."""
    import numpy as np

    bits = r.bit_array()
    idx = positions[:, None] + np.arange(width, dtype=np.int64)
    w = np.left_shift(
        np.int64(1), np.arange(width - 1, -1, -1, dtype=np.int64))
    return bits[idx].astype(np.int64) @ w


def _flac_signed(u, width: int):
    """Two's-complement sign extension, vectorized (matches sread)."""
    return u - ((u >> (width - 1)) << width)


def _flac_residual(r: _FlacBitR, order: int, block_size: int):
    """Coded residual: 2-bit method (0: 4-bit rice params, 1: 5-bit),
    4-bit partition order, rice or escaped-raw partitions. Returns an
    np.int64 array (round 9): the unary scan stays a lean byte loop
    (sequential by nature) but records terminator positions only; the
    fixed-width low fields, zigzag fold and escaped-raw partitions
    decode vectorized. Value-identical to the fused scalar loop it
    replaces (tests/test_flac_vec.py differential suite)."""
    import numpy as np

    method = r.read(2)
    if method > 1:
        raise ValueError("flac: reserved residual method")
    pbits = 4 + method
    esc = (1 << pbits) - 1
    p = r.read(4)
    if block_size % (1 << p):
        raise ValueError("flac: partition order does not divide block")
    parts = []
    for part in range(1 << p):
        n = block_size // (1 << p) - (order if part == 0 else 0)
        if n < 0:
            raise ValueError("flac: predictor order exceeds partition")
        param = r.read(pbits)
        if param == esc:
            raw = r.read(5)
            if raw:
                pos = r.pos
                end = pos + raw * n
                if end > len(r.b) * 8:
                    raise ValueError("flac: bitstream truncated")
                r.pos = end
                starts = pos + raw * np.arange(n, dtype=np.int64)
                parts.append(
                    _flac_signed(_flac_bulk_read(r, starts, raw), raw))
            else:  # 0-bit escape: all-zero residuals
                parts.append(np.zeros(n, dtype=np.int64))
            continue
        # lean unary walk: find each terminator, skip the param bits
        b = r.b
        pos = r.pos
        nbits = len(b) * 8
        qs = []
        terms = []
        q_append = qs.append
        t_append = terms.append
        for _ in range(n):
            q = 0
            while True:
                if pos >= nbits:
                    raise ValueError("flac: bitstream truncated")
                rem = 8 - (pos & 7)
                bits = b[pos >> 3] & ((1 << rem) - 1)
                if bits:
                    lead = rem - bits.bit_length()
                    q += lead
                    pos += lead + 1
                    break
                q += rem
                pos += rem
                if q > 1 << 20:  # corrupt zero-fill
                    raise ValueError("flac: runaway unary code")
            q_append(q)
            t_append(pos)
            pos += param
        if pos > nbits:
            raise ValueError("flac: bitstream truncated")
        r.pos = pos
        u = np.array(qs, dtype=np.int64)
        if param:
            u = (u << param) | _flac_bulk_read(
                r, np.array(terms, dtype=np.int64), param)
        parts.append((u >> 1) ^ -(u & 1))
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


def _flac_fixed_reconstruct(warmup, res, order: int, block_size: int):
    """FIXED-predictor reconstruction as `order` nested integer
    cumsums (round 9): the residual IS the order-th finite difference
    of the signal, so x rebuilds exactly from the warmup difference
    table + cumsum — in int64, gated by an a-priori magnitude bound so
    overflow is impossible on the vector path; anything near the bound
    falls back to the exact scalar loop. Returns None to request the
    fallback."""
    import numpy as np

    if res.size == 0:
        return np.array(warmup, dtype=np.int64)
    mv = int(np.abs(res).max())
    rows = list(warmup)
    lasts = [rows[-1]]
    maxw = max(abs(v) for v in rows)
    for _ in range(1, order):
        rows = [rows[t + 1] - rows[t] for t in range(len(rows) - 1)]
        lasts.append(rows[-1])
        maxw = max(maxw, max(abs(v) for v in rows))
    if (mv + maxw + 1) * (block_size + 1) ** order >= 1 << 62:
        return None
    tail = res
    for j in range(order - 1, -1, -1):
        tail = lasts[j] + np.cumsum(tail)
    return np.concatenate([np.array(warmup, dtype=np.int64), tail])


def _flac_subframe(r: _FlacBitR, depth: int, block_size: int):
    """One subframe -> np.int64 array of block_size samples at `depth`
    bits (before stereo undecorrelation). CONSTANT / VERBATIM /
    FIXED 0-4 / LPC, with the wasted-bits shift applied. Round 9:
    VERBATIM reads and FIXED reconstruction are vectorized (exact —
    see _flac_fixed_reconstruct's overflow gate); LPC keeps the scalar
    recurrence (the quantized shift makes it genuinely sequential)."""
    import numpy as np

    if r.read(1):
        raise ValueError("flac: subframe pad bit set")
    stype = r.read(6)
    wasted = 0
    if r.read(1):  # wasted-bits flag: unary count-1 follows
        wasted = r.unary() + 1
    d = depth - wasted
    if d <= 0:
        raise ValueError("flac: wasted bits exceed depth")
    if stype == 0:
        x = np.full(block_size, r.sread(d), dtype=np.int64)
    elif stype == 1:
        pos = r.pos
        end = pos + d * block_size
        if end > len(r.b) * 8:
            raise ValueError("flac: bitstream truncated")
        r.pos = end
        starts = pos + d * np.arange(block_size, dtype=np.int64)
        x = _flac_signed(_flac_bulk_read(r, starts, d), d)
    elif 8 <= stype <= 12:  # FIXED, order = stype & 7
        order = stype & 7
        warm = [r.sread(d) for _ in range(order)]
        res = _flac_residual(r, order, block_size)
        x = _flac_fixed_reconstruct(warm, res, order, block_size) \
            if order else res
        if x is None:  # magnitude gate tripped: exact scalar fallback
            xs = list(warm)
            coef = _FLAC_FIXED_COEF[order]
            for v in res.tolist():
                xs.append(
                    v + sum(c * xs[-1 - j] for j, c in enumerate(coef))
                )
            x = np.array(xs, dtype=np.int64)
    elif stype >= 32:  # LPC, order = (stype & 31) + 1
        order = (stype & 31) + 1
        xs = [r.sread(d) for _ in range(order)]
        prec = r.read(4)
        if prec == 15:
            raise ValueError("flac: invalid qlp precision")
        prec += 1
        shift = r.sread(5)
        if shift < 0:
            raise ValueError("flac: negative qlp shift")
        coef = [r.sread(prec) for _ in range(order)]
        for v in _flac_residual(r, order, block_size).tolist():
            pred = sum(c * xs[-1 - j] for j, c in enumerate(coef))
            xs.append(v + (pred >> shift))
        x = np.array(xs, dtype=np.int64)
    else:
        raise ValueError(f"flac: reserved subframe type {stype}")
    if wasted:
        x = x << wasted
    return x


def flac_pcm_samples(b: bytes):
    """REAL FLAC sample decode (public spec / RFC 9639) -> (numpy
    int64 array of interleaved samples, bits, channels, sample_rate),
    or None for anything outside the decoded subset. Covers what
    spec-conforming encoders emit: fixed+variable blocksize frames,
    subframes CONSTANT / VERBATIM / FIXED 0-4 / LPC, rice residuals
    (4- and 5-bit params, escape partitions), wasted bits, stereo
    decorrelation left-/right-/mid-side, with CRC-8 (frame header)
    and CRC-16 (whole frame) VERIFIED — a flipped payload bit
    quarantines instead of producing silently-wrong features. The
    reference has zero audio support (its only media op is DCT
    passthrough, /root/reference/filters.py) — this is pipeline
    scope; lossless by construction, so encoder round-trips are
    exact."""
    import numpy as np

    info = flac_info(b)
    if info is None:
        return None
    rate0, channels0, bits0 = (
        info["sample_rate"], info["channels"], info["bits"],
    )
    # skip metadata blocks to the first frame
    i = 4
    while i + 4 <= len(b):
        last = b[i] & 0x80
        blen = int.from_bytes(b[i + 1:i + 4], "big")
        i += 4 + blen
        if last:
            break
    out = []
    bits_shared = None  # unpacked-bit view shared across ALL frames:
    # a per-frame reader would re-run np.unpackbits over the whole
    # file each frame, O(frames x filesize) (r9 review finding)
    while i < len(b):
        if i + 2 > len(b):
            return None  # trailing garbage that is not a frame
        r = _FlacBitR(b, i)
        r.bits = bits_shared
        try:
            if r.read(14) != 0b11111111111110 or r.read(1):
                return None
            r.read(1)  # blocking strategy (number semantics only)
            bs_code = r.read(4)
            rate_code = r.read(4)
            ca = r.read(4)
            depth_code = r.read(3)
            if r.read(1):
                return None  # reserved bit
            _, j = _flac_coded_number_read(b, r.pos // 8)
            r.pos = j * 8
            if bs_code == 0:
                return None  # reserved
            elif bs_code == 1:
                bs = 192
            elif bs_code <= 5:
                bs = 576 << (bs_code - 2)
            elif bs_code == 6:
                bs = r.read(8) + 1
            elif bs_code == 7:
                bs = r.read(16) + 1
            else:
                bs = 256 << (bs_code - 8)
            if rate_code == 12:
                r.read(8)
            elif rate_code in (13, 14):
                r.read(16)
            elif rate_code == 15:
                return None
            hdr_end = r.pos // 8
            if _flac_crc8(b[i:hdr_end]) != b[hdr_end]:
                return None
            r.pos = (hdr_end + 1) * 8
            depth = bits0 if depth_code == 0 else \
                _FLAC_DEPTHS.get(depth_code)
            if depth is None:
                return None
            if ca < 8:
                nch = ca + 1
                if nch != channels0:
                    return None
                subs = [
                    _flac_subframe(r, depth, bs) for _ in range(nch)
                ]
            elif ca in (8, 9, 10):
                if channels0 != 2:
                    return None
                d0 = depth + (1 if ca == 9 else 0)
                d1 = depth + (1 if ca in (8, 10) else 0)
                s0 = _flac_subframe(r, d0, bs)
                s1 = _flac_subframe(r, d1, bs)
                # vectorized undecorrelation (round 9): int64 &, <<,
                # and arithmetic >> match the scalar two's-complement
                # semantics exactly for in-range samples
                if ca == 8:  # left-side: R = L - side
                    subs = [s0, s0 - s1]
                elif ca == 9:  # right-side: L = side + R
                    subs = [s0 + s1, s1]
                else:  # mid-side
                    m2 = (s0 << 1) | (s1 & 1)
                    subs = [(m2 + s1) >> 1, (m2 - s1) >> 1]
                nch = 2
            else:
                return None  # reserved channel assignment
            # frame footer: pad to byte, verify CRC-16 of whole frame
            if r.pos & 7:
                if r.read(8 - (r.pos & 7)):
                    return None  # nonzero padding
            fend = r.pos // 8
            if fend + 2 > len(b):
                return None
            if _flac_crc16(b[i:fend]) != int.from_bytes(
                b[fend:fend + 2], "big"
            ):
                return None
            # channel interleave, vectorized (round 9): identical
            # sample order to the old per-(k, ch) append loop
            out.append(
                subs[0] if nch == 1
                else np.column_stack(subs).ravel()
            )
            i = fend + 2
            bits_shared = r.bits  # keep a lazily-built view for later frames
        except (ValueError, IndexError, OverflowError):
            # OverflowError: a corrupt LPC/FIXED recurrence can grow past
            # int64, which no valid stream (samples <= 32 bits) reaches
            return None
    if not out:
        return None
    return (
        np.concatenate(out) if len(out) > 1 else out[0],
        bits0, channels0, rate0,
    )


def flac_pcm_stats(b: bytes) -> Optional[dict]:
    """Sample-level FLAC features, same contract and math as
    wav_pcm_stats: {n_samples, rms, peak, mean} normalized to full
    scale (2^(bits-1)) and rounded to 6 dp, exact int64 accumulation.
    None = quarantine (not FLAC / unsupported subset / CRC fail)."""
    decoded = flac_pcm_samples(b)
    if decoded is None:
        return None
    x, bits, _, _ = decoded
    return _pcm_int_stats(x, float(1 << (bits - 1)))


# --- Ogg (RFC 3533 pages; Vorbis I / Opus (RFC 7845) ident headers) ----------


_OGG_CRC_TABLE = None


def _ogg_crc32(data: bytes) -> int:
    """Ogg page CRC-32 (RFC 3533 §6): polynomial 0x04c11db7,
    non-reflected, init 0, no final xor. Table-driven (the demuxer
    verifies every page)."""
    global _OGG_CRC_TABLE
    if _OGG_CRC_TABLE is None:
        tbl = []
        for i in range(256):
            r = i << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7 if r & 0x80000000
                     else r << 1) & 0xFFFFFFFF
            tbl.append(r)
        _OGG_CRC_TABLE = tbl
    crc = 0
    for byte in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[
            ((crc >> 24) ^ byte) & 0xFF]
    return crc


def _ogg_packets(b: bytes):
    """RFC 3533 page walk -> reassembled logical packets: capture
    pattern + version checked, page CRC VERIFIED (field zeroed for
    the computation), lacing values concatenated with proper
    continuation handling (a 255 lacing continues the packet, < 255
    completes it — including the 0 terminator of a 255-multiple
    packet; the continuation flag must match mid-packet state).
    Any violation returns None — torn streams quarantine."""
    i = 0
    packets = []
    partial = bytearray()
    while i < len(b):
        if b[i:i + 4] != b"OggS" or i + 27 > len(b) or b[i + 4] != 0:
            return None
        nseg = b[i + 26]
        body_start = i + 27 + nseg
        if body_start > len(b):
            return None
        segs = b[i + 27:i + 27 + nseg]
        body_len = sum(segs)
        if body_start + body_len > len(b):
            return None
        page = bytearray(b[i:body_start + body_len])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc32(bytes(page)) != int.from_bytes(
                b[i + 22:i + 26], "little"):
            return None
        if bool(b[i + 5] & 0x01) != bool(partial):
            return None  # continuation flag vs mid-packet mismatch
        pos = body_start
        for lv in segs:
            partial += b[pos:pos + lv]
            pos += lv
            if lv < 255:
                packets.append(bytes(partial))
                partial = bytearray()
        i = body_start + body_len
    if partial:
        return None  # stream ends mid-packet
    return packets


def ogg_flac_pcm_stats(b: bytes) -> Optional[dict]:
    """Ogg-encapsulated FLAC (round 7 — the public FLAC-to-Ogg
    mapping): verify + reassemble Ogg pages into packets, require the
    mapping header packet (0x7F 'FLAC' major 1 + 16-bit header count
    + 'fLaC' + STREAMINFO), skip the declared header packets, then
    rebuild the NATIVE stream (STREAMINFO re-marked last-metadata +
    one frame per audio packet) and run the existing CRC-verified
    FLAC frame decoder. Vorbis/Opus/other Ogg payloads and torn pages
    quarantine (None)."""
    if b[:4] != b"OggS":
        return None
    pk = _ogg_packets(b)
    if not pk:
        return None
    h = pk[0]
    if len(h) < 17 or h[0] != 0x7F or h[1:5] != b"FLAC" or h[5] != 1:
        return None
    n_hdr = int.from_bytes(h[7:9], "big")
    if h[9:13] != b"fLaC":
        return None
    blk_len = int.from_bytes(h[14:17], "big")
    block = bytearray(h[13:17 + blk_len])
    if len(block) != 4 + blk_len or (block[0] & 0x7F) != 0:
        return None  # first block must be STREAMINFO
    block[0] |= 0x80  # last-metadata-block: headers live in packets
    audio = pk[1 + n_hdr:]
    if not audio:
        return None
    return flac_pcm_stats(b"fLaC" + bytes(block) + b"".join(audio))


def ogg_info(b: bytes) -> Optional[dict]:
    """Ogg: the BOS page's first packet identifies the codec
    ('\\x01vorbis' ident: channels + rate; 'OpusHead': channels,
    granule rate fixed 48 kHz); duration = last page's granule
    position / granule rate."""
    if len(b) < 28 or b[:4] != b"OggS" or b[4] != 0:
        return None
    nsegs = b[26]
    body = 27 + nsegs
    if body >= len(b):
        return None
    pkt = b[body:body + 64]
    out: Optional[dict] = None
    gran_rate = None
    if pkt[:7] == b"\x01vorbis" and len(pkt) >= 16:
        rate = int.from_bytes(pkt[12:16], "little")
        if not rate:
            return None
        out = {
            "format": "ogg-vorbis",
            "channels": pkt[11],
            "sample_rate": rate,
        }
        gran_rate = rate  # vorbis granule = PCM sample count
    elif pkt[:8] == b"OpusHead" and len(pkt) >= 17:
        out = {
            "format": "ogg-opus",
            "channels": pkt[9],
            "sample_rate": int.from_bytes(pkt[12:16], "little"),
        }
        gran_rate = 48000  # opus granule is always 48 kHz (RFC 7845 §4)
    elif (pkt[0] == 0x7F and pkt[1:5] == b"FLAC" and pkt[9:13] == b"fLaC"
            and len(pkt) >= 17 + 34):
        # FLAC-to-Ogg mapping: STREAMINFO rides in the first packet
        # at offset 13 (block header) + 4; rate 20 bits, channels 3
        si = pkt[17:]
        rate = (si[10] << 12) | (si[11] << 4) | (si[12] >> 4)
        if not rate:
            return None
        out = {
            "format": "ogg-flac",
            "channels": ((si[12] >> 1) & 0x07) + 1,
            "sample_rate": rate,
        }
        gran_rate = rate  # FLAC granule = PCM sample count
    if out is None:
        return None
    # walk pages FORWARD via the segment tables to find the true last
    # page header — rfind(b"OggS") can match the 4-byte pattern inside
    # packet payload bytes of a real-world file and yield a garbage
    # granule position (a page body is arbitrary codec data)
    last_gran = None
    pos = 0
    while pos + 27 <= len(b) and b[pos:pos + 4] == b"OggS" and b[pos + 4] == 0:
        nsegs = b[pos + 26]
        hdr_end = pos + 27 + nsegs
        if hdr_end > len(b):
            break  # truncated page header: keep the last complete page
        gran = int.from_bytes(b[pos + 6:pos + 14], "little", signed=True)
        if gran > 0:  # -1 = no packet finishes on this page (RFC 3533)
            last_gran = gran
        pos = hdr_end + sum(b[pos + 27:hdr_end])
    if last_gran is not None and gran_rate:
        out["duration_ms"] = last_gran * 1000 // gran_rate
    return out


# --- AVI (RIFF 'AVI ' + hdrl/avih main header) -------------------------------


def _riff_lists(b: bytes, start: int, end: int, kind: bytes):
    """Yield (children_start, end) for every LIST `kind` chunk in
    b[start:end], its end clipped to the parent's."""
    for cid, s, e in _iter_chunks(b, start, end, "little"):
        if cid == b"LIST" and b[s:s + 4] == kind:
            yield s + 4, min(e, end)


def _is_avi(b: bytes) -> bool:
    return len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"AVI "


def avi_info(b: bytes) -> Optional[dict]:
    """AVI: RIFF form 'AVI ', LIST hdrl -> avih (MicroSecPerFrame,
    TotalFrames, Width, Height)."""
    if not _is_avi(b):
        return None
    for start, end in _riff_lists(b, 12, len(b), b"hdrl"):
        for cid, s, _ in _iter_chunks(b, start, end, "little"):
            if cid == b"avih" and s + 40 <= end:
                a = b[s:s + 40]
                usec = int.from_bytes(a[0:4], "little")
                frames = int.from_bytes(a[16:20], "little")
                out = {
                    "format": "avi",
                    "width": int.from_bytes(a[32:36], "little"),
                    "height": int.from_bytes(a[36:40], "little"),
                }
                if usec and frames:
                    out["duration_ms"] = frames * usec // 1000
                return out
    return None


def _avi_video_format(b: bytes):
    """BITMAPINFOHEADER of the first 'vids' stream (LIST hdrl -> LIST
    strl -> strh/strf): {width, height (signed — negative = top-down),
    bits, compression, palette (BGRA quads as bytes, or b"")}. None
    when no video strl is present (header-only fixtures)."""
    if not _is_avi(b):
        return None
    hdrl = next(_riff_lists(b, 12, len(b), b"hdrl"), None)
    if hdrl is None:
        return None
    for start, end in _riff_lists(b, *hdrl, b"strl"):
        is_vids = False
        for cid, s, e in _iter_chunks(b, start, end, "little"):
            body = b[s:e]
            if cid == b"strh" and len(body) >= 4:
                is_vids = body[:4] == b"vids"
            elif cid == b"strf" and is_vids and len(body) >= 40:
                return {
                    "width": int.from_bytes(body[4:8], "little"),
                    "height": int.from_bytes(body[8:12], "little",
                                             signed=True),
                    "bits": int.from_bytes(body[14:16], "little"),
                    "compression": body[16:20],
                    "palette": bytes(body[40:]),
                }
    return None


def _dib_frame_stats(payload: bytes, fmt: dict):
    """Decode one uncompressed BI_RGB DIB frame (AVI '00db' chunk):
    24-bit BGR or 8-bit palettized rows, padded to 4 bytes (row order
    — bottom-up for positive biHeight, top-down when negative — does
    not move the mean). Returns (width, height, mean_luma), or None
    for torn/unsupported frames."""
    import numpy as np

    w = fmt["width"]
    h = abs(fmt["height"])
    bits = fmt["bits"]
    if w <= 0 or h <= 0 or bits not in (8, 24):
        return None
    rowbytes = (w * bits + 31) // 32 * 4
    if len(payload) < rowbytes * h:
        return None
    rows = np.frombuffer(
        payload[:rowbytes * h], np.uint8).reshape(h, rowbytes)
    if bits == 24:
        px = rows[:, :w * 3].reshape(h, w, 3)
    else:
        pal = _bgra_palette(fmt["palette"])
        if pal is None:
            return None
        px = pal[rows[:, :w]]
    return w, h, mean_luma(px, bgr=True)


def _jpeg_frame(payload: bytes):
    """Decode one MJPEG frame ONCE -> (width, height, mean_luma), or
    None when the JPEG kernel cannot decode it or the decode has no
    luma (luma_image)."""
    from .jpeg import decode_jpeg

    img = luma_image(decode_jpeg(payload))
    if img is None:
        return None
    return int(img.shape[1]), int(img.shape[0]), mean_luma(img)


def _frame_rows(frames):
    """[(width, height, mean_luma)] -> the per-frame contract shared by
    the AVI/MP4/MKV lanes: [{frame_idx, width, height, mean_luma}], or
    None when there are no frames."""
    return [{"frame_idx": i, "width": w, "height": h, "mean_luma": luma}
            for i, (w, h, luma) in enumerate(frames)] or None


def avi_mjpeg_frames(b: bytes):
    """REAL video pixel decode (round 7 — upgrades the video lane
    beyond container headers): walk the RIFF/AVI chunk list to LIST
    movi and decode every '..dc'/'..db' video chunk — JPEG streams
    (SOI-led) through the from-scratch JPEG kernel, uncompressed
    BI_RGB DIB frames (24-bit BGR / 8-bit palettized, bottom-up or
    top-down) through _dib_frame_stats — emitting per-frame
    {frame_idx, width, height, mean_luma} (integer accumulation,
    single final division, 6 dp; a uniform tile's mean is its exact
    gray value). Any undecodable frame quarantines the whole payload
    (None) — a torn stream should land in the error column, not emit
    a partial frame list that looks complete."""
    if not _is_avi(b):
        return None
    movi = next(_riff_lists(b, 12, len(b), b"movi"), None)
    if movi is None:
        return None
    fmt = None  # parsed lazily, only when a non-JPEG chunk appears
    frames = []
    for cid, s, e in _iter_chunks(b, *movi, "little"):
        if e > movi[1]:
            return None  # torn chunk
        if cid[2:4] not in (b"dc", b"db"):
            continue
        payload = b[s:e]
        if payload[:2] == b"\xff\xd8":
            frame = _jpeg_frame(payload)
        else:  # uncompressed DIB lane (BI_RGB)
            if fmt is None:
                fmt = _avi_video_format(b)
            if not fmt or fmt["compression"] != b"\x00\x00\x00\x00":
                return None
            frame = _dib_frame_stats(payload, fmt)
        if frame is None:
            return None
        frames.append(frame)
    return _frame_rows(frames)


def _mp4_sample_tables(b: bytes):
    """ISO/IEC 14496-12 §8.7 sample-table resolution, shared by the
    MJPEG video and PCM audio lanes: for every trak, yield
    (sample-entry fourcc, sample-entry body bytes, [(offset, size)
    per sample in order]) with absolute offsets resolved via stsc
    runs x stco/co64 x stsz; a trak whose chunk map does not cover
    every declared sample yields nothing (torn table)."""
    if len(b) < 12 or b[4:8] != b"ftyp":
        return
    for typ, s, e in _iter_boxes(b, 0, len(b)):
        if typ != b"moov":
            continue
        for t2, s2, e2 in _iter_boxes(b, s, e):
            if t2 != b"trak":
                continue
            stbl = None
            for t3, s3, e3 in _iter_boxes(b, s2, e2):
                if t3 != b"mdia":
                    continue
                for t4, s4, e4 in _iter_boxes(b, s3, e3):
                    if t4 != b"minf":
                        continue
                    for t5, s5, e5 in _iter_boxes(b, s4, e4):
                        if t5 == b"stbl":
                            stbl = (s5, e5)
            if stbl is None:
                continue
            entry_fourcc = entry_body = None
            sizes = None
            chunk_offs = None
            stsc = None
            for t6, s6, e6 in _iter_boxes(b, stbl[0], stbl[1]):
                body = b[s6:e6]
                if t6 == b"stsd" and len(body) >= 16:
                    # first sample entry: 4-byte size + fourcc at 12
                    entry_fourcc = body[12:16]
                    entry_body = body[16:]
                elif t6 == b"stsz" and len(body) >= 12:
                    fixed = int.from_bytes(body[4:8], "big")
                    cnt = int.from_bytes(body[8:12], "big")
                    if fixed:
                        sizes = [fixed] * cnt
                    elif len(body) >= 12 + 4 * cnt:
                        sizes = [int.from_bytes(
                            body[12 + 4 * i:16 + 4 * i], "big")
                            for i in range(cnt)]
                elif t6 in (b"stco", b"co64") and len(body) >= 8:
                    w = 4 if t6 == b"stco" else 8
                    cnt = int.from_bytes(body[4:8], "big")
                    if len(body) >= 8 + w * cnt:
                        chunk_offs = [int.from_bytes(
                            body[8 + w * i:8 + w * (i + 1)], "big")
                            for i in range(cnt)]
                elif t6 == b"stsc" and len(body) >= 8:
                    cnt = int.from_bytes(body[4:8], "big")
                    if len(body) >= 8 + 12 * cnt:
                        stsc = [(int.from_bytes(
                                    body[8 + 12 * i:12 + 12 * i], "big"),
                                 int.from_bytes(
                                    body[12 + 12 * i:16 + 12 * i], "big"))
                                for i in range(cnt)]
            if (entry_fourcc is None or not sizes or not chunk_offs
                    or not stsc):
                continue
            # expand stsc runs: samples-per-chunk for every chunk
            locs = []
            si = 0
            torn = False
            for ci in range(len(chunk_offs)):
                spc = 0
                for fc, n_in in stsc:
                    if fc <= ci + 1:
                        spc = n_in
                pos = chunk_offs[ci]
                for _ in range(spc):
                    if si >= len(sizes):
                        break
                    if pos + sizes[si] > len(b):
                        torn = True
                        break
                    locs.append((pos, sizes[si]))
                    pos += sizes[si]
                    si += 1
                if torn:
                    break
            if torn or si != len(sizes):
                continue  # chunk map doesn't cover every sample
            yield entry_fourcc, entry_body, locs


def mp4_mjpeg_frames(b: bytes):
    """REAL ISO-BMFF MJPEG demux (round 7): require a 'jpeg'/'mjpa'/
    'mjpb' visual sample entry, resolve every sample via the shared
    §8.7 sample-table walk (_mp4_sample_tables), decode each through
    the JPEG kernel. Emits the same per-frame contract as
    avi_mjpeg_frames; a torn sample table or undecodable sample
    quarantines the payload (None)."""
    for fourcc, _entry, locs in _mp4_sample_tables(b) or ():
        if fourcc not in (b"jpeg", b"mjpa", b"mjpb"):
            continue
        frames = []
        for pos, size in locs:
            frame = _jpeg_frame(b[pos:pos + size])
            if frame is None:
                return None
            frames.append(frame)
        return _frame_rows(frames)
    return None


# QuickTime/ISO uncompressed audio sample entries -> (bits, byte order)
_MP4_PCM_ENTRIES = {
    b"sowt": (16, "<"), b"twos": (16, ">"), b"in24": (24, ">"),
    b"raw ": (8, "<"),  # 8-bit offset-binary
}


def mp4_pcm_stats(b: bytes) -> Optional[dict]:
    """REAL PCM-in-MP4 audio decode (round 7): the QuickTime/ISO
    uncompressed audio sample entries — 'sowt' (LE 16-bit), 'twos'
    (BE 16-bit), 'in24' (BE 24-bit), 'raw ' (unsigned 8-bit) — via
    the SAME §8.7 sample-table walk as the MJPEG lane; all sample
    bytes concatenate into one PCM stream and the stats use the
    exact-int accumulation shared with the WAV/AIFF lanes.
    Compressed audio codecs (mp4a/AAC...) quarantine (None)."""
    for fourcc, _entry, locs in _mp4_sample_tables(b) or ():
        if fourcc not in _MP4_PCM_ENTRIES:
            continue
        data = b"".join(b[pos:pos + size] for pos, size in locs)
        bits, order = _MP4_PCM_ENTRIES[fourcc]
        return _pcm_int_stats(*_linear_pcm(data, bits, order, offset8=True))
    return None


# --- PNG pixel decode (round 3) ----------------------------------------------
# The engine already owns both halves: zlib inflate and the PNG row
# filters (kernels/filters._apply_predictor implements Sub/Up/Average/
# Paeth for arbitrary colors). Wiring them to the PNG container turns
# "header decode only" into real pixel access with no codec library.

_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # colortype -> samples/pixel


# Adam7 interlace pass origins/strides (PNG spec §8.2)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)
_PNG_LEGAL_DEPTHS = {
    0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
    4: (8, 16), 6: (8, 16),
}


def png_pixels(b: bytes):
    """Decode a PNG to (width, height, channels, pixel_bytes) with
    8-bit samples. Covers every legal colortype/bit-depth combination
    (gray 1/2/4/8/16, palette 1/2/4/8 via PLTE expansion to RGB,
    RGB/gray+A/RGBA 8/16 — 16-bit keeps the high byte) and Adam7
    interlacing. Returns None for malformed files —
    quarantine-friendly."""
    import zlib as _zlib

    import numpy as _np

    d = png_dims(b)
    if d is None or len(b) < 33:
        return None
    depth, ctype, interlace = b[24], b[25], b[28]
    if ctype not in _PNG_LEGAL_DEPTHS or depth not in _PNG_LEGAL_DEPTHS[ctype]:
        return None
    if interlace not in (0, 1):
        return None
    ch = 1 if ctype == 3 else _PNG_CHANNELS[ctype]
    # walk chunks, concatenating IDAT payloads + capturing PLTE
    idat = bytearray()
    plte = None
    i = 8
    n = len(b)
    while i + 8 <= n:
        ln = int.from_bytes(b[i:i + 4], "big")
        tag = b[i + 4:i + 8]
        if tag == b"IDAT":
            idat += b[i + 8:i + 8 + ln]
        elif tag == b"PLTE":
            plte = b[i + 8:i + 8 + ln]
        elif tag == b"IEND":
            break
        i += 12 + ln  # len + tag + payload + crc
    if not idat:
        return None
    try:
        raw = _zlib.decompress(bytes(idat))
    except _zlib.error:
        return None
    w, h = d["width"], d["height"]
    from .filters import _apply_predictor

    def one_pass(off: int, pw: int, ph: int):
        rowbytes = (pw * ch * depth + 7) // 8
        need = ph * (rowbytes + 1)
        if off + need > len(raw):
            raise ValueError("truncated PNG image data")
        pix = _apply_predictor(
            raw[off:off + need],
            {"/Predictor": 15, "/Colors": ch, "/BitsPerComponent": depth,
             "/Columns": pw},
        )
        a = _np.frombuffer(pix, _np.uint8).reshape(ph, rowbytes)
        if depth == 8:
            sub = a[:, :pw * ch].reshape(ph, pw, ch)
        elif depth == 16:
            sub = a.reshape(ph, rowbytes // 2, 2)[:, :pw * ch, 0].reshape(
                ph, pw, ch)  # high byte == 8-bit sample
        else:  # 1/2/4-bit, single channel (gray or palette index)
            bits = _np.unpackbits(a, axis=1)
            g = bits[:, : (rowbytes * 8 // depth) * depth].reshape(
                ph, -1, depth)
            weights = (1 << _np.arange(depth - 1, -1, -1)).astype(_np.uint8)
            sub = (g * weights).sum(axis=2).astype(_np.uint8)[:, :pw]
            sub = sub.reshape(ph, pw, 1)
        return sub, off + need

    try:
        out = _np.zeros((h, w, ch), _np.uint8)
        off = 0
        if interlace == 0:
            out, off = one_pass(0, w, h)
        else:
            for x0, y0, dx, dy in _ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                sub, off = one_pass(off, pw, ph)
                out[y0::dy, x0::dx] = sub
        if off != len(raw):
            return None  # trailing garbage in the image datastream
        if ctype == 3:
            if plte is None or len(plte) % 3:
                return None
            pal = _np.frombuffer(plte, _np.uint8).reshape(-1, 3)
            idx = out[..., 0]
            if int(idx.max(initial=0)) >= len(pal):
                return None
            out = pal[idx]  # (h, w, 3)
        elif ctype == 0 and depth < 8:
            maxv = (1 << depth) - 1
            out = (out.astype(_np.uint16) * 255 // maxv).astype(_np.uint8)
        out = _np.ascontiguousarray(out)
        return w, h, out.shape[2], out.tobytes()
    except Exception:
        return None


def png_mean_luma(b: bytes):
    """Mean ITU-R 601 luminance of a PNG (mean_luma: integer
    299/587/114 sum, one division, 6 dp)."""
    return _decoded_luma(png_pixels(b))


# --- one dispatcher per modality ---------------------------------------------


def _jpeg_mean_luma(b: bytes):
    from .jpeg import jpeg_mean_luma

    return jpeg_mean_luma(b)


# sniffed image format -> mean-luma lane
_LUMA_LANES = {
    "jpeg": _jpeg_mean_luma,
    "png": png_mean_luma,
    "gif": gif_mean_luma,
    "tiff": tiff_mean_luma,
    "bmp": bmp_mean_luma,
    "pnm": pnm_mean_luma,
    "tga": tga_mean_luma,
    "ico": ico_mean_luma,
}

# every format with a real pixel path (webp and jp2 are header-only)
PIXEL_DECODABLE_FORMATS = frozenset(_LUMA_LANES)


def pixel_stats(b: bytes, fmt: Optional[str]) -> dict:
    """Pixel statistics of an image payload sniffed as `fmt` (the
    image_dims format): mean_luma, except ink_ratio for Group-4 fax
    TIFFs, plus n_frames/duration_ms for GIF animations. Fields a
    decode could not produce are left out; {} for formats with no
    pixel codec."""
    stats = {}
    if fmt == "tiff":
        ink = ink_ratio(b)
        if ink is not None:
            return {"ink_ratio": round(ink, 6)}
    elif fmt == "gif":  # animation metadata (frames + summed GCE delays)
        info = gif_frames_info(b) or {}
        stats = {"n_frames": info.get("n_frames"),
                 "duration_ms": info.get("duration_ms") or None}
    if fmt in _LUMA_LANES:
        stats["mean_luma"] = _LUMA_LANES[fmt](b)
    return {k: v for k, v in stats.items() if v is not None}


# leading magic -> sample lane; anything else is probed as WAV (or
# PCM-in-MP4 when ISO-BMFF's 'ftyp' sits at offset 4)
_PCM_LANES = {
    b"fLaC": flac_pcm_stats,
    b"OggS": ogg_flac_pcm_stats,
    b"FORM": aiff_pcm_stats,
    b".snd": au_pcm_stats,
}


def pcm_stats(b: bytes) -> Optional[dict]:
    """Sample-level audio stats for any decoded container — WAV (PCM,
    float, G.711, ADPCM), native and Ogg FLAC, AIFF/AIFC, AU and
    PCM-in-MP4 — dispatched on magic bytes: {n_samples, rms, peak,
    mean}, or None (quarantine)."""
    lane = _PCM_LANES.get(bytes(b[:4]))
    if lane is None:
        lane = mp4_pcm_stats if b[4:8] == b"ftyp" else wav_pcm_stats
    return lane(b)


def video_frames(b: bytes):
    """Per-frame video rows for any decoded container — MJPEG in
    ISO-BMFF or Matroska, MJPEG/DIB in AVI — dispatched on magic
    bytes: [{frame_idx, width, height, mean_luma}], or None."""
    if b[4:8] == b"ftyp":
        return mp4_mjpeg_frames(b)
    if b[:4] == b"\x1a\x45\xdf\xa3":
        return mkv_mjpeg_frames(b)
    return avi_mjpeg_frames(b)


def audio_info(b: bytes) -> Optional[dict]:
    """Audio container header probe (WAV, FLAC, Ogg, MP3): sample
    rate, channels, bits, duration — or None."""
    return wav_info(b) or flac_info(b) or ogg_info(b) or mp3_info(b)


def video_info(b: bytes) -> Optional[dict]:
    """Video container header probe (AVI, MP4, Matroska/WebM):
    duration and frame dims — or None."""
    return avi_info(b) or mp4_info(b) or mkv_info(b)
