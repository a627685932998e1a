"""JPEG (ITU-T T.81) codec, pure Python + numpy — from the public
spec, like kernels/ccitt_g4.py.

Scope: 8-bit AND 12-bit huffman DCT (12-bit in the extended-
sequential SOF1 / progressive SOF2 frames where T.81 B.2.2 allows it,
with 16-bit DQT entries), grayscale or 3-component, BOTH sequential
and PROGRESSIVE (SOF2 — spectral selection + successive approximation
per Annex G, all four scan kinds), arbitrary integer sampling factors
(4:4:4, 4:2:2, 4:2:0, ...), DRI / restart markers decoded per T.81
E.2.4 (byte-align + DC predictor reset at every RSTn), plus LOSSLESS
(SOF3, Annex H: all 7 predictors, 2-16 bit, 1-4 components, point
transform); arithmetic / hierarchical files return None (quarantine
discipline — the reference passes ALL DCT payloads through undecoded,
/root/reference/filters.py:321-330, so any pixel decode exceeds it).

The decode hot path is vectorized: entropy decoding uses a 16-bit
Huffman peek LUT (one list index per symbol instead of a Python loop
per BIT), coefficients are scattered sparsely into one (nblocks, 64)
array per component, and dezigzag + dequant + IDCT + chroma upsample
+ color convert all run as batched numpy ops.

The encoder exists so fixtures and the oracle corpus are self-made:
both directions share only the constant tables, and the decoder is
additionally pinned against hand-derived DC-only vectors and an
independent per-test numpy reference (tests/test_jpeg.py).

All tables below are the public T.81 Annex K example tables.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

import numpy as np

from .media import luma_image, mean_luma

# Annex K.1 quantization tables (luminance / chrominance), row-major
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.3 typical Huffman tables: (bits[1..16], values)
DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# orthonormal 8-point DCT-II matrix: spatial = T.T @ coeff @ T
_T = np.zeros((8, 8))
for _u in range(8):
    _c = np.sqrt(1 / 8) if _u == 0 else np.sqrt(2 / 8)
    for _x in range(8):
        _T[_u, _x] = _c * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _canonical_codes(bits: List[int], values: List[int]):
    """(length, code) -> symbol for decode; symbol -> (code, length)
    for encode. Canonical assignment per T.81 Annex C."""
    dec = {}
    enc = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = values[k]
            dec[(length, code)] = sym
            enc[sym] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return dec, enc


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-fill per spec


import functools

_ZZ = np.array(ZIGZAG)


@functools.lru_cache(maxsize=32)
def _huff_lut(bits: tuple, values: tuple):
    """16-bit peek LUT: index the next 16 bits of the stream, get
    (code_length << 8) | symbol back (0 = invalid prefix). One list
    index replaces a Python loop per BIT — this is the decode hot
    path's main lever. Cached per table; real corpora overwhelmingly
    reuse the Annex K tables, so the 64 KiB build cost amortizes to
    zero."""
    lut = np.zeros(1 << 16, dtype=np.uint32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = values[k]
            k += 1
            lo = code << (16 - length)
            lut[lo: lo + (1 << (16 - length))] = (length << 8) | sym
            code += 1
        code <<= 1
    return lut.tolist()  # list indexing beats numpy scalar indexing


def _split_scan(data: bytes, i: int) -> Tuple[List[bytes], int]:
    """Entropy-coded scan data from offset i, split at RSTn markers and
    destuffed (FF 00 -> FF), plus the offset of the terminating marker
    (so multi-scan progressive files can resume the marker walk there).
    Segment boundaries are exactly the T.81 E.2.4 restart boundaries:
    the decoder byte-aligns by construction (each segment starts fresh)
    and resets DC predictors per segment."""
    n = len(data)
    segs: List[bytes] = []
    start = p = i
    end = n
    while True:
        f = data.find(b"\xff", p)
        if f == -1 or f + 1 >= n:
            segs.append(data[start:n])
            break
        m = data[f + 1]
        if m == 0x00:
            p = f + 2  # stuffed literal FF
        elif 0xD0 <= m <= 0xD7:
            segs.append(data[start:f])
            start = p = f + 2
        else:  # real marker terminates the scan
            segs.append(data[start:f])
            end = f
            break
    return [s.replace(b"\xff\x00", b"\xff") for s in segs], end


def _mcu_block_indices(my: int, mx: int, hi_f: int, vi_f: int, bw_i: int):
    """Raster block indices of one component's blocks inside MCU
    (my, mx) — interleave order (bv, bh) per T.81 A.2.3, addressed into
    the component's full padded raster grid of width bw_i blocks."""
    base_row = my * vi_f
    base_col = mx * hi_f
    for bv in range(vi_f):
        row = (base_row + bv) * bw_i + base_col
        for bh in range(hi_f):
            yield row + bh


def _decode_mcus(seg: bytes, mcu_lo: int, mcu_hi: int, mcux: int,
                 comp_meta, sparse, pred) -> None:
    """Entropy-decode MCUs [mcu_lo, mcu_hi) from one destuffed restart
    segment. Nonzero coefficients append to per-component sparse
    (block_idx, zigzag_idx, value) lists — block indices are RASTER
    order over the component's padded grid (shared with the
    progressive path) — and the dense scatter + IDCT happen once,
    batched, in the caller. pred[] is the running DC predictor (reset
    by the caller at restart boundaries)."""
    d = seg
    L = len(d)
    i = 0
    acc = 0
    nb = 0
    for m in range(mcu_lo, mcu_hi):
        my, mx = divmod(m, mcux)
        for ci, hi_f, vi_f, bw_i, dc_lut, ac_lut in comp_meta:
            bl, kl, vl = sparse[ci]
            if hi_f == 1 and vi_f == 1:  # hot path: one block per MCU
                indices = (my * bw_i + mx,)
            else:
                indices = _mcu_block_indices(my, mx, hi_f, vi_f, bw_i)
            for bi in indices:
                while nb < 16:
                    acc = (acc << 8) | (d[i] if i < L else 0)
                    i += 1
                    nb += 8
                t = dc_lut[(acc >> (nb - 16)) & 0xFFFF]
                if t == 0:
                    raise ValueError("bad huffman code")
                nb -= t >> 8
                s = t & 0xFF
                if s:
                    while nb < s:
                        acc = (acc << 8) | (d[i] if i < L else 0)
                        i += 1
                        nb += 8
                    v = (acc >> (nb - s)) & ((1 << s) - 1)
                    nb -= s
                    pred[ci] += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                if pred[ci]:
                    bl.append(bi)
                    kl.append(0)
                    vl.append(pred[ci])
                k = 1
                while k < 64:
                    while nb < 16:
                        acc = (acc << 8) | (d[i] if i < L else 0)
                        i += 1
                        nb += 8
                    t = ac_lut[(acc >> (nb - 16)) & 0xFFFF]
                    if t == 0:
                        raise ValueError("bad huffman code")
                    nb -= t >> 8
                    rs = t & 0xFF
                    s = rs & 0x0F
                    if s == 0:
                        if rs == 0xF0:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    k += rs >> 4
                    if k > 63:
                        raise ValueError("AC overflow")
                    while nb < s:
                        acc = (acc << 8) | (d[i] if i < L else 0)
                        i += 1
                        nb += 8
                    v = (acc >> (nb - s)) & ((1 << s) - 1)
                    nb -= s
                    bl.append(bi)
                    kl.append(k)
                    vl.append(v if v >= (1 << (s - 1)) else v - (1 << s) + 1)
                    k += 1
                acc &= (1 << nb) - 1  # keep the int small
    if 8 * i - nb > 8 * L:
        # consumed virtual zero-padding past the segment end: the
        # stream was truncated (a well-formed segment never decodes
        # into its pad bits)
        raise ValueError("truncated scan")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t-bit magnitude to signed value."""
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _magnitude(v: int) -> Tuple[int, int]:
    """Signed value -> (size, code bits) for encoding."""
    if v == 0:
        return 0, 0
    a = abs(v)
    t = a.bit_length()
    code = v if v > 0 else v + (1 << t) - 1
    return t, code


# --- encoder -----------------------------------------------------------------


_SUBSAMPLING = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}


def _pad_edge(p: np.ndarray, H: int, W: int) -> np.ndarray:
    h0, w0 = p.shape
    return np.pad(p, ((0, H - h0), (0, W - w0)), mode="edge")


def _mcu_zigzag_blocks(plane: np.ndarray, hi: int, vi: int, mcux: int,
                       mcuy: int, q: np.ndarray,
                       shift: float = 128.0) -> list:
    """Component plane -> list of 64-int zigzagged quantized blocks in
    MCU-interleave order (my, mx, bv, bh). Transform + quantize run as
    one batched numpy op; only entropy coding stays per-block. `shift`
    is the level shift, 2^(P-1) (T.81 A.3.1)."""
    padded = _pad_edge(plane, mcuy * vi * 8, mcux * hi * 8)
    blocks = (
        padded.reshape(mcuy, vi, 8, mcux, hi, 8)
        .transpose(0, 3, 1, 4, 2, 5)
        .reshape(-1, 8, 8)
    )
    coeff = np.matmul(np.matmul(_T, blocks - shift), _T.T)
    quant = np.round(coeff / q).astype(np.int64).reshape(-1, 64)
    return quant[:, _ZZ].tolist()


def _prepare_components(pixels: np.ndarray, subsampling: str,
                        center: float = 128.0):
    """Shared encoder front half: RGB->YCbCr, chroma box-downsample.
    Returns (planes, factors, color, h, w, mcux, mcuy). `center` is the
    chroma zero point, 2^(P-1)."""
    pixels = np.asarray(pixels)
    if pixels.ndim == 2:
        planes = [pixels.astype(np.float64)]
        color = False
        sfh = sfv = 1
    else:
        r = pixels[..., 0].astype(np.float64)
        g = pixels[..., 1].astype(np.float64)
        b = pixels[..., 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + center
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + center
        color = True
        sfh, sfv = _SUBSAMPLING[subsampling]
        if (sfh, sfv) != (1, 1):
            h0, w0 = y.shape
            H2, W2 = -(-h0 // sfv) * sfv, -(-w0 // sfh) * sfh
            cb = _pad_edge(cb, H2, W2).reshape(
                H2 // sfv, sfv, W2 // sfh, sfh).mean(axis=(1, 3))
            cr = _pad_edge(cr, H2, W2).reshape(
                H2 // sfv, sfv, W2 // sfh, sfh).mean(axis=(1, 3))
        planes = [y, cb, cr]
    h, w = planes[0].shape
    factors = [(sfh, sfv)] + [(1, 1)] * (len(planes) - 1)
    mcux = -(-w // (8 * sfh))
    mcuy = -(-h // (8 * sfv))
    return planes, factors, color, h, w, mcux, mcuy


def _jpeg_headers(h, w, planes, factors, qts, color, sof_marker,
                  restart_interval, ac_pair=None, prec=8):
    """SOI + DQT + SOFn + DHT (+ DRI) header bytes shared by the
    sequential and progressive encoders. A quant table with any entry
    over 255 (the 12-bit path scales Annex K by 16) is emitted in the
    16-bit DQT form (Pq=1, B.2.4.1)."""
    def seg(marker: int, payload: bytes) -> bytes:
        return (bytes([0xFF, marker])
                + (len(payload) + 2).to_bytes(2, "big") + payload)

    out = bytearray(b"\xff\xd8")
    for ti, q in enumerate(qts):
        if int(q.max()) > 255:
            zzq = b"".join(
                int(q.flat[ZIGZAG[i]]).to_bytes(2, "big") for i in range(64)
            )
            out += seg(0xDB, bytes([0x10 | ti]) + zzq)
        else:
            zzq = bytes(int(q.flat[ZIGZAG[i]]) for i in range(64))
            out += seg(0xDB, bytes([ti]) + zzq)
    nc = len(planes)
    sof = (bytes([prec]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
           + bytes([nc]))
    for ci in range(nc):
        hi_f, vi_f = factors[ci]
        sof += bytes([ci + 1, (hi_f << 4) | vi_f, min(ci, len(qts) - 1)])
    out += seg(sof_marker, sof)
    ac_l, ac_c = ac_pair if ac_pair else (AC_LUMA, AC_CHROMA)
    hts = [(0x00, DC_LUMA), (0x10, ac_l)]
    if color:
        hts += [(0x01, DC_CHROMA), (0x11, ac_c)]
    for tid, (bits, vals) in hts:
        out += seg(0xC4, bytes([tid]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))
    return out, seg


def encode_jpeg(pixels: np.ndarray, subsampling: str = "444",
                restart_interval: int = 0, precision: int = 8) -> bytes:
    """8-bit image -> baseline JPEG (SOF0); precision=12 -> EXTENDED
    sequential (SOF1, T.81 B.2.2: 12-bit samples are legal only in the
    extended/progressive frames). pixels: (h, w) grayscale or (h, w, 3)
    RGB; dimensions need not be multiples of 8 (edge blocks replicate).
    Annex K tables (scaled x16 for 12-bit, keeping quantized
    coefficient magnitudes in the 8-bit-equivalent range the Annex K
    Huffman tables cover AND exercising the 16-bit DQT form).
    subsampling: "444", "422" or "420" (color only; chroma is
    box-averaged). restart_interval > 0 emits a DRI segment and RSTn
    markers every that-many MCUs (byte-aligned, DC predictors reset —
    T.81 E.2.4)."""
    if precision not in (8, 12):
        raise ValueError("precision must be 8 or 12")
    shift = float(1 << (precision - 1))
    planes, factors, color, h, w, mcux, mcuy = _prepare_components(
        pixels, subsampling, center=shift)
    n_mcus = mcux * mcuy

    if precision == 12:
        qts = [QUANT_LUMA * 16] + ([QUANT_CHROMA * 16] if color else [])
    else:
        qts = [QUANT_LUMA] + ([QUANT_CHROMA] if color else [])
    _, dc_enc0 = _canonical_codes(*DC_LUMA)
    _, ac_enc0 = _canonical_codes(*AC_LUMA)
    dc_enc = [dc_enc0]
    ac_enc = [ac_enc0]
    if color:
        _, dc_enc1 = _canonical_codes(*DC_CHROMA)
        _, ac_enc1 = _canonical_codes(*AC_CHROMA)
        dc_enc += [dc_enc1, dc_enc1]
        ac_enc += [ac_enc1, ac_enc1]

    zz_blocks = [
        _mcu_zigzag_blocks(
            planes[ci], fi[0], fi[1], mcux, mcuy, qts[min(ci, len(qts) - 1)],
            shift=shift,
        )
        for ci, fi in enumerate(factors)
    ]

    bwr = _BitWriter()
    pred = [0] * len(planes)
    ptr = [0] * len(planes)
    rst = 0
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            bwr.flush()  # byte-align with 1-fill before the marker
            bwr.out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            pred = [0] * len(planes)
        for ci, (hi_f, vi_f) in enumerate(factors):
            for _ in range(hi_f * vi_f):
                zz = zz_blocks[ci][ptr[ci]]
                ptr[ci] += 1
                # DC
                diff = zz[0] - pred[ci]
                pred[ci] = zz[0]
                t, codebits = _magnitude(diff)
                c, ln = dc_enc[ci][t]
                bwr.put(c, ln)
                if t:
                    bwr.put(codebits, t)
                # AC with run-length + ZRL + EOB
                run = 0
                for k in range(1, 64):
                    v = zz[k]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        c, ln = ac_enc[ci][0xF0]  # ZRL
                        bwr.put(c, ln)
                        run -= 16
                    t, codebits = _magnitude(v)
                    c, ln = ac_enc[ci][(run << 4) | t]
                    bwr.put(c, ln)
                    bwr.put(codebits, t)
                    run = 0
                if run:
                    c, ln = ac_enc[ci][0x00]  # EOB
                    bwr.put(c, ln)
    bwr.flush()

    out, seg = _jpeg_headers(h, w, planes, factors, qts, color,
                             0xC0 if precision == 8 else 0xC1,
                             restart_interval, prec=precision)
    nc = len(planes)
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += bwr.out
    out += b"\xff\xd9"
    return bytes(out)


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


# --- decoder -----------------------------------------------------------------


def decode_jpeg(data: bytes) -> Optional[np.ndarray]:
    """JPEG -> (h, w) grayscale or (h, w, 3) RGB; uint8 for 8-bit
    frames, uint16 (0..4095) for 12-bit SOF1/SOF2 frames. Handles
    sequential AND progressive (spectral selection + successive
    approximation, T.81 Annex G) frames, arbitrary integer chroma
    subsampling (4:4:4/4:2:2/4:2:0/...), 8- and 16-bit DQT forms, and
    DRI/RSTn restart intervals. None for arithmetic / hierarchical /
    malformed input."""
    try:
        return _decode(data)
    except Exception:
        return None


def _decode(data: bytes):
    if data[:2] != b"\xff\xd8":
        return None
    qt = {}
    huff_dc = {}  # th -> (bits tuple, values tuple)
    huff_ac = {}
    frame = None
    progressive = False
    lossless = False
    scans = []  # one dict per SOS, in stream order
    restart_interval = 0
    i = 2
    n = len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker == 0xFF:  # fill byte before a marker (B.1.1.2)
            i += 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD8:
            i += 2
            continue
        ln = int.from_bytes(data[i + 2:i + 4], "big")
        seg = data[i + 4:i + 2 + ln]
        if marker == 0xDB:
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                if pq not in (0, 1):
                    return None
                tbl = np.zeros((8, 8), dtype=np.int32)
                if pq:  # 16-bit entries (B.2.4.1; 12-bit frames)
                    for k in range(64):
                        tbl.flat[ZIGZAG[k]] = int.from_bytes(
                            seg[j + 1 + 2 * k:j + 3 + 2 * k], "big"
                        )
                    j += 129
                else:
                    for k in range(64):
                        tbl.flat[ZIGZAG[k]] = seg[j + 1 + k]
                    j += 65
                qt[tq] = tbl
        elif marker == 0xC4:
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = tuple(seg[j + 1:j + 17])
                nv = sum(bits)
                vals = tuple(seg[j + 17:j + 17 + nv])
                (huff_dc if tc == 0 else huff_ac)[th] = (bits, vals)
                j += 17 + nv
        elif marker == 0xDD:  # DRI: restart interval in MCUs
            restart_interval = int.from_bytes(seg[:2], "big")
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential / SOF2 progressive
            progressive = marker == 0xC2
            prec = seg[0]
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            # 12-bit samples are legal in extended-sequential (SOF1)
            # and progressive (SOF2) frames only (T.81 B.2.2)
            allowed = (8,) if marker == 0xC0 else (8, 12)
            if prec not in allowed or nc not in (1, 3):
                return None
            comps = []
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c:9 + 3 * c]
                hi, vi = samp >> 4, samp & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    return None
                comps.append((cid, tq, hi, vi))
            if nc == 1:
                # single-component frames have no interleave: sampling
                # factors are ignored, the MCU is one block (T.81 A.2.2)
                comps = [(comps[0][0], comps[0][1], 1, 1)]
            frame = (h, w, comps, prec)
        elif marker == 0xC3:
            # LOSSLESS (SOF3, Annex H): predictive, no DCT — round 5
            lossless = True
            prec = seg[0]
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if not (2 <= prec <= 16) or not (1 <= nc <= 4):
                return None
            comps = []
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c:9 + 3 * c]
                if samp != 0x11:
                    return None  # lossless subsampling: out of scope
                comps.append((cid, tq, 1, 1))
            frame = (h, w, comps, prec)
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9,
                        0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # arithmetic / hierarchical frames
        elif marker == 0xDA:
            if frame is None:
                return None
            ns = seg[0]
            sel = []
            for c in range(ns):
                cs, tables = seg[1 + 2 * c:3 + 2 * c]
                sel.append((cs, tables >> 4, tables & 0x0F))
            ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            segs, scan_end = _split_scan(data, i + 2 + ln)
            scans.append({
                "sel": sel, "Ss": ss, "Se": se,
                "Ah": ahal >> 4, "Al": ahal & 0x0F,
                "ri": restart_interval, "segs": segs,
                "dc": dict(huff_dc), "ac": dict(huff_ac),
            })
            if not progressive:
                break  # sequential: single interleaved scan
            i = scan_end
            continue
        i += 2 + ln
    if frame is None or not scans:
        return None
    h, w, comps, prec = frame
    if h == 0 or w == 0:
        return None
    if lossless:
        return _decode_lossless(comps, scans[0], h, w, prec)
    half = float(1 << (prec - 1))  # level shift 2^(P-1) (A.3.1)
    maxval = (1 << prec) - 1
    dtype = np.uint8 if prec == 8 else np.uint16
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    if any(hmax % c[2] or vmax % c[3] for c in comps):
        return None  # non-integer upsampling ratios: out of scope
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    total_mcus = mcux * mcuy
    grid = []  # per comp: (bw_i blocks wide, bh_i blocks tall)
    for cid, tq, hi, vi in comps:
        grid.append((mcux * hi, mcuy * vi))

    if progressive:
        coefs = _decode_progressive_scans(
            data, comps, scans, grid, mcux, total_mcus, h, w, hmax, vmax)
    else:
        coefs = _decode_sequential_scan(
            comps, scans[0], grid, mcux, total_mcus)

    planes = []
    for ci, (cid, tq, hi, vi) in enumerate(comps):
        bw_i, bh_i = grid[ci]
        arr = coefs[ci]
        nat = np.zeros(arr.shape)
        nat[:, _ZZ] = arr  # dezigzag, batched
        deq = nat.reshape(-1, 8, 8) * qt[tq]
        blocks = np.matmul(np.matmul(_T.T, deq), _T) + half
        plane = (
            blocks.reshape(bh_i, bw_i, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh_i * 8, bw_i * 8)
        )
        cw = -(-w * hi // hmax)
        chh = -(-h * vi // vmax)
        plane = plane[:chh, :cw]
        ry, rx = vmax // vi, hmax // hi
        if ry > 1:
            plane = np.repeat(plane, ry, axis=0)
        if rx > 1:
            plane = np.repeat(plane, rx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, maxval).astype(dtype)
    y, cb, cr = planes
    r = y + 1.402 * (cr - half)
    g = y - 0.344136 * (cb - half) - 0.714136 * (cr - half)
    b = y + 1.772 * (cb - half)
    return np.clip(
        np.round(np.stack([r, g, b], axis=-1)), 0, maxval
    ).astype(dtype)


def _decode_sequential_scan(comps, scan, grid, mcux, total_mcus):
    """Baseline/extended-sequential: one interleaved scan through the
    sparse fast path. Returns per-component (nblocks, 64) float arrays
    of quantized coefficients in zigzag-column order."""
    sel = scan["sel"]
    if len(sel) != len(comps):
        raise ValueError("sequential scan must cover all components")
    restart_interval = scan["ri"]
    segs = scan["segs"]
    if restart_interval:
        need = -(-total_mcus // restart_interval)
        if len(segs) < need:
            raise ValueError("missing restart segments")
    else:
        if len(segs) != 1:
            raise ValueError("RST markers without DRI")
        need = 1
    comp_meta = []
    sparse = []
    for ci, (cid, tq, hi, vi) in enumerate(comps):
        _, dtab, atab = sel[ci]
        comp_meta.append((
            ci, hi, vi, grid[ci][0],
            _huff_lut(*scan["dc"][dtab]), _huff_lut(*scan["ac"][atab]),
        ))
        sparse.append(([], [], []))
    step = restart_interval or total_mcus
    for s in range(need):
        lo = s * step
        hi_m = min(lo + step, total_mcus)
        pred = [0] * len(comps)  # T.81 E.2.4: predictors reset per RST
        _decode_mcus(segs[s], lo, hi_m, mcux, comp_meta, sparse, pred)
    coefs = []
    for ci, (bw_i, bh_i) in enumerate(grid):
        arr = np.zeros((bw_i * bh_i, 64))
        bl, kl, vl = sparse[ci]
        if bl:
            arr[bl, kl] = vl
        coefs.append(arr)
    return coefs


# --- progressive mode (T.81 Annex G: spectral selection + successive
# approximation) ---------------------------------------------------------------


def _decode_progressive_scans(data, comps, scans, grid, mcux, total_mcus,
                              h, w, hmax, vmax):
    """Run every SOS of a progressive frame against per-component dense
    coefficient arrays (int64, zigzag-column order, raster block
    rows). DC scans may be interleaved; AC scans are single-component
    per T.81 G.1.1. Restart segments reset DC predictors and EOB
    runs."""
    coefs = [np.zeros((bw_i * bh_i, 64), dtype=np.int64)
             for bw_i, bh_i in grid]
    id2ci = {c[0]: ci for ci, c in enumerate(comps)}
    for scan in scans:
        sel = scan["sel"]
        ss, se = scan["Ss"], scan["Se"]
        ah, al = scan["Ah"], scan["Al"]
        ri = scan["ri"]
        segs = scan["segs"]
        if ss == 0:  # DC scan (Se must be 0)
            if se != 0:
                raise ValueError("DC scan with Se != 0")
            # traversal: interleaved MCU order over the scan's comps
            # (single-comp frames degenerate to one block per MCU)
            members = []
            for cs, dtab, _ in sel:
                ci = id2ci[cs]
                members.append((ci, comps[ci][2], comps[ci][3],
                                grid[ci][0], dtab))
            n_units = total_mcus

            def pairs_for(lo, hi_m, members=members):
                for m in range(lo, hi_m):
                    my, mx = divmod(m, mcux)
                    for ci, hi_f, vi_f, bw_i, _dt in members:
                        for bi in _mcu_block_indices(my, mx, hi_f, vi_f, bw_i):
                            yield ci, bi

            step = ri or n_units
            need = -(-n_units // step)
            if len(segs) < need:
                raise ValueError("missing restart segments")
            if ah == 0:
                luts = {ci: _huff_lut(*scan["dc"][dt])
                        for ci, _h, _v, _b, dt in members}
                for s in range(need):
                    pred = {ci: 0 for ci, *_ in members}
                    _prog_dc_first(
                        segs[s],
                        pairs_for(s * step, min((s + 1) * step, n_units)),
                        luts, coefs, pred, al)
            else:
                for s in range(need):
                    _prog_dc_refine(
                        segs[s],
                        pairs_for(s * step, min((s + 1) * step, n_units)),
                        coefs, al)
        else:  # AC scan: exactly one component
            if len(sel) != 1:
                raise ValueError("interleaved AC scan")
            cs, _dt, atab = sel[0]
            ci = id2ci[cs]
            cid, tq, hi_f, vi_f = comps[ci]
            bw_i, bh_i = grid[ci]
            # non-interleaved grid: ceil over the COMPONENT's own dims
            cw = -(-w * hi_f // hmax)
            chh = -(-h * vi_f // vmax)
            nbc = -(-cw // 8)
            nbr = -(-chh // 8)
            bis = [r * bw_i + c for r in range(nbr) for c in range(nbc)]
            n_units = len(bis)
            step = ri or n_units
            need = -(-n_units // step)
            if len(segs) < need:
                raise ValueError("missing restart segments")
            lut = _huff_lut(*scan["ac"][atab])
            fn = _prog_ac_first if ah == 0 else _prog_ac_refine
            for s in range(need):
                fn(segs[s], bis[s * step:(s + 1) * step], lut,
                   coefs[ci], ss, se, al)
    return coefs


def _prog_dc_first(seg, pairs, luts, coefs, pred, al):
    """First DC scan (Ah=0): huffman-coded DIFF, value placed at
    <<Al precision. pred resets per restart segment (caller)."""
    d = seg
    L = len(d)
    i = 0
    acc = 0
    nb = 0
    for ci, bi in pairs:
        while nb < 16:
            acc = (acc << 8) | (d[i] if i < L else 0)
            i += 1
            nb += 8
        t = luts[ci][(acc >> (nb - 16)) & 0xFFFF]
        if t == 0:
            raise ValueError("bad huffman code")
        nb -= t >> 8
        s = t & 0xFF
        if s:
            while nb < s:
                acc = (acc << 8) | (d[i] if i < L else 0)
                i += 1
                nb += 8
            v = (acc >> (nb - s)) & ((1 << s) - 1)
            nb -= s
            pred[ci] += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        coefs[ci][bi, 0] = pred[ci] << al
        acc &= (1 << nb) - 1
    if 8 * i - nb > 8 * L:
        raise ValueError("truncated scan")


def _prog_dc_refine(seg, pairs, coefs, al):
    """DC refinement (Ah>0): one raw bit per block, OR'd at Al —
    correct for negatives too (two's complement, G.1.2.1)."""
    d = seg
    L = len(d)
    i = 0
    acc = 0
    nb = 0
    p1 = 1 << al
    for ci, bi in pairs:
        if nb < 1:
            acc = (acc << 8) | (d[i] if i < L else 0)
            i += 1
            nb += 8
        nb -= 1
        if (acc >> nb) & 1:
            coefs[ci][bi, 0] |= p1
        acc &= (1 << nb) - 1
    if 8 * i - nb > 8 * L:
        raise ValueError("truncated scan")


def _prog_ac_first(seg, bis, lut, coef, ss, se, al):
    """First AC scan for a band (Ah=0): zero-run/size coding with EOBn
    run-length codes (G.1.2.2); values placed at <<Al precision."""
    d = seg
    L = len(d)
    i = 0
    acc = 0
    nb = 0
    eobrun = 0
    for bi in bis:
        if eobrun:
            eobrun -= 1
            continue
        row = coef[bi]
        k = ss
        while k <= se:
            while nb < 16:
                acc = (acc << 8) | (d[i] if i < L else 0)
                i += 1
                nb += 8
            t = lut[(acc >> (nb - 16)) & 0xFFFF]
            if t == 0:
                raise ValueError("bad huffman code")
            nb -= t >> 8
            rs = t & 0xFF
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r != 15:  # EOBn: run of 2^r + ext blocks ends here
                    eobrun = (1 << r) - 1
                    if r:
                        while nb < r:
                            acc = (acc << 8) | (d[i] if i < L else 0)
                            i += 1
                            nb += 8
                        eobrun += (acc >> (nb - r)) & ((1 << r) - 1)
                        nb -= r
                    break
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                raise ValueError("AC overflow")
            while nb < s:
                acc = (acc << 8) | (d[i] if i < L else 0)
                i += 1
                nb += 8
            v = (acc >> (nb - s)) & ((1 << s) - 1)
            nb -= s
            row[k] = (v if v >= (1 << (s - 1)) else v - (1 << s) + 1) << al
            k += 1
        acc &= (1 << nb) - 1
    if 8 * i - nb > 8 * L:
        raise ValueError("truncated scan")


def _prog_ac_refine(seg, bis, lut, coef, ss, se, al):
    """AC refinement (Ah>0, G.1.2.3): newly-nonzero coefficients arrive
    as runs with a sign bit; every already-nonzero coefficient passed —
    including during ZRL skips and EOB runs — consumes one correction
    bit that sharpens it by +-2^Al away from zero."""
    d = seg
    L = len(d)
    i = 0
    acc = 0
    nb = 0
    p1 = 1 << al
    eobrun = 0

    def getbit():
        nonlocal acc, nb, i
        if nb < 1:
            acc = (acc << 8) | (d[i] if i < L else 0)
            i += 1
            nb += 8
        nb -= 1
        return (acc >> nb) & 1

    for bi in bis:
        row = coef[bi]
        k = ss
        if eobrun == 0:
            while k <= se:
                while nb < 16:
                    acc = (acc << 8) | (d[i] if i < L else 0)
                    i += 1
                    nb += 8
                t = lut[(acc >> (nb - 16)) & 0xFFFF]
                if t == 0:
                    raise ValueError("bad huffman code")
                nb -= t >> 8
                rs = t & 0xFF
                r, s = rs >> 4, rs & 0x0F
                newval = 0
                if s == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            while nb < r:
                                acc = (acc << 8) | (d[i] if i < L else 0)
                                i += 1
                                nb += 8
                            eobrun += (acc >> (nb - r)) & ((1 << r) - 1)
                            nb -= r
                        break
                    # ZRL: skip 16 zero-history coefficients
                else:
                    if s != 1:
                        raise ValueError("bad refinement size")
                    newval = p1 if getbit() else -p1
                # advance over r zero-history positions, correcting
                # nonzero-history coefficients as they are passed
                while k <= se:
                    c = row[k]
                    if c:
                        if getbit() and not (c & p1):
                            row[k] = c + (p1 if c > 0 else -p1)
                    else:
                        r -= 1
                        if r < 0:
                            break
                    k += 1
                if newval and k <= se:
                    row[k] = newval
                k += 1
                acc &= (1 << nb) - 1
        if eobrun > 0:
            # EOB-covered remainder: correction bits only
            while k <= se:
                c = row[k]
                if c:
                    if getbit() and not (c & p1):
                        row[k] = c + (p1 if c > 0 else -p1)
                k += 1
            eobrun -= 1
        acc &= (1 << nb) - 1
    if 8 * i - nb > 8 * L:
        raise ValueError("truncated scan")


# --- LOSSLESS mode (SOF3, T.81 Annex H: predictive + Huffman) ----------------


def _decode_lossless(comps, scan, h, w, prec):
    """Annex H decode: per-sample neighbor prediction (7 selectors,
    modulo-65536 arithmetic) + DC-style Huffman diff categories (SSSS
    16 = diff 32768, no extra bits). Components interleave one sample
    each (all sampling factors 1x1). Restart intervals are out of
    scope (fixture-free); the per-sample Python loop is acceptable for
    this rare-payload coverage path."""
    sel = scan["sel"]
    npred = scan["Ss"]
    pt = scan["Al"]
    if not (1 <= npred <= 7) or scan["Se"] != 0:
        raise ValueError("bad lossless scan header")
    if scan["ri"] or len(scan["segs"]) != 1:
        raise ValueError("lossless restart intervals unsupported")
    nc = len(comps)
    if len(sel) != nc:
        raise ValueError("lossless scan must cover all components")
    luts = [_huff_lut(*scan["dc"][sel[ci][1]]) for ci in range(nc)]
    d = scan["segs"][0]
    L = len(d)
    acc = nb = i = 0
    planes = [np.zeros((h, w), dtype=np.int64) for _ in range(nc)]
    default = 1 << (prec - pt - 1)
    for y in range(h):
        for x in range(w):
            for ci in range(nc):
                p = planes[ci]
                if y == 0 and x == 0:
                    pred = default
                elif y == 0:
                    pred = int(p[0, x - 1])     # first line: Ra
                elif x == 0:
                    pred = int(p[y - 1, 0])     # line start: Rb
                else:
                    a = int(p[y, x - 1])
                    b = int(p[y - 1, x])
                    c = int(p[y - 1, x - 1])
                    pred = (
                        a, b, c, a + b - c,
                        a + ((b - c) >> 1),
                        b + ((a - c) >> 1),
                        (a + b) >> 1,
                    )[npred - 1]
                while nb < 16:
                    acc = (acc << 8) | (d[i] if i < L else 0)
                    i += 1
                    nb += 8
                t = luts[ci][(acc >> (nb - 16)) & 0xFFFF]
                if t == 0:
                    raise ValueError("bad huffman code")
                nb -= t >> 8
                s = t & 0xFF
                if s == 16:
                    diff = 32768  # SSSS 16: no extra bits (H.2, F.1.2.1)
                elif s:
                    while nb < s:
                        acc = (acc << 8) | (d[i] if i < L else 0)
                        i += 1
                        nb += 8
                    diff = _extend((acc >> (nb - s)) & ((1 << s) - 1), s)
                    nb -= s
                else:
                    diff = 0
                p[y, x] = (pred + diff) & 0xFFFF
            acc &= (1 << nb) - 1
    if 8 * i - nb > 8 * L:
        raise ValueError("truncated scan")
    dtype = np.uint8 if prec <= 8 else np.uint16
    out = [(pl << pt).astype(dtype) for pl in planes]
    if nc == 1:
        return out[0]
    return np.stack(out, axis=-1)


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


def jpeg_mean_luma(data: bytes):
    """Mean luminance of a decodable JPEG: kernels/media.mean_luma over
    the decoded samples (integer arithmetic, single final division,
    6dp); None when the decode has no luma (media.luma_image)."""
    img = luma_image(decode_jpeg(data))
    return None if img is None else mean_luma(img)
