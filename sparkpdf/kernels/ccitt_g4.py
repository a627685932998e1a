"""CCITT Group 4 (ITU-T T.6, MMR) and Group 3 (T.4) bitonal decoders —
closes SURVEY §2 F8. The matching encoders, which build test data
only, are in sparkpdf/testing/imagegen.py and share the tables below.

Clean-room implementation from the public T.4/T.6 specification (the
run-length code tables below are ITU-T T.4 Tables 2/3 constants; the 2-D
mode words are T.4 §4.2.1.3.7 / T.6 §2.2.3). The reference ships a
partial G4 decoder (reference filters.py:434-899) that emits a 3-byte-
per-pixel raster with debug prints; this one is independent and emits
PDF-convention packed rows.

Decoder output convention matches /CCITTFaxDecode with BlackIs1=false
(the PDF default): 0 bits are BLACK, 1 bits are WHITE, each row padded
to a byte boundary (EncodedByteAlign output framing).
"""

from __future__ import annotations

from typing import List

from .cos import PdfError

# ---- ITU-T T.4 run-length code tables: run -> (bit-length, code value) ----

_WHITE_TERM = {
    0: (8, 0b00110101), 1: (6, 0b000111), 2: (4, 0b0111), 3: (4, 0b1000),
    4: (4, 0b1011), 5: (4, 0b1100), 6: (4, 0b1110), 7: (4, 0b1111),
    8: (5, 0b10011), 9: (5, 0b10100), 10: (5, 0b00111), 11: (5, 0b01000),
    12: (6, 0b001000), 13: (6, 0b000011), 14: (6, 0b110100),
    15: (6, 0b110101), 16: (6, 0b101010), 17: (6, 0b101011),
    18: (7, 0b0100111), 19: (7, 0b0001100), 20: (7, 0b0001000),
    21: (7, 0b0010111), 22: (7, 0b0000011), 23: (7, 0b0000100),
    24: (7, 0b0101000), 25: (7, 0b0101011), 26: (7, 0b0010011),
    27: (7, 0b0100100), 28: (7, 0b0011000), 29: (8, 0b00000010),
    30: (8, 0b00000011), 31: (8, 0b00011010), 32: (8, 0b00011011),
    33: (8, 0b00010010), 34: (8, 0b00010011), 35: (8, 0b00010100),
    36: (8, 0b00010101), 37: (8, 0b00010110), 38: (8, 0b00010111),
    39: (8, 0b00101000), 40: (8, 0b00101001), 41: (8, 0b00101010),
    42: (8, 0b00101011), 43: (8, 0b00101100), 44: (8, 0b00101101),
    45: (8, 0b00000100), 46: (8, 0b00000101), 47: (8, 0b00001010),
    48: (8, 0b00001011), 49: (8, 0b01010010), 50: (8, 0b01010011),
    51: (8, 0b01010100), 52: (8, 0b01010101), 53: (8, 0b00100100),
    54: (8, 0b00100101), 55: (8, 0b01011000), 56: (8, 0b01011001),
    57: (8, 0b01011010), 58: (8, 0b01011011), 59: (8, 0b01001010),
    60: (8, 0b01001011), 61: (8, 0b00110010), 62: (8, 0b00110011),
    63: (8, 0b00110100),
}

_WHITE_MAKEUP = {
    64: (5, 0b11011), 128: (5, 0b10010), 192: (6, 0b010111),
    256: (7, 0b0110111), 320: (8, 0b00110110), 384: (8, 0b00110111),
    448: (8, 0b01100100), 512: (8, 0b01100101), 576: (8, 0b01101000),
    640: (8, 0b01100111), 704: (9, 0b011001100), 768: (9, 0b011001101),
    832: (9, 0b011010010), 896: (9, 0b011010011), 960: (9, 0b011010100),
    1024: (9, 0b011010101), 1088: (9, 0b011010110), 1152: (9, 0b011010111),
    1216: (9, 0b011011000), 1280: (9, 0b011011001), 1344: (9, 0b011011010),
    1408: (9, 0b011011011), 1472: (9, 0b010011000), 1536: (9, 0b010011001),
    1600: (9, 0b010011010), 1664: (6, 0b011000), 1728: (9, 0b010011011),
}

_BLACK_TERM = {
    0: (10, 0b0000110111), 1: (3, 0b010), 2: (2, 0b11), 3: (2, 0b10),
    4: (3, 0b011), 5: (4, 0b0011), 6: (4, 0b0010), 7: (5, 0b00011),
    8: (6, 0b000101), 9: (6, 0b000100), 10: (7, 0b0000100),
    11: (7, 0b0000101), 12: (7, 0b0000111), 13: (8, 0b00000100),
    14: (8, 0b00000111), 15: (9, 0b000011000), 16: (10, 0b0000010111),
    17: (10, 0b0000011000), 18: (10, 0b0000001000),
    19: (11, 0b00001100111), 20: (11, 0b00001101000),
    21: (11, 0b00001101100), 22: (11, 0b00000110111),
    23: (11, 0b00000101000), 24: (11, 0b00000010111),
    25: (11, 0b00000011000), 26: (12, 0b000011001010),
    27: (12, 0b000011001011), 28: (12, 0b000011001100),
    29: (12, 0b000011001101), 30: (12, 0b000001101000),
    31: (12, 0b000001101001), 32: (12, 0b000001101010),
    33: (12, 0b000001101011), 34: (12, 0b000011010010),
    35: (12, 0b000011010011), 36: (12, 0b000011010100),
    37: (12, 0b000011010101), 38: (12, 0b000011010110),
    39: (12, 0b000011010111), 40: (12, 0b000001101100),
    41: (12, 0b000001101101), 42: (12, 0b000011011010),
    43: (12, 0b000011011011), 44: (12, 0b000001010100),
    45: (12, 0b000001010101), 46: (12, 0b000001010110),
    47: (12, 0b000001010111), 48: (12, 0b000001100100),
    49: (12, 0b000001100101), 50: (12, 0b000001010010),
    51: (12, 0b000001010011), 52: (12, 0b000000100100),
    53: (12, 0b000000110111), 54: (12, 0b000000111000),
    55: (12, 0b000000100111), 56: (12, 0b000000101000),
    57: (12, 0b000001011000), 58: (12, 0b000001011001),
    59: (12, 0b000000101011), 60: (12, 0b000000101100),
    61: (12, 0b000001011010), 62: (12, 0b000001100110),
    63: (12, 0b000001100111),
}

_BLACK_MAKEUP = {
    64: (10, 0b0000001111), 128: (12, 0b000011001000),
    192: (12, 0b000011001001), 256: (12, 0b000001011011),
    320: (12, 0b000000110011), 384: (12, 0b000000110100),
    448: (12, 0b000000110101), 512: (13, 0b0000001101100),
    576: (13, 0b0000001101101), 640: (13, 0b0000001001010),
    704: (13, 0b0000001001011), 768: (13, 0b0000001001100),
    832: (13, 0b0000001001101), 896: (13, 0b0000001110010),
    960: (13, 0b0000001110011), 1024: (13, 0b0000001110100),
    1088: (13, 0b0000001110101), 1152: (13, 0b0000001110110),
    1216: (13, 0b0000001110111), 1280: (13, 0b0000001010010),
    1344: (13, 0b0000001010011), 1408: (13, 0b0000001010100),
    1472: (13, 0b0000001010101), 1536: (13, 0b0000001011010),
    1600: (13, 0b0000001011011), 1664: (13, 0b0000001100100),
    1728: (13, 0b0000001100101),
}

# extended make-up codes, shared by both colors (T.4 Table 3b)
_EXT_MAKEUP = {
    1792: (11, 0b00000001000), 1856: (11, 0b00000001100),
    1920: (11, 0b00000001101), 1984: (12, 0b000000010010),
    2048: (12, 0b000000010011), 2112: (12, 0b000000010100),
    2176: (12, 0b000000010101), 2240: (12, 0b000000010110),
    2304: (12, 0b000000010111), 2368: (12, 0b000000011100),
    2432: (12, 0b000000011101), 2496: (12, 0b000000011110),
    2560: (12, 0b000000011111),
}

# decode maps: (bit-length, code) -> run
_WHITE_DECODE = {v: k for k, v in {**_WHITE_TERM, **_WHITE_MAKEUP, **_EXT_MAKEUP}.items()}
_BLACK_DECODE = {v: k for k, v in {**_BLACK_TERM, **_BLACK_MAKEUP, **_EXT_MAKEUP}.items()}

# 2-D mode words (T.6 §2.2.3): value -> (bit-length, code)
_MODE_PASS = (4, 0b0001)
_MODE_HORIZ = (3, 0b001)
_MODE_V = {  # vertical offsets a1 - b1
    0: (1, 0b1),
    1: (3, 0b011), -1: (3, 0b010),
    2: (6, 0b000011), -2: (6, 0b000010),
    3: (7, 0b0000011), -3: (7, 0b0000010),
}


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position
        self.nbits = len(data) * 8

    def peek(self, n: int) -> int:
        out = 0
        for k in range(n):
            p = self.pos + k
            bit = (self.data[p >> 3] >> (7 - (p & 7))) & 1 if p < self.nbits else 0
            out = (out << 1) | bit
        return out

    def skip(self, n: int):
        self.pos += n

    def exhausted(self) -> bool:
        return self.pos >= self.nbits


def _read_run(br: _BitReader, decode_map) -> int:
    """One T.4 run: zero or more make-up codes then a terminating code."""
    total = 0
    while True:
        for ln in range(2, 14):
            code = br.peek(ln)
            run = decode_map.get((ln, code))
            if run is not None:
                br.skip(ln)
                total += run
                if run < 64:  # terminating code ends the run
                    return total
                break
        else:
            raise PdfError("CCITT G4: bad run-length code")


def _transitions(line: List[int], columns: int) -> List[int]:
    """Changing-element positions of a 0/1 pixel line, with the implicit
    white start (a change at 0 if the first pixel is black)."""
    out = []
    prev = 0
    for i, v in enumerate(line):
        if v != prev:
            out.append(i)
            prev = v
    return out


def g4_decode(data: bytes, columns: int, rows: int = 0) -> List[List[int]]:
    """T.6 MMR decode -> list of pixel rows (1=black, 0=white).

    Stops after `rows` lines when given, else at EOFB or data end."""
    br = _BitReader(data)
    ref = [0] * columns  # imaginary all-white reference line
    out: List[List[int]] = []
    while (not rows or len(out) < rows) and not br.exhausted():
        # EOFB = EOL EOL (000000000001 twice)
        if br.peek(24) == 0b000000000001000000000001:
            break
        cur = _decode_2d_line(br, ref, columns)
        out.append(cur)
        ref = cur
    return out


def g3_decode_1d(data: bytes, columns: int, rows: int = 0) -> List[List[int]]:
    """ITU-T T.4 one-dimensional (MH) decode — the /K 0 case of
    /CCITTFaxDecode. Lines are alternating white/black runs using the
    same code tables as G4's horizontal mode; EOLs (with zero-fill) are
    consumed wherever present but not required (PDF's /EndOfLine is
    false by default)."""
    br = _BitReader(data)
    out: List[List[int]] = []

    def bit_at(off):
        p = br.pos + off
        if p >= br.nbits:
            return None
        return (br.data[p >> 3] >> (7 - (p & 7))) & 1

    def eat_eols():
        # an EOL is >= 11 zeros (fill bits extend the zero run) then a 1
        while True:
            z = 0
            while bit_at(z) == 0:
                z += 1
            if bit_at(z) == 1 and z >= 11:
                br.skip(z + 1)
            else:
                return

    while (not rows or len(out) < rows) and not br.exhausted():
        eat_eols()
        if br.exhausted():
            break
        line = [0] * columns
        pos = 0
        color = 0
        while pos < columns:
            try:
                run = _read_run(br, _BLACK_DECODE if color else _WHITE_DECODE)
            except PdfError:
                if pos == 0:  # trailing pad bits, no new line started
                    return out
                raise
            for i in range(pos, min(pos + run, columns)):
                line[i] = color
            pos += run
            color = 1 - color
        out.append(line)
    return out


def g3_decode_2d(data: bytes, columns: int, rows: int = 0) -> List[List[int]]:
    """ITU-T T.4 two-dimensional (MR) decode — the /K > 0 case: every
    line starts with EOL + a tag bit (1 = the line is 1-D MH coded,
    0 = 2-D coded relative to the previous line). Reuses the G4 mode
    machinery for 2-D lines and the MH run tables for 1-D lines."""
    br = _BitReader(data)
    out: List[List[int]] = []
    ref = [0] * columns

    def bit_at(off):
        p = br.pos + off
        if p >= br.nbits:
            return None
        return (br.data[p >> 3] >> (7 - (p & 7))) & 1

    while (not rows or len(out) < rows) and not br.exhausted():
        # EOL (with fill) is MANDATORY before each K>0 line
        z = 0
        while bit_at(z) == 0:
            z += 1
        if bit_at(z) != 1 or z < 11:
            break  # trailing pad / RTC
        br.skip(z + 1)
        tag = bit_at(0)
        if tag is None:
            break
        br.skip(1)
        if tag == 1:  # 1-D MH line
            line = [0] * columns
            pos = 0
            color = 0
            while pos < columns:
                run = _read_run(br, _BLACK_DECODE if color else _WHITE_DECODE)
                for i in range(pos, min(pos + run, columns)):
                    line[i] = color
                pos += run
                color = 1 - color
        else:  # 2-D line, coded against ref exactly like G4
            line = _decode_2d_line(br, ref, columns)
        out.append(line)
        ref = line
    return out


def _decode_2d_line(br: _BitReader, ref: List[int], columns: int) -> List[int]:
    """One 2-D-coded line (shared by G4 and K>0 G3)."""
    ref_tr = _transitions(ref, columns)
    cur = [0] * columns
    a0 = -1
    color = 0
    while a0 < columns:
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
        if br.exhausted():
            break
        if br.peek(_MODE_PASS[0]) == _MODE_PASS[1]:
            br.skip(_MODE_PASS[0])
            for i in range(max(a0, 0), b2):
                cur[i] = color
            a0 = b2
            continue
        if br.peek(_MODE_HORIZ[0]) == _MODE_HORIZ[1]:
            br.skip(_MODE_HORIZ[0])
            maps = (_WHITE_DECODE, _BLACK_DECODE)
            r1 = _read_run(br, maps[color])
            r2 = _read_run(br, maps[1 - color])
            start = max(a0, 0)
            for i in range(start, min(start + r1, columns)):
                cur[i] = color
            for i in range(min(start + r1, columns),
                           min(start + r1 + r2, columns)):
                cur[i] = 1 - color
            a0 = start + r1 + r2
            continue
        for delta, (ln, code) in _MODE_V.items():
            if br.peek(ln) == code:
                br.skip(ln)
                a1 = b1 + delta
                for i in range(max(a0, 0), min(a1, columns)):
                    cur[i] = color
                a0 = a1
                color = 1 - color
                break
        else:
            raise PdfError("CCITT 2-D: bad mode code")
    return cur
