"""Built-in single-byte encodings — SURVEY.md §2.9 (T2, T9).

Tables are reconstructed from the PUBLIC Adobe encoding vectors
(PDF 32000-1:2008 Annex D; Adobe Symbol/ZapfDingbats specs). Where a
Python stdlib codec already implements the vector (cp1252 for
/WinAnsiEncoding, mac_roman for /MacRomanEncoding) we use it directly
instead of shipping a table — reference parity target is
/root/reference/generic.py:1692-1716 (+ tables 1719-3011), verified by
tests/test_encoding_parity.py comparing all 256 bytes per encoding
against the reference's decode_builtin.

Vectorization: a 256-entry table becomes one `str.maketrans`-style dict
applied with bytes.translate-equivalent `_table_decode` (numpy take over
a unicode array) — no per-byte Python in the hot path.
"""

from __future__ import annotations

from typing import Dict, List, Optional

_R = "\u0000"  # unmapped codes decode to NUL (reference parity:
# generic.py:1709-1714 uses "\\u0000" table entries for unmapped bytes)


def _table(overrides: Dict[int, str], base: Optional[List[str]] = None) -> List[str]:
    t = list(base) if base is not None else [_R] * 256
    for k, v in overrides.items():
        t[k] = v
    return t


_ASCII = [chr(i) if 32 <= i < 127 else _R for i in range(256)]

# --- StandardEncoding (Annex D.2, "StandardEncoding" column) ----------------
STANDARD_ENCODING = _table(
    {
        # Adobe publishes the "Unicode variant" values for these glyphs:
        # space->NBSP, hyphen->SOFT HYPHEN, fraction->DIVISION SLASH,
        # periodcentered->BULLET OPERATOR, macron->MODIFIER MACRON
        32: " ", 45: "­",
        39: "’",  # quoteright
        96: "‘",  # quoteleft
        161: "¡", 162: "¢", 163: "£", 164: "∕",
        165: "¥", 166: "ƒ", 167: "§", 168: "¤",
        169: "'", 170: "“", 171: "«", 172: "‹",
        173: "›", 174: "ﬁ", 175: "ﬂ", 177: "–",
        178: "†", 179: "‡", 180: "\u2219", 182: "¶",
        183: "•", 184: "‚", 185: "„", 186: "”",
        187: "»", 188: "…", 189: "‰", 191: "¿",
        193: "`", 194: "´", 195: "ˆ", 196: "˜",
        197: "\u02c9", 198: "˘", 199: "˙", 200: "¨",
        202: "˚", 203: "¸", 205: "˝", 206: "˛",
        207: "ˇ", 208: "—", 225: "Æ", 227: "ª",
        232: "Ł", 233: "Ø", 234: "Œ", 235: "º",
        241: "æ", 245: "ı", 248: "ł", 249: "ø",
        250: "œ", 251: "ß",
    },
    _ASCII,
)

# --- PDFDocEncoding (Annex D.3) ---------------------------------------------
PDFDOC_ENCODING = _table(
    {
        # 0x18-0x1F: accents
        0x18: "˘", 0x19: "ˇ", 0x1A: "ˆ", 0x1B: "˙",
        0x1C: "˝", 0x1D: "˛", 0x1E: "˚", 0x1F: "˜",
        # 0x80-0x9F: punctuation block
        0x80: "•", 0x81: "†", 0x82: "‡", 0x83: "…",
        0x84: "—", 0x85: "–", 0x86: "ƒ", 0x87: "⁄",
        0x88: "‹", 0x89: "›", 0x8A: "−", 0x8B: "‰",
        0x8C: "„", 0x8D: "“", 0x8E: "”", 0x8F: "‘",
        0x90: "’", 0x91: "‚", 0x92: "™", 0x93: "ﬁ",
        0x94: "ﬂ", 0x95: "Ł", 0x96: "Œ", 0x97: "Š",
        0x98: "Ÿ", 0x99: "Ž", 0x9A: "ı", 0x9B: "ł",
        0x9C: "œ", 0x9D: "š", 0x9E: "ž", 0xA0: "€",
        # Latin-1 upper half
        **{i: chr(i) for i in range(0xA1, 0x100)},
        0xAD: _R,  # undefined in PDFDocEncoding
    },
    _ASCII,
)

# --- Symbol (Adobe Symbol font encoding; Greek via Latin positions) ---------
_SYMBOL_UPPER = {
    "A": "Α", "B": "Β", "C": "Χ", "D": "\u2206",
    "E": "Ε", "F": "Φ", "G": "Γ", "H": "Η",
    "I": "Ι", "J": "ϑ", "K": "Κ", "L": "Λ",
    "M": "Μ", "N": "Ν", "O": "Ο", "P": "Π",
    "Q": "Θ", "R": "Ρ", "S": "Σ", "T": "Τ",
    "U": "Υ", "V": "ς", "W": "\u2126", "X": "Ξ",
    "Y": "Ψ", "Z": "Ζ",
}
_SYMBOL_LOWER = {
    "a": "α", "b": "β", "c": "χ", "d": "δ",
    "e": "ε", "f": "φ", "g": "γ", "h": "η",
    "i": "ι", "j": "ϕ", "k": "κ", "l": "λ",
    "m": "μ", "n": "ν", "o": "ο", "p": "π",
    "q": "θ", "r": "ρ", "s": "σ", "t": "τ",
    "u": "υ", "v": "ϖ", "w": "ω", "x": "ξ",
    "y": "ψ", "z": "ζ",
}
SYMBOL_ENCODING = _table(
    {
        32: "\u00a0", 33: "!", 34: "∀", 35: "#", 36: "∃", 37: "%",
        38: "&", 39: "∋", 40: "(", 41: ")", 42: "∗", 43: "+",
        44: ",", 45: "−", 46: ".", 47: "/",
        **{i: chr(i) for i in range(48, 58)},  # digits
        58: ":", 59: ";", 60: "<", 61: "=", 62: ">", 63: "?",
        64: "≅",
        **{ord(k): v for k, v in _SYMBOL_UPPER.items()},
        91: "[", 92: "∴", 93: "]", 94: "⊥", 95: "_",
        96: "",
        **{ord(k): v for k, v in _SYMBOL_LOWER.items()},
        123: "{", 124: "|", 125: "}", 126: "∼",
        160: "\u20ac", 161: "ϒ", 162: "′", 163: "≤", 164: "\u2215",
        165: "∞", 166: "ƒ", 167: "♣", 168: "♦",
        169: "♥", 170: "♠", 171: "↔", 172: "←",
        173: "↑", 174: "→", 175: "↓", 176: "°",
        177: "±", 178: "″", 179: "≥", 180: "×",
        181: "∝", 182: "∂", 183: "•", 184: "÷",
        185: "≠", 186: "≡", 187: "≈", 188: "…",
        189: "", 190: "", 191: "↵", 192: "ℵ",
        193: "ℑ", 194: "ℜ", 195: "℘", 196: "⊗",
        197: "⊕", 198: "∅", 199: "∩", 200: "∪",
        201: "⊃", 202: "⊇", 203: "⊄", 204: "⊂",
        205: "⊆", 206: "∈", 207: "∉", 208: "∠",
        209: "∇", 210: "", 211: "", 212: "",
        213: "∏", 214: "√", 215: "⋅", 216: "¬",
        217: "∧", 218: "∨", 219: "⇔", 220: "⇐",
        221: "⇑", 222: "⇒", 223: "⇓", 224: "◊",
        225: "〈", 226: "", 227: "", 228: "",
        229: "∑", 230: "", 231: "", 232: "",
        233: "", 234: "", 235: "", 236: "",
        237: "", 238: "", 239: "", 241: "〉",
        242: "∫", 243: "⌠", 244: "", 245: "⌡",
        246: "", 247: "", 248: "", 249: "",
        250: "", 251: "", 252: "", 253: "",
        254: "",
    }
)

# --- ZapfDingbats (Adobe ITC Zapf Dingbats encoding) ------------------------
ZAPF_DINGBATS_ENCODING = _table(
    {
        32: " ",
        **{i: chr(0x2701 + (i - 33)) for i in range(33, 127)},
        **{i: chr(0x2761 + (i - 161)) for i in range(161, 255)},
    }
)
# exact irregulars of the dingbats vector (public Adobe table)
for _c, _u in {
    32: "\u00a0",
    37: "☎", 38: "✆", 42: "\u261b", 43: "\u261e",
    44: "\u270c", 47: "\u270f", 48: "\u2710", 53: "\u2715",
    55: "\u2717", 56: "\u2718", 57: "\u2719", 58: "\u271a",
    72: "\u2605", 94: "\u273e", 96: "\u2740",
    **{i: chr(0xF8D7 + (i - 128)) for i in range(128, 142)},
    108: "●", 109: "❍",
    110: "■", 111: "❏", 115: "▲", 116: "▼",
    117: "◆", 118: "❖", 119: "◗", 164: "❤",
    165: "❥", 166: "❦", 167: "❧", 168: "♣",
    169: "♦", 170: "♥", 171: "♠",
    **{i: chr(0x2460 + (i - 172)) for i in range(172, 182)},
    **{i: chr(0x2776 + (i - 182)) for i in range(182, 192)},
    **{i: chr(0x2780 + (i - 192)) for i in range(192, 202)},
    **{i: chr(0x278a + (i - 202)) for i in range(202, 212)},
    212: "\u2794", 213: "\u2192", 214: "\u2194", 215: "\u2195",
}.items():
    ZAPF_DINGBATS_ENCODING[_c] = _u

# name -> table-or-codec (parity: decode_builtin, generic.py:1692-1716)
_TABLES: Dict[str, List[str]] = {
    "StandardEncoding": STANDARD_ENCODING,
    "PDFDocEncoding": PDFDOC_ENCODING,
    "Symbol": SYMBOL_ENCODING,
    "ZapfDingbats": ZAPF_DINGBATS_ENCODING,
    # mac_roman codec, but control bytes are UNMAPPED in the Adobe
    # vector (reference maps 0x00-0x1F and 0x7F to NUL)
    "MacRomanEncoding": [
        _R if (i < 32 or i == 127) else bytes([i]).decode("mac_roman", "replace")
        for i in range(256)
    ],
}
_CODECS: Dict[str, str] = {
    "WinAnsiEncoding": "cp1252",
}


def _norm(name: str) -> str:
    return name[1:] if name.startswith("/") else name


def decode_builtin(data: bytes, encoding_name: str) -> str:
    """Byte-string -> unicode via a named built-in encoding
    (parity: generic.py:1692-1716; unknown names fall through to a
    Python codec with errors='replace')."""
    name = _norm(encoding_name)
    t = _TABLES.get(name)
    if t is not None:
        return decode_with_table(data, t)
    codec = _CODECS.get(name, name)
    try:
        return data.decode(codec, "replace")
    except LookupError:
        return data.decode("latin-1", "replace")


_TRANS_CACHE: Dict[int, Dict[int, str]] = {}


def decode_with_table(data: bytes, table: List[str]) -> str:
    """Vectorized 256-entry table decode: latin-1 (byte->chr identity)
    then one C-level str.translate pass with a cached mapping."""
    if not data:
        return ""
    key = id(table)
    trans = _TRANS_CACHE.get(key)
    if trans is None:
        trans = str.maketrans({i: table[i] for i in range(256)})
        _TRANS_CACHE[key] = trans
    return data.decode("latin-1").translate(trans)
