"""Standard security handler (RC4, V=1/2, R=2/3) — SURVEY.md §2.11.

Implemented from the public PDF 32000-1:2008 spec (§7.6.3, Algorithms
2/4/5); behavioral parity target is /root/reference/_security.py +
_reader.py:1285-1405 (V in {1,2} only, empty-password default, missing
/ID tolerated). RC4 itself is arc4-from-spec with a numpy-free keystream
loop — acceptable because encrypted docs are a rare path.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Any

from .cos import Name, PdfError, StreamObj

# standard 32-byte padding string, PDF 32000-1:2008 §7.6.3.3
_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def rc4(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, byte in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = byte ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _compute_key(password: bytes, o_entry: bytes, p: int, id1: bytes, rev: int, keylen: int, encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2: file encryption key from the user password."""
    pwd = (password + _PAD)[:32]
    m = hashlib.md5(pwd)
    m.update(o_entry[:32])
    m.update(struct.pack("<i", p))
    m.update(id1)
    if rev >= 4 and not encrypt_metadata:
        m.update(b"\xff\xff\xff\xff")
    key = m.digest()
    if rev >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:keylen]).digest()
    return key[:keylen]


def _user_password_hash(key: bytes, id1: bytes, rev: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3+): the /U entry for a given key."""
    if rev == 2:
        return rc4(key, _PAD)
    m = hashlib.md5(_PAD)
    m.update(id1)
    val = rc4(key, m.digest())
    for i in range(1, 20):
        step_key = bytes(b ^ i for b in key)
        val = rc4(step_key, val)
    return val + val[:16]  # padded to 32 in files; compare first 16


def make_owner_entry(owner_pwd: bytes, user_pwd: bytes, rev: int, keylen: int) -> bytes:
    """Algorithm 3: the /O entry (write side, used by the fixture
    generator only)."""
    key = hashlib.md5((owner_pwd or user_pwd) + _PAD).digest()
    if rev >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    key = key[:keylen]
    val = rc4(key, (user_pwd + _PAD)[:32])
    if rev >= 3:
        for i in range(1, 20):
            val = rc4(bytes(b ^ i for b in key), val)
    return val


def make_encrypt_parts(
    user_pwd: bytes, owner_pwd: bytes, p: int, id1: bytes, rev: int, keylen: int
):
    """Returns (o_entry, u_entry, file_key) for a standard-handler
    /Encrypt dict (fixture write side)."""
    o = make_owner_entry(owner_pwd, user_pwd, rev, keylen)
    key = _compute_key(user_pwd, o, p, id1, rev, keylen)
    u = _user_password_hash(key, id1, rev)
    if rev >= 3:
        u = u[:16] + b"\x00" * 16
    return o, u, key


def object_key(file_key: bytes, idnum: int, gen: int, aes: bool = False) -> bytes:
    m = hashlib.md5(
        file_key + struct.pack("<i", idnum)[:3] + struct.pack("<i", gen)[:2]
        + (b"sAlT" if aes else b"")  # /AESV2 salt, PDF 32000 §7.6.2
    )
    return m.digest()[: min(len(file_key) + 5, 16)]


import functools


@functools.lru_cache(maxsize=256)
def hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """PDF 2.0 Algorithm 2.B (R=6 password hash): iterated
    SHA-256/384/512 driven by AES-128-CBC rounds. ~1 s in pure Python
    (that is the point of the algorithm) — cached so a corpus sharing
    /Encrypt material pays it once per worker, not per doc."""
    from . import aes as _aes

    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _aes.cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[
            sum(e[:16]) % 3
        ](e).digest()[:64]
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def make_encrypt_parts_v5(
    user_pwd: bytes, owner_pwd: bytes, file_key: bytes, seed: bytes, rev: int = 6
):
    """R=5/6 write side: returns (u48, ue, o48, oe). Salts derive from
    `seed` deterministically (a Spark writer must be pure)."""
    from . import aes as _aes

    def h(pwd, salt, udata=b""):
        if rev == 6:
            return hash_2b(pwd, salt, udata)
        return hashlib.sha256(pwd + salt + udata).digest()

    vs = hashlib.md5(seed + b":vs").digest()[:8]
    ks = hashlib.md5(seed + b":ks").digest()[:8]
    u48 = h(user_pwd, vs) + vs + ks
    ue = _aes.cbc_encrypt(h(user_pwd, ks), b"\x00" * 16, file_key, pad=False)
    ovs = hashlib.md5(seed + b":ovs").digest()[:8]
    oks = hashlib.md5(seed + b":oks").digest()[:8]
    opwd = owner_pwd or user_pwd
    o48 = h(opwd, ovs, u48) + ovs + oks
    oe = _aes.cbc_encrypt(
        h(opwd, oks, u48), b"\x00" * 16, file_key, pad=False
    )
    return u48, ue, o48, oe


def make_perms_entry(file_key: bytes, p: int, encrypt_metadata: bool = True) -> bytes:
    """/Perms for V=5 (PDF 32000-2 §7.6.4.4.9): AES-ECB of the
    permissions record."""
    from . import aes as _aes

    rec = (
        struct.pack("<i", p)
        + b"\xff\xff\xff\xff"
        + (b"T" if encrypt_metadata else b"F")
        + b"adb"
        + b"spdf"
    )
    return _aes.ecb_encrypt_block(file_key, rec)


class StandardDecryptor:
    """V=1/2 RC4 (reference parity), plus V=4 /AESV2 and V=5 /AESV3 —
    which the reference REJECTS (its _security.py stops at V<=3); AES
    itself is kernels/aes.py, FIPS-197-vector-validated."""

    def __init__(self, enc: dict, id1: bytes, password: bytes = b""):
        if enc.get("/Filter") != "/Standard":
            raise PdfError(f"unsupported security handler {enc.get('/Filter')!r}")
        v = int(enc.get("/V", 0))
        self.rev = int(enc.get("/R", 2))
        o = enc.get("/O", b"")
        u = enc.get("/U", b"")
        if isinstance(o, str):
            o = o.encode("latin-1")
        if isinstance(u, str):
            u = u.encode("latin-1")
        p = int(enc.get("/P", -1))
        if v in (1, 2, 4):
            self.mode = self.stm_mode = self.str_mode = "rc4"
            if v == 4:
                # crypt-filter dispatch (PDF 32000 §7.6.5): /StmF names
                # the filter for streams, /StrF for strings — resolved
                # SEPARATELY through /CF; /Identity means passthrough
                cf = enc.get("/CF") or {}
                if not isinstance(cf, dict):
                    cf = {}

                def _resolve(which: str) -> str:
                    name = enc.get(which, "/Identity")
                    if name in (None, "/Identity"):
                        return "identity"
                    entry = cf.get(name)
                    cfm = entry.get("/CFM") if isinstance(entry, dict) else None
                    if cfm == "/AESV2":
                        return "aes128"
                    if cfm in (None, "/V2"):
                        return "rc4"
                    if cfm == "/None":
                        return "identity"
                    raise PdfError(f"unsupported /CFM {cfm!r}")

                self.stm_mode = _resolve("/StmF")
                self.str_mode = _resolve("/StrF")
                # a mode for the password check / object keys: any
                # non-identity filter present, else identity
                self.mode = next(
                    (m for m in (self.stm_mode, self.str_mode) if m != "identity"),
                    "identity",
                )
            keylen = int(enc.get("/Length", 40)) // 8 if v >= 2 else 5
            em = bool(enc.get("/EncryptMetadata", True))
            self.key = _compute_key(
                password, o, p, id1, self.rev, keylen, em
            )
            expect = _user_password_hash(self.key, id1, self.rev)
            got = u[:16] if self.rev >= 3 else u[:32]
            want = expect[:16] if self.rev >= 3 else expect[:32]
            if got != want:
                raise PdfError("wrong password (user-password check failed)")
        elif v == 5:
            from . import aes as _aes

            self.mode = self.stm_mode = self.str_mode = "aes256"
            if enc.get("/StmF") == "/Identity":
                self.stm_mode = "identity"
            if enc.get("/StrF") == "/Identity":
                self.str_mode = "identity"
            ue = enc.get("/UE", b"")
            if isinstance(ue, str):
                ue = ue.encode("latin-1")
            if len(u) < 48 or len(ue) < 32:
                raise PdfError("malformed V5 /U or /UE")

            def h(pwd, salt, udata=b""):
                if self.rev == 6:
                    return hash_2b(pwd, salt, udata)
                return hashlib.sha256(pwd + salt + udata).digest()

            pwd = password[:127]
            if h(pwd, u[32:40]) == u[:32]:  # user password path
                ikey = h(pwd, u[40:48])
                self.key = _aes.cbc_decrypt(
                    ikey, b"\x00" * 16, ue[:32], unpad=False
                )
            else:  # owner password path
                oe = enc.get("/OE", b"")
                if isinstance(oe, str):
                    oe = oe.encode("latin-1")
                if len(o) >= 48 and len(oe) >= 32 and h(
                    pwd, o[32:40], u[:48]
                ) == o[:32]:
                    ikey = h(pwd, o[40:48], u[:48])
                    self.key = _aes.cbc_decrypt(
                        ikey, b"\x00" * 16, oe[:32], unpad=False
                    )
                else:
                    raise PdfError("wrong password (V5 hash check failed)")
        else:
            raise PdfError(f"unsupported /Encrypt /V={v}")

    def _object_key(self, idnum: int, gen: int, mode: str) -> bytes:
        # per-object key: filekey + idnum[0:3] + gen[0:2] (+sAlT for
        # AESV2), md5, clamp (parity: _reader.py:828-839 + §7.6.2);
        # AESV3 uses the file key directly, /Identity needs no key
        if mode in ("aes256", "identity"):
            return self.key
        return object_key(self.key, idnum, gen, aes=mode == "aes128")

    def _cipher(self, mode: str, key: bytes, data: bytes) -> bytes:
        if mode == "identity":
            return data
        if mode == "rc4":
            return rc4(key, data)
        from . import aes as _aes

        if len(data) < 16:
            return b""  # malformed AES payload: quarantine-friendly
        return _aes.cbc_decrypt(key, data[:16], data[16:])

    def decrypt_object(self, obj: Any, idnum: int, gen: int) -> Any:
        stm_key = self._object_key(idnum, gen, self.stm_mode)
        str_key = self._object_key(idnum, gen, self.str_mode)
        return self._walk(obj, stm_key, str_key)

    def _walk(self, obj: Any, stm_key: bytes, str_key: bytes) -> Any:
        if isinstance(obj, StreamObj):
            obj.raw = self._cipher(self.stm_mode, stm_key, obj.raw)
            obj.sdict = self._walk(obj.sdict, stm_key, str_key)
            return obj
        if isinstance(obj, (Name, bool)) or obj is None:
            return obj
        if isinstance(obj, bytes):
            return self._cipher(self.str_mode, str_key, obj)
        if isinstance(obj, str):
            if self.str_mode == "identity":
                return obj  # plaintext strings keep their parsed type
            dec = self._cipher(
                self.str_mode, str_key, obj.encode("latin-1", "replace")
            )
            if dec.startswith(b"\xfe\xff"):
                try:
                    return dec.decode("utf-16")
                except UnicodeDecodeError:
                    return dec
            return dec
        if isinstance(obj, list):
            return [self._walk(v, stm_key, str_key) for v in obj]
        if isinstance(obj, dict):
            return {k: self._walk(v, stm_key, str_key) for k, v in obj.items()}
        return obj
