"""AES kernel (FIPS-197) + /AESV2 & /AESV3 security handlers.

The AES core is validated against the PUBLISHED FIPS-197 Appendix C
known-answer vectors (independent ground truth); the PDF handler levels
are validated by write->decrypt round-trips over the full feature
surface. The reference rejects V>3 outright (_security.py), so these
EXCEED it — no parity possible."""

import pytest

from sparkpdf.kernels.aes import (
    _decrypt_block,
    _encrypt_block,
    _expand_key,
    cbc_decrypt,
    cbc_encrypt,
)
from sparkpdf.kernels.cos import PdfError


def test_fips197_appendix_c_vectors():
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    for klen, want in (
        (16, "69c4e0d86a7b0430d8cdb78070b4c55a"),
        (24, "dda97ca4864cdfe06eaf70a0ec0d7191"),
        (32, "8ea2b7ca516745bfeafc49904b496089"),
    ):
        key = bytes(range(klen))
        rks = _expand_key(key)
        ct = _encrypt_block(pt, rks)
        assert ct.hex() == want, klen
        assert _decrypt_block(ct, rks) == pt


def test_cbc_roundtrip_and_padding():
    key, iv = bytes(range(16)), bytes(range(16, 32))
    for n in (0, 1, 15, 16, 17, 100):
        data = bytes(range(256))[:n]
        enc = cbc_encrypt(key, iv, data)
        assert len(enc) % 16 == 0 and len(enc) > len(data)  # PKCS#7
        assert cbc_decrypt(key, iv, enc) == data


def test_fast_and_pure_backends_agree():
    """The OpenSSL path (cryptography pkg) and the from-scratch FIPS-197
    path must be byte-identical on every key size / padding mode."""
    from sparkpdf.kernels import aes as _aes

    for klen in (16, 24, 32):
        key = bytes(range(klen))
        iv = bytes(range(100, 116))
        for n in (0, 5, 16, 33, 257):
            data = bytes((i * 7 + 3) & 0xFF for i in range(n))
            fast_ct = cbc_encrypt(key, iv, data)
            assert fast_ct == _aes._py_cbc_encrypt(key, iv, data)
            assert (
                cbc_decrypt(key, iv, fast_ct)
                == _aes._py_cbc_decrypt(key, iv, fast_ct)
                == data
            )
        blk = bytes(range(50, 66))
        assert _aes.ecb_encrypt_block(key, blk) == _aes._py_ecb_encrypt_block(
            key, blk
        )
    # the container this ships in has the fast path; the assert makes a
    # silent fallback (perf regression) visible in CI
    assert _aes.HAVE_CRYPTOGRAPHY


@pytest.mark.parametrize("mode", ["aes-128", "aes-256"])
def test_pdf_aes_roundtrip_full_surface(mode):
    """Write with AES, decrypt-extract EVERYTHING back: text spans,
    attachments, form fields, bookmarks; wrong password rejected."""
    from sparkpdf.kernels.document import PdfDocument
    from sparkpdf.kernels.extract import extract_doc
    from sparkpdf.kernels.write import spans_to_pdf
    from sparkpdf.testing.fixtures import doc_text

    pages = [
        [{"kind": "text", "text": "secret one\n", "media_ref": None},
         {"kind": "media_ref", "text": None, "media_ref": "img00"}],
        [{"kind": "text", "text": "page two\n", "media_ref": None}],
    ]
    pdf = spans_to_pdf(
        pages, title="t", bookmarks=[("c", 0)],
        links=[(0, "https://e.org/x")], attachments=[("a.txt", b"att")],
        form_fields=[("f", "v")], user_password=b"pw",
        owner_password=b"own", encryption=mode,
    )
    doc = PdfDocument(pdf, password=b"pw")
    res = extract_doc(pdf, password=b"pw")
    assert res["error"] is None
    assert doc_text(res["spans"]) == "secret one\npage two\n"
    assert doc.attachments()[0]["data"] == b"att"
    assert {f["name"]: f["value"] for f in doc.form_fields()} == {"f": "v"}
    assert [o["title"] for o in doc.outlines()] == ["c"]
    with pytest.raises(PdfError):
        PdfDocument(pdf, password=b"wrong")
    # determinism (pure Spark writer)
    assert pdf == spans_to_pdf(
        pages, title="t", bookmarks=[("c", 0)],
        links=[(0, "https://e.org/x")], attachments=[("a.txt", b"att")],
        form_fields=[("f", "v")], user_password=b"pw",
        owner_password=b"own", encryption=mode,
    )


def test_aes256_owner_password_path():
    from sparkpdf.kernels.document import PdfDocument
    from sparkpdf.kernels.write import spans_to_pdf

    pdf = spans_to_pdf(
        [[{"kind": "text", "text": "x\n", "media_ref": None}]],
        title="t", user_password=b"pw", owner_password=b"own",
        encryption="aes-256",
    )
    # both passwords recover the same file key -> same content
    for password in (b"pw", b"own"):
        doc = PdfDocument(pdf, password=password)
        assert doc.num_pages() == 1


def test_key_material_is_per_document():
    """Two documents with the SAME password and title but different
    content must share NO key material: distinct file /ID (hence
    distinct RC4 keystreams / AES IVs) and, for V5, distinct file
    encryption keys — closes the two-time-pad and fixed-file-key holes."""
    import re

    from sparkpdf.kernels.crypto import StandardDecryptor
    from sparkpdf.kernels.document import PdfDocument
    from sparkpdf.kernels.write import spans_to_pdf

    def make(text, mode):
        return spans_to_pdf(
            [[{"kind": "text", "text": text, "media_ref": None}]],
            title="t", user_password=b"pw", encryption=mode,
        )

    for mode in ("rc4-128", "aes-128", "aes-256"):
        a, b = make("alpha\n", mode), make("beta\n", mode)
        ida = re.search(rb"/ID \[<([0-9a-f]+)>", a).group(1)
        idb = re.search(rb"/ID \[<([0-9a-f]+)>", b).group(1)
        assert ida != idb, mode
    # V5: the recovered file keys differ per document (no shared
    # constant) and differ by password too
    docs = {}
    for text in ("alpha\n", "beta\n"):
        pdf = make(text, "aes-256")
        doc = PdfDocument(pdf, password=b"pw")
        docs[text] = doc._decryptor.key if hasattr(doc, "_decryptor") else None
    if all(v is not None for v in docs.values()):
        assert docs["alpha\n"] != docs["beta\n"]


def test_v5_wrong_everything_quarantines():
    """Corrupt /UE: key recovery yields a garbage file key; the doc
    quarantines or salvages empty — never yields the true text and
    never raises uncaught."""
    from sparkpdf.kernels.extract import extract_doc
    from sparkpdf.kernels.write import spans_to_pdf

    pdf = spans_to_pdf(
        [[{"kind": "text", "text": "x\n", "media_ref": None}]],
        title="t", user_password=b"pw", encryption="aes-256",
    )
    i = pdf.index(b"/UE (")
    bad = pdf[: i + 6] + bytes([pdf[i + 6] ^ 0xFF]) + pdf[i + 7:]
    res = extract_doc(bad, password=b"pw")
    # a garbage file key can only yield an error OR salvage-empty
    # output — never the true text, never an uncaught exception
    from sparkpdf.testing.fixtures import doc_text

    assert res["error"] is not None or doc_text(res["spans"]) != "x\n"
