"""Load the read-only reference implementation as a parity oracle.

The reference fork at /root/reference imports itself by the absolute
name PyPDF2, so we register it under that name via importlib. Used ONLY
by tests/golden generation — never by the engine.
"""

from __future__ import annotations

import importlib.util
import io
import sys
from typing import Optional

_REF_INIT = "/root/reference/__init__.py"
_REF_DIR = "/root/reference"


def load_reference():
    if "PyPDF2" in sys.modules:
        return sys.modules["PyPDF2"]
    spec = importlib.util.spec_from_file_location(
        "PyPDF2", _REF_INIT, submodule_search_locations=[_REF_DIR]
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["PyPDF2"] = mod
    try:
        spec.loader.exec_module(mod)
    except BaseException:
        # drop the half-initialised package, so a later call raises the
        # real error again instead of returning a broken module
        for name in [n for n in sys.modules
                     if n == "PyPDF2" or n.startswith("PyPDF2.")]:
            del sys.modules[name]
        raise
    # xmp.py imports PyPDF2.utils, which only exists as the _utils alias
    if "PyPDF2._utils" in sys.modules:
        sys.modules.setdefault("PyPDF2.utils", sys.modules["PyPDF2._utils"])
    return mod


def reference_extract(pdf_bytes: bytes) -> dict:
    """Run the reference end-to-end: n_pages + per-page extractText.

    Returns {"n_pages": int, "texts": [str|None], "errors": [str|None]}
    — a None text means the reference crashed on that page (some paths
    are buggy in the reference; see fixtures.REFERENCE_DIVERGENT).
    """
    ref = load_reference()
    out = {"n_pages": 0, "texts": [], "errors": []}
    try:
        r = ref.PdfFileReader(io.BytesIO(pdf_bytes), strict=False)
        if getattr(r, "isEncrypted", False):
            r.decrypt("")
        out["n_pages"] = r.getNumPages()
    except Exception as exc:  # reference failed to open
        out["errors"].append(f"open: {type(exc).__name__}: {exc}")
        return out
    for i in range(out["n_pages"]):
        try:
            out["texts"].append(r.getPage(i).extractText())
            out["errors"].append(None)
        except Exception as exc:
            out["texts"].append(None)
            out["errors"].append(f"{type(exc).__name__}: {exc}")
    return out


def reference_docinfo(pdf_bytes: bytes) -> Optional[dict]:
    ref = load_reference()
    r = ref.PdfFileReader(io.BytesIO(pdf_bytes), strict=False)
    info = r.getDocumentInfo()
    return dict(info) if info is not None else None
