"""load_reference fails cleanly: a missing reference raises its real
error on every call and leaves no half-initialised PyPDF2 behind."""

import sys

import pytest

from sparkpdf.testing import reference


def test_missing_reference_raises_the_same_error_every_call(
        monkeypatch, tmp_path):
    for name in [n for n in sys.modules
                 if n == "PyPDF2" or n.startswith("PyPDF2.")]:
        monkeypatch.delitem(sys.modules, name)
    monkeypatch.setattr(reference, "_REF_INIT",
                        str(tmp_path / "missing" / "__init__.py"))
    monkeypatch.setattr(reference, "_REF_DIR", str(tmp_path / "missing"))
    for _ in range(2):
        with pytest.raises(FileNotFoundError):
            reference.load_reference()
        assert "PyPDF2" not in sys.modules
