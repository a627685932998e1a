"""Self-test of the benchmark's correctness check, without Spark.

    python3 -m pytest perfbench/test_check.py -q

Documents from each generator go through the same kernels the operators
call; the check must pass on them and fail once one expected text is
corrupted, a poison document slips through, or a document goes missing.
"""

from __future__ import annotations

import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs as inp  # noqa: E402
from check import check_documents  # noqa: E402


def _corpus():
    """doc_id -> (expected spans, n_pages, kind) and the engine's rows."""
    from sparkpdf.kernels.extract import extract_doc
    from sparkpdf.kernels.html import html_to_spans

    rng = random.Random(0)
    docs = {
        "0": (*inp.pdf_text_doc(rng, 0), "pdf"),
        "1": (*inp.html_doc(rng, 1), "html"),
        "2": (*inp.pdf_paged_doc(rng, 8, ["LZWDecode"]), "pdf"),
        "3": (*inp.whale_doc(rng, 3, 4096), "whale"),
        "4": (*inp.poison_doc(rng, 4), "poison"),
        "5": (*inp.poison_doc(rng, 5), "poison"),
    }
    expected, rows = {}, []
    for doc_id, (payload, spans, n_pages, kind) in docs.items():
        expected[doc_id] = (spans, n_pages, kind)
        if kind == "html":
            res = dict(html_to_spans(payload.decode("utf-8")), n_pages=1,
                       error=None)
        else:
            res = extract_doc(payload)
        rows.append((doc_id, res["spans"], res["n_pages"], res["error"]))
    return expected, rows


def test_clean_outputs_pass():
    expected, rows = _corpus()
    result = check_documents(expected, rows)
    assert result["failed"] == 0, result


def test_one_corrupted_expected_text_fails():
    expected, rows = _corpus()
    spans, n_pages, kind = expected["2"]
    kind_, text, ref = spans[5]
    spans = list(spans)
    spans[5] = (kind_, text[:-2] + "X\n", ref)
    expected["2"] = (spans, n_pages, kind)
    result = check_documents(expected, rows)
    assert result["wrong_spans"] == 1
    assert result["failed"] == 1


def test_unquarantined_poison_and_missing_docs_fail():
    expected, rows = _corpus()
    rows = [(d, s, n, None if d == "4" else e) for d, s, n, e in rows
            if d != "1"]
    result = check_documents(expected, rows)
    assert result["poison_not_quarantined"] == 1
    assert result["missing_or_extra"] == 1
    assert result["failed"] == 2
