"""Compare extracted documents with the spans known by construction."""

from __future__ import annotations


def check_documents(expected: dict, rows) -> dict:
    """`expected`: doc_id -> (spans or None for poison, n_pages, kind),
    spans as (kind, text, media_ref) tuples. `rows`: iterable of
    (doc_id, spans, n_pages, error) as the engine returned them, spans as
    dicts with kind/text/media_ref/offset.

    A clean document must come back once, unquarantined, with exactly
    the expected spans, contiguous offsets from 0 and the expected page
    count. A poison document must come back quarantined."""
    wrong = unexpected_quarantine = poison_passed = duplicate = 0
    examples = []
    seen = set()
    for doc_id, spans, n_pages, error in rows:
        if doc_id in seen or doc_id not in expected:
            duplicate += 1
            continue
        seen.add(doc_id)
        want, want_pages, _ = expected[doc_id]
        if want is None:
            poison_passed += error is None
            continue
        if error is not None:
            unexpected_quarantine += 1
            if len(examples) < 3:
                examples.append({"doc_id": doc_id, "error": error})
            continue
        got = [(s["kind"], s["text"], s["media_ref"]) for s in spans or []]
        offsets = [s["offset"] for s in spans or []]
        if (got != want or offsets != list(range(len(got)))
                or n_pages != want_pages):
            wrong += 1
            if len(examples) < 3:
                examples.append({"doc_id": doc_id, "got": got[:2],
                                 "want": want[:2]})
    missing = len(expected) - len(seen)
    return {
        "docs": len(expected),
        "wrong_spans": wrong,
        "unexpected_quarantines": unexpected_quarantine,
        "poison_not_quarantined": poison_passed,
        "missing_or_extra": missing + duplicate,
        "failed": wrong + unexpected_quarantine + poison_passed
        + missing + duplicate,
        "examples": examples,
    }


def arrow_rows(table):
    """(doc_id, spans, n_pages, error) rows from an Arrow table."""
    cols = table.select(["doc_id", "spans", "n_pages", "error"]).to_pydict()
    return zip(cols["doc_id"], cols["spans"], cols["n_pages"], cols["error"])
