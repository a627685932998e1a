"""Round-9 fused synth+extract parity: the single-layer operators must
be row-identical to the two-layer composition they replace (the oracle
queries ride on this)."""

import pytest
from pyspark.sql import functions as F

from sparkpdf.operators.extract import extract_spans, extract_stats
from sparkpdf.testing.corpora import (
    synthesize_and_extract_spans,
    synthesize_and_extract_stats,
    synthesize_pdf_corpus,
)


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )


def _sorted_rows(df):
    return sorted(
        df.collect(), key=lambda r: r.doc_id
    )


def test_fused_spans_row_identical(documents):
    fused = _sorted_rows(synthesize_and_extract_spans(documents))
    composed = _sorted_rows(
        extract_spans(synthesize_pdf_corpus(documents))
    )
    assert fused == composed
    assert all(r.error is None for r in fused)


def test_fused_stats_row_identical(documents):
    fused = _sorted_rows(synthesize_and_extract_stats(documents))
    composed = _sorted_rows(
        extract_stats(synthesize_pdf_corpus(documents))
    )
    assert fused == composed


def test_fused_spans_null_text(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, "some text")], "doc_id long, text string"
    )
    fused = _sorted_rows(synthesize_and_extract_spans(docs))
    composed = _sorted_rows(extract_spans(synthesize_pdf_corpus(docs)))
    assert fused == composed
