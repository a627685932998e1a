"""The row-kernel adapter's batch function, driven on hand-made Arrow
RecordBatches (no Spark): row fan-out, empty output, nested span
columns, NaN->null and the quarantine contract."""

import math

import pyarrow as pa
import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from sparkpdf.operators._kernel import arrow_batches, quarantine_message
from sparkpdf.operators.extract import INTERLEAVED_SCHEMA

DOCS = pa.RecordBatch.from_pydict(
    {"doc_id": ["a", "b", "c"], "n": [1, 0, 3]},
    schema=pa.schema([("doc_id", pa.string()), ("n", pa.int64())]),
)

ROWS = StructType([
    StructField("doc_id", StringType()),
    StructField("i", IntegerType()),
])


def run(row_fn, schema, *batches):
    return list(arrow_batches(row_fn, schema)(iter(batches)))


def test_one_row_per_input_row():
    (out,) = run(lambda d, n: [(d, n * 10)], ROWS, DOCS)
    assert out.schema.names == ["doc_id", "i"]
    assert out.schema.field("i").type == pa.int32()
    assert out.to_pydict() == {"doc_id": ["a", "b", "c"], "i": [10, 0, 30]}


def test_many_and_zero_rows_per_input_row():
    (out,) = run(lambda d, n: [(d, i) for i in range(n)], ROWS, DOCS)
    assert out.to_pydict() == {"doc_id": ["a", "c", "c", "c"],
                               "i": [0, 0, 1, 2]}


def test_batch_with_no_output_rows_keeps_the_schema():
    schema = StructType(INTERLEAVED_SCHEMA.fields)
    (out,) = run(lambda d, n: [], schema, DOCS)
    assert out.num_rows == 0
    assert out.schema.names == [f.name for f in INTERLEAVED_SCHEMA.fields]
    assert out.schema.field("spans").type == pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))


def test_span_dicts_equal_a_hand_built_list_array():
    spans = {
        "a": [{"kind": "text", "text": "hi\n", "media_ref": None,
               "offset": 0, "page_no": 0},
              {"kind": "media_ref", "text": None, "media_ref": "img0",
               "offset": 1, "page_no": 0}],
        "b": [],
        "c": [{"kind": "text", "text": "x", "media_ref": None,
               "offset": 0, "page_no": 2}],
    }
    (out,) = run(lambda d, n: [(d, spans[d], n, 7, None)],
                 INTERLEAVED_SCHEMA, DOCS)
    flat = [s for d in "abc" for s in spans[d]]
    expected = pa.ListArray.from_arrays(
        pa.array([0, 2, 2, 3], type=pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array([s["kind"] for s in flat], type=pa.string()),
             pa.array([s["text"] for s in flat], type=pa.string()),
             pa.array([s["media_ref"] for s in flat], type=pa.string()),
             pa.array([s["offset"] for s in flat], type=pa.int32())],
            names=["kind", "text", "media_ref", "offset"],
        ),
    )
    assert out.column(1).equals(expected)


def test_nan_becomes_null():
    schema = StructType([StructField("doc_id", StringType()),
                         StructField("x", DoubleType())])
    (out,) = run(lambda d, n: [(d, math.nan if n == 0 else n / 2)],
                 schema, DOCS)
    assert out.column(1).to_pylist() == [0.5, None, 1.5]
    assert out.column(1).null_count == 1


def test_exception_becomes_a_quarantine_row_with_an_error_column():
    schema = StructType([StructField("doc_id", StringType()),
                         StructField("n", LongType()),
                         StructField("size", IntegerType()),
                         StructField("error", StringType())])

    def row(d, n):
        if d == "b":
            raise ValueError("bad doc " + "x" * 600)
        yield (d, n, 100, None)
        if d == "c":
            raise KeyError("late")

    (out,) = run(row, schema, DOCS)
    rows = out.to_pylist()
    # input columns the output shares are copied, every other is null;
    # rows a failing generator yielded before raising are discarded
    assert rows[0] == {"doc_id": "a", "n": 1, "size": 100, "error": None}
    assert rows[1]["doc_id"] == "b" and rows[1]["n"] == 0
    assert rows[1]["size"] is None
    assert rows[1]["error"].startswith("ValueError: bad doc xx")
    assert len(rows[1]["error"]) == 500
    assert rows[2] == {"doc_id": "c", "n": 3, "size": None,
                       "error": "KeyError: 'late'"}
    assert len(rows) == 3


def test_exception_propagates_without_an_error_column():
    def row(d, n):
        if d == "b":
            raise ValueError("write failed")
        return [(d, n)]

    with pytest.raises(ValueError, match="write failed"):
        run(row, ROWS, DOCS)


def test_quarantine_message_is_capped():
    assert quarantine_message(OSError("x" * 1000)) == ("OSError: " + "x" * 491)
