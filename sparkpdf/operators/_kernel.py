"""The one JVM<->Python boundary: every Python lane is a row kernel
mapped over Arrow batches here.

A lane supplies `row_fn(*values) -> iterable of output row tuples`; the
adapter feeds it one input row at a time (binary columns can hold
multi-MB whales, so a column is never converted to Python whole) and
builds each output column straight into Arrow — nested types such as
the span contract's `ARRAY<STRUCT<...>>` included — with pandas
NaN->null semantics. Zero output rows per input row are fine (doc ->
rows projections, frame/segment explodes).

Quarantine lives here too: when the output schema has an `error`
column, an exception escaping `row_fn` becomes ONE row that copies the
input columns whose names the output shares, nulls the rest, and sets
`error` to `quarantine_message(exc)`. Without an `error` column the
exception propagates, so a write lane never silently drops a document.

Every task first runs `worker_daemon.install_zip_hook`, so PySpark's
per-task `importlib.invalidate_caches()` re-reads an archive on
`sys.path` only when it changed on disk (0.1-0.2 s per task otherwise,
before Python 3.13). Local sessions' daemon installs the hook before it
forks; the call here is for the stock daemon of spark-submit sessions.

No worker imports pandas either: the first `pa.array` on Python values
imports it (~0.35 s, ~38 MB RSS) to probe for pandas objects, so every
task runs `settle_pandas_probe` first, which runs that one-time probe
with pandas hidden. `from_pandas=True`'s NaN->null rule still holds.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

from sparkpdf.worker_daemon import install_zip_hook


def quarantine_message(exc: BaseException) -> str:
    """The `error` column text for an exception: type name and
    message, capped at 500 characters."""
    return f"{type(exc).__name__}: {exc}"[:500]


def doc_id_str():
    """doc_id as a string column (free on string input): the key of
    every lane whose output doc_id is a string."""
    return F.col("doc_id").cast("string").alias("doc_id")


class _HidePandas:
    def find_spec(self, name, path=None, target=None):
        if name == "pandas":
            raise ImportError("pandas is hidden from pyarrow's probe")


def settle_pandas_probe() -> None:
    """Let pyarrow's one-time pandas probe run with pandas hidden, so
    this process never imports it (idempotent; a no-op if pandas is
    already imported). Until a pyarrow call that needs pandas, such as
    `to_pandas()`, imports it, `pa.array(pandas_object)` takes it as a
    plain sequence (datetime64[ns] -> timestamp[us]); no lane passes
    pandas objects to pyarrow."""
    if "pandas" not in sys.modules:
        import pyarrow as pa

        hide = _HidePandas()
        sys.meta_path.insert(0, hide)
        try:
            pa.array([], pa.null())
        finally:
            sys.meta_path.remove(hide)


def arrow_batches(row_fn, out_schema: StructType):
    """The mapInArrow function behind `map_kernel`: RecordBatches of
    the input columns in, RecordBatches of `out_schema` out."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(out_schema)
    names = schema.names
    err = names.index("error") if "error" in names else None

    def run(batches):
        install_zip_hook()
        settle_pandas_probe()
        for rb in batches:
            cols = [[] for _ in names]
            shared = [(names.index(n), i) for i, n in
                      enumerate(rb.schema.names) if n in names]
            for row in zip(*rb.columns):
                values = [v.as_py() for v in row]
                try:
                    out = list(row_fn(*values))
                except Exception as exc:
                    if err is None:
                        raise
                    q = [None] * len(names)
                    for o, i in shared:
                        q[o] = values[i]
                    q[err] = quarantine_message(exc)
                    out = [q]
                for r in out:
                    for col, v in zip(cols, r):
                        col.append(v)
            yield pa.RecordBatch.from_arrays(
                [pa.array(col, type=f.type, from_pandas=True)
                 for col, f in zip(cols, schema)],
                schema=schema,
            )

    return run


def map_kernel(df: DataFrame, in_cols, row_fn,
               out_schema: "StructType | str") -> DataFrame:
    """df.select(*in_cols) -> one mapInArrow stage running `row_fn`
    per row (see the module docstring). `out_schema` is a StructType
    or a DDL string."""
    if isinstance(out_schema, str):
        out_schema = DataType.fromDDL(out_schema)
    return df.select(*in_cols).mapInArrow(
        arrow_batches(row_fn, out_schema), schema=out_schema
    )

