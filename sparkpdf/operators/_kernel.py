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

The adapter also removes a fixed cost from every Python task: PySpark
calls `importlib.invalidate_caches()` before each task, and before
Python 3.13 that makes every `zipimporter` (one per package dir in
pyspark.zip, py4j and the spark-core jar) re-read its whole archive
directory, 0.1-0.2 s per task even in a reused worker. Every task runs
`install_zip_hook` first, so from a worker's second task on an archive
is re-read only when it changed on disk.

No worker imports pandas either: the first `pa.array` on Python values
imports it (~0.35 s, ~38 MB RSS) to probe for pandas objects, so every
task runs `settle_pandas_probe` first, which runs that one-time probe
with pandas hidden. `from_pandas=True`'s NaN->null rule still holds.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType


def quarantine_message(exc: BaseException) -> str:
    """The `error` column text for an exception: type name and
    message, capped at 500 characters."""
    return f"{type(exc).__name__}: {exc}"[:500]


def doc_id_str():
    """doc_id as a string column (free on string input): the key of
    every lane whose output doc_id is a string."""
    return F.col("doc_id").cast("string").alias("doc_id")


# Python 3.13's zipimporter.invalidate_caches only drops the cached
# directory and re-reads it on the next lookup
_LAZY_ZIP_INVALIDATION = sys.version_info >= (3, 13)
_eager_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before the hook
# last read its directory
_zip_stamps: dict = {}


def _zip_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    """zipimporter.invalidate_caches that re-reads the archive directory
    only when the file's (mtime, size) differs from the last re-read;
    otherwise the importer picks up the shared cached directory."""
    stamp = _zip_stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _zip_stamps.get(self.archive) != stamp:
        _zip_stamps.pop(self.archive, None)
        _eager_invalidate(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _zip_stamps[self.archive] = stamp
    else:
        self._files = files


def install_zip_hook() -> bool:
    """Install `_invalidate_if_changed` for every zipimporter in this
    process (idempotent). A no-op on Python >= 3.13. Returns whether the
    hook is active."""
    if _LAZY_ZIP_INVALIDATION:
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True


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


def map_docs(documents: DataFrame, cols, row_fn,
             out_schema: "StructType | str") -> DataFrame:
    """`map_kernel` over documents(doc_id, *cols) for per-document
    work: `row_fn(d, *values)` gets doc_id as a Python int. The input
    is hash-partitioned by doc_id at defaultParallelism first, since a
    small scan arrives as 1-2 tasks, which would serialize the
    per-document Python work. One partition per core: every (task x
    python-runner) pays a fixed worker cost, so more tasks only add
    that cost on a uniform per-document workload."""
    n_parts = documents.sparkSession.sparkContext.defaultParallelism
    docs = documents.select(F.col("doc_id").cast("long").alias("doc_id"), *cols)
    return map_kernel(docs.repartition(n_parts, "doc_id"), ["doc_id", *cols],
                      row_fn, out_schema)
