"""Resumable batch runs: per-partition progress manifest + metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics" — implemented as an append-only JSON-lines manifest
(stand-in for an Iceberg snapshot log, which needs a catalog this
sandbox doesn't ship):

    _progress(part_id, n_docs, n_bytes, n_errors, t_start, t_end,
              docs_per_sec, status)

The input is deterministically sliced into `n_batches` by
pmod(hash(doc_id)); a restart anti-joins against the manifest's
completed part_ids, so finished slices are never recomputed and no
duplicate spans are written (each slice writes to its own subdirectory,
committed before the manifest row — write-then-log ordering makes the
manifest the source of truth).

`n_docs`, `n_bytes` and `n_errors` are observed on the slice's own
write (`write_observed`: partial aggregates inside the write tasks,
merged on the driver), so a slice is one Spark job and is never read
back. Job summaries sum the manifest (`totals()`).
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, List

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

def write_observed(df: DataFrame, path: str, **aggs: Column) -> dict:
    """Write `df` to `path` as parquet (overwrite); return the rows
    written under "rows" plus the named aggregates over them. Spark
    computes them inside the write's own tasks: no second pass."""
    obs = Observation()  # one per write: an Observation observes once
    df.observe(obs, F.count("*").alias("rows"),
               *(agg.alias(name) for name, agg in aggs.items())) \
        .write.mode("overwrite").parquet(path)
    return obs.get  # only after the write returned: get blocks until then


class CheckpointedExtraction:
    def __init__(self, out_dir: str, n_batches: int = 8):
        self.out_dir = out_dir
        self.n_batches = n_batches
        self.manifest_path = out_dir.rstrip("/") + "/_progress.jsonl"
        self._spark = None  # the session of the frame `run` was given

    # -- manifest I/O via the Hadoop FileSystem API -----------------------
    # The manifest must live next to the data on whatever filesystem
    # out_dir names (s3a://, hdfs://, file:) — a driver-local open() would
    # silently diverge from the data location on a real cluster. So there
    # is no fallback: without a session, SparkSession.active() raises.

    def _hadoop_fs(self):
        spark = self._spark or SparkSession.active()
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.manifest_path)
        return jvm, path.getFileSystem(spark._jsc.hadoopConfiguration()), path

    def _read_manifest(self) -> str:
        jvm, fs, path = self._hadoop_fs()
        # a crash between delete and rename (in _append_manifest) leaves
        # only the .tmp — fall back to it so no completed part is lost
        for cand in (
            path,
            jvm.org.apache.hadoop.fs.Path(self.manifest_path + ".tmp"),
        ):
            if not fs.exists(cand):
                continue
            stream = fs.open(cand)
            try:
                # commons-io ships with Hadoop; py4j can't do fill-a-buffer
                # reads (byte[] args pass by value), so drain JVM-side
                data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                return bytes(data).decode("utf-8")
            finally:
                stream.close()
        return ""

    def _append_manifest(self, line: str):
        # Object stores lack append; read-modify-write the (small)
        # manifest. Single-driver writer, so no concurrent-append race.
        # Torn-commit safety: write the WHOLE new manifest to a temp
        # path, then swap — a crash mid-write leaves the previous
        # manifest intact instead of destroying the record of ALL
        # completed parts (rename is atomic on HDFS; the .tmp fallback
        # in _read_manifest covers the delete->rename window).
        prev = self._read_manifest()
        # every line is written whole with its newline, so an
        # unterminated tail is a torn write: drop it, or the new line
        # would glue onto it and be unparseable too
        prev = prev[: prev.rfind("\n") + 1]
        jvm, fs, path = self._hadoop_fs()
        tmp = jvm.org.apache.hadoop.fs.Path(self.manifest_path + ".tmp")
        stream = fs.create(tmp, True)
        try:
            stream.write(bytearray((prev + line).encode("utf-8")))
        finally:
            stream.close()
        if fs.exists(path):
            fs.delete(path, False)
        fs.rename(tmp, path)

    def _ok_rows(self) -> dict:
        """part_id -> that part's latest status='ok' manifest row."""
        rows = {}
        for raw in self._read_manifest().splitlines():
            if not raw.strip():
                continue
            try:
                rec = json.loads(raw)
            except json.JSONDecodeError:
                # torn trailing line from a crashed write: skip — that
                # part re-runs (idempotent overwrite), resume proceeds
                continue
            if rec.get("status") == "ok":
                rows[rec["part_id"]] = rec
        return rows

    def completed_parts(self) -> set:
        return set(self._ok_rows())

    def totals(self) -> dict:
        """n_docs, n_bytes and n_errors over every completed part (this
        run's and earlier, resumed runs'), summed from the manifest —
        no pass over the data."""
        rows = self._ok_rows().values()
        return {k: sum(r[k] for r in rows)
                for k in ("n_docs", "n_bytes", "n_errors")}

    def _log(self, rec: dict):
        self._append_manifest(json.dumps(rec) + "\n")

    def run(
        self,
        pdf_raw: DataFrame,
        extract_fn: Callable[[DataFrame], DataFrame],
    ) -> List[int]:
        """Process every not-yet-done slice; returns part_ids done this
        run."""
        self._spark = pdf_raw.sparkSession
        done = self.completed_parts()
        processed = []
        salted = pdf_raw.withColumn(
            "_part", F.pmod(F.hash("doc_id"), F.lit(self.n_batches))
        )
        for part in range(self.n_batches):
            if part in done:
                continue
            t0 = time.time()
            part_df = salted.filter(F.col("_part") == part).drop("_part")
            stats = write_observed(
                extract_fn(part_df),
                os.path.join(self.out_dir, f"part={part}"),
                n_bytes=F.coalesce(F.sum("n_bytes"), F.lit(0)),
                n_errors=F.count_if(F.col("error").isNotNull()),
            )
            t1 = time.time()
            self._log(
                {
                    "part_id": part,
                    "n_docs": stats["rows"],
                    "n_bytes": stats["n_bytes"],
                    "n_errors": stats["n_errors"],
                    "t_start": t0,
                    "t_end": t1,
                    "docs_per_sec": stats["rows"] / max(t1 - t0, 1e-9),
                    "status": "ok",
                }
            )
            processed.append(part)
        return processed

    def result(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.out_dir, "part=*"))
