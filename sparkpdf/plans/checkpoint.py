"""Resumable batch runs: per-partition progress manifest + metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics" — implemented as an append-only parquet manifest
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
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointedExtraction:
    def __init__(self, out_dir: str, n_batches: int = 8):
        self.out_dir = out_dir
        self.n_batches = n_batches
        self.manifest_path = out_dir.rstrip("/") + "/_progress.jsonl"

    # -- manifest I/O via the Hadoop FileSystem API -----------------------
    # The manifest must live next to the data on whatever filesystem
    # out_dir names (s3a://, hdfs://, file:) — a driver-local open() would
    # silently diverge from the data location on a real cluster.

    def _hadoop_fs(self):
        spark = SparkSession.getActiveSession()
        if spark is None:
            return None, None
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(self.manifest_path)
        fs = path.getFileSystem(hconf)
        return fs, path

    def _read_manifest(self) -> str:
        fs, path = self._hadoop_fs()
        if fs is None:  # no active session: local-path fallback
            if not os.path.exists(self.manifest_path):
                return ""
            with open(self.manifest_path) as f:
                return f.read()
        jvm = SparkSession.getActiveSession()._jvm
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
        fs, path = self._hadoop_fs()
        if fs is None:
            os.makedirs(self.out_dir, exist_ok=True)
            with open(self.manifest_path, "a") as f:
                f.write(line)
            return
        # Object stores lack append; read-modify-write the (small)
        # manifest. Single-driver writer, so no concurrent-append race.
        # Torn-commit safety: write the WHOLE new manifest to a temp
        # path, then swap — a crash mid-write leaves the previous
        # manifest intact instead of destroying the record of ALL
        # completed parts (rename is atomic on HDFS; the .tmp fallback
        # in _read_manifest covers the delete->rename window).
        prev = self._read_manifest()
        jvm = SparkSession.getActiveSession()._jvm
        tmp = jvm.org.apache.hadoop.fs.Path(self.manifest_path + ".tmp")
        stream = fs.create(tmp, True)
        try:
            stream.write(bytearray((prev + line).encode("utf-8")))
        finally:
            stream.close()
        if fs.exists(path):
            fs.delete(path, False)
        fs.rename(tmp, path)

    def completed_parts(self) -> set:
        done = set()
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
                done.add(rec["part_id"])
        return done

    def _log(self, rec: dict):
        self._append_manifest(json.dumps(rec) + "\n")

    def run(
        self,
        pdf_raw: DataFrame,
        extract_fn: Callable[[DataFrame], DataFrame],
    ) -> List[int]:
        """Process every not-yet-done slice; returns part_ids done this
        run."""
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
            out = extract_fn(part_df)
            dest = os.path.join(self.out_dir, f"part={part}")
            out.write.mode("overwrite").parquet(dest)
            stats = (
                SparkSession.getActiveSession()
                .read.parquet(dest)
                .agg(
                    F.count("*").alias("n_docs"),
                    F.coalesce(F.sum("n_bytes"), F.lit(0)).alias("n_bytes"),
                    F.coalesce(
                        F.sum((F.col("error").isNotNull()).cast("int")), F.lit(0)
                    ).alias("n_errors"),
                )
                .collect()[0]
            )
            t1 = time.time()
            self._log(
                {
                    "part_id": part,
                    "n_docs": int(stats.n_docs),
                    "n_bytes": int(stats.n_bytes),
                    "n_errors": int(stats.n_errors),
                    "t_start": t0,
                    "t_end": t1,
                    "docs_per_sec": int(stats.n_docs) / max(t1 - t0, 1e-9),
                    "status": "ok",
                }
            )
            processed.append(part)
        return processed

    def result(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.out_dir, "part=*"))
