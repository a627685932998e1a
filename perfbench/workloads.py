"""The three workloads: what one timed pass runs through the engine's
public calls, how its outputs are read back for the check, and the
single-threaded kernel replay of the same documents."""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager, nullcontext

import inputs as inp
from tracing import patched

# local[2]: half of a 4-core host, so the JVM, GC and Spark driver keep
# their own cores and the numbers measure the engine, not the scheduler
SLOTS = 2
MIXED_BATCHES = 3  # checkpoint slices, as `extract_job --batches 3`

WHY = {
    "pdf_text": "uniform one-page doc_to_pdf documents through "
    "extract_spans into a noop sink: per-document kernel cost (COS/xref "
    "parse) plus the Arrow boundary per row; plans do nothing here",
    "pdf_paged": "8-24-page documents (xref stream, Flate/LZW/predictor "
    "content, WinAnsi and Type0+ToUnicode fonts, kerned TJ arrays) "
    "through extract_spans into a noop sink: per-page sub-kernels "
    "(filters, content tokenize, fonts/cmap, page tree) carry the cost",
    "mixed_job": "the extract_job --interleaved call sequence in-process: "
    "skew report, salting, checkpointed extract_interleaved slices with "
    "parquet writes and the manifest, over PDFs, HTML, multi-MB whales "
    "and planted poison; the plans layer dominates, kernels barely move it",
}

OUT_OF_SCOPE = [
    "scaling efficiency: a 4-core host cannot show N to 4N",
    "media, stream and dedup lanes",
    "the frozen bench.py, which this benchmark does not touch or replace",
]


@contextmanager
def _timed(steps: dict, name: str, tracer=None):
    """Wall seconds of the block into steps[name], and a span if traced."""
    t0 = time.perf_counter()
    with tracer.span(name) if tracer else nullcontext():
        yield
    steps[name] = time.perf_counter() - t0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One workload bound to a live session and its generated inputs."""

    def __init__(self, name: str, spark, inputs, work_dir: str):
        self.name = name
        self.spark = spark
        self.inputs = inputs
        self.work_dir = work_dir

    @property
    def docs(self) -> int:
        return self.inputs.meta["docs"]

    def read(self):
        return self.spark.read.parquet(self.inputs.data_path)

    def operator(self, df):
        from sparkpdf.operators.extract import extract_interleaved, extract_spans

        return (extract_interleaved(df) if self.name == "mixed_job"
                else extract_spans(df))

    # -- set-up ---------------------------------------------------------------

    def first_task(self) -> None:
        """The first Python task of a fresh session: one small document
        per slot through the workload's operator, so every worker spawns
        and imports the kernels."""
        from sparkpdf.testing.pdfgen import doc_to_pdf

        df = self.spark.createDataFrame(
            [(f"setup-{i}", doc_to_pdf("setup probe")) for i in range(SLOTS)],
            f"doc_id string, {self.inputs.payload_col} binary")
        noop(self.operator(df))

    # -- the timed unit -----------------------------------------------------

    def run_pass(self, index, keep_output: bool = False) -> float:
        """One full pass; returns its wall seconds. With `keep_output` a
        pdf_* pass collects its rows for the check instead of discarding
        them (mixed_job jobs always keep theirs on disk)."""
        if self.name == "mixed_job":
            out = self.job_dir(index)
            t0 = time.perf_counter()
            self.run_job(out)
            elapsed = time.perf_counter() - t0
            self.last_job_dir = out
            return elapsed
        t0 = time.perf_counter()
        frame = self.operator(self.read())
        if keep_output:
            self.output = frame.toArrow()
        else:
            noop(frame)
        return time.perf_counter() - t0

    def job_dir(self, index) -> str:
        out = os.path.join(self.work_dir, "jobs", f"{self.name}-{index}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def plan_salting(self, raw, operator):
        """skew_report then plan_salted_partitions, with extract_job's
        defaults except a big-doc threshold below the planted whales."""
        from sparkpdf.plans.salting import (
            DEFAULT_TARGET_BYTES,
            WHALE_COST_FACTOR,
            plan_salted_partitions,
            skew_report,
        )

        col = self.inputs.payload_col
        report = skew_report(raw, MIXED_BATCHES, payload_col=col)
        salted = plan_salted_partitions(
            raw, target_bytes=DEFAULT_TARGET_BYTES,
            big_doc_bytes=inp.MIXED_BIG_DOC_BYTES, payload_col=col,
            workload=operator, whale_cost_factor=WHALE_COST_FACTOR)
        return salted, report

    def run_job(self, out: str, tracer=None) -> dict:
        """`jobs/extract_job.py` main() minus its argument parsing and
        spark.stop(): salting, checkpointed extraction, summary counts.
        Returns the summary and the wall seconds of each step."""
        from sparkpdf.plans.checkpoint import CheckpointedExtraction

        steps = {}
        with _timed(steps, "plans.salting", tracer):
            salted, report = self.plan_salting(self.read(), self.operator)
        ck = CheckpointedExtraction(out, n_batches=MIXED_BATCHES)
        with _timed(steps, "plans.checkpoint.run", tracer):
            done = ck.run(salted, self.operator)
        with _timed(steps, "plans.summary", tracer):
            result = ck.result(self.spark)
            summary = {
                "skew_before": report,
                "slices_processed": done,
                "total_docs": result.count(),
                "errored_docs": result.filter("error IS NOT NULL").count(),
            }
        return {"summary": summary, "step_s": steps}

    # -- outputs for the correctness check ------------------------------------

    def outputs(self):
        """Arrow table of (doc_id, spans, n_pages, error): the last job's
        checkpointed result for mixed_job, the kept pass otherwise."""
        from sparkpdf.plans.checkpoint import CheckpointedExtraction

        if self.name != "mixed_job":
            return self.output
        ck = CheckpointedExtraction(self.last_job_dir, n_batches=MIXED_BATCHES)
        return ck.result(self.spark).toArrow()


def manifest_slices(out: str) -> list:
    """Seconds per checkpoint slice, from the manifest's own stamps."""
    with open(os.path.join(out, "_progress.jsonl")) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [r["t_end"] - r["t_start"] for r in rows]


# --- single-threaded kernel replay -----------------------------------------

def kernel_targets():
    from sparkpdf.kernels import document, filters, fonts, html
    from sparkpdf.kernels import extract as kx

    return [
        (kx, "extract_doc", None),
        (html, "html_to_spans", None),
        (kx, "PdfDocument", None),
        (document.PdfDocument, "pages", None),
        (filters, "decode_stream", len),  # counts decoded bytes
        (kx, "tokenize", None),
        (kx, "resolve_font_encoding", None),
        (kx, "as_text", None),
        (fonts, "parse_cmap", None),
    ]


def replay(inputs, tracer=None) -> dict:
    """Every document through the kernel the workload's operator calls
    for it (extract_doc for PDF bytes, html_to_spans for HTML), one at a
    time in this process. With a tracer, each sub-kernel call records a
    span; without one, only the per-document time is taken."""
    from sparkpdf.kernels import extract as kx
    from sparkpdf.kernels import html

    kernel_s = {"pdf": 0.0, "html": 0.0}
    docs = {"pdf": 0, "html": 0}
    spans = quarantined = 0
    with patched(tracer, kernel_targets()) if tracer else nullcontext():
        for _, payload, kind in inputs.payloads():
            lane = "html" if kind == "html" else "pdf"
            t0 = time.perf_counter()
            if lane == "html":
                res = html.html_to_spans(payload.decode("utf-8"))
            else:
                res = kx.extract_doc(payload)
            kernel_s[lane] += time.perf_counter() - t0
            docs[lane] += 1
            spans += len(res["spans"])
            quarantined += res.get("error") is not None
            if tracer:
                tracer.kernel_docs += 1
    return {"kernel_s": kernel_s, "docs": docs, "spans": spans,
            "quarantined": quarantined}
