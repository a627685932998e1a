"""Extraction benchmark: one warm local[2] session per workload.

    python3 perfbench/run.py --workload pdf_text --seed 1 --seconds 12 --trace 0

Run from the repository root. `--trace 0` times warm passes and prints
the end-to-end metrics; `--trace 1` then adds the traced steps and
prints the per-layer metrics, writing the spans JSON under
`.bench_work/traces/`. Inputs are generated from `--seed` and cached
under `.bench_work/inputs/`. Every run checks every document against
the spans it was built with; the last stdout line is the result JSON and
the exit code is non-zero if any output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import inputs as inp
import probes
import workloads as wl
from check import arrow_rows, check_documents
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

SETUPS = 3  # session starts timed for setup_s
# untimed passes on the cold session, so the JVM's compiled code for
# mixed_job's many small Spark jobs is warm before the measured session
# starts; one more pass warms the measured session on every workload
COLD_PASSES = {"pdf_text": 0, "pdf_paged": 0, "mixed_job": 1}
MIN_PASSES = 3
SCANS = 3  # payload-only scans in the traced run (median)
OPERATOR_PASSES = 3  # operator passes with Spark's counters (median)

CONFS = (
    "spark.master",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.files.maxPartitionBytes",
    "spark.driver.memory",
    "spark.python.worker.reuse",
    "spark.ui.enabled",
)


def pin_environment() -> None:
    """Engine defaults only, and every temporary file inside WORK."""
    for key in [k for k in os.environ if k.startswith("SPARKPDF_")]:
        del os.environ[key]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      f"-Djava.io.tmpdir={tmp}"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, ROOT)


def median(values):
    return statistics.median(values) if values else 0.0


class Bench:
    def __init__(self, args):
        self.args = args
        self.name = args.workload
        self.tracer = Tracer()
        self.inputs = inp.Inputs(self.name, args.seed, WORK)
        self.details = {"workload": self.name, "seed": args.seed,
                        "why": wl.WHY[self.name],
                        "out_of_scope": wl.OUT_OF_SCOPE}
        self.spark = None

    # -- session ----------------------------------------------------------------

    def start_session(self) -> float:
        from sparkpdf.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.build"):
            self.spark = get_spark(app_name="perfbench", cpus=wl.SLOTS)
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.workload = wl.Workload(self.name, self.spark, self.inputs, WORK)
        return elapsed

    def setup(self):
        """Cold start (JVM launch and session, while the inputs are built
        or loaded), then SETUPS timed session starts in that JVM: each
        stops the context and pays session build, Python worker spawn,
        kernel import and the first task again. The last session is the
        measured one."""
        from concurrent.futures import ThreadPoolExecutor

        # the session stays in this thread: the engine reads the thread's
        # active session (CheckpointedExtraction)
        with ThreadPoolExecutor(1) as pool:
            built = pool.submit(self.inputs.ensure)
            cold = self.start_session()
            built.result()
        self.details["inputs"] = self.inputs.meta
        self.details["cold_pass_s"] = [
            self.workload.run_pass(f"cold{i}")
            for i in range(COLD_PASSES[self.name])]
        samples = []
        for _ in range(SETUPS):
            self.spark.stop()
            build = self.start_session()
            t0 = time.perf_counter()
            with self.tracer.span("session.first_task"):
                self.workload.first_task()
            samples.append((build, time.perf_counter() - t0))
        self.details["setup"] = {"cold_build_s": cold, "warm_s": samples}
        self.details["confs"] = {k: self.spark.conf.get(k, "(default)")
                                 for k in CONFS}
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return samples

    def shutdown(self):
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- timed passes -----------------------------------------------------------

    def passes(self):
        w = self.workload
        # the warm-up pass of pdf_* also collects the rows to check
        self.details["warmup_pass_s"] = w.run_pass("warmup", keep_output=True)
        timed, self.slice_s = [], []
        rss = probes.peak_worker_rss_mb(self.jvm_pid)
        start = time.perf_counter()
        while (len(timed) < MIN_PASSES
               or time.perf_counter() - start < self.args.seconds):
            timed.append(w.run_pass(len(timed)))
            rss = max(rss, probes.peak_worker_rss_mb(self.jvm_pid))
            if self.name == "mixed_job":
                self.slice_s += wl.manifest_slices(w.last_job_dir)
                self.drop_jobs(keep=w.last_job_dir)
        self.details["timed_pass_s"] = timed
        self.docs_per_s = median([w.docs / t for t in timed])
        self.rss_mb = rss

    def drop_jobs(self, keep=None):
        """Delete checkpointed job outputs except `keep`."""
        jobs = os.path.join(WORK, "jobs")
        if os.path.isdir(jobs):
            for entry in os.listdir(jobs):
                path = os.path.join(jobs, entry)
                if path != keep:
                    shutil.rmtree(path, ignore_errors=True)

    # -- correctness ------------------------------------------------------------

    def check(self):
        result = check_documents(self.inputs.expected,
                                 arrow_rows(self.workload.outputs()))
        result["task_failures"] = probes.failed_tasks(self.spark)
        result["failed"] += result["task_failures"]
        self.details["check"] = result
        return result

    # -- traced run -------------------------------------------------------------

    def traced(self) -> dict:
        w, tr, meta = self.workload, self.tracer, self.inputs.meta
        m = {}
        setup = self.details["setup"]["warm_s"]
        m["session.build_s"] = median([b for b, _ in setup])
        m["session.first_task_s"] = median([f for _, f in setup])

        scans = []
        for _ in range(SCANS):
            t0 = time.perf_counter()
            with tr.span("sources.scan"):
                wl.noop(w.read().select(self.inputs.payload_col))
            scans.append(time.perf_counter() - t0)
        m["sources.scan_s"] = median(scans)
        m["sources.input_mb"] = meta["input_mb"]

        # operators: passes with Spark's counters; for mixed_job over the
        # salted input, without the checkpoint
        source = w.read()
        if self.name == "mixed_job":
            source, _ = w.plan_salting(source, w.operator)
        passes = []
        for _ in range(OPERATOR_PASSES):
            frame = w.operator(source)
            before = probes.last_stage_id(self.spark)
            t0 = time.perf_counter()
            with tr.span("operators.pass"):
                phases = probes.plan_ms(frame)
                wl.noop(frame)
            passes.append((time.perf_counter() - t0, phases,
                           probes.stage_metrics(self.spark, before)))
        pass_s, phases, stages = sorted(passes, key=lambda p: p[0])[
            OPERATOR_PASSES // 2]  # the median pass, with its counters
        m["operators.pass_s"] = pass_s
        m["operators.plan_ms"] = sum(phases.values())
        for key in ("tasks", "task_run_s", "task_cpu_s", "task_skew",
                    "shuffle_write_mb"):
            m[f"operators.{key}"] = stages[key]

        # kernels: a plain replay for time, a traced one for the split
        with tr.span("kernels.replay"):
            plain = wl.replay(self.inputs)
        t0 = time.perf_counter()
        with tr.span("kernels.replay_traced"):
            wl.replay(self.inputs, tracer=tr)
        traced_replay_s = time.perf_counter() - t0
        kernel_s = sum(plain["kernel_s"].values())
        n_pdf = max(plain["docs"]["pdf"], 1)
        n_html = plain["docs"]["html"]
        m["kernels.replay_s"] = kernel_s
        m["kernels.extract_doc_ms"] = 1e3 * plain["kernel_s"]["pdf"] / n_pdf
        self_ms = {k: 1e3 * v / n_pdf for k, v in tr.self_s.items()}
        m["kernels.cos_xref_ms"] = self_ms.get("PdfDocument", 0.0)
        m["kernels.page_tree_ms"] = self_ms.get("pages", 0.0)
        m["kernels.filter_decode_ms"] = self_ms.get("decode_stream", 0.0)
        m["kernels.content_tokenize_ms"] = self_ms.get("tokenize", 0.0)
        m["kernels.font_decode_ms"] = sum(
            self_ms.get(k, 0.0)
            for k in ("resolve_font_encoding", "as_text", "parse_cmap"))
        m["kernels.html_ms"] = (1e3 * plain["kernel_s"]["html"] / n_html
                                if n_html else 0.0)
        m["kernels.decoded_bytes"] = tr.counts.get("decode_stream", 0)
        m["kernels.spans"] = plain["spans"]
        m["kernels.quarantined"] = plain["quarantined"]
        for _, fn, _ in wl.kernel_targets():
            m[f"kernels.calls.{fn}"] = tr.calls.get(fn, 0)
        m["operators.boundary_share"] = 1 - kernel_s / (wl.SLOTS * pass_s)

        # plans: one traced extract_job sequence (interleaved on
        # mixed_job, extract_spans on pdf_*) over the same input
        out = w.job_dir("traced")
        job = w.run_job(out, tracer=tr)
        w.last_job_dir = out
        steps = job["step_s"]
        slices = self.slice_s + wl.manifest_slices(out)
        run_s = steps["plans.checkpoint.run"]
        m["plans.salting_s"] = steps["plans.salting"]
        m["plans.checkpoint.run_s"] = run_s
        m["plans.checkpoint.slice_s_p50"] = median(slices)
        m["plans.checkpoint.slices"] = len(slices)
        m["plans.checkpoint.overhead_s"] = run_s - pass_s
        m["plans.checkpoint.output_mb_per_input_mb"] = (
            _dir_bytes(out) / max(meta["input_bytes"], 1))

        # tracing overhead: the traced unit against the untimed median
        job_s = sum(steps.values())
        traced_docs_per_s = w.docs / (job_s if self.name == "mixed_job"
                                      else pass_s)
        self.details["trace"] = {
            "untraced_docs_per_s": self.docs_per_s,
            "traced_docs_per_s": traced_docs_per_s,
            "overhead_share": 1 - traced_docs_per_s / self.docs_per_s,
            "operator_passes": passes,
            "replay_plain": plain,
            "replay_traced_s": traced_replay_s,
            "job": job,
            "slice_s": slices,
        }
        return m

    def write_trace(self, metrics: dict) -> str:
        path = os.path.join(
            WORK, "traces", f"{self.name}-seed{self.args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"metrics": metrics, "details": self.details,
                       "layer_self_s": _layer_self(self.tracer.self_s),
                       **self.tracer.to_json()}, f, indent=1)
        return path


def _layer_self(self_s: dict) -> dict:
    """Self seconds per layer: the first dotted part of each span name;
    kernel spans (bare function names) roll up under 'kernels'."""
    out: dict = {}
    for name, secs in self_s.items():
        layer = name.split(".")[0] if "." in name else "kernels"
        out[layer] = out.get(layer, 0.0) + secs
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def labelled(values: dict, section: str) -> dict:
    """Values with the units BENCHMARK.json declares for `section`;
    fails unless exactly the declared metrics were measured."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)[section]}
    if set(values) != set(units):
        raise RuntimeError(f"{section} mismatch: measured {sorted(values)}, "
                           f"declared {sorted(units)}")
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(wl.WHY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    pin_environment()
    phase_s = {}  # wall seconds of each phase of this run

    def mark(name):
        phase_s[name] = time.perf_counter() - t_start - sum(phase_s.values())

    bench = Bench(args)
    try:
        warm = bench.setup()
        mark("setup")
        bench.passes()
        mark("passes")
        check = bench.check()
        mark("check")
        if args.trace:
            metrics = labelled(bench.traced(), "per_layer")
            bench.details["trace_file"] = bench.write_trace(metrics)
            mark("trace")
        else:
            values = {"setup_s": median([b + f for b, f in warm]),
                      "docs_per_s": bench.docs_per_s,
                      "worker_rss_mb": bench.rss_mb}
            metrics = labelled(values, "end_to_end")
    finally:
        bench.shutdown()
        bench.drop_jobs()
    mark("shutdown")
    bench.details["phase_s"] = phase_s
    print(json.dumps({"details": bench.details}, default=str))
    print(json.dumps({"correct": check["failed"] == 0,
                      "attempted": check["docs"],
                      "failed": check["failed"],
                      "metrics": metrics}))
    return 0 if check["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
