"""Outside-in probes: Spark's own stage and planning counters, and the
resident memory of the Python workers. Nothing here touches `sparkpdf`.
"""

from __future__ import annotations

import os
import statistics


def _stage_list(spark):
    """Every stage the status store knows, once the listener bus has
    delivered the events of the jobs that already returned."""
    jvm = spark._jvm
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(30_000)
    store = sc.statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        spark.sparkContext._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList())
    return store, [stages.apply(i) for i in range(stages.size())]


def last_stage_id(spark) -> int:
    _, stages = _stage_list(spark)
    return max((s.stageId() for s in stages), default=-1)


def failed_tasks(spark) -> int:
    """Failed task attempts over every stage this context has run."""
    _, stages = _stage_list(spark)
    return sum(s.numFailedTasks() for s in stages)


def stage_metrics(spark, after_stage_id: int) -> dict:
    """Task counts, run vs CPU time, skew and shuffle bytes over the
    stages that ran after `after_stage_id`. Skew is slowest / median task
    run time in the stage with the most run time (the Python operator's)."""
    store, stages = _stage_list(spark)
    ran = [s for s in stages
           if s.stageId() > after_stage_id and s.status().toString() == "COMPLETE"]
    out = {
        "stages": len(ran),
        "tasks": sum(s.numTasks() for s in ran),
        "task_run_s": sum(s.executorRunTime() for s in ran) / 1e3,
        "task_cpu_s": sum(s.executorCpuTime() for s in ran) / 1e9,
        "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in ran) / 1e6,
        "task_skew": 1.0,
    }
    if ran:
        top = max(ran, key=lambda s: s.executorRunTime())
        tasks = store.taskList(top.stageId(), top.attemptId(), 1 << 20)
        runs = []
        for i in range(tasks.size()):
            metrics = tasks.apply(i).taskMetrics()
            if metrics.isDefined():
                runs.append(metrics.get().executorRunTime())
        if runs and statistics.median(runs) > 0:
            out["task_skew"] = max(runs) / statistics.median(runs)
    return out


def plan_ms(df) -> dict:
    """Analysis, optimization and planning ms of `df`'s own query
    execution, forcing physical planning if it has not happened yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        if opt.isDefined():
            out[k] = float(opt.get().durationMs())
    return out


def _children(pid_of_parent: dict, root: int) -> list:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        kids = pid_of_parent.get(pid, [])
        out.extend(kids)
        todo.extend(kids)
    return out


def python_worker_pids(jvm_pid: int) -> list:
    """Descendants of the Spark JVM whose command line is pyspark's
    daemon or worker (forked workers keep the daemon's command line)."""
    by_parent: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        by_parent.setdefault(ppid, []).append(int(name))
    pids = []
    for pid in _children(by_parent, jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            pids.append(pid)
    return pids


def peak_worker_rss_mb(jvm_pid: int) -> float:
    """Largest VmHWM (peak resident set) among the live Python workers."""
    peak_kb = 0
    for pid in python_worker_pids(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
                        break
        except OSError:
            continue
    return peak_kb / 1024.0
