"""Spark-side layer metrics from an uncompressed, non-rolling event log.

``conf`` gives the session configuration that makes Spark write one
plain JSON-lines file per application (Spark 4.1 defaults to zstd and
rolling ``eventlog_v2_*`` directories). ``summarize`` reads that file
and sums job, stage and task metrics over the jobs submitted inside a
wall-clock window, so one traced pass can be separated from the
warm-up work before it.
"""

from __future__ import annotations

import json
import os

#: plan nodes whose SQL metrics count as Python/Arrow worker traffic
PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")
PYTHON_METRICS = {
    "data sent to Python workers": "python.data_sent_bytes",
    "data returned from Python workers": "python.data_received_bytes",
    "number of output rows": "python.rows_out",
}
#: task metrics (accumulable name suffix) -> (layer metric, scale)
TASK_METRICS = {
    "executorRunTime": ("executor.run_s", 1e-3),
    "executorCpuTime": ("executor.cpu_s", 1e-9),
    "jvmGCTime": ("executor.gc_s", 1e-3),
    "resultSize": ("driver.result_bytes", 1),
    "shuffle.read.remoteBytesRead": ("shuffle.read_bytes", 1),
    "shuffle.read.localBytesRead": ("shuffle.read_bytes", 1),
    "shuffle.read.fetchWaitTime": ("shuffle.fetch_wait_s", 1e-3),
    "shuffle.write.bytesWritten": ("shuffle.write_bytes", 1),
    "memoryBytesSpilled": ("spill.memory_bytes", 1),
    "diskBytesSpilled": ("spill.disk_bytes", 1),
}
#: every Spark-side layer metric ``summarize`` returns, with its unit
SPARK_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.sched_delay_s": "s", "spark.stages_skipped_ratio": "ratio",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.busy_frac": "ratio", "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes", "shuffle.fetch_wait_s": "s",
    "spill.memory_bytes": "bytes", "spill.disk_bytes": "bytes",
    "python.data_sent_bytes": "bytes", "python.data_received_bytes": "bytes",
    "python.rows_out": "count", "driver.result_bytes": "bytes",
}


def conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def log_file(log_dir: str) -> str:
    """The single application log in ``log_dir`` (complete once the
    SparkContext has stopped)."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    if any(m in plan.get("nodeName", "") for m in PYTHON_NODE_MARKERS):
        for m in plan.get("metrics", []):
            if m["name"] in PYTHON_METRICS:
                out[m["accumulatorId"]] = PYTHON_METRICS[m["name"]]
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def summarize(path: str, t0_ms: float, t1_ms: float, cores: int):
    """Sum the Spark-side metrics of jobs submitted in ``[t0_ms, t1_ms]``
    (epoch milliseconds). ``executor.busy_frac`` is executor run time
    over ``cores`` x window wall. Returns ``(totals, by_op)``; ``by_op``
    splits jobs, tasks and executor run time by job description, which
    ties stages to the benchmark op or the dbt node that ran them."""
    jobs: dict[int, list[int]] = {}
    stage_op: dict[int, str] = {}
    by_op: dict[str, dict[str, float]] = {}
    submitted: set[int] = set()
    py_acc: dict[int, str] = {}
    tasks = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                if t0_ms <= e["Submission Time"] <= t1_ms:
                    jobs[e["Job ID"]] = e["Stage IDs"]
                    desc = (e.get("Properties") or {}).get(
                        "spark.job.description") or "(none)"
                    op = by_op.setdefault(desc, {"jobs": 0, "tasks": 0,
                                                 "executor.run_s": 0.0})
                    op["jobs"] += 1
                    for s in e["Stage IDs"]:
                        stage_op[s] = desc
            elif kind == "SparkListenerStageSubmitted":
                submitted.add(e["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append(e)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _python_accumulators(e["sparkPlanInfo"], py_acc)
    stages = {s for ids in jobs.values() for s in ids}
    ran = stages & submitted
    m = dict.fromkeys(SPARK_UNITS, 0.0)
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(ran)
    m["spark.stages_skipped_ratio"] = (
        (len(stages) - len(ran)) / len(stages) if stages else 0.0
    )
    for e in tasks:
        if e["Stage ID"] not in ran:
            continue
        info = e["Task Info"]
        acc = {}
        for a in info.get("Accumulables", []):
            name = a.get("Name", "")
            if name.startswith("internal.metrics."):
                acc[name[len("internal.metrics."):]] = float(a["Update"])
            elif a["ID"] in py_acc:
                m[py_acc[a["ID"]]] += float(a["Update"])
        for key, (metric, scale) in TASK_METRICS.items():
            m[metric] += acc.get(key, 0.0) * scale
        m["spark.tasks"] += 1
        op = by_op[stage_op[e["Stage ID"]]]
        op["tasks"] += 1
        op["executor.run_s"] += acc.get("executorRunTime", 0.0) * 1e-3
        m["spark.sched_delay_s"] += max(0.0, (
            info["Finish Time"] - info["Launch Time"]
            - acc.get("executorRunTime", 0.0)
            - acc.get("executorDeserializeTime", 0.0)
            - acc.get("resultSerializationTime", 0.0)
            - info.get("Getting Result Time", 0)
        ) * 1e-3)
    wall_s = (t1_ms - t0_ms) / 1000
    m["executor.busy_frac"] = m["executor.run_s"] / (cores * wall_s) if wall_s > 0 else 0.0
    return m, by_op
