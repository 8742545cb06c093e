"""Spark side of the benchmark: session set-up, per-operation job groups,
and the job/stage ledger read back from Spark's event log."""

from __future__ import annotations

import glob
import json
import os
import time

from perfbench.common import Run, nproc
from perfbench.trace import attribute_jobs

#: stage counters summed per job, keyed by the metric they feed
_ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
}
SPARK_COUNTERS = (
    "exec_s",
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "driver_s",
)


class SparkRun:
    """A SparkSession for one benchmark run. Every operation runs under
    its own job group so the traced run can attribute jobs to it."""

    def __init__(self, run: Run):
        self.run = run
        self.spark = None
        self.ops: dict[str, tuple[float, float]] = {}
        self._perf: dict[str, float] = {}
        self._seq = 0
        self.event_dir = run.path("eventlog")

    def start(self, python_workers: bool = False) -> None:
        from iceberg_catalog_migrator_spark.session import get_spark

        run = self.run
        conf = {
            "spark.sql.warehouse.dir": run.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if run.traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{run.workload}", master=f"local[{nproc()}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        run.layers["setup.session_s"] = time.perf_counter() - t0
        run.layers["setup.python_workers_s"] = 0.0
        if python_workers:
            # bench.py's warm-up, one task per core: start the Python worker
            # daemon before any timing
            t0 = time.perf_counter()
            n = nproc()
            self.spark.range(n).repartition(n).mapInArrow(lambda it: it, "id long").count()
            run.layers["setup.python_workers_s"] = time.perf_counter() - t0

    def calibrate(self) -> None:
        import bench

        t0 = time.perf_counter()
        self.run.host["calibration_spark_s"] = bench._calibrate_spark(self.spark)
        self.run.layers["setup.calibration_spark_s"] = time.perf_counter() - t0

    def op(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` as one operation under a fresh job group (and a span
        called ``name``); returns ``(result, seconds)``."""
        self._seq += 1
        group = f"{name}#{self._seq}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        t_wall, t0 = time.time(), time.perf_counter()
        try:
            with self.run.tracer.span(name, group=group):
                out = fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
        if self.run.tracer.enabled:
            self.ops[group] = (t_wall, t_wall + dt)
            self._perf[group] = t0
        return out, dt

    def stop(self) -> None:
        """Stop the session, then end the JVM and wait for it: the gateway
        JVM exits when its stdin closes, and takes its Python workers along."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def ledger(self, windows: list[tuple[float, float]]) -> dict[str, float]:
        """``spark.*`` per traced unit of work, from the event log of the
        stopped session. ``windows`` are the units' perf-counter intervals;
        operations outside them (set-up, final checks) are left out of the
        totals. Per-operation detail goes to the run record."""
        files = glob.glob(os.path.join(self.event_dir, "*"))
        totals = {k: 0.0 for k in SPARK_COUNTERS}
        if files:
            per_op = attribute_jobs(self.ops, read_event_log(max(files, key=os.path.getmtime)))
            self.run.details["spark_by_op"] = per_op
            for group, agg in per_op.items():
                if any(lo <= self._perf[group] <= hi for lo, hi in windows):
                    for k in SPARK_COUNTERS:
                        totals[k] += agg.get(k, 0.0)
        return {f"spark.{k}": v / max(1, len(windows)) for k, v in totals.items()}


def read_event_log(path: str) -> list[dict]:
    """Jobs of a Spark event log as ``{"group", "start", "end", "stages",
    "tasks", <stage counters>}`` with times in epoch seconds. Each
    completed stage counts once, for the first job that lists it."""
    jobs: dict[int, dict] = {}
    job_stages: dict[int, list[int]] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1e3,
                    "end": ev["Submission Time"] / 1e3,
                }
                job_stages[jid] = ev.get("Stage IDs", [])
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                counters = {"stages": 1, "tasks": info.get("Number of Tasks", 0)}
                for acc in info.get("Accumulables", []):
                    metric = _ACCUMULABLES.get(acc.get("Name"))
                    if metric is not None:
                        key, scale = metric
                        counters[key] = counters.get(key, 0) + float(acc.get("Value", 0)) * scale
                stages[info["Stage ID"]] = counters
    claimed: set[int] = set()
    out = []
    for jid in sorted(jobs):
        job = dict(jobs[jid])
        for sid in job_stages[jid]:
            if sid in stages and sid not in claimed:
                claimed.add(sid)
                for k, v in stages[sid].items():
                    job[k] = job.get(k, 0) + v
        out.append(job)
    return out
