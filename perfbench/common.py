"""Run context shared by the workloads: directories, environment, host
context, the tracer and the result record."""

from __future__ import annotations

import glob
import json
import os
import resource
import shutil
import sys
import time
from dataclasses import dataclass, field

from perfbench.trace import Tracer, median, self_times, uncovered_s

#: the repository checkout the benchmark runs from (parent of perfbench/)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_mb() -> float:
    """VmHWM of this process in MB (falls back to ru_maxrss)."""
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


@dataclass
class Run:
    """One benchmark invocation: arguments, scratch space, tracer and the
    numbers the workload records."""

    workload: str
    seed: int
    seconds: float
    traced: bool
    work: str = ""
    out: str = ""
    tracer: Tracer | None = None
    host: dict = field(default_factory=dict)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)
    details: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        stamp = f"{self.workload}-seed{self.seed}-trace{int(self.traced)}"
        self.work = os.path.join(STATE_DIR, "work", f"{stamp}-{os.getpid()}")
        self.out = os.path.join(STATE_DIR, "out", stamp)
        self.tracer = Tracer(trace_id=f"{stamp}-{int(time.time())}", enabled=self.traced)

    def prepare(self) -> None:
        """Fresh scratch tree inside the checkout; every temp file, Spark
        local dir and ingest cache of the run lands under it."""
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "spark-local", "ingest", "jars"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        os.makedirs(os.path.dirname(self.out), exist_ok=True)
        env = {
            "TMPDIR": os.path.join(self.work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "SPARK_GRAFT_INGEST_CACHE": os.path.join(self.work, "ingest"),
            "SPARK_GRAFT_JAR_CACHE": os.path.join(self.work, "jars"),
            # the session factory would otherwise try to fetch a jar
            "SPARK_GRAFT_DISABLE_ICEBERG_JAR": "1",
            "SPARK_GRAFT_CPUS": str(nproc()),
            # every JVM Spark starts (launcher and driver) keeps its temp
            # files in the run's tree and writes no perf-data file
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
            # Spark's Python workers import the package by name
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
        }
        os.environ.update(env)
        import tempfile

        tempfile.tempdir = env["TMPDIR"]

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, what: str) -> None:
        """Record an output check; a mismatch counts as a failed operation."""
        if not ok:
            self.mismatches.append(what)
            self.failed += 1

    def record_host(self) -> None:
        try:
            load = os.getloadavg()[0]
        except OSError:
            load = -1.0
        self.host = {"nproc": nproc(), "load1_at_start": load}

    def trace_summary(self, windows: list[tuple[float, float]]) -> None:
        """Per traced unit: the wall time no span below the unit covers, and
        each span name's self time (duration minus what its children cover)."""
        units = [s for s in self.tracer.spans if s.name.endswith(".unit")]
        inner = [s for s in self.tracer.spans if not s.name.endswith(".unit")]
        self.layers["trace.uncovered_s"] = median(
            [uncovered_s([s for s in inner if s.start < hi and s.end > lo], lo, hi) for lo, hi in windows]
        )
        own = self_times(self.tracer.spans)
        by_name: dict[str, float] = {}
        for s in self.tracer.spans:
            by_name[s.name] = by_name.get(s.name, 0.0) + own[s.span_id]
        self.details["self_s_by_span"] = {k: v / max(1, len(units)) for k, v in sorted(by_name.items())}

    def trace_overhead(self) -> None:
        """Traced ``wall_s`` minus the median ``wall_s`` of the untraced runs
        of this workload recorded in this checkout (0 when there are none)."""
        untraced = []
        for path in glob.glob(os.path.join(STATE_DIR, "out", f"{self.workload}-seed*-trace0.json")):
            try:
                with open(path) as f:
                    untraced.append(json.load(f)["end_to_end"]["wall_s"])
            except (OSError, ValueError, KeyError):
                continue
        self.details["untraced_runs"] = len(untraced)
        self.layers["trace.overhead_s"] = self.e2e["wall_s"] - median(untraced) if untraced else 0.0

    def result_line(self, spec: dict) -> dict:
        """The result object: BENCHMARK.json's end-to-end metrics, or its
        per-layer ones in a traced run, each with its declared unit."""
        declared = spec["per_layer"] if self.traced else spec["end_to_end"]
        source = self.layers if self.traced else self.e2e
        metrics = {
            m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared
        }
        return {
            "correct": not self.mismatches,
            "attempted": max(1, int(self.attempted)),
            "failed": int(self.failed),
            "metrics": metrics,
        }

    def write_record(self, line: dict) -> None:
        record = {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "traced": self.traced,
            "host": self.host,
            "end_to_end": self.e2e,
            "layers": self.layers,
            "mismatches": self.mismatches,
            "details": self.details,
            "result": line,
        }
        with open(self.out + ".json", "w") as f:
            json.dump(record, f, indent=1, sort_keys=True, default=str)
        if self.traced and self.tracer is not None:
            self.tracer.dump(self.out + ".spans.jsonl")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
