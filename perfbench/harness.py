"""Shared machinery of the benchmark: the Spark session, the closed measurement
loop, JVM memory, and the tracer (spans + Spark stage counters).

Nothing here imports ``rastr_spark``; the workload modules do.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
import traceback
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable, Iterator

from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def n_cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: Path, *, ui: bool) -> SparkSession:
    """One driver process on ``local[<nproc>]``; every file Spark or the JVM
    writes goes under ``work``. The UI (and so the status REST API) is on only
    for the traced run."""
    cpus = n_cpus()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # A fixed-size heap with a fixed young generation: G1's pause-time driven
    # sizing makes peak RSS follow the host's speed rather than the program.
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData "
        "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms3g -Xmn768m"
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("rastr-perfbench")
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true" if ui else "false")
    )
    if ui:
        builder = (
            builder.config("spark.ui.port", "0")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.sql.ui.retainedExecutions", "100000")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark: SparkSession) -> None:
    """Stop Spark, then the py4j gateway JVM, and wait for the JVM to exit
    (its Python workers exit with it)."""
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark: SparkSession) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def full_gc(spark: SparkSession) -> None:
    """Collect the JVM heap, so that every execution starts from the same heap
    state and peak RSS reflects one execution, not the garbage of all that ran
    before (their number depends on the host's speed)."""
    spark.sparkContext._jvm.java.lang.System.gc()


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of ``pid`` (``VmHWM`` in /proc/<pid>/status), MiB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat: the
    share of time the hypervisor gave this machine's CPUs to someone else."""
    fields = [int(v) for v in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields)


def noop_write(df: DataFrame) -> None:
    """Force every column of ``df`` without keeping it (no column pruning,
    unlike ``count()``)."""
    df.write.format("noop").mode("overwrite").save()


def noop_rows(df: DataFrame) -> int:
    """``noop_write`` that also returns the row count, observed in the same job."""
    obs = Observation()
    noop_write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return int(obs.get["rows"])


def dir_bytes_files(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


# ---------------------------------------------------------------------------
# measurement loop
# ---------------------------------------------------------------------------

class CheckFailed(AssertionError):
    """An execution's output failed the workload's check."""


@dataclass
class Loop:
    """Closed-loop results: one execution at a time, each wall kept together
    with the CPU steal share the host imposed while it ran."""

    walls: list[float] = field(default_factory=list)
    steals: list[float] = field(default_factory=list)
    failed_walls: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def run_once(self, execute: Callable[[], None]) -> None:
        """Time one execution (output check included). An exception or a
        failed check counts as a failed operation; its wall is kept apart."""
        self.attempted += 1
        steal0, total0 = cpu_times()
        t0 = time.perf_counter()
        try:
            execute()
        except Exception:
            self.failed += 1
            self.failed_walls.append(time.perf_counter() - t0)
            self.errors.append(traceback.format_exc(limit=4))
            print(self.errors[-1], file=sys.stderr)
            return
        self.walls.append(time.perf_counter() - t0)
        steal1, total1 = cpu_times()
        self.steals.append((steal1 - steal0) / max(total1 - total0, 1))

    def p50(self) -> float:
        """Median wall of the successful executions (of the failed ones when
        none succeeded)."""
        return median(self.walls or self.failed_walls)


def run_for(seconds: float, step: Callable[[], None]) -> None:
    """Call ``step`` until ``seconds`` have passed; at least once."""
    t_end = time.perf_counter() + seconds
    step()
    while time.perf_counter() < t_end:
        step()


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

STAGE_FIELDS = {
    # metric name → (StageData field, scale)
    "spark.tasks": ("numTasks", 1.0),
    "spark.failed_tasks": ("numFailedTasks", 1.0),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "spark.spill_bytes": ("diskBytesSpilled", 1.0),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.executor_run_s": ("executorRunTime", 1e-3),
}


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)
    spark: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory, written once by :meth:`dump`.

    Every span is its own Spark job group, so after the run the status REST
    API's job list maps each Spark stage to the span that launched it.
    """

    def __init__(self, spark: SparkSession, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        s = self._open(name)
        try:
            yield s
        finally:
            self._close(s)

    def _open(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, self.run_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.span_id)
        self.sc.setJobGroup(f"span-{s.span_id}", name)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(f"span-{self._stack[-1]}", self.spans[self._stack[-1]].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def self_time(self, s: Span) -> float:
        """Duration minus the part of the span that its children cover
        (children of one span run one after another, never overlapping)."""
        kids = [c for c in self.spans if c.parent == s.span_id]
        return s.duration - sum(c.duration for c in kids)

    # -- status REST API ----------------------------------------------------
    def _get(self, path: str) -> Any:
        with urllib.request.urlopen(f"{self.base}{path}", timeout=30) as r:
            return json.loads(r.read())

    def drain(self, timeout: float = 10.0) -> None:
        """Wait until the status store has seen every job end (the listener
        bus is asynchronous)."""
        t_end = time.perf_counter() + timeout
        while time.perf_counter() < t_end:
            if not self._get("/jobs?status=running"):
                return
            time.sleep(0.05)

    def storage_bytes(self) -> float:
        """Storage memory still held by the executors, bytes."""
        self.drain()
        return float(sum(e.get("memoryUsed", 0) for e in self._get("/executors")))

    def attach_stage_counters(self) -> None:
        """Sum each span's own stages (its job group's) into ``span.spark``."""
        self.drain()
        stages = self._get("/stages")  # one entry per stage attempt
        by_group: dict[str, set[int]] = {}
        for job in self._get("/jobs"):
            group = job.get("jobGroup")
            if group:
                by_group.setdefault(group, set()).update(job.get("stageIds", []))
        for s in self.spans:
            ids = by_group.get(f"span-{s.span_id}", set())
            tot = {k: 0.0 for k in STAGE_FIELDS}
            for st in stages:
                if st["stageId"] not in ids or st.get("status") == "SKIPPED":
                    continue
                for k, (f, scale) in STAGE_FIELDS.items():
                    tot[k] += float(st.get(f) or 0) * scale
            s.spark = tot

    def subtree_spark(self, s: Span) -> dict[str, float]:
        tot = dict(s.spark)
        for c in self.spans:
            if c.parent == s.span_id:
                for k, v in self.subtree_spark(c).items():
                    tot[k] = tot.get(k, 0.0) + v
        return tot

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        rows = [
            {
                "span_id": s.span_id,
                "name": s.name,
                "parent": s.parent,
                "run_id": s.run_id,
                "start": s.start,
                "end": s.end,
                "self_s": self.self_time(s),
                "counts": s.counts,
                "spark": s.spark,
            }
            for s in self.spans
        ]
        path.write_text(json.dumps({"spans": rows, **extra}, indent=1))

