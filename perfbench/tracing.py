"""Benchmark-side tracing: spans around calls into the package's layers,
a timing ``Collection`` that records every fused per-batch sink call, job
and task counts from Spark's status tracker, and the summary statistics
the workloads report.

Nothing here reaches inside the package: every span opens and closes in
the benchmark's own files, around a public function.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager

from pyspark.accumulators import AccumulatorParam

from arangodb_java_parquet_spark.sources.collections import LocalCollection


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n: int) -> int:
    """Highest whole percentile with at least ten of ``n`` samples above it
    (0 when there are ten or fewer samples)."""
    return max(0, (100 * (n - 10)) // n) if n > 10 else 0


def summarize(values) -> dict:
    """Median, tail percentile, its level and the sample count."""
    pct = tail_pct(len(values))
    return {"p50": statistics.median(values),
            "tail": quantile(values, pct / 100), "tail_pct": pct,
            "n": len(values)}


def mean(values) -> float:
    return sum(values) / len(values) if values else 0.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory span recorder.

    A span is (name, start, end, parent, trace id). Each thread has its own
    span stack, so the parent of a span is the innermost open span of the
    same thread. A disabled tracer records nothing and costs one branch.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        """Record the body as a span; a span opened inside another span of
        the same thread is its child and shares its trace id."""
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"id": uuid.uuid4().hex[:12], "name": name,
               "parent": parent["id"] if parent else None,
               "trace": parent["trace"] if parent else uuid.uuid4().hex[:12],
               "start": time.time()}
        stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def write(self, path: str, counts: dict) -> None:
        """Dump the spans and the run's per-layer counts as JSON."""
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": counts}, f)


# ---------------------------------------------------------------------------
# timing collection
# ---------------------------------------------------------------------------

class _ListParam(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


class TimingCollection(LocalCollection):
    """``LocalCollection`` whose ``insert_many`` records, per call, the
    partition id, documents, bytes written and busy seconds into a Spark
    accumulator, so executor-side sink calls report back to the driver."""

    def __init__(self, root: str, name: str, calls):
        super().__init__(root, name)
        self.calls = calls

    def insert_many(self, docs: list[str]) -> int:
        from pyspark import TaskContext
        t0 = time.perf_counter()
        n = super().insert_many(docs)
        dur = time.perf_counter() - t0
        ctx = TaskContext.get()
        self.calls.add([{
            "partition": ctx.partitionId() if ctx else -1,
            "stage": ctx.stageId() if ctx else -1,
            "docs": n,
            "bytes": sum(len(d.encode("utf-8")) + 1 for d in docs),
            "s": dur}])
        return n


def call_accumulator(spark):
    return spark.sparkContext.accumulator([], _ListParam())


def collection_stats(calls: list[dict]) -> dict:
    """Per-layer numbers of ``sources.collections`` and ``sources.loader``
    from a list of timing-collection records."""
    if not calls:
        return {"insert_many_s": 0.0, "insert_many_calls": 0,
                "docs_per_batch": 0.0, "bytes_written": 0, "tasks": 0,
                "skew": 0.0}
    per_task: dict[tuple, int] = {}
    for c in calls:
        key = (c["stage"], c["partition"])
        per_task[key] = per_task.get(key, 0) + c["docs"]
    docs = list(per_task.values())
    return {"insert_many_s": sum(c["s"] for c in calls),
            "insert_many_calls": len(calls),
            "docs_per_batch": mean([c["docs"] for c in calls]),
            "bytes_written": sum(c["bytes"] for c in calls),
            "tasks": len(per_task),
            "skew": max(docs) / statistics.median(docs)}


def part_files(collection: LocalCollection) -> int:
    if not os.path.isdir(collection.path):
        return 0
    return sum(1 for p in os.listdir(collection.path)
               if p.startswith("part-") and p.endswith(".jsonl"))


# ---------------------------------------------------------------------------
# job / task counts
# ---------------------------------------------------------------------------

@contextmanager
def job_group(spark, group: str):
    """Run the body's Spark jobs under ``group`` (thread-local)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) that ran under ``group``, from the status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            stage = st.getStageInfo(sid)
            if stage:
                tasks += stage.numTasks
    return len(jobs), tasks


# ---------------------------------------------------------------------------
# CPU
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _group_ticks() -> dict[int, int]:
    """pid -> user + system clock ticks of each live process of this
    process group: the driver, the JVM and the Python workers."""
    pgrp, out = os.getpgrp(), {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgrp:
            out[int(p)] = int(fields[11]) + int(fields[12])
    return out


class CpuMeter:
    """CPU seconds this process group has spent since the meter was made.

    The kernel leaves time stolen by the hypervisor out of these counters,
    so on a shared host they move far less than wall time.  Each read adds
    every live process's ticks since the previous read (all of a new
    process's), so a Python worker that exits between reads loses only
    its last interval; read at least every few seconds."""

    def __init__(self):
        self._last = _group_ticks()
        self._ticks = 0

    def read(self) -> float:
        now = _group_ticks()
        self._ticks += sum(t - self._last.get(pid, 0)
                           for pid, t in now.items())
        self._last = now
        return self._ticks / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this machine so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(p))
    return out


def peak_rss_mb(root_pid: int | None = None) -> dict[str, float]:
    """Peak resident set size (VmHWM, MB) of this process and each of its
    live descendants — the driver, the JVM and the Python workers — keyed
    by ``<pid>:<command name>``."""
    pids, out = [root_pid or os.getpid()], {}
    while pids:
        pid = pids.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = \
                int(fields["VmHWM"].split()[0]) / 1024.0
        pids.extend(_children(pid))
    return out


def footprint_mb(peaks: dict[str, float]) -> float:
    """The driver (first entry), the JVM and the largest Python worker.

    Spark forks one Python worker per concurrently running Python task, so
    the number of workers follows scheduling, not the program; the largest
    one shows what a task's Python code needs."""
    driver, *rest = peaks.values()
    jvm = sum(v for k, v in peaks.items() if k.endswith(":java"))
    workers = [v for k, v in list(peaks.items())[1:]
               if not k.endswith(":java")]
    return driver + jvm + max(workers, default=0.0)
