"""Spans around each call into the engine, Spark job/stage counters
bracketed by job group, and process CPU / memory read from ``/proc``.

Spans time every call in both modes, since they are the benchmark's
clock.  Only a traced run also sets a job group around each
Spark-bound span and reads that group's jobs and stages from Spark's
status tracker and status store right after the call.  ``retainedJobs``
and ``retainedStages`` default to 1,000, which a stream passes within
minutes, so the numbers are never read later than that.
"""

from __future__ import annotations

import gc
import itertools
import json
import os
import time
from contextlib import contextmanager
from pathlib import Path

# Stage totals summed over a span's jobs.  executorCpuTime is in ns,
# executorRunTime in ms.
STAGE_FIELDS = {
    "tasks": lambda s: s.numCompleteTasks(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "executor_run_s": lambda s: s.executorRunTime() / 1e3,
    "executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
}
# Every counter job_counters returns, as the workloads report them.
SPARK_COUNTERS = ("jobs", "stages", *STAGE_FIELDS)


class Tracer:
    """In-memory spans: id, name, start, end, parent span id, run id and
    free-form attributes.  Written out once, by :meth:`dump`."""

    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.traced = traced
        self.sc = None  # the SparkContext, once the session is up
        self.spans: list[dict] = []
        self._ids = itertools.count()
        # Seconds spent reading the status store: the traced run's cost.
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, parent: dict | None = None, spark: bool = False, **attrs):
        """Time the body as one span.  With ``spark`` set on a traced
        run, its Spark jobs' counters land in the span's attributes."""
        s = {"id": next(self._ids), "name": name,
             "parent": parent["id"] if parent else None, "run": self.run_id,
             "start": time.time(), "end": None, **attrs}
        group = f"perfbench-{self.run_id}-{s['id']}"
        if spark and self.traced:
            self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self.spans.append(s)
            if spark and self.traced:
                t0 = time.perf_counter()
                self.sc.setJobGroup(None, None)
                s.update(job_counters(self.sc, group))
                self.overhead_s += time.perf_counter() - t0

    def dump(self, path: Path, **extra) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        spans = sorted(self.spans, key=lambda s: s["id"])
        path.write_text(json.dumps({"run": self.run_id, **extra, "spans": spans}, indent=1))


def job_counters(sc, group: str) -> dict:
    """Jobs, completed stages and stage totals of one job group."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(SPARK_COUNTERS, 0)
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        for stage_id in info.stageIds if info else ():
            try:
                st = store.lastStageAttempt(stage_id)
            except Exception:  # noqa: BLE001 - skipped stage, never attempted
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            for name, read in STAGE_FIELDS.items():
                out[name] += read(st)
    return out


# -- /proc ----------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        text = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    return text[text.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (f := _stat(int(entry))):
            parent[int(entry)] = int(f[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def cpu_seconds(jvm_pid: int) -> float:
    """User + system CPU of this Python process and of the driver JVM
    with its live descendants (the Python workers) plus what those
    already reaped."""
    t = os.times()
    total = t.user + t.system
    for pid in process_tree(jvm_pid):
        if f := _stat(pid):
            total += sum(int(x) for x in f[11:15]) / _TICK
    return total


def retained_mb(spark, rounds: int = 20) -> float:
    """Driver JVM heap plus non-heap memory in use after full GCs: what
    the engine still holds once the work is done.  Unlike peak RSS it
    does not depend on when the collector chose to grow the heap.

    One GC is not enough.  It only hands the broadcasts and shuffles
    whose handles died to Spark's ContextCleaner, and their memory is
    free only once the cleaner has worked through them, which can take
    seconds.  Read right after one GC, the figure depends on how many
    GCs the run happened to have: 1.0-2.4 GB instead of 0.35 GB on
    ``checkout_stream`` with an 8 GB heap.  So collect (Python first,
    so py4j releases its JVM handles) every half second until two
    reads in a row agree on the block manager's storage memory and
    within 1 % on the total."""
    sc = spark.sparkContext
    mem = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()

    def read() -> tuple[float, int]:
        gc.collect()
        sc._jvm.System.gc()
        used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
        # (max, remaining) storage memory of the one (driver) block manager
        storage = sc._jsc.sc().getExecutorMemoryStatus().iterator().next()._2()
        return used / 2**20, storage._1() - storage._2()

    last = read()
    for _ in range(rounds):
        time.sleep(0.5)
        now = read()
        if now[1] == last[1] and abs(now[0] - last[0]) <= 0.01 * last[0]:
            break
        last = now
    return now[0]


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (VmHWM) of this Python process plus the JVM."""
    total_kb = 0
    for pid in (os.getpid(), jvm_pid):
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024
