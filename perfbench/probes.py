"""Measurement from outside the engine: spans, Spark status-store counters,
process RSS, and process shutdown.

Nothing here changes what the engine runs. Status-store counters are read
through the JVM ``AppStatusStore`` (filled even with the UI disabled),
scoped per step by Spark job group.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------------ spans

class Tracer:
    """In-memory spans with parent ids; written out once at the end.

    Disabled, ``span`` still yields an attribute dict but records nothing.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.self_s = 0.0  # time spent collecting counters for spans

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "attrs": dict(attrs)}
        if not self.enabled:
            yield rec["attrs"]
            return
        rec["id"] = len(self.spans)
        rec["parent"] = self._stack[-1] if self._stack else None
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh, indent=0)


# ------------------------------------------------------- status counters

COUNTERS = (
    "jobs", "stages", "stages_skipped", "tasks", "tasks_failed",
    "run_ms", "cpu_ns", "gc_ms", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


class StatusCounters:
    """Per-job-group counters read from the JVM status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def group(self, group: str) -> dict:
        """Counters over every job of ``group``, plus the slowest stage's
        (longest submission→completion) task run-time max and median."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0)
        slowest = (-1.0, None)
        seen: set[int] = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(job_id)
            out["jobs"] += 1
            out["stages_skipped"] += job.numSkippedStages()
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage that never ran
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["tasks_failed"] += st.numFailedTasks()
                out["run_ms"] += st.executorRunTime()
                out["cpu_ns"] += st.executorCpuTime()
                out["gc_ms"] += st.jvmGcTime()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    wall = done.get().getTime() - sub.get().getTime()
                    if wall > slowest[0]:
                        slowest = (wall, (sid, st.attemptId()))
        out["slowest_stage_wall_ms"] = max(slowest[0], 0)
        out["slowest_task_median_ms"] = 0.0
        out["slowest_task_max_ms"] = 0.0
        if slowest[1] is not None:
            summary = self._store.taskSummary(*slowest[1], self._quantiles)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                out["slowest_task_median_ms"] = float(rt.apply(0))
                out["slowest_task_max_ms"] = float(rt.apply(1))
        return out

    def storage(self) -> dict:
        """Block-manager memory in use and persisted RDDs, now."""
        self._bus.waitUntilEmpty()
        execs = self._store.executorList(True)
        used = sum(execs.apply(i).memoryUsed() for i in range(execs.size()))
        return {
            "cached_bytes": int(used),
            "persistent_rdds": int(self.sc._jsc.getPersistentRDDs().size()),
        }


# --------------------------------------------------------------- processes

def descendants(root: int) -> list[int]:
    """Every live descendant pid of ``root`` (read from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] not in "ZX"


class RssSampler:
    """One thread polling the RSS of this process and its long-lived
    descendants (the JVM and its Python workers); keeps the peak of the
    sum since the last ``reset``."""

    def __init__(self, interval: float = 0.05, rescan: float = 1.0):
        self.interval = interval
        self.rescan = rescan
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        pids, seen, scanned = [me], set(), 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - scanned >= self.rescan:
                # Count a descendant only from its second scan on: a
                # short-lived child (the JVM forks e.g. chmod while writing
                # files) briefly reports its parent's whole RSS as its own.
                current = set(descendants(me))
                pids, seen, scanned = [me, *(current & seen)], current, now
            total = sum(_rss_bytes(p) for p in pids)
            with self._lock:
                self._peak = max(self._peak, total)
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        with self._lock:
            self._peak = 0

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark, grace: float = 60.0) -> None:
    """Stop the session and its JVM, and wait until every process this one
    started has ended (SIGKILL after ``grace`` seconds)."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        deadline = time.monotonic() + grace
        if proc is not None:
            try:
                proc.wait(timeout=grace)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        for pid in started:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                while _alive(pid):
                    time.sleep(0.05)
