"""Spans, Spark status-store counters and process memory for the benchmark.

Spans are recorded by the benchmark's own code around its calls into the
package (``pass`` -> ``query`` -> ``plans.build`` / ``sources.pick`` /
``exec.action``); they stay in memory until the run writes its record.
Counters come from Spark's status store, read from outside the program:
every job and stage Spark launched between two snapshots is summed, so a
query's counters split into what its plan build launched eagerly and what
its action ran.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

# StageData fields summed per snapshot interval, keyed by the short name
# the benchmark reports them under
STAGE_FIELDS = {
    "tasks": "numTasks",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_memory_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
    "cpu_ns": "executorCpuTime",
    "task_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
}


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    tags: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "id": self.span_id,
            "parent": self.parent,
            "start": round(self.start, 6),
            "dur": round(self.end - self.start, 6),
            **self.tags,
        }


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, **tags):
        return _SpanCtx(self, name, tags)

    def add(self, name: str, start: float, end: float, **tags) -> None:
        """Record an already-timed child of the innermost open span."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, len(self.spans), parent, start, end, tags))


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, tags: dict):
        self.tracer, self.name, self.tags = tracer, name, tags
        self.span: Span | None = None

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            self.span = Span(self.name, len(t.spans), parent, time.monotonic(), tags=self.tags)
            t.spans.append(self.span)
            t._stack.append(self.span.span_id)
        return self

    def __exit__(self, *exc):
        if self.span is not None:
            self.span.end = time.monotonic()
            self.tracer._stack.pop()
        return False


class StatusCounters:
    """Sums the jobs and stages Spark launched since the previous call.

    Job and stage ids grow monotonically within a SparkContext, so the
    interval's work is every id above the last one seen; the store's
    retention limit cannot drop an interval's stages as long as one
    interval launches fewer than ``spark.ui.retainedStages`` of them.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._last_job = -1
        self._last_stage = -1
        self.delta()  # start from whatever already ran

    def delta(self) -> dict:
        # the listener bus updates the store asynchronously; drain it so a
        # just-finished action's task metrics are all counted
        self._jsc.listenerBus().waitUntilEmpty()
        out = {k: 0 for k in STAGE_FIELDS}
        out["jobs"] = out["stages"] = 0
        # both lists come newest first (the store's views run in reverse
        # id order), so the scan stops at the first id already counted
        it = self._store.jobsList(None).iterator()
        top_job = self._last_job
        while it.hasNext():
            job_id = it.next().jobId()
            if job_id <= self._last_job:
                break
            out["jobs"] += 1
            top_job = max(top_job, job_id)
        self._last_job = top_job
        it = self._store.stageList(None, False, False, self._no_quantiles, None).iterator()
        top_stage = self._last_stage
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            top_stage = max(top_stage, sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for key, getter in STAGE_FIELDS.items():
                out[key] += int(getattr(s, getter)())
        self._last_stage = top_stage
        return out


def descendant_rss_bytes(root_pid: int) -> int:
    """Resident bytes of every process below ``root_pid`` (not itself):
    the Spark JVM and the Python workers it forks."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we looked
        # the command name may hold spaces; fields resume after its ')'
        fields = stat[stat.rindex(")") + 2 :].split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    total, todo = 0, list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class PeakRss:
    """Samples ``descendant_rss_bytes`` on a thread while active and keeps
    one peak per segment; ``cut()`` closes the current segment (a pass)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.peaks: list[int] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cut(self) -> None:
        with self._lock:
            self.peaks.append(self.peak)
            self.peak = 0

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = descendant_rss_bytes(me)
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval_s)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False
