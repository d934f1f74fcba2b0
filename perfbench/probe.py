"""In-process instruments for the traced run.

Nothing here makes a network call or waits without a bound:

- spans are kept in a list and written once, when the run ends;
- stage counters come from the SparkContext's ``AppStatusStore`` after the
  listener bus drains (bounded wait; works with ``spark.ui.enabled``
  off);
- streaming phases come from a ``StreamingQueryListener``;
- peak RSS is ``VmHWM`` of the Spark JVM, read from ``/proc``.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager, nullcontext

from pyspark.sql.streaming import StreamingQueryListener

LISTENER_WAIT_MS = 10_000

STAGE_FIELDS = (
    # (counter, StageData accessor, scale)
    ("tasks", "numCompleteTasks", 1),
    ("task_ms", "executorRunTime", 1),
    ("cpu_ms", "executorCpuTime", 1e-6),
    ("gc_ms", "jvmGcTime", 1),
    ("input_bytes", "inputBytes", 1),
    ("input_records", "inputRecords", 1),
    ("output_bytes", "outputBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_records", "shuffleWriteRecords", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)


class Tracer:
    """Spans (name, start, end, parent, op-rep id) held in memory."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.rep: str | None = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "rep": self.rep,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def walls_ms(self, rep: str, name: str) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["rep"] == rep and s["name"] == name and s["end"] is not None
        ]

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def no_span(_name: str):
    """The untraced stand-in for ``Tracer.span``."""
    return nullcontext()


class ProgressLog(StreamingQueryListener):
    """Collects every micro-batch progress report; ``take`` hands over
    the reports gathered since the previous call."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._items: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "batch": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            "sink_rows": p.sink.numOutputRows,
        }
        with self._lock:
            self._items.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        with self._lock:
            items, self._items = self._items, []
        return items


class SparkCounters:
    """Job, stage and cache counters read in process."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def next_job_id(self) -> int:
        return self._sc.dagScheduler().nextJobId()

    def drain(self) -> None:
        """Wait until the status store has seen every posted event;
        raises after ``LISTENER_WAIT_MS``."""
        self._sc.listenerBus().waitUntilEmpty(LISTENER_WAIT_MS)

    def stages(self, first_job: int, end_job: int) -> dict[str, float]:
        """Totals over the distinct stages of jobs [first_job, end_job)."""
        out = {k: 0.0 for k, _, _ in STAGE_FIELDS}
        stage_ids: set[int] = set()
        for jid in range(first_job, end_job):
            ids = self._store.job(jid).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        ran = 0
        for sid in sorted(stage_ids):
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            ran += 1
            for key, accessor, scale in STAGE_FIELDS:
                out[key] += getattr(sd, accessor)() * scale
        out["jobs"] = end_job - first_job
        out["stages"] = ran
        return out

    def cached_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize() for i in self._sc.getRDDStorageInfo())


def peak_rss_mb(pid: int) -> float:
    """High-water resident set of process ``pid`` (``VmHWM``), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran someone else on the host's
    vCPUs; its share during the timed passes (in the detail line)
    explains wall-time noise on shared hosts."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)

