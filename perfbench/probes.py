"""Outside-in probes: everything here times or counts calls *into* the engine
from the benchmark's side; nothing in the engine is changed.

* :class:`Tracer` keeps spans (name, start, end, parent, group id) in memory
  and writes them out once, at the end of a run.
* :class:`TimedSink` wraps an injected ``Sink`` and times each
  ``(batch_id, table)`` write. It always records the end time of each
  write, because freshness is measured up to the last sink write of a
  batch; spans are recorded only when a tracer is attached.
* :class:`SparkCounters` takes session-wide deltas from Spark's status store
  (jobs, stages, tasks, executor time, bytes). Job groups are not used:
  ``run_all_analyses``'s pool threads do not inherit them.
* :class:`ProgressCollector` is a ``StreamingQueryListener`` that keeps every
  progress event (``recentProgress`` keeps only the last 100).
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def record(self, name: str, start: float, end: float, *, group: str, parent: int | None = None) -> int:
        """Keep one span; returns its id, for the spans it causes."""
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "group": group}
            )
        return sid

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class TimedSink:
    """Times every write of the wrapped sink. ``windows[batch_id]`` is the
    (first start, last end) wall time of the batch's writes; ``sink_s`` sums
    a batch's write seconds; ``durations[table]`` lists each write's
    seconds."""

    def __init__(self, inner, tracer: Tracer | None = None, group: str = "") -> None:
        self.inner = inner
        self.tracer = tracer
        self.group = group
        self.windows: dict[int, list[float]] = {}
        self.sink_s: dict[int, float] = defaultdict(float)
        self.durations: dict[str, list[float]] = defaultdict(list)
        self._lock = threading.Lock()

    def write(self, df, table: str, batch_id: int | None = None) -> None:
        start = time.time()
        self.inner.write(df, table, batch_id)
        end = time.time()
        with self._lock:
            b = -1 if batch_id is None else batch_id
            win = self.windows.setdefault(b, [start, end])
            win[0], win[1] = min(win[0], start), max(win[1], end)
            self.sink_s[b] += end - start
            self.durations[table].append(end - start)
        if self.tracer is not None:
            self.tracer.record(f"sink.{table}", start, end, group=f"{self.group}{b}")


class SparkCounters:
    """Session-wide status-store sums over a range of job ids: note
    :meth:`job_count` before and after a window, then call :meth:`delta`."""

    FIELDS = (
        "jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
        "gc_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext._jsc.sc()

    def job_count(self) -> int:
        """Jobs submitted so far in this Spark session (no wait on the listener bus)."""
        return int(self.sc.dagScheduler().numTotalJobs())

    def delta(self, first_job: int, last_job: int) -> dict[str, float]:
        """Sums over jobs ``first_job <= id < last_job``. Stages skipped
        because a shuffle was reused are not in the store and count as 0."""
        self.sc.listenerBus().waitUntilEmpty()
        store = self.sc.statusStore()
        out = dict.fromkeys(self.FIELDS, 0.0)
        stage_ids: set[int] = set()
        for jid in range(first_job, last_job):
            try:
                job = store.job(jid)
            except Py4JJavaError:  # evicted from the store, or never registered
                continue
            out["jobs"] += 1
            ids = str(job.stageIds().mkString(","))
            stage_ids.update(int(s) for s in ids.split(",") if s)
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage is absent from the store
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["input_bytes"] += st.inputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


class ProgressCollector(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` as a dict, keyed by query id."""

    def __init__(self) -> None:
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress[p["id"]].append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM, from ``/proc/<pid>/status``."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
