"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own code around each call into
an engine layer; nothing inside the engine is instrumented. Four
sources feed the per-layer metrics:

- :class:`Tracer` keeps spans in memory (name, wall start/end, parent,
  op id) and labels the Spark jobs of each span with a job group named
  after it, so Spark's own logs name the layer;
- :class:`ProgressListener` is a ``StreamingQueryListener`` that keeps
  every micro-batch's ``durationMs`` and input row count;
- :class:`WritePhaseListener` is a ``QueryExecutionListener`` that keeps
  the Catalyst phase times of each query's noop write;
- :func:`reduce_event_log` reads Spark's own event log (enabled into a
  temporary directory for the traced run) and sums task metrics per
  job; :func:`attribute_jobs` then hands each job to the innermost span
  that was open when it was submitted. Streaming micro-batches replace
  the job group with the query's run id, which is why jobs are matched
  to spans by submission time rather than by group.

:class:`NullTracer` is the untraced stand-in: its spans cost one
context-manager entry and record nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False

    def __init__(self):
        self.op = -1

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    """In-memory span recorder. ``op`` is the id shared by the spans of
    one operation; the runner sets it before each op."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.op, parent, time.time())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(f"op{self.op}:{name}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"op{outer.op}:{outer.name}", outer.name)
            else:
                for k in ("spark.jobGroup.id", "spark.job.description"):
                    self.sc.setLocalProperty(k, None)

    def dump(self, path: str) -> None:
        """Write the spans out, one JSON object per line."""
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {"id": i, "name": s.name, "op": s.op, "parent": s.parent,
                         "start": s.start, "end": s.end}
                    )
                    + "\n"
                )


class ProgressListener(StreamingQueryListener):
    """Collects each micro-batch's progress and counts terminations, so
    the traced run can wait until a drain's events have all arrived."""

    def __init__(self):
        self.progress: list[dict] = []
        self._terminated = 0
        self._waited = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        row = {"numInputRows": p.numInputRows, "durationMs": dict(p.durationMs)}
        with self._cv:
            self.progress.append(row)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self._terminated += 1
            self._cv.notify_all()

    def wait_next(self, timeout: float = 30.0) -> bool:
        """Block until one more query has terminated than at the last
        call."""
        with self._cv:
            self._waited += 1
            return self._cv.wait_for(lambda: self._terminated >= self._waited, timeout)

    def take(self) -> list[dict]:
        with self._cv:
            out, self.progress = self.progress, []
        return out


class WritePhaseListener:
    """A ``QueryExecutionListener`` that keeps the Catalyst phase times
    (``queryExecution().tracker()``, in ms) of every noop write that
    succeeds, in the order the writes ran. The phases are those of the
    write's own ``QueryExecution``, so nothing is planned twice; the
    listener runs on Spark's listener bus, off the op's thread."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._manager = spark._jsparkSession.listenerManager()
        self.phases: list[dict[str, float]] = []
        self._cv = threading.Condition()
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._manager.register(self)

    def onSuccess(self, funcName, qe, durationNs):
        if qe.analyzed().nodeName() != "OverwriteByExpression":
            return  # not a noop write: a builder's own action
        tracked = qe.tracker().phases()
        row = {}
        for k in self.PHASES:
            opt = tracked.get(k)
            row[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        with self._cv:
            self.phases.append(row)
            self._cv.notify_all()

    def onFailure(self, funcName, qe, exception):
        pass

    def close(self, n: int, timeout: float = 30.0) -> list[dict[str, float]]:
        """Wait until ``n`` writes have been seen, stop listening and
        return their phases."""
        with self._cv:
            self._cv.wait_for(lambda: len(self.phases) >= n, timeout)
        self._manager.unregister(self)
        return self.phases

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# ----------------------------------------------------------- event log

TASK_FIELDS = (
    "tasks", "task_run_ms", "cpu_ms", "gc_ms", "input_bytes", "output_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    stages: list[int] = field(default_factory=list)


def _event_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir`` in write order (a rolling
    log is a directory of ``events_<n>_<app>`` files)."""

    def key(path: str):
        base = os.path.basename(path)
        parts = base.split("_")
        n = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(path), n, base)

    found = [
        os.path.join(d, f)
        for d, _, files in os.walk(log_dir)
        for f in files
        if not f.startswith("appstatus")
    ]
    return sorted(found, key=key)


def reduce_event_log(log_dir: str) -> tuple[list[Job], dict[int, dict], dict[int, list[float]]]:
    """(jobs, per-stage task-metric sums, per-stage task run times)
    from the event log under ``log_dir``."""
    jobs: list[Job] = []
    stages: dict[int, dict] = {}
    task_ms: dict[int, list[float]] = {}
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    jobs.append(Job(e["Job ID"], e["Submission Time"] / 1000.0, list(e.get("Stage IDs", []))))
                elif '"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    m = e.get("Task Metrics")
                    if not m:
                        continue
                    sid = e["Stage ID"]
                    s = stages.setdefault(sid, dict.fromkeys(TASK_FIELDS, 0.0))
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    run = float(m.get("Executor Run Time", 0))
                    s["tasks"] += 1
                    s["task_run_ms"] += run
                    s["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    s["gc_ms"] += m.get("JVM GC Time", 0)
                    s["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    s["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                    s["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    task_ms.setdefault(sid, []).append(run)
    return jobs, stages, task_ms


def attribute_jobs(jobs: list[Job], spans: list[Span]) -> dict[int, int]:
    """job id -> index of the innermost span open at its submission.
    Jobs submitted outside every span are left out."""
    out: dict[int, int] = {}
    order = sorted(range(len(spans)), key=lambda i: spans[i].start)
    for j in jobs:
        best = None
        for i in order:
            s = spans[i]
            if s.start > j.submit:
                break
            if s.end >= j.submit:
                best = i  # later start = more deeply nested
        if best is not None:
            out[j.job_id] = best
    return out


def exec_totals(
    job_ids: list[int], jobs: list[Job], stages: dict[int, dict], task_ms: dict[int, list[float]]
) -> dict[str, float]:
    """Task-metric sums over the given jobs (each stage counted once),
    plus the job/stage counts and the median per-stage task skew
    (slowest task over the stage's median task)."""
    wanted = set(job_ids)
    seen: set[int] = set()
    tot = dict.fromkeys(TASK_FIELDS, 0.0)
    skews = []
    for j in jobs:
        if j.job_id not in wanted:
            continue
        for sid in j.stages:
            if sid in seen or sid not in stages:
                continue  # skipped (reused) stages ran no tasks
            seen.add(sid)
            for k in TASK_FIELDS:
                tot[k] += stages[sid][k]
            ts = task_ms.get(sid, [])
            med = statistics.median(ts) if len(ts) >= 2 else 0.0
            if med > 0:
                skews.append(max(ts) / med)
    tot["jobs"] = float(len(wanted))
    tot["stages"] = float(len(seen))
    tot["max_task_skew"] = statistics.median(skews) if skews else 1.0
    tot["cpu_to_run_ratio"] = tot["cpu_ms"] / tot["task_run_ms"] if tot["task_run_ms"] else 0.0
    return tot
