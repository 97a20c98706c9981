"""In-memory spans recorded around the benchmark's calls into the
package, plus the probes that read Spark's own counters.

A span has a name, start, end, parent span and an operation id (one
per poll or query). Spans stay in memory and are written out once, at
exit. A layer's self time is its span durations minus the part of
them covered by child spans.
"""

from __future__ import annotations

import json
import queue
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Records nested spans from one thread."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 parent.sid if parent else None,
                 op if op is not None else (parent.op if parent else None))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def window(self, lo: int, hi: int) -> "Tracer":
        """A tracer holding only spans ``lo:hi`` (one phase of a run)."""
        part = Tracer()
        part.spans = self.spans[lo:hi]
        return part

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child[s.sid]
        return dict(out)

    def totals(self) -> dict[str, float]:
        """Total wall time per span name, in seconds."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.end - s.start
        return dict(out)

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            out[s.name] += 1
        return dict(out)

    def ops(self) -> dict[str, list[Span]]:
        """Spans grouped by operation id, in start order."""
        out: dict[str, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.op is not None:
                out[s.op].append(s)
        return dict(out)

    def dump(self, path: str, details: dict | None = None) -> None:
        """Write the spans, and the workload's own per-layer figures."""
        with open(path, "w") as f:
            json.dump({"details": details or {},
                       "spans": [asdict(s) for s in self.spans]}, f, indent=1)


class NullTracer:
    """Tracing off: ``span`` costs one generator round trip."""

    enabled = False

    @contextmanager
    def span(self, name: str, op: str | None = None):
        yield None


class TimedLoader:
    """Delegating loader proxy: times the four loader calls and
    forwards everything else (``close`` included) untouched. Missing
    attributes stay missing, so ``getattr(loader, name, default)`` in
    ``PollingCdcSource`` behaves exactly as with the bare loader."""

    _TIMED = frozenset({"snapshot", "incremental", "max_cursor", "safe_cursor"})

    def __init__(self, inner, tracer: Tracer) -> None:
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name: str):
        attr = getattr(self._inner, name)
        if name not in self._TIMED:
            return attr

        def timed(*args, **kwargs):
            with self._tracer.span(f"cdc.loader.{name}"):
                return attr(*args, **kwargs)

        return timed


def stream_listener(spark):
    """A ``StreamingQueryListener`` that keeps every progress report
    per run id and queues run ids as their queries terminate."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: dict[str, list] = defaultdict(list)
            self.terminated: queue.Queue = queue.Queue()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.progress[str(event.progress.runId)].append(event.progress)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated.put(str(event.runId))

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


def progress_totals(progress: list) -> dict[str, float]:
    """Sum a query run's progress reports into per-layer figures."""
    dur = defaultdict(float)
    rows_total = mem = commit_ms = dropped = n_in = 0
    for p in progress:
        for k, v in (p.durationMs or {}).items():
            dur[k] += v
        n_in += p.numInputRows
        ops = p.stateOperators or []
        rows_total = max(rows_total, sum(o.numRowsTotal for o in ops))
        mem = max(mem, sum(o.memoryUsedBytes for o in ops))
        commit_ms += sum(o.commitTimeMs for o in ops)
        dropped += sum(o.numRowsDroppedByWatermark for o in ops)
    return {
        "add_batch_ms": dur["addBatch"],
        "query_planning_ms": dur["queryPlanning"],
        "wal_commit_ms": dur["walCommit"],
        "trigger_ms": dur["triggerExecution"],
        "state_rows_total": rows_total,
        "state_memory_bytes": mem,
        "state_commit_ms": commit_ms,
        "rows_dropped_by_watermark": dropped,
        "num_input_rows": n_in,
    }


def job_counts(sc, group: str) -> tuple[int, int]:
    """Jobs and tasks Spark ran under one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for st in (info.stageIds if info else []):
            stage = tracker.getStageInfo(st)
            if stage is not None:
                tasks += stage.numTasks
    return len(jobs), tasks


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (``VmHWM``) of the gateway JVM."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
