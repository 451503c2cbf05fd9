"""In-memory spans, Spark job attribution and the percentile rule.

Spans are recorded around calls into the library's layers (name, start,
end, parent span, op id) and kept in memory until the run writes them
out. Spark work is attributed to an op by job-ID range: Spark numbers
jobs consecutively per SparkContext, and the benchmark runs one op at a
time from one driver thread, so every job whose ID falls between the
counter read before the op and the counter read after it belongs to that
op -- including jobs the library submits from its own pool threads,
which a thread-local job group would miss.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import threading
import time
from collections.abc import Callable, Iterator

#: Per-op Spark totals, summed over the op's jobs (stage-level metrics
#: of every stage that ran; skipped stages count nowhere).
SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "failed_tasks",
)


def tail_percentile(samples: list[float]) -> tuple[int, float]:
    """(p, value): the highest whole percentile, by nearest rank, that has
    at least ten samples above its rank. Needs at least 11 samples."""
    n = len(samples)
    ordered = sorted(samples)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= 10:
            return p, ordered[rank - 1]
    raise ValueError(f"the tail rule needs at least 11 samples, got {n}")


class Tracer:
    """Spans and per-op Spark totals for one run. Spans are recorded only
    while ``active`` is set, so untraced work pays one attribute read per
    wrapped call."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc.sc()
        self._t0 = time.perf_counter()
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self.active = False
        self.spans: list[dict] = []
        self.op_id: "str | None" = None
        self.op_span: "int | None" = None

    @contextlib.contextmanager
    def span(self, name: str, op_id: "str | None" = None) -> Iterator[None]:
        """Record a span around the block. Its parent is the innermost
        open span on the same thread, else the current op's span -- so
        calls from the library's pool threads hang off the op that
        submitted them. Passing ``op_id`` opens a new op."""
        if not self.active:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        span_id = next(self._ids)
        if op_id is not None:
            self.op_id, self.op_span, parent = op_id, span_id, None
        else:
            parent = stack[-1] if stack else self.op_span
        stack.append(span_id)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append({
                    "id": span_id,
                    "name": name,
                    "op": self.op_id,
                    "parent": parent,
                    "start": round(start - self._t0, 6),
                    "end": round(end - self._t0, 6),
                })

    def wrap(self, name: str, fn: Callable) -> Callable:
        """``fn`` with a span named ``name`` around each call."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def span_total(self, name: str, op_id: str) -> tuple[int, float]:
        """(calls, seconds) of the spans named ``name`` inside op ``op_id``."""
        durations = [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["op"] == op_id
        ]
        return len(durations), sum(durations)

    def job_count(self) -> int:
        """Jobs submitted so far in this SparkContext (the next job ID)."""
        return self._jsc.dagScheduler().numTotalJobs()

    def spark_totals(self, first_job: int, end_job: int) -> dict[str, float]:
        """Sum the status store's stage metrics over jobs [first, end)."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        for job_id in range(first_job, end_job):
            ids = store.job(job_id).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.length()))
        totals = dict.fromkeys(SPARK_KEYS, 0.0)
        totals["jobs"] = float(end_job - first_job)
        for stage_id in stage_ids:
            stage = store.lastStageAttempt(stage_id)
            if stage.status().toString() == "SKIPPED":
                continue
            totals["stages"] += 1
            totals["tasks"] += stage.numTasks()
            totals["failed_tasks"] += stage.numFailedTasks()
            totals["task_run_s"] += stage.executorRunTime() / 1e3
            totals["task_cpu_s"] += stage.executorCpuTime() / 1e9
            totals["shuffle_read_bytes"] += stage.shuffleReadBytes()
            totals["shuffle_write_bytes"] += stage.shuffleWriteBytes()
            totals["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
            totals["input_bytes"] += stage.inputBytes()
        return totals
