"""In-memory span tracer for the traced benchmark run.

A span wraps one call into a layer.  Its name is ``<layer>.<call>``; it
records start, end, parent and the op it belongs to.  While a span is
open, every Spark job the call submits carries the job group
``pb<span id>``, so each job (and its stages) is attributed to the
innermost span that launched it.  After each op the tracer drains the
listener bus and reads those jobs from Spark's status store.

Self time of a span = its duration − its child spans − the union of its
own jobs' run intervals.  Job time is the ``exec`` layer.  So for every
op the per-layer self times plus ``exec`` add up to the op's wall time
exactly; the root span's self time is the driver remainder.

Nothing here runs in the untraced (timed) runs.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

#: per-stage counters summed into ``exec.*`` (status-store getter → metric)
STAGE_COUNTERS = {
    "executorRunTime": "run_ms",
    "jvmGcTime": "gc_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleFetchWaitTime": "fetch_wait_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: str
    start: float
    end: float = 0.0
    job_s: float = 0.0  # union of this span's own job intervals
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Records spans for one traced run; ``collect()`` after each op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._next = 0
        self.op = ""

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1].sid if self._open else None
        s = Span(self._next, name, parent, self.op, time.time())
        self._next += 1
        self._open.append(s)
        self.sc.setJobGroup(f"pb{s.sid}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(f"pb{self._open[-1].sid}", self._open[-1].name)
            else:
                self.sc._jsc.clearJobGroup()
            self.spans.append(s)

    def wrap(self, name: str, fn):
        """``fn`` wrapped in a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def collect(self, spans: list[Span]) -> None:
        """Attach each span's Spark jobs: run-time union and stage counters."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in spans:
            c = s.counts
            intervals = []
            for jid in tracker.getJobIdsForGroup(f"pb{s.sid}"):
                job = store.job(jid)
                lo = job.submissionTime().get().getTime() / 1000.0
                hi = job.completionTime().get().getTime() / 1000.0
                intervals.append((max(lo, s.start), min(hi, s.end)))
                c["jobs"] = c.get("jobs", 0) + 1
                stage_ids = job.stageIds()
                for i in range(stage_ids.size()):
                    try:
                        st = store.lastStageAttempt(stage_ids.apply(i))
                    except Py4JJavaError:  # evicted from the store
                        continue
                    if st.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    c["stages"] = c.get("stages", 0) + 1
                    c["tasks"] = c.get("tasks", 0) + st.numCompleteTasks()
                    c["cpu_ms"] = c.get("cpu_ms", 0) + st.executorCpuTime() / 1e6
                    c["spill_bytes"] = (
                        c.get("spill_bytes", 0) + st.memoryBytesSpilled() + st.diskBytesSpilled()
                    )
                    for getter, key in STAGE_COUNTERS.items():
                        c[key] = c.get(key, 0) + getattr(st, getter)()
            s.job_s = _union_s([iv for iv in intervals if iv[1] > iv[0]])


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time (seconds) plus ``exec`` (job time) over ``spans``."""
    child = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.dur
    out: dict[str, float] = {"exec": 0.0}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + s.dur - child.get(s.sid, 0.0) - s.job_s
        out["exec"] += s.job_s
    return out
