"""Outside-in tracing: spans and engine counters taken from the benchmark.

No program file is edited.  :class:`Tracer` replaces module attributes
with timing wrappers for the duration of a traced run, so a span opens
exactly where the program calls into a layer.  Each span records its
name, start, end, parent span and op id; spans stay in memory until the
run writes them out.

Engine counters are read from the driver JVM, so they cover jobs
submitted from every thread (the merge submits from a thread pool,
which a thread-local job group would miss):

* jobs and stages: the DAG scheduler's job-id and stage-id allocators,
  read synchronously at span edges (py4j hands the atomic counters back
  as ints; stage ids include stages that end up skipped);
* tasks: finished tasks of the stage ids a span allocated, read from the
  status tracker after the op, once the listener bus has drained;
* GC: the summed collection time of the JVM's garbage collectors.

Span-edge reads cost a few py4j calls; the tracker reads happen outside
the op's timing.
"""

from __future__ import annotations

import functools
import gc
import threading
import time
from contextlib import contextmanager


class Counters:
    """Cumulative engine counters of one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._mgmt = self.sc._jvm.java.lang.management.ManagementFactory
        self.spent_s = 0.0  # time spent reading counters (tracing overhead)

    def read(self) -> dict[str, float]:
        t = time.perf_counter()
        gc_ms = sum(b.getCollectionTime() for b in self._mgmt.getGarbageCollectorMXBeans())
        out = {
            "jobs": int(self._dag.nextJobId()),
            "stages": int(self._dag.nextStageId()),
            "gc_s": gc_ms / 1000.0,
        }
        self.spent_s += time.perf_counter() - t
        return out

    def fill_tasks(self, spans: list[dict]) -> None:
        """Set each span's ``tasks``: finished tasks of its stage ids."""
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for s in spans:
            n = 0
            for sid in range(s["stage0"], s["stage0"] + s["stages"]):
                info = tracker.getStageInfo(sid)
                if info is not None:
                    n += info.numCompletedTasks + info.numFailedTasks
            s["tasks"] = n

    def heap_after_gc_mb(self) -> float:
        """Heap in use after forced full GCs: the least of eight rounds.

        One GC is not enough.  Python's collector must first drop the
        py4j proxies that pin JVM objects, and each JVM GC lets Spark's
        context cleaner release shuffles and broadcasts that the next GC
        then frees.  After an ingest run the reading took about three
        seconds of such rounds to settle (137 MB to 93 MB)."""
        least = float("inf")
        for _ in range(8):
            gc.collect()
            self.sc._jvm.java.lang.System.gc()
            used = self._mgmt.getMemoryMXBean().getHeapMemoryUsage().getUsed()
            least = min(least, used / (1 << 20))
            time.sleep(0.4)
        return least

    def pinned_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


class Tracer:
    """In-memory span recorder with counter deltas per span."""

    def __init__(self, counters: Counters | None):
        self.counters = counters
        self.spans: list[dict] = []
        self.op: int | None = None
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "op": self.op, "parent": stack[-1]["id"] if stack else None,
               "id": len(self.spans)}
        self.spans.append(rec)
        c0 = self.counters.read() if self.counters else {}
        spent0 = self.counters.spent_s if self.counters else 0.0
        rec["start"] = time.perf_counter()
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            # counter reads made inside this span, at its children's edges
            rec["trace_s"] = (self.counters.spent_s if self.counters else 0.0) - spent0
            stack.pop()
            if self.counters:
                c1 = self.counters.read()
                rec.update({k: c1[k] - c0[k] for k in c0}, stage0=c0["stages"])

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until restore()."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]


def total(spans: list[dict], name: str, key: str = "dur") -> float:
    """Sum of ``key`` over spans called ``name`` (``dur`` = end - start)."""
    if key == "dur":
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)
    return sum(s.get(key, 0) for s in spans if s["name"] == name)


def self_time(spans: list[dict], name: str) -> float:
    """Duration of the ``name`` spans minus the time their children cover
    and the counter reads made at their children's edges."""
    out = 0.0
    for s in spans:
        if s["name"] != name:
            continue
        children = [c for c in spans if c["parent"] == s["id"]]
        kids = sorted((c["start"], c["end"]) for c in children)
        covered, edge = 0.0, s["start"]
        for a, b in kids:
            a = max(a, edge)
            if b > a:
                covered += b - a
                edge = b
        edge_reads = s.get("trace_s", 0.0) - sum(c.get("trace_s", 0.0) for c in children)
        out += (s["end"] - s["start"]) - covered - edge_reads
    return out
