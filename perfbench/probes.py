"""Outside-in measurement of the engine's layers.

Nothing here changes package code. Layers are observed through:

* Spark's own status tracker (jobs and stages per job group),
* the final AQE plan's node metrics (shuffle bytes, spill),
* streaming progress events from a registered `StreamingQueryListener`,
* the JVM's GC and memory MXBeans (through py4j) and `/proc`,
* spans the bench records around its own calls into the package
  (`Tracer`), including calls that `plans/pipeline.py` makes to names it
  imported, which are wrapped in that module's namespace for the traced
  run only and restored afterwards.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

_GROUP = "spark.jobGroup.id"


def wait_for_listeners(sc) -> None:
    """Block until the listener bus has delivered every posted event, so
    job/stage/progress records are complete when read."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)  # noqa: SLF001


class Jobs:
    """Job and stage counts per job group, read from the status tracker."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._seq = 0

    @contextlib.contextmanager
    def group(self, label: str):
        """Run the body under a fresh job group; yields the group id.
        The caller's group (if any) is restored on exit."""
        self._seq += 1
        gid = f"{label}#{self._seq}"
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty(_GROUP, prev)

    def count(self, *gids: str) -> tuple[int, int]:
        """(jobs, stages that ran at least one task) over the given groups."""
        wait_for_listeners(self.sc)
        jobs = stages = 0
        for gid in gids:
            for jid in self.tracker.getJobIdsForGroup(gid):
                jobs += 1
                info = self.tracker.getJobInfo(jid)
                for sid in list(info.stageIds) if info else []:
                    st = self.tracker.getStageInfo(sid)
                    stages += bool(st and st.numCompletedTasks > 0)
        return jobs, stages


def _children(node):
    """Physical children, looking through AQE query stages and reuse."""
    kids = [node.children().apply(i) for i in range(node.children().size())]
    for attr in ("plan", "child"):  # QueryStageExec.plan / ReusedExchangeExec.child
        if not kids and attr in dir(node):
            try:
                kids = [getattr(node, attr)()]
            except Exception:  # noqa: BLE001 — not that node type
                pass
    return kids


_SHUFFLE_METRIC = "shuffleBytesWritten"
_SPILL_METRIC = "spillSize"


def plan_metrics(query_execution) -> dict[str, int]:
    """Shuffle bytes written and bytes spilled, summed over the final
    (post-AQE) physical plan of an executed query."""
    plan = query_execution.executedPlan()
    if "finalPhysicalPlan" in dir(plan):
        plan = plan.finalPhysicalPlan()
    out = {"shuffle_bytes": 0, "spill_bytes": 0}
    seen = set()
    stack = [plan]
    while stack:
        node = stack.pop()
        key = node.hashCode(), node.nodeName()
        if key in seen:
            continue
        seen.add(key)
        metrics = node.metrics()
        for name, slot in ((_SHUFFLE_METRIC, "shuffle_bytes"), (_SPILL_METRIC, "spill_bytes")):
            m = metrics.get(name)
            if m.isDefined():
                out[slot] += int(m.get().value())
        stack.extend(_children(node))
    return out


def persisted_rdds(sc) -> int:
    return sc._jsc.getPersistentRDDs().size()  # noqa: SLF001


def unpersist_all(sc) -> None:
    for rdd in sc._jsc.getPersistentRDDs().values():  # noqa: SLF001
        rdd.unpersist(False)


class Progress(StreamingQueryListener):
    """Keeps a small dict per micro-batch progress event."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802 — listener API
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        state = list(p.stateOperators or [])
        self.events.append({
            "id": str(p.id),
            "rows": int(p.numInputRows),
            "ms": {k: int(v) for k, v in dict(p.durationMs).items()},
            "state_rows": sum(int(s.numRowsTotal) for s in state),
            "state_bytes": sum(int(s.memoryUsedBytes) for s in state),
            "state_commit_ms": sum(int(s.commitTimeMs) for s in state),
        })

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def take(self, sc) -> list[dict]:
        wait_for_listeners(sc)
        out, self.events = self.events, []
        return out


def jvm_gc_seconds(sc) -> float:
    mf = sc._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def jvm_heap_used_mb(sc) -> float:
    mf = sc._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
    return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def jvm_heap_peak_mb(sc) -> float:
    """Sum of the heap pools' peak occupancy since the JVM started."""
    mf = sc._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
    heap = sc._jvm.java.lang.management.MemoryType.HEAP  # noqa: SLF001
    return sum(
        p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans() if p.getType() == heap
    ) / 2**20


def jvm_live_heap_mb(sc) -> float:
    """Heap in use right after a full collection: the driver's live set.
    Called between passes, outside any timed region."""
    sc._jvm.java.lang.System.gc()  # noqa: SLF001
    return jvm_heap_used_mb(sc)


def jvm_pid(sc) -> int:
    return int(sc._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under a directory; data files are the
    non-hidden ones (no `_SUCCESS`, `.crc`, `_CURRENT` or logs)."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


@dataclass
class Tracer:
    """In-memory spans around the bench's calls into each layer.

    `enabled=False` makes every span a no-op, so untraced runs pay only a
    branch. The layer spans the metrics read are leaves, so their totals
    are their self times."""

    run_id: str
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def totals(self, since: int = 0) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans[since:]:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


@contextlib.contextmanager
def wrapped(module, names: dict[str, str], tracer: Tracer, jobs: Jobs | None = None,
            groups: list[str] | None = None):
    """Replace `module.<attr>` for each attr in `names` with a wrapper that
    records a span called `names[attr]` (and, when `jobs` is given, runs
    the call under its own job group, appended to `groups`). The original
    functions are restored on exit."""
    saved = {attr: getattr(module, attr) for attr in names}

    def make(fn, span_name):
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                if jobs is None:
                    return fn(*args, **kwargs)
                with jobs.group(span_name) as gid:
                    groups.append(gid)
                    return fn(*args, **kwargs)

        return wrapper

    try:
        for attr, span_name in names.items():
            setattr(module, attr, make(saved[attr], span_name))
        yield
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)
