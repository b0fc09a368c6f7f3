"""Spans and counters recorded from the benchmark's side of each layer
call.

A :class:`Tracer` keeps spans in memory (name, layer, start, end, parent,
op id) and writes them as JSON lines when the run ends.  A disabled
tracer hands out a shared no-op span, so untraced runs pay one attribute
lookup per boundary.

Spark-engine counters come from the driver's status store: each traced
op (or pipeline step) runs under its own job group, and
:func:`spark_counters` sums the stage metrics of that group's jobs.
"""

from __future__ import annotations

import json
import os
import resource
import time
from contextlib import contextmanager


class _NoSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NO_SPAN = _NoSpan()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    def span(self, name: str, layer: str):
        return self._span(name, layer) if self.enabled else _NO_SPAN

    @contextmanager
    def _span(self, name: str, layer: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def begin(self, name: str, layer: str) -> None:
        """Open a span closed by :meth:`end` — for boundaries reported by
        callbacks (pipeline listeners) rather than a ``with`` block."""
        if self.enabled:
            cm = self._span(name, layer)
            cm.__enter__()
            self._open = cm

    def end(self) -> None:
        if self.enabled:
            self._open.__exit__(None, None, None)

    # -- analysis ---------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self, root_layer: str) -> dict[str, float]:
        """Layer → summed self time over the span trees whose root is in
        ``root_layer``: each span's duration minus the part of it its
        child spans cover."""
        children: dict[int, list[dict]] = {}
        in_tree: list[bool] = []
        for s in self.spans:
            if s["parent"] is None:
                in_tree.append(s["layer"] == root_layer)
            else:
                in_tree.append(in_tree[s["parent"]])
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if not in_tree[s["id"]]:
                continue
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            own = (s["end"] - s["start"]) - covered
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# -- Spark engine counters ----------------------------------------------------

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def spark_counters(spark, group: str) -> dict[str, float]:
    """Sum the status-store metrics of every job run under job group
    ``group``.  Waits for the listener bus first, so stages that ended
    just before the call are counted."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    tracker = sc.statusTracker()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            try:
                st = store.lastStageAttempt(stage_id)
            except Exception:  # noqa: BLE001 - skipped stages have no data
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def jvm_gc_s(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and its descendants
    (the driver JVM, Python workers), including exited children they
    reaped.  Unlike machine-wide busy time it leaves out other tenants'
    work and the time the host steals."""
    procs: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # the command name may hold spaces; fields resume after ')'
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed
            continue
        procs[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _ticks) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024
