"""Spans around calls into the engine's layers, with Spark's own counters.

A span records name, start, end, parent, workload, pass and query, and
runs under its own Spark job group, so every job it fires can be found
again in the status store (readable with the UI off). Spans are kept in
memory; ``resolve`` attaches job/stage counters after the listener bus
has drained, and the caller writes everything out at exit.

``patch`` wraps a public engine function at every module that imported
it, so spans open around calls the benchmark does not make itself
(``load_table`` inside query builders, the sinks merges inside
``apply_batch``).
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from collections.abc import Callable, Iterator

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, workload: str) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.enabled = False
        self.pass_no: int | None = None
        self.query: str | None = None
        self.counters: dict[str, float] = {}

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + n

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[dict]:
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "workload": self.workload,
            "pass": self.pass_no,
            "query": self.query,
        }
        sp["group"] = f"perfbench-{sp['id']}"
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty(GROUP_KEY, sp["group"])
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, parent["group"] if parent else None)

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def resolve(self, spans: list[dict]) -> None:
        """Attach job and stage counters to ``spans`` (call after the
        actions of those spans returned)."""
        sc = self.sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jvm = sc._jvm
        no_q = sc._gateway.new_array(jvm.double, 0)
        q = sc._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        for sp in spans:
            jobs = list(tracker.getJobIdsForGroup(sp["group"]))
            c = dict(jobs=len(jobs), stages=0, tasks=0, failed_tasks=0, exec_run_s=0.0,
                     exec_cpu_s=0.0, shuffle_write_MB=0.0, shuffle_read_MB=0.0,
                     spill_MB=0.0, task_skew=1.0)
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    data = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_q)
                    for i in range(data.size()):
                        d = data.apply(i)
                        if str(d.status()) == "SKIPPED":
                            continue
                        c["stages"] += 1
                        c["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                        c["failed_tasks"] += d.numFailedTasks()
                        c["exec_run_s"] += d.executorRunTime() / 1e3
                        c["exec_cpu_s"] += d.executorCpuTime() / 1e9
                        c["shuffle_write_MB"] += d.shuffleWriteBytes() / 2**20
                        c["shuffle_read_MB"] += d.shuffleReadBytes() / 2**20
                        c["spill_MB"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / 2**20
                        if d.numTasks() > 1:
                            summ = store.taskSummary(sid, d.attemptId(), q)
                            if summ.isDefined():
                                rt = summ.get().executorRunTime()
                                med, top = rt.apply(0), rt.apply(1)
                                if med > 0:
                                    c["task_skew"] = max(c["task_skew"], top / med)
            sp["spark"] = c


def patch(owner, attr: str, wrapper: Callable) -> None:
    """Replace ``owner.attr`` and every alias of it that a module of the
    same package imported by name."""
    orig = getattr(owner, attr)
    new = wrapper(orig)
    package = owner.__name__.split(".")[0] + "."
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "") or ""
        if mod is owner or (name.startswith(package) and getattr(mod, attr, None) is orig):
            setattr(mod, attr, new)


def self_time(spans: list[dict], sp: dict) -> float:
    """Span duration minus the part its direct children cover."""
    kids = [k for k in spans if k["parent"] == sp["id"]]
    return (sp["end"] - sp["start"]) - sum(k["end"] - k["start"] for k in kids)


def subtree(spans: list[dict], root: dict) -> list[dict]:
    """``root`` and its descendants (``spans`` is in creation order, so
    a child always comes after its parent)."""
    ids, out = {root["id"]}, [root]
    for s in spans:
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out
