"""Spans around calls into the engine, with Spark's own counters.

A traced span runs its calls under a Spark job group of its own, so
after the call the status tracker names exactly the jobs the call
launched. The per-stage numbers (tasks, task run and CPU time, GC,
input, shuffle and spill bytes) come from the JVM status store once the
listener bus has drained. Spans and counters stay in memory until the
run ends. With tracing off, ``span`` only yields: no job group is set
and nothing is read back.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
            "input_bytes", "shuffle_bytes", "spill_bytes")
PHASES = ("analysis", "optimization", "planning")


def cpu_s() -> float:
    """CPU seconds used so far by this process and the Spark JVM (all
    threads, user plus system), less the JVM's JIT compiler threads:
    compilation goes on in the background whenever a method gets hot,
    and its CPU belongs to no one operation."""
    from pyspark import SparkContext

    total = time.process_time()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        total += _ticks(f"/proc/{proc.pid}/stat")
        for tid in os.listdir(f"/proc/{proc.pid}/task"):
            task = f"/proc/{proc.pid}/task/{tid}"
            try:
                with open(f"{task}/comm") as fh:
                    jit = fh.read().startswith(("C1 Compiler", "C2 Compiler"))
                if jit:
                    total -= _ticks(f"{task}/stat")
            except FileNotFoundError:  # the thread has just exited
                pass
    return total


def _ticks(stat: str) -> float:
    """User plus system CPU seconds from a /proc stat file."""
    with open(stat) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span: name, start, end, parent and the Spark
        counters of the jobs launched inside it (children included)."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "group": f"perfbench-{len(self.spans)}", **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            own = self._counters(rec["group"])
            for child in rec.pop("_children", []):
                for k in COUNTERS:
                    own[k] += child[k]
            rec.update(own)
            if parent is not None:
                parent.setdefault("_children", []).append(own)
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def plan_phases(self, rec, df) -> None:
        """Run Catalyst optimization and planning of ``df`` now and
        record the three phase times of its query execution on the
        span ``rec``. The action that follows plans its own copy, so
        this adds planning work to traced runs only."""
        if rec is None:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for p in PHASES:
            opt = phases.get(p)
            rec[f"{p}_ms"] = (float(opt.get().durationMs())
                              if opt.isDefined() else 0.0)

    def _counters(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info else []):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # a stage skipped before it was stored
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["input_bytes"] += st.inputBytes()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def wall(span: dict) -> float:
    return span["end"] - span["start"]


def exec_counters(L: dict, ops: list[dict], actions: list[dict],
                  per: float) -> None:
    """The execution-layer counters of the spans ``ops`` (all jobs they
    launched), and the wall of their ``actions``, divided by ``per``."""
    L["exec.action_s"] = sum(map(wall, actions)) / per
    for k in COUNTERS:
        L[f"exec.{k}"] = sum(s[k] for s in ops) / per
    run_s = sum(s["task_run_s"] for s in ops)
    L["exec.cpu_share"] = (sum(s["task_cpu_s"] for s in ops) / run_s
                           if run_s else 0.0)
