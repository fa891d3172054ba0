"""Tracing for the ``--trace 1`` run, entirely from outside the package.

Every public call a workload makes is wrapped in a span, and every span
runs under its own Spark job group.  After a traced pass the tracer
reads each group's jobs, stages, tasks, executor time, GC, shuffle and
spill from Spark's status store, and reads SQL metrics (Python time,
Arrow bytes), scans and join strategies from the executed AQE plans of
the actions the workload forced.  Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import json
import time
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext
from typing import Dict, List

from . import common

JOIN_KINDS = {
    "BroadcastHashJoinExec": "broadcast",
    "BroadcastNestedLoopJoinExec": "broadcast",
    "SortMergeJoinExec": "shuffle",
    "ShuffledHashJoinExec": "shuffle",
}


def _jiter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def spans(tr):
    """``tr.span`` when tracing, else a span that records nothing."""
    return tr.span if tr is not None else (lambda _name: nullcontext())


def plan_stats(query_execution, into_cache: bool = False) -> dict:
    """Counts and SQL metrics from an executed (final AQE) plan.
    ``into_cache``: also walk the plans of cached relations the query
    scanned (the query that built the cache ran them)."""
    out = {
        "joins": Counter(),
        "scans": Counter(),
        "python_ms": 0,
        "arrow_bytes": 0,
        "python_rows": 0,
    }

    def walk(p):
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(p.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(p.plan())
        if cls == "ReusedExchangeExec":
            return  # its subtree ran once, under the original exchange
        if cls == "InMemoryTableScanExec" and into_cache:
            return walk(p.relation().cachedPlan())
        if cls in JOIN_KINDS:
            out["joins"][JOIN_KINDS[cls]] += 1
        if cls == "FileSourceScanExec":
            for root in _jiter(p.relation().location().rootPaths()):
                out["scans"][root.getName()] += 1
        if "Python" in cls or "InPandas" in cls or "InArrow" in cls:
            metrics = {kv._1(): kv._2().value() for kv in _jiter(p.metrics())}
            out["python_ms"] += metrics.get("pythonTotalTime", 0)
            out["arrow_bytes"] += metrics.get("pythonDataSent", 0)
            out["arrow_bytes"] += metrics.get("pythonDataReceived", 0)
            out["python_rows"] += metrics.get("pythonNumRowsReceived", 0)
        for c in _jiter(p.children()):
            walk(c)

    walk(query_execution.executedPlan())
    return out


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: List[dict] = []
        self.forced: Dict[str, dict] = {}
        self.pass_id = 0
        self._stack: List[str] = []

    def _group(self, name: str) -> str:
        return f"pb.{self.pass_id}.{name}"

    def begin_pass(self, pass_id: int) -> None:
        self.pass_id = pass_id
        self.forced = {}

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(self._group(name), name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent), parent)
            else:
                self.sc._jsc.clearJobGroup()
            self.spans.append({
                "name": name, "start": t0, "end": t1, "parent": parent,
                "pass": self.pass_id,
            })

    def force(self, layer: str, df) -> tuple:
        """Run the gate on one layer's output frame under the layer's
        own span; keep its result and executed-plan statistics (summed
        over repeated calls within a pass)."""
        with self.span(layer):
            result, qe = common.gate(df)
        self._record(layer, result, plan_stats(qe))
        return result

    def count(self, name: str, df) -> int:
        """Count rows under a span of their own (kept out of pass totals)."""
        with self.span(name):
            n = df.count()
        self._record(name, (n, 0, 0), {})
        return n

    def _record(self, layer: str, result: tuple, plan: dict) -> None:
        prev = self.forced.get(layer)
        if prev is None:
            self.forced[layer] = {"result": result, "plan": plan}
            return
        prev["result"] = tuple(a + b for a, b in zip(prev["result"], result))
        for k, v in plan.items():
            prev["plan"][k] += v

    def materialize(self, layer: str, frames) -> None:
        """Persist and build the cache of each frame under the layer's
        span, so that later spans read the layer's output instead of
        recomputing it."""
        stats = []
        rows = 0
        with self.span(layer):
            for df in frames:
                df.persist()
                c = df.groupBy().count()
                rows += c.collect()[0][0]
                stats.append(plan_stats(c._jdf.queryExecution(), into_cache=True))
        merged = stats[0]
        for st in stats[1:]:
            for k, v in st.items():
                merged[k] += v
        self._record(layer, (rows, 0, 0), merged)

    def duration(self, name: str) -> float:
        return sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and s["pass"] == self.pass_id
        )

    def group_stats(self) -> Dict[str, dict]:
        """Status-store totals per span name for the current pass."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        prefix = f"pb.{self.pass_id}."
        stats: Dict[str, dict] = defaultdict(Counter)
        for job in _jiter(store.jobsList(None)):
            grp = job.jobGroup()
            if grp.isEmpty() or not grp.get().startswith(prefix):
                continue
            s = stats[grp.get()[len(prefix):]]
            s["jobs"] += 1
            for sid in _jiter(job.stageIds()):
                try:
                    st = store.lastStageAttempt(int(sid))
                except Exception:  # noqa: BLE001 - stage evicted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                s["stages"] += 1
                s["tasks"] += st.numCompleteTasks()
                s["run_ms"] += st.executorRunTime()
                s["cpu_ns"] += st.executorCpuTime()
                s["gc_ms"] += st.jvmGcTime()
                s["shuffle_write_bytes"] += st.shuffleWriteBytes()
                s["spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )
        return stats

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def pass_totals(stats: Dict[str, dict], exclude=()) -> Counter:
    total = Counter()
    for name, s in stats.items():
        if name not in exclude:
            total.update(s)
    return total
