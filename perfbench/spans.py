"""Layer tracing from outside the engine.

The benchmark wraps each call into an engine layer in :meth:`Tracer.span`.
A span tags the Spark jobs it starts with a job group, so per-stage task
metrics can be read back from the JVM status store afterwards. The status
store is populated with the UI disabled, which is the engine's default.
Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

STAGE_FIELDS = ("run_ms", "cpu_ms", "gc_ms", "shuffle_write_mb", "fetch_wait_ms", "spill_mb")

_GROUP_PREFIX = "perfbench:"


class Tracer:
    """Spans and job-group tags for one benchmark process."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, layer: str, trace_id: int = 0):
        """Record a span named ``layer`` and tag the jobs it starts with the
        job group of ``layer``. A nested span tags its own jobs; the outer
        group is restored when it ends."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "trace": trace_id,
            "name": layer,
            "start": time.perf_counter(),
        }
        self._stack.append(sid)
        sc.setJobGroup(_GROUP_PREFIX + layer, layer)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if prev_group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev_group, prev_group[len(_GROUP_PREFIX):])
            self.spans.append(rec)

    def job_count(self) -> int:
        """Jobs the status store has seen so far (started or finished)."""
        return self._store().jobsList(None).size()

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def stage_metrics(self) -> dict[str, dict[str, float]]:
        """Per-layer sums of task metrics over every stage whose job ran in
        that layer's job group."""
        store = self._store()
        stage_layer: dict[int, str] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if group.isEmpty() or not group.get().startswith(_GROUP_PREFIX):
                continue
            layer = group.get()[len(_GROUP_PREFIX):]
            ids = job.stageIds()
            for k in range(ids.size()):
                stage_layer[int(ids.apply(k))] = layer
        jvm = self.spark.sparkContext._jvm
        gw = self.spark.sparkContext._gateway
        empty = jvm.java.util.ArrayList()
        stages = store.stageList(empty, False, False, gw.new_array(jvm.double, 0), empty)
        out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(STAGE_FIELDS, 0.0))
        for i in range(stages.size()):
            s = stages.apply(i)
            layer = stage_layer.get(int(s.stageId()))
            if layer is None:
                continue
            m = out[layer]
            m["run_ms"] += s.executorRunTime()
            m["cpu_ms"] += s.executorCpuTime() / 1e6
            m["gc_ms"] += s.jvmGcTime()
            m["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            m["fetch_wait_ms"] += s.shuffleFetchWaitTime()
            m["spill_mb"] += s.memoryBytesSpilled() / 2**20
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1, default=str)


_NODE = re.compile(r"[A-Za-z]\w*")


def plan_operator_counts(df) -> dict[str, int]:
    """Window, Sort and shuffle Exchange nodes in ``df``'s executed plan,
    not descending into cached relations (their plan already ran)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    counts = {"windowexec_count": 0, "sort_count": 0, "exchange_count": 0}
    skip_depth = None
    for line in plan.splitlines():
        m = _NODE.search(line)
        if not m:
            continue
        depth, name = m.start(), m.group(0)
        if skip_depth is not None:
            if depth > skip_depth:
                continue
            skip_depth = None
        if name == "InMemoryRelation":
            skip_depth = depth
        elif name == "Window":
            counts["windowexec_count"] += 1
        elif name == "Sort":
            counts["sort_count"] += 1
        elif name == "Exchange":
            counts["exchange_count"] += 1
    return counts


class JvmProbe:
    """Driver JVM GC time and heap high-water mark via the management beans."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if str(p.getType().toString()) == "Heap memory"
        ]

    def gc_ms(self) -> float:
        return float(sum(max(0, g.getCollectionTime()) for g in self._gcs))

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools) / 2**20
