"""Spans around each call the benchmark makes into an engine layer, and
the Spark counters read at those spans.

The counters come from outside the engine: jobs, stages and tasks from
``statusTracker`` under a job group per span; codegen compile count and
time from ``CodegenMetrics`` / ``CodeGenerator``; GC time from the JVM's
``GarbageCollectorMXBean``s; heap peak from the heap memory pools; and
Catalyst phase times from ``queryExecution().tracker()`` of the
DataFrame a span collected. Spans and counters stay in memory and are
written once, when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

# An operation's layer spans must cover this share of its wall time; the
# rest is the benchmark's own glue and the tracer's bookkeeping.
SPAN_SUM_TOLERANCE = 0.05


class Tracer:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans()
            if str(p.getType().toString()) == "Heap memory"
        ]
        self._compiles = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME()
        )
        self._codegen = (
            jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        )
        self._listener_bus = self._sc._jsc.sc().listenerBus()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self._next_id = 0
        self.bookkeeping_s = 0.0

    def counters(self) -> tuple[float, int, float]:
        """(GC ms, codegen compiles, codegen compile ms) since JVM start."""
        gc_ms = sum(b.getCollectionTime() for b in self._gc_beans)
        return (float(gc_ms), int(self._compiles.getCount()),
                self._codegen.compileTime() / 1e6)

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peak usage since the last reset (an upper
        bound on the heap's peak: pools may peak at different moments)."""
        used = sum(p.getPeakUsage().getUsed() for p in self._heap_pools)
        return used / 2**20

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Record one span; the body runs under a job group of its own."""
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._next_id, "name": name,
               "parent": parent["id"] if parent else None,
               "op": op if parent is None else parent["op"],
               "group": f"perfbench-{self._next_id}"}
        self._next_id += 1
        c0 = self.counters()
        self._sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            c1 = self.counters()
            rec["gc_ms"] = c1[0] - c0[0]
            rec["compiles"] = c1[1] - c0[1]
            rec["compile_ms"] = c1[2] - c0[2]
            if parent is not None:
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc._jsc.clearJobGroup()
            self._pending.append(rec)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def resolve(self) -> None:
        """Attach job/stage/task counts and Catalyst phase times to the
        spans closed since the last call. Runs outside any timed span."""
        self._listener_bus.waitUntilEmpty(30000)
        st = self._sc.statusTracker()
        for rec in self._pending:
            jobs = stages = tasks = 0
            for j in st.getJobIdsForGroup(rec["group"]):
                jobs += 1
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    si = st.getStageInfo(s)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
            rec.update(jobs=jobs, stages=stages, tasks=tasks)
            df = rec.pop("df", None)
            if df is not None:
                phases = df._jdf.queryExecution().tracker().phases()
                rec["catalyst_ms"] = {
                    p: phases.apply(p).durationMs()
                    for p in ("analysis", "optimization", "planning")
                    if phases.contains(p)
                }
            self.spans.append(rec)
        self._pending.clear()

    # -- summaries -------------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def roots(self) -> list[dict]:
        return [s for s in self.spans if s["parent"] is None]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_ms(self, rec: dict) -> float:
        """Span duration minus the part its (sequential) children cover."""
        covered = sum(c["end"] - c["start"] for c in self.children(rec))
        return (rec["end"] - rec["start"] - covered) * 1e3

    def coverage(self) -> list[float]:
        """Per operation: the share of its wall time its layer spans cover."""
        out = []
        for r in self.roots():
            kids = self.children(r)
            if kids:
                out.append(sum(c["end"] - c["start"] for c in kids)
                           / (r["end"] - r["start"]))
        return out

    def span_sum_problems(self) -> list[str]:
        return [
            f"op spans cover {c:.3f} of wall time"
            for c in self.coverage()
            if not (1.0 - SPAN_SUM_TOLERANCE <= c <= 1.0 + 1e-9)
        ]

    def layer_table(self) -> dict:
        """Per span name: count, median duration and self time, median
        jobs/stages/tasks."""
        out = {}
        for name in sorted({s["name"] for s in self.spans}):
            recs = self.named(name)
            out[name] = {
                "n": len(recs),
                "ms_p50": statistics.median(
                    (s["end"] - s["start"]) * 1e3 for s in recs),
                "self_ms_p50": statistics.median(
                    self.self_ms(s) for s in recs),
                **{k: statistics.median(s.get(k, 0) for s in recs)
                   for k in ("jobs", "stages", "tasks", "compiles",
                             "compile_ms", "gc_ms")},
            }
        return out

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"layers": self.layer_table(), "spans": spans, **extra},
                      f, indent=1)
