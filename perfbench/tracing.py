"""Per-layer counters read from Spark's own status stores (UI off).

The benchmark runs one call into one engine layer at a time (a closed
loop with one client), so every job submitted while a call runs belongs
to that call. Each call gets its own job group; jobs that the engine
submits from its own worker threads carry no group, so a call's jobs are
its group's new job ids plus the new ungrouped ones. For those jobs the
tracer reads jobs, stages, tasks, input rows, shuffle bytes and executor
run time from ``SparkContext.statusStore()``, and the Python-boundary
bytes and the executed plans from the SQL status store.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict

#: The counters every layer reports (``<layer>.<name>``).
LAYER_METRICS = (
    "wall_s", "build_s", "exec_s", "jobs", "tasks", "input_rows",
    "shuffle_bytes", "executor_s", "python_bytes", "driver_s", "kernel_ops",
)

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE_RE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")
_KERNEL_RE = re.compile(r"MapIn(Arrow|Pandas) \(")
_SHUFFLE_RE = re.compile(r"hashpartitioning\(|rangepartitioning\(|RoundRobinPartitioning\(")


def _size_bytes(text: str) -> float:
    """First size in a formatted SQL size metric ("total (min, med, max)\\n
    9.4 MiB (...)" or just "9.4 MiB") in bytes."""
    m = _SIZE_RE.search(text)
    return float(m.group(1)) * _SIZE[m.group(2)] if m else 0.0


def _union_ms(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def branch_of(plans: list[str]) -> str:
    """``kernel`` when a call's executed plans hold the single-task kernel
    pattern (a MapInArrow/MapInPandas over Coalesce) and no hash, range or
    round-robin shuffle, ``distributed`` for such shuffles without the
    kernel, ``mixed`` for both, ``no_shuffle`` for neither (e.g. broadcast
    joins over checkpoints, or a lazy call that ran no job)."""
    kernel = any(_KERNEL_RE.search(p) and "Coalesce (" in p for p in plans)
    shuffle = any(_SHUFFLE_RE.search(p) for p in plans)
    return {
        (True, False): "kernel",
        (False, True): "distributed",
        (True, True): "mixed",
        (False, False): "no_shuffle",
    }[(kernel, shuffle)]


class Tracer:
    """Accumulates per-layer counters for the calls made through :meth:`call`.

    With ``enabled=False`` a call is only timed, so the untraced run pays
    nothing for the stores."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.layers: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.ops: list[dict] = []
        self.overhead_s = 0.0
        self._n = 0
        self._seen_jobs: set[int] = set()
        self._last_exec = -1
        if enabled:
            sc = spark.sparkContext
            self._sc = sc
            self._tracker = sc.statusTracker()
            self._store = sc._jsc.sc().statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()

    def _max_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def call(self, layer: str, name: str, build, execute=None):
        """Run ``build()`` then ``execute(result)`` as one traced call into
        ``layer``; returns ``(value, record)``. ``record`` carries the
        call's wall/build/exec seconds and, when tracing, its counters."""
        group = None
        if self.enabled:
            t = time.perf_counter()
            # Work between calls (correctness checks) is nobody's.
            self._seen_jobs |= set(self._tracker.getJobIdsForGroup(None))
            self._last_exec = self._max_execution_id()
            self._n += 1
            group = f"perfbench-{self._n}"
            self._sc.setJobGroup(group, f"{layer}: {name}")
            self.overhead_s += time.perf_counter() - t
        t0_wall = time.time()
        t0 = time.perf_counter()
        value = build()
        t1 = time.perf_counter()
        if execute is not None:
            value = execute(value)
        t2 = time.perf_counter()
        rec = {
            "layer": layer,
            "op": name,
            "wall_s": t2 - t0,
            "build_s": t1 - t0,
            "exec_s": t2 - t1,
        }
        if self.enabled:
            t = time.perf_counter()
            rec.update(self._counters(group, t0_wall * 1000, (t0_wall + t2 - t0) * 1000))
            self._sc.setJobGroup("perfbench-idle", "between calls")
            self.overhead_s += time.perf_counter() - t
            acc = self.layers[layer]
            for k in LAYER_METRICS:
                if k == "kernel_ops":
                    acc[k] += rec["branch"] == "kernel"
                else:
                    acc[k] += rec[k]
        self.ops.append(rec)
        return value, rec

    def _counters(self, group: str, lo_ms: float, hi_ms: float) -> dict:
        ids = set(self._tracker.getJobIdsForGroup(group))
        ids |= set(self._tracker.getJobIdsForGroup(None)) - self._seen_jobs
        self._seen_jobs |= ids
        c = dict.fromkeys(
            ("jobs", "tasks", "input_rows", "shuffle_bytes", "executor_s", "python_bytes"), 0.0
        )
        c["jobs"] = len(ids)
        spans, stages = [], set()
        for j in ids:
            jd = self._store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else hi_ms
                spans.append((sub.get().getTime(), end))
            it = jd.stageIds().iterator()
            while it.hasNext():
                stages.add(it.next())
        for s in stages:
            sd = self._store.lastStageAttempt(s)
            if sd.status().toString() == "SKIPPED":
                continue
            c["tasks"] += sd.numCompleteTasks()
            c["input_rows"] += sd.inputRecords()
            c["shuffle_bytes"] += sd.shuffleWriteBytes()
            c["executor_s"] += sd.executorRunTime() / 1000.0
        plans = []
        n = self._sql.executionsCount()
        recent = self._sql.executionsList(max(0, n - 200), 200)
        for i in range(recent.size()):
            ex = recent.apply(i)
            eid = ex.executionId()
            if eid <= self._last_exec:
                continue
            self._last_exec = max(self._last_exec, eid)
            plans.append(ex.physicalPlanDescription())
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                mets = nodes.apply(k).metrics()
                for a in range(mets.size()):
                    m = mets.apply(a)
                    if m.name() == "data sent to Python workers":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            c["python_bytes"] += _size_bytes(v.get())
        c["driver_s"] = (hi_ms - lo_ms - _union_ms(spans, lo_ms, hi_ms)) / 1000.0
        c["branch"] = branch_of(plans)
        return c

    def layer_metrics(self, layers) -> dict[str, float]:
        out = {}
        for layer in layers:
            acc = self.layers.get(layer, {})
            for k in LAYER_METRICS:
                out[f"{layer}.{k}"] = float(acc.get(k, 0.0))
        return out
