"""Per-layer tracing from outside the program.

The tracer wraps package functions where their callers look them up, tags
every wrapped call with its own Spark job group, and after each op reads
the finished jobs and stages back from the in-process status store
(``SparkContext.statusStore()``).  Reading the store launches no Spark job.
Stage data is harvested per op, by job id, so the store's retention limit
(1000 stages) never drops data a sweep still needs.

The store's executor CPU time counts only the JVM's task threads.  Pandas
UDFs run in separate Python worker processes, so each span also records
the CPU time of the Python processes under this one (the workers and their
daemon, read from ``/proc``).

With tracing off nothing is patched and nothing is harvested.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from collections import defaultdict


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def python_workers_cpu_s() -> float:
    """User + system CPU seconds of the Python processes below this one
    (not the JVM), including their reaped children: Spark's Python worker
    daemon and the workers it forks."""
    total = 0
    for p in descendants(os.getpid())[1:]:
        try:
            with open(f"/proc/{p}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        if "python" not in head.rsplit("(", 1)[-1]:
            continue
        total += sum(int(x) for x in tail.split()[11:15])
    return total * _TICK_S


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._undo: list[tuple[object, str, object]] = []
        self._stack: list[str] = []
        self._groups: list[tuple[str, str]] = []  # (group id, layer)
        self.layer_s: dict[str, float] = defaultdict(float)
        self.layer_n: dict[str, int] = defaultdict(int)
        self.layer_py_cpu_s: dict[str, float] = defaultdict(float)
        self.values: dict[str, object] = {}
        self._n = 0

    # -- wrapping -------------------------------------------------------
    def patch(self, module, name: str, layer, keep_result: bool = False) -> None:
        """Replace ``module.name`` by a wrapper that runs it inside
        ``span(layer)``.  ``layer`` is a name, or a function of the call's
        arguments that returns one.  ``keep_result`` stores the last return
        value in ``values[layer]``."""
        if not self.enabled:
            return
        orig = getattr(module, name)

        def wrapper(*args, **kwargs):
            lay = layer(*args, **kwargs) if callable(layer) else layer
            with self.span(lay):
                out = orig(*args, **kwargs)
            if keep_result:
                self.values[lay] = out
            return out

        setattr(module, name, wrapper)
        self._undo.append((module, name, orig))

    def unpatch(self) -> None:
        for module, name, orig in reversed(self._undo):
            setattr(module, name, orig)
        self._undo.clear()

    @contextlib.contextmanager
    def span(self, layer: str):
        """Time ``layer`` and tag the Spark jobs it launches."""
        if not self.enabled:
            yield
            return
        self._n += 1
        group = f"perfbench-{self._n}-{layer}"
        self._groups.append((group, layer))
        self._stack.append(group)
        self.sc.setJobGroup(group, layer)
        cpu0 = python_workers_cpu_s()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.layer_s[layer] += time.perf_counter() - t0
            self.layer_py_cpu_s[layer] += python_workers_cpu_s() - cpu0
            self.layer_n[layer] += 1
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def paused(self):
        """No spans (and so no harvested jobs) inside this block."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def reset(self) -> None:
        self._groups.clear()
        self.layer_s.clear()
        self.layer_n.clear()
        self.layer_py_cpu_s.clear()
        self.values.clear()

    # -- harvesting -----------------------------------------------------
    def harvest(self, op_wall_s: float) -> dict:
        """Spark metrics of the jobs launched since ``reset``, per layer
        (the innermost span that launched them) and in total."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        layers: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        total: dict[str, float] = defaultdict(float)
        seen_stages: set[int] = set()
        intervals: list[tuple[int, int]] = []
        for group, layer in self._groups:
            for job_id in tracker.getJobIdsForGroup(group):
                job = store.job(job_id)
                total["jobs"] += 1
                layers[layer]["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
                stage_ids = job.stageIds()
                for i in range(stage_ids.size()):
                    sid = stage_ids.apply(i)
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    m = _stage_metrics(self.sc, store, sid)
                    if m is None:
                        continue
                    for k, v in m.items():
                        if k == "task_skew":
                            layers[layer][k] = max(layers[layer][k], v)
                        else:
                            layers[layer][k] += v
                            total[k] += v
        total["driver_idle_s"] = max(0.0, op_wall_s - _union_s(intervals))
        return {"total": dict(total), "layers": {k: dict(v) for k, v in layers.items()}}


def _stage_metrics(sc, store, stage_id: int) -> dict | None:
    try:
        sd = store.lastStageAttempt(stage_id)
    except Exception:  # evicted or never submitted: nothing to add
        return None
    if sd.status().toString() == "SKIPPED":
        return None
    out = {
        "stages": 1,
        "tasks": sd.numTasks(),
        "failed_tasks": sd.numFailedTasks(),
        "exec_run_s": sd.executorRunTime() / 1e3,
        "exec_cpu_s": sd.executorCpuTime() / 1e9,
        "gc_s": sd.jvmGcTime() / 1e3,
        "shuffle_write_mb": sd.shuffleWriteBytes() / 2**20,
        "shuffle_read_mb": sd.shuffleReadBytes() / 2**20,
        "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20,
        "task_skew": 1.0,
    }
    if sd.numTasks() > 1:
        q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(stage_id, sd.attemptId(), q)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            med, top = run.apply(0), run.apply(1)
            out["task_skew"] = top / med if med > 0 else 1.0
    return out


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start, end] millisecond spans."""
    covered, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            covered += e - s
            end = e
        elif e > end:
            covered += e - end
            end = e
    return covered / 1e3


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
