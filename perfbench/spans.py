"""Spans around calls into the engine, plus Spark's own accounting for them.

A span records a name, its parent, wall-clock start/end and the range of
Spark job ids submitted while it was open. Nothing is read from Spark while
spans are open: after the traced iterations, :meth:`Tracer.resolve` reads
the status stores once and attaches to each span

* its jobs, stages, tasks, failed tasks and stage retries (``AppStatusStore``),
* the executed-plan SQL metrics of every SQL execution whose jobs ran in the
  span, node by node (``SQLAppStatusStore`` plan graph + metric values).

Job ids are taken from the scheduler's counter rather than from job groups,
because the engine submits the per-class RF fits from its own driver
threads, which do not inherit a job group set on the calling thread.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_UNITS = {"": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
          "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


_VALUE = re.compile(r"\s*(-?[\d,]+(?:\.\d+)?(?:[eE][-+]?\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric value -> float in bytes, seconds or
    units. Accepts ``"40,000"``, ``"968.7 KiB"``, ``"18 ms"``, the
    multi-task form ``"total (min, med, max ...)\\n4.7 s (1.1 s, ...)"``
    and the average form ``"(min, med, max ...)\\n(1, 1, 2 ...)"``."""
    m = _VALUE.match(text.split("\n", 1)[-1].lstrip("("))
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def median(xs) -> float:
    """Median, 0.0 for no samples."""
    return float(statistics.median(xs)) if xs else 0.0


@dataclass
class Span:
    name: str
    parent: int | None
    run_id: str
    t0: float
    job0: int
    t1: float = 0.0
    job1: int = 0
    jobs: list = field(default_factory=list)      # dicts, see Tracer.resolve
    stages: list = field(default_factory=list)
    nodes: list = field(default_factory=list)     # (node name, {metric: value})
    results: list = field(default_factory=list)   # (execution id, rows to driver)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def driver_rows(self) -> float:
        return sum(rows for _, rows in self.results)

    def result_rows(self) -> list[float]:
        """Rows each SQL execution of the span handed to the driver, in
        execution order."""
        return [rows for _, rows in sorted(self.results)]


class Tracer:
    """Collects spans for one process. ``enabled=False`` makes every span a
    no-op, so untraced iterations pay nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._run_id = ""
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def _next_job(self) -> int:
        # py4j hands the scheduler's AtomicInteger over as its current value
        return int(self._dag.nextJobId())

    def start_run(self, run_id: str) -> None:
        self._run_id = run_id

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(name, self._stack[-1] if self._stack else None, self._run_id,
                  time.perf_counter(), self._next_job())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.job1 = self._next_job()
            sp.t1 = time.perf_counter()

    def children(self, i: int) -> list[Span]:
        return [s for s in self.spans if s.parent == i]

    def self_time(self, i: int) -> float:
        """Span duration minus the time its child spans cover."""
        return self.spans[i].dur - sum(c.dur for c in self.children(i))

    # ------------------------------------------------------------ resolve

    def _owner(self, job_id: int) -> Span | None:
        """The innermost span whose job range holds ``job_id``."""
        best = None
        for s in self.spans:
            if s.job0 <= job_id < s.job1 and (best is None or s.job1 - s.job0 <= best.job1 - best.job0):
                best = s
        return best

    def resolve(self) -> None:
        """Attach job, stage and SQL-plan accounting to every span."""
        if not self.enabled or not self.spans:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        seen_stages = set()
        for job_id in range(min(s.job0 for s in self.spans), max(s.job1 for s in self.spans)):
            owner = self._owner(job_id)
            if owner is None:
                continue
            try:
                j = store.job(job_id)
            except Py4JJavaError:   # job evicted from the store
                continue
            stage_ids = _scala_list(j.stageIds())
            owner.jobs.append({"id": job_id, "tasks": j.numTasks(),
                               "failed_tasks": j.numFailedTasks(),
                               "stages": stage_ids})
            for sid in stage_ids:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:   # stage skipped, never attempted
                    continue
                if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                    continue
                owner.stages.append(_stage_dict(store, st))
        sql = self.spark._jsparkSession.sharedState().statusStore()
        it = sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            job_ids = [int(x) for x in _scala_list(e.jobs().keys())]
            if not job_ids:
                continue
            owner = self._owner(min(job_ids))
            if owner is None:
                continue
            vals = sql.executionMetrics(e.executionId())
            graph = sql.planGraph(e.executionId())
            by_id = {}
            for n in _scala_list(graph.allNodes()):
                ms = {}
                for m in _scala_list(n.metrics()):
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = parse_metric(v.get())
                by_id[n.id()] = ms
                if ms:
                    owner.nodes.append((n.name(), ms))
            owner.results.append((int(e.executionId()), _result_rows(graph, by_id)))


def _result_rows(graph, metrics: dict) -> float:
    """Rows an execution hands to the driver: the output rows of the
    topmost plan nodes that count them (edges point child -> parent)."""
    children: dict = {}
    has_parent = set()
    for e in _scala_list(graph.edges()):
        children.setdefault(e.toId(), []).append(e.fromId())
        has_parent.add(e.fromId())
    todo = [i for i in children if i not in has_parent]
    total = 0.0
    while todo:
        i = todo.pop()
        if OUT_ROWS in metrics.get(i, {}):
            total += metrics[i][OUT_ROWS]
        else:
            todo += children.get(i, [])
    return total


def _scala_list(seq) -> list:
    out = []
    it = seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _stage_dict(store, st) -> dict:
    durations = []
    tl = store.taskList(st.stageId(), st.attemptId(), 100_000).iterator()
    while tl.hasNext():
        t = tl.next()
        d = t.duration()
        if d.isDefined():
            durations.append(int(d.get()))
    return {"id": st.stageId(), "attempt": st.attemptId(), "tasks": st.numTasks(),
            "failed_tasks": st.numFailedTasks(), "input_records": st.inputRecords(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            "peak_bytes": st.peakExecutionMemory(),
            "run_ms": st.executorRunTime(), "task_ms": durations}


# ----------------------------------------------------------- aggregation

PY_SENT = "data sent to Python workers"
PY_TOTAL = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
OUT_ROWS = "number of output rows"


def node_sum(spans, metric: str, kinds: tuple[str, ...] | None = None,
             python: bool = False) -> float:
    """Sum ``metric`` over plan nodes of ``spans``; ``kinds`` filters by node
    name prefix, ``python`` keeps only Python-boundary nodes."""
    return sum(ms.get(metric, 0.0) for s in spans for name, ms in s.nodes
               if (kinds is None or name.startswith(kinds))
               and (not python or PY_SENT in ms))


def node_max(spans, metric: str, kinds: tuple[str, ...]) -> float:
    return max([ms.get(metric, 0.0) for s in spans for name, ms in s.nodes
                if name.startswith(kinds)] or [0.0])


def stage_sum(spans, key: str) -> float:
    return float(sum(st[key] for s in spans for st in s.stages))


def job_count(spans) -> int:
    return sum(len(s.jobs) for s in spans)


def task_skew(spans) -> float:
    """Slowest / median task of the busiest multi-task stage in ``spans``."""
    stages = [st for s in spans for st in s.stages if len(st["task_ms"]) >= 2]
    if not stages:
        return 0.0
    st = max(stages, key=lambda x: x["run_ms"])
    ms = sorted(st["task_ms"])
    med = ms[len(ms) // 2]
    return ms[-1] / med if med > 0 else 0.0


def span_table(tracer: Tracer) -> list[dict]:
    """One row per span: times, Spark counts and failure counts."""
    rows = []
    for i, s in enumerate(tracer.spans):
        rows.append({
            "span": s.name, "run_id": s.run_id,
            "parent": tracer.spans[s.parent].name if s.parent is not None else None,
            "wall_s": round(s.dur, 4), "self_s": round(tracer.self_time(i), 4),
            "jobs": len(s.jobs), "stages": len(s.stages),
            "tasks": sum(st["tasks"] for st in s.stages),
            "failed_tasks": sum(st["failed_tasks"] for st in s.stages),
            "stage_retries": sum(st["attempt"] for st in s.stages),
            "py_total_s": round(node_sum([s], PY_TOTAL, python=True), 4),
            "py_sent_mb": round(node_sum([s], PY_SENT, python=True) / 1e6, 4),
            "shuffle_mb": round(stage_sum([s], "shuffle_write_bytes") / 1e6, 4),
            "spill_mb": round(stage_sum([s], "spill_bytes") / 1e6, 4),
        })
    return rows
