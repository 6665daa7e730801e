"""Spans and Spark counters for the traced run.

Everything here measures a layer from outside: the benchmark times its
own calls into the package and reads Spark's status stores afterwards.
Nothing is patched inside the engine.
"""

from __future__ import annotations

import contextlib
import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    query: str | None


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, query: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if query is None and parent is not None:
            query = self.spans[parent].query
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, query))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its direct children cover."""
        out = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.end - s.start
        return out

    def to_json(self) -> list[dict]:
        selfs = self.self_times()
        return [
            {
                "id": i,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "query": s.query,
                "self": selfs[i],
            }
            for i, s in enumerate(self.spans)
        ]


# -- Spark counters -------------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"\s*(-?\d+(?:\.\d+)?)(?:\s+(\w+))?")
_PYTHON_NODES = ("EvalPython", "MapInPandas", "MapInArrow", "InPandas", "InArrow", "PythonUDTF")
_SPATIAL_PREDICATES = re.compile(
    r"\bst_(within|contains|intersects|dwithin|covers|coveredby|touches|overlaps|crosses"
    r"|equals|disjoint|relate)\("
)


def parse_metric(text: str) -> float:
    """Parse a formatted SQL-metric value ("1,234", "724 ms", "5.3 KiB",
    or the multi-task "total (min, med, max ...)\\n1.5 s (...)" form, whose
    parenthesised part may wrap onto more lines): the first line that
    starts with a number holds the total."""
    for line in text.splitlines():
        m = _VALUE.match(line.replace(",", ""))
        if m:
            return float(m.group(1)) * _UNITS.get(m.group(2), 1.0)
    return 0.0


@dataclass
class Counters:
    """Spark counters of one query (summed over its jobs and SQL executions)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    scan_rows: float = 0.0
    python_boot_s: float = 0.0
    python_init_s: float = 0.0
    python_exec_s: float = 0.0
    python_rows: float = 0.0
    python_bytes: float = 0.0
    refine_evaluated: float = 0.0
    refine_kept: float = 0.0
    cached_bytes: int = 0
    phases: dict = field(default_factory=dict)


class SparkProbe:
    """Reads job/stage/task counts, stage I/O and per-operator SQL metrics
    for everything a query group ran, through Spark's status stores."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.jsc.statusStore()
        self.last_execution = self._max_execution_id()

    def _max_execution_id(self) -> int:
        execs = self.sql_store.executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(60_000)

    def job_ids(self, group: str) -> list[int]:
        self.drain()
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def collect(self, group: str) -> Counters:
        """Counters for every job of ``group`` and every SQL execution that
        ran one of those jobs. Executions of other groups, and of untraced
        passes, are left out by their job ids."""
        c = Counters()
        tracker = self.sc.statusTracker()
        jobs = self.job_ids(group)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            c.jobs += 1
            for sid in info.stageIds:
                try:
                    sd = self.app_store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never submitted (skipped)
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                c.stages += 1
                c.tasks += sd.numCompleteTasks()
                c.shuffle_write_bytes += sd.shuffleWriteBytes()
                c.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c.input_bytes += sd.inputBytes()
        execs = self.sql_store.executionsList()
        newest = self.last_execution
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self.last_execution:
                break
            newest = max(newest, eid)
            if any(ex.jobs().contains(jid) for jid in jobs):
                self._plan_metrics(eid, c)
        self.last_execution = newest
        for info in self.jsc.getRDDStorageInfo():
            c.cached_bytes += info.memSize() + info.diskSize()
        return c

    def _plan_metrics(self, eid: int, c: Counters) -> None:
        graph = self.sql_store.planGraph(eid)
        values = self.sql_store.executionMetrics(eid)
        nodes, parent_of, child_of = {}, {}, {}
        all_nodes = graph.allNodes()
        for i in range(all_nodes.size()):
            n = all_nodes.apply(i)
            metrics = {}
            ms = n.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            nodes[n.id()] = (n.name(), n.desc(), metrics)
        edges = graph.edges()
        for i in range(edges.size()):
            e = edges.apply(i)
            parent_of[e.fromId()] = e.toId()
            child_of.setdefault(e.toId(), []).append(e.fromId())

        def skip_projects(nid, step):
            while nid is not None and nodes.get(nid, ("",))[0] == "Project":
                nid = step(nid)
            return nid

        for nid, (name, desc, m) in nodes.items():
            if name.startswith("Scan"):
                c.scan_rows += m.get("number of output rows", 0.0)
            if not any(k in name for k in _PYTHON_NODES):
                continue
            c.python_boot_s += m.get("time to start Python workers", 0.0)
            c.python_init_s += m.get("time to initialize Python workers", 0.0)
            c.python_exec_s += m.get("time to run Python workers", 0.0)
            c.python_rows += m.get("number of output rows", 0.0)
            c.python_bytes += m.get("data sent to Python workers", 0.0) + m.get(
                "data returned from Python workers", 0.0
            )
            # A spatial predicate evaluated over a join's output and then
            # filtered on: rows evaluated vs rows the filter keeps.
            if not _SPATIAL_PREDICATES.search(desc):
                continue
            first_child = lambda x: (child_of.get(x) or [None])[0]  # noqa: E731
            below = skip_projects(first_child(nid), first_child)
            above = skip_projects(parent_of.get(nid), parent_of.get)
            if below is None or above is None:
                continue
            below_name = nodes[below][0]
            if nodes[above][0] == "Filter" and ("Join" in below_name or "Cartesian" in below_name):
                c.refine_evaluated += m.get("number of output rows", 0.0)
                c.refine_kept += nodes[above][2].get("number of output rows", 0.0)


def phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) recorded by a DataFrame's QueryExecution."""
    tracker = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = tracker.get(name)
        out[name] = p.get().durationMs() / 1000.0 if p.isDefined() else 0.0
    return out
