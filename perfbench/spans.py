"""Spans and Spark counters for the traced run.

Everything here reads the program from outside: spans wrap calls into
``geo_epic_spark`` public functions, and counters come from Spark's own
status store (``statusTracker`` job groups, the AppStatusStore's stage data
and the SQL status store's plan graphs and metrics). Spans are kept in memory
and written out once, when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    probe: bool = False  # extra work that isolates one layer; not in the untraced job
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``span()`` nests: a span opened inside
    another becomes its child. When a SparkSession is attached, each span
    also runs its jobs under its own job group, so the Spark work it caused
    can be found afterwards."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._jobs: dict[int, list[int]] = {}
        self._sql: dict[int, tuple[int, int]] = {}

    @contextmanager
    def span(self, name: str, probe: bool = False):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), name, time.perf_counter(), parent=parent,
                  run_id=self.run_id, probe=probe)
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"{self.run_id}-{sp.span_id}"
        sql0 = last_execution_id(self.spark) if self.sc else 0
        if self.sc:
            self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.sc:
                self._jobs[sp.span_id] = sorted(
                    self.sc.statusTracker().getJobIdsForGroup(group))
                self._sql[sp.span_id] = (sql0 + 1, last_execution_id(self.spark) + 1)
                # restore the enclosing span's group for jobs after this one
                if self._stack:
                    self.sc.setJobGroup(f"{self.run_id}-{self._stack[-1].span_id}",
                                        self._stack[-1].name)
                else:
                    self.sc._jsc.clearJobGroup()

    def jobs(self, sp: Span) -> list[int]:
        """Spark job ids run inside ``sp`` itself (not in child spans)."""
        return self._jobs.get(sp.span_id, [])

    def sql_range(self, sp: Span) -> tuple[int, int]:
        """[first, last) SQL execution ids started inside ``sp``, children
        included."""
        return self._sql.get(sp.span_id, (0, 0))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part of its interval its children cover.
    Children of one parent run one after another here, but overlapping
    children are merged so no instant is subtracted twice."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted((max(c.start, s.start), min(c.end, s.end))
                           for c in kids.get(s.span_id, [])):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.span_id] = (s.end - s.start) - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.span_id]
    return out


# --------------------------------------------------------------------------
# Spark status store readers
# --------------------------------------------------------------------------

def last_execution_id(spark) -> int:
    """Id of the newest SQL execution, or -1. Ids grow by one per
    execution, so the executions of a span are the ids after the one seen
    when it opened."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return int(execs.last().executionId()) if execs.nonEmpty() else -1


STAGE_FIELDS = ("numTasks", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
                "jvmGcTime")


def stage_totals(sc, job_ids: list[int]) -> dict[str, int]:
    """Sum the last attempt of every stage of ``job_ids`` (skipped stages
    included: they report zero work)."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    tot = dict.fromkeys(STAGE_FIELDS, 0)
    seen = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in list(info.stageIds):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage never submitted (skipped): no data
                continue
            for f in STAGE_FIELDS:
                tot[f] += int(getattr(sd, f)())
    return tot


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric: ``'1,024'``, ``'3.1 MiB'``,
    ``'12 ms'`` or a ``'total (min, med, max ...)\\n<total> (...)'`` block,
    whose total is taken."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]*)", text)
    if not m:
        raise ValueError(f"unparsed metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def sql_nodes(spark, first: int, last: int, wanted: frozenset[str] = frozenset()):
    """(node name, {metric name: value}) for every plan node of the SQL
    executions with ids in [first, last); only the ``wanted`` metrics are
    read."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for eid in range(first, last):
        try:
            graph = store.planGraph(eid)
            values = store.executionMetrics(eid)
        except Exception:  # execution evicted or never recorded
            continue
        nodes = graph.allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            metrics = {}
            it = node.metrics().iterator() if wanted else iter(())
            while wanted and it.hasNext():
                m = it.next()
                if m.name() not in wanted:
                    continue
                v = values.get(m.accumulatorId())  # a Scala Option
                if v.isDefined():
                    metrics[m.name()] = parse_metric(str(v.get()))
            out.append((node.name(), metrics))
    return out
