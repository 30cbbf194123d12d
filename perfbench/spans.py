"""Spans, Spark status-store figures and a /proc sampler for traced runs.

Everything here observes the package from outside: spans wrap the
benchmark's own calls into public functions, and each span tags the Spark
jobs it runs with a job group of its own, so stage figures (from the app
status store) and SQL plan metrics (from the SQL status store) can be
attributed to the call that caused them.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    run: str
    parent: int | None
    start: float  # epoch seconds, the clock Spark's stage timestamps use
    end: float = 0.0
    group: str = ""
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records one span per layer call, kept in memory until ``write``.

    Disabled, ``span`` only yields; the untraced runs go through the same
    code with no job groups set and no store reads.
    """

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run = ""
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans), name=name, run=self.run,
            parent=parent.id if parent else None, start=time.time(),
        )
        s.group = f"perfbench-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setJobGroup(parent.group if parent else "perfbench-idle", "")

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        """Span wall minus the part of it its child spans cover."""
        return s.wall - covered([(c.start, c.end) for c in self.children(s)], s.start, s.end)

    def write(self, path: Path, extra: dict) -> None:
        spans = [{**asdict(s), "self_s": self.self_time(s)} for s in self.spans]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "spans": spans}, indent=1))


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_UNIT = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_STAGE_OF_MAX = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def metric_total(text: str) -> float:
    """Total of a formatted SQL metric: '20,000', '378 ms', '2.2 MiB', or
    'total (min, med, max (stageId: taskId))\\n6.1 s (1.5 s, ...)'."""
    head = text.split("\n")[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNIT[head[1]] if len(head) > 1 else value


def metric_stage(text: str) -> int | None:
    """Stage that ran the slowest task of a per-task metric, if named."""
    m = _STAGE_OF_MAX.search(text)
    return int(m.group(1)) if m else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


@dataclass
class StageFigures:
    id: int
    start: float
    end: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    shuffle_write_records: int
    shuffle_read_records: int
    spill_bytes: int


@dataclass
class PlanNode:
    execution: int
    id: int
    name: str
    metrics: dict[str, str]


class StatusReader:
    """Reads job, stage and SQL figures by job group.

    The session keeps only the last few SQL executions and 100 jobs and
    stages (``session.get_spark``), so read each operation's groups right
    after it ends.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        self.app = sc._jsc.sc().statusStore()
        self.gateway = sc._gateway
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def job_interval(self, job_id: int) -> tuple[float, float]:
        j = self.app.job(job_id)
        return _ms(j.submissionTime()), _ms(j.completionTime())

    def stages(self, job_ids: list[int]) -> list[StageFigures]:
        """Completed stages of ``job_ids`` (skipped ones reused earlier output)."""
        ids = {int(s) for j in job_ids for s in _seq(self.app.job(j).stageIds())}
        out = []
        # only the 5-argument stageList overload resolves through py4j
        gw = self.gateway
        listed = self.app.stageList(gw.jvm.java.util.ArrayList(), False, False,
                                    gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList())
        for st in _seq(listed):
            if st.stageId() not in ids or str(st.status()) != "COMPLETE":
                continue
            out.append(StageFigures(
                id=st.stageId(), start=_ms(st.submissionTime()), end=_ms(st.completionTime()),
                run_s=st.executorRunTime() / 1e3, cpu_s=st.executorCpuTime() / 1e9,
                gc_s=st.jvmGcTime() / 1e3,
                shuffle_write_bytes=st.shuffleWriteBytes(),
                shuffle_write_records=st.shuffleWriteRecords(),
                shuffle_read_records=st.shuffleReadRecords(),
                spill_bytes=st.memoryBytesSpilled() + st.diskBytesSpilled(),
            ))
        return out

    def plan_nodes(self, job_ids: list[int]) -> list[PlanNode]:
        """Plan nodes, with their formatted metrics, of every SQL execution
        that ran one of ``job_ids``."""
        wanted = set(job_ids)
        out = []
        for e in _seq(self.sql.executionsList()):
            jobs = {int(k) for k in str(e.jobs().keys().mkString(",")).split(",") if k}
            if not jobs & wanted:
                continue
            eid = e.executionId()
            values = self.sql.executionMetrics(eid)
            for n in _seq(self.sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v is not None and not isinstance(v, str):
                        v = v.get() if v.isDefined() else None
                    if v:
                        metrics[m.name()] = v
                out.append(PlanNode(eid, n.id(), n.name(), metrics))
        return out


# ---------------------------------------------------------------------------
# process-tree sampler (no psutil on the box: /proc directly)
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendant pids."""
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = [root], {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        tree += frontier
    return tree


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants: this process,
    the JVM and the Python workers it forks."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread keeping the peak process-tree RSS."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
