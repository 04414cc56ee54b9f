"""In-memory span and counter ledger for traced runs.

Spans are recorded from the benchmark's own code around calls into each
afspark layer: name, start, end, parent span and operation id.  Nothing
is written until ``dump`` at exit.  A span's self time is its duration
minus the part of it its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time
from collections import defaultdict


class Trace:
    def __init__(self):
        self.spans: list[dict] = []
        self.counters: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        self.counters[name].append(value)

    # --- derived figures --------------------------------------------------

    def median(self, name: str) -> float:
        """Median duration of the spans called ``name``."""
        d = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return statistics.median(d) if d else float("nan")

    def counter(self, name: str) -> float:
        v = self.counters.get(name)
        return statistics.median(v) if v else float("nan")

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals
        (children of one parent never overlap here: one client thread)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return {
            s["id"]: (s["end"] - s["start"]) - child_time[s["id"]] for s in self.spans
        }

    def median_self(self, name: str) -> float:
        """Median self time of the spans called ``name``."""
        st = self.self_times()
        d = [st[s["id"]] for s in self.spans if s["name"] == name]
        return statistics.median(d) if d else float("nan")

    def dump(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self": st[s["id"]]}) + "\n")
            for k, v in sorted(self.counters.items()):
                fh.write(json.dumps({"counter": k, "values": v}) + "\n")


def span_fn(tr: Trace | None):
    """``tr.span``, or a span factory that records nothing."""
    return tr.span if tr is not None else (lambda name: contextlib.nullcontext())


@contextlib.contextmanager
def job_group(sc, group: str):
    """Tag the Spark jobs started inside the block with ``group``."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_stages(sc, group: str) -> tuple[int, dict[int, int]]:
    """(jobs run, stage id -> task count) for a job group."""
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages = {}
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info is not None else ():
            sinfo = st.getStageInfo(s)
            stages[s] = sinfo.numTasks if sinfo is not None else 0
    return len(jobs), stages


@contextlib.contextmanager
def spark_jobs(sc, tr: Trace, group: str):
    """Record how many jobs, stages and tasks the block ran."""
    with job_group(sc, group):
        yield
    n_jobs, stages = group_stages(sc, group)
    tr.count("spark.jobs_per_op", n_jobs)
    tr.count("spark.stages_per_op", len(stages))
    tr.count("spark.tasks_per_op", sum(stages.values()))


_NODE = re.compile(r"[\s:+\-*()\d]*(\w+)")
_PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
)


def plan_nodes(plan: str) -> list[str]:
    """Operator names of a physical plan string, leaving out the plans of
    cached relations it scans (they ran when the cache was filled)."""
    names, cached_depth = [], None
    for m in map(_NODE.match, plan.splitlines()):
        if m is None:
            continue
        depth = m.start(1)
        if cached_depth is not None and depth > cached_depth:
            continue
        cached_depth = depth if m.group(1) == "InMemoryRelation" else None
        names.append(m.group(1))
    return names


def plan_stats(build, tr: Trace) -> None:
    """Time driver-side planning of the DataFrame ``build()`` returns.

    Building a DataFrame analyzes each step eagerly, so the build's wall
    time is the analysis cost; optimization and physical planning run on
    the new DataFrame's QueryExecution.  Also counts Exchange and
    Python/Arrow nodes in the physical plan."""
    t0 = time.perf_counter()
    df = build()
    t1 = time.perf_counter()
    qe = df._jdf.queryExecution()
    qe.optimizedPlan()
    plan = qe.executedPlan().toString()
    t2 = time.perf_counter()
    tr.count("plan.analyze_s", t1 - t0)
    tr.count("plan.optimize_s", t2 - t1)
    names = plan_nodes(plan)
    tr.count("plan.exchanges", sum(n.endswith("Exchange") for n in names))
    tr.count("plan.python_nodes", sum(n in _PYTHON_NODES for n in names))
