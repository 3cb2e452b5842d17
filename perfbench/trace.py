"""Tracing for the per-layer run: spans around calls into the program, Spark
job groups, and a reader that turns the Spark event log into layer figures.

Spans are kept in memory (``Tracer``) and reduced when the run ends. Spark
work is attributed to a layer by the operator scopes of each stage
(``LAYER_SCOPES``) and to a step (one crawl cycle, one query leaf) by the
job group the benchmark set, or, for jobs started in threads that carry no
group, by the step span the job started in.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

# Stage -> layer, first match wins. A stage holding a Python map (the
# crawl's fused fetch+parse) counts for that layer even if it also holds a
# window or a write, so every stage lands in exactly one layer.
LAYER_SCOPES = (
    ("fetch_parse", ("MapInPandas",)),
    ("seenfilter", ("FlatMapCoGroupsInPandas",)),
    ("urls", ("ArrowEvalPython",)),
    ("ranking", ("Window", "WindowGroupLimit")),
    ("tableio", ("WriteFiles",)),
)
LAYERS = tuple(name for name, _ in LAYER_SCOPES) + ("other",)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log times
    end: float
    thread: str
    parent: str | None = None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            stack.pop()
            s = Span(name, t0, time.time(), threading.current_thread().name, parent)
            with self._lock:
                self.spans.append(s)

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]


@contextlib.contextmanager
def job_group(sc, group: str):
    """Tag Spark jobs started by the calling thread, restoring the
    thread's previous group afterwards."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        sc.setLocalProperty("spark.job.description", prev)


def traced_tableio(base_cls, tracer: Tracer):
    """A TableIO subclass whose write and commit calls set their job group
    in the calling thread (the cycle's write pool does not inherit one) and
    record a span (table, thread, start, end)."""

    class TracedTableIO(base_cls):
        def write_snapshot(self, df, table, cycle, *a, **kw):
            name = f"tableio:write:{table}:{cycle}"
            with tracer.span(name), job_group(self.spark.sparkContext, name):
                return super().write_snapshot(df, table, cycle, *a, **kw)

        def commit_cycle(self, cycle, tables, *a, **kw):
            with tracer.span(f"tableio:commit:{cycle}"):
                return super().commit_cycle(cycle, tables, *a, **kw)

    return TracedTableIO


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Stage:
    sid: int
    job: int
    n_tasks: int
    submit: float
    end: float
    layer: str
    run_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class Job:
    jid: int
    group: str | None
    submit: float
    stages: list[int] = field(default_factory=list)


def _layer_of(scopes: set[str]) -> str:
    for layer, names in LAYER_SCOPES:
        if scopes.intersection(names):
            return layer
    return "other"


def read_eventlog(log_dir: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                            ev["Submission Time"] / 1000.0, list(ev["Stage IDs"]))
                    jobs[j.jid] = j
                    for sid in j.stages:
                        stage_job.setdefault(sid, j.jid)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" not in info:
                        continue  # skipped stage: its output was reused
                    scopes = set()
                    for rdd in info["RDD Info"]:
                        if rdd.get("Scope"):
                            scopes.add(json.loads(rdd["Scope"])["name"].split(" (")[0])
                    sid = info["Stage ID"]
                    prev = stages.get(sid)
                    st = Stage(sid, stage_job.get(sid, -1), info["Number of Tasks"],
                               info["Submission Time"] / 1000.0,
                               info["Completion Time"] / 1000.0, _layer_of(scopes))
                    if prev is not None:  # task-end events come before this one
                        st.run_s, st.shuffle_write, st.spill = (
                            prev.run_s, prev.shuffle_write, prev.spill)
                    stages[sid] = st
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    sid = ev["Stage ID"]
                    st = stages.get(sid)
                    if st is None:
                        st = stages[sid] = Stage(sid, stage_job.get(sid, -1), 0, 0.0, 0.0, "other")
                    st.run_s += m["Executor Run Time"] / 1000.0
                    st.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    st.spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return jobs, stages


def assign_steps(jobs: dict[int, Job], steps: list[Span], prefix: str) -> dict[int, str]:
    """job id -> step name. Jobs tagged ``<prefix>...`` keep their group;
    untagged jobs (or jobs tagged by an inner layer) go to the step span
    they were submitted in; jobs outside every step are dropped."""
    out: dict[int, str] = {}
    for j in jobs.values():
        if j.group and j.group.startswith(prefix):
            out[j.jid] = j.group
            continue
        for s in steps:
            if s.start <= j.submit <= s.end:
                out[j.jid] = s.name
                break
    return out
