"""Spans recorded by the benchmark around its calls into the library, and the
Spark event-log summary that attributes jobs, stages and tasks to them.

Spans are kept in memory and written out when the run ends. A span has a
name, start, end, parent and call id; the call id is also the Spark job group
set around the call, which is how event-log jobs are attributed to it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

from .stats import self_time


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    call: str | None = None

    def as_dict(self) -> dict:
        return self.__dict__.copy()


class Tracer:
    """Records nested spans when enabled; costs one attribute test when not.
    ``span()`` yields the open Span, or None when disabled.
    With a SparkContext given, a span with a call id also sets it as the
    Spark job group for the span's duration."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, call: str | None = None):
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), name, time.time(),
                  parent=self._stack[-1] if self._stack else None, call=call)
        self.spans.append(sp)
        self._stack.append(sp.id)
        if call and self.sc is not None:
            self.sc.setJobGroup(call, name)
        try:
            yield sp
        finally:
            if call and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            sp.end = time.time()
            self._stack.pop()

    def self_times(self, extra_children=None) -> dict:
        """Self time of every span by id: its duration minus what its child
        spans cover. ``extra_children`` maps span id to more child intervals
        (e.g. the Spark jobs of a call)."""
        kids: dict[int, list] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append((sp.start, sp.end))
        for sid, ivs in (extra_children or {}).items():
            kids.setdefault(sid, []).extend(ivs)
        return {sp.id: self_time((sp.start, sp.end), kids.get(sp.id, ()))
                for sp in self.spans}

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [s.as_dict() for s in self.spans],
                       **(extra or {})}, f)


@dataclass
class Stage:
    id: int
    start: float = 0.0
    end: float = 0.0
    scopes: set = field(default_factory=set)
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float = 0.0
    stages: list = field(default_factory=list)


def read_event_log(event_dir: str) -> tuple[dict, dict]:
    """Parse the (uncompressed, non-rolling) Spark event log under
    ``event_dir`` into jobs and stages keyed by id; times in seconds."""
    files = [f for f in glob.glob(os.path.join(event_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, "
                           f"found {len(files)}")
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1e3, stages=ev["Stage IDs"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                st.start = info.get("Submission Time", 0) / 1e3
                st.end = info.get("Completion Time", 0) / 1e3
                st.scopes = {json.loads(r["Scope"])["name"]
                             for r in info.get("RDD Info", ())
                             if r.get("Scope")}
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                m = ev.get("Task Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                st.tasks += 1
                st.run_ms += m.get("Executor Run Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
    return jobs, stages


def jobs_by_call(jobs: dict) -> dict[str, list]:
    out: dict[str, list] = {}
    for job in jobs.values():
        if job.group:
            out.setdefault(job.group, []).append(job)
    return out


#: RDD scopes of stages that run a grouped Python UDF.
UDF_SCOPES = {"FlatMapGroupsInArrow", "FlatMapGroupsInPandas",
              "FlatMapCoGroupsInPandas"}


def call_summary(call_jobs, stages: dict) -> dict:
    """Spark-side figures of one call from its jobs: job count, job
    intervals, summed task run and GC time, shuffle bytes written, and the
    wall time of stages running a grouped Python UDF."""
    ran = [stages[s] for j in call_jobs for s in j.stages
           if s in stages and stages[s].tasks]
    return {
        "jobs": len(call_jobs),
        "intervals": [(j.start, j.end) for j in call_jobs],
        "task_s": sum(s.run_ms for s in ran) / 1e3,
        "gc_ms": sum(s.gc_ms for s in ran),
        "shuffle_bytes": sum(s.shuffle_write_bytes for s in ran),
        "udf_stage_s": sum(s.end - s.start for s in ran
                           if s.scopes & UDF_SCOPES),
        "python_map": any("MapInPandas" in s.scopes for s in ran),
    }
