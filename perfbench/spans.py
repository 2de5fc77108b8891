"""Spans recorded by the benchmark around its calls into the program, and
the engine counters Spark's in-process status stores hold for them.

Each span sets its own Spark job group while it is open, so every job,
stage and SQL execution it fires can be read back by group afterwards
(this works with ``spark.ui.enabled=false``).  Spans are kept in memory
and written out once, at the end of the run.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager


class NullTracer:
    """Untraced runs: the same call sites, no bookkeeping."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"{self.run_id}/{len(self.spans)}", "name": name,
               "parent": parent["id"] if parent else None,
               "run": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self._group(rec)
        rec["wall0"], rec["start"] = time.time(), time.monotonic()
        try:
            yield rec
        finally:
            rec["end"], rec["wall1"] = time.monotonic(), time.time()
            self._stack.pop()
            self._group(parent)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    return total + (cur_hi - cur_lo if cur_hi is not None else 0.0)


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == span["id"]]
    return span["end"] - span["start"] - union_length(kids)


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """A formatted SQL metric ("3.6 MiB (...)", "1.2 s", "4,096") as a
    number in bytes, seconds or plain units."""
    body = text.split("\n")[-1]
    m = _NUM.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _opt(o):
    return o.get() if o.isDefined() else None


class EngineCounters:
    """Reads jobs, stages, tasks and SQL plan metrics by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._stage_cache: dict[int, dict] = {}

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage(self, sid: int) -> dict:
        if sid not in self._stage_cache:
            sd = self.store.lastStageAttempt(sid)
            sub, done = _opt(sd.submissionTime()), _opt(sd.completionTime())
            self._stage_cache[sid] = {
                "id": sid, "attempt": sd.attemptId(),
                "tasks": sd.numTasks(),
                "executor_run_s": sd.executorRunTime() / 1e3,
                "executor_cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                # skipped stages (shuffle reuse) never ran: no interval
                "interval": ((sub.getTime() / 1e3, done.getTime() / 1e3)
                             if sub is not None and done is not None else None),
            }
        return self._stage_cache[sid]

    def stages(self, job_ids: list[int]) -> list[dict]:
        tracker = self.sc.statusTracker()
        sids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                sids.update(info.stageIds)
        return [self.stage(s) for s in sorted(sids)]

    def task_skew(self, stage: dict) -> float:
        """max / median task executor run time of one stage."""
        tl = self.store.taskList(stage["id"], stage["attempt"], 100_000)
        runs = []
        for i in range(tl.size()):
            tm = _opt(tl.apply(i).taskMetrics())
            if tm is not None:
                runs.append(tm.executorRunTime())
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med else 0.0

    def python_boundary(self, span: dict) -> dict[str, float]:
        """Sums the MapInPandas node metrics over the SQL executions
        submitted while ``span`` was open (one client, so nothing else
        submits in that interval)."""
        out = dict.fromkeys(PYTHON_METRICS, 0.0)
        execs = self.sql.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            submitted = e.submissionTime() / 1e3
            if submitted < span["wall0"] - 1e-3:
                break
            if submitted > span["wall1"]:
                continue
            values = self.sql.executionMetrics(e.executionId())
            nodes = self.sql.planGraph(e.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if node.name() not in ("MapInPandas", "MapInArrow"):
                    continue
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = _opt(values.get(m.accumulatorId()))
                    if m.name() in out and v:
                        out[m.name()] += parse_sql_metric(v)
        return out


PYTHON_METRICS = ("data sent to Python workers",
                  "data returned from Python workers",
                  "time to run Python workers")
