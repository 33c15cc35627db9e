"""Spans around the benchmark's calls into the engine, and their join
with Spark's own job, stage and SQL metrics.

Each span sets the Spark job group to its own id, so every job Spark
runs inside it carries the id. After a run, ``collect`` reads the
application's ``/api/v1`` status endpoints and ``aggregate`` attributes
stages and SQL-node metrics to span names. ``aggregate`` is pure, so it
can be tested on a canned copy of the endpoints.

Lost evidence is an error, never a short sum: a job outside every span,
a job id missing from the retained range, or a stage a job names but
the status store no longer holds, each count as a failed operation.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import self_time

JOB_FIELDS = ("jobs", "tasks", "exec_cpu_s", "exec_run_s", "shuffle_bytes",
              "spill_bytes", "io_bytes", "files", "python_s")


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans; with ``sc`` set, also labels Spark jobs by span."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"{name}#{len(self.spans)}", name,
                  parent.sid if parent else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._label(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._label(parent)

    def _label(self, sp: Span | None) -> None:
        if self.sc is not None:
            # outside every span the group is cleared, so a stray job
            # shows up as unlabelled
            if sp is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(sp.sid, sp.name, False)

    def wrap(self, name: str, fn):
        """``fn`` run inside a span called ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced


def fetch(ui_url: str, app_id: str) -> dict:
    """The application's jobs, stages and SQL executions (with node
    metrics) from Spark's status REST API."""
    def get(path: str):
        url = f"{ui_url}/api/v1/applications/{app_id}/{path}"
        with urllib.request.urlopen(url, timeout=60) as resp:
            return json.loads(resp.read())

    return {
        "jobs": get("jobs"),
        "stages": get("stages"),
        "sql": get("sql?details=true&planDescription=false&length=100000"),
    }


_UNITS = {
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}


def parse_metric(text: str) -> float:
    """A SQL-UI metric string as a number: the total of
    'total (min, med, max ...)\\n4.5 s (...)', '12 ms', '4.9 KiB' or
    '1,000'. Times come back in seconds, sizes in bytes."""
    line = text.strip().splitlines()[-1] if text.strip().startswith("total") else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNITS:
        raise ValueError(f"unknown unit in SQL metric {text!r}")
    return value * _UNITS[unit]


def empty_metrics() -> dict[str, float]:
    """A span name's metrics before any instance or job is counted."""
    return {k: 0.0 for k in ("spans", "self_s", "wall_s", *JOB_FIELDS)}


def aggregate(spans: list[Span], status: dict) -> tuple[dict[str, dict[str, float]], list[str]]:
    """Per span name: the number of instances (``spans``), ``self_s``
    and ``wall_s`` summed over them, and job metrics of the span and its
    descendants. Returns (metrics by
    name, evidence problems)."""
    problems: list[str] = []
    by_sid = {s.sid: s for s in spans}
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    # per job: the span id it ran in, and its own metrics
    stages = {}
    for st in status["stages"]:
        stages.setdefault(st["stageId"], []).append(st)
    job_ids = sorted(j["jobId"] for j in status["jobs"])
    if job_ids and len(job_ids) != job_ids[-1] - job_ids[0] + 1:
        problems.append(f"{job_ids[-1] - job_ids[0] + 1 - len(job_ids)} job(s) "
                        "evicted from the status store")
    if job_ids and job_ids[0] != 0:
        problems.append(f"jobs 0..{job_ids[0] - 1} evicted from the status store")
    owner: dict[int, int] = {}  # stage id -> first job listing it
    for j in sorted(status["jobs"], key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    per_job: dict[int, dict[str, float]] = {}
    job_span: dict[int, str] = {}
    for j in status["jobs"]:
        group = j.get("jobGroup")
        if group not in by_sid:
            problems.append(f"job {j['jobId']} ({j.get('name')}) ran outside "
                            f"every span (group {group!r})")
            continue
        job_span[j["jobId"]] = group
        m = per_job[j["jobId"]] = {k: 0.0 for k in JOB_FIELDS}
        m["jobs"] = 1
        for sid in j["stageIds"]:
            if owner[sid] != j["jobId"]:
                continue  # ran (or was skipped) under an earlier job
            if sid not in stages:
                problems.append(f"stage {sid} of job {j['jobId']} evicted")
                continue
            for att in stages[sid]:
                if att["status"] == "SKIPPED":
                    continue
                m["tasks"] += att["numCompleteTasks"] + att["numFailedTasks"]
                m["exec_cpu_s"] += att["executorCpuTime"] / 1e9
                m["exec_run_s"] += att["executorRunTime"] / 1e3
                m["shuffle_bytes"] += att["shuffleWriteBytes"]
                m["spill_bytes"] += att["diskBytesSpilled"]
                m["io_bytes"] += att["inputBytes"] + att["outputBytes"]
    for ex in status["sql"]:
        jobs = [i for k in ("successJobIds", "failedJobIds", "runningJobIds")
                for i in ex.get(k, []) if i in per_job]
        if not jobs:
            continue
        m = per_job[min(jobs)]
        for node in ex.get("nodes", []):
            for metric in node.get("metrics", []):
                if metric["name"] == "number of written files":
                    m["files"] += parse_metric(metric["value"])
                elif metric["name"] == "time to run Python workers":
                    m["python_s"] += parse_metric(metric["value"])

    out: dict[str, dict[str, float]] = {}
    for s in spans:
        agg = out.setdefault(s.name, empty_metrics())
        agg["spans"] += 1
        kids = [(c.start, c.end) for c in children.get(s.sid, [])]
        agg["self_s"] += self_time(s.start, s.end, kids)
        agg["wall_s"] += s.end - s.start
    for job, sid in job_span.items():
        # inclusive: charge the job to its span and every ancestor name
        # once, however deeply a name nests within itself
        names, cur = set(), by_sid[sid]
        while cur is not None:
            names.add(cur.name)
            cur = by_sid.get(cur.parent) if cur.parent else None
        for name in names:
            for k, v in per_job[job].items():
                out[name][k] += v
    return out, problems


def nesting_problems(spans: list[Span], slack: float = 1e-3) -> list[str]:
    """Spans whose children's total duration exceeds their own."""
    kids: dict[str, float] = {}
    for s in spans:
        if s.parent is not None:
            kids[s.parent] = kids.get(s.parent, 0.0) + (s.end - s.start)
    return [f"children of {s.sid} outlast it"
            for s in spans if kids.get(s.sid, 0.0) > (s.end - s.start) + slack]
