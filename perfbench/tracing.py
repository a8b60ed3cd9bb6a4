"""Spans around the program's public entry points, and the Spark
status REST API read behind the per-layer metrics.

A span records name, start, end, parent and the run id shared by every
span of one traced phase.  Spans are kept in memory and written out
when the run ends.  While a span is open its id is the Spark job group,
so every job is attributed to the innermost span that submitted it.

Tracing patches module attributes from outside the program: each entry
point is replaced in its defining module and in every already-imported
module of the package that bound it by name (``from x import f``), so
import order does not matter.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import sys
import time
import urllib.parse
import urllib.request
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

from stats import clipped_union_length, union_length

PACKAGE = "hana_bq_beam_connector_spark"

# (module, function, span name) for every traced entry point of the
# copy path.  Query spans are opened by the workload around ``fn`` and
# the noop write, because those are called by the benchmark itself.
ENTRY_POINTS = (
    ("pipeline", "run_and_append", "pipeline.run_and_append"),
    ("pipeline", "run_copy_pipeline", "pipeline.run_copy_pipeline"),
    ("plans.chunking", "equi_depth_intervals", "plans.chunking.equi_depth_intervals"),
    ("sources.jdbc", "jdbc_scan", "sources.jdbc.jdbc_scan"),
    ("sinks", "parquet_append", "sinks.parquet_append"),
    ("plans.incremental", "incremental_copy", "plans.incremental.incremental_copy"),
)

PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder that also sets the Spark job group."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def group(self, span: Span) -> str:
        return f"{self.run_id}:{span.id}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, time.perf_counter(), parent=parent,
                    run_id=self.run_id, attrs=attrs)
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(self.group(span), name)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.group(self._stack[-1]), self._stack[-1].name)
            else:
                self.sc._jsc.clearJobGroup()

    def wrap(self, fn, name: str, on_call=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as span:
                result = fn(*args, **kwargs)
                if on_call is not None:
                    on_call(span, args, kwargs, result)
                return result

        return traced

    # -- span arithmetic -------------------------------------------------
    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        kids = [(c.start, c.end) for c in self.children(span)]
        return (span.end - span.start) - clipped_union_length(
            kids, span.start, span.end
        )

    def ancestors(self, span: Span):
        while span.parent is not None:
            span = self.spans[span.parent]
            yield span

    def lineage(self, span: Span) -> list[Span]:
        """``span`` and its ancestors."""
        return [span, *self.ancestors(span)]

    def under(self, span: Span, name: str) -> bool:
        """True when ``span`` is or descends from a span named ``name``."""
        return any(a.name == name for a in self.lineage(span))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def patch_entry_points(tracer: Tracer, hooks: dict) -> None:
    """Replace each of :data:`ENTRY_POINTS` with a traced wrapper.

    ``hooks`` maps a span name to ``on_call(span, args, kwargs, result)``
    which records counts at the layer boundary."""
    import importlib

    for mod_name, attr, span_name in ENTRY_POINTS:
        module = importlib.import_module(f"{PACKAGE}.{mod_name}")
        original = getattr(module, attr)
        traced = tracer.wrap(original, span_name, hooks.get(span_name))
        for name, mod in list(sys.modules.items()):
            if name == PACKAGE or name.startswith(PACKAGE + "."):
                if getattr(mod, attr, None) is original:
                    setattr(mod, attr, traced)


# -- status REST API ---------------------------------------------------------
class StatusApi:
    """Reads ``/jobs``, ``/stages`` and ``/sql`` of the running app."""

    def __init__(self, sc):
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self, groups: set[str]) -> list[dict]:
        """Jobs of ``groups``, once the listener has recorded them all
        as finished."""
        prev = None
        for _ in range(100):
            jobs = [j for j in self.get("/jobs") if j.get("jobGroup") in groups]
            done = all(j["status"] != "RUNNING" and j.get("completionTime") for j in jobs)
            if done and prev == len(jobs):
                return jobs
            prev = len(jobs) if done else None
            time.sleep(0.2)
        raise RuntimeError("status API never settled")

    def stages(self) -> list[dict]:
        return self.get("/stages")

    def sql(self) -> list[dict]:
        """Every SQL execution with node details; ``/sql`` pages."""
        out, offset, page = [], 0, 100
        while True:
            batch = self.get(
                f"/sql?details=true&planDescription=false&offset={offset}&length={page}"
            )
            out.extend(batch)
            if len(batch) < page:
                return out
            offset += page


def rest_time(stamp: str) -> float:
    """'2026-01-02T03:04:05.678GMT' -> epoch seconds."""
    return (
        datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


_DURATION = re.compile(r"([\d.,]+) (ms|s|m|h)\b")
_UNIT_S = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0}


def duration_s(value: str) -> float:
    """A SQL timing metric as the UI renders it ('807 ms', '3.2 s',
    or 'total (min, med, max ...)\n3.2 s (...)') -> seconds of the total."""
    m = _DURATION.search(value.rsplit("\n", 1)[-1])
    if m is None:
        raise ValueError(f"not a duration: {value!r}")
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


def engine_metrics(api: StatusApi, tracer: Tracer, phase: Span) -> dict:
    """Engine-layer counts and times of the jobs submitted inside
    ``phase``, plus job attribution for the layer metrics."""
    spans = [s for s in tracer.spans if phase.id in {a.id for a in tracer.lineage(s)}]
    by_group = {tracer.group(s): s for s in spans}
    jobs = api.jobs(set(by_group))
    job_span = {j["jobId"]: by_group[j["jobGroup"]] for j in jobs}
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    stages = [
        s for s in api.stages()
        if s["stageId"] in stage_ids and s["status"] != "SKIPPED"
    ]
    stage_job = {sid: j["jobId"] for j in jobs for sid in j["stageIds"]}
    executions = [
        e for e in api.sql()
        if set(e.get("successJobIds", []) + e.get("failedJobIds", [])) & set(job_span)
    ]
    python_s = 0.0
    plan_nodes = 0
    for e in executions:
        plan_nodes += len(e.get("nodes", []))
        for node in e.get("nodes", []):
            if node["nodeName"].startswith(PYTHON_NODES):
                python_s += sum(
                    duration_s(m["value"]) for m in node.get("metrics", [])
                    if m["name"] == "time to run Python workers"
                )
    wall = phase.end - phase.start
    in_job = union_length(
        [(rest_time(j["submissionTime"]), rest_time(j["completionTime"])) for j in jobs]
    )
    ms = 1000.0
    return {
        "jobs": jobs,
        "job_span": job_span,
        "stages": stages,
        "stage_job": stage_job,
        "executions": executions,
        "metrics": {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.in_job_s": in_job,
            "spark.outside_job_s": wall - in_job,
            "spark.task_s": sum(s["executorRunTime"] for s in stages) / ms,
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spark.spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            ),
            "spark.python_task_s": python_s,
            "spark.plan_nodes": plan_nodes,
        },
    }
