"""The traced run behind the per-layer metrics (``--trace 1``).

The same fixed amount of work runs three times: as warm-up, untraced,
then traced with spans and job groups.  The difference of the two walls
is the tracing overhead.  Layer metrics come from the spans, from
counts recorded at the layer boundaries and from the status REST API.
Every workload reports every metric; a layer a workload does not use
reads 0 there.
"""

from __future__ import annotations

import os
import statistics

import proc
import tracing
import workloads

QUERY_NAMES = workloads.QueryEr.QUERIES
SPANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".spans")


class Counts:
    """Counts recorded at layer boundaries by the patched entry points."""

    def __init__(self, wl):
        self.wl = wl
        self.intervals = 0
        self.balance: list[float] = []
        self.partitions = 0
        self.sink_paths: set[str] = set()

    def chunking(self, span, args, kwargs, result):
        self.intervals += len(result)
        rows_between = getattr(self.wl, "rows_between", None)
        if rows_between is not None and len(result) > 0:
            rows = [rows_between(iv.lo, iv.hi) for iv in result]
            mean = sum(rows) / len(rows)
            if mean > 0:
                self.balance.append(max(rows) / mean)

    def jdbc(self, span, args, kwargs, result):
        intervals = args[2] if len(args) > 2 else kwargs.get("intervals")
        self.partitions += len(intervals) if intervals is not None else 1

    def sink(self, span, args, kwargs, result):
        path = args[1] if len(args) > 1 else kwargs["path"]
        self.sink_paths.add(path)

    def hooks(self) -> dict:
        return {
            "plans.chunking.equi_depth_intervals": self.chunking,
            "sources.jdbc.jdbc_scan": self.jdbc,
            "sinks.parquet_append": self.sink,
        }

    def files(self) -> int:
        return sum(
            1
            for path in self.sink_paths
            for _dp, _dn, fns in os.walk(path)
            for f in fns
            if f.startswith("part-") and f.endswith(".parquet")
        )


def traced_run(spark, wl) -> tuple[dict, dict]:
    sc = spark.sparkContext
    for _, call in wl.trace_calls():  # warm-up: the first bulk copy is cold
        call()
    ticks = proc.machine_busy_steal()
    untraced = workloads.timed_loop(wl.trace_calls(), None, 1)
    untraced_net = proc.net_of_steal(untraced["wall"], ticks)

    tracer = tracing.Tracer(sc, f"pb{os.getpid()}")
    counts = Counts(wl)
    tracing.patch_entry_points(tracer, counts.hooks())
    wl.tracer = tracer

    def spanned(calls):
        for label, call in calls:
            def traced_call(label=label, call=call):
                with tracer.span("call", label=label):
                    return call()

            yield label, traced_call

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    ticks, cpu = proc.machine_busy_steal(), proc.cpu_seconds(jvm_pid)
    with tracer.span("phase") as phase:
        res = workloads.timed_loop(spanned(wl.trace_calls()), None, 1)
    traced_net = proc.net_of_steal(res["wall"], ticks)
    cpu = proc.cpu_seconds(jvm_pid) - cpu
    wl.verify()
    eng = tracing.engine_metrics(tracing.StatusApi(sc), tracer, phase)

    os.makedirs(SPANS_DIR, exist_ok=True)
    tracer.dump(os.path.join(SPANS_DIR, f"{wl.name}.json"))

    metrics = layer_metrics(tracer, counts, eng)
    metrics["session.cpu_s"] = cpu
    metrics["session.peak_rss_mb"] = proc.peak_rss_mb(jvm_pid)
    metrics["tracing.overhead_s"] = traced_net - untraced_net
    res["errors"] = untraced["errors"] + res["errors"]
    res["failed"] += untraced["failed"]
    return {m: {"value": v, "unit": unit_of(m)} for m, v in metrics.items()}, res


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("rows_max_over_mean") or name.endswith("_per_window"):
        return "1"
    return "count"


def layer_metrics(tracer: tracing.Tracer, counts: Counts, eng: dict) -> dict:
    spans = tracer.spans

    def named(name):
        return [s for s in spans if s.name == name]

    def total(name):
        return sum(s.end - s.start for s in named(name))

    job_span = eng["job_span"]

    def jobs_under(pred):
        return [j for j, s in job_span.items() if pred(s)]

    inc = named("plans.incremental.incremental_copy")
    windows = len(inc)
    inc_jobs = set(jobs_under(lambda s: tracer.under(s, "plans.incremental.incremental_copy")))
    inc_scans = sum(
        1
        for e in eng["executions"]
        if set(e.get("successJobIds", [])) & inc_jobs
        for n in e.get("nodes", [])
        if n["nodeName"].startswith("Scan JDBCRelation")
    )
    sink_jobs = set(jobs_under(lambda s: tracer.under(s, "sinks.parquet_append")))
    sink_stages = [s for s in eng["stages"] if eng["stage_job"][s["stageId"]] in sink_jobs]

    m = {
        "pipeline.run_and_append_s": total("pipeline.run_and_append"),
        "pipeline.self_s": sum(
            tracer.self_time(s) for s in spans if s.name.startswith("pipeline.")
        ),
        "plans.chunking.plan_s": total("plans.chunking.equi_depth_intervals"),
        "plans.chunking.jobs": len(
            jobs_under(lambda s: s.name == "plans.chunking.equi_depth_intervals")
        ),
        "plans.chunking.intervals": counts.intervals,
        "plans.chunking.rows_max_over_mean": (
            statistics.median(counts.balance) if counts.balance else 0.0
        ),
        "sources.jdbc.probe_s": total("sources.jdbc.jdbc_scan"),
        "sources.jdbc.calls": len(named("sources.jdbc.jdbc_scan")),
        "sources.jdbc.partitions": counts.partitions,
        "sinks.parquet_append_s": total("sinks.parquet_append"),
        "sinks.write_task_s": sum(s["executorRunTime"] for s in sink_stages) / 1000.0,
        "sinks.records_written": sum(s.get("outputRecords", 0) for s in sink_stages),
        "sinks.bytes_written": sum(s.get("outputBytes", 0) for s in sink_stages),
        "sinks.files_written": counts.files(),
        "plans.incremental.self_s": sum(tracer.self_time(s) for s in inc),
        "plans.incremental.jobs_per_window": len(inc_jobs) / windows if windows else 0.0,
        "plans.incremental.source_scans_per_window": inc_scans / windows if windows else 0.0,
        "queries.build_s": total("queries.build"),
        "queries.exec_s": total("queries.exec"),
        "operators.pinned_frames": sum(
            s.attrs.get("pinned", 0) for s in named("queries.build")
        ),
    }
    calls = named("call")
    for q in QUERY_NAMES:
        mine = [c for c in calls if c.attrs.get("label") == q]
        m[f"queries.{q}.wall_s"] = sum(c.end - c.start for c in mine)
        ids = {c.id for c in mine}
        m[f"queries.{q}.jobs"] = len(
            jobs_under(lambda s: any(a.id in ids for a in tracer.lineage(s)))
        )
    m.update(eng["metrics"])
    return m

