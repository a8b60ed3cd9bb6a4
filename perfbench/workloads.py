"""The benchmark's workloads.  Each is a closed loop with one client:
the next call is issued only after the previous one returns.  A pass is
one call of each kind; the timed phase runs whole passes.

``copy_incremental``
    An events-shaped Derby table (20k rows over 30 days) copied in
    successive half-day windows through
    ``plans.incremental.incremental_copy``; a pass is one day (the am
    and the pm window).  A window moves ~330 rows, so the fixed
    per-window cost dominates: the schema probe, the count and quantile
    planning jobs, the extra count/max scan and the file commit.
    Four windows warm up before timing.  The traced run also copies the
    whole table once through ``pipeline.run_and_append``
    (``stringify=True``, ``chunk_size = rows/16``, reference parity) and
    checks that sink.
``query_er``
    ``er_entity_clusters`` at sf0.01: a driver-bound query (14 jobs,
    most of its wall outside Spark jobs) with a grouped-map pandas
    stage.  Its input is the fixed ``part`` table; the seed is unused.
    The connected-components queries (``dedup_cluster_canonical``,
    ``dedup_cluster_survivor_policy``) do not fit the time budget of a
    run: the first execution alone takes 20-40 s.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from typing import NamedTuple

import numpy as np

import datagen
import proc

HERE = os.path.dirname(os.path.abspath(__file__))


class Call(NamedTuple):
    """One timed call: its kind, its wall seconds, its wall net of the
    time the hypervisor stole from the machine, and the net wall of the
    speed probe run just before it."""

    label: str
    wall: float
    net: float
    probe: float


class CheckFailed(Exception):
    """An output of the program differs from the expected one."""


class CopyIncremental:
    name = "copy_incremental"
    ROWS = 20_000
    DAYS = 30
    WINDOW_US = datagen.DAY_US // 2
    WINDOWS = DAYS * 2
    CHUNK_ROWS = 100  # a window of ~330 rows plans several intervals
    PASS_CALLS = 2  # a pass copies one day: its am and pm windows
    WARMUP_WINDOWS = 4  # with C1-only JIT, window latency is flat after these
    TRACE_WINDOWS = 12

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.workdir = workdir
        self.table = datagen.events_table(seed, self.ROWS, self.DAYS)
        self.ts_sorted = np.sort(self.table["TS_US"].to_numpy())
        db = os.path.join(workdir, "derby", "src")
        datagen.load_derby(spark, f"jdbc:derby:{db};create=true", "EVENTS",
                           self.table, os.path.join(workdir, "csv"))
        self.url = f"jdbc:derby:{db}"
        self.jobs = 0  # incremental copy jobs started, each with its own sink and state
        self.sinks: list[tuple[str, int]] = []  # (sink dir, windows copied)

    def config(self, end_us: int, chunk_rows: int, dest: str, stringify: bool):
        from hana_bq_beam_connector_spark.config import PipelineConfig

        return PipelineConfig(
            table_name="EVENTS",
            timestamp_column="TS",
            start_time=datagen.T0_US,
            end_time=end_us,
            chunk_size=chunk_rows,
            connection_string=self.url,
            driver=datagen.DERBY_DRIVER,
            dest_path=dest,
            stringify=stringify,
        )

    def rows_between(self, lo: float, hi: float) -> int:
        return int(np.searchsorted(self.ts_sorted, hi, "left")
                   - np.searchsorted(self.ts_sorted, lo, "left"))

    def check_sink(self, path: str, end_us: int, reported: int) -> None:
        want = datagen.in_window(self.table, datagen.T0_US, end_us)
        got = datagen.sink_canonical(path)
        if reported != len(want) or len(got) != len(want):
            raise CheckFailed(f"{path}: {len(got)} rows in sink, {reported} "
                              f"reported, {len(want)} generated")
        if not got["ID"].is_unique:
            raise CheckFailed(f"{path}: duplicate keys")
        if datagen.fingerprint(got) != datagen.fingerprint(want):
            raise CheckFailed(f"{path}: content fingerprint differs")

    def bulk_copy(self) -> int:
        from hana_bq_beam_connector_spark.pipeline import run_and_append

        dest = os.path.join(self.workdir, "sink", f"bulk{len(self.sinks)}")
        end = datagen.T0_US + self.DAYS * datagen.DAY_US
        n = run_and_append(self.spark, self.config(end, self.ROWS // 16, dest, True))
        self.sinks.append((dest, -1))
        self.check_sink(dest, end, n)
        return n

    def warmup(self) -> None:
        for _, call in self.calls(limit=self.WARMUP_WINDOWS):
            call()

    def check(self) -> None:
        """Nothing before timing: each window's row count is checked as
        it returns, and every sink after timing (:meth:`verify`)."""

    def calls(self, limit: int | None = None):
        """Yield ``(label, call)`` per window of a new incremental copy
        job; a call returns the rows the sink received.  After the last
        window of the table the next job starts, with a new sink and
        watermark state."""
        from hana_bq_beam_connector_spark.plans import incremental

        done = 0
        while limit is None or done < limit:
            self.jobs += 1
            dest = os.path.join(self.workdir, "sink", f"inc{self.jobs}")
            state = os.path.join(self.workdir, f"state{self.jobs}.json")
            for k in range(self.WINDOWS):
                if limit is not None and done >= limit:
                    break
                hi = datagen.T0_US + (k + 1) * self.WINDOW_US
                expected = self.rows_between(hi - self.WINDOW_US, hi)

                def call(hi=hi, expected=expected, k=k):
                    cfg = self.config(hi, self.CHUNK_ROWS, dest, False)
                    n = incremental.incremental_copy(self.spark, cfg, state)
                    self.sinks[-1] = (dest, k + 1)
                    if n != expected:
                        raise CheckFailed(f"window {k}: copied {n}, expected {expected}")
                    return n

                if k == 0:
                    self.sinks.append((dest, 0))
                yield ("am", "pm")[k % 2], call
                done += 1

    def verify(self) -> None:
        """Sink content of every incremental job, after timing."""
        for dest, windows in self.sinks:
            if windows > 0:
                end = datagen.T0_US + windows * self.WINDOW_US
                self.check_sink(dest, end, self.rows_between(datagen.T0_US, end))

    def trace_calls(self):
        """The traced run's fixed work: one checked bulk copy, then a
        run of windows."""
        yield "bulk", self.bulk_copy
        yield from self.calls(limit=self.TRACE_WINDOWS)


class QueryEr:
    name = "query_er"
    QUERIES = ("er_entity_clusters",)
    SF_DIR = os.path.join(HERE, "data", "sf0.01")
    PASS_CALLS = len(QUERIES)
    WARMUP_PASSES = 3

    def __init__(self, spark, seed: int, workdir: str):
        import duckdb

        from hana_bq_beam_connector_spark.queries import registry

        self.spark = spark
        self.specs = registry()
        self.con = duckdb.connect()
        for f in sorted(os.listdir(self.SF_DIR)):
            table = f.removesuffix(".parquet")
            path = os.path.join(self.SF_DIR, f)
            self.con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')"
            )
        self.result_rows: dict[str, int] = {}
        self.tracer = None

    def release(self) -> None:
        from hana_bq_beam_connector_spark.operators._common import (
            release_session_pins,
        )

        # Between fully materialised queries only (see release_session_pins).
        self.spark.catalog.clearCache()
        release_session_pins()

    def warmup(self) -> None:
        """Python-worker/Arrow warm-up, then a few passes: the first
        calls after a cold start run up to a third slower."""
        cores = self.spark.sparkContext.defaultParallelism
        self.spark.range(cores * 2, numPartitions=cores).mapInPandas(
            _identity, schema="id long"
        ).write.format("noop").mode("overwrite").save()
        for _ in range(self.WARMUP_PASSES):
            for q in self.QUERIES:
                self.execute(q)
                self.release()

    def check(self) -> None:
        """The correctness pass: every query against the DuckDB oracle."""
        from hana_bq_beam_connector_spark.oracle import compare_query

        for q in self.QUERIES:
            spec = self.specs[q]
            t = time.perf_counter()
            res = compare_query(self.spark, self.con, q, spec.fn, spec.oracle, self.SF_DIR)
            self.release()
            if not res.ok:
                raise CheckFailed(str(res))
            self.result_rows[q] = res.spark_rows
            print(f"checked {q}: {res.spark_rows} rows in {time.perf_counter() - t:.2f}s",
                  file=sys.stderr)

    def execute(self, q: str) -> None:
        fn = self.specs[q].fn
        if self.tracer is None:
            fn(self.spark, self.SF_DIR).write.format("noop").mode("overwrite").save()
        else:
            t = self.tracer
            with t.span("queries.build", query=q) as span:
                df = fn(self.spark, self.SF_DIR)
                span.attrs["pinned"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            with t.span("queries.exec", query=q):
                df.write.format("noop").mode("overwrite").save()

    def calls(self, limit: int | None = None):
        """Yield ``(query, call)``; each pass runs every query once."""
        done = 0
        while limit is None or done < limit:
            for q in self.QUERIES:
                def call(q=q):
                    try:
                        self.execute(q)
                        return self.result_rows[q]
                    finally:
                        self.release()

                yield q, call
                done += 1

    def verify(self) -> None:
        pass

    def trace_calls(self):
        yield from self.calls(limit=self.PASS_CALLS)


def _identity(batches):
    yield from batches


WORKLOADS = {w.name: w for w in (CopyIncremental, QueryEr)}


def timed_loop(calls, seconds: float | None, pass_calls: int, probe=None) -> dict:
    """Issue calls back to back until ``seconds`` have passed, then
    finish the current pass of ``pass_calls`` calls.  A finite
    ``calls`` with ``seconds=None`` runs to its end.  ``probe()``, when
    given, runs the speed probe before each call and returns its net
    wall."""
    samples: list[Call] = []
    rows = failed = 0
    errors: list[str] = []
    probe_s = 0.0
    t0 = time.perf_counter()
    for label, call in calls:
        probe_net = 0.0
        if probe is not None:
            t = time.perf_counter()
            probe_net = probe()
            probe_s += time.perf_counter() - t
        ticks = proc.machine_busy_steal()
        t = time.perf_counter()
        try:
            rows += call()
        except CheckFailed as e:
            errors.append(str(e))
        except Exception:  # noqa: BLE001 - a failed call is counted, not fatal
            failed += 1
            errors.append(traceback.format_exc(limit=3))
        wall = time.perf_counter() - t
        samples.append(Call(label, wall, proc.net_of_steal(wall, ticks), probe_net))
        if (seconds is not None and time.perf_counter() - t0 >= seconds
                and len(samples) % pass_calls == 0):
            break
    return {
        "samples": samples,
        "wall": time.perf_counter() - t0 - probe_s,
        "rows": rows,
        "failed": failed,
        "errors": errors,
    }
