#!/usr/bin/env python3
"""The repository benchmark: one closed-loop workload per run.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload copy_incremental --seed 1 \\
        --seconds 10 --trace 0

Prints each metric by name and unit, then, as the last line of stdout,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer metrics of a traced run.  Exits nonzero on
any wrong output (oracle, row count or fingerprint mismatch), and
without a result when the program is not next to the benchmark.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import proc  # noqa: E402

TICKS_START = proc.machine_busy_steal()  # for the first set-up, net of steal

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hana_bq_beam_connector_spark"
# Net wall of the speed probe on this 4-core guest with little contention.
PROBE_NOMINAL_S = 0.075


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(workdir: str) -> None:
    """Keep every file the run writes inside ``workdir`` and give
    Python workers the program on their import path."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]


class Session:
    """Starts the program's SparkSession, with a JVM warm-up job."""

    def __init__(self, workdir: str):
        self.workdir = workdir
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None

    def start(self):
        from hana_bq_beam_connector_spark.session import get_spark

        tmp = os.path.join(self.workdir, "tmp")
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            extra_confs={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "4g",
                "spark.local.dir": os.path.join(self.workdir, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.workdir} "
                    "-Duser.timezone=UTC -XX:TieredStopAtLevel=1"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        # JVM/codegen warm-up on a trivial plan.
        self.spark.range(1_000_000).selectExpr("sum(id)").collect()
        return self.spark

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for the JVM to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            jvm = gateway.proc  # the JVM exits when its stdin closes
            workers = proc.tree(jvm.pid) - {os.getpid(), jvm.pid}
            gateway.shutdown()
            jvm.stdin.close()
            jvm.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
            deadline = time.monotonic() + 30
            while any(os.path.exists(f"/proc/{pid}") for pid in workers):
                if time.monotonic() > deadline:
                    raise RuntimeError(f"Python workers {sorted(workers)} outlived the JVM")
                time.sleep(0.1)


def per_pass(calls: list, field: str, pass_calls: int) -> float:
    """Mean ``field`` (wall or net) of one pass over the timed calls."""
    return sum(getattr(c, field) for c in calls) * pass_calls / len(calls)


def end_to_end(res: dict, setup: float, pass_calls: int) -> dict:
    calls = res["samples"]
    speed = PROBE_NOMINAL_S / statistics.median(c.probe for c in calls)
    return {
        "setup_s": {"value": setup, "unit": "s"},
        "wall_ref_s": {"value": per_pass(calls, "net", pass_calls) * speed, "unit": "s"},
        "window_p50_s": {"value": statistics.median(c.net for c in calls) * speed,
                         "unit": "s"},
        "rows_per_s": {"value": res["rows"] / sum(c.net for c in calls) / speed,
                       "unit": "rows/s"},
    }


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def run(args, workdir: str) -> tuple[dict, int, int, list[str]]:
    import probe
    import workloads

    cls = workloads.WORKLOADS[args.workload]
    session = Session(workdir)
    speed_probe = None
    try:
        spark = session.start()
        # set-up: process start to a ready session, then the warm-up calls
        setup = proc.net_of_steal(time.perf_counter() - T_START, TICKS_START)
        log("session ready")
        wl = cls(spark, args.seed, workdir)  # seeding, not set-up
        log("inputs ready")
        setup += proc.net_time(wl.warmup)
        log("warm-up done")
        wl.check()  # the oracle pass, not set-up
        log("output checks done")
        if args.trace:
            import layers

            metrics, res = layers.traced_run(spark, wl)
        else:
            speed_probe = probe.Probe(session.cores)
            res = workloads.timed_loop(wl.calls(), args.seconds, wl.PASS_CALLS,
                                       probe=speed_probe)
            log(f"timed phase done: {len(res['samples'])} calls")
            wl.verify()
            metrics = end_to_end(res, setup, wl.PASS_CALLS)
            report_human(res, metrics, wl.PASS_CALLS)
        return metrics, len(res["samples"]), res["failed"], res["errors"]
    finally:
        if speed_probe is not None:
            speed_probe.close()
        session.stop()


def report_human(res: dict, metrics: dict, pass_calls: int) -> None:
    import stats

    lat = [c.wall for c in res["samples"]]
    n = len(lat)
    calls = n - res["failed"]
    print(f"calls: {n}, failed_ratio: {res['failed'] / n:.4f} (1)")
    print(f"timed phase: {res['wall']:.4f} s wall, {per_pass(res['samples'], 'wall', pass_calls):.4f} s per pass")
    p = stats.tail_percentile(lat)
    tail = (f"p{p}: {stats.percentile(lat, p):.4f} s" if p
            else "no percentile has 10 samples beyond it")
    print(f"call latency over {calls} calls: {tail}")
    print("calls (kind, wall s, net s, speed probe net s): " + ", ".join(
        f"{c.label} {c.wall:.3f} {c.net:.3f} {c.probe:.3f}" for c in res["samples"]))
    print(f"wall_net_s: {per_pass(res['samples'], 'net', pass_calls):.6g} (s), unscaled")
    print(f"speed factor: {PROBE_NOMINAL_S / statistics.median(c.probe for c in res['samples']):.4f} (1)")
    for name, m in metrics.items():
        print(f"{name}: {m['value']:.6g} ({m['unit']})")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work_root = os.path.join(HERE, ".work")
    workdir = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    isolate(workdir)
    try:
        metrics, attempted, failed, errors = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)
    for e in errors:
        print(f"ERROR: {e}", file=sys.stderr)
    correct = not errors
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
