"""SparkSession factory with scale-oriented defaults.

The reference delegates physical execution entirely to the Beam runner
(pom.xml:156-260 runner profiles); our equivalent of "pick a good
runner config" is a SparkSession tuned for large shuffles: AQE on
(runtime re-planning, skew-join splitting, partition coalescing),
UTC session time zone (deterministic timestamp arithmetic against the
DuckDB oracle), and Arrow for any pandas interchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local[$SPARK_GRAFT_CPUS] test harness; on a
# real cluster the same settings remain sensible (AQE computes the
# actual post-shuffle partition count from runtime statistics, so the
# static shuffle.partitions value is only the pre-AQE upper bound).
_DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-plan (coalesce) stages that READ cached frames.  The
    # upstream default (false) preserves a cached plan's output
    # partitioning for consumers that rely on it — none here do — at
    # the cost of pinning every persisted frame's stage count to the
    # static shuffle.partitions even when the frame is a few hundred
    # rows.  The iterative operators (star contraction, capacity
    # refinement, PQ/rec pinned stages) re-read small cached frames
    # dozens of times per query; with the default each read schedules
    # 32 near-empty tasks per stage (measured: 230-task jobs by round
    # 5 of dedup_cluster_canonical).  Scale-neutral: AQE sizes
    # post-shuffle partitions from runtime BYTES, so big cached
    # frames keep their parallelism on a cluster.  Measured r11
    # medians (alternating A/B, same session): dedup_cluster_canonical
    # 15.2→9.9 s, dedup_cluster_survivor_policy 7.3→5.4,
    # sim_pq_topk 7.0→5.7, dedup_embedding_cosine neutral.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.session.timeZone": "UTC",
    # Current testdata events.ts is TIMESTAMP(MICROS) NTZ, which this
    # conf does not touch.  It is kept ONLY for the legacy layout the
    # testdata once shipped (TIMESTAMP(NANOS), which Spark 4 refuses
    # unless read as int64 nanoseconds); queries/_util dispatches on
    # the resulting dtype, so both layouts keep working.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # Broadcast threshold: 64 MiB.  All TPC-H-style dims (region,
    # nation, supplier, part, customer at small SF) broadcast; at
    # 100 TB the fact tables never would, which is the correct split.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Read-side split size.  At 100 TB the right value is large (128
    # MiB ⇒ ~800k splits for a 1000-executor cluster — set it via
    # spark-submit there); at test/bench SF the tables are single
    # ~1-10 MiB files which would scan as 1-3 tasks while 29 cores
    # idle, so the default here splits aggressively.  Either way the
    # OPERATOR plans are split-count independent — this is purely
    # scan parallelism.
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", str(1024 * 1024)
    ),
    "spark.sql.files.openCostInBytes": str(256 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.shuffle.spill.compress": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "hana-bq-beam-connector-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    32) so tests and bench share one code path; on a cluster the
    caller passes the real master URL / relies on spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(_DEFAULT_CONFS)
    if extra_confs:
        confs.update(extra_confs)
    for key, value in confs.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
