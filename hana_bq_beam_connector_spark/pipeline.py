"""The reference pipeline end-to-end, Spark-first (SURVEY §3).

Reference dataflow (HanaToBQ.java:246-260):
  driver: catalog → schema; sampling query → chunk intervals
  workers: one JDBC range query per interval → DBRow → TableRow
  service: BigQuery batch load (append)

Spark lifecycle equivalent: driver-side planning stays tiny Python
(interval list ≈ rows/chunk_size entries); everything row-shaped is a
lazy DataFrame so Catalyst fuses scan→filter→stringify→write into one
shuffle-free stage — the pipeline is embarrassingly parallel and the
physical plan must stay that way at 100 TB (no exchange in explain).
One copy path: run_and_append and plans.incremental.incremental_copy
are both :func:`run_copy_pipeline` then :func:`append_observed`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hana_bq_beam_connector_spark.colutil import resolve_column
from hana_bq_beam_connector_spark.config import PipelineConfig
from hana_bq_beam_connector_spark.plans.chunking import (
    Intervals,
    equi_depth_intervals,
    select_window,
)
from hana_bq_beam_connector_spark.sinks import parquet_append
from hana_bq_beam_connector_spark.sources.jdbc import jdbc_scan
from hana_bq_beam_connector_spark.tsdomain import ts_numeric
from hana_bq_beam_connector_spark.typemap import stringify


def run_copy_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    source_df: DataFrame | None = None,
) -> tuple[DataFrame, Intervals]:
    """Plan + build the copy; returns native-typed (result_df, intervals).

    ``source_df`` supplies a non-JDBC source (the parquet test
    stand-in); with a JDBC config the intervals become one source
    partition each via ``predicates=``.  The caller (or
    :func:`run_and_append`) triggers the sink action.
    """
    if source_df is None:
        df = jdbc_scan(spark, config)  # schema probe; re-read chunked below
        ts_column = resolve_column(df, config.timestamp_column)
        # before planning: the planner's window filter is pushed down too
        _assert_jdbc_tz_consistent(spark, ts_column[1])
    else:
        df = source_df
    intervals = equi_depth_intervals(
        df,
        config.timestamp_column,
        config.chunk_size,
        config.start_time,
        config.end_time,
    )
    if source_df is None:
        result = jdbc_scan(spark, config, intervals, ts_column=ts_column)
    else:
        result = select_window(
            df, config.timestamp_column, config.start_time, config.end_time
        )
    return result, intervals


def _assert_jdbc_tz_consistent(spark: SparkSession, ts_dtype: str) -> None:
    """Fail fast when chunk predicates on an LTZ timestamp column
    would be interpreted in a different timezone than they were
    planned in.

    Interval bounds are epoch-µs instants computed under the SESSION
    timezone, rendered as naive ``{ts '...'}`` wall-clock strings —
    which the JDBC driver and the remote database interpret in the
    JVM default timezone.  If the two differ, every chunk window
    silently shifts by the offset and boundary rows are dropped or
    double-scanned.  NTZ and date columns are naive on both sides and
    unaffected."""
    if ts_dtype != "timestamp":  # only LTZ semantics are tz-sensitive
        return
    jvm_tz = (
        spark.sparkContext._jvm.java.util.TimeZone.getDefault().getID()
    )
    sess_tz = spark.conf.get("spark.sql.session.timeZone")
    utc_names = {"UTC", "Etc/UTC", "GMT", "Z", "+00:00"}
    if jvm_tz == sess_tz or (jvm_tz in utc_names and sess_tz in utc_names):
        return
    raise RuntimeError(
        f"JDBC chunked scan over an LTZ timestamp column: the JVM "
        f"default timezone ({jvm_tz!r}) differs from the Spark session "
        f"timezone ({sess_tz!r}) — chunk-predicate wall-clock literals "
        "would be interpreted with a different offset than they were "
        "planned with, silently shifting every scan window.  Align "
        "them (e.g. -Duser.timezone=UTC and "
        "spark.sql.session.timeZone=UTC) or store the column as "
        "TIMESTAMP_NTZ."
    )


def append_observed(
    result: DataFrame, config: PipelineConfig
) -> tuple[int, int | float | None]:
    """Append ``result`` (stringified if configured); returns the rows
    written and their max timestamp in the canonical numeric domain.

    Both ride the write itself via an ``Observation`` on the native
    frame — one source pass, and the numbers are exactly what the sink
    received (a separate aggregate would re-scan the source and could
    disagree with the write under concurrent source inserts)."""
    if config.dest_path is None:
        raise ValueError("dest_path (or a BigQuery dataset) is required")
    name, dtype = resolve_column(result, config.timestamp_column)
    obs = Observation()
    observed = result.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.max(ts_numeric(name, dtype)).alias("mx"),
    )
    if config.stringify:
        observed = stringify(observed)
    parquet_append(observed, config.dest_path)
    m = obs.get
    return int(m["n"]), m["mx"]


def run_and_append(
    spark: SparkSession,
    config: PipelineConfig,
    source_df: DataFrame | None = None,
) -> int:
    """Execute the copy into the configured sink; returns rows written."""
    result, _ = run_copy_pipeline(spark, config, source_df)
    return append_observed(result, config)[0]
