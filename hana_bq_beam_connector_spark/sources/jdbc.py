"""Partitioned JDBC source (SURVEY §2a R1/R3).

The reference's read path is one prepared statement per chunk interval
via Beam's ``JdbcIO.readAll`` (HanaToDBRow.java:79-112).  Spark's
equivalent is ``spark.read.jdbc(predicates=[...])`` — each predicate
string becomes one input partition executing
``SELECT ... FROM t WHERE <predicate>`` on an executor, which is the
exact same physical shape (N concurrent range queries) with Catalyst
additionally pushing column pruning and extra filters into the
generated SQL for free (SURVEY §4).

Schema discovery: Spark reads ``ResultSetMetaData`` automatically; the
reference's explicit catalog query (HanaToBQ.java:56,104-143) survives
as :mod:`..sources.catalog` for HANA-type-name-level control.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hana_bq_beam_connector_spark.colutil import resolve_column
from hana_bq_beam_connector_spark.config import PipelineConfig
from hana_bq_beam_connector_spark.plans.chunking import (
    Interval,
    intervals_to_jdbc_predicates,
)


def jdbc_scan(
    spark: SparkSession,
    config: PipelineConfig,
    intervals: list[Interval] | None = None,
    *,
    partition_column: str | None = None,
    lower_bound: float | None = None,
    upper_bound: float | None = None,
    num_partitions: int | None = None,
    ts_column: tuple[str, str] | None = None,
) -> DataFrame:
    """Read ``config.table_name`` over JDBC.

    Two partitioning modes:

    * ``intervals`` (equi-depth, reference-parity): one Spark partition
      per planned ``[lo, hi)`` chunk — robust to skewed timestamp
      distributions;
    * uniform stride (``partition_column``/bounds/``num_partitions``):
      Spark's stock mode, fine for near-uniform keys.

    ``ts_column`` is the timestamp column's resolved ``(name, dtype)``.
    The name is quoted by Spark's JDBC dialect, so a case-folded ``TS``
    and a quoted ``ts`` both resolve.  The dtype renders interval
    predicates as typed literals (timestamp columns get JDBC escape
    literals ``{ts '...'}`` — the one form every driver translates;
    Derby rejects ANSI ``TIMESTAMP '...'`` — and date columns get
    ``{d '...'}``; see plans/chunking.Interval).  When omitted it is
    resolved with a driver-side metadata read (``ResultSetMetaData``,
    no row transfer).
    """
    if config.connection_string is None:
        raise ValueError("connection_string is required for jdbc_scan")
    reader = spark.read
    if intervals is not None:
        if ts_column is None:
            probe = jdbc_scan(spark, config)
            ts_column = resolve_column(probe, config.timestamp_column)
        name, dtype = ts_column
        dialect = spark._jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(
            config.connection_string
        )
        predicates = intervals_to_jdbc_predicates(
            intervals, dialect.quoteIdentifier(name), dtype
        )
        return reader.jdbc(
            url=config.connection_string,
            table=config.table_name,
            predicates=predicates,
            properties=config.jdbc_properties,
        )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "uniform-stride mode needs lower_bound AND upper_bound "
                f"for partition_column {partition_column!r} (got "
                f"{lower_bound!r}, {upper_bound!r}); use intervals= for "
                "plan-driven chunking without explicit bounds"
            )
        # Route stride mode through the option API: the JVM reader
        # accepts numeric AND date/timestamp-string bounds there,
        # whereas DataFrameReader.jdbc() applies int(lowerBound) and
        # would reject '2021-01-01'.  Numeric bounds must still
        # stringify as INTEGERS: the JVM does bound.toLong for numeric
        # partition columns, and str(0.0) = '0.0' would throw
        # NumberFormatException where the old int()-casting path
        # truncated and worked.
        def _bound(v) -> str:
            if isinstance(v, bool):
                raise ValueError(f"bool is not a JDBC bound: {v!r}")
            if isinstance(v, (int, float)):
                return str(int(v))
            return str(v)

        opt_reader = (
            spark.read.format("jdbc")
            .option("url", config.connection_string)
            .option("dbtable", config.table_name)
            .option("partitionColumn", partition_column)
            .option("lowerBound", _bound(lower_bound))
            .option("upperBound", _bound(upper_bound))
            .option("numPartitions", str(num_partitions or 32))
        )
        for k, v in (config.jdbc_properties or {}).items():
            opt_reader = opt_reader.option(k, v)
        return opt_reader.load()
    return reader.jdbc(
        url=config.connection_string,
        table=config.table_name,
        properties=config.jdbc_properties,
    )
