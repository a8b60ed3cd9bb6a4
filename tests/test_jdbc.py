"""End-to-end partitioned JDBC scan (SURVEY §2a R1) against a real
database: embedded Derby (bundled with Spark for the Hive metastore)
stands in for HANA.  This exercises the actual
``spark.read.jdbc(predicates=...)`` path — one executor-side range
query per planned chunk — not a parquet simulation of it."""

from __future__ import annotations

import pytest

from hana_bq_beam_connector_spark.config import PipelineConfig
from hana_bq_beam_connector_spark.plans.chunking import Interval
from hana_bq_beam_connector_spark.sources.jdbc import jdbc_scan

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
N_ROWS = 1000


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    """Create and seed an embedded Derby table via the driver JVM."""
    db = tmp_path_factory.mktemp("derby") / "testdb"
    url = f"jdbc:derby:{db};create=true"
    jvm = spark._jvm
    jvm.java.lang.Class.forName(DERBY_DRIVER)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE events_jdbc "
        "(ts BIGINT NOT NULL, event_id BIGINT, val DOUBLE)"
    )
    ps = conn.prepareStatement("INSERT INTO events_jdbc VALUES (?, ?, ?)")
    for i in range(N_ROWS):
        # deliberately skewed timestamps: 80% of rows in the first
        # 10% of the time range — the case equi-depth chunking exists for
        ts = (i * i) % 10_000
        ps.setLong(1, ts)
        ps.setLong(2, i)
        ps.setDouble(3, float(i) / 100.0)
        ps.addBatch()
    ps.executeBatch()
    st.close()
    conn.close()
    return url


def _config(url: str) -> PipelineConfig:
    return PipelineConfig(
        table_name="events_jdbc",
        timestamp_column="ts",
        start_time=0,
        chunk_size=250,
        connection_string=url,
        driver=DERBY_DRIVER,
    )


def test_jdbc_interval_scan_round_trip(spark, derby_url):
    cfg = _config(derby_url)
    intervals = [
        Interval(0, 100),
        Interval(100, 1000),
        Interval(1000, 10_001),
    ]
    df = jdbc_scan(spark, cfg, intervals=intervals)
    # one Spark partition per chunk — the reference's readAll shape
    assert df.rdd.getNumPartitions() == len(intervals)
    rows = df.collect()
    assert len(rows) == N_ROWS
    assert sorted(r["EVENT_ID"] for r in rows) == list(range(N_ROWS))


def test_jdbc_uniform_stride_scan(spark, derby_url):
    cfg = _config(derby_url)
    df = jdbc_scan(
        spark,
        cfg,
        partition_column="ts",
        lower_bound=0,
        upper_bound=10_001,
        num_partitions=8,
    )
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == N_ROWS


def test_jdbc_uniform_stride_float_bounds(spark, derby_url):
    """Float bounds on a numeric partition column still work through
    the option API: the JVM does bound.toLong, so str(0.0)='0.0'
    would throw NumberFormatException — bounds stringify as ints."""
    cfg = _config(derby_url)
    df = jdbc_scan(
        spark,
        cfg,
        partition_column="ts",
        lower_bound=0.0,
        upper_bound=10_001.0,
        num_partitions=4,
    )
    assert df.count() == N_ROWS


def test_jdbc_pushdown_reaches_generated_sql(spark, derby_url):
    cfg = _config(derby_url)
    df = jdbc_scan(spark, cfg, intervals=[Interval(0, 10_001)])
    filtered = df.where(df["EVENT_ID"] < 10).select("EVENT_ID")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # Catalyst pushes the filter and the projection INTO the JDBC query
    assert "PushedFilters:" in plan and "EVENT_ID" in plan
    assert filtered.count() == 10


def test_full_pipeline_on_real_jdbc(spark, derby_url, tmp_path):
    """The reference's entire capability end-to-end on a real DB:
    equi-depth chunk planning (approxQuantile over JDBC), one range
    query per chunk, append to the parquet sink."""
    from hana_bq_beam_connector_spark.pipeline import run_and_append

    cfg = PipelineConfig(
        table_name="events_jdbc",
        timestamp_column="ts",
        start_time=100,  # window start mid-data: rows with ts < 100 skipped
        chunk_size=250,
        connection_string=derby_url,
        driver=DERBY_DRIVER,
        dest_path=str(tmp_path / "sink"),
    )
    n = run_and_append(spark, cfg)
    sunk = spark.read.parquet(cfg.dest_path)
    assert sunk.count() == n
    # every copied row is inside the window, none lost at chunk seams
    want = spark.read.jdbc(
        url=derby_url,
        table="events_jdbc",
        properties={"driver": DERBY_DRIVER},
    ).where("ts >= 100")
    assert n == want.count()
    assert sorted(r["EVENT_ID"] for r in sunk.collect()) == sorted(
        r["EVENT_ID"] for r in want.collect()
    )


def test_full_pipeline_on_jdbc_timestamp_column(spark, derby_url, tmp_path):
    """The reference's actual production shape: the source timestamp
    column is a real SQL TIMESTAMP (HANA's is; the reference string-
    binds against it, HanaToDBRow.java:107-109).  Chunk planning runs
    in the canonical epoch-µs domain and the per-chunk predicates must
    render as ANSI TIMESTAMP literals that the database accepts."""
    from hana_bq_beam_connector_spark.pipeline import run_and_append

    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(derby_url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE events_ts (ts TIMESTAMP NOT NULL, event_id BIGINT)"
    )
    ps = conn.prepareStatement("INSERT INTO events_ts VALUES (?, ?)")
    base_ms = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC
    for i in range(300):
        # same skew shape as the BIGINT fixture, at second granularity
        ps.setTimestamp(
            1, jvm.java.sql.Timestamp(base_ms + ((i * i) % 10_000) * 1000)
        )
        ps.setLong(2, i)
        ps.addBatch()
    ps.executeBatch()
    st.close()
    conn.close()

    start_us = (base_ms + 100 * 1000) * 1000  # window starts at +100 s
    cfg = PipelineConfig(
        table_name="events_ts",
        timestamp_column="ts",
        start_time=start_us,
        chunk_size=64,
        connection_string=derby_url,
        driver=DERBY_DRIVER,
        dest_path=str(tmp_path / "sink_ts"),
    )
    n = run_and_append(spark, cfg)
    sunk = spark.read.parquet(cfg.dest_path)
    assert sunk.count() == n
    want = (
        spark.read.jdbc(
            url=derby_url,
            table="events_ts",
            properties={"driver": DERBY_DRIVER},
        )
        .where(f"unix_micros(ts) >= {start_us}")
    )
    assert n == want.count() > 0
    assert sorted(r["EVENT_ID"] for r in sunk.collect()) == sorted(
        r["EVENT_ID"] for r in want.collect()
    )


def test_jdbc_append_sink_round_trip(spark, derby_url):
    """JDBC sink: CREATE_IF_NEEDED on first append, WRITE_APPEND (no
    truncate) on the second; read-back multiset equals two appends."""
    from hana_bq_beam_connector_spark.sinks import jdbc_append

    df = spark.range(50).selectExpr(
        "id AS rid", "CAST(id * 2 AS DOUBLE) AS score"
    )
    jdbc_append(
        df, derby_url, "sink_rt", driver=DERBY_DRIVER, batchsize=16
    )
    jdbc_append(
        df.where("rid < 10"), derby_url, "sink_rt", driver=DERBY_DRIVER
    )
    back = spark.read.jdbc(
        url=derby_url, table="sink_rt", properties={"driver": DERBY_DRIVER}
    )
    assert back.count() == 60
    # Spark quotes identifiers at CREATE time, so the column name
    # round-trips in its original case (unlike the unquoted-DDL tables
    # above, which Derby folds to uppercase).
    got = sorted(r["rid"] for r in back.collect())
    assert got == sorted(list(range(50)) + list(range(10)))


def test_jdbc_uniform_stride_date_string_bounds(spark, derby_url):
    """Stride partitioning over a DATE column with ISO-string bounds:
    the option-based JDBC path accepts them (DataFrameReader.jdbc()
    would int()-cast and raise) — sources/jdbc.py stride branch."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(derby_url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE events_dated (d DATE NOT NULL, event_id BIGINT)"
    )
    ps = conn.prepareStatement("INSERT INTO events_dated VALUES (?, ?)")
    for i in range(100):
        ps.setDate(1, jvm.java.sql.Date.valueOf(f"2021-01-{i % 28 + 1:02d}"))
        ps.setLong(2, i)
        ps.addBatch()
    ps.executeBatch()
    st.close()
    conn.close()
    cfg = PipelineConfig(
        table_name="events_dated",
        timestamp_column="d",
        start_time=0,
        chunk_size=50,
        connection_string=derby_url,
        driver=DERBY_DRIVER,
    )
    df = jdbc_scan(
        spark,
        cfg,
        partition_column="d",
        lower_bound="2021-01-01",
        upper_bound="2021-01-29",
        num_partitions=4,
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 100
    assert sorted(r["EVENT_ID"] for r in df.collect()) == list(range(100))


BASE_MS = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC


@pytest.fixture(scope="module")
def ts_table(spark, derby_url):
    """A Derby TIMESTAMP table of 60 rows, 90 s (plus a few ms) apart;
    returns its name and each EVENT_ID's timestamp in epoch µs."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(derby_url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE events_inc (ts TIMESTAMP NOT NULL, event_id BIGINT)"
    )
    ps = conn.prepareStatement("INSERT INTO events_inc VALUES (?, ?)")
    us = {}
    for i in range(60):
        ms = BASE_MS + i * 90_000 + i % 7
        ps.setTimestamp(1, jvm.java.sql.Timestamp(ms))
        ps.setLong(2, i)
        ps.addBatch()
        us[i] = ms * 1000
    ps.executeBatch()
    st.close()
    conn.close()
    return "events_inc", us


def _ts_config(url: str, table: str, dest: str, **kw) -> PipelineConfig:
    return PipelineConfig(
        table_name=table,
        timestamp_column="ts",
        start_time=BASE_MS * 1000,
        chunk_size=8,
        connection_string=url,
        driver=DERBY_DRIVER,
        dest_path=dest,
        **kw,
    )


def _parquet_files(path: str) -> list[str]:
    import os

    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


@pytest.mark.parametrize("stringify", [False, True])
def test_incremental_copy_on_jdbc_timestamp_column(
    spark, derby_url, ts_table, tmp_path, stringify
):
    """Two incremental windows over a real TIMESTAMP source: each
    copies its rows, the watermark is the max copied µs + 1, and a run
    with no new data writes no file and keeps the watermark — also
    with ``stringify``, whose sink holds strings but whose watermark
    is taken on the native column."""
    import dataclasses

    from pyspark.sql import functions as F

    from hana_bq_beam_connector_spark.plans.incremental import (
        incremental_copy,
        read_watermark,
    )

    table, us = ts_table
    dest, state = str(tmp_path / "sink"), str(tmp_path / "state.json")
    cfg = _ts_config(
        derby_url, table, dest, end_time=us[30], stringify=stringify
    )
    assert incremental_copy(spark, cfg, state) == 30
    assert read_watermark(state, 0) == us[29] + 1
    cfg = dataclasses.replace(cfg, end_time=float("inf"))
    assert incremental_copy(spark, cfg, state) == 30
    assert read_watermark(state, 0) == us[59] + 1

    files = _parquet_files(dest)
    assert incremental_copy(spark, cfg, state) == 0
    assert _parquet_files(dest) == files
    assert read_watermark(state, 0) == us[59] + 1

    sunk = spark.read.parquet(dest)
    want_type = "string" if stringify else "timestamp"
    assert dict(sunk.dtypes)["TS"] == want_type
    got = {
        int(r[0]): r[1]
        for r in sunk.select(
            F.col("EVENT_ID").cast("long"),
            F.unix_micros(F.col("TS").cast("timestamp")),
        ).collect()
    }
    assert got == us


def test_tz_guard_fires_before_any_job(spark, derby_url, ts_table, tmp_path):
    """A session timezone that differs from the JVM's would shift every
    pushed-down window literal; the copy must refuse before planning,
    so no Spark job starts."""
    from hana_bq_beam_connector_spark.pipeline import run_and_append

    sc = spark.sparkContext
    jvm_tz = sc._jvm.java.util.TimeZone.getDefault().getID()
    tz = "Asia/Tokyo" if jvm_tz != "Asia/Tokyo" else "America/New_York"
    old = spark.conf.get("spark.sql.session.timeZone")
    group = "test-tz-guard"
    cfg = _ts_config(derby_url, ts_table[0], str(tmp_path / "sink"))
    spark.conf.set("spark.sql.session.timeZone", tz)
    sc.setJobGroup(group, "tz guard")
    try:
        with pytest.raises(RuntimeError, match="timezone"):
            run_and_append(spark, cfg)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_select_window_filter_is_pushed_down_to_jdbc(
    spark, derby_url, ts_table
):
    """JDBC twin of the parquet pushdown test: both window bounds reach
    the Derby query as PushedFilters, so the planner reads only the
    window."""
    from hana_bq_beam_connector_spark.plans.chunking import select_window

    table, us = ts_table
    df = spark.read.jdbc(
        url=derby_url, table=table, properties={"driver": DERBY_DRIVER}
    )
    window = select_window(df, "ts", us[10], us[20])
    plan = window._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan, plan
    # the metadata string is cut at 100 chars: no closing bracket
    pushed = plan.split("PushedFilters: [", 1)[1]
    assert "GreaterThanOrEqual(TS" in pushed and "LessThan(TS" in pushed
    assert window.count() == 10


def test_run_and_append_on_spark_written_table(spark, derby_url, tmp_path):
    """Spark's JDBC writer quotes column names, so this table's ``ts``
    stays lower-case; the chunk predicates must quote the resolved
    name or Derby folds it to a missing ``TS``."""
    from hana_bq_beam_connector_spark.pipeline import run_and_append
    from hana_bq_beam_connector_spark.sinks import jdbc_append

    jdbc_append(
        spark.range(200).selectExpr("id AS ts", "id * 3 AS event_id"),
        derby_url,
        "events_spark_written",
        driver=DERBY_DRIVER,
    )
    cfg = PipelineConfig(
        table_name="events_spark_written",
        timestamp_column="ts",
        start_time=0,
        chunk_size=50,
        connection_string=derby_url,
        driver=DERBY_DRIVER,
        dest_path=str(tmp_path / "sink"),
    )
    assert run_and_append(spark, cfg) == 200
    sunk = spark.read.parquet(cfg.dest_path)
    got = sorted(r["event_id"] for r in sunk.collect())
    assert got == [3 * i for i in range(200)]
