"""End-to-end parity pipeline tests (SURVEY §5.2 #2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hana_bq_beam_connector_spark.config import PipelineConfig
from hana_bq_beam_connector_spark.pipeline import (
    run_and_append,
    run_copy_pipeline,
)
from hana_bq_beam_connector_spark.plans.chunking import select_window
from hana_bq_beam_connector_spark.tsdomain import ts_numeric

# Canonical-domain bounds (epoch µs): 2024-01-05 / 2024-01-15.
T5_US = 1_704_412_800_000_000
T15_US = 1_705_276_800_000_000


def _ts_us(df) -> F.Column:
    return ts_numeric("ts", dict(df.dtypes)["ts"])


def _config(dest: str | None = None, **kw) -> PipelineConfig:
    return PipelineConfig(
        table_name="events",
        timestamp_column="ts",
        start_time=T5_US,
        end_time=T15_US,
        chunk_size=200,
        dest_path=dest,
        **kw,
    )


def test_select_window_half_open(spark, events):
    for df, start, end in [
        (events, T5_US, T15_US),
        # Fractional bounds on an integral column (the CLI's
        # --start-time is a float): ts=100 is outside [100.5, 200.5).
        (spark.range(300).toDF("ts"), 100.5, 200.5),
    ]:
        got = select_window(df, "ts", start, end).count()
        want = df.where((_ts_us(df) >= start) & (_ts_us(df) < end)).count()
        assert got == want > 0, (start, end)


def test_select_window_filter_is_pushed_down(spark, events):
    """The typed-literal compare must reach the parquet scan: both
    range bounds in PushedFilters, not just IsNotNull (tsdomain
    docstring contract)."""
    window = select_window(events, "ts", T5_US, T15_US)
    plan = window._jdf.queryExecution().toString()
    import re

    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    assert "GreaterThanOrEqual(ts" in pushed and "LessThan(ts" in pushed


def test_copy_pipeline_appends_and_is_incremental(spark, events, tmp_path):
    dest = str(tmp_path / "sink")
    cfg = _config(dest)
    n1 = run_and_append(spark, cfg, source_df=events)
    assert n1 > 0
    sunk = spark.read.parquet(dest)
    assert sunk.count() == n1
    assert sunk.schema == events.schema

    # append semantics (WRITE_APPEND): second disjoint window adds rows
    cfg2 = PipelineConfig(
        table_name="events",
        timestamp_column="ts",
        start_time=T15_US,
        chunk_size=200,
        dest_path=dest,
    )
    n2 = run_and_append(spark, cfg2, source_df=events)
    assert spark.read.parquet(dest).count() == n1 + n2
    # the two windows partition [T5, ∞): no dupes, no gaps
    assert n1 + n2 == events.where(_ts_us(events) >= T5_US).count()


def test_copy_pipeline_stringify_mode(spark, events, tmp_path):
    dest = str(tmp_path / "sink_str")
    cfg = _config(dest, stringify=True)
    run_and_append(spark, cfg, source_df=events)
    sunk = spark.read.parquet(dest)
    assert all(f.dataType.typeName() == "string" for f in sunk.schema.fields)


def test_copy_pipeline_plans_intervals(spark, events):
    cfg = _config()
    result, intervals = run_copy_pipeline(spark, cfg, source_df=events)
    n = result.count()
    assert len(intervals) >= max(1, n // 400)


def test_config_validation():
    with pytest.raises(ValueError):
        PipelineConfig(
            table_name="t", timestamp_column="ts", start_time=10, end_time=5
        )
    with pytest.raises(ValueError):
        PipelineConfig(
            table_name="t", timestamp_column="ts", start_time=0, chunk_size=0
        )


def test_idempotent_append_retry_safe(spark, tmp_path):
    """Re-running the same run_id replaces, never duplicates; distinct
    run_ids accumulate — exactly-once per window under retries (the
    reference's WRITE_APPEND duplicates on re-run; SURVEY §2a R13)."""
    from pyspark.sql import functions as F

    from hana_bq_beam_connector_spark.sinks import idempotent_append

    p = str(tmp_path / "sink")
    batch = spark.range(100).select(F.col("id").alias("event_id"))
    idempotent_append(batch, p, "2026-08-13")
    idempotent_append(batch, p, "2026-08-13")  # retry: same window
    assert spark.read.parquet(p).count() == 100
    idempotent_append(
        spark.range(100, 150).select(F.col("id").alias("event_id")),
        p,
        "2026-08-14",
    )
    got = spark.read.parquet(p)
    assert got.count() == 150
    assert got.select("event_id").distinct().count() == 150


def test_observe_quality_audits_the_write_pass(spark, tmp_path):
    """df.observe metrics ride the write action itself (CollectMetrics
    in-plan, no second scan): row count + null/range counters come
    back without re-reading source or sink."""
    from pyspark.sql import functions as F

    from hana_bq_beam_connector_spark.quality import (
        QualityViolation,
        assert_expectations,
        null_rate_checks,
        observe_quality,
    )
    from hana_bq_beam_connector_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    audited, obs = observe_quality(
        ev,
        checks={
            **null_rate_checks(ev, ["user_id", "event_type"]),
            "neg_value": F.sum((F.col("value") < 0).cast("long")),
        },
    )
    # The audit must not add a job: one write action, then O(1) .get.
    audited.write.parquet(str(tmp_path / "sink"))
    m = obs.get
    assert m["rows"] == ev.count()
    assert m["nulls_user_id"] == 0 and m["nulls_event_type"] == 0
    assert_expectations(m, {"nulls_user_id": 0, "neg_value": 0})

    # A violated expectation names the metric and both values.
    try:
        assert_expectations(m, {"rows": -1})
    except QualityViolation as e:
        assert "rows" in str(e) and "-1" in str(e)
    else:
        raise AssertionError("expected QualityViolation")

    # The metrics node stays in-plan (CollectMetrics), not a side job.
    plan = audited._jdf.queryExecution().optimizedPlan().toString()
    assert "CollectMetrics" in plan


def test_overwrite_partitions_replaces_only_incoming_days(spark, tmp_path):
    """Dynamic partition overwrite: a backfill frame containing day 2
    replaces day 2's files and rows only; day 1 is untouched (same
    files on disk), and static whole-table truncation never happens."""
    import os

    from hana_bq_beam_connector_spark.sinks import overwrite_partitions

    p = str(tmp_path / "days")
    base = spark.createDataFrame(
        [("d1", 1), ("d1", 2), ("d2", 10), ("d2", 11)], ["day", "v"]
    )
    overwrite_partitions(base, p, ["day"])

    def files(day):
        d = os.path.join(p, f"day={day}")
        return sorted(
            f for f in os.listdir(d) if f.endswith(".parquet")
        )

    d1_before = files("d1")

    # Backfill day 2 with corrected rows; day 1 absent from the frame.
    fix = spark.createDataFrame([("d2", 99)], ["day", "v"])
    overwrite_partitions(fix, p, ["day"])

    back = spark.read.parquet(p)
    got = sorted((r.day, r.v) for r in back.collect())
    assert got == [("d1", 1), ("d1", 2), ("d2", 99)]
    assert files("d1") == d1_before  # untouched, not rewritten

    # Re-run (retry) is idempotent.
    overwrite_partitions(fix, p, ["day"])
    assert sorted(
        (r.day, r.v) for r in spark.read.parquet(p).collect()
    ) == [("d1", 1), ("d1", 2), ("d2", 99)]

    # Session default restored (per-write scoping): a later static
    # overwrite elsewhere must not silently become dynamic.
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        != "dynamic"
    )


def test_quality_checks_empty_batch_and_composed_observations(spark, tmp_path):
    """An empty window must observe 0 nulls (not SQL NULL -> spurious
    violation), and two audited frames composed into one query must
    not collide on observation names."""
    from hana_bq_beam_connector_spark.quality import (
        assert_expectations,
        null_rate_checks,
        observe_quality,
    )

    empty = spark.range(0).selectExpr("id AS user_id")
    audited, obs = observe_quality(
        empty, null_rate_checks(empty, ["user_id"])
    )
    audited.write.format("noop").mode("overwrite").save()
    m = obs.get
    assert m["rows"] == 0 and m["nulls_user_id"] == 0
    assert_expectations(m, {"nulls_user_id": 0})  # must not raise

    # Composition: audit the source AND the transformed output in the
    # same action — auto-unique names keep both observations legal.
    src = spark.range(10).selectExpr("id AS user_id")
    a1, o1 = observe_quality(src, null_rate_checks(src, ["user_id"]))
    out = a1.where("user_id >= 5")
    a2, o2 = observe_quality(out, null_rate_checks(out, ["user_id"]))
    a2.write.format("noop").mode("overwrite").save()
    assert o1.get["rows"] == 10 and o2.get["rows"] == 5
