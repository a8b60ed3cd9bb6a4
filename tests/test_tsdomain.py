"""tsdomain unit + property tests: the canonical numeric time domain
must round-trip exactly — a 1 µs drift in a bound literal silently
misclassifies a boundary row of a half-open window (the failure the
integer-arithmetic construction exists to prevent)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hana_bq_beam_connector_spark.tsdomain import (
    _bound_us,
    _epoch_us_datetime,
    is_time_typed,
    ts_bound_lit,
    ts_numeric,
)

# epochs from 1970 to ~2255 (the double-exact envelope documented in
# the module), deliberately including non-second-aligned values
_EPOCH_US = st.integers(min_value=0, max_value=9_000_000_000_000_000)


@given(_EPOCH_US)
@settings(max_examples=500, deadline=None)
def test_epoch_us_datetime_is_exact(us):
    """Integer construction: datetime → back to µs with zero drift
    (float division drifts 1 µs on large non-aligned epochs)."""
    dt = _epoch_us_datetime(us)
    back = (dt - datetime(1970, 1, 1)) // timedelta(microseconds=1)
    assert back == us


def test_bound_us_rejects_fractional():
    assert _bound_us(1_000_000) == 1_000_000
    assert _bound_us(1e6) == 1_000_000  # integral float ok
    with pytest.raises(ValueError):
        _bound_us(1.5)


def test_is_time_typed():
    assert is_time_typed("timestamp")
    assert is_time_typed("timestamp_ntz")
    assert is_time_typed("date")
    assert not is_time_typed("bigint")
    assert not is_time_typed("double")


def test_ntz_roundtrip_bound_vs_numeric(spark):
    """For NTZ columns: comparing the raw column to ts_bound_lit is
    exactly comparing ts_numeric to the integer bound — including at
    non-second-aligned boundaries (the ADVICE drift case)."""
    bounds = [
        0,
        1_704_412_800_000_000,
        1_704_412_800_123_457,  # non-second-aligned
        8_999_999_999_999_999,
    ]
    rows = [(b + d,) for b in bounds for d in (-1, 0, 1) if b + d >= 0]
    df = spark.createDataFrame(rows, ["us"]).select(
        F.timestamp_micros(F.col("us")).cast("timestamp_ntz").alias("ts"),
        "us",
    )
    for b in bounds:
        via_lit = {
            r["us"]
            for r in df.where(
                F.col("ts") >= ts_bound_lit("timestamp_ntz", b)
            ).collect()
        }
        via_num = {
            r["us"]
            for r in df.where(
                ts_numeric("ts", "timestamp_ntz") >= F.lit(b)
            ).collect()
        }
        assert via_lit == via_num, b


def test_ltz_and_bigint_bounds(spark):
    df = spark.createDataFrame([(999_999,), (1_000_000,)], ["us"]).select(
        F.timestamp_micros(F.col("us")).alias("ts_ltz"),
        F.col("us").alias("ts_int"),
    )
    got = df.where(
        F.col("ts_ltz") >= ts_bound_lit("timestamp", 1_000_000)
    ).collect()
    assert [r["ts_int"] for r in got] == [1_000_000]
    got = df.where(
        F.col("ts_int") >= ts_bound_lit("bigint", 1_000_000)
    ).collect()
    assert [r["ts_int"] for r in got] == [1_000_000]


def test_select_window_on_date_column(spark):
    """DATE chunk columns: the µs bound renders as an NTZ literal and
    Spark widens the date side for the compare — half-open semantics
    stay exact (dates are µs-aligned by construction)."""
    from pyspark.sql import functions as F

    from hana_bq_beam_connector_spark.plans.chunking import select_window

    df = spark.sql(
        "SELECT sequence(DATE'2024-01-01', DATE'2024-01-20') AS d"
    ).select(F.explode("d").alias("ts"))
    window = select_window(
        df,
        "ts",
        1_704_412_800_000_000,  # 2024-01-05
        1_705_276_800_000_000,  # 2024-01-15 (exclusive)
    )
    rows = sorted(str(r["ts"]) for r in window.collect())
    assert len(rows) == 10
    assert rows[0] == "2024-01-05" and rows[-1] == "2024-01-14"


def test_numeric_domain_values(spark):
    """ts_numeric yields epoch µs for every time-typed layout and the
    native value for integers — all equal for the same instant."""
    us = 1_705_276_800_000_000
    df = spark.createDataFrame([(us,)], ["v"]).select(
        F.timestamp_micros(F.col("v")).cast("timestamp_ntz").alias("ntz"),
        F.timestamp_micros(F.col("v")).alias("ltz"),
        F.col("v").alias("num"),
    )
    row = df.select(
        ts_numeric("ntz", "timestamp_ntz").alias("a"),
        ts_numeric("ltz", "timestamp").alias("b"),
        ts_numeric("num", "bigint").alias("c"),
    ).first()
    assert row["a"] == row["b"] == row["c"] == us


def test_holt_forecast_matches_python_fold(spark):
    """The codegen'd aggregate() fold must equal a pure-Python replay
    of the same IEEE update sequence, bit for bit, and the forecasts
    must be the level + h*trend extrapolation of the final state."""
    from hana_bq_beam_connector_spark.queries import registry
    from hana_bq_beam_connector_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    rows = (
        ev.groupBy(
            "event_type",
            (F.unix_micros(F.col("ts").cast("timestamp"))
             / 21_600_000_000).cast("bigint").alias("bkt")
            if dict(ev.dtypes)["ts"] != "bigint"
            else (F.col("ts") / 21_600_000_000).cast("bigint").alias("bkt"),
        )
        .count()
        .collect()
    )
    series: dict[str, dict[int, int]] = {}
    for r in rows:
        series.setdefault(r["event_type"], {})[r["bkt"]] = r["count"]
    got = {
        r["event_type"]: r
        for r in registry()["ts_holt_linear_forecast"]
        .fn(spark, SF_DIR)
        .collect()
    }
    for etype, by_bkt in series.items():
        ys = [by_bkt[b] for b in sorted(by_bkt)]
        if len(ys) < 2:
            assert etype not in got
            continue
        level, trend = float(ys[0]), float(ys[1]) - float(ys[0])
        for y in ys[1:]:
            new_level = 0.5 * float(y) + 0.5 * (level + trend)
            trend = 0.25 * (new_level - level) + 0.75 * trend
            level = new_level
        r = got[etype]
        assert r["n_buckets"] == len(ys)
        assert r["level"] == level
        assert r["trend"] == trend
        assert r["forecast_h2"] == level + 2 * trend
