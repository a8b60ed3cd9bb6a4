"""Unit tests of the benchmark's pure helpers.

Run with ``python3 -m pytest perfbench/tests -q`` from the repo root."""

from __future__ import annotations

import statistics

import numpy as np
import pytest

import datagen
import stats


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(list(range(20))) == 50
    assert stats.tail_percentile(list(range(19))) is None
    # 60 samples: p80 is rank 48, leaving 12 beyond; p90 leaves only 6
    assert stats.tail_percentile(list(range(60))) == 80
    assert stats.tail_percentile(list(range(100))) == 90
    assert stats.tail_percentile(list(range(1000))) == 99


def test_percentile_nearest_rank():
    samples = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(samples, 50) == 3.0
    assert stats.percentile(samples, 80) == 4.0
    assert stats.percentile(samples, 100) == 5.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_union_length_merges_overlaps_and_gaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3)]) == 2.0
    assert stats.union_length([(0, 2), (1, 3), (2.5, 2.7)]) == 3.0
    assert stats.union_length([(1, 4), (0, 1)]) == 4.0
    with pytest.raises(ValueError):
        stats.union_length([(2, 1)])


def test_clipped_union_is_self_time_complement():
    # a span [0, 10] with children covering [2, 4] and [3, 6] and one
    # running past its end: self time 10 - (4 + 2) = 4
    kids = [(2, 4), (3, 6), (8, 12)]
    assert stats.clipped_union_length(kids, 0, 10) == 6.0


def test_spread_uses_statistics_quartiles():
    values = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    assert stats.spread(values) == pytest.approx((q3 - q1) / med)


def test_bound_check():
    lower = {"name": "wall_s", "better": "lower", "bound": 0.1}
    steady = [1.0, 1.01, 0.99, 1.0, 1.0, 1.02, 0.98, 1.0, 1.01, 0.99]
    assert stats.bound_check(lower, steady, steady) == []
    slower = [v * 1.2 for v in steady]
    assert any("second median" in p for p in stats.bound_check(lower, steady, slower))
    # a faster second set is never a problem for a lower-is-better metric
    assert stats.bound_check(lower, steady, [v * 0.5 for v in steady]) == []
    noisy = [1.0, 2.0, 0.5, 1.5, 1.0, 0.7, 1.3, 1.0, 2.2, 0.4]
    assert any("spread" in p for p in stats.bound_check(lower, noisy))
    higher = {"name": "rows_per_s", "better": "higher", "bound": 0.1}
    assert any("second median" in p for p in stats.bound_check(higher, steady, [v * 0.8 for v in steady]))
    # setup_s is exempt from the spread rule but not from the median rule
    setup = {"name": "setup_s", "better": "lower", "bound": 0.25}
    assert stats.bound_check(setup, noisy) == []


def test_fingerprint_is_order_independent_and_content_sensitive():
    df = datagen.events_table(seed=7, rows=500, days=2)
    shuffled = df.sample(frac=1.0, random_state=1).reset_index(drop=True)
    assert datagen.fingerprint(df) == datagen.fingerprint(shuffled)
    changed = df.copy()
    changed.loc[3, "AMOUNT_CENTS"] += 1
    assert datagen.fingerprint(changed) != datagen.fingerprint(df)
    assert datagen.fingerprint(df.iloc[1:]) != datagen.fingerprint(df)


def test_events_generator_is_seeded_and_fills_every_window():
    a = datagen.events_table(seed=3, rows=10_000, days=30)
    assert datagen.fingerprint(a) == datagen.fingerprint(datagen.events_table(3, 10_000, 30))
    assert datagen.fingerprint(a) != datagen.fingerprint(datagen.events_table(4, 10_000, 30))
    assert a["ID"].is_unique
    windows = np.bincount((a["TS_US"] - datagen.T0_US) // (datagen.DAY_US // 2))
    assert len(windows) == 60 and windows.min() > 0


def test_sink_canonical_round_trips_both_sink_forms(tmp_path):
    """Stringified (reference-parity) and native sinks both parse back
    to the generator's canonical rows."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from decimal import Decimal

    df = datagen.events_table(seed=5, rows=50, days=1)
    ts = pd.to_datetime(df["TS_US"], unit="us")
    native = pa.table({
        "ID": df["ID"], "AMOUNT": [Decimal(int(c)) / 100 for c in df["AMOUNT_CENTS"]],
        "SCORE": df["SCORE"], "NAME": df["NAME"], "QTY": df["QTY"].astype("int32"),
        "TS": ts,
    })
    pq.write_table(native, tmp_path / "native.parquet")
    got = datagen.sink_canonical(str(tmp_path / "native.parquet"))
    assert datagen.fingerprint(got) == datagen.fingerprint(df)

    strings = pa.table({
        "ID": df["ID"].astype(str),
        "AMOUNT": [f"{c // 100}.{c % 100:02d}" for c in df["AMOUNT_CENTS"]],
        "SCORE": df["SCORE"].map(repr), "NAME": df["NAME"],
        "QTY": df["QTY"].astype(str),
        "TS": ts.dt.strftime("%Y-%m-%d %H:%M:%S.%f").str.rstrip("0").str.rstrip("."),
    })
    pq.write_table(strings, tmp_path / "strings.parquet")
    got = datagen.sink_canonical(str(tmp_path / "strings.parquet"))
    assert datagen.fingerprint(got) == datagen.fingerprint(df)


def test_duration_s_parses_ui_timings():
    import tracing

    assert tracing.duration_s("807 ms") == pytest.approx(0.807)
    assert tracing.duration_s("3.2 s") == pytest.approx(3.2)
    assert tracing.duration_s("1.5 m") == pytest.approx(90.0)
    assert tracing.duration_s("1,204 ms") == pytest.approx(1.204)
    assert tracing.duration_s(
        "total (min, med, max (stageId: taskId))\n4.0 s (0 ms, 1.0 s, 2.0 s (stage 3.0: task 7))"
    ) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        tracing.duration_s("60.9 KiB")


class _FakeJsc:
    def __init__(self, sc):
        self.sc = sc

    def clearJobGroup(self):
        self.sc.group = None


class _FakeSc:
    """Records the job group the way SparkContext.setJobGroup sets it."""

    def __init__(self):
        self.group = None
        self._jsc = _FakeJsc(self)

    def setJobGroup(self, group, description):
        self.group = group


def test_tracer_nests_spans_and_restores_the_job_group():
    import tracing

    sc = _FakeSc()
    t = tracing.Tracer(sc, "run")
    with t.span("outer") as outer:
        assert sc.group == "run:0"
        with t.span("inner") as inner:
            assert sc.group == "run:1"
        assert sc.group == "run:0"
    assert sc.group is None
    assert inner.parent == outer.id and outer.parent is None
    assert t.under(inner, "outer") and not t.under(outer, "inner")
    assert t.self_time(outer) == pytest.approx(
        (outer.end - outer.start) - (inner.end - inner.start)
    )


def test_traced_wrapper_records_layer_counts():
    import tracing

    t = tracing.Tracer(_FakeSc(), "run")
    seen = []
    wrapped = t.wrap(lambda x: x * 2, "layer.fn",
                     lambda span, args, kwargs, result: seen.append((args, result)))
    assert wrapped(21) == 42
    assert seen == [((21,), 42)]
    assert [s.name for s in t.spans] == ["layer.fn"]


def test_speed_probe_times_its_work_and_stops():
    import probe

    p = probe.Probe(2)
    try:
        times = [p() for _ in range(3)]
    finally:
        p.close()
    assert all(t > 0 for t in times)
    assert p.child.returncode == 0
