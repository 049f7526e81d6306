"""Resample + linear interpolation: hand-computed gap fills."""

from __future__ import annotations

from geoscale_healthflow_etl_django_analytics_spark.operators.timeseries import (
    resample_interpolate,
)


def test_resample_interpolate_hand_case(spark):
    """Key 1: observations at hours 0 (v=10) and 3 (v=40) — hours 1, 2
    must interpolate to 20, 30. Key 2: single observation -> single
    grid row, observed. Two readings in one bucket average exactly."""
    rows = [
        (1, "2024-01-01 00:10:00", 8.0),
        (1, "2024-01-01 00:50:00", 12.0),  # bucket 0 avg -> 10.0
        (1, "2024-01-01 03:30:00", 40.0),
        (2, "2024-01-05 07:15:00", 5.5),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts string, value double"
    ).selectExpr("user_id", "cast(ts as timestamp_ntz) ts", "value")
    out = {
        (r.user_id, r.b): (r.v, r.observed)
        for r in resample_interpolate(df, "ts", "value", ["user_id"]).collect()
    }
    base = [b for (u, b) in out if u == 1][0] // 1  # smallest bucket for key 1
    b0 = min(b for (u, b) in out if u == 1)
    assert out[(1, b0)] == (10.0, True)
    assert out[(1, b0 + 1)] == (20.0, False)
    assert out[(1, b0 + 2)] == (30.0, False)
    assert out[(1, b0 + 3)] == (40.0, True)
    k2 = [(u, b) for (u, b) in out if u == 2]
    assert len(k2) == 1 and out[k2[0]] == (5.5, True)
    assert len(out) == 5


def test_ewma_baseline_and_anomaly_flags(spark):
    """Hand-checked series: constant baseline 10, then a 30 spike.
    EWMA of any all-10 history is 10 (weights renormalize); ratio 3.0
    -> anomaly; first bucket has no history -> null baseline, not
    anomalous."""
    from datetime import datetime, timezone

    from geoscale_healthflow_etl_django_analytics_spark.operators.ewma import (
        ewma_baseline_anomaly,
    )

    def ts(h):
        return datetime(2024, 1, 1, h, 30, tzinfo=timezone.utc)

    rows = [(ts(h), "m", 10.0) for h in range(6)] + [(ts(6), "m", 30.0)]
    ev = spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double"
    )
    out = {
        r["b"]: r
        for r in ewma_baseline_anomaly(
            ev, "ts", "value", "event_type"
        ).collect()
    }
    bs = sorted(out)
    first, spike = out[bs[0]], out[bs[-1]]
    assert first["ewma_prev"] is None and not first["is_anomaly"]
    # every interior bucket: baseline exactly 10 (renormalized), calm
    for b in bs[1:-1]:
        assert out[b]["ewma_prev"] == 10.0
        assert out[b]["ratio"] == 1.0 and not out[b]["is_anomaly"]
    assert spike["x"] == 30.0 and spike["ewma_prev"] == 10.0
    assert spike["ratio"] == 3.0 and spike["is_anomaly"]


def test_ewma_drop_anomaly_and_decay(spark):
    """A drop below half baseline flags too, and after a spike the
    baseline decays geometrically (most recent bucket weighted 0.5 of
    the present mass)."""
    from datetime import datetime, timezone

    from geoscale_healthflow_etl_django_analytics_spark.operators.ewma import (
        ewma_baseline_anomaly,
    )

    def ts(h):
        return datetime(2024, 1, 1, h, tzinfo=timezone.utc)

    rows = [(ts(0), "m", 16.0), (ts(1), "m", 16.0), (ts(2), "m", 4.0)]
    ev = spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double"
    )
    out = sorted(
        ewma_baseline_anomaly(ev, "ts", "value", "event_type").collect(),
        key=lambda r: r["b"],
    )
    # bucket 2: history [16, 16] -> baseline 16; 4/16 = 0.25 < 0.5
    assert out[2]["ewma_prev"] == 16.0
    assert out[2]["ratio"] == 0.25 and out[2]["is_anomaly"]
    # bucket 1: single-lag history renormalizes to exactly 16
    assert out[1]["ewma_prev"] == 16.0 and not out[1]["is_anomaly"]
