"""Grouped-map resample/interpolate operator semantics."""

from __future__ import annotations

from datetime import datetime, timedelta

import pyspark.sql.functions as F  # noqa: F401

from hrfco_data_pipeline_spark.operators.resample import resample_stations


def test_linear_interpolation_exact(spark):
    rows = [
        ("A", datetime(2024, 1, 1, 0, 0), 1.0),
        ("A", datetime(2024, 1, 1, 0, 30), 4.0),
        ("B", datetime(2024, 1, 1, 0, 0), 7.0),
    ]
    df = spark.createDataFrame(
        rows, "wlobscd string, obs_ts timestamp, water_level double"
    )
    got = {
        (r.wlobscd, r.grid_ts.minute): (r.water_level, r.interpolated)
        for r in resample_stations(df).collect()
    }
    assert got[("A", 0)] == (1.0, False)
    assert got[("A", 10)] == (2.0, True)
    assert got[("A", 20)] == (3.0, True)
    assert got[("A", 30)] == (4.0, False)
    assert got[("B", 0)] == (7.0, False)
    assert len(got) == 5


def test_no_edge_extrapolation_and_bucket_mean(spark):
    rows = [
        # two readings inside one bucket -> snapped to their mean
        ("C", datetime(2024, 1, 1, 0, 2), 2.0),
        ("C", datetime(2024, 1, 1, 0, 8), 4.0),
        ("C", datetime(2024, 1, 1, 0, 20), 9.0),
    ]
    df = spark.createDataFrame(
        rows, "wlobscd string, obs_ts timestamp, water_level double"
    )
    out = resample_stations(df).collect()
    by_min = {r.grid_ts.minute: r for r in out}
    assert by_min[0].water_level == 3.0 and not by_min[0].interpolated
    assert by_min[10].water_level == 6.0 and by_min[10].interpolated
    assert by_min[20].water_level == 9.0 and not by_min[20].interpolated
    # grid starts/ends at data: no rows before 00:00 or after 00:20
    assert set(by_min) == {0, 10, 20}


def test_timezone_invariance_of_time_queries(spark):
    """The resample bucket floor and cohort week arithmetic must yield
    identical results under ANY session timezone — including offsets
    that are not whole multiples of 10 minutes (the review-flagged
    failure mode for epoch-based flooring)."""
    from hrfco_data_pipeline_spark.plans.hydro import resample_10min
    from hrfco_data_pipeline_spark.plans.relational import (
        events_retention_cohorts,
    )

    sf = "/root/testdata/sf0.001"

    def snap():
        return (
            sorted(map(tuple, resample_10min(spark, sf).collect())),
            sorted(map(tuple, events_retention_cohorts(spark, sf).collect())),
        )

    orig = spark.conf.get("spark.sql.session.timeZone")
    try:
        base = snap()
        for tz in ("Asia/Kathmandu", "Pacific/Marquesas", "UTC"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            assert snap() == base, tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)


def test_sql_twin_bit_parity_with_pandas_form(spark):
    """resample_stations_sql (JVM codegen) must reproduce the pandas
    grouped map BIT-EXACTLY on bucket-aligned input — the promotion
    contract that let plans/hydro.resample_10min drop the Arrow
    transfer. Irregular gaps, multi-station, interior holes."""
    from hrfco_data_pipeline_spark.operators.resample import (
        resample_stations_sql,
    )

    rows = []
    for code, base_vals in (
        ("S1", [3.17, None, None, 9.42, 5.55, None, 2.01]),
        ("S2", [1.23]),
        ("S3", [0.07, None, 11.99]),
    ):
        for i, v in enumerate(base_vals):
            if v is not None:
                rows.append(
                    (
                        code,
                        datetime(2024, 3, 1, 0, 0)
                        + timedelta(minutes=10 * i),
                        v,
                    )
                )
    df = spark.createDataFrame(
        rows, "wlobscd string, obs_ts timestamp, water_level double"
    )
    key = lambda r: (r.wlobscd, r.grid_ts)  # noqa: E731
    got = {
        key(r): (r.water_level, r.interpolated)
        for r in resample_stations_sql(df).collect()
    }
    want = {
        key(r): (r.water_level, r.interpolated)
        for r in resample_stations(df).collect()
    }
    assert got == want  # exact float equality: same IEEE term order
