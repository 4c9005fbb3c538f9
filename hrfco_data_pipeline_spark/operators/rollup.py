"""Hypertable-style time-bucket rollups (continuous-aggregate analog).

The reference stores observations in a TimescaleDB hypertable
partitioned on observation_time (TimescaleDBRepository.java:100-104);
the query-side counterpart is the time_bucket rollup. Spark-native:
``date_trunc``-keyed aggregation — partial-aggregated map-side, one
shuffle on (bucket, key); writing the result partitioned by bucket date
gives the cascading 1h→1d rollup chain of a continuous aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def time_bucket(col: Column | str) -> Column:
    """Truncate an (NTZ) timestamp column to the hour."""
    return F.date_trunc("hour", col)


def rollup_by_bucket(
    df: DataFrame,
    time_col: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Generic rollup: group by (hour bucket, keys) and aggregate."""
    return df.groupBy(time_bucket(time_col).alias("bucket"), *keys).agg(*aggs)
