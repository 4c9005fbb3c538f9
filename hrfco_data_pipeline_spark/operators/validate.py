"""Validation operators F1 (required-fields drop) and F2 (range flag).

Reference semantics (hrfco-kafka-streams/.../validator/
WaterLevelValidator.java:52-115):

- F1 drops a record when the station code is null/blank, OR the
  observation time is null/blank, OR *both* measurements are null/blank.
  Dropped records are logged, NOT dead-lettered — an observable
  asymmetry vs. parse failures (WaterLevelProcessor.java:53-57 vs 90-94)
  that the engine preserves.
- F2 does not drop: it computes a boolean. A record is range-valid iff
  (wl is null OR min_wl ≤ wl ≤ max_wl) AND (fw is null OR
  min_fw ≤ fw ≤ max_fw). Bounds are env-overridable in the reference
  (VALIDATOR_MIN_WATER_LEVEL etc.); here they are keyword arguments of
  ``range_valid_predicate``.

Both are pure Column expressions → whole-stage codegen, fully pushed
down by Catalyst when applied right after the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hrfco_data_pipeline_spark.functions.exprcache import cached_exprs

DEFAULT_MIN_WATER_LEVEL = -10.0
DEFAULT_MAX_WATER_LEVEL = 50.0
DEFAULT_MIN_FLOW_RATE = 0.0
DEFAULT_MAX_FLOW_RATE = 50000.0


def _present(col: Column) -> Column:
    """Java ``s != null && !s.trim().isEmpty()`` on a string column."""
    return col.isNotNull() & (F.trim(col) != "")


def required_fields_predicate(
    code: Column, time: Column, wl_raw: Column, fw_raw: Column
) -> Column:
    """F1 keep-predicate over the raw (string-typed) wire columns."""
    return _present(code) & _present(time) & (_present(wl_raw) | _present(fw_raw))


def required_fields_filter(df: DataFrame) -> DataFrame:
    """F1: silently drop wire records missing required fields."""
    return df.filter(
        cached_exprs(
            "required_fields",
            lambda: required_fields_predicate(
                F.col("wlobscd"), F.col("ymdhm"), F.col("wl"), F.col("fw")
            ),
        )
    )


def range_valid_predicate(
    wl: Column,
    fw: Column,
    min_wl: float = DEFAULT_MIN_WATER_LEVEL,
    max_wl: float = DEFAULT_MAX_WATER_LEVEL,
    min_fw: float = DEFAULT_MIN_FLOW_RATE,
    max_fw: float = DEFAULT_MAX_FLOW_RATE,
) -> Column:
    """F2 predicate over the *coerced* double columns.

    Null measurements are valid (Java skips the check when the value is
    null); boundaries are inclusive (WaterLevelValidatorTest.java:105-114).
    """
    wl_ok = wl.isNull() | ((wl >= min_wl) & (wl <= max_wl))
    fw_ok = fw.isNull() | ((fw >= min_fw) & (fw <= max_fw))
    return wl_ok & fw_ok


def range_valid_flag(df: DataFrame) -> DataFrame:
    """F2: append the boolean ``range_valid`` column over ``water_level``
    and ``flow_rate`` at the default bounds (never drops rows)."""
    return df.withColumn(
        "range_valid",
        range_valid_predicate(F.col("water_level"), F.col("flow_rate")),
    )
