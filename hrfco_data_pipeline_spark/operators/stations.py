"""Dynamic station-field tail (T7 full form).

The reference keeps *every* API field of a station document, typing
each value at write time (StationThresholdLoader.java:74-99): the four
threshold keys parse Double-or-null; everything else is stored
dynamically — text trimmed with empty→null, numbers as double,
booleans, anything else stringified. SURVEY §1.4 maps that dynamic
tail to a ``MapType(String, String)`` column next to the typed
threshold columns.

Two entry points cover both source shapes:

- JSON documents (schema-free): ``sources/http.stations_from_json``
  does per-value typing driver-side at poll time;
- columnar frames (schema known): ``dynamic_station_tail`` below folds
  every non-fixed column into the map with dtype-driven coercion —
  pure Column expressions, whole-stage codegen, no UDFs.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hrfco_data_pipeline_spark.functions.coercion import blank_to_null
from hrfco_data_pipeline_spark.operators.classify import THRESHOLD_COLS

_NUMERIC_PREFIXES = ("int", "bigint", "smallint", "tinyint", "float", "double", "decimal")


def _coerce_dynamic(col: str, dtype: str) -> Column:
    """One dynamic-tail value, per StationThresholdLoader.java:80-95."""
    c = F.col(col)
    if dtype == "string":
        return blank_to_null(c)  # trim, empty → null
    if dtype.startswith(_NUMERIC_PREFIXES):
        return c.cast("double").cast("string")  # value.asDouble()
    if dtype == "boolean":
        return c.cast("string")  # "true"/"false"
    return c.cast("string")


def dynamic_station_tail(df: DataFrame) -> DataFrame:
    """``wlobscd`` + typed thresholds + ``extra`` map of every other column.

    The map preserves the reference's keep-everything contract: a
    station table with API fields beyond the fixed schema no longer
    drops them. Entries with null values are kept (the Java stores
    explicit nulls: ``stationDoc.put(key, null)``).
    """
    dtypes = dict(df.dtypes)
    tail_cols = [
        c for c in df.columns if c != "wlobscd" and c not in THRESHOLD_COLS
    ]
    entries = list(
        chain.from_iterable(
            (F.lit(c), _coerce_dynamic(c, dtypes[c])) for c in tail_cols
        )
    )
    keep_fixed = [c for c in THRESHOLD_COLS if c in df.columns]
    return df.select("wlobscd", *keep_fixed, F.create_map(*entries).alias("extra"))


def explode_station_tail(df: DataFrame) -> DataFrame:
    """(wlobscd, field, value) pairs — the oracle-checkable flat view.

    ``explode_outer`` over the map keeps entries whose value is null
    (a plain ``explode`` would too — it only drops empty/null maps).
    """
    return df.select(
        "wlobscd", F.explode_outer("extra").alias("field", "value")
    )
