"""Driver-side HTTP ingestion for the HRFCO REST API (S2/S3 + T1/T3/T7).

The reference polls two endpoints every 10 minutes (NiFi InvokeHTTP in
``nifi/HRFCO_Data_Pipeline.json``; Java twin ``StationThresholdLoader.
callAPI``, StationThresholdLoader.java:126-155) and flattens the
``{"content": [...]}`` wrapper one record per element (SplitJson
``$.content`` / the Java loop at StationThresholdLoader.java:54-66).
A poll returns at most a few thousand rows, so the fetch itself is a
driver-side concern; the DataFrames built here enter the distributed
plan like any other source — the observation frame feeds
``operators/classify.process_observations``, the station frame is the
broadcast dimension (J1).

Failure semantics mirror ``callAPI``: non-200 → None, any exception →
None (timeouts default 10 s, StationThresholdLoader.java:131-132). A
payload that is not JSON or has no ``content`` array yields an *empty*
frame (the reference logs and carries on,
StationThresholdLoader.java:55-59). A station element without
``wlobscd`` is skipped, matching the per-station try/catch
(StationThresholdLoader.java:107-112).

JSON-number fidelity: observation fields are Strings on the POJO
(WaterLevelData.java:10-25), and Jackson hands a String field the
literal number token — so we parse with ``parse_float=str`` /
``parse_int=str`` and keep the source text exactly.
"""

from __future__ import annotations

import json
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    MapType,
    StringType,
    StructField,
    StructType,
)

from hrfco_data_pipeline_spark.functions.coercion import java_double
from hrfco_data_pipeline_spark.operators.classify import THRESHOLD_COLS

OBS_FIELDS = ("wlobscd", "ymdhm", "wl", "fw")


class _NumTok(str):
    """A JSON number kept as its literal source text (Jackson parity),
    but still distinguishable from a JSON string for T7 typing."""


def fetch_hrfco(url: str, timeout: float = 10.0) -> str | None:
    """GET the payload; non-200 or any exception → None.

    Mirrors StationThresholdLoader.callAPI (10 s connect/read timeouts,
    UTF-8 body, error → null). Network access is driver-side by design:
    one poll per trigger, same as the reference's 10-minute timer —
    there is nothing to distribute about a single bounded GET.
    """
    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp:
            if getattr(resp, "status", 200) != 200:
                return None
            return resp.read().decode("utf-8")
    except Exception:
        return None


def _content_array(payload: str | bytes | None) -> list:
    """``$.content`` flatten (T1); invalid/missing → empty list."""
    if payload is None:
        return []
    try:
        root = json.loads(payload, parse_float=_NumTok, parse_int=_NumTok)
    except (ValueError, TypeError):
        return []
    if not isinstance(root, dict):
        return []
    content = root.get("content")
    if not isinstance(content, list):
        return []
    return content


_OBS_SCHEMA = StructType(
    [StructField(f, StringType(), True) for f in OBS_FIELDS]
)


def observations_from_json(spark: SparkSession, payload: str | bytes | None) -> DataFrame:
    """S2/T1/T3: observation poll payload → wire-format string frame.

    Keeps exactly the four POJO fields (unknown JSON fields ignored —
    ``@JsonIgnoreProperties``, WaterLevelData.java:9); missing fields
    are null; JSON numbers keep their literal token text. Feed the
    result to ``process_observations`` for the full hot path.
    """
    rows = []
    for el in _content_array(payload):
        if not isinstance(el, dict):
            continue
        rows.append(tuple(_wire_text(el.get(f)) for f in OBS_FIELDS))
    return spark.createDataFrame(rows, _OBS_SCHEMA)


def _wire_text(v: object) -> str | None:
    """JSON value → the text a Jackson String field would hold."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, _NumTok):
        return str(v)
    if isinstance(v, str):
        return v
    return ""  # Jackson asText() on arrays/objects is ""


_STATION_SCHEMA = StructType(
    [
        StructField("wlobscd", StringType(), False),
        *[StructField(c, StringType(), True) for c in THRESHOLD_COLS],
        StructField("extra", MapType(StringType(), StringType(), True), True),
    ]
)


def stations_from_json(spark: SparkSession, payload: str | bytes | None) -> DataFrame:
    """S3/T1/T7: station poll payload → typed station dimension.

    Per StationThresholdLoader.java:74-99: the four threshold fields
    coerce Double-or-null (the Spark-side ``java_double`` grammar —
    single source of truth for parse parity); every OTHER field lands
    in the ``extra`` map with per-value typing:

    - JSON null → null value,
    - text → trimmed, empty → null,
    - number → double rendering (``value.asDouble()``),
    - boolean → "true"/"false",
    - arrays/objects → ``asText()`` which is "" (reference quirk kept).

    Elements without ``wlobscd`` are skipped (the per-station
    try/catch). Threshold coercion happens IN the Spark plan so the
    grammar (incl. "1.2d"/"NaN" edge cases) is never duplicated.
    """
    rows = []
    for el in _content_array(payload):
        if not isinstance(el, dict):
            continue
        code = el.get("wlobscd")
        if code is None:
            continue
        raw_thresholds = tuple(
            _threshold_text(el.get(c)) for c in THRESHOLD_COLS
        )
        extra = {
            k: _dynamic_value_text(v)
            for k, v in el.items()
            if k not in THRESHOLD_COLS and k != "wlobscd"
        }
        rows.append((_wire_text(code), *raw_thresholds, extra))
    raw = spark.createDataFrame(rows, _STATION_SCHEMA)
    return raw.select(
        "wlobscd",
        *[java_double(c).alias(c) for c in THRESHOLD_COLS],
        "extra",
    )


def _threshold_text(v: object) -> str | None:
    """parseDoubleOrNull's input view: node.asText() on any scalar."""
    return _wire_text(v)


def _dynamic_value_text(v: object) -> str | None:
    """T7 dynamic tail typing, rendered to the map's string value."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, _NumTok):
        return java_double_str(float(v))  # value.asDouble() → Double.toString
    if isinstance(v, str):
        stripped = v.strip()
        return stripped if stripped else None
    return ""  # asText() on arrays/objects


def java_double_str(d: float) -> str:
    """Java ``Double.toString`` rendering of a finite/special double.

    Python ``repr`` and Java diverge in format, not digits: Java
    switches to scientific notation outside [1e-3, 1e7) (Python: 1e-4
    rounds trip as ``'0.0001'``, 1e16 as ``'1e+16'``), always writes a
    fractional digit, and uses ``'E'`` with no ``'+'``/zero-padding.
    Both emit shortest-round-trip digits (Java's legacy pre-Ryū
    algorithm, JDK < 19, emits one extra digit on a rare set of values
    — accepted divergence, the reference runs the same digits on JDK 17
    for every magnitude the tests pin).
    """
    import math

    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "Infinity" if d > 0 else "-Infinity"
    if d == 0.0:
        return "-0.0" if math.copysign(1.0, d) < 0 else "0.0"
    sign = "-" if d < 0 else ""
    a = abs(d)
    # shortest digits via repr, normalized to digits × 10^exp
    mant, _, e = repr(a).partition("e")
    exp = int(e) if e else 0
    ip, _, fp = mant.partition(".")
    exp -= len(fp)
    digits = (ip + fp).lstrip("0")
    stripped = digits.rstrip("0")
    exp += len(digits) - len(stripped)
    digits = stripped
    pointpos = len(digits) + exp  # value = 0.<digits> × 10^pointpos
    if 1e-3 <= a < 1e7:
        if pointpos <= 0:
            return f"{sign}0.{'0' * -pointpos}{digits}"
        if pointpos >= len(digits):
            return f"{sign}{digits}{'0' * (pointpos - len(digits))}.0"
        return f"{sign}{digits[:pointpos]}.{digits[pointpos:]}"
    frac = digits[1:] or "0"
    return f"{sign}{digits[0]}.{frac}E{pointpos - 1}"

