"""T13: byte/duration humanize + parse (NiFiMetricsUtils.java:20-137).

Presentation-layer scalar functions, re-expressed as Column
expressions so they run JVM-side when used in queries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_KB = 1024.0
_MB = 1024.0 * 1024.0
_GB = 1024.0 * 1024.0 * 1024.0


def format_bytes(b: Column) -> Column:
    """formatBytes: <0 → '0 B'; <1KB → 'N B'; then %.2f KB/MB/GB
    (NiFiMetricsUtils.java:20-33)."""
    return (
        F.when(b < 0, "0 B")
        .when(b < 1024, F.concat(b.cast("long").cast("string"), F.lit(" B")))
        .when(b < _MB, F.concat(F.format_string("%.2f", b / _KB), F.lit(" KB")))
        .when(b < _GB, F.concat(F.format_string("%.2f", b / _MB), F.lit(" MB")))
        .otherwise(F.concat(F.format_string("%.2f", b / _GB), F.lit(" GB")))
    )


def parse_formatted_bytes(s: Column) -> Column:
    """parseFormattedBytes: '(…)' extraction, 'value UNIT' → long bytes;
    unknown/garbage → 0 (NiFiMetricsUtils.java:38-82)."""
    inner = F.when(
        s.contains("(") & s.contains(")"),
        F.trim(F.regexp_extract(s, r"\(([^)]*)\)", 1)),
    ).otherwise(F.trim(s))
    parts = F.split(inner, r"\s+")
    value = F.element_at(parts, 1).try_cast("double")
    unit = F.upper(F.element_at(parts, 2))
    mult = (
        F.when(unit.isin("B", "BYTES"), F.lit(1.0))
        .when(unit.isin("KB", "KILOBYTES"), F.lit(_KB))
        .when(unit.isin("MB", "MEGABYTES"), F.lit(_MB))
        .when(unit.isin("GB", "GIGABYTES"), F.lit(_GB))
        .when(unit.isin("TB", "TERABYTES"), F.lit(_GB * 1024.0))
        .otherwise(F.lit(0.0))
    )
    single = inner.try_cast("long")  # bare number → parse as long
    return (
        F.when(s.isNull() | (s == "") | (s == "0 B"), F.lit(0).cast("long"))
        .when(F.size(parts) < 2, F.coalesce(single, F.lit(0)))
        .otherwise(F.coalesce((value * mult).cast("long"), F.lit(0)))
    )


def format_duration(seconds: Column) -> Column:
    """formatDuration: Korean '…전' relative time
    (NiFiMetricsUtils.java:87-103)."""
    s = seconds.cast("long")
    return (
        F.when(s < 60, F.concat(s.cast("string"), F.lit("초 전")))
        .when(
            s < 3600,
            F.concat(
                (s / 60).cast("long").cast("string"),
                F.lit("분 "),
                (s % 60).cast("string"),
                F.lit("초 전"),
            ),
        )
        .when(
            s < 86400,
            F.concat(
                (s / 3600).cast("long").cast("string"),
                F.lit("시간 "),
                ((s % 3600) / 60).cast("long").cast("string"),
                F.lit("분 전"),
            ),
        )
        .otherwise(
            F.concat(
                (s / 86400).cast("long").cast("string"),
                F.lit("일 "),
                ((s % 86400) / 3600).cast("long").cast("string"),
                F.lit("시간 전"),
            )
        )
    )


def parse_queued_count(s: Column) -> Column:
    """parseQueuedCount: '1,234 (… bytes)' → 1234; garbage → 0
    (NiFiMetricsUtils.java:108-120)."""
    first = F.element_at(F.split(F.trim(s), r"\s+"), 1)
    return F.coalesce(
        F.replace(first, F.lit(","), F.lit("")).try_cast("int"), F.lit(0)
    )


def parse_nifi_timestamp(s: Column) -> Column:
    """parseNiFiTimestamp (NiFiMetricsUtils.java:124-137): NiFi emits
    either 'MM/dd/yyyy HH:mm:ss.SSS' wall times (interpreted as UTC,
    where Java reads the server's systemDefault zone) or ISO-8601
    instants; anything else is unparseable.

    Documented deviation: the Java fallback returns Instant.now() on
    parse failure — a side-effecting default that poisons downstream
    dedup/ordering and is not reproducible. The engine returns NULL
    (callers coalesce explicitly if they want a clock read), consistent
    with the wall-clock-archive deviation note in plans/hydro.py.
    """
    slash = F.to_utc_timestamp(
        F.try_to_timestamp(s, F.lit("MM/dd/yyyy HH:mm:ss.SSS")), "UTC"
    )
    iso = F.try_to_timestamp(s)
    return (
        F.when(s.contains("/"), slash)
        .when(s.contains("T"), iso)
        .otherwise(F.lit(None).cast("timestamp"))
    )
