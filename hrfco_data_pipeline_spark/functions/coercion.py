"""String→typed coercions with Java parse parity.

The reference pipeline receives every numeric field as a string and
coerces with: trim → empty/blank → null → ``Double.parseDouble`` →
``NumberFormatException`` → null (reference:
hrfco-kafka-streams/.../model/WaterLevelData.java:62-79, and the same
rule for thresholds at cache/StationThreshold.java:39-62).

Spark's string→double cast *is* ``Double.parseDouble`` under the hood
(after trimming), so ``try_cast``-style expressions reproduce the Java
behavior exactly, including the exotic accepts ("NaN", "Infinity",
"1.2d", "0x1p3") that a SQL-dialect cast would reject. All of this stays
inside whole-stage codegen — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def blank_to_null(col: Column | str) -> Column:
    """trim + empty-string→null (reference's pervasive convention)."""
    return F.nullif(F.trim(_c(col)), F.lit(""))


def java_double(col: Column | str) -> Column:
    """Java-parity string→nullable-double coercion.

    Semantics (WaterLevelData.java:62-79): trim; null/""/" " → null;
    ``Double.parseDouble`` failure → null. Spark's string→double
    ``try_cast`` matches Java's parse on nearly the whole grammar —
    "NaN"/"Infinity", "1.2d"/"1.2f" suffix forms, hex floats, leading
    "+" — but is *laxer* on the special values: it accepts
    case-insensitive "inf"/"infinity"/"nan", which Java rejects
    (property-fuzzed in tests/test_coercion_property.py). The regex
    guard nulls exactly those lax forms; Java's exact-case "NaN" /
    "[+-]Infinity" still pass.
    """
    t = blank_to_null(col)
    lax_special = t.rlike(r"(?i)^[+-]?(inf(inity)?|nan)$") & ~t.rlike(
        r"^[+-]?(Infinity|NaN)$"
    )
    return F.when(lax_special, F.lit(None).cast("double")).otherwise(
        t.try_cast("double")
    )


def reformat_ymdhm(col: Column | str) -> Column:
    """``yyyyMMddHHmm`` → ``yyyy-MM-dd HH:mm``; non-12-length passthrough.

    Mirrors WaterLevelData.getFormattedObservationTime
    (WaterLevelData.java:82-96): pure substring slicing guarded on
    length==12 — deliberately NOT a timestamp parse, so garbage 12-char
    strings are still re-sliced, and any other length (or null) passes
    through unchanged, exactly like the Java.
    """
    c = _c(col)
    return F.when(
        F.length(c) == 12,
        F.concat_ws(
            " ",
            F.concat_ws(
                "-", F.substring(c, 1, 4), F.substring(c, 5, 2), F.substring(c, 7, 2)
            ),
            F.concat_ws(":", F.substring(c, 9, 2), F.substring(c, 11, 2)),
        ),
    ).otherwise(c)


def parse_obs_time_kst(col: Column | str, now: Column | str) -> Column:
    """``yyyy-MM-dd HH:mm`` interpreted as Asia/Seoul wall time → UTC wall time.

    Mirrors HRFCOStorageService.java:224-244: the observation time string
    is naive KST; parse failure or null falls back to now(), read from
    the timestamp column ``now`` (a stream's batch clock). Implementation
    detail: ``try_to_timestamp`` parses in the session TZ, and the cast to
    TIMESTAMP_NTZ renders back in the same session TZ, so the NTZ value is
    the literal wall time from the string regardless of cluster TZ config;
    ``convert_timezone`` then shifts Seoul→UTC deterministically.
    """
    ntz = F.try_to_timestamp(_c(col), F.lit("yyyy-MM-dd HH:mm")).cast("timestamp_ntz")
    parsed = F.convert_timezone(F.lit("Asia/Seoul"), F.lit("UTC"), ntz)
    now_utc = F.convert_timezone(
        F.current_timezone(), F.lit("UTC"), _c(now).cast("timestamp_ntz")
    )
    return F.coalesce(parsed, now_utc)
