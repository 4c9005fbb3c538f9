"""As-of join: for each left row, the latest right row at-or-before it.

Spark lacks a native ASOF JOIN (the reference lacks joins entirely —
SURVEY §2.4); this is the standard scalable composition:

    tag sides → union → window over (key) ordered by (time, side) →
    last non-null right payload seen so far → keep left rows

One shuffle on the key (the window partition), no range-explosion —
this is the 100 TB formulation. A broadcast-range variant is only
better when the right side is tiny.

Semantics: right rows with time ≤ left time are eligible; ties at the
same timestamp resolve to the right side first (side ordering), and
duplicate right timestamps per key should be pre-deduplicated by the
caller for full determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload_cols: tuple[str, ...],
) -> DataFrame:
    """Left as-of join: every left row + the payload of the most recent
    right row with ``right_time <= left_time`` on the same key, as
    ``<payload>_asof`` columns."""
    lt = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__left"),
        F.lit(None).cast(
            "struct<"
            + ",".join(
                f"{c}:{right.schema[c].dataType.simpleString()}" for c in payload_cols
            )
            + ">"
        ).alias("__right"),
    )
    rt = right.select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(-1).alias("__side"),  # right sorts before left at equal time
        F.lit(None).cast(lt.schema["__left"].dataType.simpleString()).alias("__left"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("__right"),
    )
    unioned = lt.unionByName(rt)
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumn(
        "__last_right", F.last("__right", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("__side") == 0).select(
        F.col("__left.*"),
        *[
            F.col("__last_right").getField(c).alias(f"{c}_asof")
            for c in payload_cols
        ],
    )
    return out
