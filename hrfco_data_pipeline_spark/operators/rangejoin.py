"""Banded interval (range) join: point-in-interval matching at scale.

Spark has no native range-join optimization: a plain
``l.ts BETWEEN r.start AND r.end`` join plans as
BroadcastNestedLoopJoin (O(|L|x|R|) comparisons) once the interval
side outgrows a broadcast. The banded form turns it into an equi-join:

- each interval explodes into the fixed-width time bands it overlaps
  (fan-out = interval length / band width, bounded and known);
- each point maps to exactly ONE band (its own), so the equi-join on
  the band key meets every containing interval exactly once — no
  post-join dedup needed;
- the exact predicate then refines the candidates.

Shuffle keys are band values — bounded, dense, and skew-resistant for
event-time data (hot bands can further salt on the point side). This
is the standard interval-join shape streaming engines and Flink/KDB
asof/window joins use internally; at 100 TB the equi-join shuffles
hash-partition both sides by band instead of replicating either side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join_banded(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """Join point rows to every interval containing them
    (``w_start <= ts < w_end``, half-open) via a banded equi-join.

    The bands are one hour wide, near the typical interval length, so
    the per-interval fan-out stays small (a 2 h window on 1 h bands
    explodes to 2-3 rows). Column names must not collide between the
    two inputs.
    """
    bands = intervals.withColumn(
        "_band",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("w_start")),
                # end is exclusive: an interval ending exactly on a
                # band boundary contributes nothing to that band, but
                # the spurious band row is harmless — the refine
                # predicate drops it; keeping the sequence inclusive
                # avoids an empty-sequence corner for tiny intervals.
                F.date_trunc("hour", F.col("w_end")),
                F.expr("INTERVAL 1 hour"),
            )
        ),
    )
    pts = points.withColumn("_band", F.date_trunc("hour", F.col("ts")))
    return (
        pts.join(bands, "_band")
        .filter(
            (F.col("ts") >= F.col("w_start"))
            & (F.col("ts") < F.col("w_end"))
        )
        .drop("_band")
    )
