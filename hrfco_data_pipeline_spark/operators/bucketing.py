"""Bucketing: pre-shuffled storage for co-located joins.

At 100 TB the lineitem⋈orders shuffle dominates TPC-H-style plans.
Writing both fact tables bucketed by the join key (same bucket count)
lets Spark plan a sort-merge join with NO exchange on either side —
the shuffle is paid once at write time and amortized over every
subsequent join. This is the persistent complement to the broadcast
(dim) and AQE (runtime) strategies used elsewhere in the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
) -> None:
    """Persist as a bucketed managed table, sorted on the bucket key."""
    df.write.mode("overwrite").bucketBy(n_buckets, bucket_col).sortBy(
        bucket_col
    ).saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: str,
    force_sort_merge: bool = False,
) -> DataFrame:
    """Join two co-bucketed tables on their bucket key.

    With matching bucket counts Spark elides both shuffle Exchanges
    (verify via ``.explain``: no "Exchange hashpartitioning" above either
    scan). ``force_sort_merge`` adds a MERGE hint — useful to observe the
    zero-shuffle plan when the data is small enough that AQE would
    otherwise broadcast one side.
    """
    left = spark.table(left_table)
    if force_sort_merge:
        left = left.hint("merge")
    return left.join(spark.table(right_table), on)


def morton_interleave(qx, qy):
    """Morton (Z-order) code of two 8-bit quantized columns: bit i of
    ``qx`` lands at position 2i, bit i of ``qy`` at 2i+1. Pure shift/
    mask arithmetic — stays inside whole-stage codegen and is exactly
    reproducible in any engine with integer bit ops.

    This is the layout key behind multi-dimensional data skipping
    (Delta/Iceberg OPTIMIZE ZORDER BY): sorting or range-sharding by
    the interleaved key clusters rows so every output file covers a
    small rectangle in (x, y) space, letting min/max file stats prune
    on BOTH columns instead of just the leading sort key.
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(8):
        z = (
            z
            + F.shiftleft(F.shiftright(qx, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(qy, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def hilbert_index(x, y, bits: int = 8):
    """Hilbert-curve index of two pre-quantized columns: the xy2d
    walk as an ``F.aggregate`` fold over the bit levels with a
    (x, y, d) struct accumulator — pure integer arithmetic, no UDF,
    JVM-side.

    The Hilbert curve is the stronger Z-order: Morton interleaving
    has long diagonal jumps at power-of-two boundaries, while every
    Hilbert step moves to an adjacent cell, so range-sharding by this
    key gives output files strictly tighter (x, y) bounding boxes —
    better min/max pruning on both columns at the same file count.

    Why a fold and not loop unrolling: each unrolled level
    substitutes the previous (x, y) expression tree ~5 times, so the
    plan grows ~5^bits — the first draft produced a 7 MB formatted
    plan at bits=8 (past any codegen method limit). The fold's lambda
    body is CONSTANT-size (the accumulator is a bound variable, never
    substituted), at the cost of interpreted higher-order-function
    eval per row — measured indistinguishable at bench scale, and the
    plan stays readable.
    """
    from pyspark.sql import functions as F

    levels = F.array(
        *[F.lit(1 << i).cast("long") for i in range(bits - 1, -1, -1)]
    )
    zero = F.lit(0).cast("long")
    init = F.struct(
        x.cast("long").alias("x"), y.cast("long").alias("y"), zero.alias("d")
    )

    def step(acc, s):
        one = F.lit(1).cast("long")
        rx = F.when(acc["x"].bitwiseAND(s) > 0, one).otherwise(zero)
        ry = F.when(acc["y"].bitwiseAND(s) > 0, one).otherwise(zero)
        d = acc["d"] + s * s * (F.lit(3) * rx).bitwiseXOR(ry)
        flipped_x = F.when(rx == one, s - 1 - acc["x"]).otherwise(acc["x"])
        flipped_y = F.when(rx == one, s - 1 - acc["y"]).otherwise(acc["y"])
        nx = F.when(ry == zero, flipped_y).otherwise(acc["x"])
        ny = F.when(ry == zero, flipped_x).otherwise(acc["y"])
        return F.struct(nx.alias("x"), ny.alias("y"), d.alias("d"))

    return F.aggregate(levels, init, step, lambda acc: acc["d"])


def write_zorder(df: DataFrame, path: str, zorder_col) -> None:
    """Write ``df`` laid out by a Z-order key: range-exchange into
    16 Morton-key ranges (sampled boundaries, no global sort)
    with a within-partition sort, one file per range. Each output file
    then covers a contiguous Morton range = a small set of rectangles
    in the interleaved key space, so per-file min/max column stats
    prune scans filtered on EITHER interleaved dimension — verified
    file-by-file in tests/test_bucketing.py.
    """
    (
        df.withColumn("__z", zorder_col)
        .repartitionByRange(16, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
