"""Scale-safe global ranking: two-pass range-bucketed rank / prefix sum.

An unpartitioned ``Window.orderBy`` over an unbounded table funnels the
whole dataset through ONE task (Exchange SinglePartition + global sort)
— the classic 100 TB killer. This module provides the standard two-pass
replacement used by every registry query that needs a total-order rank,
cumulative sum, or ntile over a table that grows with the data:

1. **Deterministic sampled boundaries** (one bounded-size aggregate):
   rows whose ``xxhash64(sample_key) % sample_mod == 0`` form a
   deterministic sample; its sorted bucket-key array yields
   ``N_BUCKETS - 1`` range boundaries. Sorting the collected sample
   makes the boundary array identical across re-executions — unlike
   ``spark_partition_id()`` after ``repartitionByRange`` (whose
   partition ids can shift under AQE re-planning between plan
   branches) or ``approx_percentile`` (whose merge order varies with
   shuffle fetch order), so the two plan branches below always agree
   on bucket assignment without a persist.
2. **Bucket-local windows**: the bucket id is a broadcast array
   expression (count of boundaries below the key — monotone in the
   total order, ties never straddle buckets), and rank / prefix sums
   run under ``Window.partitionBy(bucket)`` — a hash exchange on the
   bucket id, each bucket sorted independently in parallel.
3. **Tiny offset table**: per-bucket row counts and value sums
   (≤ ``N_BUCKETS`` rows) get prefix-summed on the driver-sized side
   and broadcast-joined back; ``global = local + offset_of_prior
   buckets``.

The output is *boundary-invariant*: any monotone bucketing yields the
same global rank and cumulative sums, so sample skew only affects task
balance, never results — which is what makes the whole construction
oracle-checkable against a plain SQL window.

Cost model: two scans of the input (the windowed branch and the
per-bucket stats branch share the bucket exchange via reuse) plus one
bounded sample aggregate — the honest two-pass trade every distributed
rank pays (TeraSort's partitioner does exactly this). The sharing is a
RUNTIME property: AQE's exchange reuse appears only in the executed
``isFinalPlan=true`` plan (measured r11: 7-10 ReusedExchange nodes in
the KS/MW consumers), so a static ``explain`` — which prints every
branch's subtree — overstates the scan count; see SCALE.md §r11.
Measured crossover vs the single-task window (SCALE.md §r11
findings): 2.76× faster at 20M rows,
0.72× at 2M where the sample/offset overhead dominates. The collected
sample is capped at ``sample_cap`` rows BY CONSTRUCTION: a one-row
count of the first-level hash sample drives a second-level hash cut
(keep 1-in-⌈count/cap⌉), so the collect stays bounded at any input
size without caller tuning — ``sample_mod`` only sets how cheap the
counting scan is. At 100 TB, raise ``N_BUCKETS`` toward the cluster's
task count.

Reference parity note: the reference engine has no global-rank
operator; this backs the beyond-reference analytics queries
(token-budget selection, deciles, Pareto/ABC, RFM, Lorenz).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_BUCKETS = 32


def ranked_cumsum(
    df: DataFrame,
    bucket_key: Column,
    order_exprs: list[Column],
    *,
    sample_key: Column,
    sums: dict[str, Column] | None = None,
    rank_name: str = "rank",
    sample_mod: int = 64,
    sample_cap: int = 10_000,
    partition_cols: list[str] | None = None,
    maxes: dict[str, Column] | None = None,
) -> DataFrame:
    """Add a global ``rank_name`` (row_number) and one cumulative-sum
    column per ``sums`` entry to ``df``, under the total order given by
    ``order_exprs`` — without a single-partition sort.

    With ``partition_cols`` the rank and cumulative sums restart per
    partition (the SQL ``PARTITION BY p ORDER BY ...`` shape) while the
    range bucketing on ``bucket_key`` still splits EACH partition's
    order across tasks: local windows run per (partition, bucket) and
    the offset join carries |partitions| x N_BUCKETS rows — still
    broadcastable whenever the partition domain is metadata-scale
    (event types, languages, sources). Boundaries stay GLOBAL (one
    sample over all partitions): per-partition value distributions may
    skew task balance, never results.

    Requirements (violations corrupt ranks silently, so the first is
    enforced with a runtime error):

    - ``bucket_key`` must be NON-NULL: NULL compares as unknown inside
      the boundary filter, so a NULL key would land in bucket 0 even
      under a descending order where Spark sorts NULLs last — the plan
      raises on the first NULL instead.
    - ``bucket_key`` must be a numeric expression monotonically
      NON-DECREASING in the total order (negate for descending orders).
    - ``order_exprs`` must be a total order (include a unique
      tie-breaker).
    - ``sample_key`` should be a roughly-unique column so the hash
      sample is uniform.

    ``maxes`` adds one cumulative-MAX column per entry (the
    running-record shape): max is associative exactly like the sums,
    so the same local-window + prior-bucket-offset composition is
    exact — the offset combine is ``greatest(local, prior)`` instead
    of ``+`` and the offset prefix is ``max`` over prior buckets
    (NULL when no prior bucket, i.e. the partition's first bucket).
    """
    sums = sums or {}
    maxes = maxes or {}
    d = df.withColumn(
        "_bk",
        F.when(
            bucket_key.isNull(),
            F.raise_error(
                F.lit("ranked_cumsum: bucket_key must be non-null")
            ).cast("double"),
        ).otherwise(bucket_key.cast("double")),
    )

    # Deterministic bounded sample -> sorted multiset -> boundaries.
    # collect_list is unordered, sort_array pins it. The sample is
    # capped at ~sample_cap rows BY CONSTRUCTION, not caller tuning:
    # a first-level hash keeps 1-in-sample_mod rows, a one-row count
    # of that stratum derives a second-level keep rate of
    # 1-in-ceil(count/sample_cap) under an independent hash (extra
    # seed column), and only the doubly-thinned rows are collected.
    # Both levels are pure functions of sample_key, so re-executions
    # of either plan branch see identical boundaries; boundary
    # *placement* only affects task balance, never results.
    lvl1 = d.filter(F.pmod(F.xxhash64(sample_key), F.lit(sample_mod)) == 0)
    lvl1_cnt = lvl1.agg(
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.count("*") / F.lit(sample_cap)).cast("long"),
        ).alias("_mod2")
    )
    sample = (
        lvl1.crossJoin(F.broadcast(lvl1_cnt))
        .filter(F.pmod(F.xxhash64(sample_key, F.lit(1)), F.col("_mod2")) == 0)
        .drop("_mod2")
    )
    arr = F.sort_array(F.collect_list("_bk"))
    sz = F.size("_arr")
    idx = lambda i: (F.floor((sz * i) / F.lit(N_BUCKETS)) + 1).cast("int")  # noqa: E731
    bounds = (
        sample.agg(arr.alias("_arr"))
        .select(
            F.when(
                sz >= N_BUCKETS,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(N_BUCKETS - 1)),
                        lambda i: F.element_at(F.col("_arr"), idx(i)),
                    )
                ),
            )
            .otherwise(F.array().cast("array<double>"))
            .alias("_bounds")
        )
    )

    # Bucket id = #boundaries strictly below the key: monotone in the
    # total order, so per-bucket rank + prior-bucket offsets compose to
    # the exact global rank; equal keys always share a bucket.
    withpid = d.crossJoin(F.broadcast(bounds)).withColumn(
        "_pid", F.size(F.filter("_bounds", lambda b: b < F.col("_bk")))
    )

    parts = list(partition_cols or [])
    w = Window.partitionBy(*parts, "_pid").orderBy(*order_exprs)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = withpid.withColumn("_lrn", F.row_number().over(w))
    for name, col in sums.items():
        local = local.withColumn(f"_l_{name}", F.sum(col).over(wcum))
    for name, col in maxes.items():
        local = local.withColumn(f"_lm_{name}", F.max(col).over(wcum))

    # Per-bucket totals: <= |partitions| x N_BUCKETS rows, so the
    # prefix-sum window below is bounded by construction — not a smell.
    stats = withpid.groupBy(*parts, "_pid").agg(
        F.count("*").alias("_cnt"),
        *[F.sum(col).alias(f"_s_{name}") for name, col in sums.items()],
        *[F.max(col).alias(f"_m_{name}") for name, col in maxes.items()],
    )
    woff = (
        Window.partitionBy(*parts) if parts else Window.partitionBy()
    ).orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = stats.select(
        *parts,
        "_pid",
        F.sum("_cnt").over(woff).alias("_rn_off"),
        *[F.sum(f"_s_{name}").over(woff).alias(f"_off_{name}") for name in sums],
        *[F.max(f"_m_{name}").over(woff).alias(f"_moff_{name}") for name in maxes],
    )

    out = local.join(F.broadcast(offsets), parts + ["_pid"]).withColumn(
        rank_name,
        (F.col("_lrn") + F.coalesce(F.col("_rn_off"), F.lit(0))).cast("long"),
    )
    for name in sums:
        out = out.withColumn(
            name, F.col(f"_l_{name}") + F.coalesce(F.col(f"_off_{name}"), F.lit(0))
        )
    for name in maxes:
        # greatest() ignores NULL operands, so the first bucket (no
        # prior offset) degrades to the local cummax — exactly the
        # partition-start semantics of MAX OVER UNBOUNDED PRECEDING
        out = out.withColumn(
            name, F.greatest(F.col(f"_lm_{name}"), F.col(f"_moff_{name}"))
        )
    drop = (
        ["_bk", "_bounds", "_pid", "_lrn", "_rn_off"]
        + [f"_l_{n}" for n in sums]
        + [f"_off_{n}" for n in sums]
        + [f"_lm_{n}" for n in maxes]
        + [f"_moff_{n}" for n in maxes]
    )
    return out.drop(*drop)


def int_ntile(rank: Column, n: Column, k: int) -> Column:
    """SQL ``NTILE(k)`` derived from a precomputed global row_number
    ``rank`` and total row count ``n`` — the first ``n % k`` tiles get
    ``ceil(n/k)`` rows, the rest ``floor(n/k)`` (the standard-mandated
    split, identical to Spark's and DuckDB's NTILE). Returns INT to
    match ``F.ntile``'s schema."""
    q = F.floor(n / F.lit(k)).cast("long")
    r = F.pmod(n, F.lit(k)).cast("long")
    big = q + 1
    cut = r * big
    small_tile = r + F.ceil((rank - cut) / F.greatest(q, F.lit(1)).cast("double"))
    return (
        F.when(rank <= cut, F.ceil(rank / big.cast("double")))
        .otherwise(small_tile)
        .cast("int")
    )
