"""The three physical hints: materialize, spread a small scan, block
pushdown. Each changes how a plan runs, never what it returns.

``materialized`` cuts a frame's lineage: reliable ``checkpoint()`` when
``sparkContext.setCheckpointDir`` has been called (survives executor
loss — required at cluster scale), ``localCheckpoint`` otherwise (fine
on local[N], fragile to block loss on a real cluster). Iterative loops
use it so each round starts from stored rows instead of re-embedding
every earlier round's plan, and a small substrate shared by several
consumers is computed once.

``parallelize_small_scan`` round-robins an under-split scan before a
CPU-heavy text kernel (see its docstring).

``no_pushdown`` wraps a column in a nondeterministic IDENTITY
(``element_at(shuffle(array(c)), 1)`` — a one-element array shuffle is
the identity, but ``shuffle`` is flagged nondeterministic), so a filter
built on it cannot be pushed down or used for constraint inference,
while its VALUE — and therefore the query result — stays fully
deterministic.

Why ``no_pushdown`` exists: PushDownPredicates substitutes project aliases into
predicates with no cost model. When a filter references a column whose
definition is an expensive derived expression (a timestamp parse, a
regex coercion, a formatter), pushing it below the projection — and
below any Repartition — re-inlines the whole derivation tree into the
scan-stage filter, where it is re-evaluated per scan row in addition
to the projection's own evaluation. On hydro.resample_10min at sf0.1
this doubled the per-row parse work inside the single-split scan task
and was worth ~2 s of the ~4 s warm time (measured r6); at cluster
scale the same rewrite costs ×2 CPU on the whole parse chain.

Use it ONLY for filters whose predicate is expensive-derived AND whose
selectivity at the scan would not save meaningful I/O (the rows are
kept in memory either way). For filters on stored columns, pushdown
is what you want — never shield those.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def materialized(df: DataFrame) -> DataFrame:
    """``df`` computed now, with its lineage cut (see module docstring)."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def parallelize_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition for UNDER-SPLIT scans feeding CPU-heavy
    text kernels (shingling, per-shingle hashing, regex) — a LOCAL
    testdata mitigation, not a cluster pattern.

    The driver testdata ships one single-row-group parquet file per
    table, so Spark plans the scan as ONE task and a shingle explode
    serializes on one core (measured: 3-gram shingle+md5 over sf0.1
    documents 6.6 s single-task vs 2.8 s after repartition(32) —
    the base table is ~50 MB, so the extra exchange is noise). At real
    scale a 100 TB corpus arrives as thousands of splits and this
    helper NO-OPS: it repartitions only when the scan's split count is
    below ``max(2, defaultParallelism // 2)`` and below
    defaultParallelism itself, so never to a target at or below the
    split count (no 1-way exchange on local[1]). Only the heavy text
    operators and the synthetic wire source opt in — a blanket
    post-scan repartition was tried and reverted (it taxes every
    window/agg query with a second exchange, see
    sources/tables.load_table's note).
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min(target, max(2, target // 2)):
        return df
    return df.repartition(target)


def no_pushdown(col: Column) -> Column:
    """Identity on ``col`` that predicate pushdown cannot move or
    duplicate (see module docstring)."""
    return F.element_at(F.shuffle(F.array(col)), 1)
