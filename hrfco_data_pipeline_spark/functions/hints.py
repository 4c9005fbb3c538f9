"""The three physical hints: materialize, spread a small scan, block
pushdown. Each changes how a plan runs, never what it returns.

``materialized`` cuts a frame's lineage: reliable ``checkpoint()`` when
``sparkContext.setCheckpointDir`` has been called (survives executor
loss — required at cluster scale), ``localCheckpoint`` otherwise (fine
on local[N], fragile to block loss on a real cluster). Iterative loops
use it so each round starts from stored rows instead of re-embedding
every earlier round's plan, and a small substrate shared by several
consumers is computed once.

``parallelize_small_scan`` round-robins an under-split scan of at least
``SPREAD_MIN_BYTES`` before a CPU-heavy kernel, deciding from the scan's
file index alone (see its docstring).

``no_pushdown`` wraps a column in a nondeterministic IDENTITY
(``element_at(shuffle(array(c), 0), 1)`` — a one-element array shuffle
is the identity, but ``shuffle`` is flagged nondeterministic), so a filter
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


# A scan smaller than this is never spread. At sf0.1 the smallest scan
# spread is `documents` (594,568 B; `embeddings` 798,695 B, `events`
# 2,045,762 B); there the spread pays: without it hydro_alert_counts went
# 1.33 -> 2.57 s warm, hydro_fact_hourly_rollup 1.67 -> 2.11 s and
# hydro_resample_10min 4.36 -> 5.31 s (100k events rows). Below it sit
# perfbench's 10,000-row `events` (221 KB) and the sf0.01 `events`
# (221,075 B), `embeddings` (193,638 B) and `documents` (65,049 B): there
# a request pays per Spark job and stage, not per row, and the exchange
# adds a one-task scan stage ahead of the work (perfbench dashboard_reads,
# 4-CPU box, local[4]: 5.6 -> 3.8 tasks and 199 -> 98 ms task time per
# request without it and the table-load job).
SPREAD_MIN_BYTES = 512 * 1024


def file_indexes(df: DataFrame) -> list:
    """The JVM file indexes of ``df``'s file-scan leaves, in plan order
    (a join's left side first), read from the analyzed plan: no
    physical planning, no job."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    indexes = []
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        relation = leaf.relation()
        if relation.getClass().getSimpleName() == "HadoopFsRelation":
            indexes.append(relation.location())
    return indexes


def _scan_splits(df: DataFrame, size: int, files: int) -> int:
    """The partitions Spark's file scan makes of ``files`` files of
    ``size`` bytes in all, taken as equal-sized (exact for one file):
    FilePartition's split size, each file cut into splits of that size,
    the splits packed largest first."""
    session = df.sparkSession._jsparkSession
    conf = session.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    min_parts = min_parts.get() if min_parts.isDefined() else session.leafNodeDefaultParallelism()
    split = min(conf.filesMaxPartitionBytes(), max(open_cost, (size + files * open_cost) // min_parts))
    full, rest = divmod(size // files, split)
    if not rest:
        return files * full
    # a full split fills a partition; the ``rest`` splits share one
    # while they fit: the first, then each one costs rest + open_cost
    per = 1 + (split - rest) // (rest + open_cost)
    return files * full + -(-files // per)


def parallelize_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition for UNDER-SPLIT scans feeding CPU-heavy
    kernels (shingling, per-shingle hashing, regex, the wire parse) — a
    LOCAL testdata mitigation, not a cluster pattern.

    The driver testdata ships one single-row-group parquet file per
    table, so Spark plans the scan as ONE task and a shingle explode
    serializes on one core (measured: 3-gram shingle+md5 over sf0.1
    documents 6.6 s single-task vs 2.8 s after repartition(32)).

    The decision reads the scan's size and file count from its file
    index (``file_indexes``): no ``df.rdd``, no physical planning, no job.
    It spreads to ``defaultParallelism`` only when all of these hold:

    - ``df`` reads a file scan (another frame is returned as is);
    - the scan holds at least ``SPREAD_MIN_BYTES``: below it the
      exchange and its one-task scan stage cost a small request more
      than the spread saves (the constant's comment has the numbers);
    - the scan is not wide enough already: Spark splits it into fewer
      than ``max(2, defaultParallelism // 2)`` partitions and fewer than
      ``defaultParallelism`` (``_scan_splits``), so never to a target at
      or below the split count (no 1-way exchange on local[1]).

    At real scale a 100 TB corpus arrives as thousands of splits and
    this helper no-ops. Only the heavy text operators and the synthetic
    wire source opt in — a blanket post-scan repartition was tried and
    reverted (it taxes every window/agg query with a second exchange,
    see sources/tables.load_table's note).
    """
    scans = file_indexes(df)
    if not scans:
        return df
    # the first scan is the streamed side of the join shapes callers build
    scan = scans[0]
    size, files = scan.sizeInBytes(), len(scan.inputFiles())
    target = df.sparkSession.sparkContext.defaultParallelism
    if size < SPREAD_MIN_BYTES or _scan_splits(df, size, files) >= min(target, max(2, target // 2)):
        return df
    return df.repartition(target)


def no_pushdown(col: Column) -> Column:
    """Identity on ``col`` that predicate pushdown cannot move or
    duplicate (see module docstring)."""
    # a fixed seed: Spark writes shuffle's seed into the generated code,
    # and an unseeded shuffle gets a fresh random one at every analysis,
    # so each build of the same query compiled new classes (and the JIT
    # compiled them again) instead of hitting the codegen cache
    return F.element_at(F.shuffle(F.array(col), 0), 1)
