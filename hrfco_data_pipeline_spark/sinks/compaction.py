"""Small-file compaction for partitioned parquet append sinks.

Micro-batch appends (streaming/pipeline.py writes one file set per
trigger per partition) fragment the fact table into thousands
of tiny files — the classic 100 TB operational tax: NameNode/listing
pressure, per-file open cost, undersized scan tasks. Compaction
rewrites each partition's fragments into ~target-size files.

Spark-idiomatic form: read → repartition on the partition columns
(one shuffle keyed so each output partition's rows co-locate) →
``maxRecordsPerFile`` caps file size → row-count check → the staged
swap of every directory-replacing sink (``writers.swap_in``).
On Delta/Iceberg this is ``OPTIMIZE`` / ``rewriteDataFiles``; this is
the plain-parquet equivalent.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hrfco_data_pipeline_spark.sinks.writers import committed_batch, recover_swap, swap_in


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
) -> dict[str, int]:
    """Rewrite a parquet dataset into few large files per partition
    (at most 1,000,000 rows per file; one file when unpartitioned).

    Returns {"files_before": n, "files_after": m, "rows": r}. The
    rewrite replaces the table through ``writers.swap_in`` only after
    its row count matches the original, so a crash or a bad rewrite
    never loses the table, and a crash of an earlier compaction or
    append is healed on entry. The swap carries the table's marker, the
    highest micro-batch id it holds, so a replayed batch stays skipped.
    """
    recover_swap(path)
    stats: dict[str, int] = {}

    def _write(staging: str) -> None:
        df = spark.read.parquet(path)
        stats["rows"] = df.count()
        stats["files_before"] = _count_data_files(path)
        # repartition on the partition columns: each output task holds
        # complete hive-partitions, so every partition compacts to one
        # file (oversized ones split by maxRecordsPerFile).
        if partition_cols:
            compacted = df.repartition(*[F.col(c) for c in partition_cols])
        else:
            compacted = df.repartition(1)
        writer = compacted.write.mode("overwrite").option(
            "maxRecordsPerFile", 1_000_000
        )
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(staging)
        # verify before swapping — never replace good data with a bad rewrite
        recount = spark.read.parquet(staging).count()
        if recount != stats["rows"]:
            shutil.rmtree(staging, ignore_errors=True)
            raise RuntimeError(
                f"compaction row mismatch: {stats['rows']} -> {recount}"
            )

    swap_in(path, _write, str(committed_batch(path)))
    return {**stats, "files_after": _count_data_files(path)}


def _count_data_files(path: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(path):
        n += sum(
            1
            for f in files
            if not f.startswith(("_", "."))
        )
    return n


def prune_partitions(
    path: str,
    partition_col: str,
    keep_from: str,
) -> dict[str, int]:
    """Retention pruning for a hive-partitioned sink: atomically drop
    every ``partition_col=<value>`` directory whose value sorts BELOW
    ``keep_from`` (ISO dates compare lexicographically, so a date
    string is the natural cutoff).

    Plain-parquet equivalent of ``DELETE WHERE obs_date < cutoff`` +
    ``VACUUM`` on a table format — but O(partitions) directory renames,
    never a data rewrite. Each doomed partition is moved aside to a
    ``.trash-<value>`` sibling first and the trash dirs are removed
    only after every rename succeeded, so a crash mid-prune leaves
    every partition either fully present or fully moved-aside
    (recoverable by renaming back); readers never observe a
    half-deleted partition directory.

    Returns {"dropped": n, "kept": m}.
    """
    prefix = f"{partition_col}="
    root = path.rstrip("/")
    doomed, kept = [], 0
    for name in sorted(os.listdir(root)):
        if not name.startswith(prefix):
            continue
        value = name[len(prefix):]
        if value < keep_from:
            doomed.append(name)
        else:
            kept += 1
    trash = []
    for name in doomed:
        t = os.path.join(root, f".trash-{name}")
        # a leftover trash dir from a crashed prior prune would block
        # the rename — it was already condemned, clear it first
        shutil.rmtree(t, ignore_errors=True)
        os.rename(os.path.join(root, name), t)
        trash.append(t)
    for t in trash:
        shutil.rmtree(t, ignore_errors=True)
    return {"dropped": len(doomed), "kept": kept}


def backfill_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
) -> None:
    """Idempotent parquet backfill: re-write exactly the partitions
    present in ``df`` and leave every other partition untouched —
    Spark's DYNAMIC partition-overwrite mode, the correct re-run
    semantics for "this day's data was wrong, replay it" (a plain
    ``overwrite`` would drop the whole table; ``append`` would
    double-count).

    The conf is set per-write via ``partitionOverwriteMode`` so the
    session default stays static for other writers. At 100 TB a
    backfill shuffles only the replayed dates' rows; downstream
    readers see each affected partition replaced atomically (per
    partition directory, by the committer's rename).
    """
    (
        df.write.partitionBy(*partition_cols)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
