"""Batch/micro-batch sinks mirroring the reference's storage fan-out.

Reference semantics → Spark-idiomatic form:
- W3 MinIO JSON archive (HRFCOStorageService.java:143-158):
  ``{kind}/{date}`` partitioned files. We partition by *event* date, not
  the reference's wall-clock now (HRFCOStorageService.java:207), whose
  path date would differ when a batch is replayed.
- W4 Timescale hypertable append (TimescaleDBRepository.java:136-161):
  date-partitioned parquet — hypertable ≙ time partitioning; bucket or
  Z-order by observation_code stands in for the secondary indexes.
- W2 Mongo station upsert (MongoDBRepository.java:90-108): keyed MERGE.
  Without a transactional table format in this container we implement
  merge-by-rewrite (full-outer join + overwrite); on a real deployment
  this is one ``MERGE INTO`` on Delta/Iceberg.
- W8 DLQ (DeadLetterQueueProducer.java:49-86): append-only envelope
  dataset.
- W7 alert publish (AlertPublisher.java:43-82): append-only alert rows
  (the Kafka topic's file-sink stand-in).

All writers take already-classified DataFrames; the fan-out (W6) is
``coalesce(1) → persist() → four writes → unpersist()`` in
streaming/pipeline.py, replacing the reference's 3-thread executor: one
partition, one cache and one batch clock per micro-batch, so each write
is one task and one file per partition directory. The single partition
relies on the micro-batch bound of the source (the file source's
``maxFilesPerTrigger``, the Kafka source's ``maxOffsetsPerTrigger``).
``write_fact``, ``write_dlq`` and ``write_alerts`` stamp from the batch
clock, the ``now`` column the stream passes them.

Every micro-batch appender — the four pipeline sinks and the curation
stores (streaming/curation.py) — goes through ``append_batch``, which
is exactly-once on the micro-batch id: a replayed batch is skipped, a
batch whose commit crashed midway is undone and written again. One
marker, ``COMMITTED``, holds the highest batch id a table contains; the
whole-table swaps (``swap_in``: compaction, merge_stations,
snapshot_sink, the LM count merge) commit with the same file.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hrfco_data_pipeline_spark.sinks.reliability import batch_function

# the one commit marker: the highest batch id a table contains; a
# whole-table swap writes it into its staging dir after the data
COMMITTED = "_committed"
# where append_batch writes a batch before moving its files into place;
# Spark's readers skip ``_``-prefixed names
STAGING = "_staging"


def committed_batch(path: str) -> int:
    """The batch id in ``path``'s ``COMMITTED`` marker, -1 when the
    table or its marker does not exist yet."""
    try:
        with open(os.path.join(path, COMMITTED)) as fh:
            return int(fh.read())
    except (OSError, ValueError):
        return -1


def append_batch(
    out: DataFrame, path: str, batch_id: int, fmt: str, *partition_by: str
) -> None:
    """Append micro-batch ``batch_id`` to the ``fmt`` dataset at
    ``path`` exactly once.

    Commit: Spark writes the batch to ``<path>/_staging/b<id>/``; each
    data file then moves into the partition directory it belongs to,
    named ``b<id>-<Spark's name>``; the marker is bumped to the id, and
    the staging dir is removed. A batch at or below the marker is
    skipped, so a replayed batch writes nothing. ``recover_swap`` runs
    first: it heals a whole-table swap a crash left half done, and
    undoes a commit a crash left midway (see ``_clear_staging``), so the
    replay writes the batch again. The common path reads one marker
    file and lists nothing. A write that raises an ``Exception`` is
    undone before the error propagates, so a sink under a breaker leaves
    no staging dir. The moves are driver-side renames of local paths,
    the same assumption as ``swap_in``'s.

    The batch ids are the checkpoint's: the output directory and its
    checkpoint stay paired. A fresh checkpoint restarts the ids at 0,
    and its batches would be skipped as already committed.
    """
    recover_swap(path)
    if batch_id <= committed_batch(path):
        return
    tag = f"b{batch_id:012d}"
    staged = os.path.join(path, STAGING, tag)
    try:
        writer = out.write
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.format(fmt).save(staged)
        for root, _dirs, files in os.walk(staged):
            dest = os.path.normpath(os.path.join(path, os.path.relpath(root, staged)))
            for name in files:
                if not name.startswith(("_", ".")):
                    os.makedirs(dest, exist_ok=True)
                    os.rename(os.path.join(root, name), os.path.join(dest, f"{tag}-{name}"))
        tmp = os.path.join(path, f".{COMMITTED}.tmp")
        with open(tmp, "w") as fh:
            fh.write(str(batch_id))
        os.replace(tmp, os.path.join(path, COMMITTED))
    except Exception:
        _clear_staging(path)
        raise
    shutil.rmtree(os.path.join(path, STAGING))


def _clear_staging(path: str) -> None:
    """Finish or undo the batch commits a crash left in
    ``<path>/_staging``. A batch at or below the marker had committed:
    only its staging dir goes. A batch above it may have moved some of
    its files into place: those (named ``b<id>-…``) are removed too, so
    its replay writes it whole."""
    staging = os.path.join(path, STAGING)
    if not os.path.isdir(staging):
        return
    committed = committed_batch(path)
    undo = tuple(f"{tag}-" for tag in os.listdir(staging) if int(tag[1:]) > committed)
    if undo:
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for name in files:
                if name.startswith(undo):
                    os.remove(os.path.join(root, name))
    shutil.rmtree(staging)


def write_archive(classified: DataFrame, path: str, batch_id: int) -> None:
    """W3: kind/event-date-partitioned JSON archive."""
    kind = F.when(F.col("is_anomaly"), "anomalies").otherwise("normal")
    date = F.substring("obs_time_str", 1, 10)
    out = classified.withColumn("kind", kind).withColumn("obs_date", date)
    append_batch(out, path, batch_id, "json", "kind", "obs_date")


def write_fact(classified: DataFrame, path: str, batch_id: int, now: str) -> None:
    """W4: the relational fact table (hypertable analog).

    Schema mirrors hrfco.water_level_data (TimescaleDBRepository.java:
    81-93); partitioned by observation date so time-range queries prune.
    ``created_at`` and the observation-time fallback read the timestamp
    column ``now`` of ``classified``.
    """
    from hrfco_data_pipeline_spark.functions.coercion import parse_obs_time_kst

    fact = classified.select(
        F.col("wlobscd").alias("observation_code"),
        parse_obs_time_kst("obs_time_str", now=now).alias("observation_time"),
        F.col("water_level"),
        F.col("flow_rate"),
        F.coalesce("is_anomaly", F.lit(False)).alias("is_anomaly"),
        F.col("flood_warning_level"),
        F.col(now).alias("created_at"),
    ).withColumn("obs_date", F.to_date("observation_time"))
    append_batch(fact, path, batch_id, "parquet", "obs_date")


def write_dlq(dlq: DataFrame, path: str, batch_id: int, now: str) -> None:
    """W8: append failure envelopes, adding the publish ``timestamp``
    (epoch ms) from the timestamp column ``now`` of ``dlq``, which is
    not written."""
    append_batch(
        dlq.select(*[c for c in dlq.columns if c != now], F.unix_millis(now).alias("timestamp")),
        path,
        batch_id,
        "parquet",
    )


def write_alerts(alerts: DataFrame, path: str, batch_id: int, now: str) -> None:
    """W7: append alert rows, adding the publish ``timestamp`` (epoch
    ms) from the timestamp column ``now`` of ``alerts``, which is not
    written."""
    append_batch(
        alerts.withColumn("timestamp", F.unix_millis(now)).drop(now),
        path,
        batch_id,
        "parquet",
    )


def recover_swap(table_path: str) -> str | None:
    """Complete or roll back an interrupted ``swap_in`` of
    ``table_path`` (its ``<table>__staging__`` / ``<table>__old__``
    dirs), then an interrupted ``append_batch`` commit inside it
    (``_clear_staging``).

    A crash between the two commit renames leaves NO live table while
    the only full copies sit in the staging dir (the just-written
    result) and/or the backup dir (the previous state). Without this
    recovery, the next write would treat the table as absent and
    silently rebuild from the new batch alone — losing all accumulated
    state.

    Resolution order when the live table is missing:
    1. staging dir containing ``COMMITTED`` (written strictly after
       the data, so its presence proves the write fully committed) →
       roll FORWARD: rename staging to live.
    2. otherwise a backup dir → roll BACK: rename backup to live (the
       write that crashed is retried by the caller's replay).
    When the live table exists, leftover staging/backup dirs are stale
    (crash after the final rename) and are removed.

    Returns ``"forward"``, ``"back"``, or ``None`` (nothing to do).
    """
    table_path = table_path.rstrip("/")
    staging = f"{table_path}__staging__"
    backup = f"{table_path}__old__"
    healed = None
    if os.path.isdir(table_path):
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(backup, ignore_errors=True)
    elif os.path.isdir(staging) and os.path.exists(os.path.join(staging, COMMITTED)):
        os.rename(staging, table_path)
        shutil.rmtree(backup, ignore_errors=True)
        healed = "forward"
    elif os.path.isdir(backup):
        os.rename(backup, table_path)
        shutil.rmtree(staging, ignore_errors=True)
        healed = "back"
    _clear_staging(table_path)
    return healed


def swap_in(table_path: str, write: Callable[[str], None], stamp: str) -> None:
    """Replace the directory ``table_path`` with what ``write`` produces,
    never leaving a half-replaced table: the one staged-swap commit of
    every sink that rewrites a whole directory.

    ``recover_swap`` first heals a crash of an earlier swap; then
    ``write(staging)`` fills ``<table>__staging__`` while the live
    table is untouched (a write plan may read the live table lazily,
    so nothing may overwrite it mid-computation, and ``write`` may
    raise to abort — e.g. a failed verification), then ``COMMITTED``
    is written into staging with ``stamp`` (a batch id) as its content,
    strictly after the data, and the staging dir is swapped in with two renames:
    live → ``<table>__old__``, staging → live. A crash before the first
    rename leaves the live table intact; a crash between the renames is
    healed by ``recover_swap`` on the next call (roll forward from the
    marked staging dir, else back from the backup); an ``OSError`` on
    the second rename is rolled back in process.

    The marker is the engine's own file, NOT the Hadoop committer's
    ``_SUCCESS``, whose presence depends on a deployment config
    (``mapreduce.fileoutputcommitter.marksuccessfuljobs``): on a cluster
    that disables it the roll-forward path would silently never engage.
    Rename-as-commit assumes a filesystem with atomic dir rename
    (local/HDFS); on S3-like stores use a transactional table format.
    """
    table_path = table_path.rstrip("/")
    recover_swap(table_path)
    staging = f"{table_path}__staging__"
    backup = f"{table_path}__old__"
    shutil.rmtree(staging, ignore_errors=True)
    write(staging)
    with open(os.path.join(staging, COMMITTED), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(backup, ignore_errors=True)
    existed = os.path.isdir(table_path)
    if existed:
        os.rename(table_path, backup)
    try:
        os.rename(staging, table_path)
    except OSError:
        if existed:
            os.rename(backup, table_path)
        raise
    shutil.rmtree(backup, ignore_errors=True)


def merge_stations(
    spark: SparkSession, table_path: str, updates: DataFrame
) -> None:
    """W2: upsert station metadata by ``wlobscd`` (PutMongo Upsert=true
    analog).

    Merge-by-rewrite: existing rows not in `updates` are kept, matched
    keys are replaced, new keys inserted. The stations dim is tiny, so
    a full rewrite is cheap at any scale; swap for Delta/Iceberg
    ``MERGE INTO`` where a transactional format is available.

    Durability: the merged result replaces the table through
    ``swap_in``.
    """

    def _write(staging: str) -> None:
        try:
            current = spark.read.parquet(table_path)
        except Exception:
            merged = updates
        else:
            merged = current.join(updates, on="wlobscd", how="left_anti").unionByName(
                updates, allowMissingColumns=True
            )
        merged.write.mode("overwrite").parquet(staging)

    swap_in(table_path, _write, "-1")  # the dim holds no micro-batch


def write_range_sharded(
    df: DataFrame, path: str, col: str, n_shards: int
) -> None:
    """Range-partitioned, within-shard-sorted output — the 100 TB
    pattern for key-ordered shard files (index-friendly parquet,
    merge-joinable downstream reads).

    ``repartitionByRange`` computes shard boundaries from a distributed
    reservoir sample (no global sort, one range-exchange) and
    ``sortWithinPartitions`` orders each shard locally — so the global
    order exists across files without any single node seeing the whole
    data. The equal-depth twin a small-scale oracle can check is
    ``plans/llm.docs_range_shards`` (window ntile); this writer is the
    scale path.
    """
    (
        df.repartitionByRange(n_shards, F.col(col))
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .parquet(path)
    )


def snapshot_sink(out_dir: str):
    """foreachBatch sink that maintains an always-consistent SNAPSHOT
    of a complete/update-mode streaming aggregate: each batch replaces
    the previous snapshot with the full current result through
    ``swap_in`` (readers always see one complete version — the parquet
    analog of a materialized view refresh), its ``COMMITTED`` marker
    holding the batch id. Idempotent across batch replays: re-writing
    batch N just swaps in the same content."""

    def _write(batch_df, batch_id: int) -> None:
        swap_in(out_dir, batch_df.write.mode("overwrite").parquet, str(batch_id))

    return batch_function(_write)
