"""Compaction: row-parity, file-count reduction, crash safety."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hrfco_data_pipeline_spark.sinks.compaction import (
    _count_data_files,
    compact_partitions,
)


def _fragmented_table(spark, path: str) -> int:
    """Write a date-partitioned table as many tiny files (append x4)."""
    df = spark.range(0, 2000).select(
        F.col("id"),
        (F.col("id") % 5).cast("string").alias("d"),
        (F.col("id") * 2.5).alias("v"),
    )
    for i in range(4):
        (
            df.filter(F.col("id") % 4 == i)
            .repartition(8)
            .write.partitionBy("d")
            .mode("append")
            .parquet(path)
        )
    return 2000


def test_compaction_reduces_files_keeps_rows(spark, tmp_path):
    path = str(tmp_path / "tbl")
    n = _fragmented_table(spark, path)
    before = _count_data_files(path)
    assert before > 40  # genuinely fragmented

    stats = compact_partitions(spark, path, ["d"])
    assert stats["rows"] == n
    assert stats["files_after"] <= 5  # one file per date partition
    assert stats["files_after"] < stats["files_before"] == before

    got = spark.read.parquet(path)
    assert got.count() == n
    # partition pruning still works post-compaction
    assert got.filter(F.col("d") == "3").count() == 400
    # idempotent: re-compacting is a no-op in file count
    again = compact_partitions(spark, path, ["d"])
    assert again["files_after"] == stats["files_after"]


def test_compaction_failed_swap_rolls_back(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "tbl")
    n = _fragmented_table(spark, path)

    # fail the staging→live rename (the worst moment: live dir already
    # moved aside) and assert the rollback restores the original
    import os

    real_rename = os.rename

    def flaky_rename(src, dst):
        if dst == path and src.endswith("__staging__"):
            raise OSError("simulated rename failure")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", flaky_rename)
    with pytest.raises(OSError, match="simulated"):
        compact_partitions(spark, path, ["d"])
    monkeypatch.undo()

    # original (uncompacted) table restored intact
    assert spark.read.parquet(path).count() == n


def test_compaction_recovers_from_kill_between_renames(
    spark, tmp_path, monkeypatch
):
    """A kill between the two commit renames (live dir moved aside,
    compacted staging dir not yet renamed in) runs no in-process
    rollback; the next compaction must heal the table, not fail on the
    missing path or drop the backup."""
    import os

    path = str(tmp_path / "tbl")
    n = _fragmented_table(spark, path)
    real_rename = os.rename

    class Killed(BaseException):
        pass

    def killing_rename(src, dst):
        if dst == path:
            raise Killed()
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", killing_rename)
    with pytest.raises(Killed):
        compact_partitions(spark, path, ["d"])
    monkeypatch.undo()
    assert not os.path.exists(path)

    stats = compact_partitions(spark, path, ["d"])
    assert stats["rows"] == n
    assert spark.read.parquet(path).count() == n
    assert os.listdir(tmp_path) == ["tbl"]


def _classified(spark, first: int, n: int):
    """``n`` classified observations in the shape ``write_fact`` reads."""
    return spark.range(first, first + n).select(
        F.format_string("S%04d", "id").alias("wlobscd"),
        F.format_string("2024-01-%02d 09:00", (F.col("id") % 3 + 1).cast("int"))
        .alias("obs_time_str"),
        (F.col("id") * 0.5).alias("water_level"),
        F.lit(None).cast("double").alias("flow_rate"),
        F.lit(False).alias("is_anomaly"),
        F.lit(None).cast("string").alias("flood_warning_level"),
        F.current_timestamp().alias("now"),
    )


def test_append_after_killed_compaction_keeps_committed_rewrite(
    spark, tmp_path, monkeypatch
):
    """A kill between compaction's renames leaves the committed rewrite
    in ``<table>__staging__`` and no live table. The next append must
    roll it forward before it recreates the live path; otherwise the
    table holds only the appended rows and the next swap deletes the
    rewrite as stale."""
    import os

    from hrfco_data_pipeline_spark.sinks.writers import write_fact

    path = str(tmp_path / "fact")
    write_fact(_classified(spark, 0, 100), path, 0, now="now")
    real_rename = os.rename

    class Killed(BaseException):
        pass

    def killing_rename(src, dst):
        if dst == path:
            raise Killed()
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", killing_rename)
    with pytest.raises(Killed):
        compact_partitions(spark, path, ["obs_date"])
    monkeypatch.undo()

    write_fact(_classified(spark, 100, 5), path, 1, now="now")
    assert spark.read.parquet(path).count() == 105
    assert os.listdir(tmp_path) == ["fact"]
    compact_partitions(spark, path, ["obs_date"])
    assert spark.read.parquet(path).count() == 105


def test_prune_partitions_drops_only_older(spark, tmp_path):
    from hrfco_data_pipeline_spark.sinks.compaction import prune_partitions

    path = str(tmp_path / "fact")
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02"), (3, "2024-01-03")],
        "id long, obs_date string",
    )
    df.write.partitionBy("obs_date").parquet(path)
    res = prune_partitions(path, "obs_date", keep_from="2024-01-02")
    assert res == {"dropped": 1, "kept": 2}
    back = spark.read.parquet(path)
    # partition values type-infer to DATE on read-back
    assert sorted(
        str(r.obs_date) for r in back.select("obs_date").collect()
    ) == ["2024-01-02", "2024-01-03"]


def test_backfill_replaces_only_named_partitions(spark, tmp_path):
    from hrfco_data_pipeline_spark.sinks.compaction import backfill_partitions

    path = str(tmp_path / "fact")
    spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02"), (3, "2024-01-02")],
        "id long, obs_date string",
    ).write.partitionBy("obs_date").parquet(path)
    # replay day 2 with corrected rows (one row instead of two)
    fix = spark.createDataFrame(
        [(99, "2024-01-02")], "id long, obs_date string"
    )
    backfill_partitions(fix, path, ["obs_date"])
    back = spark.read.parquet(path)
    rows = {(r.id, str(r.obs_date)) for r in back.collect()}
    assert rows == {(1, "2024-01-01"), (99, "2024-01-02")}


def test_observed_metrics_on_curation(spark):
    """df.observe: free pipeline instrumentation — kept/dropped
    counters ride the job with no extra pass over the data."""
    from pyspark.sql import functions as F
    from pyspark.sql import Observation

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    obs = Observation("curation")
    gated = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_in"),
        F.sum((F.length("text") >= 100).cast("long")).alias("n_long"),
    ).filter(F.length("text") >= 100)
    n_out = gated.count()
    assert obs.get["n_in"] == docs.count()
    assert obs.get["n_long"] == n_out
