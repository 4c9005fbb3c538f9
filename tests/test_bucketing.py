"""Bucketed co-located join: shuffle elimination is visible in the plan."""

from __future__ import annotations

import pyspark.sql.functions as F

from hrfco_data_pipeline_spark.operators.bucketing import (
    bucketed_join,
    write_bucketed,
)
from hrfco_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_bucketed_join_elides_shuffle(spark, tmp_path):
    # managed tables land in ./spark-warehouse (gitignored)
    import shutil

    for t in ("li_b", "ord_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders")
    write_bucketed(li, "li_b", "l_orderkey", n_buckets=8)
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "ord_b",
        "l_orderkey",
        n_buckets=8,
    )

    joined = bucketed_join(
        spark, "li_b", "ord_b", on="l_orderkey", force_sort_merge=True
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # co-bucketed sides: no shuffle exchange anywhere in the join plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" in plan

    # and the join result is correct
    expect = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).count()
    assert joined.count() == expect

    # contrast: the plain (unbucketed) join does shuffle both sides
    plain_plan = (
        li.hint("merge")
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" in plain_plan

    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")


def test_zorder_shards_are_tight_rectangles(spark):
    """Top-8-bit Morton shards fix the high nibble of both quantized
    dims, so every shard's bounding rectangle spans <= ~1/16 of each
    key range (+ one quantization cell of slack) — the two-column
    data-skipping property single-key sorting cannot give."""
    from hrfco_data_pipeline_spark.plans.relational import lineitem_zorder_layout

    rows = lineitem_zorder_layout(spark, "/root/testdata/sf0.001").collect()
    assert rows, "no shards produced"
    pk_range = max(r.pk_hi for r in rows) - min(r.pk_lo for r in rows) + 1
    sk_range = max(r.sk_hi for r in rows) - min(r.sk_lo for r in rows) + 1
    pk_cap = pk_range / 16 + pk_range / 256 + 2
    sk_cap = sk_range / 16 + sk_range / 256 + 2
    for r in rows:
        assert r.pk_hi - r.pk_lo + 1 <= pk_cap, r
        assert r.sk_hi - r.sk_lo + 1 <= sk_cap, r
    assert sum(r.n_rows for r in rows) == spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).count()


def test_zorder_write_yields_prunable_files(spark, tmp_path):
    """Files written Z-ordered must each cover a narrow range of BOTH
    keys (per-file min/max spans well under the full key range), the
    property that makes parquet row-group stats prune two-dimensional
    predicates. A single-key-sorted layout concentrates only the
    leading key."""
    import pyspark.sql.functions as F

    from hrfco_data_pipeline_spark.operators.bucketing import (
        morton_interleave,
        write_zorder,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        F.col("l_partkey").cast("long").alias("pk"),
        F.col("l_suppkey").cast("long").alias("sk"),
    )
    b = li.agg(
        F.min("pk").alias("min_pk"), F.max("pk").alias("max_pk"),
        F.min("sk").alias("min_sk"), F.max("sk").alias("max_sk"),
    )
    q = li.crossJoin(F.broadcast(b)).select(
        "pk", "sk",
        F.expr("((pk - min_pk) * 256) div (max_pk - min_pk + 1)").alias("qx"),
        F.expr("((sk - min_sk) * 256) div (max_sk - min_sk + 1)").alias("qy"),
    )
    out = str(tmp_path / "zorded")
    write_zorder(
        q.select("pk", "sk", "qx", "qy"),
        out,
        morton_interleave(F.col("qx"), F.col("qy")),
    )
    per_file = (
        spark.read.parquet(out)
        .withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            F.min("pk").alias("pk_lo"), F.max("pk").alias("pk_hi"),
            F.min("sk").alias("sk_lo"), F.max("sk").alias("sk_hi"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    assert 2 <= len(per_file) <= 16
    pk_range = max(r.pk_hi for r in per_file) - min(r.pk_lo for r in per_file) + 1
    sk_range = max(r.sk_hi for r in per_file) - min(r.sk_lo for r in per_file) + 1
    # average per-file coverage must be far below the full range on
    # BOTH dims (a 16-way single-key range layout leaves the second
    # dim at ~full range in every file)
    avg_pk = sum(r.pk_hi - r.pk_lo + 1 for r in per_file) / len(per_file)
    avg_sk = sum(r.sk_hi - r.sk_lo + 1 for r in per_file) / len(per_file)
    assert avg_pk <= pk_range * 0.6, (avg_pk, pk_range)
    assert avg_sk <= sk_range * 0.6, (avg_sk, sk_range)
    assert sum(r.n for r in per_file) == li.count()


def test_analyze_table_statistics_feed_cbo(spark, tmp_path):
    """ANALYZE TABLE statistics reach the optimizer: after computing
    stats, the table's sizeInBytes/rowCount appear in the optimized
    plan's cost annotations — the CBO input that drives broadcast and
    join-reorder decisions on a real warehouse."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS li_stats")
    shutil.rmtree("spark-warehouse/li_stats", ignore_errors=True)
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.limit(500).write.mode("overwrite").saveAsTable("li_stats")
    spark.sql("ANALYZE TABLE li_stats COMPUTE STATISTICS")
    stats = spark.sql("DESCRIBE EXTENDED li_stats").collect()
    stat_row = [r for r in stats if r.col_name == "Statistics"]
    assert stat_row, "ANALYZE produced no Statistics row"
    assert "500 rows" in stat_row[0].data_type
    # with CBO enabled the optimized plan carries the row count
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        cost_plan = (
            spark.table("li_stats")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .toString()
        )
        assert "rowCount=500" in cost_plan
    finally:
        spark.conf.unset("spark.sql.cbo.enabled")
