"""Focused equivalence pins for the r16 optimization-round rewrites.

Each test pins an optimized operator against the NAIVE construction it
replaced, on real testdata — the oracle already proves end-to-end
value parity, these pin the specific internal identity the rewrite
leans on, so a future edit that breaks the identity fails here with a
pointed message instead of an opaque oracle diff.
"""

from __future__ import annotations

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from hrfco_data_pipeline_spark.session import get_spark

    return get_spark(app_name="r16-optimization-tests")


def test_layout_two_level_ntile_cut_matches_row_level_window(spark):
    """layout_pruning_report's r16 two-level cut (bounded per-cell
    aggregate + straddler-only row ranks) must reproduce the plain
    NTILE(64) OVER (ORDER BY code, uid) shard assignment bit-for-bit:
    per-shard n_rows and bboxes equal for BOTH curve arms."""
    from hrfco_data_pipeline_spark.operators.bucketing import (
        hilbert_index,
        morton_interleave,
    )
    from hrfco_data_pipeline_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("uid"),
        F.col("l_partkey").cast("long").alias("pk"),
        F.col("l_suppkey").cast("long").alias("sk"),
    )
    bounds = li.agg(
        F.min("pk").alias("min_pk"),
        F.max("pk").alias("max_pk"),
        F.min("sk").alias("min_sk"),
        F.max("sk").alias("max_sk"),
    )
    q = li.crossJoin(F.broadcast(bounds)).select(
        "uid",
        "pk",
        "sk",
        F.expr("((pk - min_pk) * 256) div (max_pk - min_pk + 1)").alias("qx"),
        F.expr("((sk - min_sk) * 256) div (max_sk - min_sk + 1)").alias("qy"),
    )
    codes = q.select(
        "uid",
        "pk",
        "sk",
        morton_interleave(F.col("qx"), F.col("qy")).alias("mz"),
        hilbert_index(F.col("qx"), F.col("qy"), bits=8).alias("hz"),
    )

    def naive_arm(code: str):
        w = Window.orderBy(F.asc(code), F.asc("uid"))
        return (
            codes.withColumn("shard", F.ntile(64).over(w))
            .groupBy("shard")
            .agg(
                F.count("*").alias("n_rows"),
                F.min("pk").alias("pk_lo"),
                F.max("pk").alias("pk_hi"),
                F.min("sk").alias("sk_lo"),
                F.max("sk").alias("sk_hi"),
            )
        )

    from hrfco_data_pipeline_spark.plans.relational import (
        layout_pruning_report,
    )

    got = {
        r["layout"]: r
        for r in layout_pruning_report(spark, SF).collect()
    }
    for code, name in [("mz", "zorder"), ("hz", "hilbert")]:
        shards = naive_arm(code)
        hit = (
            (F.col("pk_hi") >= 500)
            & (F.col("pk_lo") <= 700)
            & (F.col("sk_hi") >= 20)
            & (F.col("sk_lo") <= 40)
        )
        want = shards.agg(
            F.count("*").alias("n_shards"),
            F.sum(hit.cast("long")).alias("shards_scanned"),
            F.sum(F.when(hit, F.col("n_rows")).otherwise(F.lit(0))).alias(
                "rows_scanned"
            ),
            F.sum("n_rows").alias("rows_total"),
        ).collect()[0]
        g = got[name]
        assert g["n_shards"] == want["n_shards"], name
        assert g["shards_scanned"] == want["shards_scanned"], name
        assert g["rows_scanned"] == want["rows_scanned"], name
        assert g["rows_total"] == want["rows_total"], name


def test_double_mass_basin_total_equals_direct_day_aggregate(spark):
    """hydro_double_mass' r16 basin table derives the per-day total by
    re-aggregating the per-station daily table; pin it against the
    direct per-day aggregate over the base rows (exact integer
    cents, so equality is bitwise)."""
    from hrfco_data_pipeline_spark.plans.hydro import classified

    c = classified(spark, SF)
    base = c.filter(
        F.col("water_level").isNotNull() & (F.length("ymdhm") == 12)
    ).select(
        F.col("wlobscd").alias("station"),
        F.substring("ymdhm", 1, 8).alias("day"),
        F.round(F.col("water_level") * 100).cast("long").alias("cents"),
    )
    sd = base.groupBy("station", "day").agg(
        F.sum("cents").alias("s_cents")
    )
    via_sd = {
        r["day"]: r["d"]
        for r in sd.groupBy("day")
        .agg(F.sum("s_cents").alias("d"))
        .collect()
    }
    direct = {
        r["day"]: r["d"]
        for r in base.groupBy("day").agg(F.sum("cents").alias("d")).collect()
    }
    assert via_sd == direct and via_sd
