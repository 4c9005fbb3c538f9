"""r9 operators: Theil-Sen robustness on crafted data, mutual-kNN
graph properties, SCD2 as-of consistency, lateness-audit equivalence
to the plain global window, double-mass/vacuum/PMI/CCNet invariants."""

from __future__ import annotations

import datetime

from pyspark.sql import Window
from pyspark.sql import functions as F

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_theilsen_ignores_single_outlier_month(spark, tmp_path):
    """Counts rising exactly 1/month over 10 months with one wild
    outlier month: the pairwise-slope median must still be exactly
    1.0 (the robustness Theil-Sen exists for), while the quartiles
    bracket it."""
    from hrfco_data_pipeline_spark.plans.relational import (
        orders_theilsen_trend,
    )

    rows = []
    for m in range(10):
        n = 100 if m == 5 else 5 + m
        for i in range(n):
            rows.append(
                ("1-URGENT", datetime.date(1992, m + 1, 1 + (i % 28)))
            )
    spark.createDataFrame(
        rows, ["o_orderpriority", "o_orderdate"]
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))

    out = orders_theilsen_trend(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_pairs == 45
    assert r.theilsen_slope == 1.0
    assert r.slope_p25 <= 1.0 <= r.slope_p75


def test_mutual_knn_graph_properties(spark):
    """Structural invariants of the mutual k-NN graph: at most k
    directed edges per source with ranks 1..k; rank 1 carries the
    max cosine; the mutual flag is SYMMETRIC (a marks b mutual iff b
    marks a mutual); every edge stays within one label block."""
    from hrfco_data_pipeline_spark.plans.llm import embedding_mutual_knn

    edges = embedding_mutual_knn(spark, SF001).collect()
    assert edges
    by_src: dict[int, list] = {}
    for e in edges:
        by_src.setdefault(e.vec_id, []).append(e)
    for src, es in by_src.items():
        ranks = sorted(e.rank for e in es)
        assert ranks == list(range(1, len(es) + 1)) and len(es) <= 3
        best = max(es, key=lambda e: e.cos_sim)
        assert min(es, key=lambda e: e.rank).cos_sim == best.cos_sim
    directed = {(e.vec_id, e.nbr_id): e.mutual for e in edges}
    for (a, b), m in directed.items():
        assert m == ((b, a) in directed), (a, b)


def test_scd2_asof_snapshot_consistency(spark):
    """The as-of snapshot must be a subset of the full history with
    at most ONE active regime per customer, and exactly one for every
    customer whose history starts on or before the as-of date."""
    from hrfco_data_pipeline_spark.plans.relational import (
        customer_scd2_asof_snapshot,
        customer_scd2_history,
    )

    asof = datetime.datetime(1995, 6, 15)
    hist = customer_scd2_history(spark, SF001).collect()
    snap = customer_scd2_asof_snapshot(spark, SF001).collect()
    hkeys = {(r.cust_key, r.version) for r in hist}
    seen = set()
    for r in snap:
        assert (r.cust_key, r.version) in hkeys
        assert r.cust_key not in seen  # one active regime per customer
        seen.add(r.cust_key)
        assert r.valid_from <= asof
        assert r.valid_to is None or r.valid_to > asof
    expected = {r.cust_key for r in hist if r.version == 1 and r.valid_from <= asof}
    assert seen == expected


def test_lateness_audit_equals_global_window(spark):
    """The two-pass bucketed running max must reproduce the plain
    global-window lateness EXACTLY (associativity of max over prefix
    splits) — per-type quantiles, max, and overflow counts all equal,
    at a bucket size small enough that many buckets exist."""
    from hrfco_data_pipeline_spark.plans.relational import (
        _disc_quantiles,
        events_watermark_lateness_audit,
    )
    from hrfco_data_pipeline_spark.sources.tables import load_table

    got = sorted(
        tuple(r)
        for r in events_watermark_lateness_audit(
            spark, SF001, bucket_rows=64
        ).collect()
    )

    ev = load_table(spark, SF001, "events")
    us = F.unix_micros(F.to_utc_timestamp("ts", "UTC"))
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, -1)
    lat = ev.select(
        "event_type",
        F.greatest(
            F.lit(0),
            F.coalesce(F.max(us).over(w), F.lit(0)) - us,
        ).alias("lateness_us"),
    )
    q = _disc_quantiles(
        lat.select("event_type", F.col("lateness_us").alias("value")),
        ["event_type"],
        [0.5, 0.95, 0.99],
        "l_",
    )
    extra = lat.groupBy("event_type").agg(
        F.max("lateness_us").alias("max_lateness_us"),
        F.sum((F.col("lateness_us") > 600_000_000).cast("long")).alias(
            "n_late_10m"
        ),
    )
    want = sorted(
        tuple(r)
        for r in q.join(extra, "event_type")
        .select(
            "event_type",
            F.col("l_n").cast("long"),
            F.col("l_p50").cast("long"),
            F.col("l_p95").cast("long"),
            F.col("l_p99").cast("long"),
            F.col("max_lateness_us").cast("long"),
            F.col("n_late_10m").cast("long"),
        )
        .collect()
    )
    assert got == want


def test_double_mass_invariants(spark):
    """A station's cumulative volume can never exceed the basin
    cumulative at the same endpoint (ratio in (0, 1]); the deviation
    is non-negative; a station observed on the corpus's final day
    sees the full basin total."""
    from hrfco_data_pipeline_spark.plans.hydro import double_mass_curve

    rows = double_mass_curve(spark, SF001).collect()
    assert rows
    basin_total = max(r.basin_cents for r in rows)
    for r in rows:
        assert 0 < r.final_ratio <= 1.0
        assert r.station_cents <= r.basin_cents <= basin_total
        assert r.max_dev >= 0
        # max_dev is emitted as BIGINT (a DECIMAL(38,0) output split
        # the r9 driver hash); the exact decimal cross-product must
        # keep wide headroom under the long cast
        assert isinstance(r.max_dev, int)
        assert r.max_dev < 2**62


def test_double_mass_long_headroom_sf01(spark):
    """The BIGINT output cast on max_dev needs the pre-cast
    DECIMAL(38,0) cross-product to fit in a long with headroom at the
    largest certification scale. Bound: max_dev <= y_total * x_total
    (basin-cents × station-cents); 2.8e12 at sf0.1 — ~6 orders inside
    2^63. If a future corpus approaches the bound, switch the output
    face to a string before the cast saturates."""
    from hrfco_data_pipeline_spark.plans.hydro import double_mass_curve

    rows = double_mass_curve(spark, "/root/testdata/sf0.1").collect()
    assert rows
    worst = max(r.max_dev for r in rows)
    # ≥ 3 orders of magnitude of headroom under 2^63 at sf0.1
    assert worst < 2**63 / 1000


def test_vacuum_plan_tiers_partition_by_age(spark):
    from hrfco_data_pipeline_spark.plans.relational import (
        orders_retention_vacuum_plan,
    )

    rows = orders_retention_vacuum_plan(spark, SF001).collect()
    assert rows
    for r in rows:
        want = (
            "drop"
            if r.age_months >= 48
            else "archive" if r.age_months >= 24 else "keep"
        )
        assert r.action == want
        assert r.n_orders > 0 and r.total_value > 0
    # the TPC-H horizon ends 1998-08 → age 0 months must be "keep"
    assert {r.action for r in rows} == {"drop", "archive", "keep"}


def test_pmi_pairs_ranked_by_lift(spark):
    from hrfco_data_pipeline_spark.plans.llm import docs_pmi_top_pairs

    rows = sorted(
        docs_pmi_top_pairs(spark, SF01).collect(), key=lambda r: r.rank
    )
    assert rows and rows[0].rank == 1
    lifts = [r.lift for r in rows]
    assert lifts == sorted(lifts, reverse=True)
    for r in rows:
        assert r.tok_a < r.tok_b
        assert r.n_co_docs >= 5
        assert r.n_co_docs <= min(r.df_a, r.df_b)


def test_ccnet_buckets_are_ordered_terciles(spark):
    """Per language: buckets 1..3 present, (near-)equal sizes, and the
    z ranges ordered head >= middle >= tail (equality only possible on
    a tie crossing the ntile boundary)."""
    from hrfco_data_pipeline_spark.plans.llm import docs_ccnet_quality_buckets

    rows = docs_ccnet_quality_buckets(spark, SF01).collect()
    by_lang: dict[str, dict[int, object]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    assert by_lang
    for lang, b in by_lang.items():
        assert set(b) == {1, 2, 3}, lang
        sizes = [b[i].n_docs for i in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1
        assert b[1].min_z >= b[2].max_z
        assert b[2].min_z >= b[3].max_z
