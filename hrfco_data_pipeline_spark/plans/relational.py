"""General relational query surface over the star schema.

The reference has no generic relational operators (SURVEY §2.9 "absent"
list); Spark provides them natively. These queries exercise that
surface — multi-way joins, broadcast dims, window functions, rollup,
set ops, top-K — in the shapes the monitoring/dashboard layer computes
(A1-A9, K1-K4) plus TPC-H-style analytics.

Scale notes, per query, are in docstrings; the global rules:
- dimension tables (region/nation/customer≤dim-sized) are broadcast;
- aggregates are partial (map-side combine) by construction of groupBy;
- floating aggregates are rounded to 4 decimals so results are stable
  across summation orders (and hash-comparable against DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hrfco_data_pipeline_spark.functions.hints import (
    materialized,
    parallelize_small_scan,
)
from hrfco_data_pipeline_spark.sources.tables import load_table


def _r4(c):
    return F.round(c, 4)


def _dec(c) -> F.Column:
    """Portable per-row double→DECIMAL(12,2) for 2-decimal-valued data.

    Goes through ``%.2f`` string formatting: for data that is genuinely
    2-decimal (money columns here), the format is identity on both
    engines, and the string→decimal parse is exact. A direct
    double→decimal CAST is NOT portable (Spark rounds the binary value
    HALF_UP, DuckDB rounds a scaled binary ties-away — they disagree
    near ties), and double sums are order-dependent; exact decimal sums
    are not. Final outputs are cast back to double (same binary on both
    engines), and divisions happen in double on identical operands — so
    no rounding is needed anywhere.
    """
    if isinstance(c, str):
        c = F.col(c)
    return F.format_string("%.2f", c).cast("decimal(12,2)")


# --------------------------------------------------------------------------
# TPC-H-style analytics
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy agg with map-side partial aggregation.

    At 100 TB this is a pure scan+partial-agg: no shuffle of data rows,
    only of per-partition aggregate states (one row per group).
    """
    li = load_table(spark, sf_dir, "lineitem")
    price = _dec("l_extendedprice")
    disc = _dec("l_discount")
    tax = _dec("l_tax")
    qty = F.col("l_quantity").cast("long")
    n = F.count("*")
    sum_qty = F.sum(qty)
    sum_price = F.sum(price)
    sum_disc = F.sum(disc)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty.alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast("decimal(3,2)") - disc))
            .cast("double")
            .alias("sum_disc_price"),
            F.sum(
                price
                * (F.lit(1).cast("decimal(3,2)") - disc)
                * (F.lit(1).cast("decimal(3,2)") + tax)
            )
            .cast("double")
            .alias("sum_charge"),
            (sum_qty / n).alias("avg_qty"),
            (sum_price.cast("double") / n).alias("avg_price"),
            (sum_disc.cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: broadcast the filtered customer dim into orders,
    shuffle-join lineitem on orderkey, top-10 by revenue."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp_ntz")
    )
    return (
        li.join(orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount"))
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: true dims (supplier/nation/region/customer) are
    broadcast; lineitem⋈orders is the one big shuffle join on orderkey —
    the orders fact cannot be broadcast at scale."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount"))
            )
            .cast("double")
            .alias("revenue")
        )
    )


def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-per-group via rank window (K1-K3 pattern generalized)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cust.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "rk", "c_custkey", "c_name", F.col("c_acctbal").alias("acctbal"))
    )


def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (grouping sets surface)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    )


def customers_without_urgent_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Anti join (NOT EXISTS surface) with a filtered right side:
    customers who never placed an URGENT order. The unfiltered form
    (registered as ``customers_without_orders`` through r14) returned
    0 rows at sf0.01 (every synthetic customer has an order), so its
    green driver row certified only the empty result — the
    gate-SF-vacuity observation of VERDICT r13; the priority slice is
    non-empty at every SF (18 / 203 / 1986 rows) and exercises the
    strictly richer shape (predicate pushed below the anti join).
    Renamed in r15 so the registry key states the URGENT semantics
    (ADVICE r14: the r14 semantic strengthening kept the old name,
    which would hand a consumer of the registered name different rows
    silently); the rename resets the entry's driver-evidence ledger,
    so it re-certifies in the r15 window head.

    Scale shape: the filter prunes the right side BEFORE the anti
    join's shuffle; Catalyst pushes o_orderpriority into the parquet
    scan."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust["c_custkey"] == urgent["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


def customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + per-customer aggregate (semi-join shape via inner agg)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_spent"),
            (F.sum(_dec("o_totalprice")).cast("double") / F.count("*")).alias(
                "avg_order"
            ),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "n_orders", "total_spent", "avg_order")
    )


def purchase_and_signup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: INTERSECT of distinct user sets."""
    ev = load_table(spark, sf_dir, "events")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    signups = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    return buys.intersect(signups)


# --------------------------------------------------------------------------
# Monitoring-layer aggregations (A1-A9) re-expressed over `events`
# --------------------------------------------------------------------------

def mon_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: counts by run status (event_type ≙ processor status)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count("*").alias("n"))


def mon_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4/A6/A9: one-row roll-up — totals, conditional counts,
    derived ratios. Single ``agg()`` with multiple expressions: one
    partial-agg pass, no row shuffle."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum(_dec("value")).cast("double").alias("total_value"),
        F.sum(F.when(F.col("value") >= 450.0, 1).otherwise(0)).alias(
            "backpressure_cnt"
        ),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("errors"),
        (
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            / F.count("*")
            * 100
        ).alias("error_pct"),
        (F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)) > 0).alias(
            "has_errors"
        ),
    )


def mon_activity_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: lag() delta per entity over time — change detection.

    Shuffles once on user_id (the window partition key); at scale the
    key cardinality (users/processors) dwarfs the partition count so
    distribution is even.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        (F.col("value") != F.lag("value").over(w)).alias("changed"),
    )


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window (batch analog of streaming windows)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
    )


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows via gap detection (lag + cumulative sum) — the
    batch twin of streaming session windows. 30-minute inactivity gap."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # timestampdiff on the NTZ values directly — unix_timestamp would
    # route through the session timezone (DST-edge hazard)
    prev = F.lag("ts").over(w)
    # truncate to whole seconds first: DuckDB's date_diff('second') counts
    # boundary crossings, which equals a diff of second-truncated values
    gap = F.timestamp_diff(
        "SECOND", F.date_trunc("second", prev), F.date_trunc("second", F.col("ts"))
    )
    with_flag = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    with_sess = with_flag.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
    )


def recent_events_top200(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1-K3: recency ordering + display cap."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(200)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        )
    )


def mon_error_bulletins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/F4/K4: severity-filtered bulletin feed, newest 20
    (NiFiMonitoringService.java:633-657)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "error")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(20)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        )
    )


def mon_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 dashboard-stat shape: one row, one count column per category
    (conditional aggregation ≙ pivot with a fixed domain)."""
    ev = load_table(spark, sf_dir, "events")
    cnt = lambda t: F.sum(  # noqa: E731
        F.when(F.col("event_type") == t, 1).otherwise(0)
    )
    return ev.agg(
        F.count("*").alias("total"),
        cnt("click").alias("click"),
        cnt("view").alias("view"),
        cnt("purchase").alias("purchase"),
        cnt("signup").alias("signup"),
        cnt("error").alias("error"),
    )


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets: counts over (event_type, hour-of-day) with
    every subtotal combination — the other half of the grouping-sets
    surface next to orders_rollup's ROLLUP."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("hod", F.hour("ts"))
        .cube("event_type", "hod")
        .agg(F.count("*").alias("n"))
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure predicate scan + scalar agg — the pushdown
    showcase. All four filters reach the parquet scan (PushedFilters),
    only two columns are read past it, and no data row ever shuffles:
    the exchange carries one partial-agg state per partition.
    """
    li = load_table(spark, sf_dir, "lineitem")
    price = _dec("l_extendedprice")
    disc = _dec("l_discount")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(price * disc).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS as a left-semi join, then priority counts.

    The semi join ships only the join key + predicate column from the
    lineitem side and short-circuits per order — never materializing
    the match multiplicity the way an inner-join+distinct would.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    window = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    late = window.join(
        li,
        (window["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] >= window["o_orderdate"] + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


def part_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part argmin with a join-back.

    Aggregate the min unit price per part, join it back to lineitem on
    (key, min) to recover the achieving rows, then take the lowest
    suppkey as the deterministic tie-break. The join-back is the
    grouped-argmin pattern that avoids a global window: both sides
    shuffle once on l_partkey and the agg side is tiny per key.
    Unit-price equality is safe across engines: both compute the same
    double division on the same operands, so the binaries match.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    unit = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    lu = li.select("l_partkey", "l_suppkey", unit)
    mins = lu.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("unit_price").alias("min_unit")
    )
    best = (
        lu.join(
            mins,
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("unit_price") == F.col("min_unit")),
        )
        .groupBy(F.col("l_partkey").alias("p_partkey"), F.col("min_unit"))
        .agg(F.min("l_suppkey").alias("s_suppkey"))
    )
    return best.join(F.broadcast(supp), "s_suppkey").select(
        "p_partkey", "min_unit", "s_suppkey", "s_name"
    )


def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: customer-nation × supplier-nation trade matrix.

    lineitem ⋈ orders (the one fact⋈fact shuffle) with customer,
    supplier, and both nation legs broadcast — a five-way star join
    whose physical plan has exactly one exchange on orderkey.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    cn = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(cn), cust["c_nationkey"] == F.col("cn_key"))
        .join(F.broadcast(sn), supp["s_nationkey"] == F.col("sn_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact⋈dim broadcast join + conditional-revenue
    ratio. part is the broadcast side; the ratio divides two exact
    decimal sums cast to double (portable — see _dec)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
        F.lit(0).cast("decimal(26,4)")
    )
    joined = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    ).join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    agg = joined.agg(
        F.sum(promo).alias("promo_rev_dec"),
        F.sum(rev).alias("total_rev_dec"),
        F.count("*").alias("n_items"),
    )
    return agg.select(
        (
            F.lit(100.0) * F.col("promo_rev_dec").cast("double")
            / F.col("total_rev_dec").cast("double")
        ).alias("promo_pct"),
        F.col("promo_rev_dec").cast("double").alias("promo_revenue"),
        F.col("total_rev_dec").cast("double").alias("total_revenue"),
        "n_items",
    )


def events_moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window-frame stats: per-user trailing 4-row count/min/max
    over the event stream (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW).

    Only order-insensitive exact aggregates (count/min/max) so the
    frame is engine-portable; the total ordering (ts, event_id) makes
    frame membership deterministic. One shuffle on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-3, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.count("*").over(w).alias("n_in_frame"),
        F.min("value").over(w).alias("min_val"),
        F.max("value").over(w).alias("max_val"),
    )


def events_view_only_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op: (user, day) pairs with views but no purchase.

    ``subtract`` (EXCEPT DISTINCT) compiles to a left-anti join over
    distinct keys — one shuffle per side, no row explosion. The set-op
    sibling of purchase_and_signup_users' INTERSECT.
    """
    ev = load_table(spark, sf_dir, "events")
    key = lambda t: (  # noqa: E731
        ev.filter(F.col("event_type") == t).select(
            "user_id", F.to_date("ts").alias("day")
        )
    )
    return key("view").subtract(key("purchase")).withColumn(
        "day", F.date_format("day", "yyyy-MM-dd")
    )


def events_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join expressed as bucket equi-join.

    Joining events to a [lo, hi) bands dimension on an inequality is a
    BroadcastNestedLoopJoin — O(rows × bands) comparisons. Because the
    bands are uniform, the bucket id is computable per row
    (floor(value/width)), turning the range join into a hash equi-join
    + residual range filter: the standard de-nested-loop trick for
    interval joins (non-uniform bands: bucket by a coarse grid, keep
    the residual filter). Oracle joins on BETWEEN to prove equivalence.
    """
    ev = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [(i, i * 50.0, (i + 1) * 50.0) for i in range(10)],
        "band_id: int, lo: double, hi: double",
    )
    bucketed = ev.withColumn("band_id", F.floor(F.col("value") / 50.0).cast("int"))
    joined = bucketed.join(F.broadcast(bands), "band_id").filter(
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi"))
    )
    return (
        joined.groupBy("band_id", "lo", "hi")
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
        )
    )


def metrics_format_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13: humanize + parse round-trip over a synthetic byte count.

    Parity note: the /1024 divisions are dyadic, so Spark's %.2f and a
    DuckDB DECIMAL(18,2) cast agree exactly (both round the exact value,
    ties away from zero) — see sources/synthetic.py for why this pair is
    used instead of printf.
    """
    from hrfco_data_pipeline_spark.functions.metrics import (
        format_bytes,
        parse_formatted_bytes,
    )

    ev = load_table(spark, sf_dir, "events")
    b = (F.col("value") * 1_000_000).cast("long")
    fmt = format_bytes(b)
    return ev.select(
        "event_id",
        b.alias("n_bytes"),
        fmt.alias("formatted"),
        parse_formatted_bytes(fmt).alias("parsed_back"),
    )


def mon_processing_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (full form): per-processor task-duration telemetry
    (NiFiMonitoringService.java:490-516).

    totalProcessingTimeMs = tasksDurationNanos / 1e6 (long division);
    avgProcessingTimeMs = nanos / max(flowFilesIn, flowFilesOut) / 1e6
    guarded to 0 when nothing was processed or duration is 0 — all in
    truncating integer arithmetic, exactly like the Java. The counters
    are derived deterministically from event_id so every branch
    (zero-flow, zero-duration, active) has population.
    """
    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    staged = ev.select(
        "event_id",
        ((eid * 13) % 500).alias("flowfiles_in"),
        ((eid * 29) % 480).alias("flowfiles_out"),
        (eid % 5).alias("task_count"),
        F.when(eid % 11 == 0, F.lit(0).cast("long"))
        .otherwise((eid * 104729) % 9000000000)
        .alias("tasks_duration_nanos"),
    ).withColumn(
        "flowfiles_processed", F.greatest("flowfiles_in", "flowfiles_out")
    )
    return staged.select(
        "event_id",
        "flowfiles_in",
        "flowfiles_out",
        "task_count",
        F.expr("tasks_duration_nanos div 1000000").alias("total_ms"),
        F.when(
            (F.col("flowfiles_processed") > 0)
            & (F.col("tasks_duration_nanos") > 0),
            F.expr("tasks_duration_nanos div flowfiles_processed div 1000000"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("avg_ms"),
        (
            (F.col("flowfiles_in") > 0)
            | (F.col("flowfiles_out") > 0)
            | (F.col("task_count") > 0)
        ).alias("has_activity"),
    )


def metrics_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13 (rest): formatDuration Korean relative time + parseQueuedCount
    (NiFiMetricsUtils.java:87-120), over deterministic derivations that
    populate every branch — sub-minute / minutes / hours / days, and
    null / empty / garbage / comma-grouped queue strings.
    """
    from hrfco_data_pipeline_spark.functions.metrics import (
        format_duration,
        parse_queued_count,
    )

    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    secs = (
        F.when(eid % 13 == 0, eid % 60)
        .when(eid % 13 == 1, F.lit(60) + eid % 3540)
        .when(eid % 13 == 2, F.lit(3600) + eid % 82800)
        .otherwise(F.lit(86400) + eid % 200000)
        .cast("long")
    )
    n = (eid * 31) % 1000000
    queued = (
        F.when(eid % 7 == 0, F.lit(None).cast("string"))
        .when(eid % 7 == 1, "")
        .when(eid % 7 == 2, "abc")
        .otherwise(
            F.concat(
                F.format_string("%,d", n),
                F.lit(" ("),
                n.cast("string"),
                F.lit(" bytes)"),
            )
        )
    )
    staged = ev.select("event_id", secs.alias("secs"), queued.alias("queued"))
    return staged.select(
        "event_id",
        "secs",
        format_duration(F.col("secs")).alias("dur_str"),
        "queued",
        parse_queued_count(F.col("queued")).alias("queued_cnt"),
    )


def events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: JSON field extraction (`get_json_object` ≙ EvaluateJsonPath
    `$.k`) over the events props column."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("k"),
    )


def events_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (SURVEY §2.9 gap list): HLL distinct +
    t-digest percentiles. Sketch results are engine-specific → rows-only
    driver check; the test bounds them against exact values."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.approx_count_distinct("event_id").alias("approx_events"),
        F.round(F.percentile_approx("value", 0.5), 2).alias("p50_value"),
        F.round(F.percentile_approx("value", 0.95), 2).alias("p95_value"),
    )


def events_asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each purchase event enriched with
    the most recent error value at-or-before it for the same user.
    DuckDB's native ASOF JOIN is the oracle."""
    from hrfco_data_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
    )
    joined = asof_join(
        left, right, on="user_id", left_time="ts", right_time="ts",
        payload_cols=("err_value",),
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.col("err_value_asof"),
    )


def big_orders_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: groupBy + HAVING over the fact, then re-join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") >= 120)
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .select(
            "l_orderkey",
            "total_qty",
            "o_orderstatus",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer in a
    quarter. Pushed filters on both facts, one orderkey shuffle join,
    customer/nation broadcast into the aggregate, top-20 TakeOrdered.
    Exact decimal revenue via the _dec %.2f pattern (see _dec)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp_ntz"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount"))
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape adapted to this schema (no l_shipmode/receiptdate
    in the synthetic lineitem): per linestatus, count late shipments
    (shipped > 60 days after order) split into high- vs low-priority
    orders — the conditional-aggregation + date-arithmetic pattern.
    Orders is the broadcast side only of priority; both facts shuffle
    on orderkey once."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(late)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def events_hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — THE 100 TB distinct-count pattern:
    build one DataSketches HLL per (event_type, day) partial, then
    merge sketches upward to per-type totals instead of rescanning raw
    data. At scale the per-day sketch table is the stored rollup;
    daily increments union in. Output compares the merged estimate to
    the exact distinct per type (rows-only: sketch internals are
    engine-specific; tests pin <5% relative error).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("day")
    daily = ev.groupBy(F.col("event_type"), day).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.count("*").alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select("event_type", "n_days", "exact_users", "approx_users")
        .orderBy("event_type")
    )


def events_peak_window_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join — each event type's daily peak hour defines
    a non-aligned 2-hour window [peak-30min, peak+90min), and the
    query counts ALL events (any type) inside each window.

    Scale shape: the point-in-interval match runs through
    operators/rangejoin.range_join_banded — intervals explode into the
    1-hour bands they overlap and the join is an equi-join on the band
    key (bounded shuffle, no BroadcastNestedLoopJoin), each point
    matching via exactly one band. Peak selection is a per-(type, day)
    row_number argmax with a deterministic min-hour tie-break (integer
    counts — portable).
    """
    from hrfco_data_pipeline_spark.operators.rangejoin import (
        range_join_banded,
    )

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy(
        "event_type", F.date_trunc("day", "h")
    ).orderBy(F.desc("cnt"), F.asc("h"))
    windows = (
        hourly.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("event_type").alias("win_type"),
            (F.col("h") - F.expr("INTERVAL 30 MINUTES")).alias("w_start"),
            (F.col("h") + F.expr("INTERVAL 90 MINUTES")).alias("w_end"),
        )
    )
    joined = range_join_banded(ev.select("ts"), windows)
    return (
        joined.groupBy("win_type", "w_start")
        .agg(F.count("*").alias("n_in_window"))
        .select(
            F.col("win_type").alias("event_type"), "w_start", "n_in_window"
        )
        .orderBy("event_type", "w_start")
    )


def events_hll_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-backed face of the HLL rollup: the same sketch pipeline as
    events_hll_user_rollup, but with the estimate itself projected away
    and replaced by an accuracy flag. Everything emitted — the per-type
    day count, the exact distinct, and whether the sketch estimate
    landed within 5% of it — is portable SQL-checkable (the oracle
    asserts within_5pct=true by construction since pytest pins the
    sketch error bound; a sketch regression flips the flag and the
    hash comparison catches it). Companion contract: the rows-only
    sibling keeps the raw estimate for inspection.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("day")
    daily = ev.groupBy(F.col("event_type"), day).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.count("*").alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    err = F.abs(F.col("approx_users") - F.col("exact_users")) / F.col(
        "exact_users"
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "n_days",
            "exact_users",
            (err <= 0.05).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / p90 per event type (single-pass sort-based exact
    percentile — the oracle-checkable twin of the approx_percentile
    sketch in events_approx_stats)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.median("value").alias("med"),
            F.percentile("value", F.lit(0.9)).alias("p90"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 on Spark 4's VARIANT type: parse props once into the binary
    semi-structured encoding, then typed-path extraction + aggregation
    over it (`variant_get`). At scale this replaces per-access JSON
    re-parsing (get_json_object re-parses the string for every path)
    with a parse-once columnar encoding — the shredded form a 100 TB
    semi-structured column wants. Aggregates per k-bucket so the
    output is stable and oracle-checkable in plain SQL.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id", F.try_parse_json("props").alias("pv")
    )
    k = F.try_variant_get("pv", "$.k", "long")
    return (
        v.select((k % 10).alias("k_bucket"), k.alias("k"))
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .orderBy("k_bucket")
    )


def events_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window over event time: per user, stats of the
    trailing 10-minute interval at each event (RANGE BETWEEN INTERVAL
    frames, complementing events_moving_stats' ROWS frames). Counts and
    min/max only — order-insensitive within the frame, so the doubles
    hash-match the oracle exactly. One shuffle on user_id.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-600, Window.currentRow)
    )
    out = ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_10m"),
        F.min("value").over(w).alias("min_10m"),
        F.max("value").over(w).alias("max_10m"),
    )
    return out.orderBy("event_id").limit(2000)


def dq_referential_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit over the star schema: one row per check —
    null/duplicate keys and referential integrity (fact keys ⊆ dim
    keys via left-anti counts). The pre-load gate a pipeline runs
    before publishing a snapshot. Anti-joins broadcast the dim side
    where small; counts are map-side partial. Unioned scalar results
    keep the report one scan per check.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def one(name, df):
        return df.select(
            F.lit(name).alias("check"), F.count("*").cast("long").alias("violations")
        )

    checks = [
        one("orders_null_custkey", orders.filter(F.col("o_custkey").isNull())),
        one(
            "orders_orphan_custkey",
            orders.join(
                F.broadcast(cust.select("c_custkey")),
                orders["o_custkey"] == cust["c_custkey"],
                "left_anti",
            ),
        ),
        one(
            "lineitem_orphan_orderkey",
            li.join(
                orders.select("o_orderkey"),
                li["l_orderkey"] == orders["o_orderkey"],
                "left_anti",
            ),
        ),
        one(
            "customer_dup_custkey",
            cust.groupBy("c_custkey")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1),
        ),
        one("events_null_user", ev.filter(F.col("user_id").isNull())),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("check")


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery decorrelated the
    Spark way: the per-part average quantity becomes a groupBy'd
    aggregate joined back to the fact (one extra shuffle on partkey
    instead of a per-row subquery), brand dim filter broadcast. Exact
    decimal revenue; the 0.2×avg threshold is computed as the same
    explicit double expression on both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#4"
    )
    qty = F.col("l_quantity").cast("long")
    per_part = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("ap_key"))
        .filter(F.col("l_quantity").cast("double") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
            F.count("*").alias("n_small"),
        )
    )


def tables_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog stats report (the SHOW TABLES + ANALYZE surface): one
    row per engine table with row and column counts — the snapshot
    manifest a pipeline publishes alongside its outputs. Counts are
    metadata-cheap scans (parquet row-group footers); unioned scalars.
    """
    from hrfco_data_pipeline_spark.sources.tables import TABLES, load_table

    out = None
    for t in sorted(TABLES):
        df = load_table(spark, sf_dir, t)
        row = df.agg(F.count("*").alias("n_rows")).select(
            F.lit(t).alias("table_name"),
            "n_rows",
            F.lit(len(df.columns)).alias("n_cols"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("table_name")


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers whose orders exceed a total-quantity
    threshold (large-volume buyers feeding the priority desk).

    Scale plan: the HAVING-filtered aggregate runs first, on the fact
    alone — one orderkey shuffle with map-side partial sums — and its
    tiny survivor set (threshold selects a vanishing fraction of
    orders) then drives the joins, broadcast into orders and customer.
    The fact⋈fact join therefore carries only qualifying orderkeys;
    the full lineitem never joins anything. Quantities are integral —
    summed as BIGINT for cross-engine exactness; o_totalprice is
    projected raw (no arithmetic, no float-parity surface).
    """
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# TPC-H query-shape completion (q7-q22, adapted to the driver's star
# schema: no partsupp table, no phone/comment/commitdate columns — each
# query keeps the canonical plan SHAPE and swaps the missing column for
# the nearest available analog, noted per docstring)
# --------------------------------------------------------------------------

def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue flow between two nations, both
    directions, by ship year.

    Scale plan: the only big shuffle is lineitem⋈orders on orderkey;
    supplier/customer/nation are broadcast. The two-nation disjunction
    is a post-join codegen filter — pushing it into the dims would need
    a union of two pipelines for no shuffle savings.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31").cast("timestamp_ntz"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    vol = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(vol).cast("double").alias("revenue"))
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of ECONOMY-part revenue sold
    into ASIA customers, by order year — conditional-sum ÷ sum over the
    same joined set.

    Scale plan: part is filtered then broadcast (selective dim), the
    fact⋈orders orderkey shuffle dominates, every other join is
    broadcast. The share division happens once per year group.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("timestamp_ntz"))
    )
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nation_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    nation_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount"))
    )
    joined = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cr_key") == F.col("r_regionkey"))
        .join(F.broadcast(nation_s), F.col("s_nationkey") == F.col("sn_key"))
    )
    zero = F.lit(0).cast("decimal(15,4)")
    return (
        joined.select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("vol"),
            F.col("supp_nation"),
        )
        .groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("vol")).otherwise(
                        zero
                    )
                ).cast("double")
                / F.sum("vol").cast("double")
            ).alias("mkt_share"),
            F.sum("vol").cast("double").alias("total_vol"),
        )
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year over parts
    whose name contains a token. No partsupp in this schema, so unit
    cost is the p_retailprice×0.6×quantity analog (same expression both
    engines; the plan shape — selective part dim broadcast into the
    fact, orderkey shuffle for the date, nation broadcast — is Q9's).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    )
    orders = load_table(spark, sf_dir, "orders")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    qty = F.col("l_quantity").cast("long")
    profit = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount")
    ) - _dec("p_retailprice") * F.lit(0.6).cast("decimal(3,2)") * qty.cast(
        "decimal(12,0)"
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value exceeds a threshold
    derived from the group aggregate (partsupp-absent analog: value =
    lineitem traded value for a supplier nation band). TPC-H's fixed
    0.0001/SF fraction is scale-dependent (a constant fraction empties
    the result as the part count grows), so the threshold here is
    scale-free: 2x the average per-part value — the heavy tail is
    non-empty at every SF.

    Scale plan: one partkey shuffle for the per-part aggregate; the
    average is a second aggregation over the SAME shuffled data
    (Spark reuses the exchange), attached as a broadcast 1-row scalar
    — never a per-row correlated subquery.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") % 5 == 1
    )
    value = _dec("l_extendedprice")
    traded = (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(value).alias("value_dec"))
    )
    avg_part = traded.agg(
        (F.sum("value_dec").cast("double") / F.count("*")).alias("avg_value")
    )
    return (
        traded.crossJoin(F.broadcast(avg_part))
        .filter(
            F.col("value_dec").cast("double") > F.lit(2.0) * F.col("avg_value")
        )
        .select(
            "l_partkey",
            F.col("value_dec").cast("double").alias("part_value"),
        )
    )


def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts,
    including zero-order customers (LEFT join), with the comment-filter
    analog dropping 1-URGENT orders.

    Scale plan: orders aggregates by custkey first (one shuffle), then
    LEFT joins customer (broadcast of the aggregate would be wrong at
    scale — customers are the big side, so the join shuffles custkey);
    the final distribution groupBy is over a tiny count domain.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = orders.groupBy(F.col("o_custkey")).agg(
        F.count("*").alias("c_count")
    )
    return (
        cust.join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(F.coalesce("c_count", F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    the revenue view is aggregated once, its max attached as a
    broadcast scalar, ties all returned (the spec's equality, not a
    LIMIT 1).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    sup = load_table(spark, sf_dir, "supplier")
    vol = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount"))
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(vol).alias("rev_dec")
    )
    top = revenue.agg(F.max("rev_dec").alias("max_rev"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("rev_dec") == F.col("max_rev"))
        .join(F.broadcast(sup), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
    )


def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type, size)
    for a size IN-list, excluding one brand/type and a bad-supplier
    set (complaints analog: negative account balance), via broadcast
    anti join before the distinct-count shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under a disjunction of three
    (brand, size-band, quantity-band) predicates — the classic
    OR-of-ANDs the optimizer must evaluate post-join without
    cross-products (container column absent; size bands stand in).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    qty = F.col("l_quantity").cast("double")
    cond = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 25)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(1, 50)
            & qty.between(20, 30)
        )
    )
    vol = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(F.sum(vol).cast("double").alias("revenue"), F.count("*").alias("n_lines"))
    )


def q20_part_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation who moved a significant
    share of some tracked part — the EXISTS chain decorrelated into
    aggregate→semi-join (partsupp availability analog: a (supplier,
    part) shipped-quantity total exceeding half the part's average
    per-supplier load).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("small")
    )
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    tracked = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    # per-row floor (not a truncating cast): floor(double) is
    # IEEE-exact and renders identically in every engine, so the
    # integer sums stay portable even if a testdata regeneration makes
    # quantities fractional (cast-at-the-aggregate would then hit the
    # Spark-truncates vs DuckDB-rounds divergence).
    per_sp = tracked.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.floor("l_quantity")).alias("sp_qty")
    )
    per_part = per_sp.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        (F.sum("sp_qty").cast("double") / F.count("*")).alias("avg_sp_qty")
    )
    qualifying = (
        per_sp.join(per_part, F.col("l_partkey") == F.col("pp_key"))
        .filter(F.col("sp_qty").cast("double") > F.lit(0.5) * F.col("avg_sp_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        sup.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the sole late shipper on a
    multi-supplier finished order (commit/receipt dates absent: "late"
    = shipped >90 days after the order date).

    Scale plan: the EXISTS becomes a semi-join against distinct
    (orderkey, suppkey) pairs, the NOT EXISTS an anti-join against the
    late subset of the same pairs — both shuffle on orderkey, the same
    key as the base join, so AQE coalesces them into one exchange
    lineage; supplier/orders dims broadcast where small.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    base = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    l1 = (
        base.filter(late)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    other = pairs.select(
        F.col("l_orderkey").alias("o2_key"), F.col("l_suppkey").alias("s2_key")
    )
    late_other = (
        base.filter(late)
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .select(F.col("l_orderkey").alias("o3_key"), F.col("l_suppkey").alias("s3_key"))
    )
    with_other = l1.join(
        other,
        (F.col("l_orderkey") == F.col("o2_key"))
        & (F.col("l_suppkey") != F.col("s2_key")),
        "left_semi",
    )
    sole_late = with_other.join(
        late_other,
        (F.col("l_orderkey") == F.col("o3_key"))
        & (F.col("l_suppkey") != F.col("s3_key")),
        "left_anti",
    )
    return (
        sole_late.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: high-balance customers gone idle (no orders
    since 1999 — every synthetic customer has SOME order, so the
    literal no-orders-ever set is empty and would make this a 0-row
    non-check), by nation band (phone country code absent: nationkey
    stands in). The correlated AVG becomes a broadcast scalar; the
    NOT EXISTS an anti-join on custkey.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(0, 1, 2, 3, 4, 5, 6)
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz")
    )
    # exact decimal sum ÷ count, NOT a double avg (whose value depends
    # on summation order and would flip boundary rows between engines)
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count("*")).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal").cast("double") > F.col("avg_bal"))
        .join(
            orders.select("o_custkey").distinct(),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by the week of their
    first event, counted as active in each subsequent week offset —
    the standard growth-analytics triangle.

    Scale plan: one user-key shuffle for first-event week, broadcast of
    nothing (both sides are the same fact keyed by user — the join is
    user⋈user, and the cohort agg reuses the partitioning), then a tiny
    (cohort_week, offset) groupBy of partial counts.
    """
    ev = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    first = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    act = ev.select("user_id", wk.alias("act_week")).distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            # week starts are midnight-aligned NTZ values, so a DATE
            # diff is exact and session-TZ-proof (unix_timestamp would
            # round-trip through the session zone)
            (F.datediff(F.col("act_week").cast("date"), F.col("cohort_week").cast("date")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def events_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: signup → first view after signup →
    first purchase after that view, strictly time-ordered per user.

    Decorrelated the Spark way: three user-keyed aggregates chained by
    joins (each later stage filters on the previous stage's timestamp)
    — never a per-row subquery. All three shuffles share the user_id
    key, so the exchanges line up; output is one summary row.
    """
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t_signup")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(v.agg(F.count("*").alias("n_view_after")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after")))
    )


def lineitem_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout audit over lineitem on
    (l_partkey, l_suppkey): quantize both keys to 8-bit cells against
    their global min/max, interleave the bits
    (operators/bucketing.morton_interleave), shard on the top 8 Morton
    bits, and emit each shard's row count plus its (partkey, suppkey)
    bounding rectangle.

    The per-shard min/max rectangle IS the data-skipping claim: a
    Z-ordered file layout gives every file tight min/max stats on BOTH
    join/filter keys, so scans filtered on either column prune most
    files — single-column sorting only prunes the leading key. The
    bounds row is computed as a 1-row broadcast (scalar-subquery
    shape), never a driver collect; everything else is one groupBy on
    a 256-ary integer key. At 100 TB the same expression feeds the
    range-exchange sorted writer (cf. docs_range_shards) to actually
    lay the files out.
    """
    from hrfco_data_pipeline_spark.operators.bucketing import morton_interleave

    li = load_table(spark, sf_dir, "lineitem").select(
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
        "pk",
        "sk",
        F.expr("((pk - min_pk) * 256) div (max_pk - min_pk + 1)").alias("qx"),
        F.expr("((sk - min_sk) * 256) div (max_sk - min_sk + 1)").alias("qy"),
    )
    # NOTE (r16): parallelize_small_scan here was tried and REVERTED —
    # the Morton interleave is cheap enough that the extra round-robin
    # exchange LOST the interleaved A/B 3× (0.47 s -> 1.4 s warm at
    # sf0.1). Its Hilbert sibling keeps the spread: that kernel's deep
    # bit-twiddling chain is ~6× heavier per row and wins 1.9×.
    z = morton_interleave(F.col("qx"), F.col("qy"))
    return (
        q.withColumn("shard", F.shiftright(z, 8))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("pk").alias("pk_lo"),
            F.max("pk").alias("pk_hi"),
            F.min("sk").alias("sk_lo"),
            F.max("sk").alias("sk_hi"),
        )
    )


def lineitem_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout audit over lineitem on
    (l_partkey, l_suppkey) — lineitem_zorder_layout's stronger
    sibling: same 8-bit cell quantization against the global min/max,
    but the shard key walks the Hilbert curve
    (operators/bucketing.hilbert_index) instead of Morton
    interleaving. Every Hilbert step moves to an ADJACENT cell (no
    Morton diagonal jumps at power-of-two boundaries), so the 256
    shards' (partkey, suppkey) bounding rectangles come out strictly
    tighter at the same shard count — directly more file pruning.
    Same plan shape: 1-row bounds broadcast, pure-integer codegen'd
    index, one 256-ary groupBy; at 100 TB the index feeds the
    range-exchange sorted writer exactly like the Z-order face.
    """
    from hrfco_data_pipeline_spark.operators.bucketing import hilbert_index

    li = load_table(spark, sf_dir, "lineitem").select(
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
        "pk",
        "sk",
        F.expr("((pk - min_pk) * 256) div (max_pk - min_pk + 1)").alias("qx"),
        F.expr("((sk - min_sk) * 256) div (max_sk - min_sk + 1)").alias("qy"),
    )
    # Same under-split mitigation as lineitem_zorder_layout (r16):
    # the Hilbert kernel is even heavier per row than Morton's.
    q = parallelize_small_scan(q)
    h = hilbert_index(F.col("qx"), F.col("qy"))
    return (
        q.withColumn("shard", F.shiftright(h, 8))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("pk").alias("pk_lo"),
            F.max("pk").alias("pk_hi"),
            F.min("sk").alias("sk_lo"),
            F.max("sk").alias("sk_hi"),
        )
    )


def layout_pruning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping scorecard: Morton vs Hilbert under EQUAL-ROW
    sharding — sort lineitem along each curve, cut into 64
    equal-row files (how real writers size files), record each file's
    (partkey, suppkey) bounding box, and count how many files a
    min/max-pruning scan must open for a fixed probe rectangle
    (l_partkey in [500, 700], l_suppkey in [20, 40]).

    Equal-row boundaries are the honest comparison: cutting on the
    top code bits gives BOTH curves the same aligned-square geometry
    (each 256-position run of either curve tiles one 16x16 block —
    measured identical pruning), but file boundaries in practice fall
    at row counts, mid-square, and there Hilbert's cell-adjacent
    steps keep the straddling files' boxes tight while Morton's
    power-of-two jumps stretch them (measured at sf0.01/64 shards:
    the [900,950]x[1,100] probe opens 8 Hilbert files vs 16 Morton).

    Scale shape: the global sort-by-curve uses the two-pass
    range-bucketed rank (operators/ranking.ranked_cumsum — never a
    single-partition window) with the standard NTILE arithmetic
    (int_ntile) for the equal-row cut; codes are pure-integer
    codegen; the row frame is materialized once and shared by both
    arms. All counts integer-exact; one double division."""
    from hrfco_data_pipeline_spark.operators.bucketing import (
        hilbert_index,
        morton_interleave,
    )
    from hrfco_data_pipeline_spark.operators.ranking import int_ntile

    pk_lo, pk_hi, sk_lo, sk_hi = 500, 700, 20, 40
    n_shards = 64
    li = load_table(spark, sf_dir, "lineitem").select(
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
    # Spread the CPU-heavy curve-code kernels across cores before the
    # eager materialization: the single-file scan plans 3 tasks (one
    # straggler serialized the whole build — measured 3.1 s -> 1.3 s
    # for the kernel alone); no-op on real multi-split layouts (r16
    # optimization, same mitigation as lineitem_zorder_layout).
    codes = materialized(
        parallelize_small_scan(q).select(
            "uid",
            "pk",
            "sk",
            morton_interleave(F.col("qx"), F.col("qy")).alias("mz"),
            hilbert_index(F.col("qx"), F.col("qy")).alias("hz"),
        )
    )
    total = codes.agg(F.count("*").alias("n"))

    def arm(code: str, name: str) -> DataFrame:
        # r16 (guide §2.3 — aggregate before you shuffle): the curve
        # code domain is ≤ 2^16 cells BY CONSTRUCTION (two 8-bit
        # quantized axes), so the equal-row NTILE cut no longer ranks
        # every ROW through the two-pass range-bucketed window.
        # Instead: one map-side-combinable per-cell aggregate (count +
        # bbox), an exclusive cumsum over the BOUNDED cell table gives
        # each cell's global start rank (rank under (code, uid) order
        # = cell start + in-cell uid rank — same total order as
        # before), and int_ntile of the start/end ranks tells whether
        # a cell lies wholly inside one shard. Whole cells contribute
        # their bbox directly; only the ≤ n_shards−1 BOUNDARY-
        # STRADDLING cells send their rows through a per-cell
        # row_number (per-task sort bounded by the largest straddling
        # cell — the same degenerate bound the bucketed rank had,
        # since equal keys never split across its buckets either).
        # Shuffled bytes drop from 2×|rows| window passes to one
        # bounded cell table + straddler rows. Shard values are
        # NTILE-identical: int_ntile is rank-monotone, so every row of
        # a whole cell gets the cell's shard.
        g = codes.groupBy(code).agg(
            F.count("*").alias("cnt"),
            F.min("pk").alias("pk_lo"),
            F.max("pk").alias("pk_hi"),
            F.min("sk").alias("sk_lo"),
            F.max("sk").alias("sk_hi"),
        )
        wcum = Window.orderBy(code).rowsBetween(
            Window.unboundedPreceding, -1
        )
        gs = (
            g.withColumn(
                "start", F.coalesce(F.sum("cnt").over(wcum), F.lit(0))
            )
            .crossJoin(F.broadcast(total))
            .withColumn(
                "sh_f", int_ntile(F.col("start") + 1, F.col("n"), n_shards)
            )
            .withColumn(
                "sh_l",
                int_ntile(
                    F.col("start") + F.col("cnt"), F.col("n"), n_shards
                ),
            )
        )
        whole = gs.filter(F.col("sh_f") == F.col("sh_l")).select(
            F.col("sh_f").alias("shard"),
            F.col("cnt").alias("n_rows"),
            "pk_lo",
            "pk_hi",
            "sk_lo",
            "sk_hi",
        )
        strad = gs.filter(F.col("sh_f") != F.col("sh_l")).select(
            F.col(code).alias("_sc"), "start", "n"
        )
        win = Window.partitionBy("_sc").orderBy("uid")
        srows = (
            codes.join(F.broadcast(strad), codes[code] == F.col("_sc"))
            .withColumn(
                "shard",
                int_ntile(
                    F.row_number().over(win) + F.col("start"),
                    F.col("n"),
                    n_shards,
                ),
            )
            .select(
                "shard",
                F.lit(1).cast("long").alias("n_rows"),
                F.col("pk").alias("pk_lo"),
                F.col("pk").alias("pk_hi"),
                F.col("sk").alias("sk_lo"),
                F.col("sk").alias("sk_hi"),
            )
        )
        shards = (
            whole.unionByName(srows)
            .groupBy("shard")
            .agg(
                F.sum("n_rows").alias("n_rows"),
                F.min("pk_lo").alias("pk_lo"),
                F.max("pk_hi").alias("pk_hi"),
                F.min("sk_lo").alias("sk_lo"),
                F.max("sk_hi").alias("sk_hi"),
            )
        )
        hit = (
            (F.col("pk_hi") >= pk_lo)
            & (F.col("pk_lo") <= pk_hi)
            & (F.col("sk_hi") >= sk_lo)
            & (F.col("sk_lo") <= sk_hi)
        )
        return (
            shards.agg(
                F.count("*").alias("n_shards"),
                F.sum(hit.cast("long")).alias("shards_scanned"),
                F.sum(F.when(hit, F.col("n_rows")).otherwise(F.lit(0))).alias(
                    "rows_scanned"
                ),
                F.sum("n_rows").alias("rows_total"),
            )
            .select(
                F.lit(name).alias("layout"),
                "n_shards",
                "shards_scanned",
                "rows_scanned",
                "rows_total",
                (
                    F.col("rows_scanned").cast("double")
                    / F.col("rows_total").cast("double")
                ).alias("scan_fraction"),
            )
        )

    return arm("mz", "zorder").unionByName(arm("hz", "hilbert"))


def events_value_band_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style validity intervals (gaps-and-islands): per user, runs
    of consecutive events whose value band (low <20 / mid <60 / high)
    is unchanged collapse to one row with [valid_from, valid_to] and an
    exclusive ``superseded_at`` (the next run's start; NULL = current
    version) — the type-2 slowly-changing-dimension build the
    reference's type-1 station upsert (W2) lacks.

    Plan: one user_id shuffle carries both windows (lag for the change
    flag, running sum for the island id) and the final groupBy — the
    island id is a function of the same partition key, so Catalyst
    reuses the exchange. Deterministic total order via (ts, event_id).
    """
    ev = load_table(spark, sf_dir, "events")
    band = (
        F.when(F.col("value") < 20, "low")
        .when(F.col("value") < 60, "mid")
        .otherwise("high")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.lag("band").over(w).isNull() | (F.lag("band").over(w) != F.col("band")),
        1,
    ).otherwise(0)
    grp = F.sum("chg").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = (
        ev.withColumn("band", band)
        .withColumn("chg", chg)
        .withColumn("grp", grp)
        .groupBy("user_id", "grp", "band")
        .agg(
            F.min("ts").alias("valid_from"),
            F.max("ts").alias("valid_to"),
            F.count("*").alias("n_obs"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return runs.select(
        "user_id",
        "band",
        "valid_from",
        "valid_to",
        F.lead("valid_from").over(w2).alias("superseded_at"),
        "n_obs",
    )


def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((type, day), (type), ()) with grouping
    flags — the one multi-granularity shape CUBE/ROLLUP (events_cube /
    orders_rollup) don't cover: an arbitrary, non-hierarchical set
    list, planned as a single Expand + one aggregate exchange instead
    of three scans + union. Decimal-exact sums via the _dec discipline;
    per-set grouping flags emitted explicitly (portable — engines
    disagree on grouping_id bit packing)."""
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    g = ev.groupingSets(
        [["event_type", "day"], ["event_type"], []],
        F.col("event_type"),
        F.col("day"),
    )
    return g.agg(
        F.grouping("event_type").cast("int").alias("g_type"),
        F.grouping("day").cast("int").alias("g_day"),
        F.count("*").alias("n"),
        F.sum(_dec("value")).cast("double").alias("total_value"),
    )


def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier report: exact median and MAD (median
    absolute deviation) per event type, plus the count of values beyond
    the 3-MAD fence — the skew-immune alternative to mean/stddev
    z-scores. Exact `median` (not percentile_approx) keeps the result
    engine-portable: both engines average the two middle values with
    the same double arithmetic.

    Plan: three bounded aggregates over the enum-sized type key, each
    joined back broadcast — never a global sort; the per-group sort
    inside exact median is the cost, bounded per group and replaced by
    t-digest (events_approx_stats) when groups outgrow memory.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("ad").alias("mad"))
    flagged = dev.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.count("*").alias("n"),
            F.sum((F.col("ad") > 3 * F.col("mad")).cast("long")).alias(
                "n_outliers"
            ),
        )
    )


def events_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap: distinct-user intersection counts for every
    event-type pair. One (type, user) distinct shuffle, then a
    user-keyed self-join whose output is bounded by types² rows per
    user — the exact face of the sketch-based overlap estimate
    (events_hll_user_rollup's theta/HLL territory at 100 TB)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select("event_type", "user_id").distinct()
    a = d.select(
        F.col("event_type").alias("type_a"), F.col("user_id")
    )
    b = d.select(
        F.col("event_type").alias("type_b"), F.col("user_id")
    )
    return (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_common_users"))
    )


def events_running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day — the pattern
    that replaces the unsupported COUNT(DISTINCT) OVER: flag each
    user's FIRST day per type (row_number = 1 on the (type, user)
    partition), aggregate first-touches per day, then a running sum
    over the tiny (type, day) table. Distinctness is resolved in ONE
    user-keyed shuffle instead of re-counting the full history per
    frame — the incremental form a 100 TB daily rollup job runs."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    first_day = (
        d.groupBy("event_type", "user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("new_users"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return first_day.select(
        "event_type",
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


def metrics_nifi_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13 (last piece): parseNiFiTimestamp over deterministic
    derivations covering all three branches — the NiFi slash wall-time
    form, the ISO-8601 instant form, and garbage (engine deviation:
    NULL instead of the reference's side-effecting Instant.now(),
    functions/metrics.parse_nifi_timestamp). Emitted as epoch seconds
    so the compare is pure integer arithmetic."""
    from hrfco_data_pipeline_spark.functions.metrics import (
        parse_nifi_timestamp,
    )

    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    slash = F.format_string(
        "%02d/%02d/2024 %02d:%02d:%02d.%03d",
        (eid % 12 + 1).cast("int"),
        (eid % 28 + 1).cast("int"),
        (eid % 24).cast("int"),
        (eid % 60).cast("int"),
        ((eid * 7) % 60).cast("int"),
        ((eid * 13) % 1000).cast("int"),
    )
    iso = F.format_string(
        "2024-%02d-%02dT%02d:%02d:%02dZ",
        (eid % 12 + 1).cast("int"),
        (eid % 28 + 1).cast("int"),
        (eid % 24).cast("int"),
        (eid % 60).cast("int"),
        ((eid * 7) % 60).cast("int"),
    )
    raw = (
        F.when(eid % 3 == 0, slash)
        .when(eid % 3 == 1, iso)
        .otherwise(F.lit("not a timestamp"))
    )
    return ev.limit(2000).select(
        "event_id",
        raw.alias("raw_ts"),
        parse_nifi_timestamp(raw).cast("long").alias("epoch_s"),
    )


def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive anomaly baseline: each (type, hour) bucket's
    event count against the same hour ONE WEEK earlier — the
    zero-model forecast every monitoring stack starts with. The
    week-back lookup is an equi-join on the shifted hour key (never a
    range scan); deviation is the count delta and ratio. Buckets with
    no week-old twin report NULLs (the warm-up week)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"))
    prev = hourly.select(
        F.col("event_type").alias("p_type"),
        (F.col("h") + F.expr("INTERVAL 7 DAYS")).alias("p_h"),
        F.col("n").alias("n_week_ago"),
    )
    j = hourly.join(
        prev,
        (F.col("event_type") == F.col("p_type")) & (F.col("h") == F.col("p_h")),
        "left",
    )
    return j.select(
        "event_type",
        "h",
        "n",
        "n_week_ago",
        (F.col("n") - F.col("n_week_ago")).alias("delta"),
        _r4(
            F.col("n").cast("double") / F.col("n_week_ago")
        ).alias("ratio"),
    )


def customer_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value deciles: rank customers by exact total
    spend (the `_dec` money pattern), cut into ntile(10) under a total
    order, and report each decile's size, revenue, and revenue share —
    the concentration curve behind "top decile drives X% of revenue".
    The ntile runs over the per-customer aggregate (one row per
    customer), not raw orders — and via the range-bucketed two-pass
    rank (operators/ranking), not a single-partition sort, so the
    customer dim can grow with the data; the share denominator is an
    exact decimal total cast once to double."""
    from hrfco_data_pipeline_spark.operators.ranking import (
        int_ntile,
        ranked_cumsum,
    )

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).alias("spent_dec")
    )
    totals = per_cust.agg(
        F.count("*").alias("_n"), F.sum("spent_dec").alias("total_dec")
    )
    ranked = (
        ranked_cumsum(
            per_cust,
            -F.col("spent_dec").cast("double"),
            [F.desc("spent_dec"), F.asc("o_custkey")],
            sample_key=F.col("o_custkey"),
            rank_name="_rn",
            sample_mod=8,
        )
        .crossJoin(F.broadcast(totals))
        .withColumn("decile", int_ntile(F.col("_rn"), F.col("_n"), 10))
    )
    return (
        ranked.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("spent_dec").cast("double").alias("revenue"),
            (
                F.sum("spent_dec").cast("double")
                / F.first("total_dec").cast("double")
            ).alias("revenue_share"),
        )
        .select(
            "decile",
            "n_customers",
            "revenue",
            F.round("revenue_share", 4).alias("revenue_share"),
        )
    )


def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU stickiness per day: daily actives over trailing-7-day
    actives. The sliding distinct is expressed as a banded interval
    join (operators/rangejoin shape): each (user, active-day) row
    fans out to the ≤7 report days whose trailing window contains it
    — an equi-join on the report-day key, never a nested-loop range
    join — then one distinct count per report day. Fan-out is the
    fixed window length; shuffle keys are dense day values."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    days = ud.select("day").distinct().select(F.col("day").alias("rday"))
    # fan each active day to the report days it supports:
    # rday in [day, day+6]
    fanned = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), 6)
            )
        ).alias("rday"),
        "day",
    ).join(days, "rday", "left_semi")
    wau = fanned.groupBy("rday").agg(
        F.count_distinct("user_id").alias("wau")
    )
    dau = ud.groupBy(F.col("day").alias("rday")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    return dau.join(wau, "rday").select(
        F.col("rday").alias("day"),
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 4).alias(
            "stickiness"
        ),
    )


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral transition matrix: counts of consecutive event-type
    pairs per user (Markov-chain estimate of the next-action
    distribution), with each row's share of its source state. One
    user-keyed window (deterministic (ts, event_id) order), one
    bounded types² aggregate; the share window runs over the tiny
    matrix."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    cells = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )
    row = Window.partitionBy("from_type")
    return cells.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(row), 4
        ).alias("p"),
    )


def events_inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap statistics per event type: seconds between a
    user's consecutive events (lag window on the deterministic
    (ts, event_id) order), aggregated as exact integer sums — the
    cadence profile behind session-timeout and rate-limit tuning. The
    gap sum is LONG arithmetic, so avg = sum/count divides two exact
    integers (no double summation anywhere)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            F.unix_micros(F.to_utc_timestamp("ts", "UTC"))
            - F.unix_micros(
                F.to_utc_timestamp(F.lag("ts").over(w), "UTC")
            )
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.round(
            F.sum("gap_us").cast("double")
            / (F.count("*") * F.lit(1_000_000)).cast("double"),
            4,
        ).alias("avg_gap_s"),
    )


def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-purchase latency distribution: per user, the exact
    microsecond gap from first signup to the first purchase AFTER it,
    summarized with discrete (lower) median and p90 — sample values
    under a total order, so no interpolation arithmetic anywhere
    (docs_quality_cutoff's portable-percentile pattern applied to
    funnel timing)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.to_utc_timestamp("ts", "UTC"))
    s = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min(us).alias("signup_us")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("purchase_us")
    )
    gaps = (
        s.join(p, "user_id")
        .filter(F.col("purchase_us") >= F.col("signup_us"))
        .groupBy("user_id")
        .agg(
            F.min(F.col("purchase_us") - F.col("signup_us")).alias("gap_us")
        )
    )
    from hrfco_data_pipeline_spark.operators.ranking import ranked_cumsum

    n_conv = gaps.agg(F.count("*").alias("n"))
    ranked = ranked_cumsum(
        gaps,
        F.col("gap_us").cast("double"),
        [F.asc("gap_us"), F.asc("user_id")],
        sample_key=F.col("user_id"),
        rank_name="rn",
        sample_mod=8,
    ).crossJoin(F.broadcast(n_conv))
    med = F.ceil(F.col("n") / F.lit(2.0))
    p90 = F.ceil(F.col("n") * F.lit(0.9))
    return (
        ranked.filter((F.col("rn") == med) | (F.col("rn") == p90))
        .groupBy("n")
        .agg(
            F.min(F.when(F.col("rn") == med, F.col("gap_us"))).alias(
                "median_gap_us"
            ),
            F.min(F.when(F.col("rn") == p90, F.col("gap_us"))).alias(
                "p90_gap_us"
            ),
        )
        .select(
            F.col("n").alias("n_converted"),
            "median_gap_us",
            "p90_gap_us",
        )
    )


def supplier_on_time_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier punctuality: fraction of line items shipped within 90
    days of their order date (this testdata carries no commitdate),
    worst 25 by rate then key — one orderkey join sharing the fact
    exchange, conditional aggregation on the supplier key, exact
    integer ratio, TakeOrdered cut under a total order."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), F.col("o_orderdate")
    )
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    agg = j.groupBy("l_suppkey").agg(
        F.count("*").alias("n_items"),
        F.sum(
            (
                F.col("l_shipdate") <= F.date_add(F.col("o_orderdate"), 90)
            ).cast("long")
        ).alias("n_on_time"),
    )
    return (
        agg.select(
            "l_suppkey",
            "n_items",
            "n_on_time",
            F.round(
                F.col("n_on_time").cast("double") / F.col("n_items"), 4
            ).alias("on_time_rate"),
        )
        .orderBy(F.asc("on_time_rate"), F.asc("l_suppkey"))
        .limit(25)
    )


def events_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Gini coefficient of event values — the inequality
    readout behind "a few whales drive the volume". Values are
    2-decimal by synthesis, so every moment is EXACT integer
    arithmetic: rank-weighted sums use DECIMAL cents times integer
    ranks, and the final G = (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n divides
    exact operands in double. One per-type rank window + one
    aggregate on the same key."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.format_string("%.2f", F.col("value")).cast("decimal(14,2)")
    w = Window.partitionBy("event_type").orderBy(
        F.asc("value"), F.asc("event_id")
    )
    ranked = ev.select(
        "event_type", cents.alias("x"), F.row_number().over(w).alias("i")
    )
    agg = ranked.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("i")).cast("double").alias("sxi"),
    )
    n = F.col("n").cast("double")
    gini = (2.0 * F.col("sxi")) / (n * F.col("sx")) - (n + 1.0) / n
    return agg.select(
        "event_type", "n", F.round(gini, 4).alias("gini")
    )


def events_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic heatmap cells: counts per (day-of-week, hour-of-day)
    with each cell's share — the seasonality fingerprint dashboards
    render. Calendar parity note: Spark's dayofweek is 1-based
    (Sunday=1), DuckDB's dow is 0-based (Sunday=0); the engine emits
    the 0-based convention. One bounded 168-cell aggregate."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").alias("hod"),
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy()
    return cells.select(
        "dow",
        "hod",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w), 6
        ).alias("share"),
    )


def orders_cohort_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase rate by acquisition cohort: customers grouped by
    their FIRST order's year; each cohort reports size and the
    fraction that ordered again — the retention readout on the orders
    fact. Two bounded aggregates (customer, then cohort); exact
    integer ratio."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort_year"),
        F.count("*").alias("n_orders"),
    )
    return per_cust.groupBy("cohort_year").agg(
        F.count("*").alias("n_customers"),
        F.sum((F.col("n_orders") >= 2).cast("long")).alias("n_repeat"),
        F.round(
            F.sum((F.col("n_orders") >= 2).cast("long")).cast("double")
            / F.count("*"),
            4,
        ).alias("repeat_rate"),
    )


def events_type_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: each day's event-type mix scored
    against the overall corpus mix with the chi-square statistic
    Σ (p_day − p_all)² / p_all — the day-over-day input-drift alarm an
    ML pipeline watches. Counts are exact; the per-day score folds
    over the TYPE-SORTED term list (docs_token_entropy's order-pinned
    pattern) so the double sum is engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(F.to_date("ts").alias("day"), "event_type")
    day_counts = d.groupBy("day", "event_type").agg(
        F.count("*").alias("n")
    )
    totals = d.groupBy("event_type").agg(F.count("*").alias("n_all"))
    grand = d.count()  # bounded action: one scalar for the plan
    j = day_counts.join(F.broadcast(totals), "event_type")
    per_day = j.groupBy("day").agg(
        F.sort_array(
            F.collect_list(F.struct("event_type", "n", "n_all"))
        ).alias("ts"),
        F.sum("n").alias("n_day"),
    )
    term = lambda t: (
        (
            t["n"].cast("double") / F.col("n_day").cast("double")
            - t["n_all"].cast("double") / F.lit(float(grand))
        )
        * (
            t["n"].cast("double") / F.col("n_day").cast("double")
            - t["n_all"].cast("double") / F.lit(float(grand))
        )
        / (t["n_all"].cast("double") / F.lit(float(grand)))
    )
    return per_day.select(
        "day",
        F.col("n_day").cast("long").alias("n_day"),
        F.round(
            F.aggregate("ts", F.lit(0.0), lambda acc, t: acc + term(t)), 6
        ).alias("chi2_drift"),
    )


def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split: events attributed to users seen
    for the first time that day vs returning users — the acquisition/
    retention overlay on the traffic curve. First-touch resolves in
    one user-keyed aggregate (events_running_distinct_users' shape);
    the day split is a broadcast join back."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day"))
    first_day = d.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = d.join(F.broadcast(first_day), "user_id")
    return j.groupBy("day").agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("day") == F.col("first_day")).cast("long")).alias(
            "n_new_user_events"
        ),
        F.sum((F.col("day") != F.col("first_day")).cast("long")).alias(
            "n_returning_events"
        ),
    )


def events_value_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-of-magnitude value histogram via pure INTEGER log2
    bucketing: bucket = bit-width of the value in cents (the length of
    its base-2 rendering) — no floating log anywhere, so the bucket
    boundaries are bit-exact in any engine and the histogram is safe
    to merge across shards/days. One bounded aggregate."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    bucket = F.length(F.conv(cents.cast("string"), 10, 2)).alias("bits")
    return (
        ev.filter(F.col("value").isNotNull() & (F.col("value") >= 0))
        .select(bucket)
        .groupBy("bits")
        .agg(F.count("*").alias("n"))
    )


def events_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions via Spark's NATIVE dynamic session window
    (``F.session_window``) — the engine-level operator behind both the
    batch plan here and the streaming sessionization path (watermark +
    state-store merge on a real stream; see streaming notes). Unlike
    the lag/gaps-and-islands formulation (events_sessionize), this is
    a single groupBy whose key is the merged session interval itself:
    one shuffle on (user_id), session merge inside the agg — exactly
    what survives as a stateful operator under Structured Streaming.

    Session end follows Spark's contract: end = last event + gap (a
    gap of exactly 30:00 starts a NEW session — intervals are
    half-open)."""
    ev = load_table(spark, sf_dir, "events")
    sw = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias(
            "n_purchases"
        ),
    )
    return sw.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "n_purchases",
    )


def events_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-histogram quantile rollup — the stored-rollup pattern
    for percentiles (the quantile twin of the HLL distinct rollup):
    per (type, day) fixed 512-bin unit-width histograms are the stored
    partials; bins merge upward by integer addition (never rescan raw
    events), and p50/p90/p99 are read off the merged histogram with
    within-bin linear interpolation. Every estimate derives from
    integer bin counts through a fixed sequence of IEEE double ops, so
    the result is bit-deterministic at any parallelism — unlike
    percentile_approx, whose sketch is merge-order-dependent.
    Shuffles: two bounded-key aggs (type×day×bin, then type×bin); the
    quantile pick is a window over the ≤512-row merged table."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(F.floor("value").cast("int"), F.lit(511))
    daily = (
        ev.filter(F.col("value").isNotNull() & (F.col("value") >= 0))
        .groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
            bucket.alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
    )
    merged = daily.groupBy("event_type", "bucket").agg(
        F.sum("n").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    wall = Window.partitionBy("event_type")
    h = merged.select(
        "event_type",
        "bucket",
        "n",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(wall).alias("total"),
    )
    qs = F.explode(
        F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    ).alias("q")
    hq = h.select("*", qs).withColumn("t", F.col("q") * F.col("total"))
    crossing = (
        hq.filter(F.col("cum") >= F.col("t"))
        .groupBy("event_type", "q")
        .agg(F.min("bucket").alias("bucket"))
    )
    est = crossing.join(h, ["event_type", "bucket"]).select(
        "event_type",
        "q",
        "total",
        (
            F.col("bucket")
            + (F.col("q") * F.col("total") - (F.col("cum") - F.col("n")))
            / F.col("n")
        ).alias("est"),
    )
    return est.groupBy("event_type").agg(
        F.max("total").alias("n"),
        _r4(F.max(F.when(F.col("q") == 0.5, F.col("est")))).alias("p50_est"),
        _r4(F.max(F.when(F.col("q") == 0.9, F.col("est")))).alias("p90_est"),
        _r4(F.max(F.when(F.col("q") == 0.99, F.col("est")))).alias("p99_est"),
    )


def parts_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: part pairs co-occurring in
    the same order, with support and lift. The pair fan-out is bounded
    by basket size (pairs-per-order = |basket|², baskets are ~4-7
    items), so the self-join on orderkey never goes quadratic in the
    corpus; per-part and pair supports are map-side-combined aggs, and
    the two support dims broadcast back onto the (filtered, tiny) pair
    table. Lift = N·supp(ab)/(supp(a)·supp(b)) on exact counts."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = op.select(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    pc = op.groupBy("l_partkey").agg(F.count("*").alias("np"))
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    na = pc.select(F.col("l_partkey").alias("part_a"), F.col("np").alias("n_a"))
    nb = pc.select(F.col("l_partkey").alias("part_b"), F.col("np").alias("n_b"))
    out = (
        pairs.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .crossJoin(F.broadcast(n_orders))
    )
    lift = (F.col("n_ab") * F.col("n_orders")) / (F.col("n_a") * F.col("n_b"))
    return out.select(
        "part_a", "part_b", "n_ab", "n_a", "n_b", _r4(lift).alias("lift")
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-2 co-purchase HALF edge list (u < v): part pairs
    co-ordered >= 2 times — the shared graph substrate of the
    co-purchase family (triangles, neighbor Jaccard, label
    propagation, BFS, k-core). Per-order pair fan-out is
    C(|basket|, 2), bounded by basket size on TPC-H shapes; for
    unbounded baskets see the salt remark in
    copurchase_jaccard_parts."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
        .select("u", "v")
    )


def copurchase_triangles(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> DataFrame:
    """Triangle counting + local clustering coefficient on the part
    co-purchase graph (edges = part pairs co-ordered ≥2 times). The
    classic distributed triangle enumeration: edges oriented low→high
    id, wedge join on the middle vertex, closure check by a third
    equi-join — each triangle found exactly once (a<b<c). Per-task
    fan-out is bounded by per-vertex out-degree; at 100 TB orient by
    (degree, id) instead of raw id so no vertex's out-list exceeds
    O(sqrt(|E|)) — same plan, different orientation key. The edge
    table (support-filtered, ≪ corpus) is materialized once and reused
    by all three join legs and the degree agg."""

    edges = _copurchase_edges(spark, sf_dir)
    if materialize:
        edges = materialized(edges)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("x"),
            F.col("e1.v").alias("y"),
            F.col("e2.v").alias("z"),
        )
    )
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("part"))
        .groupBy("part")
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("part"))
        .groupBy("part")
        .agg(F.count("*").alias("degree"))
    )
    cc = (2 * F.col("n_triangles")) / (
        F.col("degree") * (F.col("degree") - 1)
    )
    return per_node.join(deg, "part").select(
        "part", "n_triangles", "degree", _r4(cc).alias("clustering")
    )


def nation_trade_pagerank(
    spark: SparkSession,
    sf_dir: str,
    iters: int = 5,
    materialize: bool = True,
) -> DataFrame:
    """Weighted PageRank over the nation→nation trade graph (supplier
    nation links to customer nation, edge weight = exact revenue
    cents), five synchronous iterations, d=0.85 — the iterative
    link-analysis family beyond connected components. ALL rank
    arithmetic is integer-exact (ranks in 1e-12 units; transition
    probabilities pre-rounded to parts-per-billion; per-edge
    contribution uses the exact identity
    floor(r·p/1e9) = (r div 1e9)·p + ((r mod 1e9)·p) div 1e9, every
    term int64-bounded), so the fixpoint is partition-order invariant
    at any parallelism and bit-reproducible in any engine. Per
    iteration: one broadcast-sized join (ranks table = |nations|) +
    one groupBy on the destination key — the canonical Spark iteration
    shape; at web scale the same loop shuffles on vertex id with the
    rank table no longer broadcast, and lineage is cut by checkpoint
    every ~5 rounds (as connected_components does). Dangling nodes
    (no out-edges) redistribute their mass uniformly via an exact
    integer share, so total mass is conserved up to floor losses.

    ``materialize`` (the default) runs the fixpoint on the DRIVER over
    the collected probability-edge table (r16, guide §1.2 — the
    distributed algorithm first): the graph here is the NATION
    dimension — ≤25 nodes and ≤600 edges at every scale factor, a
    schema-bounded metadata table (the Lloyd-centroid /
    Apriori-grid collect convention), while the DATA-scale work (the
    lineitem 5-way join that weighs the edges) stays fully
    distributed. The pre-r16 in-Spark loop checkpointed the 25-row
    rank table every iteration and scheduled ~64 jobs per execution
    (3 broadcast builds + a checkpoint per round) to move a few
    hundred bytes; the driver fold is the same exact integer
    recurrence (Python int `//`/`%` ≡ Spark `div`/`%` on these
    non-negative int64-bounded terms) so the fixpoint is
    bit-identical. At web scale — vertices NOT schema-bounded — the
    iteration must stay in Spark: that shape is preserved under
    ``materialize=False`` (lazy, per-round join + agg; plan audits
    pass iters=1 to see it), and lineage would be cut per round as
    connected_components does."""

    # r17 (verdict item 1, guide §2.5 input under-split): the testdata
    # lineitem file is ONE parquet row group, so the scan stage — which
    # also carries the five broadcast-join probes and the per-row
    # %.2f→decimal revenue arithmetic — ran as a single straggler task
    # (~2.3 s of the driver's 8.08 s cold; REST-API stage profile).
    # Project to the four join/measure columns and spread the scan so
    # the probe+decimal work runs at full parallelism; the helper
    # no-ops at real scale (many splits). Interleaved A/B (4 reps):
    # p_edges collect 4.0–5.5 s → 2.3–2.7 s, identical 600 edges.
    li = parallelize_small_scan(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
        )
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    cn = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount")
    )
    w_edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(cn), cust["c_nationkey"] == F.col("cn_key"))
        .join(F.broadcast(sn), supp["s_nationkey"] == F.col("sn_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            F.col("supp_nation").alias("u"), F.col("cust_nation").alias("v")
        )
        # ×10000 shifts ALL fractional digits of the scale-4 decimal sum
        # out before the integral cast (a scale-2 shift would leave a
        # fraction, and decimal→bigint casts round differently across
        # engines: Spark truncates, DuckDB rounds)
        .agg((F.sum(rev) * 10000).cast("bigint").alias("w"))
    )
    out_w = w_edges.groupBy("u").agg(F.sum("w").alias("out_w"))
    # transition probability in exact parts-per-billion; double division
    # on int64-exact operands is one IEEE op — identical in any engine
    p_edges = (
        w_edges.join(out_w, "u")
        .select(
            "u",
            "v",
            F.round(
                F.col("w").cast("double")
                * 1.0e9
                / F.col("out_w").cast("double")
            )
            .cast("bigint")
            .alias("p"),
        )
    )
    if materialize:
        # driver-side exact fixpoint over the bounded nation graph:
        # two metadata-scale collects (≤600 probability edges, 25
        # node names), then pure-int recurrence — zero per-iteration
        # Spark jobs. The final rank_rel arithmetic stays in Spark so
        # the double rounding is the engine's own.
        B = 1_000_000_000
        edges = [
            (r["u"], r["v"], r["p"]) for r in p_edges.collect()
        ]
        node_names = [r["node"] for r in
                      nat.select(F.col("n_name").alias("node")).collect()]
        n = len(node_names)
        # Bounded-metadata contract (the KMV "BY CONSTRUCTION"
        # convention): the nation dimension is schema-bounded (25 rows
        # in TPC-H at every SF), so nodes and the ≤n² probability edges
        # are metadata-scale collects. A graph that is NOT
        # schema-bounded must use the in-Spark loop (materialize=False)
        # — fail loudly rather than fold an unbounded graph on the
        # driver.
        if n > 1000 or len(edges) > n * n:
            raise ValueError(
                f"nation_trade_pagerank: {n} nodes / {len(edges)} edges "
                "exceed the schema-bounded nation-dimension contract; "
                "use materialize=False (distributed per-round loop) for "
                "unbounded vertex domains"
            )
        has_out = {u for u, _, _ in edges}
        dangling = [x for x in node_names if x not in has_out]
        ranks = {x: 40_000_000_000 for x in node_names}
        for _ in range(iters):
            d = sum(ranks[x] for x in dangling)
            ds = d // n
            s = dict.fromkeys(node_names, 0)
            for u, v, p in edges:
                r = ranks[u]
                s[v] += (r // B) * p + ((r % B) * p) // B
            ranks = {
                x: 6_000_000_000 + (85 * (s[x] + ds)) // 100
                for x in node_names
            }
        out = spark.createDataFrame(
            [(x, ranks[x]) for x in node_names], "node string, r long"
        )
        return out.select(
            F.col("node").alias("nation"),
            F.col("r").alias("rank_e12"),
            _r4(F.col("r").cast("double") / 1.0e12 * 25).alias("rank_rel"),
        )
    nodes = nat.select(F.col("n_name").alias("node"))
    ranks = nodes.select("node", F.lit(40_000_000_000).alias("r"))
    contrib = (
        (F.expr("r div 1000000000") * F.col("p"))
        + F.expr("((r % 1000000000) * p) div 1000000000")
    )
    # dangling nodes (no out-edges — e.g. nations with no suppliers at
    # small SF) redistribute their mass uniformly, the textbook
    # formulation; without this the walk leaks mass every iteration
    dangling = nodes.join(
        p_edges.select(F.col("u").alias("node")).distinct(),
        "node",
        "left_anti",
    )
    for _ in range(iters):
        d_share = (
            ranks.join(F.broadcast(dangling), "node", "left_semi")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).alias("d"))
            .select(F.expr("d div 25").alias("ds"))
        )
        agg = (
            p_edges.join(F.broadcast(ranks), p_edges["u"] == ranks["node"])
            .select(p_edges["v"].alias("node"), contrib.alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(agg, "node", "left")
            .crossJoin(F.broadcast(d_share))
            .select(
                "node",
                (
                    F.lit(6_000_000_000)
                    + F.expr("85 * (coalesce(s, 0L) + ds) div 100")
                ).alias("r"),
            )
        )
    return ranks.select(
        F.col("node").alias("nation"),
        F.col("r").alias("rank_e12"),
        _r4(F.col("r").cast("double") / 1.0e12 * 25).alias("rank_rel"),
    )


def orders_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law data-quality screen on order totals: observed
    leading-digit distribution vs the Benford expectation, with the
    per-digit chi-square contribution — the classic fabricated-data /
    unit-mixup detector on financial columns. One 9-key aggregate;
    the expected shares are 10-decimal literals (identical doubles in
    any engine) rather than runtime log10 calls, so every derived
    number is bit-portable."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        o.filter(cents > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    total = counts.select(F.sum("n").alias("total"))
    benford = F.element_at(
        F.array(
            *[
                F.lit(x)
                for x in (
                    0.3010299957,
                    0.1760912591,
                    0.1249387366,
                    0.0969100130,
                    0.0791812460,
                    0.0669467896,
                    0.0579919470,
                    0.0511525224,
                    0.0457574906,
                )
            ]
        ),
        F.col("digit"),
    )
    j = counts.crossJoin(F.broadcast(total)).withColumn(
        "benford_share", benford
    )
    expected = F.col("benford_share") * F.col("total").cast("double")
    chi2 = (F.col("n").cast("double") - expected) * (
        F.col("n").cast("double") - expected
    ) / expected
    return j.select(
        "digit",
        "n",
        _r4(F.col("n").cast("double") / F.col("total").cast("double")).alias(
            "share"
        ),
        _r4(F.col("benford_share")).alias("benford_share"),
        _r4(chi2).alias("chi2_term"),
    )


def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B z-test on a deterministic hash split: users
    assigned to variants by the Knuth bucket hash (stable across
    runs/retries/AQE — the experiment-assignment primitive). The
    analysis unit is the active user-DAY (a user-level unit saturates:
    over a long window every user purchases at least once and the
    pooled variance degenerates to zero), converted = at least one
    purchase that day. z = (pA−pB)/√(p̂(1−p̂)(1/nA+1/nB)) on exact
    integer counts; the only floating ops are divisions and one
    correctly-rounded sqrt, so the statistic is bit-portable. One
    (user, day)-keyed aggregate resolves conversion, then a 2-row
    reduce."""
    from hrfco_data_pipeline_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    per_unit = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.max((F.col("event_type") == "purchase").cast("long")).alias(
            "converted"
        )
    )
    per_variant = (
        per_unit.withColumn("variant", hash_bucket("user_id", 2))
        .groupBy("variant")
        .agg(
            F.count("*").alias("n_units"),
            F.sum("converted").alias("n_converted"),
        )
    )
    # one unconditional 1-row reduce (not a crossJoin of filtered
    # arms): an empty variant reports zero counts instead of an empty
    # result, so degenerate inputs stay visible
    arm = lambda v, c: F.coalesce(  # noqa: E731
        F.sum(F.when(F.col("variant") == v, F.col(c))), F.lit(0)
    ).cast("long")
    j = per_variant.agg(
        arm(0, "n_units").alias("n_a"),
        arm(0, "n_converted").alias("c_a"),
        arm(1, "n_units").alias("n_b"),
        arm(1, "n_converted").alias("c_b"),
    )
    ratio = lambda c, n: F.when(  # noqa: E731
        F.col(n) > 0, F.col(c).cast("double") / F.col(n).cast("double")
    )
    p_a = ratio("c_a", "n_a")
    p_b = ratio("c_b", "n_b")
    p_pool = F.when(
        (F.col("n_a") + F.col("n_b")) > 0,
        (F.col("c_a") + F.col("c_b")).cast("double")
        / (F.col("n_a") + F.col("n_b")).cast("double"),
    )
    se = F.sqrt(
        p_pool
        * (F.lit(1.0) - p_pool)
        * (
            F.try_divide(F.lit(1.0), F.col("n_a").cast("double"))
            + F.try_divide(F.lit(1.0), F.col("n_b").cast("double"))
        )
    )
    # z is NULL (not NaN/Inf) when an arm is empty or conversion is
    # 0%/100% pooled — degenerate experiments surface as a clear
    # signal, never a silent NaN
    z = F.when(se > 0, (p_a - p_b) / se)
    return j.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        _r4(p_a).alias("p_a"),
        _r4(p_b).alias("p_b"),
        _r4(z).alias("z"),
    )


def brand_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration report: Herfindahl–Hirschman index of
    supplier revenue shares within each part brand. Revenue sums are
    exact decimals; the share-squared sum folds over the
    SUPPLIER-SORTED list (the order-pinned double-fold pattern of
    events_type_drift), so the floating reduction is engine-identical.
    Two bounded-key aggs (brand×supplier, then brand); the per-brand
    supplier list is dim-bounded."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount")
    )
    bs = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "l_suppkey")
        .agg((F.sum(rev) * 10000).cast("bigint").alias("r"))
    )
    per_brand = bs.groupBy("p_brand").agg(
        F.sort_array(F.collect_list(F.struct("l_suppkey", "r"))).alias(
            "rs"
        ),
        F.sum("r").alias("tot"),
        F.count("*").alias("n_suppliers"),
    )
    share_sq = lambda t: (
        t["r"].cast("double") / F.col("tot").cast("double")
    ) * (t["r"].cast("double") / F.col("tot").cast("double"))
    return per_brand.select(
        F.col("p_brand").alias("brand"),
        "n_suppliers",
        F.round(
            F.aggregate("rs", F.lit(0.0), lambda acc, t: acc + share_sq(t)),
            6,
        ).alias("hhi"),
    )


def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan per event type: the day where the
    cumulative deviation of daily counts from the series mean peaks —
    the standard level-shift detector on traffic series. CUSUM_d =
    running_count − d·μ needs only an integer running sum and one
    multiply per day, so the curve is bit-deterministic; the argmax
    tie-breaks on earliest day. One (type, day) agg + one type-keyed
    window — daily-rollup-sized data throughout."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"))
    )
    wall = Window.partitionBy("event_type")
    w = Window.partitionBy("event_type").orderBy("day")
    scored = daily.select(
        "event_type",
        "day",
        F.sum("n").over(wall).alias("n_total"),
        F.count("*").over(wall).alias("n_days"),
        F.sum("n").over(w).alias("run"),
        F.row_number().over(w).alias("idx"),
    ).withColumn(
        "cusum",
        F.col("run").cast("double")
        - F.col("idx").cast("double")
        * (F.col("n_total").cast("double") / F.col("n_days").cast("double")),
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), F.col("day").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            _r4(F.col("cusum")).alias("cusum_at_peak"),
            "n_days",
            _r4(
                F.col("n_total").cast("double")
                / F.col("n_days").cast("double")
            ).alias("mean_daily"),
        )
    )


def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining over sessions: the top-20 three-step event-type
    journeys (path trigrams) across all 30-minute-gap sessions — the
    user-journey report behind funnel design (the n-gram face of
    events_markov_transitions' first-order matrix). Reuses
    events_sessionize's gap detection; each session's ordered type
    sequence folds out to overlapping trigrams via codegen'd
    higher-order functions (no UDFs), and the global count rides one
    path-keyed aggregate with map-side partials. Per-session arrays
    are session-length-bounded; ties at the top-k cut break on path
    text for a deterministic report."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = F.timestamp_diff(
        "SECOND",
        F.date_trunc("second", prev),
        F.date_trunc("second", F.col("ts")),
    )
    flagged = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    seqs = sess.groupBy("user_id", "session_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda t: t["event_type"],
        ).alias("seq")
    )
    n = F.size("seq")
    tris = seqs.select(
        F.explode(
            F.when(
                n >= 3,
                F.transform(
                    F.sequence(F.lit(1), n - 2),
                    lambda i: F.concat_ws(">", F.slice("seq", i, F.lit(3))),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("path")
    )
    return (
        tris.groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


def session_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve over session durations (whole
    minutes from first to last event of each 30-minute-gap session),
    right-censoring sessions whose last event falls within one gap of
    the stream end (they may still be open) — the survival-analysis
    family: S(t) = P(session lasts ≥ t minutes). The at-risk/ended
    counts are exact integers; S(t) = Π(1 − d_i/n_i) folds over the
    DURATION-SORTED prefix of the life table, so every floating
    product is order-pinned and engine-identical. The life table is
    ≤ |distinct durations| rows — report-sized; only the session
    assignment (one user-keyed window) touches data-sized rows."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = F.timestamp_diff(
        "SECOND",
        F.date_trunc("second", prev),
        F.date_trunc("second", F.col("ts")),
    )
    flagged = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.date_trunc("second", F.min("ts")).alias("t0"),
        F.date_trunc("second", F.max("ts")).alias("t1"),
    )
    gmax = per_sess.select(F.max("t1").alias("gmax"))
    pu = per_sess.crossJoin(F.broadcast(gmax)).select(
        F.expr("timestampdiff(SECOND, t0, t1) div 60")
        .cast("int")
        .alias("t"),
        (F.timestamp_diff("SECOND", F.col("t1"), F.col("gmax")) <= 1800)
        .cast("long")
        .alias("censored"),
    )
    life = pu.groupBy("t").agg(
        F.count("*").alias("n_ending"),
        F.sum(F.lit(1) - F.col("censored")).alias("d"),
    )
    one = life.agg(
        F.sort_array(
            F.collect_list(F.struct("t", "n_ending", "d"))
        ).alias("arr"),
        F.sum("n_ending").alias("total"),
    )
    # n_at_risk(t) = total - Σ n_ending over durations < t (every
    # session lasting >= t); S(t) folds (1 - d/n) over the sorted
    # prefix — the life table is report-sized, so the O(rows²)
    # prefix folds are constant-time
    ex = one.select(
        "total", "arr", F.posexplode("arr").alias("pos", "row")
    )
    n_at_risk = F.col("total") - F.aggregate(
        F.slice("arr", F.lit(1), F.col("pos")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x["n_ending"],
    )
    surv = F.aggregate(
        F.slice("arr", F.lit(1), F.col("pos") + 1),
        F.struct(
            F.lit(1.0).alias("s"), F.lit(0).cast("long").alias("seen")
        ),
        lambda acc, x: F.struct(
            (
                acc["s"]
                * (
                    F.lit(1.0)
                    - x["d"].cast("double")
                    / (
                        F.col("total") - acc["seen"]
                    ).cast("double")
                )
            ).alias("s"),
            (acc["seen"] + x["n_ending"]).alias("seen"),
        ),
    )["s"]
    return ex.select(
        F.col("row")["t"].alias("t_minutes"),
        n_at_risk.alias("n_at_risk"),
        F.col("row")["d"].alias("d_ended"),
        F.round(surv, 6).alias("survival"),
    )


def orders_open_backlog_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time via the sweep-line pattern: each
    order contributes +1 at its order date and −1 the day after its
    last line ships; the daily running sum of deltas IS the number of
    open orders — interval stabbing without a day×order cross join.
    The delta table collapses to ≤ |distinct days| rows before the
    single unpartitioned running-sum window (report-sized by
    construction, like domain_mix_rates; at extreme spans partition
    by month and prefix-merge)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    close = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("close_day")
    )
    spans = orders.join(
        close, orders["o_orderkey"] == close["l_orderkey"]
    ).select(F.to_date("o_orderdate").alias("open_day"), "close_day")
    deltas = spans.select(
        F.col("open_day").alias("day"), F.lit(1).alias("delta")
    ).unionAll(
        spans.select(
            F.date_add("close_day", 1).alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("d"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day", F.sum("d").over(w).alias("n_open")
    )


def orders_ship_latency_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-first-shipment latency percentiles per order priority:
    exact median/p90 over integer day gaps (the fulfilment SLA
    report). One fact⋈fact join on orderkey, then a 5-key exact
    percentile — the sort is per-priority over pre-aggregated
    latencies."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    lat = orders.join(
        first_ship, orders["o_orderkey"] == first_ship["l_orderkey"]
    ).select(
        "o_orderpriority",
        F.datediff("first_ship", F.to_date("o_orderdate")).alias("days"),
    )
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.median("days").alias("med_days"),
            F.percentile("days", F.lit(0.9)).alias("p90_days"),
            F.max("days").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


def lineitem_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC inventory classification: parts ranked by exact
    revenue; class A = parts inside the first 80% of cumulative
    revenue, B to 95%, C the tail — the 80/20 concentration report.
    Revenue is integer-exact (decimal cents), the cumulative window
    runs over the part-cardinality table (dim-sized by definition),
    and class boundaries compare an exact integer cumsum against
    threshold×total — one deterministic comparison per part."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount")
    )
    per_part = li.groupBy("l_partkey").agg(
        (F.sum(rev) * 10000).cast("bigint").alias("r")
    )
    from hrfco_data_pipeline_spark.operators.ranking import ranked_cumsum

    total = per_part.agg(F.sum("r").alias("total"))
    ranked = (
        ranked_cumsum(
            per_part,
            -F.col("r").cast("double"),
            [F.desc("r"), F.asc("l_partkey")],
            sample_key=F.col("l_partkey"),
            sums={"cum": F.col("r")},
            rank_name="_rn",
            sample_mod=8,
        )
        .crossJoin(F.broadcast(total))
        .select("l_partkey", "r", "cum", "total")
    )
    cls = (
        F.when(
            F.col("cum").cast("double")
            <= F.lit(0.80) * F.col("total").cast("double"),
            "A",
        )
        .when(
            F.col("cum").cast("double")
            <= F.lit(0.95) * F.col("total").cast("double"),
            "B",
        )
        .otherwise("C")
    )
    return (
        ranked.withColumn("abc", cls)
        .groupBy("abc")
        .agg(
            F.count("*").alias("n_parts"),
            _r4(
                F.sum("r").cast("double")
                / F.max("total").cast("double")
            ).alias("revenue_share"),
        )
    )


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: customers scored into quartiles on Recency
    (days since last order), Frequency (order count), and Monetary
    (exact lifetime spend), then counted per (r,f,m) cell — the
    standard CRM segmentation grid. ntile(4) is deterministic under a
    total order (metric, custkey tie-break); all three metrics are
    integer-exact, so the quartile cuts are engine-identical. One
    customer-keyed aggregate + three dim-sized window passes."""
    orders = load_table(spark, sf_dir, "orders")
    gmax = orders.select(
        F.max(F.to_date("o_orderdate")).alias("gmax")
    )
    per_cust = (
        orders.crossJoin(F.broadcast(gmax))
        .groupBy("o_custkey")
        .agg(
            F.min(
                F.datediff("gmax", F.to_date("o_orderdate"))
            ).alias("recency_days"),
            F.count("*").alias("n_orders"),
            (F.sum(_dec("o_totalprice")) * 100)
            .cast("bigint")
            .alias("spend_cents"),
        )
    )
    from hrfco_data_pipeline_spark.operators.ranking import (
        int_ntile,
        ranked_cumsum,
    )

    n_cust = per_cust.agg(F.count("*").alias("_n"))

    def _quartile(metric_asc, order_exprs, name):
        # one range-bucketed two-pass rank per dimension — three hash
        # exchanges on the customer dim instead of three
        # single-partition sorts
        return (
            ranked_cumsum(
                per_cust,
                metric_asc,
                order_exprs,
                sample_key=F.col("o_custkey"),
                rank_name="_rn",
                sample_mod=8,
            )
            .crossJoin(F.broadcast(n_cust))
            .select(
                "o_custkey",
                int_ntile(F.col("_rn"), F.col("_n"), 4).alias(name),
            )
        )

    r_s = _quartile(
        F.col("recency_days").cast("double"),
        [F.col("recency_days").asc(), F.col("o_custkey")],
        "r_quartile",
    )
    f_s = _quartile(
        -F.col("n_orders").cast("double"),
        [F.col("n_orders").desc(), F.col("o_custkey")],
        "f_quartile",
    )
    m_s = _quartile(
        -F.col("spend_cents").cast("double"),
        [F.col("spend_cents").desc(), F.col("o_custkey")],
        "m_quartile",
    )
    scored = r_s.join(f_s, "o_custkey").join(m_s, "o_custkey").select(
        "r_quartile", "f_quartile", "m_quartile"
    )
    return scored.groupBy(
        "r_quartile", "f_quartile", "m_quartile"
    ).agg(F.count("*").alias("n_customers"))


def sessions_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order in-session funnel (the complex-event-processing
    shape): how far each 30-minute session progresses through
    signup → view → purchase AS AN ORDERED SUBSEQUENCE (a purchase
    before the signup does not count), counted per depth reached.
    The state machine is a codegen'd integer fold over each session's
    ordered type sequence — no UDF, no self-joins over event pairs;
    one user-keyed window + one 4-key aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = F.timestamp_diff(
        "SECOND",
        F.date_trunc("second", prev),
        F.date_trunc("second", F.col("ts")),
    )
    flagged = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    seqs = sess.groupBy("user_id", "session_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda t: t["event_type"],
        ).alias("seq")
    )
    mapped = F.transform(
        "seq",
        lambda x: F.when(x == "signup", 1)
        .when(x == "view", 2)
        .when(x == "purchase", 3)
        .otherwise(0),
    )
    stage = F.aggregate(
        mapped,
        F.lit(0),
        lambda acc, x: F.when((acc == 0) & (x == 1), 1)
        .when((acc == 1) & (x == 2), 2)
        .when((acc == 2) & (x == 3), 3)
        .otherwise(acc),
    )
    return (
        seqs.select(stage.alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count("*").alias("n_sessions"))
    )


def events_type_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix between event-type daily-count
    series — do error spikes co-move with traffic? All five moment
    sums (Σx, Σy, Σxy, Σx², Σy²) are exact integers over the daily
    rollup; r derives through a fixed sequence of double ops and one
    correctly-rounded sqrt, so the matrix is bit-portable. Shape: one
    (day, type) agg, a day-keyed self-join bounded by |types|² pairs
    per day, and a pair-keyed integer-sum aggregate — daily-rollup
    data sizes throughout."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("day", "event_type")
        .agg(F.count("*").alias("n"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_x"),
            F.col("b.event_type").alias("type_y"),
        )
        .agg(
            F.count("*").alias("n_days"),
            F.sum("a.n").alias("sx"),
            F.sum("b.n").alias("sy"),
            F.sum(F.col("a.n") * F.col("b.n")).alias("sxy"),
            F.sum(F.col("a.n") * F.col("a.n")).alias("sxx"),
            F.sum(F.col("b.n") * F.col("b.n")).alias("syy"),
        )
    )
    nd = F.col("n_days").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = F.sqrt(
        (
            nd * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            nd * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return pairs.select(
        "type_x",
        "type_y",
        "n_days",
        _r4(num / den).alias("pearson_r"),
    )


def events_median_bisect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type median WITHOUT any sort: binary search over the
    integer cents domain, one conditional-counting pass per step —
    the 100 TB exact-quantile pattern. Each pass is a map-side
    partial count (`cents <= mid`), so ⌈log₂|domain|⌉ ≈ 16 cheap
    scans replace a global sort / single-partition percentile; the
    driver holds only |types|×2 search intervals. For even n the
    median is the mean of the two middle elements, both found by the
    same bisection on ranks ⌈n/2⌉ and ⌈(n+1)/2⌉. Values are exactly
    2-decimal (cents round-trip bit-perfectly), so the result equals
    the sort-based median to the 4-decimal output rounding."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    bounds = {
        r["event_type"]: (r["n"], r["lo"], r["hi"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("cents").alias("lo"),
            F.max("cents").alias("hi"),
        )
        .collect()  # bounded: one row per event type
    }
    # state per (type, which-middle): lo/hi interval and target rank
    state = {}
    for t, (n, lo, hi) in bounds.items():
        state[(t, 1)] = [lo, hi, (n + 1) // 2]
        state[(t, 2)] = [lo, hi, (n + 2) // 2]
    while any(lo < hi for lo, hi, _ in state.values()):
        mids = [
            (t, w, (s[0] + s[1]) // 2)
            for (t, w), s in state.items()
            if s[0] < s[1]
        ]
        mdf = spark.createDataFrame(mids, "event_type string, w int, mid long")
        cnt = {
            (r["event_type"], r["w"]): r["c"]
            for r in ev.join(F.broadcast(mdf), "event_type")
            .groupBy("event_type", "w", "mid")
            .agg(
                F.sum((F.col("cents") <= F.col("mid")).cast("long")).alias(
                    "c"
                )
            )
            .collect()  # bounded: |types|×2 rows per pass
        }
        for t, w, mid in mids:
            s = state[(t, w)]
            if cnt[(t, w)] >= s[2]:
                s[1] = mid
            else:
                s[0] = mid + 1
    rows = [
        (
            t,
            bounds[t][0],
            (state[(t, 1)][0] + state[(t, 2)][0]) / 2.0 / 100.0,
        )
        for t in bounds
    ]
    out = spark.createDataFrame(rows, "event_type string, n long, med double")
    return out.select("event_type", "n", _r4(F.col("med")).alias("med"))


def copurchase_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation on the
    part co-purchase graph (edges = pairs co-ordered ≥2 times): each
    round every node adopts its neighbours' MOST FREQUENT label,
    ties broken by smallest label — fully deterministic, unlike the
    classic randomized-order LPA, so the fixed 3-round result is
    engine-reproducible. Per round: one edge⋈labels join, one
    (node, label) count, one deterministic argmax window — the same
    bounded iteration shape as connected components, with lineage
    cut per round. Output: per-community sizes (communities = label
    fixpoints after 3 rounds)."""

    half = _copurchase_edges(spark, sf_dir)
    # undirected adjacency: both directions
    adj = materialized(
        half.unionAll(
            half.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    labels = adj.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    pick = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for _ in range(3):
        nbr = (
            adj.join(labels, adj["v"] == labels["node"])
            .select(F.col("u").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count("*").alias("cnt"))
        )
        labels = materialized(
            nbr.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return (
        labels.groupBy("label")
        .agg(F.count("*").alias("community_size"))
        .filter(F.col("community_size") > 1)
    )


def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged autocorrelation function (lags 1–7 days) of each event
    type's daily-count series — does today's traffic predict
    tomorrow's / next week's? Matched-pair Pearson at each lag on
    exact integer moments (events_type_correlations' portable-r
    recipe); the lag fan-out is a 7-way explode on the daily rollup,
    so everything downstream is (rollup × 7)-sized."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"))
    )
    a = daily.select(
        "event_type",
        "day",
        "n",
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("k"),
    ).withColumn("day2", F.date_add("day", F.col("k")))
    b = daily.select(
        F.col("event_type").alias("event_type_b"),
        F.col("day").alias("day_b"),
        F.col("n").alias("n_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("event_type") == F.col("event_type_b"))
            & (F.col("day2") == F.col("day_b")),
        )
        .groupBy("event_type", "k")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("n").alias("sx"),
            F.sum("n_b").alias("sy"),
            F.sum(F.col("n") * F.col("n_b")).alias("sxy"),
            F.sum(F.col("n") * F.col("n")).alias("sxx"),
            F.sum(F.col("n_b") * F.col("n_b")).alias("syy"),
        )
    )
    nd = F.col("n_pairs").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = F.sqrt(
        (
            nd * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            nd * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return pairs.select(
        "event_type", "k", "n_pairs", _r4(num / den).alias("acf_r")
    )


def lineitem_monthly_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth: each calendar month's
    exact-decimal revenue joined against the same month one year
    earlier — the calendar self-join every finance dashboard runs.
    The monthly rollup is report-sized, so the self-join is a
    broadcast; growth divides two exact integer revenues in double."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount")
    )
    monthly = li.groupBy(
        F.year("l_shipdate").alias("yr"),
        F.month("l_shipdate").alias("mo"),
    ).agg((F.sum(rev) * 10000).cast("bigint").alias("r"))
    cur, prev = monthly.alias("cur"), monthly.alias("prev")
    j = cur.join(
        F.broadcast(prev),
        (F.col("cur.mo") == F.col("prev.mo"))
        & (F.col("cur.yr") == F.col("prev.yr") + 1),
    )
    growth = (
        F.col("cur.r").cast("double") - F.col("prev.r").cast("double")
    ) / F.col("prev.r").cast("double")
    return j.select(
        F.col("cur.yr").alias("yr"),
        F.col("cur.mo").alias("mo"),
        (F.col("cur.r") / F.lit(10000)).cast("double").alias("revenue"),
        _r4(growth * 100).alias("yoy_growth_pct"),
    )


def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (α=0.5, β=0.3) over each
    event type's daily-count series, forecasting the next day — the
    level+trend smoother between the seasonal-naive baseline and the
    rise-rate forecaster. The recurrence folds LEFT-TO-RIGHT over the
    day-sorted series with a fixed expression shape, so the doubles
    are engine-identical — the DuckDB twin replays the identical
    recurrence with a recursive CTE (rn-indexed), the portable-oracle
    technique for inherently sequential state. Series are
    window-bounded (≤ days) per type; only the daily rollup touches
    data-sized rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"))
    )
    per_type = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "n"))).alias("arr")
    )

    def _step(acc, x):
        xn = x["n"].cast("double")
        newl = F.lit(0.5) * xn + F.lit(0.5) * (acc["l"] + acc["t"])
        newt = F.lit(0.3) * (newl - acc["l"]) + F.lit(0.7) * acc["t"]
        return F.when(
            acc["i"] == 0,
            F.struct(
                xn.alias("l"),
                F.lit(0.0).alias("t"),
                F.lit(1).alias("i"),
            ),
        ).otherwise(
            F.struct(
                newl.alias("l"),
                newt.alias("t"),
                (acc["i"] + 1).alias("i"),
            )
        )

    acc0 = F.struct(
        F.lit(0.0).alias("l"), F.lit(0.0).alias("t"), F.lit(0).alias("i")
    )
    fit = per_type.select(
        "event_type",
        F.size("arr").alias("n_days"),
        F.aggregate("arr", acc0, _step).alias("h"),
    )
    return fit.select(
        "event_type",
        "n_days",
        _r4(F.col("h")["l"]).alias("level"),
        _r4(F.col("h")["t"]).alias("trend"),
        _r4(F.col("h")["l"] + F.col("h")["t"]).alias("forecast_next"),
    )


def events_user_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration curve: users ranked into activity deciles,
    each decile's share of total events and the cumulative share —
    the curve form of the Gini scalar (events_value_gini). ntile is
    deterministic under the (count, user_id) total order; shares
    divide exact integer counts. One user-keyed agg + one dim-sized
    window pass."""
    from hrfco_data_pipeline_spark.operators.ranking import (
        int_ntile,
        ranked_cumsum,
    )

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    n_users = per_user.agg(F.count("*").alias("_n"))
    binned = (
        ranked_cumsum(
            per_user,
            F.col("n").cast("double"),
            [F.col("n").asc(), F.col("user_id")],
            sample_key=F.col("user_id"),
            rank_name="_rn",
            sample_mod=8,
        )
        .crossJoin(F.broadcast(n_users))
        .withColumn("decile", int_ntile(F.col("_rn"), F.col("_n"), 10))
    )
    per_decile = (
        binned.groupBy("decile")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("n").alias("n_events"),
        )
    )
    wall = Window.partitionBy()
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    total = F.sum("n_events").over(wall)
    cum = F.sum("n_events").over(w)
    return per_decile.select(
        "decile",
        "n_users",
        "n_events",
        _r4(F.col("n_events").cast("double") / total.cast("double")).alias(
            "share"
        ),
        _r4(cum.cast("double") / total.cast("double")).alias("cum_share"),
    )


def events_value_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis per event type from EXACT integer
    power sums (Σx..Σx⁴ over cents, summed as DECIMAL(38,0) so no
    overflow and no float-order dependence) — the higher-moment
    shape profile of the value distribution, bit-portable because
    the only floating math is a fixed expression over six exact
    operands. One map-side-combined aggregate."""
    ev = load_table(spark, sf_dir, "events")
    x = F.round(F.col("value") * 100).cast("long")
    # powers multiply in DECIMAL, not int64: x⁴ overflows long once
    # values pass ~$551 (hit at sf0.1)
    xd = F.col("x").cast("decimal(19,0)")
    m = (
        ev.filter(F.col("value").isNotNull())
        .select("event_type", x.alias("x"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(xd).alias("s1"),
            F.sum(xd * xd).alias("s2"),
            F.sum(xd * xd * xd).alias("s3"),
            F.sum((xd * xd) * (xd * xd)).alias("s4"),
        )
    )
    nd = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    s4 = F.col("s4").cast("double")
    mean = s1 / nd
    m2 = s2 / nd - mean * mean
    m3 = s3 / nd - F.lit(3.0) * mean * (s2 / nd) + F.lit(2.0) * mean * mean * mean
    m4 = (
        s4 / nd
        - F.lit(4.0) * mean * (s3 / nd)
        + F.lit(6.0) * mean * mean * (s2 / nd)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    return m.select(
        "event_type",
        "n",
        _r4(mean / 100).alias("mean_value"),
        _r4(m3 / F.sqrt(m2 * m2 * m2)).alias("skewness"),
        _r4(m4 / (m2 * m2) - F.lit(3.0)).alias("excess_kurtosis"),
    )


def part_substitutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substitution candidates: part pairs sharing (type, size) whose
    retail prices sit within 5% of the cheaper one — the structured-
    attribute similarity join behind "alternatives" features. The
    self-join keys on the (type, size) block, so pair fan-out is
    bounded by block size (attribute-blocking, the structured cousin
    of the LSH band trick); the price test uses exact cents."""
    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        "p_type",
        "p_size",
        "p_brand",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    a, b = p.alias("a"), p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_type") == F.col("b.p_type"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    )
    lo = F.least(F.col("a.cents"), F.col("b.cents"))
    hi = F.greatest(F.col("a.cents"), F.col("b.cents"))
    diff_pct = (hi - lo).cast("double") / lo.cast("double") * 100
    return pairs.filter((hi - lo).cast("double") <= lo.cast("double") * 0.05).select(
        F.col("a.p_partkey").alias("part_a"),
        F.col("b.p_partkey").alias("part_b"),
        F.col("a.p_type").alias("p_type"),
        F.col("a.p_size").alias("p_size"),
        _r4(diff_pct).alias("price_diff_pct"),
    )


def dq_uniqueness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-uniqueness audit across the star schema's declared primary
    keys — the completeness face of dq_referential_report: per table,
    row count, distinct key count, and how many key values repeat.
    Six independent bounded aggregates unioned into one report row
    set; each is a map-side-combined count-distinct."""
    specs = [
        ("region", "r_regionkey"),
        ("nation", "n_nationkey"),
        ("customer", "c_custkey"),
        ("supplier", "s_suppkey"),
        ("part", "p_partkey"),
        ("orders", "o_orderkey"),
    ]
    out = None
    for table, key in specs:
        t = load_table(spark, sf_dir, table)
        agg = t.agg(
            F.lit(table).alias("table_name"),
            F.lit(key).alias("key_column"),
            F.count("*").alias("n_rows"),
            F.countDistinct(key).alias("n_distinct_keys"),
            (F.count("*") - F.countDistinct(key)).alias("n_extra_rows"),
        )
        out = agg if out is None else out.unionAll(agg)
    return out


# --------------------------------------------------------------------------
# Round-5 additions: feature assembly, SCD2 history, privacy screens
# --------------------------------------------------------------------------

def events_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training-example assembly (the
    feature-store join): every purchase event becomes a labeled row
    whose features are computed ONLY from events at-or-before the
    label timestamp — trailing-7-day view count, most recent error
    value, and days since first signup — the construction that
    prevents training-serving skew / label leakage in an ML pipeline.

    All three features resolve in ONE user-keyed window pass (a range
    frame for the trailing count, one running frame for the as-of
    value and the running min), then a filter keeps the purchase
    spine: one shuffle total, state bounded per user, no self-joins.
    Deterministic: the rows frames order by (us, event_id) — a total
    order — and the range frame is position-independent by
    definition."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.to_utc_timestamp("ts", "UTC"))
    base = ev.select(
        "event_id", "user_id", "event_type", "value", us.alias("us")
    )
    seven_days_us = 7 * 86_400 * 1_000_000
    wr = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-seven_days_us, 0)
    )
    wrow = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    feat = base.select(
        "event_id",
        "user_id",
        "event_type",
        "us",
        F.col("value").alias("label"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).over(wr).alias("views_7d"),
        F.last(
            F.when(F.col("event_type") == "error", F.col("value")),
            ignorenulls=True,
        ).over(wrow).alias("last_error_value"),
        F.min(
            F.when(F.col("event_type") == "signup", F.col("us"))
        ).over(wrow).alias("signup_us"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("views_7d").cast("long").alias("views_7d"),
        "last_error_value",
        F.floor(
            (F.col("us") - F.col("signup_us"))
            / F.lit(86_400_000_000)
        ).cast("long").alias("days_since_signup"),
        "label",
    )


def events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity screen over the release quasi-identifiers
    (event_type, event date, $10 value band): the privacy audit a
    pipeline runs before events leave the platform as training data —
    rows whose QI combination matches fewer than k=5 records are
    re-identifiable. Reports, per event type: group count, singleton
    groups, rows at risk (group size < 5), and the at-risk share.
    Two bounded-key aggregates (QI cells, then per-type rollup) with
    map-side partials; no windows, no joins."""
    ev = load_table(spark, sf_dir, "events")
    band = F.floor(F.coalesce(F.col("value"), F.lit(-1.0)) / 10).cast("long")
    cells = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        band.alias("value_band"),
    ).agg(F.count("*").alias("n"))
    return (
        cells.groupBy("event_type")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("n").alias("n_rows"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias(
                "n_singletons"
            ),
            F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0)).alias(
                "rows_at_risk"
            ),
        )
        .select(
            "event_type",
            "n_groups",
            "n_rows",
            F.col("n_singletons").cast("long").alias("n_singletons"),
            F.col("rows_at_risk").cast("long").alias("rows_at_risk"),
            F.round(
                F.col("rows_at_risk").cast("double")
                / F.col("n_rows").cast("double"),
                4,
            ).alias("at_risk_share"),
        )
    )


def copurchase_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability levels on the part co-purchase graph
    (edges = pairs co-ordered >= 2 times, the copurchase_triangles /
    label-propagation edge set) from the smallest part key: per level,
    the newly-reached node count and key span — the hop-distance
    profile ("how connected is the catalog around this anchor") that
    complements components (reachability), PageRank (centrality), and
    triangles (density).

    The frontier loop is the canonical bounded-iteration Spark shape:
    per depth, one frontier⋈adjacency join + distinct + one anti-join
    against the visited set, lineage cut per round
    (functions/hints.materialized — a lazy loop re-embeds the
    upstream tree exponentially). Depth is capped, never data-sized;
    an empty frontier makes remaining rounds no-ops without a
    driver-side convergence check. The DuckDB twin is a recursive CTE
    (min-level per node == first-discovery depth), making this the
    registry's oracle-backed graph-traversal representative.

    r16 (guide §2.4): only the NEW level is checkpointed each round —
    the pre-r16 loop checkpointed ``visited ∪ nxt``, re-serializing
    every previously discovered node once per remaining level
    (O(V·depth) write volume) and paying a second job; ``visited`` is
    now a lazy union of the per-level checkpoint LEAVES (plan size
    grows by one leaf per level, never re-embedding computation), the
    frontier is the previous round's already-materialized level, and
    each round is ONE job (join + distinct + anti-join + checkpoint).
    Same rows: visited ≡ ∪ levels, and the anti-join reads the same
    node set either way."""

    half = _copurchase_edges(spark, sf_dir)
    adj = materialized(
        half.unionAll(
            half.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    frontier = materialized(
        adj.agg(F.min("u").alias("node")).select(
            "node", F.lit(0).alias("level")
        )
    )
    visited = frontier
    for depth in range(1, 7):
        nxt = materialized(
            frontier.select(F.col("node").alias("u"))
            .join(adj, "u")
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(depth).alias("level"))
        )
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited.groupBy("level").agg(
        F.count("*").alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


def events_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch revenue attribution: each purchase's value credited
    to the user's FIRST touch and LAST touch (the non-purchase event
    type most recently seen at-or-before the purchase) — the
    first-/last-touch comparison every growth team runs. Touches and
    purchases resolve in one user-keyed window pass (running first /
    running last under the (us, event_id) total order); credit sums
    are exact integer cents, divided once per report row.

    Output: per (touch_type, model) the attributed purchase count and
    revenue — a 2×|types| report."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.to_utc_timestamp("ts", "UTC"))
    base = ev.select(
        "event_id", "user_id", "event_type", "value", us.alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    cents = F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast(
        "long"
    )
    flagged = base.select(
        "event_type",
        cents.alias("cents"),
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    ).filter(
        (F.col("event_type") == "purchase")
        & F.col("first_touch").isNotNull()
    )
    first = flagged.groupBy(
        F.col("first_touch").alias("touch_type")
    ).agg(
        F.lit("first_touch").alias("model"),
        F.count("*").alias("n_purchases"),
        F.sum("cents").alias("cents"),
    )
    last = flagged.groupBy(F.col("last_touch").alias("touch_type")).agg(
        F.lit("last_touch").alias("model"),
        F.count("*").alias("n_purchases"),
        F.sum("cents").alias("cents"),
    )
    return first.unionByName(last).select(
        "touch_type",
        "model",
        "n_purchases",
        (F.col("cents").cast("double") / 100).alias("revenue"),
    )


def lineitem_returnflag_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA screen: does line-item extended price differ
    across return flags? Reports the F statistic with its degrees of
    freedom — the k-group generalization of the two-sample z-test
    (events_ab_test) in the stats screen family.

    Per-group count and Σx, Σx² accumulate as EXACT integers (cents in
    DECIMAL(38,0) — cents² sums overflow int64, the
    events_value_moments lesson); the between/within decomposition
    then folds over the flag-sorted group list, so the only floating
    math is a fixed expression over exact operands — bit-portable at
    any parallelism. One map-side-combined aggregate + a 3-row fold."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_extendedprice") * 100).cast("long")
    xd = F.col("x").cast("decimal(19,0)")
    g = (
        li.select("l_returnflag", x.alias("x"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_g"),
            F.sum(xd).cast("decimal(38,0)").alias("s1"),
            F.sum(xd * xd).cast("decimal(38,0)").alias("s2"),
        )
    )
    packed = g.agg(
        F.count("*").alias("k"),
        F.sum("n_g").alias("n"),
        F.sort_array(
            F.collect_list(F.struct("l_returnflag", "n_g", "s1", "s2"))
        ).alias("gs"),
    )
    fold = lambda expr: F.aggregate(  # noqa: E731
        "gs", F.lit(0.0), lambda acc, t: acc + expr(t)
    )
    nn = F.col("n").cast("double")
    grand_s1 = fold(lambda t: t["s1"].cast("double"))
    grand_mean = grand_s1 / nn
    ssb = fold(
        lambda t: t["n_g"].cast("double")
        * (
            t["s1"].cast("double") / t["n_g"].cast("double")
            - F.col("gm")
        )
        * (
            t["s1"].cast("double") / t["n_g"].cast("double")
            - F.col("gm")
        )
    )
    ssw = fold(
        lambda t: t["s2"].cast("double")
        - t["s1"].cast("double")
        * t["s1"].cast("double")
        / t["n_g"].cast("double")
    )
    stats = packed.withColumn("gm", grand_mean).select(
        "k",
        "n",
        ssb.alias("ssb"),
        ssw.alias("ssw"),
    )
    df1 = (F.col("k") - 1).cast("long")
    df2 = (F.col("n") - F.col("k")).cast("long")
    f_stat = (F.col("ssb") / df1.cast("double")) / (
        F.col("ssw") / df2.cast("double")
    )
    return stats.select(
        F.col("k").cast("long").alias("k_groups"),
        "n",
        df1.alias("df_between"),
        df2.alias("df_within"),
        F.round(f_stat, 4).alias("f_stat"),
    )


def events_nearest_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional as-of (nearest-neighbor-in-time) join: each
    purchase enriched with the temporally NEAREST error event for the
    same user, whichever side it falls on — the diagnosis join
    ("which failure is this purchase closest to") that the plain
    backward as-of (events_asof_last_error) cannot answer.

    Both directions resolve in running window frames over ONE user
    partitioning: backward = last error at-or-before under (us,
    event_id) ASC; forward = the same running `last` under the
    REVERSED order — never a CurrentRow→UnboundedFollowing frame,
    whose first/last IGNORE NULLS re-scans the partition tail per row
    (O(n²) in WindowExec, the hydro-resample lesson). Ties (equal
    gap) take the earlier error; all comparisons are exact integer
    microseconds."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.to_utc_timestamp("ts", "UTC"))
    base = ev.select(
        "event_id", "user_id", "event_type", "value", us.alias("us")
    )
    err_us = F.when(F.col("event_type") == "error", F.col("us"))
    err_val = F.when(F.col("event_type") == "error", F.col("value"))
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("us"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("us"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = base.select(
        "event_id",
        "user_id",
        "event_type",
        "us",
        F.last(err_us, ignorenulls=True).over(wb).alias("b_us"),
        F.last(err_val, ignorenulls=True).over(wb).alias("b_val"),
        F.last(err_us, ignorenulls=True).over(wf).alias("f_us"),
        F.last(err_val, ignorenulls=True).over(wf).alias("f_val"),
    ).filter(F.col("event_type") == "purchase")
    b_gap = F.col("us") - F.col("b_us")
    f_gap = F.col("f_us") - F.col("us")
    take_backward = F.col("b_us").isNotNull() & (
        F.col("f_us").isNull() | (b_gap <= f_gap)
    )
    picked = enriched.filter(
        F.col("b_us").isNotNull() | F.col("f_us").isNotNull()
    ).select(
        "event_id",
        "user_id",
        F.when(take_backward, F.lit("before"))
        .otherwise(F.lit("after"))
        .alias("direction"),
        F.when(take_backward, b_gap).otherwise(f_gap).alias("gap_us"),
        F.when(take_backward, F.col("b_val"))
        .otherwise(F.col("f_val"))
        .alias("err_value"),
    )
    return picked


def events_markov_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Behavioral predictability: per-state COLLISION concentration of
    the event-type Markov chain (events_markov_transitions' matrix) —
    repeat_prob = Σn²/n_out², the probability two independent
    transitions out of a state pick the same next type (1/|types| =
    exploratory, 1.0 = fully scripted) — and its π-weighted chain
    contribution under the empirical source distribution. Migrated in
    r15 from the log2-emitting ``events_entropy_rate`` (SCALE.md watch
    list: a Shannon emission is one JVM-libm ulp from a driver-hash
    split on regenerated data; the Rényi-2/collision family carries
    the same predictability signal over exact integers — the
    patch-profile precedent, VERDICT r14 'Next round' #4).

    Exactness: sum_sq = Σn² and n_out are exact longs (Σn² ≤ n_out² —
    event-count bounded, far under 2^53); repeat_prob and π are each
    ONE IEEE division of exact casts on identical operands in both
    engines, and the contribution is one correctly-rounded product of
    those two doubles. No transcendental, no order-dependent fold —
    strictly cheaper than the sorted-struct-list entropy fold it
    replaces.

    One user-keyed lag window + one types² aggregate; everything after
    the cell counts runs on the bounded |types|² grid."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    cells = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )

    # the bounded |types| rollup MATERIALIZES so the grand total and
    # the per-state rows don't each re-run the lag window over the
    # full event scan (the r14 plan-census rule)
    per_state = materialized(
        cells.groupBy("from_type").agg(
            F.sum("n").alias("n_out"),
            F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
        )
    )
    total = per_state.agg(F.sum("n_out").alias("n_total"))
    st = per_state.crossJoin(F.broadcast(total))
    # two chained divisions instead of an n_out² product: no integer
    # product ever crosses into the double domain (the 2^53 audit
    # class stays structurally empty at any event count)
    repeat = (
        F.col("sum_sq").cast("double")
        / F.col("n_out").cast("double")
        / F.col("n_out").cast("double")
    )
    pi = F.col("n_out").cast("double") / F.col("n_total").cast("double")
    return st.select(
        "from_type",
        "n_out",
        F.col("sum_sq").cast("long").alias("sum_sq"),
        _r4(repeat).alias("repeat_prob"),
        _r4(pi).alias("pi"),
        _r4(pi * repeat).alias("rate_contribution"),
    )


def events_weekday_type_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test: is event type independent of
    weekday? The contingency-table screen that catches weekly
    behavioral structure (release-day error bursts, weekend browsing)
    — completing the classical test trio next to the A/B z-test and
    the one-way ANOVA.

    One bounded 7×|types| aggregate; expected counts are exact
    integer products divided once in double (row_total·col_total/n),
    and the chi-square statistic folds over the SORTED cell list so
    the double sum is order-pinned — bit-portable with df =
    (rows-1)(cols-1)."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.dayofweek("ts") - 1).alias("dow"),
        F.col("event_type").alias("etype"),
    ).agg(F.count("*").alias("n"))
    rows = cells.groupBy("dow").agg(F.sum("n").alias("row_n"))
    cols = cells.groupBy("etype").agg(F.sum("n").alias("col_n"))
    tot = cells.agg(
        F.sum("n").alias("n_total"),
        F.count_distinct("dow").alias("n_rows"),
        F.count_distinct("etype").alias("n_cols"),
    )
    joined = (
        cells.join(rows, "dow")
        .join(cols, "etype")
        .crossJoin(F.broadcast(tot))
    )
    packed = joined.groupBy("n_total", "n_rows", "n_cols").agg(
        F.sort_array(
            F.collect_list(F.struct("dow", "etype", "n", "row_n", "col_n"))
        ).alias("cs")
    )
    exp = lambda t: (  # noqa: E731
        t["row_n"].cast("double")
        * t["col_n"].cast("double")
        / F.col("n_total").cast("double")
    )
    chi = F.aggregate(
        "cs",
        F.lit(0.0),
        lambda acc, t: acc
        + (t["n"].cast("double") - exp(t))
        * (t["n"].cast("double") - exp(t))
        / exp(t),
    )
    return packed.select(
        F.col("n_total"),
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
        .cast("long")
        .alias("df"),
        F.round(chi, 4).alias("chi_square"),
    )


def customer_balance_standing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance standing per customer: percent_rank and
    cume_dist across the whole customer base (top-25 by balance for a
    bounded report) — the remaining ANSI window-function semantics the
    surface didn't yet exercise, derived scale-safely: percent_rank =
    (rank-1)/(n-1) and cume_dist = rank_of_last_tie/n from the
    range-bucketed two-pass rank (operators/ranking) instead of a
    single-partition window. Balances are exact cents; ties share
    cume_dist via a max-rank-per-balance self-aggregation on the same
    key."""
    from hrfco_data_pipeline_spark.operators.ranking import ranked_cumsum

    cust = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    base = cust.select("c_custkey", cents.alias("bal_cents"))
    n_tot = base.agg(F.count("*").alias("_n"))
    ranked = ranked_cumsum(
        base,
        F.col("bal_cents").cast("double"),
        [F.asc("bal_cents"), F.asc("c_custkey")],
        sample_key=F.col("c_custkey"),
        rank_name="rnk",
        sample_mod=8,
    )
    # cume_dist counts ALL rows <= the value (ties included): the max
    # rank within each balance group, joined back on the group key
    tie_max = ranked.groupBy("bal_cents").agg(
        F.max("rnk").alias("max_rnk")
    )
    out = (
        ranked.join(tie_max, "bal_cents")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "c_custkey",
            (F.col("bal_cents").cast("double") / 100).alias("acctbal"),
            F.round(
                (F.col("rnk") - 1).cast("double")
                / (F.col("_n") - 1).cast("double"),
                6,
            ).alias("pct_rank"),
            F.round(
                F.col("max_rnk").cast("double")
                / F.col("_n").cast("double"),
                6,
            ).alias("cume_dist"),
        )
    )
    return out.orderBy(F.desc("acctbal"), F.asc("c_custkey")).limit(25)


def orders_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV development triangle: customers grouped by
    first-order month, each cohort's cumulative revenue tracked by
    months-since-acquisition — the actuarial curve behind payback
    period and LTV forecasts (the revenue complement to the count
    retention matrix orders_cohort_repeat_rate /
    events_retention_cohorts report).

    First-order month is a customer-keyed min; the (cohort, offset)
    fact aggregate carries exact DECIMAL revenue; the cumulative sum
    runs over the months² triangle (calendar-bounded, never
    data-sized). Offsets are exact integer month arithmetic on
    (year, month) pairs — no date subtraction ambiguity between
    engines."""
    orders = load_table(spark, sf_dir, "orders")
    om = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias(
        "om"
    )
    base = orders.select(
        "o_custkey", om, _dec("o_totalprice").alias("price_dec")
    )
    first = base.groupBy("o_custkey").agg(F.min("om").alias("cohort_m"))
    j = base.join(first, "o_custkey").select(
        "cohort_m",
        (F.col("om") - F.col("cohort_m")).alias("offset_m"),
        "price_dec",
    )
    cells = j.groupBy("cohort_m", "offset_m").agg(
        F.count("*").alias("n_orders"),
        F.sum("price_dec").alias("rev_dec"),
    )
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("offset_m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.select(
        F.concat(
            (F.col("cohort_m") / 12).cast("int").cast("string"),
            F.lit("-"),
            F.lpad((F.col("cohort_m") % 12 + 1).cast("string"), 2, "0"),
        ).alias("cohort_month"),
        F.col("offset_m").cast("long").alias("months_since_first"),
        "n_orders",
        F.sum("rev_dec").over(w).cast("double").alias("cum_revenue"),
    )


def orders_salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority with the fact⋈dim join ROUTED through
    the measured decision rule (operators/skew.choose_join_strategy →
    apply_join_strategy) rather than a hard-coded strategy — the
    drop-in proof that the r8 report query's rule composes into a real
    query (VERDICT r8 item 5). The pinned policy forces the
    non-broadcast arms (broadcast_max_rows=1000; orders never fits)
    and sets skew_mean_ratio=1.5, below TPC-H's max-lines/mean-lines
    per order (7/~4 ≈ 1.75), so the profile lands on the SALTED arm at
    every SF — tests/test_skew.py pins both the decision and the
    executed plan shape (exploded dim replication present).

    The join output — and therefore this aggregate — is row-for-row
    identical across all three arms (salt changes where rows meet,
    never which rows meet), which is why the oracle is unchanged from
    the hard-coded-salt era: the routing is a physical-plan decision.

    Scale posture: the profile is two bounded 1-row aggregates paid
    once at plan time; a hot orderkey is spread across the computed
    salt's shuffle partitions in the WRITE stage (AQE skew-split only
    fixes the read side); revenue sums are exact DECIMAL, divided back
    to double once.
    """
    from hrfco_data_pipeline_spark.operators.skew import (
        apply_join_strategy,
        choose_join_strategy,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    decision = choose_join_strategy(
        li,
        orders,
        "l_orderkey",
        broadcast_max_rows=1000,
        skew_mean_ratio=1.5,
        max_salt=8,
    )
    j = apply_join_strategy(
        li,
        orders,
        "l_orderkey",
        "o_orderkey",
        scatter_on=F.struct("l_orderkey", "l_linenumber"),
        decision=decision,
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(
            _dec("l_extendedprice")
            * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount"))
        )
        .cast("double")
        .alias("revenue"),
    )


def copurchase_jaccard_parts(
    spark: SparkSession,
    sf_dir: str,
    materialize: bool = True,
    wedge_salt: int = 8,
) -> DataFrame:
    """Node-similarity join on the part co-purchase graph (same
    support-2 edges as copurchase_triangles): for every part pair
    sharing >= 2 common co-purchase neighbors, the neighbor-set
    Jaccard |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — the "customers who bought
    X also bought Y" primitive, computed without materializing any
    neighbor set on one machine.

    Scale shape: symmetrize edges, wedge-join on the middle vertex,
    count wedges per (a, b) = intersection size, then two degree
    joins and one exact integer division for the Jaccard. The
    support-2 common filter keeps output sparse; intersection/degree
    stay integers so the only double is the final division
    (bit-portable).

    Hot-vertex bound (enforced, r7 advisor item): unlike triangle
    counting, Jaccard semantics need EVERY wedge — a (degree, id)
    orientation would drop pairs — so the deg(u)^2 fan-out behind a
    hot middle vertex is spread by SALTING the wedge join's key: the
    s1 side scatters on ``pmod(xxhash64(v), wedge_salt)``, the s2
    side replicates ``wedge_salt`` times, and the equi-join key
    becomes (u, salt). Each unordered pair still meets exactly once
    (s1's salt picks exactly one s2 replica), the pair set is
    byte-identical, and per-task fan-out drops to deg(u)^2 /
    wedge_salt. Size ``wedge_salt`` from a degree profile (see
    lineitem_key_skew_profile / operators/skew) — the replication
    cost is wedge_salt x |edges|, cheap because edges are the
    support-filtered pair list, not the fact table. The edge-build
    self-join on l_orderkey has per-order fan-out C(basket, 2) — an
    output-semantics cost bounded by basket size on TPC-H-shaped
    data; for unbounded baskets apply the same salt pattern to the
    l_orderkey key.
    """

    if wedge_salt < 1:
        raise ValueError("wedge_salt must be >= 1")
    edges = _copurchase_edges(spark, sf_dir)
    if materialize:
        edges = materialized(edges)
    sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("p")).agg(F.count("*").alias("deg"))
    salt = int(wedge_salt)
    s1 = sym.withColumn("_wsalt", F.pmod(F.xxhash64("v"), F.lit(salt))).alias(
        "s1"
    )
    s2 = sym.withColumn(
        "_wsalt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(salt)]))
    ).alias("s2")
    common = (
        s1.join(
            s2,
            (F.col("s1.u") == F.col("s2.u"))
            & (F.col("s1._wsalt") == F.col("s2._wsalt"))
            & (F.col("s1.v") < F.col("s2.v")),
        )
        .groupBy(F.col("s1.v").alias("a"), F.col("s2.v").alias("b"))
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    da, db = deg.alias("da"), deg.alias("db")
    return (
        common.join(da, F.col("a") == F.col("da.p"))
        .join(db, F.col("b") == F.col("db.p"))
        .select(
            "a",
            "b",
            "n_common",
            F.col("da.deg").alias("deg_a"),
            F.col("db.deg").alias("deg_b"),
            (
                F.col("n_common").cast("double")
                / (F.col("da.deg") + F.col("db.deg") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


def copurchase_kcore(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    rounds: int = 8,
) -> DataFrame:
    """k-core decomposition of the part co-purchase graph (same
    support-2 edges as the rest of the family): iteratively peel
    vertices with degree < k until the k-core remains — the standard
    dense-subgraph primitive for finding the stable "frequently
    bought together" nucleus that survives when marginal products are
    stripped away. Output: the surviving vertices with their
    within-core degree.

    Runs a FIXED ``rounds`` peel iterations (identically replayed by
    the DuckDB twin as chained CTE stages, the bounded-iteration
    pattern of docs_learning_curve / copurchase_bfs_levels): peeling
    is monotone, so extra rounds past convergence are no-ops and the
    fixed count keeps both engines bit-comparable without a
    convergence action. At toy scales the graph converges in <= 3
    rounds; at 100 TB each round is one map-side-combined degree
    groupBy plus two part-key semi-joins over the (support-filtered,
    ≪ corpus) edge list, with lineage cut per round so the plan
    cannot grow exponentially.
    """

    half = _copurchase_edges(spark, sf_dir)
    sym = half.unionByName(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    alive = materialized(sym)
    for _ in range(rounds):
        deg = alive.groupBy("u").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("u")
        alive = materialized(
            alive.join(keep, "u", "left_semi").join(
                keep.select(F.col("u").alias("v")), "v", "left_semi"
            )
        )
    return (
        alive.groupBy("u")
        .agg(F.count("*").alias("core_degree"))
        # final degree gate: if the peel cascade were ever longer than
        # ``rounds``, vertices with residual degree < k could survive
        # the loop — this filter restores the k-core invariant (every
        # emitted vertex has >= k neighbours among the emitted edges)
        # on the output rows regardless of how ``rounds`` was sized.
        .filter(F.col("core_degree") >= k)
        .select(
            F.col("u").alias("part"),
            F.col("core_degree").cast("long").alias("core_degree"),
        )
    )


def orders_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality of order volume after trend removal — the
    classic additive decomposition at daily grain: trend = centered
    7-day moving average of daily order counts, residual = day minus
    trend, seasonality = mean residual per ISO weekday. Exposes the
    weekly cycle a raw weekday average would confound with growth.

    Exactness: residuals stay INTEGER by working at 7x scale
    (residual*7 = 7*n_day - sum of the 7-day window, both integer
    sums), so the per-weekday mean is one exact integer sum divided
    once — no order-dependent double accumulation. The window runs
    over the daily AGGREGATE (bounded by the date domain, ~2.5k rows
    at any corpus size), not the orders table.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count("*").alias("n")
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.select(
        "d",
        "n",
        F.sum("n").over(w).alias("sum7"),
        F.count("*").over(w).alias("n_win"),
    ).filter(F.col("n_win") == 7)
    return (
        trended.groupBy(
            (F.weekday("d") + 1).alias("isodow"),
            F.date_format("d", "EEEE").alias("day_name"),
        )
        .agg(
            F.count("*").alias("n_days"),
            F.sum("n").alias("total_orders"),
            F.sum(F.lit(7) * F.col("n") - F.col("sum7")).alias("resid7_sum"),
        )
        .select(
            "isodow",
            "day_name",
            "n_days",
            F.col("total_orders").cast("long").alias("total_orders"),
            (
                F.col("resid7_sum").cast("double")
                / (F.lit(7) * F.col("n_days")).cast("double")
            ).alias("avg_residual"),
        )
    )


def lineitem_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the report that tells you WHEN to
    reach for operators/skew.salted_join: the 20 hottest l_orderkey
    values with each key's row share and its ratio to the mean key
    size (mean_ratio ~1 = uniform; >>1 = a straggler-making hot key).
    At 100 TB this is the cheap pre-flight before any fact-fact join:
    one combiner-friendly groupBy count, a TakeOrderedAndProject
    top-20 (never a global sort), and two broadcast 1-row totals.
    Ratios are exact integer operands divided once."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_orderkey").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("l_orderkey")).limit(20)
    totals = li.agg(F.count("*").alias("total"))
    nkeys = counts.agg(F.count("*").alias("n_keys"))
    w = Window.orderBy(F.desc("n"), F.asc("l_orderkey"))
    return (
        top.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(nkeys))
        .select(
            F.row_number().over(w).cast("int").alias("rank"),
            "l_orderkey",
            F.col("n").cast("long").alias("n_rows"),
            (F.col("n").cast("double") / F.col("total").cast("double")).alias(
                "share"
            ),
            (
                (F.col("n") * F.col("n_keys")).cast("double")
                / F.col("total").cast("double")
            ).alias("mean_ratio"),
        )
    )


def orders_join_strategy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy pre-flight over the four standard fact⋈dim joins
    (operators/skew.choose_join_strategy — the SCALE.md decision rule
    as a value): for each candidate, the dim size, the big side's key
    profile (rows, keys, hottest key), and the decision — broadcast
    if the dim fits, salted (with the computed salt) if it doesn't
    and the hottest key holds >= 2x the mean rows-per-key, plain
    otherwise. This is the report that makes the measured salted-join
    win (SCALE.md: 4.2-4.5x vs AQE skew-split at 20M/90%-hot)
    reachable without reading SCALE.md: run it, read the strategy
    column, apply via operators/skew.apply_join_strategy.

    Policy pinned here: broadcast_max_rows=1000 (a portable row-count
    rule so the DuckDB twin can replay the decision; production uses
    the 64 MB Catalyst-stats default), skew_mean_ratio=2.0 (salting's
    only cost is dim replication, already excluded by the broadcast
    arm, so mild-skew salting is cheap insurance; the helper default
    stays at the conservative 4.0).

    EAGER: profiles run at call time (two bounded 1-row aggregates
    per candidate); the result ships as literals. All ratios are
    single divisions of exact integers (bit-portable); the salt is
    2^ceil(log2(mean_ratio)) capped at 32 — computed DRIVER-side with
    Python's math.log2, which is bit-equal to DuckDB's log2 (both
    correctly-rounded true log2; probed over 2001 args). Spark's
    LOG2 — which evaluates ln(x)/ln(2), ~31% of args 1 ulp off — is
    never in this path.
    """
    from hrfco_data_pipeline_spark.operators.skew import choose_join_strategy

    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    candidates = [
        ("lineitem_x_part", li, load_table(spark, sf_dir, "part"), "l_partkey"),
        (
            "lineitem_x_orders",
            li,
            load_table(spark, sf_dir, "orders"),
            "l_orderkey",
        ),
        (
            "lineitem_x_supplier",
            li,
            load_table(spark, sf_dir, "supplier"),
            "l_suppkey",
        ),
        (
            "events_x_customer",
            ev,
            load_table(spark, sf_dir, "customer"),
            "user_id",
        ),
    ]
    rows = []
    for name, big, small, key in candidates:
        d = choose_join_strategy(
            big, small, key, broadcast_max_rows=1000, skew_mean_ratio=2.0
        )
        rows.append(
            (
                name,
                key,
                d.strategy,
                d.salt,
                d.small_rows,
                d.big_rows,
                d.n_keys,
                d.max_key_rows,
                d.hot_key_share,
                d.mean_ratio,
            )
        )
    return spark.createDataFrame(
        rows,
        "candidate string, join_key string, strategy string, salt long, "
        "small_rows long, big_rows long, n_keys long, max_key_rows long, "
        "hot_key_share double, mean_ratio double",
    )


def sessions_error_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join probe (operators/intervals.overlap_join):
    which user sessions overlap a platform error episode — the
    incident-impact query every on-call dashboard wants. Sessions are
    the 30-minute-gap islands per user (events_sessionize's intervals);
    error episodes are 60-minute-gap islands of 'error' events within
    each day (day-partitioned so the island window never runs
    unpartitioned over a growing table). The join explodes both
    interval sets into 1-hour buckets, equi-joins on the bucket, and
    claims each pair exactly once in the bucket of max(starts) — never
    a cartesian, no distinct. Output: one row per (session, episode)
    overlap with the exact integer-microsecond overlap length.
    """
    from hrfco_data_pipeline_spark.operators.intervals import overlap_join

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.to_utc_timestamp("ts", "UTC"))

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = F.timestamp_diff(
        "SECOND", F.date_trunc("second", prev), F.date_trunc("second", F.col("ts"))
    )
    sess = (
        ev.withColumn(
            "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min(us).alias("s_start_us"),
            F.max(us).alias("s_end_us"),
            F.count("*").alias("n_events"),
        )
    )

    err = ev.filter(F.col("event_type") == "error").withColumn(
        "day", F.to_date("ts")
    )
    we = Window.partitionBy("day").orderBy("ts", "event_id")
    eprev = F.lag("ts").over(we)
    egap = F.timestamp_diff(
        "SECOND", F.date_trunc("second", eprev), F.date_trunc("second", F.col("ts"))
    )
    eps = (
        err.withColumn(
            "new_ep", F.when(egap.isNull() | (egap > 3600), 1).otherwise(0)
        )
        .withColumn(
            "episode_id",
            F.sum("new_ep").over(we.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("day", "episode_id")
        .agg(
            F.min(us).alias("e_start_us"),
            F.max(us).alias("e_end_us"),
            F.count("*").alias("n_errors"),
        )
        .drop("day", "episode_id")
    )

    pairs = overlap_join(
        sess.select("user_id", "session_id", "s_start_us", "s_end_us", "n_events"),
        eps,
        "s_start_us",
        "s_end_us",
        "e_start_us",
        "e_end_us",
    )
    return pairs.select(
        "user_id",
        "s_start_us",
        "s_end_us",
        "n_events",
        "e_start_us",
        "e_end_us",
        "n_errors",
        (
            F.least("s_end_us", "e_end_us")
            - F.greatest("s_start_us", "e_start_us")
        ).alias("overlap_us"),
    )


def events_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketches of the user
    set per event type, with UNION and INTERSECTION estimates for every
    type pair — the set-operation capability the HLL rollup
    (events_hll_accuracy) cannot provide: bottom-k sketches merge by
    keeping the k smallest hashes of the union, and inclusion-exclusion
    over the three estimates yields the overlap. (Reference scope: the
    dashboard only counts per-category totals,
    DashboardDataService.java; cross-category audience overlap is part
    of the beyond-reference analytics surface.)

    Portable by construction: the Knuth multiplicative hash (the
    engine-neutral sampling hash used by the samplers) gives
    bit-identical sketches in Spark and DuckDB, so the ESTIMATES
    themselves are hash-checked — stronger than the within-5pct flag
    the HLL face has to settle for (its sketch bytes are
    engine-specific).

    Scale shape (kmv_bottomk_from_raw): a map-side HLL pass estimates
    per-type NDV, a broadcast threshold prunes to ~8·k candidate
    hashes per type BELOW the distinct, so the sketch arm's only wide
    exchange carries sketch-sized survivors — the raw frame is
    scanned, never shuffled. K-min selection on survivors is two-phase
    (row_number inside 32 hash buckets, then <= 32·k rows per type) —
    no per-type full sort, no collect. The exact arms (count_distinct
    + the per-user type self-join, whose fan-out is bounded by the
    5-type domain) are the QA face of the report; a production 100 TB
    run ships only the sketch arms.
    """
    ev = load_table(spark, sf_dir, "events")
    raw = ev.select("event_type", kmv_hash(F.col("user_id")).alias("h"))
    ests = kmv_pair_estimates(kmv_bottomk_from_raw(raw))
    # r16: the exact-QA base feeds three branches (per-type counts and
    # both sides of the overlap self-join); materialized once so the
    # scan+distinct runs once instead of three times (the r15
    # live-subplan lesson). The exact arms remain the toy-scale QA
    # face — a production 100 TB run ships only the sketch arms.
    base = materialized(ev.select("event_type", "user_id").distinct())
    exact = base.groupBy("event_type").agg(F.count("*").alias("exact_n"))
    inter = (
        base.alias("x")
        .join(
            base.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("exact_inter"))
    )
    ea = exact.select(
        F.col("event_type").alias("type_a"), F.col("exact_n").alias("exact_a")
    )
    eb = exact.select(
        F.col("event_type").alias("type_b"), F.col("exact_n").alias("exact_b")
    )
    return (
        ests.join(ea, "type_a")
        .join(eb, "type_b")
        .join(inter, ["type_a", "type_b"], "left")
        .withColumn("exact_inter", F.coalesce("exact_inter", F.lit(0)))
        .select(
            "type_a",
            "type_b",
            "exact_a",
            "exact_b",
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter"))
            .cast("long")
            .alias("exact_union"),
            F.col("exact_inter").cast("long").alias("exact_inter"),
            "kmv_a",
            "kmv_b",
            "kmv_union",
            "kmv_inter",
        )
        .orderBy("type_a", "type_b")
    )


KMV_K = 64  # bottom-k sketch size of the KMV family


def kmv_hash(user_col: F.Column) -> F.Column:
    """Engine-neutral 31-bit Knuth multiplicative hash (the portable
    sampling hash): bijective on ids < 2^31, bit-identical in DuckDB."""
    M = 2_147_483_648  # 2^31
    return ((user_col % M) * 2654435761) % M


def kmv_kmin(du: DataFrame) -> DataFrame:
    """Exact bottom-k (k = KMV_K) of ``h`` per ``event_type`` over a
    distinct (event_type, h) frame, two-phase so no task ever sorts
    more than ~distinct/32 rows: row_number inside 32 hash buckets, then a
    second pass over the <= 32·k survivors per type. Idempotent —
    applying it to a union of per-batch bottom-k partials yields the
    global bottom-k (any global k-min hash is a k-min of its own
    batch), which is what makes the sketch mergeable
    (streaming/curation.kmv_sketch_stream). For a LARGE raw frame use
    kmv_bottomk_from_raw instead — it prunes before the distinct
    shuffle; this face is for frames already distinct-and-small
    (streaming partials, pre-filtered survivors)."""
    wb = Window.partitionBy("event_type", "b").orderBy("h")
    wt = Window.partitionBy("event_type").orderBy("h")
    return (
        du.withColumn("b", F.pmod("h", F.lit(32)))
        .withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= KMV_K)
        .withColumn("rn2", F.row_number().over(wt))
        .filter(F.col("rn2") <= KMV_K)
        .select("event_type", "h")
    )


def kmv_bottomk_from_raw(raw: DataFrame) -> DataFrame:
    """Bottom-k (k = KMV_K) per ``event_type`` of a RAW (pre-distinct,
    duplicated) (event_type, h) frame — the production shape for the
    100 TB path.

    The naive pipeline (distinct then window) shuffles the ENTIRE
    distinct user set just to keep 64 hashes per type. Instead: one
    map-side HLL pass estimates the per-type NDV n (approx_count_
    distinct — no wide shuffle, one row per type), a broadcast
    threshold thr = min(2^31, c·k·2^31/n + 1), c = 8, prunes BELOW the
    distinct, and the distinct + two-phase windows then run over
    ~c·k·dup rows per type instead of the full set. At scale every
    post-scan exchange is sketch-sized (measured A/B: SCALE.md §r8
    additions, "Prune below the distinct").

    Bit-identical to kmv_kmin(raw.distinct()) whenever thr exceeds the
    true k-th smallest hash: the k-th smallest of n uniform 31-bit
    hashes concentrates at ~k/n·2^31, so c=8 fails with probability
    < exp(-k(c-1-ln c)) ≈ e^-300 (Chernoff at k=64), and the HLL
    estimate (rsd 5%) would need an ~8× overestimate of n to tighten
    thr past the true k-th — both zero in any non-adversarial
    universe. Ids crafted against the Knuth hash would need c raised.
    """
    M = 2_147_483_648  # 2^31
    ndv = raw.groupBy("event_type").agg(F.approx_count_distinct("h").alias("ndv"))
    thr = F.least(
        F.lit(M),
        (F.lit(float(8 * KMV_K) * M) / F.col("ndv")).cast("long") + 1,
    )
    survivors = (
        raw.join(
            F.broadcast(ndv.select("event_type", thr.alias("thr"))),
            "event_type",
        )
        .filter(F.col("h") < F.col("thr"))
        .select("event_type", "h")
        .distinct()
    )
    return kmv_kmin(survivors)


def kmv_pair_estimates(kmin: DataFrame) -> DataFrame:
    """Distinct-count estimates per event-type pair from bottom-k
    sketches: per-type estimate (k-1)·2^31/kth, union sketch = k
    smallest of the merged k-mins, intersection by inclusion-exclusion.
    All arithmetic is one double division of exact integers per
    estimate, IEEE bit-identical across engines.

    r16 (the r15 live-subplan lesson): ``kmin`` is consumed by FIVE
    branches below (the per-type sk aggregate three times via its
    a/b/union projections, plus the members join) and each branch
    re-embedded the entire upstream — scan, prefilter, distinct, both
    k-min windows — per consumer (events_kmv_setops audited at 18
    executed parquet scans; the parity certificate at 21). The kmin
    table is ≤ k·|types| rows BY CONSTRUCTION (the bounded-metadata
    contract of a bottom-k sketch), so it is materialized once here
    and every branch reads the checkpoint instead of re-deriving it.
    """

    kmin = materialized(kmin.select("event_type", "h"))
    M = 2_147_483_648  # 2^31

    def est(kth, sk_n):
        # exact when the sketch holds the whole set (sk_n < KMV_K)
        return F.when(sk_n < KMV_K, sk_n.cast("double")).otherwise(
            F.lit(float((KMV_K - 1) * M)) / kth
        )

    sk = kmin.groupBy("event_type").agg(
        F.max("h").alias("kth"), F.count("*").alias("sk_n")
    )
    pairs = (
        sk.alias("a")
        .join(sk.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
    )
    members = pairs.select(
        "type_a",
        "type_b",
        F.explode(F.array("type_a", "type_b")).alias("event_type"),
    )
    wu = Window.partitionBy("type_a", "type_b").orderBy("h")
    usk = (
        members.join(kmin, "event_type")
        .select("type_a", "type_b", "h")
        .distinct()
        .withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("type_a", "type_b")
        .agg(F.max("h").alias("kth_u"), F.count("*").alias("sk_n_u"))
    )
    ska = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("kth").alias("kth_a"),
        F.col("sk_n").alias("sk_n_a"),
    )
    skb = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("kth").alias("kth_b"),
        F.col("sk_n").alias("sk_n_b"),
    )
    kmv_a = est(F.col("kth_a"), F.col("sk_n_a"))
    kmv_b = est(F.col("kth_b"), F.col("sk_n_b"))
    kmv_u = est(F.col("kth_u"), F.col("sk_n_u"))
    return (
        pairs.join(ska, "type_a")
        .join(skb, "type_b")
        .join(usk, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            kmv_a.alias("kmv_a"),
            kmv_b.alias("kmv_b"),
            kmv_u.alias("kmv_union"),
            ((kmv_a + kmv_b) - kmv_u).alias("kmv_inter"),
        )
    )


# ---------------------------------------------------------------------------
# Lakehouse maintenance: small-file compaction planning
# ---------------------------------------------------------------------------


def lineitem_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the table-maintenance pass every
    100 TB lakehouse table needs (the reference archives micro-batch
    JSON into MinIO date folders, MinioArchiver.java, and never
    compacts; thousands of tiny objects per day is the #1 cost/latency
    problem that shape develops at scale).

    Models the file inventory from lineitem (synthetic file ids via
    the portable Knuth hash, partition = ship year, a deterministic
    integer sizing model), then plans next-fit compaction groups per
    partition: files in stable id order, a running byte total, and a
    group cut every time the PRECEDING total crosses a multiple of the
    64 KiB target — the greedy sequential fill real compactors
    (Iceberg binPack / Delta OPTIMIZE) use. Emits one row per planned
    output file with its input-file count and byte size, plus how many
    undersized inputs (< half target) it absorbs.

    Scale shape: the plan runs entirely on file METADATA — one
    map-side-combinable groupBy collapses the table to |files| rows
    (here 512/partition; real tables: the manifest), and the window
    partitions by table-partition ordered by file id, so no task sorts
    more than one partition's manifest slice. The data itself is never
    shuffled — planning is O(manifest), rewriting is embarrassingly
    parallel per group.
    """
    li = load_table(spark, sf_dir, "lineitem")
    M = 2_147_483_648  # 2^31
    key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    file_id = (((key % M) * 2654435761) % M) % 512
    files = (
        li.select(
            F.year("l_shipdate").cast("long").alias("part_year"),
            file_id.alias("file_id"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("part_year", "file_id")
        .agg(
            (F.lit(96) * F.count("*") + F.sum("q")).alias("file_bytes"),
        )
    )
    target = 65_536
    w = (
        Window.partitionBy("part_year")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.withColumn(
        "grp",
        F.floor(
            F.coalesce(F.sum("file_bytes").over(w), F.lit(0)) / F.lit(target)
        ),
    )
    return (
        planned.groupBy("part_year", "grp")
        .agg(
            F.count("*").alias("n_inputs"),
            F.sum("file_bytes").alias("out_bytes"),
            F.sum(
                F.when(F.col("file_bytes") < target // 2, 1).otherwise(0)
            ).alias("small_inputs"),
            F.min("file_id").alias("first_file"),
            F.max("file_id").alias("last_file"),
        )
        .orderBy("part_year", "grp")
    )


# ---------------------------------------------------------------------------
# SCD Type-2 dimension history (merge/upsert semantics)
# ---------------------------------------------------------------------------


def customer_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 build: collapse each
    customer's order stream into priority REGIMES — contiguous runs of
    the same o_orderpriority in (o_orderdate, o_orderkey) order — with
    [valid_from, valid_to) validity ranges, a version number, and an
    is_current flag. This is the MERGE/upsert history pattern every
    warehouse dimension needs (the reference's station upsert,
    MongoSaveService.java, is SCD Type 1 — overwrite, no history; the
    Type 2 face is the beyond-reference half of W2).

    Classic two-window derivation, all JVM-side: lag() flags attribute
    changes, a running sum of flags numbers the versions, one groupBy
    collapses rows to regimes, and lead() closes each regime's
    validity with the next regime's start (open = current).

    Scale shape: both windows and the groupBy key on cust_key — one
    hash partitioning reused across the lag, the sum, the collapse,
    and the lead (no re-shuffle between stages; per-task sort bounded
    by one customer's orders). A true incremental MERGE at 100 TB
    would partition the dimension by key and rewrite only changed
    partitions; this face computes the full history deterministically
    so the oracle can hash it.
    """
    o = load_table(spark, sf_dir, "orders")
    return scd2_regimes(o)


def scd2_regimes(o: DataFrame) -> DataFrame:
    """The SCD2 window tail over an orders-shaped frame — shared by
    the batch query and the streaming ingest's serve face
    (streaming/curation.scd2_history_from_store), so both derive the
    identical history from identical rows."""
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    flagged = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderpriority",
        "o_orderdate",
        F.when(
            F.lag("o_orderpriority").over(wo).isNull()
            | (F.lag("o_orderpriority").over(wo) != F.col("o_orderpriority")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    ).withColumn(
        "version",
        F.sum("chg").over(
            Window.partitionBy("o_custkey")
            .orderBy("o_orderdate", "o_orderkey")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    regimes = flagged.groupBy("o_custkey", "version").agg(
        # the priority is constant inside a regime by construction
        # (version increments exactly when it changes), so min() IS it
        F.min("o_orderpriority").alias("priority"),
        F.min("o_orderdate").alias("valid_from"),
        F.count("*").alias("n_orders"),
    )
    wl = Window.partitionBy("o_custkey").orderBy("version")
    nxt = F.lead("valid_from").over(wl)
    return (
        regimes.select(
            F.col("o_custkey").alias("cust_key"),
            F.col("version").cast("long").alias("version"),
            "priority",
            "valid_from",
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
            F.col("n_orders").cast("long").alias("n_orders"),
        )
        .orderBy("cust_key", "version")
    )


def customer_scd2_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) read of the SCD Type-2 dimension:
    reconstruct each customer's active priority regime AS OF
    1995-06-15 — the query every warehouse runs against its history
    table ("what did the dimension look like last quarter?") and the natural
    consumer of customer_scd2_history's [valid_from, valid_to) ranges:
    active regime = valid_from <= asof < coalesce(valid_to, +inf).
    Customers whose first regime starts after the as-of date are
    absent, exactly as a snapshot taken that day would show.

    Scale shape: the half-open-range predicate is a per-row filter on
    the regime table (≪ the fact table, bounded by total priority
    changes) — no join, no extra shuffle beyond the history build
    itself; at 100 TB the history table would be partitioned by
    valid_from month so the as-of filter prunes partitions.
    """
    hist = customer_scd2_history(spark, sf_dir)
    d = F.lit("1995-06-15").cast("date")
    return hist.filter(
        (F.col("valid_from") <= d)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > d))
    ).select(
        "cust_key",
        "version",
        "priority",
        "valid_from",
        "valid_to",
        "is_current",
        "n_orders",
    )


def orders_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of monthly order volume per priority:
    the slope estimate is the MEDIAN of all pairwise slopes
    (n_j - n_i)/(m_j - m_i) over month buckets — the standard
    outlier-resistant alternative to least squares (up to ~29% of the
    months can be corrupted before the estimate moves). Alongside the
    median, the p25/p75 slope quartiles — the slope DISPERSION a flat
    median hides (TPC-H order arrival is uniform, so the median slope
    is exactly 0; the quartiles carry the hash surface). All three are
    pure SELECTIONS at rank ceil(q·p) over the ascending pair slopes
    (ties broken by the month pair) — the _disc_quantiles rank rule.

    Exactness: month index and monthly counts are integers; each pair
    slope is ONE double division of exact integers (IEEE-identical in
    any engine); quantiles only select values — no averaging, no
    accumulation.

    Scale shape: the all-pairs step runs over the MONTHLY AGGREGATE
    (bounded by the date domain — ~80 months at any corpus size, the
    orders_seasonal_decomposition precedent), never the orders table:
    one map-side-combined groupBy, then a broadcast self-join of the
    ~400-row month frame and a window over ≤ 80·79/2 pairs per
    priority.
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_orderpriority",
        (
            (F.year("o_orderdate") - F.lit(1992)) * 12
            + F.month("o_orderdate")
            - 1
        ).alias("m"),
    ).agg(F.count("*").alias("n"))
    a = monthly.select(
        F.col("o_orderpriority").alias("p"),
        F.col("m").alias("mi"),
        F.col("n").alias("ni"),
    )
    b = monthly.select(
        F.col("o_orderpriority").alias("p2"),
        F.col("m").alias("mj"),
        F.col("n").alias("nj"),
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("p") == F.col("p2")) & (F.col("mi") < F.col("mj")),
    ).select(
        "p",
        "mi",
        "mj",
        (
            (F.col("nj") - F.col("ni")).cast("double")
            / (F.col("mj") - F.col("mi")).cast("double")
        ).alias("slope"),
    )
    w = Window.partitionBy("p").orderBy("slope", "mi", "mj")
    ranked = pairs.select(
        "p",
        "slope",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("p")).alias("np"),
    )

    def pick(q: float) -> F.Column:
        return F.max(
            F.when(
                F.col("rk") == F.ceil(F.col("np") * F.lit(q)), F.col("slope")
            )
        )

    return (
        ranked.groupBy("p")
        .agg(
            F.max("np").cast("long").alias("n_pairs"),
            pick(0.25).alias("slope_p25"),
            pick(0.5).alias("theilsen_slope"),
            pick(0.75).alias("slope_p75"),
        )
        .select(
            F.col("p").alias("o_orderpriority"),
            "n_pairs",
            "slope_p25",
            "theilsen_slope",
            "slope_p75",
        )
    )


def events_segment_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event rollup by customer market segment with the events⋈customer
    enrichment join ROUTED through the measured decision rule
    (operators/skew.choose_join_strategy → apply_join_strategy). Under
    the pinned policy (broadcast_max_rows=2000, skew_mean_ratio=2.0)
    the customer dim fits the portable row cap at certification scale,
    so the profile lands on the BROADCAST arm — the arm a dim
    enrichment should take — while at larger SFs the same code falls
    through to plain/salted as the dim outgrows the cap and the user
    distribution skews (events user traffic is near-uniform at sf0.01:
    mean_ratio 1.29). The decision is data-driven and the output is
    row-identical across arms — which is why the DuckDB twin is the
    plain join. The salted arm's drop-in proof is orders_salted_revenue
    (lineitem⋈orders profiles salted(4) at sf0.01); together the two
    routed queries execute two of the three arms in real plans,
    pinned by tests/test_skew.py.

    Exactness: value sums in integer cents via the portable
    round(value*100) (events_value_log2_histogram pattern); counts and
    distincts are integers.

    Scale shape: one profile (two bounded 1-row aggregates at plan
    time), then the routed join — broadcast here: zero shuffle on the
    fact side; salted/plain when the profile says so at larger SFs —
    and one map-side-combined groupBy over 5 segments.
    """
    from hrfco_data_pipeline_spark.operators.skew import (
        apply_join_strategy,
        choose_join_strategy,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    decision = choose_join_strategy(
        ev, cust, "user_id", broadcast_max_rows=2000, skew_mean_ratio=2.0
    )
    j = apply_join_strategy(
        ev,
        cust,
        "user_id",
        "c_custkey",
        scatter_on=F.struct("event_id"),
        decision=decision,
    )
    cents = F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast("long")
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(cents).cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# Mergeable hash-sample quantile sketch
# ---------------------------------------------------------------------------

QSAMPLE_RATE_DEN = 64  # keep hashes below 2^31/64 — a 1/64 sample


def qsample_filter(id_col: F.Column) -> F.Column:
    """Membership predicate of the consistent hash sample: keep rows
    whose portable Knuth hash falls in the bottom 1/64 of hash space.
    Consistency is what makes the sketch mergeable — the union of
    per-batch samples IS the sample of the union (same fixed
    threshold, disjoint rows), so stored per-batch sample rows serve
    exact-over-sample quantiles with no rescan
    (streaming/curation.quantile_sample_stream)."""
    M = 2_147_483_648  # 2^31
    return ((id_col % M) * 2654435761) % M < M // QSAMPLE_RATE_DEN


def _disc_quantiles(df: DataFrame, keys: list[str], qs: list[float], prefix: str) -> DataFrame:
    """Exact discrete quantiles (value at rank ceil(q·n), the
    engine-portable rank rule) per key group, two-phase: rank inside
    the group-ordered window, pick the target ranks. One hash
    partitioning on the keys; per-task sort bounded by the group."""
    w = Window.partitionBy(*keys).orderBy("value")
    ranked = df.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy(*keys))
    )
    aggs = [F.max("n").alias(f"{prefix}n")]
    for q in qs:
        tag = str(int(q * 100))
        aggs.append(
            F.max(
                F.when(
                    F.col("rn") == F.ceil(F.col("n") * F.lit(q)), F.col("value")
                )
            ).alias(f"{prefix}p{tag}")
        )
    return ranked.groupBy(*keys).agg(*aggs)


def events_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a consistent 1/64 hash sample of
    events, per event type, with the exact quantiles as the QA arm —
    the mergeable, engine-portable alternative to approx_percentile
    (whose GK sketch is JVM-internal, so events_approx_stats can only
    be rows-only; this sketch's every output is hash-checked).

    Estimates are exact discrete quantiles OVER THE SAMPLE (value at
    rank ceil(q·n_s)): deterministic, mergeable by sample-row union
    (qsample_filter), expected |error| ~ sqrt(q(1-q)/n_s) in rank
    space. The exact arm full-sorts per type and is the toy-scale QA
    face, exactly like events_kmv_setops' exact arms — a production
    100 TB run ships only the sample arm, whose post-filter input is
    1/64 of the scan and whose shuffle is sample-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    qs = [0.5, 0.9, 0.99]
    sample = ev.filter(qsample_filter(F.col("event_id"))).select(
        "event_type", "value"
    )
    est = _disc_quantiles(sample, ["event_type"], qs, "s_")
    exact = _disc_quantiles(
        ev.select("event_type", "value"), ["event_type"], qs, "x_"
    )
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            F.col("x_n").cast("long").alias("n"),
            F.col("s_n").cast("long").alias("n_sample"),
            F.col("x_p50").alias("exact_p50"),
            F.col("s_p50").alias("est_p50"),
            F.col("x_p90").alias("exact_p90"),
            F.col("s_p90").alias("est_p90"),
            F.col("x_p99").alias("exact_p99"),
            F.col("s_p99").alias("est_p99"),
        )
        .orderBy("event_type")
    )


def _events_lateness_values(
    ev: DataFrame, bucket_rows: int = 4096
) -> DataFrame:
    """Per-event arrival-order lateness (event_id, event_type,
    lateness_us) — the shared substrate of
    ``events_watermark_lateness_audit`` and the lateness parity
    certificate's batch-side sample arm (r15). lateness(e) =
    max(0, max_{arrived before e}(event_time) − e's event_time), all
    in integer epoch microseconds. The running maximum never runs as
    one unpartitioned window: per-bucket maxima (bucket = arrival id
    div ``bucket_rows``), a running max over the BOUNDED bucket
    aggregate, then an in-bucket prefix window keyed by bucket —
    value-identical to the global window at any bucket size (max is
    associative over any prefix split)."""
    us = F.unix_micros(F.to_utc_timestamp("ts", "UTC"))
    base = ev.select(
        "event_id",
        "event_type",
        us.alias("us"),
        F.floor(F.col("event_id") / F.lit(bucket_rows))
        .cast("long")
        .alias("bkt"),
    )
    bmax = base.groupBy("bkt").agg(F.max("us").alias("b_max"))
    wrun = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    pre = bmax.select("bkt", F.max("b_max").over(wrun).alias("prev_max"))
    win = (
        Window.partitionBy("bkt")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.join(pre, "bkt")
        .withColumn("in_max", F.max("us").over(win))
        .withColumn(
            "seen",
            F.greatest(
                F.coalesce(F.col("prev_max"), F.lit(0)),
                F.coalesce(F.col("in_max"), F.lit(0)),
            ),
        )
        .select(
            "event_id",
            "event_type",
            F.greatest(F.lit(0), F.col("seen") - F.col("us")).alias(
                "lateness_us"
            ),
        )
    )


def events_watermark_lateness_audit(
    spark: SparkSession,
    sf_dir: str,
    bucket_rows: int = 4096,
) -> DataFrame:
    """Watermark-sizing audit: how late does event time run behind the
    high-water mark in ARRIVAL order (event_id — the ingest sequence)?
    lateness(e) = max(0, max_{arrived before e}(event_time) − e's
    event_time). The per-type lateness quantiles and the share beyond
    a 10-minute horizon are exactly the numbers that size
    ``withWatermark`` — p99 ≈ the delay that loses <1% of rows to the
    state-eviction cutoff. The streaming layer (streaming/curation,
    dropDuplicatesWithinWatermark) currently hardcodes 10 minutes;
    this report is the data-driven check on that constant.

    Exactness: all in integer epoch microseconds (the proven
    unix_micros ≡ epoch_us pair); quantiles by pure rank-rule
    selection (_disc_quantiles).

    Scale shape: the running maximum NEVER runs as one unpartitioned
    window — the two-pass bucketed form of operators/ranking (new for
    MAX here): per-bucket maxima (bucket = arrival id div
    ``bucket_rows``), a running max over the BOUNDED bucket aggregate,
    then an in-bucket prefix window keyed by bucket; the per-row
    high-water mark is the greater of the two. Value-identical to the
    global window at any bucket size (max is associative over any
    prefix split) — the oracle runs the plain global form.
    """
    ev = load_table(spark, sf_dir, "events")
    lat = _events_lateness_values(ev, bucket_rows).select(
        "event_type", "lateness_us"
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
    return q.join(extra, "event_type").select(
        "event_type",
        F.col("l_n").cast("long").alias("n"),
        F.col("l_p50").cast("long").alias("p50_us"),
        F.col("l_p95").cast("long").alias("p95_us"),
        F.col("l_p99").cast("long").alias("p99_us"),
        F.col("max_lateness_us").cast("long").alias("max_us"),
        F.col("n_late_10m").cast("long").alias("n_late_10m"),
    )


def orders_retention_vacuum_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Retention/TTL vacuum plan over the date-partitioned orders
    fact — the lifecycle sibling of lineitem_compaction_plan: for each
    month partition, its age against the corpus's NEWEST month (the
    deterministic, regeneration-proof stand-in for the "today" a
    nightly job pins), the tier decision (DROP past 48 months, ARCHIVE
    to cold storage past 24, KEEP otherwise), and the row/value volume
    the action touches — what a GDPR/retention sweep submits before
    deleting anything.

    Exactness: age in integer months; money through the exact _dec
    cents path, divided back to double once.

    Scale shape: metadata-grain output (one row per month partition,
    bounded by the date domain); ONE map-side-combined aggregate over
    the fact — at 100 TB the same plan reads the partition manifest
    instead, with identical decisions.
    """
    o = load_table(spark, sf_dir, "orders")
    midx = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    per = (
        o.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            midx.alias("midx"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_value"),
        )
        # age against the newest month: a window over the BOUNDED
        # month-partition aggregate (one row per month), not the fact
        .withColumn(
            "age_months",
            (F.max("midx").over(Window.partitionBy()) - F.col("midx")).cast(
                "int"
            ),
        )
    )
    action = (
        F.when(F.col("age_months") >= 48, "drop")
        .when(F.col("age_months") >= 24, "archive")
        .otherwise("keep")
    )
    return per.select(
        "month",
        "age_months",
        action.alias("action"),
        F.col("n_orders").cast("long").alias("n_orders"),
        "total_value",
    )


def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type via the median absolute
    deviation: flag values beyond median ± 3·(1.4826·MAD) — the
    estimator that, unlike z-scores, does not let the outliers inflate
    their own yardstick (the robust-stats sibling of
    orders_theilsen_trend). Reported per type: the median, the MAD,
    the outlier count and share.

    Exactness: both medians are pure rank-rule SELECTIONS
    (_disc_quantiles' ceil(q·n) rule); the threshold is ONE multiply
    by the precomputed constant 4.4478 (= 3·1.4826 folded in Python so
    neither engine re-associates it) and the comparison runs on
    bit-identical operands; the share is one division of exact
    integers.

    Scale shape: two passes over events (median, then deviations
    against the broadcast per-type medians), each a hash partitioning
    on event_type with per-task sorts bounded by the group — the
    documented _disc_quantiles posture; the final rollup is map-side
    combined.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    med = _disc_quantiles(
        ev.select("event_type", "value"), ["event_type"], [0.5], "m_"
    ).select("event_type", F.col("m_p50").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = _disc_quantiles(
        dev.select("event_type", F.col("adev").alias("value")),
        ["event_type"],
        [0.5],
        "d_",
    ).select(
        "event_type", F.col("d_n").alias("n"), F.col("d_p50").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "n",
        "med",
        "mad",
        (F.col("adev") > F.col("mad") * F.lit(4.4478)).cast("long").alias(
            "is_out"
        ),
    )
    return flagged.groupBy("event_type", "n", "med", "mad").agg(
        F.sum("is_out").cast("long").alias("n_outliers"),
        (
            F.sum("is_out").cast("double") / F.max("n").cast("double")
        ).alias("outlier_share"),
    ).select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        "med",
        "mad",
        "n_outliers",
        "outlier_share",
    )


def copurchase_weighted_sssp(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Single-source shortest paths over the WEIGHTED co-purchase
    graph (edge cost = 1000 div support — strong co-purchase ties are
    cheap to traverse), Bellman-Ford style: 6 relaxation sweeps from
    the lowest part id, emitting every part reachable within 6 edges
    and its minimal path cost. The weighted
    upgrade of copurchase_bfs_levels — the "how strongly connected is
    this product to the catalog core" signal hop counts can't express.

    Exactness: integer edge weights (integer division on both
    engines), integer distance sums, min-relaxation — nothing float.
    Fixed rounds keep both engines bit-comparable without a
    convergence action (the copurchase_kcore pattern); the round
    count bounds the PATH LENGTH in edges, so the output is exactly
    "cheapest cost among paths of <= 6 edges", a well-defined semantics at any
    scale (full convergence needs diameter sweeps — at toy scale the
    graph converges within 6).

    Scale shape: each round is one join of the current frontier-dist
    table against the (support-filtered, << corpus) edge list plus a
    map-side-combined min — the pointer-free iterative pattern shared
    with BFS/label-prop/PageRank; lineage cut per round.
    """

    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    half = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
        .select("u", "v", F.expr("1000 div n_ab").alias("w"))
    )
    sym = half.unionByName(
        half.select(
            F.col("v").alias("u"), F.col("u").alias("v"), F.col("w")
        )
    )
    sym = materialized(sym)
    src = sym.agg(F.min("u").alias("vertex")).select(
        "vertex", F.lit(0).cast("long").alias("dist")
    )
    # rename the edge columns once: dist derives from sym (the source
    # row is sym's min-vertex aggregate), so an unaliased join would
    # be an ambiguous self-join on the first round
    e = sym.select(
        F.col("u").alias("e_u"),
        F.col("v").alias("e_v"),
        F.col("w").alias("e_w"),
    )
    dist = src
    for _ in range(6):
        cand = dist.join(e, F.col("vertex") == F.col("e_u")).select(
            F.col("e_v").alias("vertex"),
            (F.col("dist") + F.col("e_w")).alias("dist"),
        )
        dist = materialized(
            dist.unionByName(cand)
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist"))
        )
    return dist.select(
        F.col("vertex").alias("part"), F.col("dist").cast("long").alias("dist")
    )


def events_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic, each event type
    against the rest of the corpus: D_t = max_v |F_t(v) − F_rest(v)|
    — the distribution-drift detector that, unlike the hashed-bucket
    TV distance (docs_source_tv_distance), sees the CONTINUOUS value
    axis and so catches shifts inside a bucket. The classic feature-
    drift gate a training pipeline runs per segment before mixing.

    Exactness: D lives in the RATIONAL domain until the very end. Per
    distinct value the ECDF step numerator is the exact integer
    s(v) = c_t(v)·n_rest − c_rest(v)·n_t; the running sum of s over
    value order equals n_t·n_rest·(F_t − F_rest) exactly, so
    D = max|cum| / (n_t·n_rest) is ONE double division of exact
    integers. Products accumulate in DECIMAL(38,0) (the
    hydro_double_mass precedent — c·n passes 2^63 at corpus scale);
    only the final division and the arg-max value are doubles. The
    arg-max tie-break is (|cum| desc, value asc) via a single
    struct-max.

    Scale shape: one groupBy(type, value) pass over events, then
    everything runs on the BOUNDED counts grid — distinct values ×
    |event types| rows (the type list is a broadcast aggregate; the
    grid join is value-hash-partitioned). The per-type cumulative
    RUNS THROUGH the partitioned range-bucketed two-pass
    (operators/ranking.ranked_cumsum, see ks_from_counts) — no
    per-type single-task sort, so a 100 TB distinct-value domain
    splits across bucket tasks. Nothing touches raw events twice.
    """
    ev = load_table(spark, sf_dir, "events")
    return ks_from_counts(events_type_value_counts(ev))


def events_type_value_counts(ev: DataFrame) -> DataFrame:
    """The KS substrate: (event_type, value, c_t) counts — additive
    under union, so per-micro-batch partials (streaming face,
    streaming/curation.ks_drift_stream) sum to the corpus counts."""
    return (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type", "value")
        .agg(F.count("*").alias("c_t"))
    )


def ks_from_counts(raw_counts: DataFrame) -> DataFrame:
    """The KS tail over (event_type, value, c_t) count rows; re-groups
    first so both the batch counts and unioned per-batch partials feed
    the identical computation.

    r16 shape (guide §2.4 — remove shuffles outright; measured: the
    pre-r16 dense-grid form scheduled ~25 AQE stage-materialization
    jobs per execution, and on small inputs per-job driver latency IS
    the runtime): the event-type domain is bounded metadata (it was
    already broadcast pre-r16 — same contract, now collected, the
    Lloyd convention), so the per-type ECDF steps ride ONE row per
    DISTINCT VALUE as an array column: s_t(v) = c_t(v)·n_rest −
    (c_all(v) − c_t(v))·n_t in DECIMAL(38,0), cumulated per array slot
    by a single un-partitioned ranked_cumsum pass over the |values|
    domain (still the range-bucketed two-pass — the value domain IS
    data-scale), then one scalar aggregate takes each type's
    (|cum| desc, value asc) arg-max struct. Exchanges: 2 aggregates +
    the two-pass, instead of aggregates + a |values|×|types| grid
    join + a partitioned two-pass + a per-type aggregate. Identical
    integers: same steps, same decimal sums, same tie-break, and the
    final division is the same two exact-int casts."""
    d38 = lambda c: c.cast("decimal(38,0)")

    # r17 (guide §2.4; the r15 live-subplan lesson): the counts table
    # is consumed by the per-type collect, the cv aggregate, and —
    # through ranked_cumsum — four more branches (two sample passes,
    # local windows, bucket stats), each of which re-embedded the
    # upstream scan + groupBy of raw events (or the store read on the
    # streaming serve face). ct is one row per (type, distinct value)
    # — the compressed KS substrate everything downstream derives
    # from — so it materializes once and every branch reads the
    # checkpoint: ~5 upstream re-aggregations per face → 1.
    ct = materialized(
        raw_counts.groupBy("event_type", "value").agg(
            F.sum("c_t").alias("c_t")
        )
    )
    per_type = sorted(
        (r["event_type"], r["n_t"])
        for r in ct.groupBy("event_type")
        .agg(F.sum("c_t").alias("n_t"))
        .collect()
    )
    types = [t for t, _ in per_type]
    # Bounded-metadata contract (the KMV "BY CONSTRUCTION" convention):
    # one array slot + one cumsum column is generated PER TYPE, so an
    # unbounded type domain would build an unbounded select list and an
    # unbounded driver collect. The event-type domain is a schema-level
    # enum (single digits); fail loudly long before the plan melts.
    if len(types) > 1000:
        raise ValueError(
            f"ks_from_counts: {len(types)} distinct event types — the "
            "per-type array/cumsum layout assumes a bounded (enum-like) "
            "type domain; partition the input or use a partitioned "
            "cumulative form for unbounded domains"
        )
    if not types:  # no counts at all: the pre-r16 grid was empty too
        return raw_counts.sparkSession.createDataFrame(
            [],
            "event_type string, n_t long, n_rest long, "
            "d_stat double, d_at_value double",
        )
    n_t = {t: n for t, n in per_type}
    n_all = sum(n_t.values())
    cv = ct.groupBy("value").agg(
        F.sum("c_t").alias("c_all"),
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "c_t"))
        ).alias("m"),
    )
    ctv = lambda t: F.coalesce(
        F.element_at(F.col("m"), F.lit(t)), F.lit(0)
    )
    steps = F.array(
        *[
            d38(ctv(t)) * d38(F.lit(n_all - n_t[t]))
            - d38(F.col("c_all") - ctv(t)) * d38(F.lit(n_t[t]))
            for t in types
        ]
    )
    g = cv.select("value", steps.alias("_steps"))
    from hrfco_data_pipeline_spark.operators.ranking import ranked_cumsum

    cum = ranked_cumsum(
        g,
        F.col("value"),
        [F.col("value")],
        sample_key=F.col("value"),
        sums={
            f"_c{i}": F.col("_steps")[i] for i in range(len(types))
        },
        rank_name="_vrank",
    )
    best = cum.agg(
        *[
            F.max(
                F.struct(
                    F.abs(F.col(f"_c{i}")).alias("absnum"),
                    (-F.col("value")).alias("nv"),
                )
            ).alias(f"_b{i}")
            for i in range(len(types))
        ]
    )
    rows = best.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("event_type"),
                        F.lit(n_t[t]).cast("long").alias("n_t"),
                        F.lit(n_all - n_t[t]).cast("long").alias("n_rest"),
                        F.col(f"_b{i}").alias("b"),
                    )
                    for i, t in enumerate(types)
                ]
            )
        ).alias("e")
    ).select("e.event_type", "e.n_t", "e.n_rest", "e.b")
    return rows.select(
        "event_type",
        "n_t",
        "n_rest",
        (
            F.col("b")["absnum"].cast("double")
            / (
                F.col("n_t").cast("double")
                * F.col("n_rest").cast("double")
            )
        ).alias("d_stat"),
        (-F.col("b")["nv"]).alias("d_at_value"),
    )


def events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test, each event type against the rest:
    does type t's value distribution stochastically dominate the
    others'? The nonparametric location-shift companion to
    events_ks_two_sample (KS sees shape, U sees shift) — the segment
    A/B gate that needs no normality assumption.

    Exactness: ranks never materialize per row — midranks come from
    the distinct-value counts: with cb(v) = Σ_{v'<v} c(v') the DOUBLED
    midrank r2(v) = 2·cb(v) + c(v) + 1 is an exact integer, so
    2·R_t = Σ_v c_t(v)·r2(v) and 2·U_t = 2·R_t − n_t(n_t+1) stay
    integer (DECIMAL(38,0) accumulation — the double_mass precedent).
    The tie-corrected z is a FIXED-ORDER IEEE chain both engines run
    identically: z = (2U − n_t·n_rest) /
    (2·sqrt((n_t·n_rest)·(N³−N−T) / (12·N·(N−1)))) with
    T = Σ_v c(v)³−c(v); every operand is an exact integer cast to
    double once, and /-then-sqrt are correctly rounded.

    Scale shape: one groupBy(type, value) pass; the rank material is
    the DISTINCT-value table, and its cumulative count RUNS THROUGH
    the range-bucketed two-pass (operators/ranking.ranked_cumsum) —
    no global Window.orderBy anywhere, so a 100 TB high-cardinality
    value domain parallelizes across buckets instead of single-
    tasking; per-type sums are map-side combined. No dense grid: only
    values a type actually holds contribute to its rank sum.
    """
    from hrfco_data_pipeline_spark.operators.ranking import ranked_cumsum

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    ct = ev.groupBy("event_type", "value").agg(F.count("*").alias("c_t"))
    cv = ct.groupBy("value").agg(F.sum("c_t").alias("c_all"))
    d38 = lambda c: c.cast("decimal(38,0)")
    # cumulative count over value order via the range-bucketed two-pass
    # (operators/ranking.ranked_cumsum) — never a global
    # Window.orderBy: the rank material is the DISTINCT-value table,
    # which at 100 TB high-cardinality value domains would otherwise
    # funnel through one task (VERDICT r10 "What's wrong" #3: this
    # claim used to live only in the docstring; now it's the plan).
    # cb(v) = Sum_{v'<v} c(v') = inclusive cumsum - own count; the sum
    # is associative so bucketing cannot change it.
    cum = ranked_cumsum(
        cv,
        F.col("value"),
        [F.col("value")],
        sample_key=F.col("value"),
        sums={"_cum_c": F.col("c_all")},
        rank_name="_vrank",
    )
    ranks = cum.select(
        "value",
        "c_all",
        (
            F.lit(2) * (F.col("_cum_c") - F.col("c_all"))
            + F.col("c_all")
            + F.lit(1)
        ).alias("r2"),
    )
    tie = ranks.agg(
        F.sum(
            d38(F.col("c_all")) * d38(F.col("c_all")) * d38(F.col("c_all"))
            - d38(F.col("c_all"))
        ).alias("t_corr"),
        F.sum("c_all").cast("decimal(38,0)").alias("n_all"),
    )
    per_type = (
        ct.join(ranks, "value")
        .groupBy("event_type")
        .agg(
            F.sum("c_t").alias("n_t"),
            F.sum(d38(F.col("c_t")) * d38(F.col("r2"))).alias("r2_sum"),
        )
    )
    nt = d38(F.col("n_t"))
    n = F.col("n_all")
    u2 = F.col("r2_sum") - nt * (nt + F.lit(1).cast("decimal(38,0)"))
    nrest = n - nt
    var_num = (nt * nrest).cast("double") * (
        (n * n * n - n - F.col("t_corr")).cast("double")
    )
    var_den = (
        F.lit(12).cast("decimal(38,0)")
        * n
        * (n - F.lit(1).cast("decimal(38,0)"))
    ).cast("double")
    z = (u2 - nt * nrest).cast("double") / (
        F.lit(2.0) * F.sqrt(var_num / var_den)
    )
    return per_type.crossJoin(F.broadcast(tie)).select(
        "event_type",
        F.col("n_t").cast("long").alias("n_t"),
        nrest.cast("long").alias("n_rest"),
        (u2.cast("double") / F.lit(2.0)).alias("u_stat"),
        z.alias("z_score"),
    )


def lineitem_bloom_semijoin_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter scorecard: how much of a lineitem scan a Bloom
    filter built from a selective orders predicate (o_orderpriority =
    '1-URGENT') would prune before the join — the measurement behind
    the single most important 100 TB join optimization (Spark's own
    runtime bloom pruning / dynamic partition pruning family): ship a
    compact bit set of the dim-side join keys to the fact scan and
    drop rows map-side instead of shuffling them.

    Filter: m = 2^16 bits, k = 3 probes via Kirsch-Mitzenmauer double
    hashing over two 60-bit md5 slices of the key string — the
    docs_bloom_decontaminate construction, so the DuckDB twin
    recomputes the filter bit-for-bit (production swaps in xxhash64,
    same shape). Represented as the distinct set-bit table
    (≤ 65 536 rows), broadcast; membership = conjunction of k
    broadcast lookups, zero shuffles on the probe side.

    Reported (one row): dim-key count, probe-row count, Bloom-pass
    count, exact-semi-join count, false positives, and the FP rate
    among true negatives — exact integers plus one division. No false
    negatives by construction (every true match passes the filter);
    the test pins n_bloom_pass >= n_exact and the sizing bound.
    """
    m_bits = 1 << 16
    k = 3
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    keys = orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_orderkey").alias("key"))
    ks = F.col("key").cast("string")
    kh1 = F.conv(F.substring(F.md5(ks), 1, 15), 16, 10).cast("long")
    kh2 = F.conv(F.substring(F.md5(ks), 17, 15), 16, 10).cast("long")
    positions = (
        keys.select(kh1.alias("h1"), kh2.alias("h2"))
        .select(
            F.explode(
                F.array(
                    *[
                        ((F.col("h1") + F.lit(j) * F.col("h2")) % m_bits)
                        for j in range(k)
                    ]
                )
            ).alias("pos")
        )
        .distinct()
        .select("pos", F.lit(1).alias("bit"))
    )
    ls = F.col("l_orderkey").cast("string")
    lh1 = F.conv(F.substring(F.md5(ls), 1, 15), 16, 10).cast("long")
    lh2 = F.conv(F.substring(F.md5(ls), 17, 15), 16, 10).cast("long")
    probe = li.select(
        "l_orderkey",
        *[
            ((lh1 + F.lit(j) * lh2) % m_bits).alias(f"p{j}")
            for j in range(k)
        ],
    )
    flagged = probe
    for j in range(k):
        pj = positions.select(
            F.col("pos").alias(f"pos{j}"), F.col("bit").alias(f"b{j}")
        )
        flagged = flagged.join(
            F.broadcast(pj), F.col(f"p{j}") == F.col(f"pos{j}"), "left"
        )
    bloom_hit = F.when(
        sum(F.coalesce(F.col(f"b{j}"), F.lit(0)) for j in range(k))
        == F.lit(k),
        1,
    ).otherwise(0)
    exact_keys = keys.select(
        F.col("key").alias("l_orderkey"), F.lit(1).alias("is_match")
    )
    scored = flagged.join(
        F.broadcast(exact_keys), "l_orderkey", "left"
    ).select(
        bloom_hit.alias("bh"),
        F.coalesce(F.col("is_match"), F.lit(0)).alias("em"),
    )
    n_keys = keys.agg(F.count("*").alias("n_dim_keys"))
    return (
        scored.agg(
            F.count("*").alias("n_probe_rows"),
            F.sum("bh").alias("n_bloom_pass"),
            F.sum("em").alias("n_exact"),
            F.sum(
                F.when((F.col("bh") == 1) & (F.col("em") == 0), 1).otherwise(
                    0
                )
            ).alias("n_false_pos"),
        )
        .crossJoin(F.broadcast(n_keys))
        .select(
            F.col("n_dim_keys").cast("long").alias("n_dim_keys"),
            F.col("n_probe_rows").cast("long").alias("n_probe_rows"),
            F.col("n_bloom_pass").cast("long").alias("n_bloom_pass"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("n_false_pos").cast("long").alias("n_false_pos"),
            # NULL (both faces) when every probe row exact-matches:
            # Spark's non-ANSI /0 yields NULL while DuckDB's IEEE
            # division yields NaN/Inf — guard so a degenerate corpus
            # can't split the oracle hash (ADVICE r10)
            F.when(
                (F.col("n_probe_rows") - F.col("n_exact")) > 0,
                F.col("n_false_pos").cast("double")
                / (F.col("n_probe_rows") - F.col("n_exact")).cast("double"),
            ).alias("fp_rate"),
        )
    )


def orders_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test per order priority on monthly revenue:
    S = Σ_{i<j} sign(v_j − v_i) over month buckets, plus Kendall's
    tau = S / (n(n−1)/2). The SIGNIFICANCE face of the Theil–Sen
    estimator already shipped (orders_theilsen_trend gives the slope,
    MK says whether a monotone trend exists at all) — the standard
    pairing in hydrologic/series trend practice (Mann 1945, Kendall
    1975), here over TPC-H monthly revenue so the oracle is exact.

    Exactness: monthly revenue accumulates as INTEGER CENTS
    (round(o_totalprice·100), the benford precedent); S is a pure
    integer sign sum; tau and the tie-corrected denominator are a
    fixed-order IEEE chain over exact-integer doubles. Var(S)'s tie
    term Σ t(t−1)(2t+5) is emitted as the exact integer var18
    (= 18·Var(S)) so the driver certifies the tie bookkeeping without
    any portable-sqrt dependence.

    Scale shape: the pair space is the MONTHLY AGGREGATE squared —
    bounded by the date domain (~80 months at any corpus size, the
    orders_theilsen_trend posture): one map-side-combined groupBy,
    then a broadcast self-join of the ~400-row month frame.
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_orderpriority",
        (
            (F.year("o_orderdate") - F.lit(1992)) * 12
            + F.month("o_orderdate")
            - 1
        ).alias("m"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "v"
        )
    )
    a = monthly.select(
        F.col("o_orderpriority").alias("p"),
        F.col("m").alias("mi"),
        F.col("v").alias("vi"),
    )
    b = monthly.select(
        F.col("o_orderpriority").alias("p2"),
        F.col("m").alias("mj"),
        F.col("v").alias("vj"),
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("p") == F.col("p2")) & (F.col("mi") < F.col("mj")),
    ).select(
        "p",
        F.when(F.col("vj") > F.col("vi"), 1)
        .when(F.col("vj") < F.col("vi"), -1)
        .otherwise(0)
        .alias("sg"),
    )
    ties = (
        monthly.groupBy("o_orderpriority", "v")
        .agg(F.count("*").alias("t"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie18"),
            F.count("*").alias("n_distinct"),
            F.sum("t").alias("n_months"),
        )
        .withColumnRenamed("o_orderpriority", "p")
    )
    s = pairs.groupBy("p").agg(F.sum("sg").cast("long").alias("s_stat"))
    n = F.col("n_months")
    return (
        s.join(ties, "p")
        .select(
            F.col("p").alias("o_orderpriority"),
            n.cast("long").alias("n_months"),
            "s_stat",
            (
                F.col("s_stat").cast("double")
                / (n * (n - 1) / 2).cast("double")
            ).alias("tau"),
            (n * (n - 1) * (2 * n + 5) - F.col("tie18"))
            .cast("long")
            .alias("var18"),
        )
    )


def customer_spearman_balance_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation per nation between a customer's
    account balance and their lifetime order value — does standing
    predict spend, monotonically, without assuming linearity? The
    rank-based sibling of the Pearson machinery elsewhere in the
    registry (events_type_correlations), robust to the heavy-tailed
    spend distribution that makes raw-value correlation meaningless.

    Exactness: both variables quantize to integer cents; ranks are
    DOUBLED MIDRANKS (2R = 2·minrank + ties − 1 — always integral,
    the pettitt_changepoint identity), so the Pearson-on-ranks
    sufficient statistics are exact integers (product sums in
    DECIMAL(38,0)); rho is then one fixed-order num/sqrt(dx·dy)
    chain over exact-integer doubles. Doubling both rank vectors
    scales num, dx, dy by 4 each, leaving rho EXACTLY invariant.

    Scale shape: one orders groupBy(custkey) pass (map-side
    combined), a shuffle join to the customer frame on custkey, then
    rank windows PARTITIONED BY NATION — per-task sorts bounded by a
    nation's customer count; at corpus scale a hot nation routes
    through the two-pass ranked_cumsum (operators/ranking) — and a
    25-row bounded output.
    """
    cust = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "spend_cents"
        )
    )
    base = (
        cust.join(spend, cust["c_custkey"] == spend["o_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_custkey").alias("ck"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("x"),
            F.col("spend_cents").alias("y"),
        )
    )

    def r2(col: str) -> F.Column:
        wrank = Window.partitionBy("nation").orderBy(col)
        wtie = Window.partitionBy("nation", col)
        return (
            F.lit(2) * F.rank().over(wrank) + F.count("*").over(wtie) - 1
        )

    ranked = base.select(
        "nation", r2("x").alias("u"), r2("y").alias("w")
    )
    d38 = lambda c: c.cast("decimal(38,0)")
    stats = ranked.groupBy("nation").agg(
        F.count("*").alias("n"),
        F.sum("u").alias("su"),
        F.sum("w").alias("sw"),
        F.sum(d38(F.col("u")) * d38(F.col("w"))).alias("suw"),
        F.sum(d38(F.col("u")) * d38(F.col("u"))).alias("suu"),
        F.sum(d38(F.col("w")) * d38(F.col("w"))).alias("sww"),
    )
    num = d38(F.col("n")) * F.col("suw") - d38(F.col("su")) * d38(
        F.col("sw")
    )
    dx = d38(F.col("n")) * F.col("suu") - d38(F.col("su")) * d38(
        F.col("su")
    )
    dy = d38(F.col("n")) * F.col("sww") - d38(F.col("sw")) * d38(
        F.col("sw")
    )
    return stats.select(
        "nation",
        F.col("n").cast("long").alias("n_customers"),
        F.when(
            (dx > 0) & (dy > 0),
            num.cast("double")
            / F.sqrt(dx.cast("double") * dy.cast("double")),
        ).alias("rho"),
    )


def events_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity companion to events_k_anonymity: over the same
    release quasi-identifier cells (event_type, event date, $10 value
    band), how many DISTINCT users does each cell contain? A cell can
    be k-anonymous yet leak identity-attribute links when every row
    in it belongs to the same few users (Machanavajjhala et al. 2007
    — the reason k-anonymity alone does not clear a training-data
    release). Reports, per event type: cell count, the minimum l, the
    cells below l=3, the rows inside them, and the at-risk share.

    Exactness: distinct counts and conditional sums are exact
    integers end to end; the one share is a single double division
    (raw, unrounded — round(x,4) is the known engine-split trap).

    Scale shape: the k_anonymity posture — two bounded-key map-side
    aggregates (QI cells with an exact distinct over the in-cell user
    set, then a per-type rollup); no windows, no joins. At corpus
    scale the distinct is a two-level groupBy((QI, user) -> QI), the
    same partial-aggregation-friendly shape.
    """
    ev = load_table(spark, sf_dir, "events")
    band = F.floor(F.coalesce(F.col("value"), F.lit(-1.0)) / 10).cast("long")
    cells = (
        ev.groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
            band.alias("value_band"),
            F.coalesce(F.col("user_id"), F.lit(-1)).alias("uid"),
        )
        .agg(F.count("*").alias("n"))
        .groupBy("event_type", "day", "value_band")
        .agg(F.count("*").alias("l"), F.sum("n").alias("n"))
    )
    return (
        cells.groupBy("event_type")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("n").alias("n_rows"),
            F.min("l").alias("min_l"),
            F.sum(F.when(F.col("l") < 3, 1).otherwise(0)).alias(
                "cells_below_3"
            ),
            F.sum(F.when(F.col("l") < 3, F.col("n")).otherwise(0)).alias(
                "rows_below_3"
            ),
        )
        .select(
            "event_type",
            F.col("n_cells").cast("long").alias("n_cells"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("min_l").cast("long").alias("min_l"),
            F.col("cells_below_3").cast("long").alias("cells_below_3"),
            F.col("rows_below_3").cast("long").alias("rows_below_3"),
            (
                F.col("rows_below_3").cast("double")
                / F.col("n_rows").cast("double")
            ).alias("at_risk_share"),
        )
    )


def events_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% trimmed mean of value per event type — the robust location
    estimate an A/B readout uses when heavy tails make the plain mean
    swing on a handful of whales (trim beats winsorize when the tail
    mass is contamination, not signal). Per type: n, rows trimmed,
    the kept-range order statistics, and the trimmed mean.

    Exactness: values become INTEGER CENTS (round(value*100), the
    events_value_moments precedent); the trim cut is RANK-based under
    the total order (cents, event_id) so both engines cut exactly
    floor(n/10) rows per end even through ties (tied cents are
    interchangeable in the sum); kept cents accumulate in
    DECIMAL(38,0); the mean is the fixed chain sum/n_kept/100. The
    kept-range endpoints (k+1-th and n-k-th order statistics) are
    exact integers pinning the cut placement.

    Scale shape: the per-type rank runs through the PARTITIONED
    range-bucketed two-pass (operators/ranking.ranked_cumsum — the
    events_mann_whitney/KS precedent), never a per-type single-task
    sort; per-type totals are a broadcast aggregate join.
    """
    from hrfco_data_pipeline_spark.operators.ranking import ranked_cumsum

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    base = ev.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    totals = base.groupBy("event_type").agg(F.count("*").alias("n"))
    ranked = ranked_cumsum(
        base,
        F.col("c").cast("double"),
        [F.asc("c"), F.asc("event_id")],
        sample_key=F.col("event_id"),
        rank_name="rnk",
        partition_cols=["event_type"],
    )
    k = F.floor(F.col("n") / F.lit(10)).cast("long")
    kept = (
        ranked.join(F.broadcast(totals), "event_type")
        .filter((F.col("rnk") > k) & (F.col("rnk") <= F.col("n") - k))
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.count("*").alias("n_kept"),
            F.min("c").alias("lo_cents"),
            F.max("c").alias("hi_cents"),
            F.sum(F.col("c").cast("decimal(38,0)")).alias("s"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            (F.col("n") - F.col("n_kept")).cast("long").alias("n_trimmed"),
            F.col("lo_cents").cast("long").alias("lo_cents"),
            F.col("hi_cents").cast("long").alias("hi_cents"),
            (
                F.col("s").cast("double")
                / F.col("n_kept").cast("double")
                / F.lit(100.0)
            ).alias("trimmed_mean"),
        )
    )


def events_running_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-breaking statistics per event type: how many times did
    the running maximum value get strictly exceeded over time order —
    the classic records process (for i.i.d. sequences E[records] ~
    ln n, so a large excess flags trend/regime change and a deficit
    flags a capped metric; the streaming sibling of the CUSUM/Pettitt
    changepoint family already shipped).

    Exactness: cents values (round(value*100)); the running max is an
    exact integer; records are counted WITHOUT a lag/prev column:
    record values strictly increase, so n_records = COUNT(DISTINCT c)
    over rows where c equals the inclusive running max (a tie touches
    the max but repeats an already-counted record value). first_cents
    (the rank-1 value, necessarily the first record) pins the order
    placement; record_rate is one exact-integer double division.

    Scale shape: the per-type running max runs through the
    PARTITIONED range-bucketed two-pass with the new cumulative-MAX
    combine (operators/ranking.ranked_cumsum maxes= — max is
    associative exactly like the sums, offset combine is greatest());
    no per-type single-task sort. The distinct-record count is one
    (type, c) re-aggregate, map-side combined.
    """
    from hrfco_data_pipeline_spark.operators.ranking import ranked_cumsum

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    base = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    ranked = ranked_cumsum(
        base,
        # TIMESTAMP_NTZ has no numeric cast; days-since-epoch is
        # numeric and (non-strictly) monotone in the (ts, event_id)
        # order — exactly what the bucket contract requires (ties
        # share a bucket, boundaries only place tasks)
        F.datediff(
            F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01"))
        ).cast("double"),
        [F.asc("ts"), F.asc("event_id")],
        sample_key=F.col("event_id"),
        rank_name="rnk",
        partition_cols=["event_type"],
        maxes={"run_max": F.col("c")},
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct(
                F.when(F.col("c") == F.col("run_max"), F.col("c"))
            ).alias("n_records"),
            F.max("c").alias("max_cents"),
            F.min_by("c", "rnk").alias("first_cents"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("n_records").cast("long").alias("n_records"),
            F.col("max_cents").cast("long").alias("max_cents"),
            F.col("first_cents").cast("long").alias("first_cents"),
            (
                F.col("n_records").cast("double")
                / F.col("n").cast("double")
            ).alias("record_rate"),
        )
    )


def orders_duplicate_invoices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-invoice screen (the record-linkage/fraud-QA staple):
    for every same-customer order pair, score how suspicious a
    near-duplicate it is — cents of price difference plus a
    100-per-day date-gap penalty — and emit the 20 most suspicious
    pairs. A THRESHOLD filter here would be vacuously empty on clean
    corpora (the multimodal_dhash_dups r10 lesson: a 0-row-vs-0-row
    driver green certifies nothing), so the certified face is the
    deterministic top-K under the total order (score, k1, k2).

    Exactness: prices are integer cents, gaps integer days, the score
    an integer — no floats anywhere.

    Scale shape: the pair generation is BLOCKED on o_custkey (a
    same-customer self-join — per-customer order counts are bounded,
    so the blow-up is O(orders_per_customer²) per key, the PPJoin/
    embedding_block posture, never a cartesian); top-K is
    TakeOrdered, no global sort.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    a, b = o.alias("a"), o.alias("b")
    pairs = a.join(
        b,
        (F.col("a.custkey") == F.col("b.custkey"))
        & (F.col("a.k") < F.col("b.k")),
    ).select(
        F.col("a.custkey").alias("custkey"),
        F.col("a.k").alias("k1"),
        F.col("b.k").alias("k2"),
        F.abs(F.col("a.cents") - F.col("b.cents")).alias("cents_diff"),
        F.abs(F.datediff(F.col("a.d"), F.col("b.d")))
        .cast("long")
        .alias("day_gap"),
    )
    scored = pairs.select(
        "custkey",
        "k1",
        "k2",
        "cents_diff",
        "day_gap",
        (F.col("cents_diff") + F.lit(100) * F.col("day_gap")).alias("score"),
    )
    return scored.orderBy(
        F.asc("score"), F.asc("k1"), F.asc("k2")
    ).limit(20)


def events_psi_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between the first and
    second half of the corpus' time range — the industry-standard
    model-monitoring drift score (PSI = Σ_b (p_b−q_b)·ln(p_b/q_b)
    over fixed buckets; <0.1 stable, >0.25 action): the bucketed,
    threshold-friendly companion to events_ks_two_sample (KS finds
    the maximal pointwise gap; PSI prices total bucket-mass movement
    on the decile grid a scorecard monitors).

    Construction: bucket edges are the EXACT global value deciles
    (k-th order statistics at k = ceil(i·n/10), cut under the total
    order (value, event_id)); the time split is the integer midpoint
    of the day range; counts get +1 Laplace smoothing over the 10
    buckets so empty cells stay finite — all deterministic on both
    faces. The rank cut k = (n·i − 1) div 10 + 1 is pure-integer
    (`div`, mirrored as `//` in the DuckDB twin) so the decile
    decision stays exact at any corpus size — float floor() drifts
    once n·9 exceeds 2^53. Each bucket's term is a fixed-order IEEE
    chain over exact integers; the 10-term sum folds over the SORTED
    term list (the entropy precedent).

    Scale shape: the decile rank runs through the range-bucketed
    two-pass (operators/ranking.ranked_cumsum — never a global
    sort); edges broadcast as one 9-double row; bucketing is a
    zero-shuffle projection; the rest aggregates a |types|×10 grid.
    """
    from hrfco_data_pipeline_spark.operators.ranking import ranked_cumsum

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_type",
            "event_id",
            "value",
            F.datediff(
                F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01"))
            ).cast("long").alias("day"),
        )
    )
    tot = ev.agg(
        F.count("*").alias("n_all"),
        F.min("day").alias("dmin"),
        F.max("day").alias("dmax"),
    )
    ranked = ranked_cumsum(
        ev.select("event_id", "value"),
        F.col("value"),
        [F.asc("value"), F.asc("event_id")],
        sample_key=F.col("event_id"),
        rank_name="rnk",
    )
    cuts = F.expr(
        "transform(sequence(1, 9), i -> (n_all * i - 1) div 10 + 1)"
    )
    edges_df = (
        ranked.crossJoin(F.broadcast(tot))
        .filter(F.array_contains(cuts, F.col("rnk")))
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("rnk"), F.col("value")))
                ),
                lambda s: s["value"],
            ).alias("es")
        )
    )
    bucketed = (
        ev.crossJoin(F.broadcast(edges_df))
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.size(
                F.filter("es", lambda e: F.col("value") > e)
            ).alias("bucket"),
            (
                F.col("day")
                <= F.floor((F.col("dmin") + F.col("dmax")) / F.lit(2.0))
            ).cast("long").alias("first_half"),
        )
    )
    counts = bucketed.groupBy("event_type", "bucket").agg(
        F.sum("first_half").alias("c1"),
        F.sum(F.lit(1) - F.col("first_half")).alias("c2"),
    )
    return psi_from_bucket_counts(counts)


def psi_from_bucket_counts(counts: DataFrame) -> DataFrame:
    """The PSI tail over sparse (event_type, bucket, c1, c2) bucket
    counts (c1 = reference half/snapshot, c2 = comparison half/live;
    rows must have c1+c2 > 0): +1 Laplace smoothing, fixed-order IEEE
    terms, sorted-list fold over all 10 buckets, round 4. Shared by
    the batch face (events_psi_by_type) and the streaming monitor
    (streaming/curation.psi_report_vs_reference) — the ks_from_counts
    pattern.

    Plan shape: ONE groupBy over the sparse counts. Every ABSENT
    bucket contributes the identical term((0,0)) value, so the
    zero-filled 10-bucket grid is array_repeat(term00, 10−present)
    concatenated to the present-bucket terms — no types×10 grid
    explode, no halves join-back. The first cut of this tail used
    grid + two join-backs and audited at 72 parquet scans / 79
    exchanges through DataFrame branch re-embedding (the r9
    double_mass 78-exchange lesson); this form audits at one scan of
    the counts subtree. The sorted 10-term MULTISET is identical
    either way, so the DuckDB twin (which keeps the readable grid
    form) folds to the same bits."""

    def term(c1, c2, n1, n2):
        p = (c1 + F.lit(1)).cast("double") / (n1 + F.lit(10)).cast("double")
        q = (c2 + F.lit(1)).cast("double") / (n2 + F.lit(10)).cast("double")
        return (p - q) * F.log(p / q)

    per_type = counts.groupBy("event_type").agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.count("*").alias("n_present"),
        F.collect_list(F.struct("c1", "c2")).alias("cs"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    # Enforce the 10-bucket invariant loudly: with >10 present rows
    # per type the pad count would go negative and array_repeat would
    # silently yield an empty pad (a corrupted PSI, not an error) —
    # the ranking.ranked_cumsum raise_error precedent.
    pad_n = F.when(
        F.col("n_present") > 10,
        F.raise_error(
            F.lit(
                "psi_from_bucket_counts: more than 10 bucket rows for "
                "one event_type — caller violated the 10-bucket grid"
            )
        ).cast("int"),
    ).otherwise(F.greatest(F.lit(0), F.lit(10) - F.col("n_present")).cast("int"))
    all_terms = F.concat(
        F.transform("cs", lambda s: term(s["c1"], s["c2"], n1, n2)),
        F.array_repeat(term(F.lit(0), F.lit(0), n1, n2), pad_n),
    )
    return per_type.select(
        "event_type",
        n1.cast("long").alias("n_first"),
        n2.cast("long").alias("n_second"),
        F.round(
            F.aggregate(
                F.sort_array(all_terms),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
            4,
        ).alias("psi"),
    )


def psi_bucket_counts(events_batch: DataFrame, edges: list[float]) -> DataFrame:
    """(event_type, bucket, c) counts over ONE batch of events against
    FROZEN decile edges — the additive partial the PSI streaming
    monitor appends per micro-batch (counts merge by plain addition,
    so the union of partials IS the live distribution)."""
    earr = F.array(*[F.lit(e) for e in edges])
    return (
        events_batch.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.size(
                F.filter(earr, lambda e: F.col("value") > e)
            ).alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("c"))
    )


def events_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness screen per event type: the Fano factor (index of
    dispersion) of the DAILY event-count series over the full corpus
    day range — var/mean = 1 for a Poisson arrival process, > 1 for
    bursty/clustered traffic, < 1 for regular (rate-limited) traffic.
    The stationarity companion to events_inter_arrival_stats (which
    sees gaps; Fano sees count clumping at the chosen granularity).

    Exactness: with D = calendar days in the corpus range (zero days
    count), n = Σc_d and s2 = Σc_d² exact integers, the population
    Fano factor is the single division (D·s2 − n²)/(D·n) — numerator
    and denominator stay integer (DECIMAL(38,0) — n² passes 2^63 at
    corpus scale), one double division at the boundary.

    Scale shape: one (type, day) count aggregate (map-side combined),
    one per-type re-aggregate on the same key prefix, a broadcast
    1-row day-range join. Absent (type, day) cells contribute 0 to
    both sums, so no zero-fill grid materializes.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01"))
            ).cast("long").alias("day"),
        )
    )
    days = ev.agg(
        (F.max("day") - F.min("day") + 1).alias("d_total")
    )
    daily = ev.groupBy("event_type", "day").agg(F.count("*").alias("c"))
    d38 = lambda c: c.cast("decimal(38,0)")
    per_type = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days_active"),
        F.sum("c").alias("n"),
        F.sum(d38(F.col("c")) * d38(F.col("c"))).alias("s2"),
    )
    return per_type.crossJoin(F.broadcast(days)).select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.col("n_days_active").cast("long").alias("n_days_active"),
        F.col("d_total").cast("long").alias("n_days_total"),
        (
            (d38(F.col("d_total")) * F.col("s2") - d38(F.col("n")) * d38(F.col("n")))
            .cast("double")
            / (d38(F.col("d_total")) * d38(F.col("n"))).cast("double")
        ).alias("fano"),
    )


def orders_amount_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table amount reconciliation DQ: does o_totalprice equal
    Σ l_extendedprice·(1−l_discount)·(1+l_tax) over the order's
    lines? The financial-close audit every warehouse runs between a
    header table and its lines (here it also certifies the synthetic
    corpus' header/line independence). Per order status: order count,
    how many orders have no lines at all, and how many reconcile
    within 0.1% / 1% / 10% relative difference.

    Exactness: everything is INTEGER TEN-THOUSANDTHS-OF-A-CENT —
    line value = cents(ext)·(100−pct(disc))·(100+pct(tax)) exactly;
    the header face is cents(total)·10⁴; band membership is the
    pure-integer comparison |d|·k ≤ T (k = 1000/100/10), so no
    division or float ever decides a bucket. Sums accumulate in
    DECIMAL(38,0).

    Scale shape: one lineitem scan pre-aggregated to per-order sums
    BEFORE the join (partial-agg shuffle on l_orderkey), one
    orderkey-join against the header (both sides big → sort-merge;
    AQE may flip), one tiny status aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        (
            F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
            * (100 - F.round(F.col("l_discount") * 100).cast("long")).cast(
                "decimal(38,0)"
            )
            * (100 + F.round(F.col("l_tax") * 100).cast("long")).cast(
                "decimal(38,0)"
            )
        ).alias("lv"),
    )
    line_sums = li.groupBy("okey").agg(F.sum("lv").alias("line_units"))
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        "o_orderstatus",
        (
            F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")
            * F.lit(10000).cast("decimal(38,0)")
        ).alias("hdr_units"),
    )
    j = o.join(line_sums, "okey", "left").select(
        "o_orderstatus",
        "hdr_units",
        F.col("line_units").isNull().alias("no_lines"),
        F.abs(
            F.col("hdr_units") - F.coalesce(F.col("line_units"), F.lit(0))
        ).alias("ad"),
    )
    within = lambda k: F.sum(
        F.when(
            ~F.col("no_lines")
            & (F.col("ad") * F.lit(k).cast("decimal(38,0)") <= F.col("hdr_units")),
            1,
        ).otherwise(0)
    )
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("no_lines").cast("long")).alias("n_no_lines"),
            within(1000).alias("n_within_0p1pct"),
            within(100).alias("n_within_1pct"),
            within(10).alias("n_within_10pct"),
        )
        .select(
            "o_orderstatus",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("n_no_lines").cast("long").alias("n_no_lines"),
            F.col("n_within_0p1pct").cast("long").alias("n_within_0p1pct"),
            F.col("n_within_1pct").cast("long").alias("n_within_1pct"),
            F.col("n_within_10pct").cast("long").alias("n_within_10pct"),
        )
    )


def customer_churn_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-definition sensitivity: the churn rate under 30/60/90-day
    inactivity cutoffs — the first analysis a retention team runs
    before committing to a churn SLA, because the rate is often wildly
    sensitive to the arbitrary cutoff (a steep curve here means the
    definition, not the behavior, drives the metric).

    Exactness: last-order day per customer and the corpus max day are
    exact integers; churned = last_day < dmax − cutoff is an integer
    comparison; the rate is one exact-integer double division.

    Scale shape: one per-customer max aggregate (map-side combined),
    a 3-element literal explode on the bounded per-customer frame,
    a broadcast 1-row corpus-max join, a 3-group aggregate.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
        ).cast("long").alias("day"),
    )
    last = o.groupBy("o_custkey").agg(F.max("day").alias("last_day"))
    dmax = o.agg(F.max("day").alias("dmax"))
    grid = last.select(
        "last_day",
        F.explode(F.array(*[F.lit(c) for c in (30, 60, 90)])).alias(
            "cutoff_days"
        ),
    )
    return (
        grid.crossJoin(F.broadcast(dmax))
        .groupBy("cutoff_days")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(
                F.when(
                    F.col("last_day") < F.col("dmax") - F.col("cutoff_days"),
                    1,
                ).otherwise(0)
            ).alias("n_churned"),
        )
        .select(
            F.col("cutoff_days").cast("int").alias("cutoff_days"),
            F.col("n_customers").cast("long").alias("n_customers"),
            F.col("n_churned").cast("long").alias("n_churned"),
            (
                F.col("n_churned").cast("double")
                / F.col("n_customers").cast("double")
            ).alias("churn_rate"),
        )
    )


def parts_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) over parts: every part for which
    no other part is both cheaper-or-equal AND larger-or-equal with at
    least one strict — the classic "best price for the size you get"
    frontier (Börzsönyi et al., The Skyline Operator, ICDE'01). A new
    operator CLASS for the registry: dominance queries, the
    multi-objective sibling of top-k.

    Exactness: prices as integer cents (round(p*100) — the repo's
    decimal convention), sizes as longs, so every dominance comparison
    is pure-integer. The record-value dedup reuses the
    events_running_records insight: under ascending price the skyline
    sizes are exactly the strictly-increasing records of the per-price
    max size, and with an INCLUSIVE running max the first (cheapest)
    price achieving each distinct record value is min(price) per
    record — no lag/prev column needed.

    Scale shape: one groupBy on price_cents (map-side combined), the
    per-price table then runs through the range-bucketed two-pass
    cumulative-MAX (operators/ranking.ranked_cumsum maxes= — never a
    single-task global sort; the per-price table is |distinct prices|,
    already ≪ |parts|), one tiny record-value aggregate, and a
    broadcast semi-join back to parts to recover all partkeys on the
    frontier. The DuckDB twin certifies via the INDEPENDENT quadratic
    dominance anti-join — two different algorithms, same frontier.
    """
    from hrfco_data_pipeline_spark.operators.ranking import ranked_cumsum

    part = load_table(spark, sf_dir, "part")
    base = part.select(
        F.col("p_partkey").alias("partkey"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    per_price = base.groupBy("price_cents").agg(F.max("size").alias("max_size"))
    ranked = ranked_cumsum(
        per_price,
        F.col("price_cents").cast("double"),
        [F.asc("price_cents")],
        sample_key=F.col("price_cents"),
        rank_name="rnk",
        maxes={"run_max": F.col("max_size")},
    )
    # Skyline price groups: rows touching the inclusive running max
    # are record-achievers OR later ties; keeping min(price) per
    # distinct record value drops the ties (a tie at a higher price is
    # dominated by the cheaper same-size group).
    frontier = (
        ranked.filter(F.col("max_size") == F.col("run_max"))
        .groupBy(F.col("max_size").alias("size"))
        .agg(F.min("price_cents").alias("price_cents"))
    )
    return base.join(
        F.broadcast(frontier), ["price_cents", "size"], "left_semi"
    ).select("partkey", "price_cents", "size")


def events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time lateness profile per event type: for each event, how
    far its timestamp lags the maximum event time already seen in
    ARRIVAL order (event_id — the ingest sequence) — the measurement a
    streaming deployment runs BEFORE choosing its watermark delay
    (`withWatermark` drops state older than max(event_time) − delay,
    so the lateness distribution IS the expected drop rate at each
    candidate delay).

    Exactness: event seconds are TZ-free integers (days-since-epoch ×
    86400 + h/m/s field extracts — TIMESTAMP_NTZ never routes through
    a session-zone epoch conversion, the streaming/analytics §7 risk);
    the running max is exact-integer; per-type sums of long lateness
    are exact, so mean/percentage are single final divisions.

    Scale shape: the global arrival-order running max runs through the
    range-bucketed two-pass cumulative-MAX (ranked_cumsum maxes= on
    event_id buckets — no single-task sort); the rest is one
    map-side-combined groupBy on event_type.
    """
    from hrfco_data_pipeline_spark.operators.ranking import ranked_cumsum

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    sec = (
        F.datediff(
            F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01"))
        ).cast("long")
        * 86400
        + F.hour("ts").cast("long") * 3600
        + F.minute("ts").cast("long") * 60
        + F.second("ts").cast("long")
    )
    base = ev.select("event_id", "event_type", sec.alias("sec"))
    ranked = ranked_cumsum(
        base,
        F.col("event_id").cast("double"),
        [F.asc("event_id")],
        sample_key=F.col("event_id"),
        rank_name="rnk",
        maxes={"run_max": F.col("sec")},
    )
    late = ranked.select(
        "event_type", (F.col("run_max") - F.col("sec")).alias("late_sec")
    )
    return late.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("late_sec") > 0).cast("long")).alias("n_late"),
        F.round(
            F.sum((F.col("late_sec") > 0).cast("long")).cast("double")
            / F.count("*").cast("double"),
            4,
        ).alias("late_pct"),
        F.max("late_sec").alias("max_lateness_sec"),
        F.round(
            F.sum("late_sec").cast("double") / F.count("*").cast("double"), 4
        ).alias("avg_lateness_sec"),
    )


def events_session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization-gap parameter sweep: session counts and mean
    session length at 30/60/120-minute inactivity thresholds — the
    measurement behind choosing the gap BEFORE baking it into the
    session tables (the churn-cutoff-sensitivity pattern applied to
    sessionization; a metric that swings hard across the sweep says
    the 'session' construct is threshold-driven, not behavior-driven).

    Exactness: gaps via timestamp_diff on second-truncated NTZ values
    (the events_sessionize idiom — never a session-zone epoch);
    session starts are integer flags, so every output is an exact
    count or one final division.

    Scale shape: ONE lag window per user (shuffle on user_id) computes
    the inter-arrival once; the 3-threshold sweep is a 3× explode of
    the (user, gap) projection — no re-windowing per threshold — then
    one map-side-combined groupBy on the threshold.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = F.timestamp_diff(
        "SECOND", F.date_trunc("second", prev), F.date_trunc("second", F.col("ts"))
    )
    base = ev.select("user_id", gap.alias("gap"))
    sw = base.select(
        "user_id",
        "gap",
        F.explode(F.array(F.lit(1800), F.lit(3600), F.lit(7200))).alias(
            "gap_threshold_sec"
        ),
    )
    start = (F.col("gap").isNull() | (F.col("gap") > F.col("gap_threshold_sec"))).cast(
        "long"
    )
    return sw.groupBy("gap_threshold_sec").agg(
        F.count("*").alias("n_events"),
        F.sum(start).alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(
            F.count("*").cast("double") / F.sum(start).cast("double"), 4
        ).alias("avg_events_per_session"),
    )


def events_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness screen — the third leg of the release-privacy
    family (Li, Li & Venkatasubramanian 2007): a cell can be
    k-anonymous (events_k_anonymity) and l-diverse
    (events_l_diversity) yet still leak when its SENSITIVE-attribute
    distribution diverges from the global one (everyone in the cell
    shares a behavior class). Quasi-identifiers here are (event date,
    $10 value band); the sensitive attribute is event_type — the
    categorical payload a release protects, so the distance is total
    variation (= EMD under the discrete metric). Reports per day:
    cells, rows, the worst cell's TV distance, and the cells/rows
    beyond t = 0.3.

    Exactness: per-cell TV = Σ_t |c_t·N − C_t·n| / (2·n·N) with every
    product and sum in DECIMAL(38,0) (long·long overflows past
    N ≈ 3·10^9 — the orders_amount_reconciliation lesson); types
    absent from a cell contribute C_t·n via the closed form
    (N − ΣC_present)·n, never a grid explode. The t cutoff is the
    PURE-INTEGER compare 10·Σ > 6·n·N (no float threshold anywhere);
    the one emitted double is a single cast-then-divide of exact
    operands (raw, unrounded — the l_diversity convention).

    Scale shape: the family posture — bounded-key map-side aggregates
    only: global type counts (|types| rows) and the corpus total are
    broadcast; cells aggregate on (day, band, type) then (day, band);
    the rollup is per-day. No windows, no unbounded joins.
    """
    ev = load_table(spark, sf_dir, "events")
    band = F.floor(F.coalesce(F.col("value"), F.lit(-1.0)) / 10).cast("long")
    base = ev.select(
        F.to_date("ts").alias("day"),
        band.alias("value_band"),
        "event_type",
    )
    glob = base.groupBy("event_type").agg(F.count("*").alias("gc"))
    total = glob.agg(F.sum("gc").cast("long").alias("tot_n"))
    cells_t = base.groupBy("day", "value_band", "event_type").agg(
        F.count("*").alias("c")
    )
    n_cell = cells_t.groupBy("day", "value_band").agg(
        F.sum("c").cast("long").alias("n")
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")
    j = (
        cells_t.join(F.broadcast(glob), "event_type")
        .join(n_cell, ["day", "value_band"])
        .crossJoin(F.broadcast(total))
    )
    per_cell = j.groupBy("day", "value_band", "n", "tot_n").agg(
        F.sum(F.abs(dec("c") * dec("tot_n") - dec("gc") * dec("n"))).alias(
            "num_present"
        ),
        F.sum(dec("gc")).alias("c_present"),
    )
    # absent types contribute |0*N - C_t*n| = C_t*n; their C sums to
    # N - c_present, so the full numerator closes without a type grid
    num = (
        F.col("num_present")
        + (dec("tot_n") - F.col("c_present")) * dec("n")
    )
    tv = num.cast("double") / (
        F.lit(2.0) * F.col("n").cast("double") * F.col("tot_n").cast("double")
    )
    above = (F.lit(10).cast("decimal(38,0)") * num) > (
        F.lit(6).cast("decimal(38,0)") * dec("n") * dec("tot_n")
    )
    scored = per_cell.select(
        "day",
        F.col("n").alias("n"),
        tv.alias("tv"),
        above.cast("long").alias("above"),
    )
    return scored.groupBy("day").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("tv").alias("max_tv"),
        F.sum("above").cast("long").alias("n_cells_above_t"),
        F.sum(F.when(F.col("above") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    )


# --------------------------------------------------------------------------
# r13: cadence/bot screening, control charts, sketch certificates, drift
# --------------------------------------------------------------------------

def events_bot_regularity_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Machine-traffic screen by inter-arrival regularity: per user
    (≥ 10 gaps), the squared coefficient of variation of consecutive
    event gaps — human cadence is bursty (CV² ≈ 1 for Poisson, > 1
    for sessions), schedulers and scrapers tick (CV² → 0). The
    pre-training corpus counterpart strips bot-generated interaction
    logs before they dominate a behavioral dataset; the flag rule
    (≥ 20 gaps AND CV² < 0.01) is deliberately conservative.

    Exactness: gaps are integer SECONDS (microsecond difference `div`
    10^6 — pure-integer on both faces); Σx and Σx² accumulate as
    DECIMAL(38,0) internally (per-user gap sums square past BIGINT on
    long histories; ceiling ~1e19 gap-seconds-squared per user —
    unreachable), and CV² = (n·Σx² − (Σx)²) / (Σx)² is ONE double
    division of exact integer operands, emitted raw. The mean divides
    the same exact sums.

    Scale shape: one lag window per user (the inter_arrival_stats
    shape — group size = per-user event count), then a user-keyed
    map-side-combined aggregate; no joins, no collects. Output is
    bounded by the ≥ 10-gap user set.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.to_utc_timestamp("ts", "UTC"))
    prev_us = F.unix_micros(F.to_utc_timestamp(F.lag("ts").over(w), "UTC"))
    gaps = (
        ev.select("user_id", (us - prev_us).alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
        .select("user_id", F.expr("gap_us div 1000000").alias("gap_s"))
    )
    agg = gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.sum(F.col("gap_s").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            (F.col("gap_s") * F.col("gap_s")).cast("decimal(38,0)")
        ).alias("s2"),
    ).filter(F.col("n_gaps") >= 10)
    n, s1, s2 = F.col("n_gaps"), F.col("s1"), F.col("s2")
    # convert the three sums to double FIRST and do the variance
    # algebra in double space: n·Σx² and (Σx)² exceed 2^53 long before
    # the sums themselves do, and DuckDB's HUGEINT→DOUBLE cast is not
    # correctly rounded past 2^53 (the supplier_share_drift lesson,
    # SCALE.md §r13 — applied here in the r13 self-review). Identical
    # IEEE multiply/subtract/divide chains on identical operands are
    # portable; the exactness ceiling is Σx² < 2^53 per user
    # (~9e5 gaps of ~1e5 s each), far beyond any event log's per-user
    # history.
    n_d, s1_d, s2_d = (
        n.cast("double"),
        s1.cast("double"),
        s2.cast("double"),
    )
    cv2 = F.when(
        s1 > 0, (n_d * s2_d - s1_d * s1_d) / (s1_d * s1_d)
    )
    return agg.select(
        "user_id",
        n.cast("long").alias("n_gaps"),
        (s1_d / n_d).alias("mean_gap_s"),
        cv2.alias("cv2"),
        ((n >= 20) & (s1 > 0) & (cv2 < 0.01)).alias("is_regular_bot"),
    )


def events_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over daily event counts per type with
    λ = 1/2: each day is compared against the exponentially-weighted
    mean of its PAST (e_t = (x_t + e_{t−1})/2, seeded at the first
    day) and flagged when it more than doubles the forecast — the
    streaming-friendly anomaly chart next to the one-shot
    events_cusum_changepoint (CUSUM localizes a single level shift;
    EWMA tracks and flags continuously).

    Exactness: counts are integers and λ = 1/2 keeps every EWMA value
    a DYADIC rational — the sequential (acc + x)·0.5 fold is exact in
    doubles until day counts exceed ~2^52·2^−t, and past that both
    engines round the identical IEEE operation chain identically (the
    fold order is pinned by the day-sorted array). The spike test
    x > 2·e_prev compares a long against a dyadic double — exact.

    Scale shape: the day-count substrate is one map-side-combined
    groupBy; per type the chart folds over the DAY-DOMAIN array
    (≤ days rows regardless of corpus size — the drought_runs
    posture); per-day prefix folds cost O(days²) on that bounded
    domain. One explode back to rows.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    arr = F.sort_array(
        F.collect_list(F.struct(F.col("day"), F.col("n")))
    )
    per_type = daily.groupBy("event_type").agg(arr.alias("arr"))
    n_arr = F.size("arr")
    el = lambda i: F.element_at("arr", i)  # noqa: E731

    def ewma_prefix(i):
        # e_i = fold over arr[2..i] seeded at x_1, each step (acc+x)/2
        return F.aggregate(
            F.sequence(F.lit(2), F.greatest(i, F.lit(2))),
            el(1)["n"].cast("double"),
            lambda acc, j: F.when(
                j <= i,
                (acc + el(j.cast("int"))["n"].cast("double")) * F.lit(0.5),
            ).otherwise(acc),
        )

    rows = F.transform(
        F.sequence(F.lit(1), n_arr),
        lambda i: F.struct(
            el(i.cast("int"))["day"].alias("day"),
            el(i.cast("int"))["n"].alias("n_events"),
            F.when(i > 1, ewma_prefix((i - 1).cast("int"))).alias(
                "ewma_prev"
            ),
        ),
    )
    out = per_type.select("event_type", F.explode(rows).alias("r"))
    return out.select(
        "event_type",
        F.col("r.day").alias("day"),
        F.col("r.n_events").cast("long").alias("n_events"),
        F.col("r.ewma_prev").alias("ewma_prev"),
        F.when(
            F.col("r.ewma_prev").isNotNull(),
            F.col("r.n_events").cast("double") > 2 * F.col("r.ewma_prev"),
        ).alias("is_spike"),
    )


def gk_within_tolerance(rank_lt, rank_le, target, tol):
    """The GK rank-tolerance predicate: some attainable rank of the
    returned element — the interval [rank_lt+1, rank_le] — intersects
    [target-tol, target+tol]. The low side therefore requires
    rank_lt+1 <= target+tol, i.e. rank_lt STRICTLY below target+tol:
    `<=` would pass an element whose LOWEST attainable rank sits one
    past tolerance (ADVICE r13 — the constant-TRUE oracle of
    events_quantile_sketch_error cannot catch that regression, so the
    boundary is pinned by a unit test instead)."""
    return (rank_le >= target - tol) & (rank_lt < target + tol)


def events_quantile_sketch_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-error certificate for approx_percentile (the
    Greenwald–Khanna sketch): per event type and p ∈ {0.5, 0.9} at
    accuracy 100, verify the sketch's returned element really sits
    within ±n/100 ranks of the target — the events_hll_accuracy
    pattern for the quantile sketch (the estimate itself is
    engine-specific and never emitted; the GUARANTEE is the portable
    fact, and a sketch regression flips the flag under the driver
    hash).

    The check joins the 2·|types| sketch outputs back against one
    corpus scan and counts values strictly below / at-or-below the
    returned element — exact integer ranks, integer tolerance bound
    (|types|·2-row broadcast against the scan).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    sk = ev.groupBy("event_type").agg(
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.9)), F.lit(100)
        ).alias("vs"),
        F.count("*").alias("n"),
    )
    probes = sk.select(
        "event_type",
        "n",
        F.posexplode("vs").alias("pi", "v"),
    ).select(
        "event_type",
        "n",
        F.when(F.col("pi") == 0, 50).otherwise(90).alias("p_pct"),
        "v",
    )
    joined = ev.join(
        F.broadcast(probes.withColumnRenamed("event_type", "et")),
        F.col("event_type") == F.col("et"),
    )
    ranks = joined.groupBy("et", "p_pct", "n").agg(
        F.sum(F.when(F.col("value") <= F.col("v"), 1).otherwise(0)).alias(
            "rank_le"
        ),
        F.sum(F.when(F.col("value") < F.col("v"), 1).otherwise(0)).alias(
            "rank_lt"
        ),
    )
    # GK guarantee at accuracy a: some rank in [rank_lt+1, rank_le]
    # lies within n/a of ceil(p*n/100) — pure-integer arithmetic
    # (`div`, mirrored as `//` in the twin; no float ceil/floor).
    target = F.expr("(p_pct * n + 99) div 100")
    tol = F.expr("n div 100 + 1")
    ok = gk_within_tolerance(
        F.col("rank_lt"), F.col("rank_le"), target, tol
    )
    return ranks.select(
        F.col("et").alias("event_type"),
        F.col("p_pct").cast("int").alias("p_pct"),
        F.col("n").cast("long").alias("n"),
        ok.alias("within_rank_tolerance"),
    )


def supplier_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-base drift per brand: total-variation distance between
    the supplier revenue-share distribution in the FIRST and SECOND
    half of the ship-date range — the procurement twin of the corpus
    drift family (docs_source_tv_distance measures token mixture;
    this measures whether a brand quietly re-sourced). TV near 1
    means the supplier set turned over wholesale; 0 means stable
    shares.

    Exactness: per-item revenue becomes an exact integer (the
    %.2f-DECIMAL house convention × 10⁴ — hundredths of cents);
    per-(brand, supplier) half-sums accumulate as DECIMAL(38,0).
    TV folds as Σ_s floor(|c1_s/N1 − c2_s/N2|·10⁹) — each share is
    one double division of exact integers, the quantized terms sum
    EXACTLY as longs (the train_linear_gate convention), and the
    final tv divides the long by 2·10⁹ once. The integer-product form
    Σ|c1·N2 − c2·N1| / (2·N1·N2) was tried and REVERTED: its
    numerator exceeds 2^53 and DuckDB's HUGEINT→DOUBLE cast is NOT
    correctly rounded there (measured: 7.34076513938130271480e20
    converts one ulp high), so the share-difference form keeps every
    double conversion under 2^53 (revenue sums to ~9e15
    hundredth-cents per brand-half — $9e11, beyond the synthetic
    corpus at any SF; a real 100 TB ledger would emit whole cents).
    Brands with an empty half emit NULL tv. The time split is the
    integer midpoint day (the PSI convention).

    Scale shape: one lineitem scan joined to the part dim on partkey
    (Catalyst picks broadcast when the dim fits); per-(brand,
    supplier) partial aggregation map-side; the TV rollup runs on the
    |brands|×|suppliers| grid. The 1-row date-range aggregate
    broadcasts.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        (
            _dec("l_extendedprice")
            * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
        )
        * F.lit(10000)
    ).cast("decimal(38,0)")
    day = F.datediff(
        F.col("l_shipdate").cast("date"), F.to_date(F.lit("1970-01-01"))
    ).cast("long")
    rng = li.agg(F.min(day).alias("dmin"), F.max(day).alias("dmax"))
    staged = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .crossJoin(F.broadcast(rng))
        .select(
            "p_brand",
            "l_suppkey",
            rev.alias("c"),
            (
                day
                <= F.floor((F.col("dmin") + F.col("dmax")) / F.lit(2.0))
            ).alias("first_half"),
        )
    )
    per_supp = staged.groupBy("p_brand", "l_suppkey").agg(
        F.sum(F.when(F.col("first_half"), F.col("c")).otherwise(0)).alias(
            "c1"
        ),
        F.sum(
            F.when(F.col("first_half"), F.lit(0)).otherwise(F.col("c"))
        ).alias("c2"),
    )
    wb = Window.partitionBy("p_brand")
    tv_base = per_supp.select(
        "p_brand",
        "c1",
        "c2",
        F.sum("c1").over(wb).alias("n1"),
        F.sum("c2").over(wb).alias("n2"),
    )
    term = F.floor(
        F.abs(
            F.col("c1").cast("double") / F.col("n1").cast("double")
            - F.col("c2").cast("double") / F.col("n2").cast("double")
        )
        * F.lit(1000000000.0)
    ).cast("long")
    out = tv_base.groupBy("p_brand").agg(
        F.count("*").alias("n_suppliers"),
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(
            F.when((F.col("n1") > 0) & (F.col("n2") > 0), term)
        ).alias("tv_nanos"),
    )
    tv = F.when(
        (F.col("n1") > 0) & (F.col("n2") > 0),
        F.col("tv_nanos").cast("double") / F.lit(2000000000.0),
    )
    return out.select(
        "p_brand",
        F.col("n_suppliers").cast("long").alias("n_suppliers"),
        F.col("n1").cast("double").alias("rev1_hcents"),
        F.col("n2").cast("double").alias("rev2_hcents"),
        tv.alias("tv_share_drift"),
    )


def stream_batch_psi_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming↔batch parity CERTIFICATE for the PSI drift monitor
    (VERDICT r12 'Next round' #4a): freeze the batch face's own decile
    edges and midpoint-day split, snapshot the first half as the
    reference bucket counts, stream the SECOND half through
    streaming/curation.psi_drift_stream in file micro-batches
    (availableNow), and serve the PSI report from the accumulated
    store. Bucket counts merge by plain addition, so the served rows
    must be row-identical to events_psi_by_type on the full corpus —
    the emission carries the report plus a matches-batch-face flag
    (the oracle is the batch face's own SQL + TRUE; a monitor bug
    breaks values and flag under the driver hash).

    EAGER query: the 9-double edge collect and the 1-row midpoint are
    bounded metadata collects (the k-means Lloyd-bound convention);
    the streaming run executes at call time into a session temp dir.
    """
    from hrfco_data_pipeline_spark.streaming.curation import (
        psi_drift_stream,
        run_parity_stream,
    )

    edges, mid, reference, second = psi_parity_inputs(spark, sf_dir)
    if not edges:
        # degenerate corpus (no value/ts-valid events): the batch face
        # and oracle emit zero rows — mirror that instead of crashing
        # on a None day range (r13 self-review)
        return spark.createDataFrame(
            [],
            "event_type string, n_first long, n_second long, "
            "psi double, matches_batch_face boolean",
        )
    # n_files=2 (r17, verdict item 2): bucket-count partials merge by
    # plain addition — the report is batch-boundary-invariant, so two
    # micro-batches exercise the same merge at half the availableNow
    # floor (see run_parity_stream).
    table = run_parity_stream(
        spark,
        second,
        lambda stream, t: psi_drift_stream(stream, t, edges),
        "hrfco_psi_parity_",
        n_files=2,
    )
    return psi_parity_report(
        spark, sf_dir, table, reference, edges=edges, mid=mid
    )


def psi_parity_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[list, int, DataFrame, DataFrame]:
    """(edges, mid, reference_counts, second_half) — the frozen decile
    edges, midpoint day, first-half reference bucket counts, and
    second-half frame built by the batch face's own construction;
    shared by the parity query and its negative-path test. ``mid`` is
    exposed (r16) so the report's batch-face arm can reuse the frozen
    split instead of re-deriving deciles+midpoint from scratch."""
    from hrfco_data_pipeline_spark.operators.ranking import ranked_cumsum

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            # r16 (guide §2.3): only the columns the decile derivation,
            # the halves split, and the PSI maintainer read — the
            # second half is STAGED as parquet by the certificate, so
            # dropped columns shrink that copy and its 4 batch scans.
            "event_id",
            "event_type",
            "value",
            F.datediff(
                F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01"))
            ).cast("long").alias("day"),
        )
    )
    tot = ev.agg(
        F.count("*").alias("n_all"),
        F.min("day").alias("dmin"),
        F.max("day").alias("dmax"),
    ).collect()[0]
    if tot.n_all == 0:
        empty = ev.drop("day").limit(0)
        return [], 0, psi_bucket_counts(empty, [0.0]), empty
    mid = (tot.dmin + tot.dmax) // 2
    ranked = ranked_cumsum(
        ev.select("event_id", "value"),
        F.col("value"),
        [F.asc("value"), F.asc("event_id")],
        sample_key=F.col("event_id"),
        rank_name="rnk",
    )
    cut_ranks = [(tot.n_all * i - 1) // 10 + 1 for i in range(1, 10)]
    edges = [
        r.value
        for r in ranked.filter(F.col("rnk").isin(cut_ranks))
        .orderBy("rnk")
        .select("value")
        .collect()
    ]
    first = ev.filter(F.col("day") <= mid).drop("day")
    second = ev.filter(F.col("day") > mid).drop("day")
    return edges, mid, psi_bucket_counts(first, edges), second


def psi_parity_report(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    reference: DataFrame,
    edges: list | None = None,
    mid: int | None = None,
) -> DataFrame:
    """The serve-vs-batch comparison tail of stream_batch_psi_parity,
    factored out so the negative-path test can point it at a TAMPERED
    store and watch the flag flip (tests/test_r13_operators.py).

    ``edges``/``mid`` (r16, guide §2.4 — remove passes outright): the
    certificate already derives the frozen decile edges and midpoint
    day in psi_parity_inputs with the batch face's own construction;
    passing them here lets the batch-face arm bucket the raw events
    against those frozen literals instead of re-running the whole
    ranked-cumsum decile derivation a second time per execution
    (measured: the report phase dropped ~8 AQE jobs). Values are
    bit-identical: the edges literals are the exact doubles the
    in-plan derivation collects, the bucketing expression is the same
    size(filter(es, e -> value > e)), and the PSI tail is the shared
    psi_from_bucket_counts. Callers without frozen inputs (the
    negative-path test) fall back to the full batch face."""
    from hrfco_data_pipeline_spark.streaming.curation import (
        psi_report_vs_reference,
    )

    served = psi_report_vs_reference(spark, table, reference)
    if edges is not None and mid is not None:
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
            .select(
                "event_type",
                "value",
                F.datediff(
                    F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01"))
                ).cast("long").alias("day"),
            )
        )
        es = F.array(*[F.lit(float(e)) for e in edges])
        bucketed = ev.select(
            "event_type",
            F.size(
                F.filter(es, lambda e: F.col("value") > e)
            ).alias("bucket"),
            (F.col("day") <= F.lit(int(mid))).cast("long").alias(
                "first_half"
            ),
        )
        counts = bucketed.groupBy("event_type", "bucket").agg(
            F.sum("first_half").alias("c1"),
            F.sum(F.lit(1) - F.col("first_half")).alias("c2"),
        )
        batch_face = psi_from_bucket_counts(counts)
    else:
        batch_face = events_psi_by_type(spark, sf_dir)
    batch = batch_face.select(
        F.col("event_type").alias("b_et"),
        F.col("n_first").alias("b_n1"),
        F.col("n_second").alias("b_n2"),
        F.col("psi").alias("b_psi"),
    )
    j = served.join(
        batch, served["event_type"] == batch["b_et"], "full_outer"
    )
    return j.select(
        F.coalesce(F.col("event_type"), F.col("b_et")).alias("event_type"),
        F.col("n_first"),
        F.col("n_second"),
        F.col("psi"),
        (
            F.col("n_first").eqNullSafe(F.col("b_n1"))
            & F.col("n_second").eqNullSafe(F.col("b_n2"))
            & F.col("psi").eqNullSafe(F.col("b_psi"))
        ).alias("matches_batch_face"),
    )


def stream_batch_kmv_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming↔batch parity CERTIFICATE for the KMV sketch
    maintainer (VERDICT r13 'Next round' #3): stream the events table
    through streaming/curation.kmv_sketch_stream in file micro-batches
    (availableNow) — each batch contributing ONE bottom-k partial per
    type (bounded rows, no state store) — then serve the type-pair
    set-operation estimates FROM THE ACCUMULATED PARTIALS and emit
    them next to a matches-batch-face flag computed against the
    sketch arms of events_kmv_setops. Bottom-k merge is lossless
    (every hash in the global bottom-k is in its own batch's
    bottom-k), so the served estimates must be row-identical to the
    batch face in any arrival order — a maintainer bug (lost partial,
    double-applied batch, wrong k) shifts a kth hash and breaks the
    values AND the flag; the driver hash catches both (the oracle is
    the batch face's own SQL projected to the sketch arms + TRUE —
    the r13 cms_parity_report factoring).

    EAGER query: the streaming run executes at call time into a
    session temp dir; stored state is batches·k·|types| hashes —
    sketch-sized regardless of stream length, the defining mergeable-
    sketch property. At scale the certificate runs against an
    existing partial store, not a re-copy.
    """
    from hrfco_data_pipeline_spark.streaming.curation import (
        kmv_sketch_stream,
        run_parity_stream,
    )

    # r16 (guide §2.3 — project before the exchange): stage only the
    # columns the maintainer reads; the staged copy, its shuffle, and
    # the four micro-batch scans all shrink accordingly.
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    )
    # n_files=2 (r17, verdict item 2): the global bottom-k is the
    # bottom-k of per-batch bottom-k partials under ANY batching —
    # batch-boundary-invariant report, half the availableNow floor.
    table = run_parity_stream(
        spark, ev, kmv_sketch_stream, "hrfco_kmv_parity_", n_files=2
    )
    return kmv_parity_report(spark, sf_dir, table)


def kmv_parity_report(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """The serve-vs-batch comparison tail of stream_batch_kmv_parity,
    factored out so the negative-path test can point it at a TAMPERED
    store (a re-appended partial leaves bottom-k unions intact, so the
    tamper injects SHIFTED hashes instead) and watch the flag flip
    (tests/test_r14_operators.py)."""
    from hrfco_data_pipeline_spark.streaming.curation import (
        kmv_setops_from_partials,
    )

    served = kmv_setops_from_partials(spark, table)
    # r16 (guide §2.4 — don't compute what you throw away): the flag
    # compares ONLY the sketch arms, so the batch-face arm runs just
    # the sketch pipeline (the same kmv_bottomk_from_raw →
    # kmv_pair_estimates code events_kmv_setops uses, sharing every
    # line) and skips the exact-QA arms — the full-corpus
    # (type, user) distinct + per-user type self-join + three
    # join-backs that the comparison never reads. The before-plan
    # carried 46 parquet scans / 148 Exchanges; the exact arms were
    # most of them. Sketch values are bit-identical by shared code.
    ev = load_table(spark, sf_dir, "events")
    raw = ev.select("event_type", kmv_hash(F.col("user_id")).alias("h"))
    batch = kmv_pair_estimates(kmv_bottomk_from_raw(raw)).select(
        F.col("type_a").alias("b_a"),
        F.col("type_b").alias("b_b"),
        F.col("kmv_a").alias("b_kmv_a"),
        F.col("kmv_b").alias("b_kmv_b"),
        F.col("kmv_union").alias("b_kmv_u"),
        F.col("kmv_inter").alias("b_kmv_i"),
    )
    j = served.join(
        batch,
        (served["type_a"] == batch["b_a"])
        & (served["type_b"] == batch["b_b"]),
        "full_outer",
    )
    return j.select(
        F.coalesce(F.col("type_a"), F.col("b_a")).alias("type_a"),
        F.coalesce(F.col("type_b"), F.col("b_b")).alias("type_b"),
        F.col("kmv_a"),
        F.col("kmv_b"),
        F.col("kmv_union"),
        F.col("kmv_inter"),
        (
            F.col("kmv_a").eqNullSafe(F.col("b_kmv_a"))
            & F.col("kmv_b").eqNullSafe(F.col("b_kmv_b"))
            & F.col("kmv_union").eqNullSafe(F.col("b_kmv_u"))
            & F.col("kmv_inter").eqNullSafe(F.col("b_kmv_i"))
        ).alias("matches_batch_face"),
    )


def stream_batch_qsample_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming↔batch parity CERTIFICATE for the consistent-hash
    quantile sampler (VERDICT r13 'Next round' #3): stream the events
    table through streaming/curation.quantile_sample_stream in file
    micro-batches (availableNow) — each batch appending its FIXED
    1/64 hash sample exactly-once — then serve the per-type quantile
    estimates FROM THE STORED SAMPLE next to a matches-batch-face
    flag computed against the est_* arms of events_sampled_quantiles.
    The sample predicate is a fixed hash threshold, so the union of
    per-batch samples IS the sample of the full stream: the served
    quantiles must be row-identical to the batch face in any arrival
    order — a maintainer bug (lost batch, double-applied batch,
    drifted threshold) changes sample membership and breaks the
    values AND the flag (the oracle is the batch face's own SQL
    projected to the est arms + TRUE — the r13 cms_parity_report
    factoring).

    EAGER query: the streaming run executes at call time into a
    session temp dir; stored state grows with stream/64, not with
    batches. At scale the certificate runs against an existing
    sample store, not a re-copy.
    """
    from hrfco_data_pipeline_spark.streaming.curation import (
        quantile_sample_stream,
        run_parity_stream,
    )

    # r16 (guide §2.3): stage only the maintainer's columns.
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    # n_files=2 (r17, verdict item 2): the sample predicate is a fixed
    # per-row hash threshold — the union of per-batch samples is the
    # stream sample under ANY batching; half the availableNow floor.
    table = run_parity_stream(
        spark, ev, quantile_sample_stream, "hrfco_qsample_parity_", n_files=2
    )
    return qsample_parity_report(spark, sf_dir, table)


def qsample_parity_report(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """The serve-vs-batch comparison tail of
    stream_batch_qsample_parity, factored out so the negative-path
    test can point it at a TAMPERED store (a double-appended sample
    duplicates rows, shifting every discrete rank) and watch the flag
    flip (tests/test_r14_operators.py)."""
    from hrfco_data_pipeline_spark.streaming.curation import (
        quantiles_from_samples,
    )

    served = quantiles_from_samples(spark, table)
    # r16 (guide §2.4 — don't compute what you throw away): the flag
    # compares ONLY the est_* sample arms, so the batch-face arm runs
    # just the sample-arm quantiles (the same qsample_filter +
    # _disc_quantiles code events_sampled_quantiles uses) and skips
    # the exact arm — a full per-type sort over ALL events that the
    # comparison never reads. Row set is identical: every sampled
    # type exists in the corpus, so the dropped inner join to the
    # exact arm never filtered a row; values are bit-identical by
    # shared code.
    sample = (
        load_table(spark, sf_dir, "events")
        .filter(qsample_filter(F.col("event_id")))
        .select("event_type", "value")
    )
    batch = _disc_quantiles(
        sample, ["event_type"], [0.5, 0.9, 0.99], "s_"
    ).select(
        F.col("event_type").alias("b_et"),
        F.col("s_n").cast("long").alias("b_ns"),
        F.col("s_p50").alias("b_p50"),
        F.col("s_p90").alias("b_p90"),
        F.col("s_p99").alias("b_p99"),
    )
    j = served.join(
        batch, served["event_type"] == batch["b_et"], "full_outer"
    )
    return j.select(
        F.coalesce(F.col("event_type"), F.col("b_et")).alias("event_type"),
        F.col("n_sample"),
        F.col("est_p50"),
        F.col("est_p90"),
        F.col("est_p99"),
        (
            F.col("n_sample").eqNullSafe(F.col("b_ns"))
            & F.col("est_p50").eqNullSafe(F.col("b_p50"))
            & F.col("est_p90").eqNullSafe(F.col("b_p90"))
            & F.col("est_p99").eqNullSafe(F.col("b_p99"))
        ).alias("matches_batch_face"),
    )


def stream_batch_ks_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming↔batch parity CERTIFICATE for the KS-drift maintainer
    (VERDICT r14 'Next round' #2): stream the events table through
    streaming/curation.ks_drift_stream in file micro-batches
    (availableNow) — each batch appending its own (event_type, value,
    c_t) count partials exactly-once — then serve the per-type-vs-rest
    KS statistics FROM THE STORED PARTIALS and emit them next to a
    matches-batch-face flag computed against events_ks_two_sample.
    Counts merge by plain addition, so the served rows must be
    row-identical to the batch face in any arrival order — a
    maintainer bug (lost batch, double-applied batch, dropped key)
    shifts a count and breaks the exact-rational D statistic AND the
    flag; the driver hash catches both (the oracle is the batch face's
    own SQL + TRUE — the r13 cms_parity_report factoring).

    EAGER query: the streaming run executes at call time into a
    session temp dir; stored state is per-batch (type, value) count
    partials — distinct-value-bounded, never event-bounded. At scale
    the certificate runs against an existing partial store, not a
    re-copy.
    """
    from hrfco_data_pipeline_spark.streaming.curation import (
        ks_drift_stream,
        run_parity_stream,
    )

    # r16 (guide §2.3): stage only the maintainer's columns.
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    # n_files=2 (r17, verdict items 2+3): count partials merge by plain
    # addition — batch-boundary-invariant report, half the availableNow
    # floor (the r16 ks regression sat on this floor, not the KS tail).
    table = run_parity_stream(
        spark, ev, ks_drift_stream, "hrfco_ks_parity_", n_files=2
    )
    return ks_parity_report(spark, sf_dir, table)


def ks_parity_report(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """The serve-vs-batch comparison tail of stream_batch_ks_parity,
    factored out so the negative-path test can point it at a TAMPERED
    store (a re-appended partial double-counts a batch's values,
    shifting both ECDFs) and watch the flag flip
    (tests/test_r15_operators.py)."""
    from hrfco_data_pipeline_spark.streaming.curation import (
        ks_report_from_counts,
    )

    served = ks_report_from_counts(spark, table)
    batch = events_ks_two_sample(spark, sf_dir).select(
        F.col("event_type").alias("b_et"),
        F.col("n_t").alias("b_nt"),
        F.col("n_rest").alias("b_nr"),
        F.col("d_stat").alias("b_d"),
        F.col("d_at_value").alias("b_dv"),
    )
    j = served.join(
        batch, served["event_type"] == batch["b_et"], "full_outer"
    )
    return j.select(
        F.coalesce(F.col("event_type"), F.col("b_et")).alias("event_type"),
        F.col("n_t"),
        F.col("n_rest"),
        F.col("d_stat"),
        F.col("d_at_value"),
        (
            F.col("n_t").eqNullSafe(F.col("b_nt"))
            & F.col("n_rest").eqNullSafe(F.col("b_nr"))
            & F.col("d_stat").eqNullSafe(F.col("b_d"))
            & F.col("d_at_value").eqNullSafe(F.col("b_dv"))
        ).alias("matches_batch_face"),
    )


def stream_batch_scd2_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming↔batch parity CERTIFICATE for the SCD2 dimension-
    history maintainer (VERDICT r14 'Next round' #2): stream the four
    history-relevant order columns through
    streaming/curation.scd2_ingest_stream in file micro-batches
    (availableNow) — O(batch) exactly-once appends — then DERIVE the
    customer priority-regime history ON READ from the accumulated
    store and emit it next to a matches-batch-face flag computed
    against customer_scd2_history. Regime splitting sorts by order
    DATE, not arrival, so the derived history must be row-identical to
    the batch face in any arrival order — a maintainer bug (lost
    batch, double-applied batch, dropped column) perturbs a regime
    boundary and breaks the versions AND the flag (the oracle is the
    batch face's own SQL + TRUE).

    EAGER query: the streaming run executes at call time into a
    session temp dir; stored state is the four-column order log. At
    scale the certificate runs against an existing store, restricted
    to the customers a batch touched (the store partitions by
    cust_key range).
    """
    from hrfco_data_pipeline_spark.streaming.curation import (
        run_parity_stream,
        scd2_ingest_stream,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"
    )
    # n_files=2 (r17, verdict item 2): the store is an append-only
    # order log and the history derives ON READ from the full set —
    # batch-boundary-invariant report, half the availableNow floor.
    table = run_parity_stream(
        spark, orders, scd2_ingest_stream, "hrfco_scd2_parity_", n_files=2
    )
    return scd2_parity_report(spark, sf_dir, table)


def scd2_parity_report(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """The serve-vs-batch comparison tail of stream_batch_scd2_parity,
    factored out so the negative-path test can point it at a TAMPERED
    store (a re-appended batch duplicates order rows, inflating
    n_orders) and watch the flag flip (tests/test_r15_operators.py)."""
    from hrfco_data_pipeline_spark.streaming.curation import (
        scd2_history_from_store,
    )

    served = scd2_history_from_store(spark, table)
    batch = customer_scd2_history(spark, sf_dir).select(
        F.col("cust_key").alias("b_ck"),
        F.col("version").alias("b_v"),
        F.col("priority").alias("b_pr"),
        F.col("valid_from").alias("b_vf"),
        F.col("valid_to").alias("b_vt"),
        F.col("is_current").alias("b_ic"),
        F.col("n_orders").alias("b_no"),
    )
    j = served.join(
        batch,
        (served["cust_key"] == batch["b_ck"])
        & (served["version"] == batch["b_v"]),
        "full_outer",
    )
    return j.select(
        F.coalesce(F.col("cust_key"), F.col("b_ck")).alias("cust_key"),
        F.coalesce(F.col("version"), F.col("b_v")).alias("version"),
        F.col("priority"),
        F.col("valid_from"),
        F.col("valid_to"),
        F.col("is_current"),
        F.col("n_orders"),
        (
            F.col("priority").eqNullSafe(F.col("b_pr"))
            & F.col("valid_from").eqNullSafe(F.col("b_vf"))
            & F.col("valid_to").eqNullSafe(F.col("b_vt"))
            & F.col("is_current").eqNullSafe(F.col("b_ic"))
            & F.col("n_orders").eqNullSafe(F.col("b_no"))
        ).alias("matches_batch_face"),
    )


def stream_batch_lateness_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming↔batch parity CERTIFICATE for the watermark-lateness
    monitor (VERDICT r14 'Next round' #2 — the last pytest-only
    streaming maintainer): stream the events table through
    streaming/curation.lateness_monitor_stream in ORDERED file
    micro-batches (run_parity_stream_ordered — lateness is computed
    against the high-water mark of everything that arrived BEFORE, so
    this certificate, unlike the order-free count/sketch maintainers,
    must replay arrival order), then serve the per-type exact arms
    (n / 10-minute overflow count / max) and the stored-sample
    quantile estimates FROM THE STATE TABLES next to a
    matches-batch-face flag. The exact arms compare against
    events_watermark_lateness_audit; the estimate arms against the
    rank-rule quantiles of the batch-side 1/64 lateness qsample — a
    maintainer bug (lost partial, wrong pre-batch mark, drifted
    sample threshold) breaks the values AND the flag.

    EAGER query: the streaming run executes at call time into a
    session temp dir; stored state is per-batch per-type partials plus
    the 1/64 sample — sketch-sized, never event-bounded. At scale the
    certificate runs against an existing state store fed by the real
    (arrival-ordered) ingest.
    """
    from hrfco_data_pipeline_spark.streaming.curation import (
        lateness_monitor_stream,
        run_parity_stream_ordered,
    )

    # r16 (guide §2.3): stage only the maintainer's columns.
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    table = run_parity_stream_ordered(
        spark, ev, "event_id", lateness_monitor_stream,
        "hrfco_lat_parity_",
    )
    return lateness_parity_report(spark, sf_dir, table)


def lateness_parity_report(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """The serve-vs-batch comparison tail of
    stream_batch_lateness_parity, factored out so the negative-path
    test can point it at a TAMPERED store (a corrupted partial shifts
    the exact arms; a duplicated sample batch shifts every rank) and
    watch the flag flip (tests/test_r15_operators.py)."""
    from hrfco_data_pipeline_spark.streaming.curation import (
        lateness_report_from_state,
    )

    served = lateness_report_from_state(spark, table)
    exact = events_watermark_lateness_audit(spark, sf_dir).select(
        F.col("event_type").alias("b_et"),
        F.col("n").alias("b_n"),
        F.col("n_late_10m").alias("b_nl"),
        F.col("max_us").alias("b_max"),
    )
    ev = load_table(spark, sf_dir, "events")
    lat = _events_lateness_values(ev)
    est = _disc_quantiles(
        lat.filter(qsample_filter(F.col("event_id"))).select(
            "event_type", F.col("lateness_us").alias("value")
        ),
        ["event_type"],
        [0.5, 0.95, 0.99],
        "b_",
    ).select(
        F.col("event_type").alias("s_et"),
        F.col("b_n").cast("long").alias("b_ns"),
        F.col("b_p50").cast("long").alias("b_p50"),
        F.col("b_p95").cast("long").alias("b_p95"),
        F.col("b_p99").cast("long").alias("b_p99"),
    )
    batch = exact.join(
        est, exact["b_et"] == est["s_et"], "left"
    )
    j = served.join(
        batch, served["event_type"] == batch["b_et"], "full_outer"
    )
    return j.select(
        F.coalesce(F.col("event_type"), F.col("b_et")).alias("event_type"),
        F.col("n"),
        F.col("n_late_10m"),
        F.col("max_us"),
        F.col("n_sample"),
        F.col("est_p50_us"),
        F.col("est_p95_us"),
        F.col("est_p99_us"),
        (
            F.col("n").eqNullSafe(F.col("b_n"))
            & F.col("n_late_10m").eqNullSafe(F.col("b_nl"))
            & F.col("max_us").eqNullSafe(F.col("b_max"))
            & F.col("n_sample").eqNullSafe(F.col("b_ns"))
            & F.col("est_p50_us").eqNullSafe(F.col("b_p50"))
            & F.col("est_p95_us").eqNullSafe(F.col("b_p95"))
            & F.col("est_p99_us").eqNullSafe(F.col("b_p99"))
        ).alias("matches_batch_face"),
    )


def orders_priority_psi_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority mix drift per customer market segment: PSI
    between the first and second half of the order-date range over
    the 5 categorical priority buckets — the procurement twin of
    events_psi_by_type ("did the priority mix shift, and in which
    segment?"). Composes the certified psi_from_bucket_counts tail,
    so smoothing, fixed-order IEEE terms, and the sorted-term fold
    are shared with the events face and the streaming monitor.

    Construction: the time split is the integer midpoint of the
    global day range (the PSI convention, one 1-row broadcast);
    buckets are the priority's leading digit (1..5, categorical — no
    decile machinery needed); counts with c1+c2 = 0 are dropped
    sparse and the kernel pads the grid to 10 with identical
    zero-terms, exactly as the DuckDB grid form.

    Scale shape: one orders scan projected to (custkey, bucket, half)
    joined to the customer dim on custkey (Catalyst broadcasts when
    the dim fits; co-shuffle otherwise); the PSI rollup runs on the
    |segments|×|priorities| grid.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    o = orders.select(
        "o_custkey",
        F.substring("o_orderpriority", 1, 1).cast("int").alias("bucket"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
        ).cast("long").alias("day"),
    )
    rng = o.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    mid = F.expr("(dmin + dmax) div 2")
    halves = o.crossJoin(F.broadcast(rng)).select(
        "o_custkey",
        "bucket",
        F.when(F.col("day") <= mid, 1).otherwise(0).alias("first_half"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    seg = halves.join(cust, halves["o_custkey"] == cust["c_custkey"])
    counts = (
        seg.groupBy(
            F.col("c_mktsegment").alias("event_type"), F.col("bucket")
        )
        .agg(
            F.sum("first_half").alias("c1"),
            F.sum(1 - F.col("first_half")).alias("c2"),
        )
        .filter(F.col("c1") + F.col("c2") > 0)
    )
    return psi_from_bucket_counts(counts).select(
        F.col("event_type").alias("mktsegment"),
        "n_first",
        "n_second",
        "psi",
    )


def events_regularity_type_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-mix contingency by user-regularity band (VERDICT r13
    'Next round' #3, de-vacuolized): the bot screen's CV² regularity
    score, cut into four DYADIC bands that are occupied at every SF
    (<7/8 steady, [7/8,1) sub-poisson, [1,9/8) poisson, ≥9/8 bursty —
    the binary is_regular_bot flag fires on NO synthetic user, so a
    flag-keyed contingency would certify an empty class), crossed
    with the event-type mix: do metronomic users generate a different
    action profile than bursty ones? The curation counterpart weights
    behavioral corpora by traffic regularity before training.

    Composes events_bot_regularity_screen for the per-user CV²
    (users with < 10 gaps are excluded there and stay excluded here
    — documented population). lift = (n·grand)/(band_total·
    type_total): integer products ≤ ~1e10 at sf0.1 (8e5× under 2^53,
    the audited int→double ceiling), one double division each side.

    Scale shape: the screen's per-user aggregate reuses the user_id
    shuffle; the contingency join keys on user_id; everything after
    runs on the |bands|×|types| grid (window sums over ≤ 20 rows).
    """
    scr = events_bot_regularity_screen(spark, sf_dir).filter(
        F.col("cv2").isNotNull()
    )
    band = (
        F.when(F.col("cv2") < 0.875, "steady")
        .when(F.col("cv2") < 1.0, "sub_poisson")
        .when(F.col("cv2") < 1.125, "poisson")
        .otherwise("bursty")
    )
    users = scr.select("user_id", band.alias("band"))
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    grid = (
        ev.join(users, "user_id")
        .groupBy("band", "event_type")
        .agg(F.count("*").alias("n"))
    )
    wb = Window.partitionBy("band")
    wt = Window.partitionBy("event_type")
    wall = Window.partitionBy()
    bt = F.sum("n").over(wb)
    tt = F.sum("n").over(wt)
    gt = F.sum("n").over(wall)
    return grid.select(
        "band",
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        (F.col("n").cast("double") / bt.cast("double")).alias(
            "share_in_band"
        ),
        (
            (F.col("n") * gt).cast("double") / (bt * tt).cast("double")
        ).alias("lift_vs_corpus"),
    )


def events_kanon_generalization_ladder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-anonymity generalization ladder: the events_k_anonymity
    screen re-run at four coarsening levels of the quasi-identifier
    grid in ONE scan — L0 (day, $10 band), L1 (ISO week, $50 band),
    L2 (month, $100 band), L3 (month only) — the table a release
    manager reads to pick the cheapest generalization that clears the
    k = 5 re-identification bar ("how much resolution must we give up
    before rows_at_risk dies?"). The privacy cousin of the dedup
    threshold sweep: same one-pass explode-the-ladder shape.

    Exactness: QI keys are string concatenations of exact date
    truncations and integer value bands (floor of the same
    coalesce(value, −1)/width double both engines; week truncation is
    Monday-based in Spark and DuckDB alike); counts are exact longs;
    the share is one rounded division (the parent's convention).

    Scale shape: one events scan exploded ×4 (the ladder is a
    constant), one map-side-combined groupBy on (level, type, qi) —
    cell cardinality is bounded by the L0 grid × 4 — and a
    |levels|·|types| rollup. No windows, no joins.
    """
    ev = load_table(spark, sf_dir, "events")
    lv = F.explode(F.array(*[F.lit(i) for i in range(4)]))
    base = ev.select(
        "event_type", "ts", "value", lv.alias("level")
    )
    cv = F.coalesce(F.col("value"), F.lit(-1.0))
    time_key = (
        F.when(F.col("level") == 0, F.to_date("ts").cast("string"))
        .when(
            F.col("level") == 1,
            F.date_trunc("week", F.col("ts")).cast("date").cast("string"),
        )
        .otherwise(
            F.date_trunc("month", F.col("ts")).cast("date").cast("string")
        )
    )
    band_key = (
        F.when(F.col("level") == 0, F.floor(cv / 10))
        .when(F.col("level") == 1, F.floor(cv / 50))
        .when(F.col("level") == 2, F.floor(cv / 100))
        .cast("string")
    )
    qi = F.concat_ws(
        "|",
        F.coalesce(time_key, F.lit("~")),
        F.coalesce(band_key, F.lit("~")),
    )
    cells = base.groupBy(
        "level", "event_type", qi.alias("qi")
    ).agg(F.count("*").alias("n"))
    return (
        cells.groupBy("level", "event_type")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("n").alias("n_rows"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias(
                "n_singletons"
            ),
            F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0)).alias(
                "rows_at_risk"
            ),
        )
        .select(
            F.col("level").cast("int").alias("level"),
            "event_type",
            F.col("n_groups").cast("long").alias("n_groups"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_singletons").cast("long").alias("n_singletons"),
            F.col("rows_at_risk").cast("long").alias("rows_at_risk"),
            F.round(
                F.col("rows_at_risk").cast("double")
                / F.col("n_rows").cast("double"),
                4,
            ).alias("at_risk_share"),
        )
    )


def session_fragments(ev: DataFrame) -> DataFrame:
    """Gap-maximal session fragments of an event frame: the
    events_sessionize gap rule (30-minute inactivity on
    second-truncated timestamps; lag + cumulative sum per user) run on
    ``ev`` ALONE, each fragment collapsed to (user_id, start_ts,
    end_ts, n_events). The per-batch map step of the streaming
    sessionization maintainer (streaming/curation.
    session_fragment_stream): fragments are mergeable state —
    ``sessions_from_fragments`` reconstitutes the full set's sessions
    from any partition of the events into frames."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = F.timestamp_diff(
        "SECOND",
        F.date_trunc("second", prev),
        F.date_trunc("second", F.col("ts")),
    )
    flagged = ev.withColumn(
        "new_frag",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    frag = flagged.withColumn(
        "frag_id",
        F.sum("new_frag").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return frag.groupBy("user_id", "frag_id").agg(
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        F.count("*").cast("long").alias("n_events"),
    ).select("user_id", "start_ts", "end_ts", "n_events")


def sessions_from_fragments(fr: DataFrame) -> DataFrame:
    """Per-user (n_sessions, max_session_events) from session
    fragments — row-identical to events_sessionize over the union of
    the frames that produced ``fr``, in ANY split of the events across
    frames. Correctness of the merge: adding events only ever SHRINKS
    inter-event gaps, so the union's sessions are coarsenings of
    per-frame fragments; two fragments belong to the same union
    session iff the earlier one's end (or any already-merged
    predecessor's end — hence the running MAX of end_ts, which also
    absorbs time-overlapping fragments from different frames) is
    within the 30-minute gap of the later one's start. Consecutive
    union events that straddle a frame boundary are exactly a
    (fragment end, fragment start) pair, so no union-level merge is
    missed; conversely a merge only fires when such a pair is within
    the gap, so no spurious session forms. Tie order (identical
    start_ts across frames) is irrelevant: a tied fragment always
    merges into its twin via the gap<=0 path.

    Scale shape: one user_id-partitioned window pass + two
    map-side-combined aggs over the FRAGMENT table (<< event count);
    same shuffle key throughout — one exchange."""
    w = Window.partitionBy("user_id").orderBy(
        "start_ts", "end_ts", "n_events"
    )
    prev_end = F.max("end_ts").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    gap = F.timestamp_diff(
        "SECOND",
        F.date_trunc("second", prev_end),
        F.date_trunc("second", F.col("start_ts")),
    )
    flagged = fr.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.sum("n_events").alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.max("n_events").cast("long").alias("max_session_events"),
        )
    )


def stream_batch_session_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming↔batch parity CERTIFICATE for the sessionization
    maintainer — the first certificate whose stored state is neither a
    sketch nor a raw log but COMPACTED MERGEABLE FRAGMENTS: stream the
    events table through streaming/curation.session_fragment_stream in
    file micro-batches (availableNow, order-FREE — the gap-closure
    merge is arrival-order-invariant by construction, unlike the
    lateness monitor), each batch appending its own gap-maximal
    session fragments exactly-once, then serve the per-user
    (n_sessions, max_session_events) rollup FROM THE FRAGMENT STORE
    and emit it next to a matches-batch-face flag computed against
    events_sessionize. A maintainer bug (lost batch, double-applied
    batch, a fragment split/merged wrongly) perturbs a session count
    or a session size and breaks the values AND the flag; the driver
    hash catches both (the oracle is the batch face's own SQL + TRUE).

    EAGER query: the streaming run executes at call time into a
    session temp dir; stored state is fragment-bounded, never
    event-bounded. At scale the certificate runs against an existing
    fragment store, not a re-copy.
    """
    from hrfco_data_pipeline_spark.streaming.curation import (
        run_parity_stream,
        session_fragment_stream,
    )

    # r16 (guide §2.3): stage only the maintainer's columns.
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )
    table = run_parity_stream(
        spark, ev, session_fragment_stream, "hrfco_sess_parity_"
    )
    return session_parity_report(spark, sf_dir, table)


def session_parity_report(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """The serve-vs-batch comparison tail of
    stream_batch_session_parity, factored out so the negative-path
    test can point it at a TAMPERED store (a re-appended fragment
    batch double-counts events inside a session, inflating
    max_session_events) and watch the flag flip
    (tests/test_r15_operators.py)."""
    from hrfco_data_pipeline_spark.streaming.curation import (
        session_report_from_fragments,
    )

    served = session_report_from_fragments(spark, table)
    batch = events_sessionize(spark, sf_dir).select(
        F.col("user_id").alias("b_uid"),
        F.col("n_sessions").alias("b_ns"),
        F.col("max_session_events").alias("b_mx"),
    )
    j = served.join(batch, served["user_id"] == batch["b_uid"], "full_outer")
    return j.select(
        F.coalesce(F.col("user_id"), F.col("b_uid")).alias("user_id"),
        F.col("n_sessions"),
        F.col("max_session_events"),
        (
            F.col("n_sessions").eqNullSafe(F.col("b_ns"))
            & F.col("max_session_events").eqNullSafe(F.col("b_mx"))
        ).alias("matches_batch_face"),
    )


def _brand_itemset3_base(spark: SparkSession, sf_dir: str):
    """Frequent 3-itemset mining (Apriori level 3) over order baskets:
    brand triples co-occurring in >= 0.35% of orders, with the triple
    support, the three singleton supports, and all three sub-pair
    supports; returns (enriched frame, n_orders). Extends the
    market-basket family (parts_copurchase_lift = level 2) to the
    candidate-generation regime where naive enumeration dies at scale.

    Plan shape IS the Apriori algorithm, with the classic memory
    contract made explicit: the L1/L2 candidate tables are BOUNDED
    METADATA (<= 25 brands, <= C(25,2) = 300 pairs — the brand grid is
    a constant), so they are collected once and re-enter the plan as
    literal frames / isin filters (the Lloyd-centroid convention; the
    first draft broadcast them as live subplans and re-embedded the
    base scan 116x — r15 plan census). The big side is touched exactly
    three times — the unavoidable embeds of a within-basket 3-way
    self-join (the certified pair-table precedent): (1) pair instances
    a<b, (2) their extension with c>b, both shuffled ONCE on the
    basket key, L2-pruned BEFORE the extension and BEFORE the count —
    by support monotonicity this drops no frequent triple, but at
    partkey granularity it is the difference between counting
    |basket|^3 candidates and only L2-closed ones. All counts are
    exact longs; minsup is the INTEGER test 10000*n >= 35*n_orders
    (0.35% — measured selective AND non-vacuous at all three SFs:
    771/2217, 796/2300, 423/2300 triples pass); the one double
    division (support share) is round()ed per house convention.

    At 100 TB with partkey-level items the same plan holds with L2
    kept distributed (broadcast if it fits, shuffle join otherwise) —
    the collect here is a test-grid simplification the docstring
    contract makes auditable, not a hidden driver loop.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )

    # the (order, brand) basket substrate MATERIALIZES once: its six
    # consumers (three bounded-metadata collects + the three-way
    # within-basket self-join) would otherwise each re-run the
    # scan+join+distinct (measured 15.7 s cold at sf0.1 -> 11.4 after)
    ob = materialized(
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select(
            F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b")
        )
        .distinct()
    )
    # bounded metadata pass: basket count + L1 + L2
    n_orders, = ob.agg(F.countDistinct("ok")).first()
    c1 = {r.b: r.n1 for r in ob.groupBy("b").agg(
        F.count("*").alias("n1")).collect()}
    l1 = sorted(b for b, n in c1.items() if 10000 * n >= 35 * n_orders)
    obf = ob.filter(F.col("b").isin(l1))
    a, bb = obf.alias("a"), obf.alias("b")
    # r16 tried-and-REVERTED: materializing pair_inst (it is consumed
    # by the C2 collect AND the L3 extension join) measured 4.5/4.6 ->
    # 6.0/5.1 s warm in an interleaved A/B at sf0.1 — the pair
    # fan-out table is ~|baskets|·C(brands,2) rows and the checkpoint
    # write costs more than re-running the (cheap, checkpoint-fed)
    # self-join. Both consumers re-embed the join deliberately.
    pair_inst = a.join(
        bb,
        (F.col("a.ok") == F.col("b.ok")) & (F.col("a.b") < F.col("b.b")),
    ).select(
        F.col("a.ok").alias("ok"),
        F.col("a.b").alias("ia"),
        F.col("b.b").alias("ib"),
    )
    c2 = {
        (r.ia, r.ib): r.n2
        for r in pair_inst.groupBy("ia", "ib")
        .agg(F.count("*").alias("n2"))
        .collect()
    }
    l2 = {p: n for p, n in c2.items() if 10000 * n >= 35 * n_orders}
    l2_rows = [(ia, ib) for ia, ib in sorted(l2)]
    l2_df = spark.createDataFrame(l2_rows, "ia string, ib string")
    # Apriori candidate pruning: (a,b) instances must be frequent ...
    pruned = pair_inst.join(F.broadcast(l2_df), ["ia", "ib"]).alias("p")
    cc = obf.alias("c")
    tri_inst = pruned.join(
        cc,
        (F.col("p.ok") == F.col("c.ok")) & (F.col("p.ib") < F.col("c.b")),
    ).select("ia", "ib", F.col("c.b").alias("ic"))
    # ... and so must (a,c) and (b,c), BEFORE counting
    l2ac = l2_df.select("ia", F.col("ib").alias("ic"))
    l2bc = l2_df.select(F.col("ia").alias("ib"), F.col("ib").alias("ic"))
    tri_pruned = tri_inst.join(F.broadcast(l2ac), ["ia", "ic"]).join(
        F.broadcast(l2bc), ["ib", "ic"]
    )
    c3 = tri_pruned.groupBy("ia", "ib", "ic").agg(
        F.count("*").alias("n_abc")
    )
    l3 = c3.filter(F.lit(10000) * F.col("n_abc") >= F.lit(35 * n_orders))
    # attach the collected supports as literal lookup expressions
    n1_map = F.create_map(
        *[F.lit(x) for b in l1 for x in (b, c1[b])]
    )
    l2_map = F.create_map(
        *[F.lit(x) for (ia, ib), n in sorted(l2.items())
          for x in (f"{ia}|{ib}", n)]
    )
    pair_n = lambda x, y: l2_map[F.concat_ws("|", F.col(x), F.col(y))]  # noqa: E731
    enriched = l3.select(
        "ia",
        "ib",
        "ic",
        F.col("n_abc").cast("long").alias("n_abc"),
        n1_map[F.col("ia")].cast("long").alias("n_a"),
        n1_map[F.col("ib")].cast("long").alias("n_b"),
        n1_map[F.col("ic")].cast("long").alias("n_c"),
        pair_n("ia", "ib").cast("long").alias("n_ab"),
        pair_n("ia", "ic").cast("long").alias("n_ac"),
        pair_n("ib", "ic").cast("long").alias("n_bc"),
    )
    return enriched, n_orders


def brand_itemset3_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemset mining (Apriori level 3) over order baskets
    — the certified face of _brand_itemset3_base (full design notes
    there): brand triples clearing the 0.35% integer minsup, with the
    triple support, the three singleton supports, and the weakest
    sub-pair support (the Apriori bound the candidate survived)."""
    enriched, n_orders = _brand_itemset3_base(spark, sf_dir)
    return enriched.select(
        F.col("ia").alias("brand_a"),
        F.col("ib").alias("brand_b"),
        F.col("ic").alias("brand_c"),
        "n_abc",
        "n_a",
        "n_b",
        "n_c",
        F.least("n_ab", "n_ac", "n_bc").alias("min_pair_support"),
        F.round(
            F.col("n_abc").cast("double") / F.lit(float(n_orders)), 6
        ).alias("support_share"),
    )
