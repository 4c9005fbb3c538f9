"""Physical-plan regression guards for flagship queries.

PLANS.md is the human-readable audit; these assertions pin the
load-bearing plan properties in CI so an optimizer-hostile refactor
(lost pushdown, dropped broadcast, surprise exchange) fails fast
instead of surfacing as a 100× regression at scale.
"""

from __future__ import annotations

from hrfco_data_pipeline_spark.plans import hydro, llm, relational

SF = "/root/testdata/sf0.01"
TESTDATA = SF.rsplit("/", 1)[0]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_q6_scan_pushdown_and_pruning(spark):
    s = _formatted(relational.q6_forecast_revenue(spark, SF))
    # filters reach the parquet scan...
    assert "PushedFilters" in s and "l_shipdate" in s.split("PushedFilters", 1)[1][:400]
    # ...and the scan reads only the referenced columns, not the table
    read_schema = s.split("ReadSchema", 1)[1][:300]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema


def test_q3_customer_dim_broadcast(spark):
    s = _plan(relational.q3_shipping_priority(spark, SF))
    assert "BroadcastHashJoin" in s
    # the fact-fact join must NOT be broadcast at scale: orderkey side
    # stays a shuffle join under the 64 MB threshold at real SFs; at
    # sf0.01 AQE may still broadcast it, so only assert the dim side.


def test_hydro_hot_path_has_no_data_shuffle(spark):
    s = _plan(hydro.alerts(spark, SF))
    # allowed: the broadcast of the stations dim, and the deliberate
    # round-robin input spread (sources/synthetic.py core-spread for
    # single-split scans). NOT allowed: any hash/range exchange — the
    # classify path must stay shuffle-free.
    stripped = s.replace("BroadcastExchange", "").replace(
        "Exchange RoundRobinPartitioning", ""
    )
    assert "Exchange" not in stripped
    assert "BroadcastHashJoin" in s  # stations dim join


def test_exact_dedup_partial_aggregation(spark):
    s = _plan(llm.dedup_exact_docs(spark, SF))
    # two HashAggregate nodes (partial + final) around one exchange:
    # map-side combine is what keeps the shuffle tiny at 100 TB
    assert s.count("HashAggregate") >= 2
    assert s.count("Exchange") >= 1


def test_tfidf_window_group_limit_before_shuffle(spark):
    s = _plan(llm.docs_tfidf_top_terms(spark, SF))
    # rank<=3 must be applied partially before the doc_id exchange
    assert "WindowGroupLimit" in s


def test_top200_is_take_ordered_not_global_sort(spark):
    s = _plan(relational.recent_events_top200(spark, SF))
    assert "TakeOrderedAndProject" in s
    assert "Sort [" not in s  # no global sort node


def test_q7_dims_broadcast_one_fact_shuffle(spark):
    s = _plan(relational.q7_volume_shipping(spark, SF))
    # supplier/customer/nation all broadcast; the only shuffle joins are
    # lineitem⋈orders (orderkey) — count the broadcast joins to pin it
    assert s.count("BroadcastHashJoin") >= 4


def test_q13_left_join_preserves_zero_order_customers(spark):
    out = {r.c_count: r.custdist for r in
           relational.q13_customer_order_distribution(spark, SF).collect()}
    # every customer appears exactly once across the distribution
    assert sum(out.values()) == 1500


def test_q15_ties_by_equality_not_limit(spark):
    s = _plan(relational.q15_top_supplier(spark, SF))
    assert "GlobalLimit" not in s  # ties must all survive


def test_q21_semi_anti_join_shapes(spark):
    s = _plan(relational.q21_waiting_suppliers(spark, SF))
    assert "LeftSemi" in s and "LeftAnti" in s


def test_bloom_probe_is_broadcast_semi_chain(spark):
    """The Bloom membership test must stay k map-side broadcast
    left-semi joins — a shuffle here re-introduces the 3x-explode
    regrouping this plan exists to avoid."""
    s = _formatted(llm.docs_bloom_decontaminate(spark, SF))
    assert s.count("BroadcastHashJoin LeftSemi") >= 3
    assert "CartesianProduct" not in s


def test_semantic_dedup_joins_on_cell_only(spark):
    """Within-cell pair generation must be an equi-join on the cell id
    (never a corpus cross join); the final labeling is a left join."""
    s = _formatted(llm.semantic_dedup_keep(spark, SF))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin Inner" not in s


def test_dsir_bucket_table_broadcasts(spark):
    """The 256-row global bucket-count table joins back by broadcast —
    constant-size at any corpus scale."""
    s = _formatted(llm.docs_dsir_weights(spark, SF))
    assert "BroadcastHashJoin" in s


def test_simjoin_prefix_shuffles_int64_keys(spark):
    """The PPJoin pipeline must carry hashed (long) shingles — a
    string shingle in any exchange means the at-source hashing
    regressed."""
    s = _formatted(llm.docs_simjoin_prefix(spark, SF))
    assert "xxhash64" in s
    assert "InMemoryTableScan" in _plan(llm.docs_simjoin_prefix(spark, SF))


def test_token_budget_single_ranking_window(spark):
    s = _formatted(llm.docs_select_token_budget(spark, SF))
    # one global window (documented small-scale form); no extra sort
    # beyond the window's own
    assert "CartesianProduct" not in s


def test_session_window_single_user_shuffle(spark):
    s = _plan(relational.events_session_window_agg(spark, SF))
    # the native session-window agg shuffles once on user_id and
    # merges sessions inside the aggregate — no second data exchange
    stripped = s.replace("BroadcastExchange", "").replace(
        "Exchange RoundRobinPartitioning", ""
    )
    assert stripped.count("Exchange hashpartitioning") == 1


def test_histogram_quantiles_partial_aggs(spark):
    s = _plan(relational.events_histogram_quantiles(spark, SF))
    # the daily rollup and its merge must both partial-aggregate
    # map-side — bin keys only ever shuffle as aggregate states
    assert "partial_" in s.lower() or "HashAggregate" in s
    # crossing pick happens on the merged ≤512-row table: the scan of
    # raw events appears exactly once per explode-free branch
    assert s.count("Scan parquet") <= 2


def test_pagerank_materialized_iterations(spark):
    # the promoted form cuts lineage per iteration: the final plan
    # must NOT contain the full upstream join tree 5× (that's the
    # exponential-lazy-plan failure measured in PLANS.md history)
    df = relational.nation_trade_pagerank(spark, SF)
    s = _plan(df)
    assert s.count("Scan parquet") <= 2  # leaf rank table, not 5 rebuilds


def test_backlog_curve_report_sized_window(spark):
    s = _plan(relational.orders_open_backlog_curve(spark, SF))
    # the running sum rides the post-aggregate delta table: exactly
    # one Window node, fed by an aggregate, not by raw facts
    assert s.count("Window") == 1


def test_triangles_no_cartesian(spark):
    s = _plan(relational.copurchase_triangles(spark, SF, materialize=False))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def _single_partition_exchanges_bounded(plan: str):
    """Every Exchange SinglePartition must feed from an aggregate
    (bounded rows: a <=n_buckets bucket-stats table or the hash-capped
    boundary sample) — never sort/shuffle the raw input through one
    task. Returns offending child lines."""
    lines = plan.splitlines()
    bad = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        if "Aggregate" not in child:
            bad.append(child.strip())
    return bad


def test_ranked_cumsum_queries_have_no_global_sort(spark):
    """r4 verdict's top perf weakness: seven queries ran unpartitioned
    Window.orderBy over tables that grow with the data. All now route
    through operators/ranking.ranked_cumsum — per-bucket windows behind
    a hash exchange on the bucket id; the only single-partition work
    left is aggregate-bounded."""
    rebuilt = [
        llm.docs_select_token_budget(spark, SF),
        llm.docs_vocab_growth(spark, SF),
        relational.customer_ltv_deciles(spark, SF),
        relational.events_conversion_latency(spark, SF),
        relational.lineitem_pareto_abc(spark, SF),
        relational.customer_rfm_segments(spark, SF),
        relational.events_user_lorenz_curve(spark, SF),
        # r11: the MW/KS distinct-value cumulatives (r10 verdict #3)
        relational.events_mann_whitney(spark, SF),
        relational.events_ks_two_sample(spark, SF),
    ]
    import re

    for df in rebuilt:
        s = _plan(df)
        # bucket exchange present — _pid alone (global mode) or
        # partition_cols + _pid (partitioned mode, e.g. KS's
        # hashpartitioning(event_type, _pid))
        assert re.search(r"hashpartitioning\([^)]*_pid", s)
        bad = _single_partition_exchanges_bounded(s)
        assert not bad, f"unbounded single-partition exchange above: {bad}"


def test_resample_10min_parse_not_duplicated_into_scan_stage(spark):
    """r6: PushDownPredicates used to push the null filters below the
    input repartition, re-inlining the timestamp parse and the double
    coercion into the single-split scan stage (~2 s of the ~4 s warm
    time at sf0.1). The no_pushdown barrier pins both filters above
    the projection: the optimized plan must evaluate the parse exactly
    once, and nothing below the Repartition may reference it."""
    # sf0.1: below functions/hints.SPREAD_MIN_BYTES (the sf0.01 events)
    # the scan is not spread, and there is no Repartition to key on
    df = hydro.resample_10min(spark, f"{TESTDATA}/sf0.1")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("gettimestamp") == 1, opt.count("gettimestamp")
    assert "Repartition" in opt, (
        "resample_10min lost its input Repartition — the parse-locality "
        "assertions below key on it:\n" + opt
    )
    below_repart = opt.split("Repartition", 1)[1]
    assert "gettimestamp" not in below_repart
    assert "rlike" not in below_repart.lower()


# Every registry query whose plan routes a derived-column filter
# through functions/hints.no_pushdown (all in plans/hydro.py),
# with its triaged optimizer-duplication ceiling: the residual
# optimized-minus-analyzed count of expensive expressions that
# remains WITH the shields working (SCALE.md "r6 follow-up" —
# mechanism-3 noise: group keys / multi-branch consumers inlining
# the synthetic-source ymdhm derivation, a non-issue on stored
# production columns). Before shielding, the pushdown mechanism
# measured +32 (twa) to +106 (rating_residuals) — so a broken
# barrier blows far past these ceilings.
SHIELDED_DUP_CEILING = [
    ("hydro_sensor_gaps", hydro.sensor_gaps, 5),
    ("hydro_resample_10min", hydro.resample_10min, 4),
    ("hydro_rating_curve", hydro.rating_curve, 2),
    ("hydro_alert_episodes", hydro.alert_episodes, 6),
    ("hydro_daily_extremes", hydro.daily_extremes, 8),
    ("hydro_threshold_margin", hydro.threshold_margin, 5),
    ("hydro_rise_forecast", hydro.rise_forecast, 8),
    ("hydro_station_uptime", hydro.station_uptime, 10),
    ("hydro_stage_exceedance", hydro.stage_exceedance_curve, 2),
    ("hydro_return_periods", hydro.return_periods, 8),
    ("hydro_baseflow_separation", hydro.baseflow_separation, 4),
    ("hydro_rating_residuals", hydro.rating_curve_residuals, 4),
    ("hydro_twa_daily_mean", hydro.time_weighted_daily_mean, 4),
]


def test_shielded_queries_hold_their_duplication_ceiling(spark):
    """The no_pushdown barrier (functions/hints.py) relies on
    shuffle() staying flagged nondeterministic — an optimizer
    implementation detail a Spark upgrade could silently change,
    reintroducing per-row duplication of the parse/format derivations
    in every shielded hydro query (only resample_10min had a plan
    guard before this). Ratchet, not zero: assert each query's
    optimized-vs-analyzed expensive-expression delta (counting rules
    of tools/audit_expr_duplication.py) stays at or below its triaged
    baseline. A pushdown regression lands an order of magnitude above
    the ceiling, not one or two over — if a delta creeps past by a
    hair, re-triage per SCALE.md before touching the ceiling."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "audit_expr_duplication",
        os.path.join(
            os.path.dirname(__file__), "..", "tools", "audit_expr_duplication.py"
        ),
    )
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)

    offenders = {}
    for name, fn, ceiling in SHIELDED_DUP_CEILING:
        qe = fn(spark, SF)._jdf.queryExecution()
        a = audit.counts(qe.analyzed().toString())
        o = audit.counts(qe.optimizedPlan().toString())
        delta = sum(o[t] - a[t] for t in audit.EXPENSIVE if o[t] > a[t])
        if delta > ceiling:
            offenders[name] = (delta, ceiling)
    assert not offenders, (
        "optimizer duplication grew past the triaged ceiling "
        f"(no_pushdown barrier broke?) {{name: (delta, ceiling)}}: {offenders}"
    )


def test_kmv_setops_bounded_windows_no_cartesian(spark):
    """KMV sketch: both row_number windows must stay partitioned (the
    bucket pre-pass keys on (event_type, b), so no task sorts more
    than ~distinct/32 rows), every join is keyed or a broadcast of a
    sketch-sized side, and no CartesianProduct appears."""
    s = _plan(relational.events_kmv_setops(spark, SF))
    assert "CartesianProduct" not in s
    # the two-phase bucket window runs first: its partition spec keys
    # on the hash bucket, visible as a hashpartitioning on (type, b)
    assert "hashpartitioning" in s
    import re

    for spec in re.findall(r"Window \[row_number\(\)[^\]]*\], \[([^\]]*)\]", s):
        # never an unpartitioned global sort: per-type windows key on
        # event_type (+ bucket), the union-merge window on the pair
        assert "event_type" in spec or "type_a" in spec


def test_scd2_single_exchange_reused_across_windows(spark):
    """customer_scd2_history keys every stage (lag flag, version sum,
    regime collapse, validity lead) on o_custkey, so the executed plan
    must contain exactly ONE hash-partitioning exchange — the
    partitioning is reused end-to-end (a custkey-partitioned groupBy
    on (custkey, version) needs no re-shuffle). A second exchange
    means a stage stopped lining up and the 100 TB run re-shuffles the
    whole dimension."""
    import re

    s = _plan(relational.customer_scd2_history(spark, SF))
    assert "CartesianProduct" not in s
    assert len(re.findall(r"Exchange hashpartitioning", s)) == 1


def test_compaction_plan_is_metadata_sized(spark):
    """lineitem_compaction_plan must collapse to file metadata before
    any window: the first aggregate is partial (map-side combine on
    (part_year, file_id)), the scan reads only the four referenced
    columns, and the packing window partitions by part_year (never a
    global sort of the manifest)."""
    s = _formatted(relational.lineitem_compaction_plan(spark, SF))
    read_schema = s.split("ReadSchema", 1)[1][:300]
    assert "l_orderkey" in read_schema and "l_returnflag" not in read_schema
    p = _plan(relational.lineitem_compaction_plan(spark, SF))
    assert "partial_sum" in p or "partial" in p.lower()
    import re

    for spec in re.findall(r"Window \[sum\([^\]]*windowspecdefinition\(([^,]*)", p):
        assert "part_year" in spec


def test_wire_dedup_replay_single_scan_no_union(spark):
    """The redelivery fan-out must stay the in-place copies-sequence
    explode: ONE source scan, no Union re-embedding the parse chain
    (SCALE.md §r13 — the union form evaluated the whole upstream
    projection twice)."""
    from hrfco_data_pipeline_spark.plans import wire

    s = _plan(wire.wire_dedup_replay(spark, SF))
    assert "Union" not in s
    assert s.count("Scan parquet") == 1
    assert "Generate explode" in s


def test_supplier_share_drift_broadcasts_part_dim(spark):
    s = _plan(relational.supplier_share_drift(spark, SF))
    assert "BroadcastHashJoin" in s


def test_bot_screen_single_scan_single_exchange(spark):
    """One scan; the user-key window and the user-key aggregate share
    the same partitioning, so exactly one hash exchange appears."""
    s = _plan(relational.events_bot_regularity_screen(spark, SF))
    assert s.count("Scan parquet") == 1
    stripped = s.replace("Exchange RoundRobinPartitioning", "")
    assert stripped.count("Exchange") == 1


def test_no_pushdown_rebuild_reuses_generated_code(spark):
    """``no_pushdown`` carries a fixed shuffle seed, so a second build of
    the same query generates the same code and compiles nothing. An
    unseeded shuffle got a fresh seed, which Spark writes into the
    generated code, at every analysis (4 new classes per repeat of
    resample_10min)."""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    hydro.resample_10min(spark, f"{TESTDATA}/sf0.001").collect()
    before = compiled.getCount()
    hydro.resample_10min(spark, f"{TESTDATA}/sf0.001").collect()
    assert compiled.getCount() == before


def test_small_scan_spread_only_to_more_partitions(monkeypatch):
    """``hints.parallelize_small_scan`` decides from the scan's file
    index: it spreads a scan of at least ``SPREAD_MIN_BYTES`` that Spark
    splits under-wide to defaultParallelism partitions, never to a
    count at or below the scan's own (no 1-way exchange on local[1]),
    leaves a scan split at least half as wide as the parallelism alone,
    and leaves a scan below the size floor, or a frame with no file
    scan, alone."""
    from types import SimpleNamespace

    from hrfco_data_pipeline_spark.functions import hints

    floor = hints.SPREAD_MIN_BYTES
    scan = {}
    monkeypatch.setattr(hints, "file_indexes", lambda df: [scan["index"]] if scan else [])
    monkeypatch.setattr(hints, "_scan_splits", lambda df, size, files: scan["splits"])

    class Frame:
        def __init__(self, cores):
            self.sparkSession = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=cores))

        def repartition(self, n):
            return n

    def spread(splits, cores, size=floor):
        scan.update(index=SimpleNamespace(sizeInBytes=lambda: size, inputFiles=lambda: ["f"]), splits=splits)
        frame = Frame(cores)
        got = hints.parallelize_small_scan(frame)
        return None if got is frame else got

    for cores in range(1, 17):
        for splits in range(1, 20):
            got = spread(splits, cores)
            if got is not None:  # spread: to the parallelism, and wider
                assert got == cores > splits, (splits, cores)
            if splits >= max(2, cores // 2):  # wide enough already
                assert got is None, (splits, cores)
            assert spread(splits, cores, size=floor - 1) is None  # below the floor
        if cores > 1:  # a single-split scan at the floor spreads
            assert spread(1, cores) == cores
    scan.clear()  # no file scan
    frame = Frame(8)
    assert hints.parallelize_small_scan(frame) is frame


def test_scan_splits_match_spark(spark):
    """``hints._scan_splits`` predicts the partitions Spark's file scan
    makes, for every driver table at every scale factor: the spread
    decision reads it instead of planning the scan (``df.rdd``)."""
    from hrfco_data_pipeline_spark.functions.hints import _scan_splits, file_indexes
    from hrfco_data_pipeline_spark.sources.tables import TABLES, load_table

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        for name in TABLES:
            df = load_table(spark, f"{TESTDATA}/{sf}", name)
            (index,) = file_indexes(df)
            got = _scan_splits(df, index.sizeInBytes(), len(index.inputFiles()))
            assert got == df.rdd.getNumPartitions(), (sf, name)
