"""Round-14 operators: streaming↔batch parity certificates for the
BM25 index, KMV sketch, and hash-sample quantile maintainers.

Each certificate serves its report FROM THE STREAMING STORE next to a
matches-batch-face flag; these tests pin (a) the positive path — a
correctly-built store reads all-true — and (b) NON-VACUOUSNESS: a
tampered store (double-applied batch / shifted hashes) flips the flag,
so the green driver row certifies real parity, not a constant TRUE
(the r13 cms/psi tampered-store convention).
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.001"


def test_bm25_parity_flag_flips_on_tampered_index(spark, tmp_path):
    """Double-appended postings double tf AND df — every score and the
    flag must break; the exactly-once store reads all-true."""
    from hrfco_data_pipeline_spark.plans.llm import (
        bm25_parity_report,
        bm25_postings,
    )
    from hrfco_data_pipeline_spark.sources.tables import load_table
    from hrfco_data_pipeline_spark.streaming.curation import _append_merge

    docs = load_table(spark, SF, "documents")
    table = str(tmp_path / "store")
    _append_merge(spark, table, bm25_postings(docs), 0)
    ok = bm25_parity_report(spark, SF, table).collect()
    assert ok and all(r.matches_batch_face for r in ok)

    _append_merge(spark, table, bm25_postings(docs), 1)  # double-apply
    bad = bm25_parity_report(spark, SF, table).collect()
    assert not all(r.matches_batch_face for r in bad)


def test_kmv_parity_flag_flips_on_shifted_hashes(spark, tmp_path):
    """Bottom-k union dedups identical hashes, so a replayed partial is
    a no-op BY DESIGN — the tamper that must flip the flag is a
    corrupted partial (shifted hashes change the kth statistic)."""
    from hrfco_data_pipeline_spark.plans.relational import (
        kmv_parity_report,
    )
    from hrfco_data_pipeline_spark.sources.tables import load_table
    from hrfco_data_pipeline_spark.streaming.curation import (
        _append_merge,
        kmv_batch_partials,
    )

    ev = load_table(spark, SF, "events")
    table = str(tmp_path / "store")
    _append_merge(spark, table, kmv_batch_partials(ev, 0), 0)
    ok = kmv_parity_report(spark, SF, table).collect()
    assert ok and all(r.matches_batch_face for r in ok)

    # replayed identical partial: lossless merge means still all-true
    _append_merge(spark, table, kmv_batch_partials(ev, 1), 1)
    still = kmv_parity_report(spark, SF, table).collect()
    assert still and all(r.matches_batch_face for r in still)

    # corrupted partial: every hash shifted down by 1 — new minima
    corrupt = kmv_batch_partials(ev, 2).withColumn(
        "h", F.greatest(F.col("h") - 1, F.lit(0))
    )
    _append_merge(spark, table, corrupt, 2)
    bad = kmv_parity_report(spark, SF, table).collect()
    assert not all(r.matches_batch_face for r in bad)


def test_qsample_parity_flag_flips_on_double_applied_batch(spark, tmp_path):
    """A double-appended sample duplicates rows: n_sample doubles and
    every discrete rank shifts — the flag must flip."""
    from hrfco_data_pipeline_spark.plans.relational import (
        qsample_parity_report,
    )
    from hrfco_data_pipeline_spark.sources.tables import load_table
    from hrfco_data_pipeline_spark.streaming.curation import (
        _append_merge,
        quantile_sample_batch,
    )

    ev = load_table(spark, SF, "events")
    table = str(tmp_path / "store")
    _append_merge(spark, table, quantile_sample_batch(ev, 0), 0)
    ok = qsample_parity_report(spark, SF, table).collect()
    assert ok and all(r.matches_batch_face for r in ok)

    _append_merge(spark, table, quantile_sample_batch(ev, 1), 1)
    bad = qsample_parity_report(spark, SF, table).collect()
    assert not all(r.matches_batch_face for r in bad)


def test_bm25_streaming_certificate_end_to_end(spark):
    """The full availableNow certificate run at sf0.001: real file
    micro-batches through bm25_index_stream, served from the store —
    every row true (the driver-shaped positive path)."""
    from hrfco_data_pipeline_spark.plans.llm import stream_batch_bm25_parity

    rows = stream_batch_bm25_parity(spark, SF).collect()
    assert rows and all(r.matches_batch_face for r in rows)


def _write_docs(spark, tmp_path, rows, name="docs_tbl"):
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = str(tmp_path / name)
    docs.write.parquet(f"{out}/documents.parquet")
    return out


def test_chaining_sweep_monotone_and_consistent_with_audit(spark):
    """n_pairs / drops are non-increasing in the threshold; chained
    drops dominate pairwise per row; the 0.5 row equals the parent
    single-threshold audit (composition identity)."""
    from hrfco_data_pipeline_spark.plans.llm import (
        dedup_chaining_audit,
        dedup_chaining_threshold_sweep,
    )

    rows = {
        r.threshold: r
        for r in dedup_chaining_threshold_sweep(spark, SF).collect()
    }
    assert set(rows) == {0.3, 0.5, 0.7}
    for t in rows:
        r = rows[t]
        assert r.n_dropped_chained >= r.n_dropped_pairwise
        assert r.n_chain_only == r.n_dropped_chained - r.n_dropped_pairwise
    for lo, hi in ((0.3, 0.5), (0.5, 0.7)):
        assert rows[lo].n_pairs >= rows[hi].n_pairs
        assert rows[lo].n_dropped_pairwise >= rows[hi].n_dropped_pairwise
        assert rows[lo].n_dropped_chained >= rows[hi].n_dropped_chained
    parent = dedup_chaining_audit(spark, SF).collect()[0]
    mid = rows[0.5]
    assert (mid.n_pairs, mid.n_dropped_pairwise, mid.n_dropped_chained,
            mid.n_components, mid.max_component_size) == (
        parent.n_pairs, parent.n_dropped_pairwise,
        parent.n_dropped_chained, parent.n_components,
        parent.max_component_size,
    )


def test_chaining_sweep_synthetic_chain(spark, tmp_path):
    """A hand-built A~B~C chain (A and C dissimilar): the closure
    drops B and C behind A, the pairwise shadow only counts distinct
    doc_b's — the chain-only gap is visible at the loose threshold and
    the docs fall apart at the tight one."""
    from hrfco_data_pipeline_spark.plans.llm import (
        dedup_chaining_threshold_sweep,
    )

    # 12-token shared runs: j(1,2) = j(2,3) = 8/21 ~ 0.381 (clears
    # 0.3, not 0.5); j(1,3) = 0 -> a pure A~B~C chain at 0.3
    shared1 = " ".join(f"w{i}" for i in range(12))
    shared2 = " ".join(f"v{i}" for i in range(12))
    rows = [
        (1, shared1 + " a1", "en", "s", 1),
        (2, shared1 + " " + shared2, "en", "s", 1),
        (3, shared2 + " c1", "en", "s", 1),
    ]
    out = _write_docs(spark, tmp_path, rows)
    got = {
        r.threshold: r
        for r in dedup_chaining_threshold_sweep(spark, out).collect()
    }
    loose = got[0.3]
    # A~B and B~C clear 0.3; A~C does not -> one component {1,2,3}
    assert loose.n_pairs == 2
    assert loose.n_dropped_pairwise == 2  # doc_b in {2, 3}
    assert loose.n_dropped_chained == 2
    assert loose.n_components == 1 and loose.max_component_size == 3


def test_hydro_station_ewma_float_recompute(spark):
    """ewma_prev recomputed in Python doubles with the SAME op order
    ((e + m) * 0.5): the engine folds in IEEE doubles, so a Python
    float replay is bit-identical — equality is exact, not
    approximate (the means are non-dyadic, so a rational recompute
    would diverge by design)."""
    from hrfco_data_pipeline_spark.plans.hydro import station_ewma_chart

    rows = station_ewma_chart(spark, SF).collect()
    by_st = {}
    for r in rows:
        by_st.setdefault(r.wlobscd, []).append(r)
    assert by_st
    for st, rs in by_st.items():
        rs.sort(key=lambda r: r.day)
        e = None
        for r in rs:
            if e is None:
                assert r.ewma_prev is None
            else:
                assert r.ewma_prev == e, (st, r.day)
                expected_flag = r.daily_mean > 1.25 * r.ewma_prev
                assert r.is_high == expected_flag
            m = r.daily_mean
            e = m if e is None else (e + m) * 0.5


def test_regularity_mix_shares_and_lift(spark):
    """Shares sum to 1 within each band; the count-weighted average
    lift over each band is exactly 1 (definition identity)."""
    from hrfco_data_pipeline_spark.plans.relational import (
        events_regularity_type_mix,
    )

    rows = events_regularity_type_mix(spark, SF).collect()
    assert rows
    bands = {}
    for r in rows:
        bands.setdefault(r.band, []).append(r)
    grand = sum(r.n_events for r in rows)
    for band, rs in bands.items():
        bt = sum(r.n_events for r in rs)
        assert abs(sum(r.share_in_band for r in rs) - 1.0) < 1e-12
        for r in rs:
            tt = sum(
                x.n_events for x in rows if x.event_type == r.event_type
            )
            assert r.lift_vs_corpus == (r.n_events * grand) / (bt * tt)


def test_crosssnap_dup_trend_partitions_corpus(spark):
    """Statuses partition the CURRENT corpus; the added class is
    exactly the doc_id % 97 == 0 population."""
    from hrfco_data_pipeline_spark.plans.llm import docs_crosssnap_dup_trend
    from hrfco_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    n_total = docs.count()
    n_added = docs.filter(F.col("doc_id") % 97 == 0).count()
    rows = {r.status: r for r in docs_crosssnap_dup_trend(spark, SF).collect()}
    assert sum(r.n_docs for r in rows.values()) == n_total
    assert rows["added"].n_docs == n_added
    for r in rows.values():
        assert r.n_dropped <= r.n_dup_members <= r.n_docs
        assert r.drop_rate == r.n_dropped / r.n_docs


def test_simhash_histogram_composes_probe(spark):
    """cum_pairs at Hamming 3 equals the certified probe's pair count
    (simhash_pairs_probe filters the same candidate population at
    max_hamming=3), and the histogram sums to its own cumulative."""
    from hrfco_data_pipeline_spark.plans.llm import (
        docs_simhash_hamming_histogram,
        simhash_pairs_probe,
    )

    hist = sorted(
        docs_simhash_hamming_histogram(spark, SF).collect(),
        key=lambda r: r.hamming,
    )
    assert hist
    cum = 0
    for r in hist:
        cum += r.n_pairs
        assert r.cum_pairs == cum
    n_probe = simhash_pairs_probe(spark, SF).count()
    cum3 = max(
        (r.cum_pairs for r in hist if r.hamming <= 3), default=0
    )
    assert cum3 == n_probe


def test_survivor_source_flow_synthetic(spark, tmp_path):
    """Known dup structure: s0's doc 1 wins over s1's copy (4) and
    s0's own copy (2); the grid is complete with NULL shares for
    sources that lose nothing."""
    from hrfco_data_pipeline_spark.plans.llm import (
        dedup_survivor_source_flow,
    )

    rows = [
        (1, "a b c", "en", "s0", 5),
        (2, "a b c", "en", "s0", 5),   # loses to 1 (same source)
        (3, "x y", "en", "s0", 3),
        (4, "a b c", "en", "s1", 5),   # loses to 1 (cross source)
        (5, "p q", "en", "s1", 3),
    ]
    out = _write_docs(spark, tmp_path, rows)
    got = {
        (r.winner_source, r.loser_source): r
        for r in dedup_survivor_source_flow(spark, out).collect()
    }
    assert set(got) == {(a, b) for a in ("s0", "s1") for b in ("s0", "s1")}
    assert got[("s0", "s0")].n_losses == 1
    assert got[("s0", "s1")].n_losses == 1
    assert got[("s1", "s0")].n_losses == 0
    assert got[("s1", "s1")].n_losses == 0
    assert got[("s0", "s0")].loss_share == 1.0
    assert got[("s0", "s1")].loss_share == 1.0
    # s1 never wins; but loser totals drive the share — both sources
    # lose exactly once, so the (s1, *) rows carry share 0
    assert got[("s1", "s0")].loss_share == 0.0
    assert got[("s1", "s1")].loss_share == 0.0


def test_shard_cell_drift_python_recompute(spark):
    """TVs recomputed in Python from the same cell assignments: exact
    equality (nano quantization is integer on both sides)."""
    import math

    from hrfco_data_pipeline_spark.operators.similarity import (
        as_double_vec,
        assign_cells,
        ivf_centroids,
    )
    from hrfco_data_pipeline_spark.plans.llm import embedding_shard_cell_drift
    from hrfco_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    vecs = emb.select("vec_id", as_double_vec("embedding"))
    cents = ivf_centroids(vecs, n_centroids=16, dim=64)
    rows = assign_cells(vecs, cents).select("vec_id", "cell").collect()
    cs, ns, gl = {}, {}, {}
    for r in rows:
        sh = r.vec_id % 4
        cs[(sh, r.cell)] = cs.get((sh, r.cell), 0) + 1
        ns[sh] = ns.get(sh, 0) + 1
        gl[r.cell] = gl.get(r.cell, 0) + 1
    n = len(rows)
    expect = {}
    for sh in ns:
        q = 0
        for cell, g in gl.items():
            s = cs.get((sh, cell), 0)
            q += math.floor(abs(s / ns[sh] - g / n) * 1e9)
        expect[sh] = (ns[sh], q / 2e9)
    got = {
        r.shard: (r.n_vecs, r.tv_vs_global)
        for r in embedding_shard_cell_drift(spark, SF).collect()
    }
    assert got == expect
    assert all(0.0 <= tv <= 1.0 for _, tv in got.values())


def test_norm_quality_corr_python_recompute(spark):
    """Pearson recomputed in Python with the SAME double algebra from
    the same integer sufficient statistics — exact equality."""
    from hrfco_data_pipeline_spark.plans.llm import (
        _tokens,
        embedding_norm_quality_corr,
        quality_score_expr,
    )
    from hrfco_data_pipeline_spark.sources.tables import load_table
    import math

    emb = load_table(spark, SF, "embeddings")
    x_rows = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.aggregate(
            F.transform(
                "embedding",
                lambda v: F.floor(
                    v.cast("double") * v.cast("double") * F.lit(1e9)
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        ).alias("x"),
    ).collect()
    docs = load_table(spark, SF, "documents")
    y_rows = docs.select(
        "doc_id",
        "source",
        F.round(quality_score_expr(_tokens()) * 10).cast("long").alias("y"),
    ).collect()
    xs = {r.doc_id: r.x for r in x_rows}
    per_src = {}
    for r in y_rows:
        if r.doc_id in xs:
            per_src.setdefault(r.source, []).append((xs[r.doc_id], r.y))
    expect = {}
    for src, pts in per_src.items():
        n = float(len(pts))
        sx = float(sum(p[0] for p in pts))
        sy = float(sum(p[1] for p in pts))
        sxy = float(sum(p[0] * p[1] for p in pts))
        sxx = float(sum(p[0] * p[0] for p in pts))
        syy = float(sum(p[1] * p[1] for p in pts))
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        r_val = (
            (n * sxy - sx * sy) / math.sqrt(vx * vy)
            if vx > 0 and vy > 0
            else None
        )
        expect[src] = (len(pts), r_val)
    got = {
        r.source: (r.n_docs, r.norm_quality_r)
        for r in embedding_norm_quality_corr(spark, SF).collect()
    }
    assert got == expect
    for _, r_val in got.values():
        if r_val is not None:
            assert -1.0 <= r_val <= 1.0


def test_pq_code_balance_invariants(spark):
    """imbalance >= 1 with equality only at uniform usage;
    max share >= 1/ksub; the per-subspace populations equal the
    distortion report's (same codebooks, same vectors)."""
    from hrfco_data_pipeline_spark.plans.llm import (
        ann_pq_code_balance,
        pq_distortion_report,
    )

    bal = {r.subspace: r for r in ann_pq_code_balance(spark, SF).collect()}
    dist = {
        r.subspace: r.n_vectors
        for r in pq_distortion_report(spark, SF).collect()
    }
    assert set(bal) == set(dist) == set(range(8))
    for j, r in bal.items():
        assert 1 <= r.n_codes_used <= 16
        assert r.imbalance_factor >= 1.0 - 1e-12
        assert r.max_code_share >= 1.0 / 16
    # total encoded vectors per subspace match the distortion report
    # population: share-weighted count reconstruction
    from hrfco_data_pipeline_spark.sources.tables import load_table

    n_vecs = load_table(spark, SF, "embeddings").count()
    assert all(v == n_vecs for v in dist.values())


def test_alert_transition_counts_identity(spark):
    """Total transition count = Σ_stations (n_obs − 1) over non-null
    observation times; per-from shares sum to ~1 (4-decimal rounding)."""
    from hrfco_data_pipeline_spark.plans.hydro import (
        alert_transition_matrix,
        alerts,
    )

    a = alerts(spark, SF).filter(F.col("observation_time").isNotNull())
    per_station = a.groupBy("observation_code").count().collect()
    expected_total = sum(r["count"] - 1 for r in per_station if r["count"] > 0)
    rows = alert_transition_matrix(spark, SF).collect()
    assert sum(r.n for r in rows) == expected_total
    froms = {}
    for r in rows:
        froms.setdefault(r.from_category, []).append(r.p)
    for cat, ps in froms.items():
        assert abs(sum(ps) - 1.0) < 1e-3, cat


def test_patch_energy_profile_python_recompute(spark):
    """Patch energies recomputed in pure Python from the utf-8 bytes
    (width 32, patch 8): imbalance and max share match exactly."""
    from hrfco_data_pipeline_spark.plans.llm import (
        multimodal_patch_energy_profile,
    )
    from hrfco_data_pipeline_spark.sources.tables import load_table

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents").limit(2000).collect()
    }
    got = {
        r.doc_id: r
        for r in multimodal_patch_energy_profile(spark, SF).collect()
    }
    checked = 0
    for doc_id, text in docs.items():
        content = text.encode("utf-8")
        width, patch = 32, 8
        h = len(content) // width
        energies = []
        for py in range(h // patch):
            for px in range(width // patch):
                e = 0
                for rr in range(patch):
                    start = (py * patch + rr) * width + px * patch
                    e += sum(content[start : start + patch])
                energies.append(e)
        if not energies:
            assert doc_id not in got
            continue
        r = got[doc_id]
        n, E = len(energies), sum(energies)
        assert (r.n_patches, r.total_energy) == (n, E)
        if E > 0:
            assert r.energy_imbalance == (n * sum(e * e for e in energies)) / (E * E)
            assert r.max_patch_share == max(energies) / E
        checked += 1
    assert checked > 0


def test_kanon_ladder_level0_equals_parent(spark):
    """The L0 rung IS events_k_anonymity (same QIs, same k): shared
    columns equal row-for-row; n_rows is level-invariant per type."""
    from hrfco_data_pipeline_spark.plans.relational import (
        events_k_anonymity,
        events_kanon_generalization_ladder,
    )

    ladder = events_kanon_generalization_ladder(spark, SF).collect()
    parent = {r.event_type: r for r in events_k_anonymity(spark, SF).collect()}
    l0 = {r.event_type: r for r in ladder if r.level == 0}
    assert set(l0) == set(parent)
    for et, r in l0.items():
        p = parent[et]
        assert (r.n_groups, r.n_rows, r.n_singletons, r.rows_at_risk,
                r.at_risk_share) == (
            p.n_groups, p.n_rows, p.n_singletons, p.rows_at_risk,
            p.at_risk_share,
        )
    per_type_rows = {}
    for r in ladder:
        per_type_rows.setdefault(r.event_type, set()).add(r.n_rows)
    assert all(len(v) == 1 for v in per_type_rows.values())


def test_snapshot_fixture_single_source():
    """The previous-snapshot fixture moduli live in ONE place per
    layer: the Spark faces share prev_snapshot_hashes, and both
    oracle twins must embed exactly the module constants (r14
    self-review: the constants were drifting toward four copies)."""
    import re

    import __spark_entry__ as entry
    from hrfco_data_pipeline_spark import oracles
    from hrfco_data_pipeline_spark.plans import llm

    assert (llm.SNAPSHOT_GAP_MOD, llm.SNAPSHOT_REV_MOD) == (
        oracles.SNAPSHOT_GAP_MOD,
        oracles.SNAPSHOT_REV_MOD,
    )
    for q in ("docs_snapshot_diff", "docs_crosssnap_dup_trend"):
        sql = entry.oracle_sql()[q]
        assert f"doc_id % {llm.SNAPSHOT_REV_MOD} = 0" in sql, q
        assert f"doc_id % {llm.SNAPSHOT_GAP_MOD} <> 0" in sql, q
    # the Spark faces share one helper (no re-inlined moduli)
    import inspect

    for fn in (llm.docs_snapshot_diff, llm.docs_crosssnap_dup_trend):
        body = inspect.getsource(fn)
        assert "prev_snapshot_hashes" in body, fn.__name__
        assert "% 97" not in body and "% 89" not in body, fn.__name__


def test_kmv_and_qsample_certificates_end_to_end(spark):
    """The full availableNow certificate runs at sf0.001 for the two
    events-table maintainers (the BM25 twin above covers documents):
    real file micro-batches through run_parity_stream, served from
    the store — every row true."""
    from hrfco_data_pipeline_spark.plans.relational import (
        stream_batch_kmv_parity,
        stream_batch_qsample_parity,
    )

    for fn in (stream_batch_kmv_parity, stream_batch_qsample_parity):
        rows = fn(spark, SF).collect()
        assert rows and all(r.matches_batch_face for r in rows), fn.__name__
