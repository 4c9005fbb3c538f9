"""Driver-contract guards for __spark_entry__.

The external correctness gate samples the FIRST 50 entries of
``queries()`` in dict order each round, so the ordering is load-bearing:
a careless insert can silently push a never-checked query out of the
window. These tests pin the contract without starting Spark.
"""

from __future__ import annotations

import __spark_entry__ as entry


def test_registry_shape():
    q = entry.queries()
    o = entry.oracle_sql()
    names = list(q)
    assert len(names) == len(set(names))
    # every oracle belongs to a registered query
    assert set(o) <= set(q)
    # rows-only set is exactly the documented five
    assert set(q) - set(o) == {
        "near_dedup_keep",
        "events_approx_stats",
        "events_hll_user_rollup",
        "minhash_near_dups",
        "simhash_clusters",
    }


def test_first_50_all_oracle_backed():
    """A window slot spent on a rows-only query can never produce a
    green driver row (the gate records err: no_oracle) — r3 lost two
    slots this way. Every first-50 entry must have an oracle twin."""
    first50 = list(entry.queries())[:50]
    oracles = set(entry.oracle_sql())
    missing = [n for n in first50 if n not in oracles]
    assert not missing, f"rows-only queries inside the first-50 window: {missing}"


# New-in-r15 queries lead the window (never-checked first, per the
# ordering contract). Append new queries here as they land; the window
# pin below derives positions from this list, so a careless insert
# cannot silently rotate a pinned backlog entry out unnoticed.
NEW_IN_R15: list[str] = [
    # ADVICE r14 rename: the URGENT-slice anti join re-keyed so the
    # registry name states its semantics; evidence ledger reset, so it
    # re-certifies here (the old customers_without_orders key retired)
    "customers_without_urgent_orders",
    # the five remaining streaming-maintainer parity certificates
    # (VERDICT r14 'Next round' #2), one-liners over run_parity_stream
    "stream_batch_lateness_parity",
    "stream_batch_tv_parity",
    "stream_batch_ks_parity",
    "stream_batch_scd2_parity",
    "stream_batch_lm_parity",
    # SCALE.md watch-list migrations (VERDICT r14 'Next round' #4):
    # ln/log2-emitting certified queries re-expressed as exact-integer
    # collision/Rényi-2 statistics and re-keyed to state the new
    # semantics (the old docs_token_entropy / multimodal_bytes_entropy
    # / events_entropy_rate keys retired; evidence ledgers reset)
    "docs_token_concentration",
    "multimodal_bytes_concentration",
    "events_markov_concentration",
    # remaining r15 candidate head (docs/ROUND14.md)
    "ann_ivf_pq_agreement",
    "hydro_rising_limb_lead_time",
    "dedup_rate_by_snapshot",
    "docs_source_halves_drift",
    "embedding_quantize_bit_sweep",
    # filling the head to the ~16 cap: the sessionization parity
    # certificate (first COMPACTED-mergeable-fragment state design)
    # and Apriori level-3 frequent-itemset mining
    "stream_batch_session_parity",
    "brand_itemset3_support",
]

# The pinned r15 backlog written at the end of r14 (VERDICT r14 "Next
# round" #1, generated from docs/EVIDENCE.md regenerated at r15 open):
# the 16 entries the new-in-r14 head displaced past the r14 boundary,
# then the remaining r8-era greens. New-in-r15 head entries displace
# the TAIL of this list past the boundary; the displaced entries must
# then lead the r16 window.
R15_BACKLOG = [
    "copurchase_kcore",
    "docs_rake_keyphrases",
    "docs_hybrid_rrf",
    "lineitem_hilbert_layout",
    "layout_pruning_report",
    "multimodal_image_patches",
    "events_kmv_setops",
    "lineitem_compaction_plan",
    "customer_scd2_history",
    "events_sampled_quantiles",
    "events_view_only_users",
    "events_value_bands",
    "events_value_percentiles",
    "events_range_window",
    "dq_referential_report",
    "tables_report",
    "events_props_variant",
    "doc_winnow_fingerprints",
    "dup_components",
    "dedup_incremental",
    "embedding_quantize",
    "docs_ngram_freq",
    "docs_repetition_score",
    "docs_decontaminate",
    "docs_normalize",
    "docs_pii_redact",
    "docs_sample_stratified",
    "docs_sample_hash_topk",
    "docs_domain_mix",
    "docs_pack_sequences",
    "docs_inverted_index",
    "docs_tfidf_top_terms",
    "docs_shard_assign",
    "docs_range_shards",
    "docs_chunk_windows",
    "docs_split_assign",
    "docs_curation_funnel",
    "embedding_block_near_dups",
    "wire_connector_station_counts",
    "multimodal_blob_stats",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "q13_customer_order_distribution",
    "q15_top_supplier",
    "q16_part_supplier_counts",
    "q19_disjunctive_revenue",
    "events_segment_enrichment",
    "customer_scd2_asof_snapshot",
]


def test_r15_window_composition():
    """The r15 window is exactly (NEW_IN_R15 + R15_BACKLOG)[:50]:
    never-green queries first, then the pinned backlog. Growth at the
    head may only displace the backlog TAIL; the displaced tail must
    sit immediately behind the boundary, leading the r16 window."""
    names = list(entry.queries())
    expected = (NEW_IN_R15 + R15_BACKLOG)[:50]
    assert names[:50] == expected
    n_displaced = len(NEW_IN_R15 + R15_BACKLOG) - 50
    assert n_displaced >= 0
    if n_displaced:
        assert names[50 : 50 + n_displaced] == R15_BACKLOG[-n_displaced:]


def test_r16_window_plan():
    """Positions 50-99 (the r16 plan): the displaced r15-backlog tail
    first, then the remaining r8-era and oldest r9-era greens — every
    slot oracle-backed so each can earn a green row. The
    freshly-certified r14 block sits at the back, just ahead of the
    rows-only tail."""
    names = list(entry.queries())
    r16 = names[50:100]
    oracles = set(entry.oracle_sql())
    assert set(r16) <= oracles
    # the displaced backlog tail leads (guard the empty-head case)
    n_displaced = len(NEW_IN_R15 + R15_BACKLOG) - 50
    if n_displaced:
        assert r16[:n_displaced] == R15_BACKLOG[-n_displaced:]
    # remaining r8-era / oldest r9-era greens fill the next slots
    for q in ("orders_theilsen_trend", "embedding_mutual_knn",
              "docs_pmi_top_pairs", "events_watermark_lateness_audit"):
        assert q in r16, q
    # the deeper r9/r10-certified blocks are behind the r16 window
    # (they only clear position 100 once the r15 head has grown —
    # the window pins above keep them out of the FIRST 50 throughout)
    deep = ("hydro_resample_10min", "docs_simjoin_prefix",
            "events_mann_whitney", "hydro_recession_constant")
    for q in deep:
        assert q not in names[:50], q
    if len(NEW_IN_R15) >= 10:
        for q in deep:
            assert q in names[100:], q
    # the freshly-certified r14 block sits at the back
    for q in ("stream_batch_kmv_parity", "hydro_station_ewma",
              "events_kanon_generalization_ladder", "docs_bm25_topk"):
        assert q in names[100:], q
    # rows-only entries stay at the very end
    assert names[-5:] == [
        "events_hll_user_rollup",
        "events_approx_stats",
        "minhash_near_dups",
        "simhash_clusters",
        "near_dedup_keep",
    ]


def test_boundary_comment_position():
    """The human-readable first-50 boundary marker in
    __spark_entry__.py must sit exactly after entry 50 — a wrong
    marker on the driver-sampled ordering is how a window slot gets
    lost (VERDICT r9 "What's wrong" #2: the r9 marker drifted 14
    entries stale)."""
    import re

    src = open(entry.__file__).read()
    before_marker = src.split("first-50 boundary")[0]
    # count dict-entry lines ("name": module.fn,) above the marker
    n_above = len(
        re.findall(r'^\s{8}"[a-z0-9_]+":\s', before_marker, re.MULTILINE)
    )
    assert n_above == 50, (
        f"boundary marker sits after {n_above} entries, want 50 — "
        "move the comment to the true boundary"
    )


def test_all_callables_and_oracles_nonempty():
    q = entry.queries()
    assert all(callable(f) for f in q.values())
    assert all(s.strip() for s in entry.oracle_sql().values())


def _regenerate_ledger(hist) -> str:
    """Render the evidence ledger for the given driver history into a
    temp cwd and return its text (the guard's in-memory twin of
    tools/gen_query_docs.py)."""
    import contextlib
    import importlib
    import io
    import os
    import pathlib
    import sys
    import tempfile

    sys.path.insert(0, ".")
    gen = importlib.import_module("tools.gen_query_docs")
    q = entry.queries()
    o = entry.oracle_sql()
    cwd = os.getcwd()
    with tempfile.TemporaryDirectory() as td:
        os.makedirs(os.path.join(td, "docs"))
        try:
            os.chdir(td)
            with contextlib.redirect_stdout(io.StringIO()):
                gen.write_evidence_ledger(q, o, hist)
            return pathlib.Path(td, "docs", "EVIDENCE.md").read_text()
        finally:
            os.chdir(cwd)


def _committed_ledger_and_stamp():
    import pathlib
    import re

    committed = pathlib.Path("docs", "EVIDENCE.md").read_text()
    m = re.search(r"history through r(\d+)", committed)
    assert m, (
        "docs/EVIDENCE.md carries no round stamp — run: "
        "python tools/gen_query_docs.py"
    )
    return committed, int(m.group(1))


def test_evidence_ledger_is_fresh():
    """docs/EVIDENCE.md is generated from the registry order + the
    CORRECTNESS_r*.json history; a registry change without
    regenerating it would silently de-sync the rotation-planning
    table (the r11 lesson: comment archaeology drifted 12 queries).
    Regenerate in-memory and compare — filtering the history to the
    committed ledger's own round stamp, so the driver dropping
    CORRECTNESS_r{N+1}.json after round N closes no longer reds the
    suite at every boundary (VERDICT r12 'Next round' #2);
    tools/round_start.py still regenerates from the full history at
    round open."""
    import importlib
    import sys

    sys.path.insert(0, ".")
    gen = importlib.import_module("tools.gen_query_docs")
    committed, stamp = _committed_ledger_and_stamp()
    fresh = _regenerate_ledger(gen.driver_history(max_round=stamp))
    assert fresh == committed, (
        "docs/EVIDENCE.md is stale — run: python tools/gen_query_docs.py"
    )


def test_query_catalog_is_fresh():
    """docs/QUERIES.md is generated from the registry (order, oracle
    coverage, implementation and docstring of every query); a registry
    or docstring change without regenerating it leaves the catalog
    wrong. Regenerate in memory and compare."""
    import importlib
    import pathlib
    import sys

    sys.path.insert(0, ".")
    gen = importlib.import_module("tools.gen_query_docs")
    fresh = gen.query_catalog(entry.queries(), entry.oracle_sql())
    assert fresh == pathlib.Path("docs", "QUERIES.md").read_text(), (
        "docs/QUERIES.md is stale — run: python tools/gen_query_docs.py"
    )


def test_freshness_guard_tolerates_boundary_correctness_drop(tmp_path):
    """Simulated round boundary: a CORRECTNESS file from a LATER round
    than the ledger stamp appears (the driver always lands one after
    round close) — the stamp-filtered history must not see it, so the
    regenerated ledger still equals the committed one and the suite
    stays green."""
    import glob
    import importlib
    import json
    import os
    import shutil
    import sys

    sys.path.insert(0, ".")
    gen = importlib.import_module("tools.gen_query_docs")
    committed, stamp = _committed_ledger_and_stamp()
    cwd = os.getcwd()
    for p in glob.glob("CORRECTNESS_r*.json"):
        shutil.copy(p, tmp_path / p)
    # the boundary drop: a green row for a query whose committed
    # last_green is older — unfiltered it WOULD change the ledger
    fake = {
        "hydro_classify_alerts": {
            "rows_match": True,
            "schema_match": True,
            "hash_match": True,
        }
    }
    (tmp_path / f"CORRECTNESS_r{stamp + 1}.json").write_text(
        json.dumps(fake)
    )
    try:
        os.chdir(tmp_path)
        filtered = gen.driver_history(max_round=stamp)
        unfiltered = gen.driver_history()
    finally:
        os.chdir(cwd)
    assert _regenerate_ledger(filtered) == committed
    assert _regenerate_ledger(unfiltered) != committed


def test_freshness_guard_catches_registry_drift(monkeypatch):
    """A registry edit without regenerating the ledger must still fail
    the guard: drop one entry from queries() and the stamp-filtered
    regeneration diverges from the committed file."""
    import importlib
    import sys

    sys.path.insert(0, ".")
    gen = importlib.import_module("tools.gen_query_docs")
    committed, stamp = _committed_ledger_and_stamp()
    real = entry.queries()
    drifted = dict(list(real.items())[:-1])
    monkeypatch.setattr(entry, "queries", lambda: drifted)
    fresh = _regenerate_ledger(gen.driver_history(max_round=stamp))
    assert fresh != committed
