"""MinHash-LSH / SimHash dedup and similarity-search operator tests."""

from __future__ import annotations

import pyspark.sql.functions as F

from hrfco_data_pipeline_spark.operators.dedup import (
    minhash_dedup,
    minhash_signatures,
    simhash_pairs,
)
from hrfco_data_pipeline_spark.operators.similarity import (
    as_double_vec,
    brute_force_topk,
    hyperplane_lsh_topk,
)

DOC = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "on the warm mat near the old wooden door of the farm house"
)
NEAR = DOC.replace("lazy dog", "sleepy dog")  # 2-token edit → near-dup
FAR = (
    "completely different words about spark query engines and columnar "
    "execution with vectorized operators running on large clusters today"
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, DOC), (2, NEAR), (3, FAR), (4, DOC)], "doc_id long, text string"
    )


def test_minhash_finds_near_and_exact_dups(spark):
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_dedup(_docs(spark), threshold=0.5).collect()
    }
    assert pairs[(1, 4)] == 1.0  # exact dup → identical signatures
    assert (1, 2) in pairs  # near dup above threshold
    assert all(3 not in p for p in pairs)  # unrelated doc never paired


def test_minhash_signature_shape(spark):
    sigs = minhash_signatures(_docs(spark), k=32).collect()
    assert all(len(r.sig) == 32 for r in sigs)
    by_id = {r.id: r.sig for r in sigs}
    assert by_id[1] == by_id[4]
    assert by_id[1] != by_id[3]


def test_simhash_hamming(spark):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(_docs(spark), max_hamming=6).collect()
    }
    assert pairs[(1, 4)] == 0
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    assert all(3 not in p for p in pairs)


def _vectors(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    return emb.select("vec_id", as_double_vec("embedding"))


def test_lsh_topk_approximates_brute_force(spark):
    vecs = _vectors(spark)
    queries = vecs.filter(F.col("vec_id") % 25 == 0)
    exact = brute_force_topk(vecs, queries, k=5)
    approx = hyperplane_lsh_topk(vecs, queries)
    exact_top1 = {r.qid: r.cid for r in exact.filter("rank = 1").collect()}
    approx_rows = approx.collect()
    approx_by_q = {}
    for r in approx_rows:
        approx_by_q.setdefault(r.qid, set()).add(r.cid)
    # sign-LSH with 4 bands should recover the true top-1 for most queries
    hits = sum(1 for q, c in exact_top1.items() if c in approx_by_q.get(q, set()))
    assert hits >= len(exact_top1) * 0.5
    # approx candidate sets are strictly smaller than the corpus
    assert all(len(v) < vecs.count() - 1 for v in approx_by_q.values())


def test_range_join_banded_matches_naive(spark):
    """The banded equi-join must return exactly the rows of the naive
    cross-join + BETWEEN filter (each point meets a containing
    interval via exactly one band — no dupes, no misses), including
    intervals that span band boundaries and points on the half-open
    edges."""
    import datetime as dt

    from hrfco_data_pipeline_spark.operators.rangejoin import (
        range_join_banded,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    pts = spark.createDataFrame(
        [(i, t0 + dt.timedelta(minutes=7 * i)) for i in range(200)],
        "pid long, ts timestamp_ntz",
    )
    ivs = spark.createDataFrame(
        [
            # spans 3 hourly bands
            (1, t0 + dt.timedelta(minutes=30), t0 + dt.timedelta(minutes=150)),
            # exactly band-aligned (half-open end)
            (2, t0 + dt.timedelta(hours=4), t0 + dt.timedelta(hours=5)),
            # sub-band interval
            (3, t0 + dt.timedelta(minutes=400), t0 + dt.timedelta(minutes=410)),
            # overlapping interval
            (4, t0 + dt.timedelta(minutes=100), t0 + dt.timedelta(minutes=200)),
        ],
        "wid long, w_start timestamp_ntz, w_end timestamp_ntz",
    )
    got = {
        (r.pid, r.wid)
        for r in range_join_banded(pts, ivs).collect()
    }
    naive = {
        (r.pid, r.wid)
        for r in pts.crossJoin(ivs)
        .filter((F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")))
        .collect()
    }
    assert got == naive and got
    # the plan is an equi-join on the band key, not a nested loop
    plan = range_join_banded(pts, ivs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_semantics(spark):
    from hrfco_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 5), (2, 10)], "lid long, t long"
    ).selectExpr("lid", "t", "lid AS k")
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 15, "b"), (2, 99, "z")], "k long, t long, v string"
    )
    out = asof_join(
        left.select("lid", "k", "t"),
        right,
        on="k",
        left_time="t",
        right_time="t",
        payload_cols=("v",),
    )
    got = {r.lid * 100 + r.t: r.v_asof for r in out.collect()}
    assert got[110] == "a"   # exact-time right row is eligible (<=)
    assert got[120] == "b"   # latest at-or-before wins
    assert got[105] is None  # nothing before t=5
    assert got[210] is None  # key 2: right row is later than left


def test_ivf_topk(spark):
    from hrfco_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_centroids,
        ivf_topk,
    )

    vecs = _vectors(spark)
    cents = ivf_centroids(vecs, n_centroids=8)
    assert len(cents) == 8 and len(cents[0]) == 64
    queries = vecs.filter(F.col("vec_id") % 25 == 0)
    approx = ivf_topk(vecs, queries, cents)
    rows = approx.collect()
    assert len(rows) > 0
    # each query's candidates come from one cell → fewer than the corpus
    per_q = {}
    for r in rows:
        per_q.setdefault(r.qid, []).append(r.cid)
    assert all(len(v) <= 5 for v in per_q.values())
    # sanity: top-1 cosine from the probed cell is high for self-cluster data
    exact = {r.qid: r.cos_sim for r in brute_force_topk(vecs, queries, k=1).collect()}
    got = {r.qid: r.cos_sim for r in rows if r.rank == 1}
    # IVF with nprobe=1 finds a neighbor within 2x of the best cosine mostly
    ok = sum(1 for q in got if exact.get(q, 0) <= 0 or got[q] >= exact[q] * 0.5)
    assert ok >= len(got) * 0.5


def test_ivf_centroids_partitioning_invariant(spark):
    """The portable centroid arithmetic (floor-quantized integer sums,
    exact rational division) must be bit-identical regardless of how
    the input is partitioned — no float summation order anywhere. This
    is the property the DuckDB oracle twin relies on."""
    from hrfco_data_pipeline_spark.operators.similarity import ivf_centroids

    vecs = _vectors(spark)
    c1 = ivf_centroids(vecs, n_centroids=8, dim=64)
    c2 = ivf_centroids(vecs.repartition(13), n_centroids=8, dim=64)
    c3 = ivf_centroids(vecs.coalesce(1), n_centroids=8, dim=64)
    assert c1 == c2 == c3  # exact double equality, not approx


def test_connected_components(spark):
    from hrfco_data_pipeline_spark.operators.dedup import connected_components

    # two chains + an isolated pair: {1-2-3-4}, {10-11}, {20-21-22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "id_a long, id_b long",
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert {got[i] for i in (1, 2, 3, 4)} == {1}
    assert {got[i] for i in (10, 11)} == {10}
    assert {got[i] for i in (20, 21, 22)} == {20}


def test_connected_components_long_chain_pointer_jumping(spark):
    from hrfco_data_pipeline_spark.operators.dedup import connected_components

    # path graph 0-1-2-...-40: diameter 40 ≫ max_iterations=8, but
    # pointer jumping doubles coverage per round (2^8 > 40)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    got = {
        r.id: r.component
        for r in connected_components(pairs, max_iterations=8).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == 41


def test_connected_components_strict_raises_on_nonconvergence(spark):
    import pytest

    from hrfco_data_pipeline_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=2)
    # non-strict: returns partially propagated labels instead
    rows = connected_components(pairs, max_iterations=2, strict=False).collect()
    assert len(rows) == 41


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    from hrfco_data_pipeline_spark.operators.dedup import connected_components

    prev = spark.sparkContext.getCheckpointDir()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "id_a long, id_b long"
        )
        got = {r.id: r.component for r in connected_components(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1}
        # reliable checkpoint files must actually exist
        import os

        assert any(os.scandir(str(tmp_path / "ckpt")))
    finally:
        if prev:
            spark.sparkContext.setCheckpointDir(prev)


def test_dedup_keep_best_policy(spark):
    from hrfco_data_pipeline_spark.operators.dedup import dedup_keep_best
    import pyspark.sql.functions as FF

    df = spark.createDataFrame(
        [("k1", 5, "short"), ("k1", 3, "longest text"), ("k2", 9, "x")],
        "k string, id long, text string",
    )
    # keep longest text, tiebreak lowest id
    kept = dedup_keep_best(
        df, "k", [FF.desc(FF.length("text")), FF.asc("id")]
    ).collect()
    got = {r.k: r.id for r in kept}
    assert got == {"k1": 3, "k2": 9}


def test_ivf_argmax_plan_stays_linear(spark):
    """128 centroids x 64 dims: the array-HOF argmax keeps the plan
    linear in n_centroids (the old unrolled when-chain re-nested every
    earlier dot product — quadratic blowup beyond ~64)."""
    from hrfco_data_pipeline_spark.operators.similarity import _nearest_centroid

    cents = [[float((i * j) % 7) - 3.0 for j in range(64)] for i in range(128)]
    df = spark.createDataFrame(
        [(list(float(j) for j in range(64)),)], "v: array<double>"
    )
    out = df.select(_nearest_centroid("v", cents).alias("cell"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # linear-size plan: well under a MB even at 128 centroids
    assert len(plan) < 1_000_000
    cell = out.first()["cell"]
    # cross-check against numpy-free python argmax
    dots = [sum(a * b for a, b in zip(range(64), c)) for c in cents]
    assert cell == dots.index(max(dots))


def test_winnowing_shared_run_guarantee(spark):
    """Any shared run of >= gram+window-1 = 8 tokens must yield at
    least one shared fingerprint (the MOSS winnowing guarantee)."""
    from hrfco_data_pipeline_spark.plans.llm import winnow_fingerprints_expr

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    a = "one two three four five " + shared + " six seven eight nine"
    b = "red green blue yellow purple " + shared + " cyan magenta white"
    df = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    rows = df.select(
        "doc_id",
        winnow_fingerprints_expr(F.split(F.trim("text"), r"\s+")).alias("fps"),
    ).collect()
    sets = {r.doc_id: set(r.fps) for r in rows}
    assert sets[1] & sets[2], "shared 8-token run must share a fingerprint"


def test_winnowing_disjoint_docs_and_short_doc(spark):
    from hrfco_data_pipeline_spark.plans.llm import winnow_fingerprints_expr

    df = spark.createDataFrame(
        [(1, DOC), (2, FAR), (3, "too short")], "doc_id long, text string"
    )
    rows = df.select(
        "doc_id",
        winnow_fingerprints_expr(F.split(F.trim("text"), r"\s+")).alias("fps"),
    ).collect()
    sets = {r.doc_id: set(r.fps) for r in rows}
    assert not (sets[1] & sets[2]), "no shared 4-gram -> no shared fingerprint"
    assert sets[3] == set(), "docs shorter than the gram size select nothing"


def _py_winnow(toks, g=4, w=5):
    """Pure-Python reference of winnow_fingerprints_expr."""
    import hashlib

    grams = (
        [
            hashlib.md5(" ".join(toks[i : i + g]).encode()).hexdigest()
            for i in range(len(toks) - g + 1)
        ]
        if len(toks) >= g
        else []
    )
    if len(grams) >= w:
        return {min(grams[i : i + w]) for i in range(len(grams) - w + 1)}
    return set(grams)


from hypothesis import given, settings, strategies as st

_tok_st = st.sampled_from(["a", "b", "ab", "x1", "tok", "zz"])


@settings(max_examples=6, deadline=None)
@given(st.lists(st.lists(_tok_st, min_size=0, max_size=15), min_size=48, max_size=48))
def test_winnowing_matches_python_reference(spark, batch):
    """Fuzz the selection across the g/w boundary sizes against a
    pure-Python twin (one Spark job per example, batched docs)."""
    from hrfco_data_pipeline_spark.plans.llm import winnow_fingerprints_expr

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(batch)], "i long, toks array<string>"
    )
    rows = df.select(
        "i", winnow_fingerprints_expr(F.col("toks")).alias("fps")
    ).collect()
    for r in rows:
        assert set(r.fps) == _py_winnow(batch[r.i]), batch[r.i]


def test_winnowing_two_stage_handles_giant_doc(spark):
    """A 50k-token document completes through the two-stage winnow plan
    shape and matches the Python reference — the inline O(n²) form
    would need ~2.5e9 md5 calls and never finish (the regression this
    test guards; see plans/llm.window_min_fps_expr)."""
    from hrfco_data_pipeline_spark.plans.llm import (
        gram_hashes_expr,
        window_min_fps_expr,
    )

    toks = [f"t{i % 997}" for i in range(50_000)]
    df = spark.createDataFrame([(1, toks)], "doc_id long, toks array<string>")
    h = df.select("doc_id", gram_hashes_expr(F.col("toks")).alias("h"))
    h = h.repartition(2)
    got = h.select(F.size(window_min_fps_expr(F.col("h"))).alias("n")).collect()
    assert got[0].n == len(_py_winnow(toks))


def test_embedding_block_near_dups_subshard_invariant(spark):
    """The hot-block sub-shard guard must not change the pair set, and
    must actually split oversized labels into bounded sub-shards."""
    from hrfco_data_pipeline_spark.plans.llm import embedding_block_near_dups

    sf = "/root/testdata/sf0.001"
    key = lambda r: (r.id_a, r.id_b, r.label, round(r.cos_sim, 4))
    sharded = {key(r) for r in embedding_block_near_dups(spark, sf, max_block=16).collect()}
    plain = {key(r) for r in embedding_block_near_dups(spark, sf, max_block=10**9).collect()}
    assert sharded == plain
    assert len(plain) > 0

    # every label at sf0.001 exceeds 16 rows, so the guard is exercised:
    # k = ceil(n/16) >= 4 sub-shards, and the hash split keeps each
    # sub-shard well under 2*max_block rows — per-task candidate pairs
    # stay O(max_block^2) instead of O(n^2) in one task
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    counts = emb.groupBy("label").agg(F.count("*").alias("n"))
    assert counts.agg(F.min("n")).collect()[0][0] > 16
    sub = (
        emb.join(counts, "label")
        .withColumn("k", F.greatest(F.lit(1), F.ceil(F.col("n") / 16)).cast("int"))
        .withColumn("s", F.pmod(F.xxhash64("vec_id"), F.col("k")).cast("int"))
        .groupBy("label", "s")
        .agg(F.count("*").alias("rows"))
    )
    assert sub.agg(F.max("rows")).collect()[0][0] < 32


def test_near_dedup_keep_invariants(spark):
    """The end-to-end near-dedup workflow: exact duplicate texts must
    land in one cluster with exactly one survivor (the min doc_id);
    every cluster has >= 2 members and exactly one kept row."""
    from hrfco_data_pipeline_spark.plans.llm import near_dedup_keep

    sf = "/root/testdata/sf0.001"
    rows = near_dedup_keep(spark, sf).collect()
    assert rows, "synthetic corpus contains exact dups — clusters expected"
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for members in by_cluster.values():
        assert len(members) >= 2
        kept = [m for m in members if m.kept]
        assert len(kept) == 1
        assert kept[0].doc_id == min(m.doc_id for m in members)

    # ground truth: every exact-duplicate text group must be clustered
    docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
    from collections import defaultdict

    groups = defaultdict(list)
    for d in docs:
        groups[d.text.strip().lower()].append(d.doc_id)
    clustered = {r.doc_id: r.cluster_id for r in rows}
    for ids in groups.values():
        if len(ids) >= 2:
            labels = {clustered.get(i) for i in ids}
            assert None not in labels, f"exact dups not clustered: {ids}"
            assert len(labels) == 1, f"exact dups split across clusters: {ids}"


def test_prefix_jaccard_join_is_lossless(spark):
    """prefix_jaccard_pairs (PPJoin-style prefix filtering) must equal
    the naive all-pairs Jaccard join — including exact-boundary pairs,
    cross-size pairs pruned by the length filter, and sub-5-token docs
    that collapse to a single whole-text shingle."""
    from hrfco_data_pipeline_spark.operators.dedup import (
        prefix_jaccard_pairs,
        shingle_array,
    )

    rows = [
        (1, DOC),
        (2, NEAR),
        (3, FAR),
        (4, DOC),
        (5, "tiny doc here"),     # < 5 tokens → single shingle
        (6, "tiny doc here"),     # exact dup of 5 at the single-shingle path
        (7, DOC + " extra trailing words appended here making it longer"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.common, round(r.jaccard, 10))
        for r in prefix_jaccard_pairs(docs).collect()
    }

    sh = docs.select("doc_id", shingle_array(F.col("text")).alias("sh"))
    a = sh.selectExpr("doc_id as doc_a", "sh as sa")
    b = sh.selectExpr("doc_id as doc_b", "sh as sb")
    naive = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("common"),
            (
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / (
                    F.size("sa")
                    + F.size("sb")
                    - F.size(F.array_intersect("sa", "sb"))
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    want = {
        (r.doc_a, r.doc_b): (r.common, round(r.jaccard, 10))
        for r in naive.collect()
    }
    assert got == want
    assert (1, 4) in got and got[(1, 4)][1] == 1.0
    assert (5, 6) in got  # single-shingle exact-dup path


def test_bloom_decontaminate_no_false_negatives(spark, tmp_path):
    """Every training doc with a genuine 3-gram overlap against the
    eval split must be Bloom-flagged with exact_hits >= 1, and
    bloom_hits >= exact_hits always (Bloom never misses, may over-flag)."""
    from hrfco_data_pipeline_spark.operators.dedup import shingle_array
    from hrfco_data_pipeline_spark.plans.llm import docs_bloom_decontaminate

    sf_dir = "/root/testdata/sf0.001"
    out = docs_bloom_decontaminate(spark, sf_dir)
    rows = {r.doc_id: r for r in out.collect()}
    assert all(r.bloom_hits >= r.exact_hits for r in rows.values())
    assert all((r.exact_hits == 0) == r.is_false_positive for r in rows.values())

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = docs.select(
        "doc_id", F.explode(shingle_array(F.col("text"), 3)).alias("s")
    )
    ev = sh.filter(F.col("doc_id") % 97 == 0).select("s").distinct()
    exact = (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(ev, "s", "left_semi")
        .select("doc_id")
        .distinct()
    )
    exact_ids = {r.doc_id for r in exact.collect()}
    flagged_with_exact = {d for d, r in rows.items() if r.exact_hits > 0}
    assert exact_ids == flagged_with_exact


def test_cms_never_underestimates(spark):
    from hrfco_data_pipeline_spark.plans.llm import docs_cms_heavy_hitters

    rows = docs_cms_heavy_hitters(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 20
    assert all(r.cms_est >= r.exact_cnt for r in rows)
    assert all(r.inflation == r.cms_est - r.exact_cnt for r in rows)


def test_editdist_pairs_lossless_including_short_bucket(spark):
    """Count-filter + length-filter candidate chain must equal naive
    all-pairs levenshtein — including strings too short for the q-gram
    bound to prune (routed through the short-bucket cross pair)."""
    from hrfco_data_pipeline_spark.plans import llm

    rows = [
        (1, DOC),
        (2, DOC.replace("quick", "quack")),   # tiny prefix edit
        (3, FAR),
        (4, "abc"),                            # short bucket
        (5, "abd"),                            # ed 1 from 4
        (6, "abcdefghijklmnop"),               # len 16 (short bucket)
        (7, "abcdefghijklmnoq"),               # ed 1 from 6
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    import hrfco_data_pipeline_spark.sources.tables as tables

    orig = tables.load_table
    try:
        tables_patch = lambda spark_, sf_dir, name: docs
        llm.load_table = tables_patch
        got = {
            (r.doc_a, r.doc_b): r.dist
            for r in llm.docs_editdist_pairs(spark, "unused").collect()
        }
    finally:
        llm.load_table = orig

    p = docs.selectExpr("doc_id", "substring(trim(text), 1, 64) as s")
    naive = (
        p.alias("x")
        .join(p.alias("y"), F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.levenshtein("x.s", "y.s").alias("dist"),
        )
        .filter(F.col("dist") <= 8)
    )
    want = {(r.doc_a, r.doc_b): r.dist for r in naive.collect()}
    assert got == want
    assert (4, 5) in got and got[(4, 5)] == 1   # short-bucket pair found
    assert (6, 7) in got and got[(6, 7)] == 1


def test_pq_adc_topk_contract(spark):
    """PQ ADC scan: 5 ranked rows per query, non-negative distances,
    monotone rank-distance order within each query."""
    from collections import defaultdict

    from hrfco_data_pipeline_spark.plans.llm import pq_adc_topk

    rows = pq_adc_topk(spark, "/root/testdata/sf0.001").collect()
    by_q = defaultdict(list)
    for r in rows:
        assert r.approx_dist >= 0.0
        by_q[r.query_id].append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        dists = [r.approx_dist for r in rs]
        assert dists == sorted(dists)
        assert q not in {r.neighbor_id for r in rs}


def test_editdist_prefix_variant_matches_full_variant(spark):
    """Ed-Join positional prefix must produce the identical pair set as
    the full q-gram count-filter variant (both lossless vs naive)."""
    from hrfco_data_pipeline_spark.plans import llm

    rows = [
        (1, DOC),
        (2, DOC.replace("quick", "quack")),
        (3, FAR),
        (4, "abc"),
        (5, "abd"),
        (6, DOC.replace("the", "thy", 2)),
        (7, "abcdefghijklmnop"),
        (8, "abcdefghijklmnoq"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    orig = llm.load_table
    try:
        llm.load_table = lambda spark_, sf_dir, name: docs
        full = {
            (r.doc_a, r.doc_b): r.dist
            for r in llm.docs_editdist_pairs(spark, "unused").collect()
        }
        pref = {
            (r.doc_a, r.doc_b): r.dist
            for r in llm.docs_editdist_prefix_pairs(spark, "unused").collect()
        }
    finally:
        llm.load_table = orig
    assert pref == full and (4, 5) in pref
