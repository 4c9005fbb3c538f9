"""Semantics pins for the r7 operators: brute-force twins on tiny
inputs where the distributed construction could silently drift
(interval-union coverage, overlapping framing, neighbor Jaccard)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hrfco_data_pipeline_spark.operators.multimodal import (
    frame_windows,
    to_multimodal,
)


def test_frame_windows_matches_slow_python(spark):
    docs = spark.createDataFrame(
        [
            (1, "a" * 200, "en", "s", 200),
            (2, "b" * 64, "en", "s", 64),  # exactly one window
            (3, "c" * 63, "en", "s", 63),  # no full window
            (4, "d" * 95, "en", "s", 95),  # one window, tail dropped
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = {
        (r.doc_id, r.win_idx): r.energy
        for r in frame_windows(
            to_multimodal(docs), frame_bytes=64
        ).collect()
    }
    want = {}
    for doc_id, text in [(1, "a" * 200), (2, "b" * 64), (3, "c" * 63), (4, "d" * 95)]:
        b = text.encode()
        w = 0
        while w * 32 + 64 <= len(b):
            want[(doc_id, w)] = sum(b[w * 32 : w * 32 + 64])
            w += 1
    assert got == want
    assert not any(d == 3 for d, _ in got)  # sub-frame doc omitted


def test_frame_windows_rejects_bad_params(spark):
    import pytest

    docs = spark.createDataFrame(
        [(1, "x", "en", "s", 1)], ["doc_id", "text", "lang", "source", "n_chars"]
    )
    with pytest.raises(ValueError):
        frame_windows(to_multimodal(docs), frame_bytes=0)


def test_substring_dedup_interval_union_coverage(spark, tmp_path):
    """Two docs share one long duplicated run; a third is unique. The
    dup-token count must be the UNION of the 8-gram windows (12 tokens
    for an 12-token shared run -> 5 duplicated starts covering 12
    tokens), not 5 * 8 = 40."""
    from hrfco_data_pipeline_spark.plans.llm import docs_substring_dedup

    shared = " ".join(f"w{i}" for i in range(12))
    rows = [
        (1, shared + " xx1 yy1 zz1", "en", "sA", 0),
        (2, shared + " xx2 yy2 zz2", "en", "sA", 0),
        (3, " ".join(f"u{i}" for i in range(15)), "en", "sB", 0),
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.source: r
        for r in docs_substring_dedup(spark, str(tmp_path)).collect()
    }
    a = out["sA"]
    assert a.n_docs == 2 and a.total_tokens == 30
    assert a.dup_docs == 2
    # each doc: duplicated starts 0..4, union = [0, 12) = 12 tokens
    assert a.dup_tokens == 24
    assert abs(a.dup_token_frac - 24 / 30) < 1e-15
    b = out["sB"]
    assert b.dup_docs == 0 and b.dup_tokens == 0


def test_copurchase_jaccard_matches_brute_force(spark, tmp_path):
    """Tiny co-purchase graph: recompute neighbor-set Jaccard with
    Python sets and compare every reported pair."""
    from hrfco_data_pipeline_spark.plans.relational import (
        copurchase_jaccard_parts,
    )

    # orders repeating part pairs so support >= 2 edges exist
    rows = []
    orders = [
        [1, 2, 3],
        [1, 2, 3],
        [2, 3, 4],
        [2, 3, 4],
        [1, 4, 5],
        [1, 4, 5],
        [3, 5],
        [3, 5],
    ]
    for ok, parts in enumerate(orders):
        for ln, p in enumerate(parts):
            rows.append((ok, p, ln + 1))
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey", "l_linenumber"])
    li.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    got = {
        (r.a, r.b): (r.n_common, r.deg_a, r.deg_b, r.jaccard)
        for r in copurchase_jaccard_parts(spark, str(tmp_path)).collect()
    }

    # brute force
    from collections import defaultdict
    from itertools import combinations

    pair_count = defaultdict(int)
    for parts in orders:
        for u, v in combinations(sorted(set(parts)), 2):
            pair_count[(u, v)] += 1
    nbrs = defaultdict(set)
    for (u, v), c in pair_count.items():
        if c >= 2:
            nbrs[u].add(v)
            nbrs[v].add(u)
    want = {}
    nodes = sorted(nbrs)
    for a, b in combinations(nodes, 2):
        common = len(nbrs[a] & nbrs[b])
        if common >= 2:
            want[(a, b)] = (
                common,
                len(nbrs[a]),
                len(nbrs[b]),
                common / (len(nbrs[a]) + len(nbrs[b]) - common),
            )
    assert got == want and len(want) > 0


def test_copurchase_jaccard_hot_vertex_salted_fanout(spark, tmp_path):
    """r7 advisor item: a hot middle vertex must not put its deg^2
    wedge block behind one join key. Star graph through two hubs
    (deg 30 each): the salted plan must (a) return exactly the
    unsalted pair set, (b) carry _wsalt in the wedge join key, and
    (c) scatter the hub's s1 rows across several (u, salt) groups
    with a bounded max group size."""
    from pyspark.sql import functions as F

    from hrfco_data_pipeline_spark.plans.relational import (
        copurchase_jaccard_parts,
    )

    rows = []
    ok = 0
    for hub in (0, 1000):
        for v in range(1, 31):
            for _ in range(2):  # support-2 edges hub—v
                rows.append((ok, hub, 1))
                rows.append((ok, v, 2))
                ok += 1
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey", "l_linenumber"])
    li.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    salted = copurchase_jaccard_parts(spark, str(tmp_path), wedge_salt=8)
    plain = copurchase_jaccard_parts(spark, str(tmp_path), wedge_salt=1)
    got = sorted(tuple(r) for r in salted.collect())
    want = sorted(tuple(r) for r in plain.collect())
    # every spoke pair shares both hubs (C(30,2) pairs, n_common=2)
    # plus the hub pair itself, which shares all 30 spokes
    assert got == want and len(got) == 436
    assert all(r[2] == 2 for r in got if r[:2] != (0, 1000))
    assert (0, 1000, 30) in {r[:3] for r in got}

    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "_wsalt" in plan

    # the scatter the plan performs: hub spokes split by pmod(xxhash64)
    groups = (
        spark.createDataFrame([(v,) for v in range(1, 31)], ["v"])
        .groupBy(F.pmod(F.xxhash64("v"), F.lit(8)).alias("s"))
        .agg(F.count("*").alias("c"))
        .collect()
    )
    assert len(groups) >= 4  # spread across several salt buckets
    assert max(g.c for g in groups) <= 12  # no bucket rebuilds deg^2


def test_overlap_join_matches_theta_join(spark):
    """Bucketed interval join vs the naive theta join on random-ish
    deterministic intervals spanning multiple buckets, including
    point intervals and exact-touch boundaries (closed semantics)."""
    from pyspark.sql import functions as F

    from hrfco_data_pipeline_spark.operators.intervals import overlap_join

    left = spark.range(60).select(
        F.col("id").alias("lid"),
        ((F.col("id") * 733) % 500).alias("ls"),
        ((F.col("id") * 733) % 500 + (F.col("id") * 97) % 180).alias("le"),
    )
    right = spark.range(40).select(
        F.col("id").alias("rid"),
        ((F.col("id") * 911) % 520).alias("rs"),
        ((F.col("id") * 911) % 520 + (F.col("id") * 53) % 160).alias("re"),
    )
    got = sorted(
        (r.lid, r.rid)
        for r in overlap_join(
            left, right, "ls", "le", "rs", "re", bucket_us=64
        ).collect()
    )
    want = sorted(
        (r.lid, r.rid)
        for r in left.join(
            right, (F.col("ls") <= F.col("re")) & (F.col("rs") <= F.col("le"))
        ).collect()
    )
    assert got == want and len(want) > 0
    # each overlapping pair claimed exactly once (no bucket dups)
    assert len(got) == len(set(got))


def test_overlap_join_negative_and_huge_longs_and_inverted(spark):
    """r7 advisor item: bucket ids must use integer arithmetic (double
    division is exact only below 2^53 — boundary values near the top
    of the long range used to mis-bucket) and must floor, not
    truncate, for negative starts; inverted intervals (end < start)
    must be dropped, not exploded into a descending bucket list."""
    from pyspark.sql import functions as F

    from hrfco_data_pipeline_spark.operators.intervals import overlap_join

    base = 4_611_686_018_427_387_904  # 2^62: double(2^62 + small) rounds
    rows_l = [
        (0, -130, -70),          # negative interval (floor-div path)
        (1, base + 1, base + 5), # huge longs, same bucket
        (2, 10, 20),
        (3, 50, 40),             # inverted: must be dropped
    ]
    rows_r = [
        (0, -100, -90),          # overlaps lid 0
        (1, base + 3, base + 9), # overlaps lid 1
        (2, 21, 30),             # touches nothing (closed: 20 < 21)
        (3, 45, 35),             # inverted: must be dropped
    ]
    left = spark.createDataFrame(rows_l, ["lid", "ls", "le"])
    right = spark.createDataFrame(rows_r, ["rid", "rs", "re"])
    got = sorted(
        (r.lid, r.rid)
        for r in overlap_join(
            left, right, "ls", "le", "rs", "re", bucket_us=64
        ).collect()
    )
    assert got == [(0, 0), (1, 1)]


def test_overlap_join_plan_is_equi_join_not_cartesian(spark):
    from pyspark.sql import functions as F

    from hrfco_data_pipeline_spark.operators.intervals import overlap_join

    left = spark.range(100).select(
        F.col("id").alias("lid"), F.col("id").alias("ls"), (F.col("id") + 5).alias("le")
    )
    right = spark.range(100).select(
        F.col("id").alias("rid"), F.col("id").alias("rs"), (F.col("id") + 5).alias("re")
    )
    plan = (
        overlap_join(left, right, "ls", "le", "rs", "re", bucket_us=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
