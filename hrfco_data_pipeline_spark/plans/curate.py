"""End-to-end corpus curation workflow — the materialized composition
of the certified curation operators, producing a training-ready
sharded corpus plus a per-stage funnel report.

Stages (each individually oracle-checked via its `queries()` twin):

1. normalize      — operators/textnorm.normalize_text (zero-shuffle)
2. rule gate      — plans/llm.quality_score_expr >= 0.7
3. model gate     — logistic hashed-feature score, z >= 0
                    (docs_model_quality_score's decision boundary)
4. exact dedup    — md5 content hash, min-doc_id survivor
5. near dedup     — MinHash banding → connected components → min-id
                    survivor (operators/dedup, the production
                    xxhash64 kernels)
6. decontaminate  — 8-gram overlap vs the eval split (broadcast semi)
7. leakage split  — near-dup clusters routed by CLUSTER ROOT hash
8. curriculum     — per-source hash permutation, round-robin positions
9. write          — parquet partitioned by (split, shard)

Scale shape: every stage is a bounded-key shuffle or map-side filter;
the near-dedup pair graph never materializes all-pairs (banded LSH);
the final write partitions by split/shard so training readers prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hrfco_data_pipeline_spark.functions.hints import parallelize_small_scan
from hrfco_data_pipeline_spark.sources.tables import load_table


def curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
) -> dict[str, int]:
    """Run the full curation DAG and write the training corpus.

    Returns the funnel report {stage: surviving_docs}. The output at
    ``out_dir`` is parquet partitioned by (split, shard ∈ 0..3) with columns
    (doc_id, text, lang, source, n_toks, position).
    """
    from hrfco_data_pipeline_spark.operators.dedup import (
        connected_components,
        minhash_dedup,
    )
    from hrfco_data_pipeline_spark.operators.sampling import hash_bucket
    from hrfco_data_pipeline_spark.operators.textnorm import normalize_text
    from hrfco_data_pipeline_spark.plans.llm import quality_score_expr

    report: dict[str, int] = {}
    docs = parallelize_small_scan(load_table(spark, sf_dir, "documents"))
    report["input"] = docs.count()

    # 1-3: normalize + rule gate + model gate (one scan, no shuffle)
    normed = docs.select(
        "doc_id",
        "lang",
        "source",
        normalize_text("text").alias("text"),
    ).filter(F.length("text") > 0)
    toks = F.split(F.col("text"), r"\s+")
    gated = normed.filter(quality_score_expr(toks) >= 0.7)
    bucket = (
        F.conv(F.substring(F.md5(F.lower(F.col("tok"))), 1, 15), 16, 10)
        .cast("long")
        % 256
    )
    w_b = (
        F.conv(
            F.substring(F.md5(F.col("b").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % 2001
        - 1000
    ).cast("double") / 1000.0
    z = (
        gated.select("doc_id", F.explode(toks).alias("tok"))
        .select("doc_id", bucket.alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
        .withColumn("w", w_b)
        .groupBy("doc_id")
        .agg(F.sum(F.col("c").cast("double") * F.col("w")).alias("zs"))
        .filter(F.col("zs") >= 0)
        .select("doc_id")
    )
    gated = gated.join(z, "doc_id", "left_semi").persist()
    report["quality_gated"] = gated.count()

    # 4: exact dedup (min-doc_id survivor per content hash)
    hashed = gated.withColumn("h", F.md5(F.lower("text")))
    wmin = Window.partitionBy("h").orderBy("doc_id")
    exact = (
        hashed.withColumn("rk", F.row_number().over(wmin))
        .filter(F.col("rk") == 1)
        .drop("rk", "h")
        .persist()
    )
    report["exact_deduped"] = exact.count()

    # 5: near dedup — banded MinHash pairs → components → min-id keeps;
    # every clustered doc also learns its cluster root for stage 7
    pairs = minhash_dedup(exact, threshold=0.5)
    comp = connected_components(pairs, distinct_pairs=True)
    rooted = exact.join(
        comp.select(F.col("id").alias("doc_id"), "component"),
        "doc_id",
        "left",
    ).withColumn("root", F.coalesce("component", "doc_id"))
    survivors = rooted.filter(
        F.col("component").isNull() | (F.col("doc_id") == F.col("component"))
    ).persist()
    report["near_deduped"] = survivors.count()

    # 6: decontamination — drop docs sharing any 8-gram with the eval
    # doc set (doc_id % 97 == 0 stands in for the benchmark corpus)
    grams = lambda df: df.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(toks) >= 8,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 7),
                    lambda i: F.xxhash64(
                        F.concat_ws(" ", F.slice(toks, i, F.lit(8)))
                    ),
                ),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("g"),
    )
    eval_grams = grams(survivors.filter(F.col("doc_id") % 97 == 0)).select(
        "g"
    ).distinct()
    contaminated = (
        grams(survivors.filter(F.col("doc_id") % 97 != 0))
        .join(F.broadcast(eval_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = survivors.filter(F.col("doc_id") % 97 != 0).join(
        contaminated, "doc_id", "left_anti"
    )
    report["decontaminated"] = clean.count()

    # 7-8: leakage-safe split (by cluster root) + curriculum position
    pct = hash_bucket(F.col("root"), 100)
    split = (
        F.when(pct < 80, "train").when(pct < 90, "val").otherwise("test")
    )
    wsrc = Window.partitionBy("source").orderBy(
        F.asc(hash_bucket("doc_id", 1 << 20)), F.asc("doc_id")
    )
    final = clean.select(
        "doc_id",
        "text",
        "lang",
        "source",
        F.size(toks).alias("n_toks"),
        split.alias("split"),
        (F.row_number().over(wsrc) - 1).alias("rank_in_source"),
    ).withColumn(
        "position",
        F.col("rank_in_source") * 20
        + F.regexp_replace("source", "[^0-9]", "").cast("long"),
    ).withColumn("shard", hash_bucket("doc_id", 4))

    # 9: sharded write — readers prune on (split, shard)
    (
        final.drop("rank_in_source")
        .write.mode("overwrite")
        .partitionBy("split", "shard")
        .parquet(out_dir)
    )
    report["written"] = spark.read.parquet(out_dir).count()
    for df in (gated, exact, survivors):
        df.unpersist()
    return report


def corpus_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Version diff between two corpus snapshots: per-doc status in
    {added, removed, changed, unchanged} from a full-outer join on the
    id with content-hash compare — the release artifact a corpus
    rebuild publishes ("what changed since v1"). One join keyed on the
    id; hashes are computed in the same scan, so the cost is two scans
    + one shuffle regardless of how much changed."""
    oh = old.select(
        F.col("doc_id").alias("old_id"),
        F.md5(F.lower(F.col("text"))).alias("h_old"),
    )
    nh = new.select(
        F.col("doc_id").alias("new_id"),
        F.md5(F.lower(F.col("text"))).alias("h_new"),
    )
    j = oh.join(nh, oh["old_id"] == nh["new_id"], "full_outer")
    status = (
        F.when(F.col("old_id").isNull(), "added")
        .when(F.col("new_id").isNull(), "removed")
        .when(F.col("h_old") != F.col("h_new"), "changed")
        .otherwise("unchanged")
    )
    return j.select(
        F.coalesce("old_id", "new_id").alias("doc_id"),
        status.alias("status"),
    )
