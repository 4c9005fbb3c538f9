"""Batch ≡ streaming equivalence for the LLM-corpus curation chain."""

from __future__ import annotations

import json

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from hrfco_data_pipeline_spark.sources.tables import load_table
from hrfco_data_pipeline_spark.streaming.curation import curate_documents

SF = "/root/testdata/sf0.001"

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def test_streaming_curation_matches_batch(spark, tmp_path):
    docs = load_table(spark, SF, "documents")

    # batch twin
    batch = curate_documents(docs)
    batch_hashes = {r["text_hash"] for r in batch.select("text_hash").collect()}
    assert batch.count() == len(batch_hashes) > 0  # dedup'd by construction
    # quality gate actually drops something
    assert batch.count() < docs.count()

    # stage the same docs as JSON lines and re-run under a file stream
    src = tmp_path / "src"
    src.mkdir()
    rows = [r.asDict() for r in docs.collect()]
    (src / "docs.json").write_text("\n".join(json.dumps(r) for r in rows))

    stream = spark.readStream.schema(DOC_SCHEMA).json(str(src))
    curated = curate_documents(stream)
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    q = (
        curated.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(str(out))
    got_hashes = {r["text_hash"] for r in got.select("text_hash").collect()}
    assert got_hashes == batch_hashes
    assert got.count() == len(got_hashes)
    # redaction/normalization applied identically: spot-check no raw
    # whitespace runs survive
    assert got.filter(F.col("text").rlike(r"\s\s")).count() == 0


def test_cms_counters_stream_equals_batch(spark, tmp_path):
    """The CMS counter matrix is an incremental-merge aggregation over
    a FIXED 3x1024 key space: built as a streaming aggregation (two
    file batches, complete mode) it must equal the batch counters over
    the union — the mergeability claim behind sketch rollups, pinned
    end to end."""
    import pyspark.sql.functions as F

    from hrfco_data_pipeline_spark.plans.llm import cms_counters

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs_stream")
    # two separate micro-batch files
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(f"{src}/b0")
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(f"{src}/b1")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        cms_counters(stream)
        .writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_cms"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r.j, r.pos): r.c for r in spark.sql("SELECT * FROM cms_stream").collect()
    }
    want = {(r.j, r.pos): r.c for r in cms_counters(docs).collect()}
    assert got == want and len(want) > 0


def test_model_gate_stream_equals_batch(spark, tmp_path):
    """The logistic gate is a stateless per-row fold, so its stream and
    batch survivor sets must be identical (and a strict subset of the
    rule-gated corpus)."""
    docs = load_table(spark, SF, "documents")
    rule_only = curate_documents(docs)
    batch = curate_documents(docs, model_gate=True)
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    rule_ids = {r.doc_id for r in rule_only.select("doc_id").collect()}
    assert batch_ids <= rule_ids

    src = tmp_path / "src"
    src.mkdir()
    rows = [r.asDict() for r in docs.collect()]
    (src / "docs.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = spark.readStream.schema(DOC_SCHEMA).json(str(src))
    curated = curate_documents(stream, model_gate=True)
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        curated.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_ids = {r.doc_id for r in spark.read.parquet(str(out)).collect()}
    assert got_ids == batch_ids


def test_dsir_online_scoring_stream_equals_batch(spark, tmp_path):
    """Train-offline/score-online: the 256-bucket ratio table comes
    from a batch pass; the stream scores each doc with a stateless
    fold over the embedded table — identical values to the batch run
    of the same expression."""
    from pyspark.sql import functions as FF

    from hrfco_data_pipeline_spark.streaming.curation import (
        dsir_log_ratios,
        dsir_weight_expr,
    )

    docs = load_table(spark, SF, "documents")
    ratios = dsir_log_ratios(docs)
    assert len(ratios) == 256 and any(x != 0.0 for x in ratios)
    toks = FF.split(FF.trim(FF.col("text")), r"\s+")
    batch = {
        r.doc_id: r.w
        for r in docs.select(
            "doc_id", dsir_weight_expr(toks, ratios).alias("w")
        ).collect()
    }

    src = tmp_path / "src"
    src.mkdir()
    rows = [r.asDict() for r in docs.collect()]
    (src / "docs.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = spark.readStream.schema(DOC_SCHEMA).json(str(src))
    scored = stream.select(
        "doc_id", dsir_weight_expr(toks, ratios).alias("w")
    )
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        scored.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: r.w for r in spark.read.parquet(str(out)).collect()
    }
    assert got == batch  # bit-identical: same fold, same literal table


def test_lm_stats_stream_merges_to_batch_counts(spark, tmp_path):
    """Incremental LM-count maintenance: after streaming the corpus in
    multiple micro-batches, the stored bigram table must equal the
    single-pass batch counts exactly; a replayed batch id must no-op
    (exactly-once merge)."""
    from hrfco_data_pipeline_spark.sources.tables import load_table
    from hrfco_data_pipeline_spark.streaming.curation import (
        bigram_counts,
        lm_stats_stream,
        merge_lm_counts,
    )

    docs = load_table(spark, SF, "documents")
    src = str(tmp_path / "docs_src")
    # two part files -> two micro-batches under maxFilesPerTrigger=1
    docs.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table = str(tmp_path / "lm_counts")
    q = (
        lm_stats_stream(stream, table)
        .option("checkpointLocation", str(tmp_path / "lm-ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {r.bg: r.c for r in spark.read.parquet(table).collect()}
    want = {r.bg: r.c for r in bigram_counts(docs).collect()}
    assert want and got == want
    # replayed batch id: merge must no-op, counts unchanged
    applied = int(open(f"{table}/_committed").read())
    junk = bigram_counts(docs.limit(5))
    merge_lm_counts(spark, table, junk, applied)
    again = {r.bg: r.c for r in spark.read.parquet(table).collect()}
    assert again == want


def test_merge_lm_counts_recovers_mid_swap_crash(spark, tmp_path):
    """Crash between the two commit renames (live table already moved
    to backup, committed staging not yet renamed in): the next merge
    must roll FORWARD from staging — not rebuild from the new batch —
    so no accumulated count is lost and the batch id inside staging
    still suppresses the replay."""
    import os
    import shutil

    from hrfco_data_pipeline_spark.sources.tables import load_table
    from hrfco_data_pipeline_spark.streaming.curation import (
        bigram_counts,
        merge_lm_counts,
    )

    docs = load_table(spark, SF, "documents")
    table = str(tmp_path / "lm")
    merge_lm_counts(spark, table, bigram_counts(docs), 0)
    want = {r.bg: r.c for r in spark.read.parquet(table).collect()}

    # simulate the crash window: live -> backup done, staging (the
    # committed batch-1 merge == batch-0 state here) not yet swapped in
    shutil.copytree(table, f"{table}__staging__")
    os.rename(table, f"{table}__old__")

    # replayed batch 0 arrives: recovery must roll forward, then the
    # restored _committed marker (0) suppresses the replay -> counts unchanged
    merge_lm_counts(spark, table, bigram_counts(docs.limit(3)), 0)
    got = {r.bg: r.c for r in spark.read.parquet(table).collect()}
    assert got == want
    assert not os.path.exists(f"{table}__staging__")
    assert not os.path.exists(f"{table}__old__")


def test_merge_lm_counts_rolls_back_uncommitted_staging(spark, tmp_path):
    """Crash mid-write of the staging dir (no _committed marker inside)
    after the live table was already moved aside by a previous crash:
    recovery must restore the backup, not trust the half-written
    staging and not start from scratch."""
    import os
    import shutil

    from hrfco_data_pipeline_spark.sources.tables import load_table
    from hrfco_data_pipeline_spark.streaming.curation import (
        bigram_counts,
        merge_lm_counts,
    )

    docs = load_table(spark, SF, "documents")
    table = str(tmp_path / "lm")
    merge_lm_counts(spark, table, bigram_counts(docs), 0)
    base = {r.bg: r.c for r in spark.read.parquet(table).collect()}

    os.rename(table, f"{table}__old__")
    os.makedirs(f"{table}__staging__")  # half-written: no marker, no data

    merge_lm_counts(spark, table, bigram_counts(docs), 1)  # retry merges onto restored state
    got = {r.bg: r.c for r in spark.read.parquet(table).collect()}
    assert got == {k: 2 * v for k, v in base.items()}
    assert int(open(f"{table}/_committed").read()) == 1


def test_merge_stations_recovers_mid_swap_crash(spark, tmp_path):
    """Same crash window for the station upsert (sinks/writers.py).
    Commit evidence is merge_stations' own ``_committed`` marker, not
    the Hadoop committer's deployment-dependent ``_SUCCESS``: a staged
    dir WITH the marker rolls forward even if _SUCCESS is absent; one
    WITHOUT it rolls back even if _SUCCESS is present."""
    import os
    import shutil

    from hrfco_data_pipeline_spark.sinks.writers import (
        merge_stations,
        recover_swap,
    )

    table = str(tmp_path / "stations")
    df = spark.createDataFrame(
        [("A", 1.0), ("B", 2.0)], ["wlobscd", "val"]
    )
    merge_stations(spark, table, df)

    # crash BETWEEN the renames, staging fully committed: the staging
    # dir carries _committed (strip _SUCCESS to prove it's not what
    # the recovery keys on) -> roll FORWARD to the staged result
    shutil.copytree(table, f"{table}__staging__")
    os.rename(table, f"{table}__old__")
    forward_marker = f"{table}__staging__/_committed"
    assert os.path.exists(forward_marker)  # written by merge_stations
    success = f"{table}__staging__/_SUCCESS"
    if os.path.exists(success):
        os.remove(success)
    assert recover_swap(table) == "forward"
    assert not os.path.exists(f"{table}__old__")

    # crash DURING the staging write: _SUCCESS may exist (committer
    # finished) but _committed does not -> roll BACK to the backup,
    # then the retried merge lands the update
    shutil.copytree(table, f"{table}__staging__")
    os.remove(forward_marker)
    open(success, "w").close()
    os.rename(table, f"{table}__old__")

    upd = spark.createDataFrame([("B", 9.0)], ["wlobscd", "val"])
    merge_stations(spark, table, upd)
    got = {r.wlobscd: r.val for r in spark.read.parquet(table).collect()}
    assert got == {"A": 1.0, "B": 9.0}
    assert not os.path.exists(f"{table}__old__")
    assert os.path.exists(f"{table}/_committed")


def test_schema_drift_stream_equals_batch_face(spark, tmp_path):
    """Streaming drift monitor: stage the wire as one file per
    1000-record bucket (micro-batch i == batch-face bucket i under
    maxFilesPerTrigger=1), run the foreachBatch merge, and the report
    over the accumulated partials must equal plans/wire's batch face
    row for row. A replayed batch id must no-op."""
    import os

    from hrfco_data_pipeline_spark.plans.wire import (
        synthetic_wire,
        wire_schema_drift,
        WIRE_SCHEMA,
    )
    from hrfco_data_pipeline_spark.streaming.curation import (
        drift_report_from_counts,
        read_appended,
        merge_presence_counts,
        schema_drift_stream,
        wire_presence_counts,
    )

    src = str(tmp_path / "wire_src")
    os.makedirs(src)
    rows = synthetic_wire(spark, SF).orderBy("obs_id").collect()
    buckets: dict[int, list[str]] = {}
    for r in rows:
        buckets.setdefault(r.obs_id // 1000, []).append(r.value)
    for b, vals in sorted(buckets.items()):
        with open(os.path.join(src, f"bucket-{b:05d}.txt"), "w") as fh:
            fh.write("\n".join(vals) + "\n")

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    rec = F.from_json(
        "value",
        WIRE_SCHEMA,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    parsed = raw.select(rec.alias("rec")).select("rec.*")

    table = str(tmp_path / "presence_counts")
    q = (
        schema_drift_stream(parsed, table)
        .option("checkpointLocation", str(tmp_path / "drift-ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    cols = [
        "batch", "field", "n_records", "n_present",
        "presence_rate", "global_rate", "drifted",
    ]
    got = sorted(
        tuple(r) for r in drift_report_from_counts(spark, table)
        .select(*cols).collect()
    )
    want = sorted(
        tuple(r) for r in wire_schema_drift(spark, SF).select(*cols).collect()
    )
    assert want and got == want

    # replay protection: re-merging an already-applied batch id no-ops
    n_before = read_appended(spark, table).count()
    replay = wire_presence_counts(
        spark.createDataFrame(rows[:100], ["obs_id", "value"]).select(
            rec.alias("rec")
        ).select("rec.*"),
        0,
    )
    merge_presence_counts(spark, table, replay, 0)
    assert read_appended(spark, table).count() == n_before


def test_empty_microbatch_partial_cannot_poison_drift_report(spark, tmp_path):
    """An empty or all-corrupt micro-batch used to store a partial
    with n=0 and NULL p_* sums; drift_report then emitted rows with
    NULL presence_rate and NULL drifted (0/0). The partial must carry
    p_*=0 (not NULL), and the report must drop n=0 partials entirely
    — rows the batch face can never produce (r7 advisor item)."""
    from hrfco_data_pipeline_spark.plans.wire import WIRE_SCHEMA, drift_report
    from hrfco_data_pipeline_spark.streaming.curation import (
        wire_presence_counts,
    )

    rec = F.from_json(
        "value",
        WIRE_SCHEMA,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    all_corrupt = (
        spark.createDataFrame(
            [(1, "{not json"), (2, "also not json")], ["obs_id", "value"]
        )
        .select(rec.alias("rec"))
        .select("rec.*")
    )
    partial = wire_presence_counts(all_corrupt, 7)
    [row] = partial.collect()
    assert row.n == 0
    assert (row.p_wlobscd, row.p_ymdhm, row.p_wl, row.p_fw) == (0, 0, 0, 0)

    ok_batch = (
        spark.createDataFrame(
            [(3, '{"wlobscd":"A","ymdhm":"202401010000","wl":"1.2","fw":"3.4"}')],
            ["obs_id", "value"],
        )
        .select(rec.alias("rec"))
        .select("rec.*")
    )
    per = partial.unionByName(wire_presence_counts(ok_batch, 8))
    report = drift_report(per).collect()
    assert {r.batch for r in report} == {8}
    assert all(
        r.presence_rate is not None and r.drifted is not None for r in report
    )


def test_bm25_index_stream_equals_batch_face(spark, tmp_path):
    """Stream the documents table through the BM25 index maintainer
    in 4-file micro-batches; the stored-postings retrieval face must
    return docs_bm25_topk's rows exactly. A replayed batch id must
    no-op (exactly-once)."""
    from hrfco_data_pipeline_spark.plans.llm import bm25_postings, docs_bm25_topk
    from hrfco_data_pipeline_spark.streaming.curation import (
        bm25_index_stream,
        bm25_topk_from_index,
        merge_postings,
        read_appended,
    )

    docs = load_table(spark, SF, "documents")
    src = str(tmp_path / "docs_src")
    docs.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table = str(tmp_path / "bm25_postings")
    q = (
        bm25_index_stream(stream, table)
        .option("checkpointLocation", str(tmp_path / "bm25-ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    cols = ["query_id", "rank", "doc_id", "score", "n_terms"]
    got = sorted(
        tuple(r)
        for r in bm25_topk_from_index(spark, table).select(*cols).collect()
    )
    want = sorted(
        tuple(r) for r in docs_bm25_topk(spark, SF).select(*cols).collect()
    )
    assert want and got == want

    # replay protection: re-merging an already-applied batch id no-ops
    n_before = read_appended(spark, table).count()
    merge_postings(spark, table, bm25_postings(docs.limit(5)), 0)
    assert read_appended(spark, table).count() == n_before


def test_kmv_sketch_stream_equals_batch_face(spark, tmp_path):
    """Stream events in 4-file micro-batches through the KMV sketch
    maintainer; the serve face over the stored bottom-k partials must
    reproduce the batch face's sketch estimates exactly (sf0.01 so the
    150-user domain exceeds k=64 and the estimation branch runs, not
    the enumerate-all branch). Stored state stays bounded by
    batches·k·types. A replayed batch id must no-op (exactly-once)."""
    from pyspark.sql.types import DoubleType, TimestampNTZType

    from hrfco_data_pipeline_spark.plans.relational import events_kmv_setops
    from hrfco_data_pipeline_spark.streaming.curation import (
        kmv_batch_partials,
        kmv_setops_from_partials,
        kmv_sketch_stream,
        read_appended,
    )

    sf = "/root/testdata/sf0.01"
    ev = load_table(spark, sf, "events")
    src = str(tmp_path / "events_src")
    ev.repartition(4).write.parquet(src)

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampNTZType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table = str(tmp_path / "kmv_partials")
    q = (
        kmv_sketch_stream(stream, table)
        .option("checkpointLocation", str(tmp_path / "kmv-ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    # bounded state: <= 4 batches * 64 * 5 types rows
    n_rows = read_appended(spark, table).count()
    assert 0 < n_rows <= 4 * 64 * 5

    cols = ["type_a", "type_b", "kmv_a", "kmv_b", "kmv_union", "kmv_inter"]
    got = sorted(
        tuple(r)
        for r in kmv_setops_from_partials(spark, table).select(*cols).collect()
    )
    want = sorted(
        tuple(r) for r in events_kmv_setops(spark, sf).select(*cols).collect()
    )
    assert want and got == want
    # the estimation branch really ran (not the enumerate-all branch)
    assert any(r[2] != round(r[2]) for r in want)

    # replay protection: re-merging an already-applied batch id no-ops
    from hrfco_data_pipeline_spark.streaming.curation import _append_merge

    _append_merge(spark, table, kmv_batch_partials(ev.limit(50), 0), 0)
    assert read_appended(spark, table).count() == n_rows


def test_quantile_sample_stream_equals_batch_face(spark, tmp_path):
    """Stream events in 4-file micro-batches through the quantile
    sample maintainer; the serve face over the stored sample rows must
    reproduce the batch face's sample-arm estimates exactly (the
    sample predicate is a fixed hash threshold, so per-batch sample
    union == full-stream sample). Stored state stays ~1/64 of the
    stream. A replayed batch id must no-op (exactly-once)."""
    from pyspark.sql.types import DoubleType, TimestampNTZType

    from hrfco_data_pipeline_spark.plans.relational import (
        events_sampled_quantiles,
    )
    from hrfco_data_pipeline_spark.streaming.curation import (
        _append_merge,
        quantile_sample_batch,
        quantile_sample_stream,
        quantiles_from_samples,
        read_appended,
    )

    sf = "/root/testdata/sf0.01"
    ev = load_table(spark, sf, "events")
    src = str(tmp_path / "events_src")
    ev.repartition(4).write.parquet(src)

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampNTZType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table = str(tmp_path / "qsample")
    q = (
        quantile_sample_stream(stream, table)
        .option("checkpointLocation", str(tmp_path / "qs-ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    # bounded state: a 1/64 hash sample of the stream (loose 2x bound)
    n_total = ev.count()
    n_rows = read_appended(spark, table).count()
    assert 0 < n_rows <= max(64, 2 * n_total // 64)

    cols = ["event_type", "n_sample", "est_p50", "est_p90", "est_p99"]
    got = sorted(
        tuple(r)
        for r in quantiles_from_samples(spark, table).select(*cols).collect()
    )
    want = sorted(
        tuple(r)
        for r in events_sampled_quantiles(spark, sf).select(*cols).collect()
    )
    assert want and got == want

    # replayed batch id no-ops
    before = n_rows
    _append_merge(spark, table, quantile_sample_batch(ev, 0), 0)
    assert read_appended(spark, table).count() == before


def test_append_merge_incremental_layout_and_compaction(spark, tmp_path):
    """The _append_merge contract: per-batch I/O is O(batch) — each
    micro-batch lands as its own ``b<id>-…`` files instead of rewriting
    the accumulated table (whose cumulative I/O grew quadratically with
    stream length) — and once compact_every batches are appended the
    table folds flat. Replay must no-op BOTH while the batch files exist
    and AFTER compaction removed them (the carried _committed marker),
    and a commit a crash left midway must be undone, not read."""
    import os

    from hrfco_data_pipeline_spark.streaming.curation import (
        _append_merge,
        compact_appended,
        read_appended,
    )

    table = str(tmp_path / "appended")
    mk = lambda lo, n: spark.range(lo, lo + n).selectExpr("id", "id * 2 AS v")
    batches = lambda: sorted({n.split("-")[0] for n in os.listdir(table) if n.startswith("b")})
    marker = lambda: int(open(os.path.join(table, "_committed")).read())

    for b in range(4):
        _append_merge(spark, table, mk(10 * b, 5), b, compact_every=0)
    assert len(batches()) == 4  # one file set per batch, no rewrite
    assert read_appended(spark, table).count() == 20

    # replay while the batch files exist -> no-op
    _append_merge(spark, table, mk(0, 5), 2, compact_every=0)
    assert read_appended(spark, table).count() == 20

    # a commit that crashed after moving a file: the moved file and the
    # staging dir are removed on the next call, and the batch lands once
    os.makedirs(os.path.join(table, "_staging", "b000000000004"))
    with open(os.path.join(table, "b000000000004-part-00000.parquet"), "w") as fh:
        fh.write("torn")
    _append_merge(spark, table, mk(40, 5), 4, compact_every=0)
    assert not os.path.exists(os.path.join(table, "_staging"))
    assert read_appended(spark, table).count() == 25

    # compaction folds the batches flat, keeps every row, carries the id
    compact_appended(spark, table)
    assert batches() == []
    assert read_appended(spark, table).count() == 25
    assert marker() == 4

    # replay AFTER compaction (batch files gone) -> marker no-ops it
    _append_merge(spark, table, mk(0, 5), 4, compact_every=0)
    assert read_appended(spark, table).count() == 25

    # post-compaction appends mix flat files + new batch files
    _append_merge(spark, table, mk(50, 3), 5, compact_every=0)
    assert read_appended(spark, table).count() == 28
    assert len(batches()) == 1

    # auto-compaction trips at the threshold
    _append_merge(spark, table, mk(60, 2), 6, compact_every=2)
    assert batches() == []
    assert read_appended(spark, table).count() == 30
    assert marker() == 6


def test_lateness_monitor_stream_equals_batch_face(spark, tmp_path):
    """Stream events in 4 contiguous event_id ranges (micro-batch
    order == arrival order under maxFilesPerTrigger=1); the serve
    face's EXACT fields must equal events_watermark_lateness_audit
    row for row (the stream's per-batch prefix + stored-mark chain is
    the batch face's two-pass decomposition with micro-batches as
    buckets), and its estimated quantiles must equal the rank-rule
    quantiles of the batch-side 1/64 lateness sample. A replayed
    batch id must no-op both state tables."""
    import os
    import time as _time

    from pyspark.sql.types import DoubleType, TimestampNTZType

    from hrfco_data_pipeline_spark.plans.relational import (
        _disc_quantiles,
        events_watermark_lateness_audit,
        qsample_filter,
    )
    from hrfco_data_pipeline_spark.streaming.curation import (
        lateness_monitor_stream,
        lateness_report_from_state,
        lateness_state_update,
        read_appended,
    )

    sf = SF
    ev = load_table(spark, sf, "events")
    rows = ev.orderBy("event_id").collect()
    src = str(tmp_path / "events_src")
    os.makedirs(src)
    k = 4
    per = (len(rows) + k - 1) // k
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampNTZType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    now = _time.time()
    for i in range(k):
        chunk = rows[i * per : (i + 1) * per]
        path = os.path.join(src, f"part-{i:04d}")
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        os.utime(path, (now + i, now + i))
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (now + i, now + i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    table = str(tmp_path / "lateness_state")
    q = (
        lateness_monitor_stream(stream, table)
        .option("checkpointLocation", str(tmp_path / "lm-ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    report = {
        r.event_type: r for r in lateness_report_from_state(spark, table).collect()
    }
    batch = {
        r.event_type: r
        for r in events_watermark_lateness_audit(spark, sf).collect()
    }
    assert set(report) == set(batch)
    for t, b in batch.items():
        assert report[t].n == b.n
        assert report[t].n_late_10m == b.n_late_10m
        assert report[t].max_us == b.max_us

    # sampled quantiles == batch-side sample quantiles (same 1/64
    # qsample over the same lateness values)
    us = F.unix_micros(F.to_utc_timestamp("ts", "UTC"))
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, -1)
    lat = ev.select(
        "event_id",
        "event_type",
        F.greatest(
            F.lit(0), F.coalesce(F.max(us).over(w), F.lit(0)) - us
        ).alias("lateness_us"),
    )
    want = {
        r.event_type: r
        for r in _disc_quantiles(
            lat.filter(qsample_filter(F.col("event_id"))).select(
                "event_type", F.col("lateness_us").alias("value")
            ),
            ["event_type"],
            [0.5, 0.95, 0.99],
            "s_",
        ).collect()
    }
    for t, r in report.items():
        if r.n_sample is None:
            assert t not in want
            continue
        assert r.n_sample == want[t].s_n
        assert (r.est_p50_us, r.est_p95_us, r.est_p99_us) == (
            want[t].s_p50,
            want[t].s_p95,
            want[t].s_p99,
        )

    # replayed batch id no-ops both state tables
    n_part = read_appended(spark, os.path.join(table, "partials")).count()
    n_samp = read_appended(spark, os.path.join(table, "sample")).count()
    lateness_state_update(
        spark, table, spark.createDataFrame(rows[:per], schema), 0
    )
    assert read_appended(spark, os.path.join(table, "partials")).count() == n_part
    assert read_appended(spark, os.path.join(table, "sample")).count() == n_samp

    # PARTIAL replay: crash between the partials append and the sample
    # append of the LAST batch (partials b3 committed, sample b3 not).
    # The retried batch must reconstruct the same pre-batch mark as
    # the first attempt — i.e. exclude its own committed partials row
    # from the high-water max — and so rewrite the sample with values
    # identical to the uninterrupted run.
    import shutil

    want_sample = sorted(
        (r.event_type, r.lateness_us)
        for r in read_appended(spark, os.path.join(table, "sample")).collect()
    )
    last = k - 1
    sdir = os.path.join(table, "sample")
    for name in os.listdir(sdir):
        if name.startswith(f"b{last:012d}-"):
            os.remove(os.path.join(sdir, name))
    with open(os.path.join(sdir, "_committed"), "w") as fh:
        fh.write(str(last - 1))
    lateness_state_update(
        spark, table, spark.createDataFrame(rows[last * per :], schema), last
    )
    got_sample = sorted(
        (r.event_type, r.lateness_us)
        for r in read_appended(spark, os.path.join(table, "sample")).collect()
    )
    assert got_sample == want_sample


def test_tv_drift_stream_equals_batch_face(spark, tmp_path):
    """Stream the documents table in 4-file micro-batches through the
    TV-drift maintainer; the serve face over the stored count partials
    must equal docs_source_tv_distance row for row (counts merge by
    addition — order-free, unlike the lateness monitor). A replayed
    batch id must no-op."""
    from hrfco_data_pipeline_spark.plans.llm import (
        docs_source_tv_distance,
        source_bucket_counts,
    )
    from hrfco_data_pipeline_spark.streaming.curation import (
        _append_merge,
        read_appended,
        tv_drift_stream,
        tv_report_from_counts,
    )

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    src = str(tmp_path / "docs_src")
    docs.repartition(4).write.parquet(src)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table = str(tmp_path / "tv_counts")
    q = (
        tv_drift_stream(stream, table)
        .option("checkpointLocation", str(tmp_path / "tv-ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    cols = ["source_a", "source_b", "n_toks_a", "n_toks_b", "tv_distance"]
    got = sorted(
        tuple(r)
        for r in tv_report_from_counts(spark, table).select(*cols).collect()
    )
    want = sorted(
        tuple(r)
        for r in docs_source_tv_distance(spark, sf).select(*cols).collect()
    )
    assert want and got == want

    # replayed batch id no-ops
    before = read_appended(spark, table).count()
    _append_merge(spark, table, source_bucket_counts(docs.limit(10)), 0)
    assert read_appended(spark, table).count() == before


def test_scd2_ingest_stream_equals_batch_face(spark, tmp_path):
    """Stream orders in 4-file micro-batches through the SCD2 ingest;
    the derive-on-read serve face must reproduce
    customer_scd2_history row for row — regime splitting is
    order-free once all rows are stored (the window tail sorts by
    date, not arrival). A replayed batch id must no-op."""
    from pyspark.sql.types import TimestampNTZType

    from hrfco_data_pipeline_spark.plans.relational import (
        customer_scd2_history,
    )
    from hrfco_data_pipeline_spark.streaming.curation import (
        _append_merge,
        read_appended,
        scd2_history_from_store,
        scd2_ingest_stream,
    )

    sf = "/root/testdata/sf0.01"
    orders = load_table(spark, sf, "orders")
    src = str(tmp_path / "orders_src")
    keep = ["o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"]
    orders.select(*keep).repartition(4).write.parquet(src)

    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderpriority", StringType()),
            StructField("o_orderdate", TimestampNTZType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table = str(tmp_path / "scd2_store")
    q = (
        scd2_ingest_stream(stream, table)
        .option("checkpointLocation", str(tmp_path / "scd2-ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    cols = [
        "cust_key", "version", "priority",
        "valid_from", "valid_to", "is_current", "n_orders",
    ]
    got = sorted(
        tuple(r)
        for r in scd2_history_from_store(spark, table).select(*cols).collect()
    )
    want = sorted(
        tuple(r)
        for r in customer_scd2_history(spark, sf).select(*cols).collect()
    )
    assert want and got == want

    # replayed batch id no-ops
    before = read_appended(spark, table).count()
    _append_merge(
        spark, table, orders.select(
            "o_custkey", "o_orderkey", "o_orderpriority", "o_orderdate"
        ).limit(5), 0,
    )
    assert read_appended(spark, table).count() == before


def test_ks_drift_stream_equals_batch_face(spark, tmp_path):
    """Stream the events table in 4-file micro-batches through the
    KS-drift maintainer; the serve face over the stored count partials
    must equal events_ks_two_sample row for row (counts merge by
    addition — order-free). A replayed batch id must no-op."""
    from pyspark.sql.types import DoubleType, TimestampNTZType

    from hrfco_data_pipeline_spark.plans.relational import (
        events_ks_two_sample,
        events_type_value_counts,
    )
    from hrfco_data_pipeline_spark.streaming.curation import (
        _append_merge,
        ks_drift_stream,
        ks_report_from_counts,
        read_appended,
    )

    sf = "/root/testdata/sf0.01"
    ev = load_table(spark, sf, "events")
    src = str(tmp_path / "ev_src")
    ev.repartition(4).write.parquet(src)

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampNTZType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table = str(tmp_path / "ks_counts")
    q = (
        ks_drift_stream(stream, table)
        .option("checkpointLocation", str(tmp_path / "ks-ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    cols = ["event_type", "n_t", "n_rest", "d_stat", "d_at_value"]
    got = sorted(
        tuple(r)
        for r in ks_report_from_counts(spark, table).select(*cols).collect()
    )
    want = sorted(
        tuple(r)
        for r in events_ks_two_sample(spark, sf).select(*cols).collect()
    )
    assert want and got == want

    # replayed batch id no-ops
    before = read_appended(spark, table).count()
    _append_merge(spark, table, events_type_value_counts(ev.limit(10)), 0)
    assert read_appended(spark, table).count() == before


def test_cms_stream_equals_batch_sketch(spark, tmp_path):
    """Stream the documents table in 4-file micro-batches through the
    CMS maintainer; the merged counter store must be CELL-IDENTICAL to
    the batch sketch (CMS merges by addition), and the heavy-hitters
    probe served from the store must equal docs_cms_heavy_hitters row
    for row. A replayed batch id must no-op."""
    from hrfco_data_pipeline_spark.plans.llm import (
        cms_counters,
        docs_cms_heavy_hitters,
    )
    from hrfco_data_pipeline_spark.sources.tables import load_table
    from hrfco_data_pipeline_spark.streaming.curation import (
        _append_merge,
        cms_counters_from_store,
        cms_heavy_hitters_from_store,
        cms_stream,
        read_appended,
    )

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    src = str(tmp_path / "docs_src")
    docs.repartition(4).write.parquet(src)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table = str(tmp_path / "cms_counts")
    q = (
        cms_stream(stream, table)
        .option("checkpointLocation", str(tmp_path / "cms-ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    got_cells = sorted(
        tuple(r)
        for r in cms_counters_from_store(spark, table).collect()
    )
    want_cells = sorted(tuple(r) for r in cms_counters(docs).collect())
    assert want_cells and got_cells == want_cells

    cols = ["term", "exact_cnt", "cms_est", "inflation"]
    got = sorted(
        tuple(r)
        for r in cms_heavy_hitters_from_store(spark, sf, table)
        .select(*cols)
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in docs_cms_heavy_hitters(spark, sf).select(*cols).collect()
    )
    assert len(want) == 20 and got == want

    # replayed batch id no-ops
    before = read_appended(spark, table).count()
    _append_merge(spark, table, cms_counters(docs.limit(5)), 0)
    assert read_appended(spark, table).count() == before


def test_psi_drift_stream_equals_batch_face(spark, tmp_path):
    """Stream the SECOND half of the corpus (by the batch face's
    integer midpoint day split) through the PSI monitor with frozen
    full-corpus decile edges and a first-half reference snapshot; the
    serve face must equal events_psi_by_type on the full corpus row
    for row (bucket counts merge by addition — order-free)."""
    import duckdb

    from pyspark.sql.types import DoubleType, TimestampNTZType

    from hrfco_data_pipeline_spark.plans.relational import (
        events_psi_by_type,
        psi_bucket_counts,
    )
    from hrfco_data_pipeline_spark.streaming.curation import (
        psi_drift_stream,
        psi_report_vs_reference,
    )

    sf = "/root/testdata/sf0.01"
    # full-corpus decile edges + midpoint day, recomputed exactly in
    # DuckDB (the batch face's own construction)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{sf}/events.parquet')"
    )
    edges = [
        v
        for (v,) in con.execute(
            """
            WITH base AS (
              SELECT event_id, value FROM events
              WHERE value IS NOT NULL AND ts IS NOT NULL
            ), tot AS (SELECT count(*) AS n_all FROM base),
            r AS (
              SELECT value,
                row_number() OVER (ORDER BY value, event_id) AS rnk
              FROM base
            ), cuts AS (
              SELECT CAST(floor((n_all * i - 1) / 10.0) AS BIGINT) + 1
                AS cut
              FROM tot, unnest(range(1, 10)) AS t(i)
            )
            SELECT value FROM r WHERE rnk IN (SELECT cut FROM cuts)
            ORDER BY rnk
            """
        ).fetchall()
    ]
    (mid,) = con.execute(
        """
        SELECT CAST(floor((min(d) + max(d)) / 2.0) AS BIGINT) FROM (
          SELECT CAST(date_diff('day', DATE '1970-01-01',
                 CAST(ts AS DATE)) AS BIGINT) AS d
          FROM events WHERE value IS NOT NULL AND ts IS NOT NULL)
        """
    ).fetchone()

    ev = load_table(spark, sf, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    day = F.datediff(
        F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01"))
    ).cast("long")
    first = ev.filter(day <= mid)
    second = ev.filter(day > mid)
    reference = psi_bucket_counts(first, edges)

    src = str(tmp_path / "psi_src")
    second.repartition(4).write.parquet(src)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampNTZType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table = str(tmp_path / "psi_counts")
    q = (
        psi_drift_stream(stream, table, edges)
        .option("checkpointLocation", str(tmp_path / "psi-ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    cols = ["event_type", "n_first", "n_second", "psi"]
    got = sorted(
        tuple(r)
        for r in psi_report_vs_reference(spark, table, reference)
        .select(*cols)
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in events_psi_by_type(spark, sf).select(*cols).collect()
    )
    assert got == want
