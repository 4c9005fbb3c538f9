"""JSON wire-format path: T1-T3 parse + W8 DLQ split.

The reference consumes JSON strings from Kafka and dead-letters parse
failures (WaterLevelProcessor.java:90-94). Here we synthesize the JSON
wire (string concat, mirrored in DuckDB), then:
- parse with ``from_json`` PERMISSIVE + corrupt-record column (T3),
- route corrupt rows to a DLQ envelope (T12/W8),
- keep the silent-drop asymmetry for F1 failures (they are NOT DLQ'd).

``from_json`` is codegen'd JVM parsing — at 100 TB this is the same
single-pass scan shape as the classify pipeline, no Python involved.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hrfco_data_pipeline_spark.sources.synthetic import synthetic_observations


def publish_stage(stage: str, build) -> None:
    """Atomic content-addressed directory publish, safe under
    concurrent publishers (threads OR processes): build into a
    caller-private tmp dir, write a name→size manifest, then publish
    rename-FIRST — an existing stage that re-verifies valid is never
    deleted (a reader could already hold a plan over its part files);
    only a blocker that fails manifest verification is atomically
    moved aside and the publish retried. ``build(tmp_dir)`` must
    create the payload files inside ``tmp_dir``. On the (bounded)
    pathological interleaving where every retry loses a move-aside
    race, the valid tmp dir is kept on disk for manual recovery and
    a RuntimeError names it."""
    import json
    import os
    import shutil
    import threading

    manifest = os.path.join(stage, ".hrfco_manifest.json")

    def _stage_valid() -> bool:
        try:
            with open(manifest, encoding="utf-8") as fh:
                want = json.load(fh)
            return bool(want) and all(
                os.path.getsize(os.path.join(stage, name)) == size
                for name, size in want.items()
            )
        except (OSError, ValueError):
            return False

    if _stage_valid():
        return
    # tmp identity includes the THREAD id: a pid-only suffix collides
    # when a multi-threaded driver races itself
    tmp = f"{stage}.tmp.{os.getpid()}.{threading.get_ident()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    parts = {
        name: os.path.getsize(os.path.join(tmp, name))
        for name in os.listdir(tmp)
        if not name.startswith(("_", "."))
    }
    with open(
        os.path.join(tmp, ".hrfco_manifest.json"), "w", encoding="utf-8"
    ) as fh:
        json.dump(parts, fh)
    for attempt in (1, 2):
        try:
            os.rename(tmp, stage)
            break
        except OSError:
            if _stage_valid():  # lost the race to a good publish
                shutil.rmtree(tmp, ignore_errors=True)
                break
            grave = (
                f"{stage}.stale.{os.getpid()}"
                f".{threading.get_ident()}.{attempt}"
            )
            try:
                os.rename(stage, grave)  # atomic move-aside
            except OSError:
                continue  # another publisher moved it — retry
            shutil.rmtree(grave, ignore_errors=True)
    else:
        # both attempts lost a move-aside race (the blocker's stage was
        # momentarily absent mid-rename) — one more rename very likely
        # lands; if not, keep the valid tmp for manual recovery
        try:
            os.rename(tmp, stage)
        except OSError:
            if _stage_valid():
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                raise RuntimeError(
                    f"could not publish wire stage {stage}; "
                    f"built stage left at {tmp}"
                ) from None

WIRE_SCHEMA = (
    "wlobscd string, ymdhm string, wl string, fw string, _corrupt string"
)


def _jstr(c: Column) -> Column:
    """JSON string literal or null keyword (no escaping needed here)."""
    return F.when(c.isNull(), "null").otherwise(F.concat(F.lit('"'), c, F.lit('"')))


def synthetic_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-encoded observation records; every 53rd truncated (corrupt)."""
    obs = synthetic_observations(spark, sf_dir)
    js = F.concat(
        F.lit('{"wlobscd":'),
        _jstr(F.col("wlobscd")),
        F.lit(',"ymdhm":'),
        _jstr(F.col("ymdhm")),
        F.lit(',"wl":'),
        _jstr(F.col("wl")),
        F.lit(',"fw":'),
        _jstr(F.col("fw")),
        F.lit(',"junk":1}'),
    )
    return obs.select(
        "obs_id",
        F.when(F.col("obs_id") % 53 == 0, F.substring(js, 1, 15))
        .otherwise(js)
        .alias("value"),
    )


def parsed_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: PERMISSIVE JSON parse with corrupt-record capture."""
    wire = synthetic_wire(spark, sf_dir)
    parsed = wire.withColumn(
        "rec",
        F.from_json(
            "value",
            WIRE_SCHEMA,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ),
    )
    return parsed.select(
        "obs_id",
        "value",
        F.col("rec.wlobscd").alias("wlobscd"),
        F.col("rec.ymdhm").alias("ymdhm"),
        F.col("rec.wl").alias("wl"),
        F.col("rec.fw").alias("fw"),
        F.col("rec._corrupt").alias("_corrupt"),
    )


def wire_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Well-formed records only (unknown ``junk`` field ignored — the
    POJO ignore-unknown behavior, WaterLevelData.java:9)."""
    return (
        parsed_wire(spark, sf_dir)
        .filter(F.col("_corrupt").isNull())
        .select("obs_id", "wlobscd", "ymdhm", "wl", "fw")
    )


def wire_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8/T12: DLQ envelope for parse failures
    (DeadLetterQueueProducer.java:51-57; publish timestamp added at the
    sink, kept out for determinism)."""
    return (
        parsed_wire(spark, sf_dir)
        .filter(F.col("_corrupt").isNotNull())
        .select(
            F.col("obs_id").cast("string").alias("original_key"),
            F.col("value").alias("original_value"),
            F.lit("Processing failed: JsonParseException").alias("error_reason"),
        )
    )


def wire_batch_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: SplitJson — one record per element of a JSON array batch.

    The reference's NiFi flow polls one JSON document per cycle and
    splits ``$.content`` into per-record FlowFiles. Here: records are
    batched into JSON arrays (deterministically: 100 per batch, sorted
    within the batch), then flattened with ``posexplode(from_json(
    array<struct>))`` — the Spark-native SplitJson.
    """
    obs = synthetic_observations(spark, sf_dir)
    el = F.concat(
        F.lit('{"wlobscd":'),
        _jstr(F.col("wlobscd")),
        F.lit(',"ymdhm":'),
        _jstr(F.col("ymdhm")),
        F.lit(',"wl":'),
        _jstr(F.col("wl")),
        F.lit(',"fw":'),
        _jstr(F.col("fw")),
        F.lit("}"),
    )
    batches = (
        obs.select((F.col("obs_id") / 100).cast("long").alias("batch_id"), el.alias("el"))
        .groupBy("batch_id")
        .agg(
            F.concat(
                F.lit("["), F.concat_ws(",", F.sort_array(F.collect_list("el"))), F.lit("]")
            ).alias("doc")
        )
    )
    rec_schema = "array<struct<wlobscd:string,ymdhm:string,wl:string,fw:string>>"
    exploded = batches.select(
        "batch_id",
        F.posexplode(F.from_json("doc", rec_schema)).alias("pos", "rec"),
    )
    return exploded.select(
        "batch_id",
        "pos",
        F.col("rec.wlobscd").alias("wlobscd"),
        F.col("rec.ymdhm").alias("ymdhm"),
        F.col("rec.wl").alias("wl"),
        F.col("rec.fw").alias("fw"),
    )


def wire_connector_station_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python DataSource connector under the driver's oracle gate:
    stage the wire lines as text once (cached per sf under /tmp), read
    them back through ``format("hrfco_wire")`` (executor-side parse,
    partition per file), and aggregate per station. Corrupt lines
    surface as the NULL-station group — the connector's
    corrupt-record contract, mirrored in the oracle via the obs_id%53
    truncation rule.
    """
    import hashlib
    import os

    from hrfco_data_pipeline_spark.sources.wire_datasource import register

    # key the stage by source identity + content version (size/mtime of
    # the events file the wire derives from), so regenerated test data
    # or same-basename trees never reuse a stale stage; publish the dir
    # with an atomic rename so concurrent runs never see a partial one.
    # Integrity: a manifest of part-file names+sizes is written BEFORE
    # the rename and re-verified on reuse, so a partially written stage
    # left by a killed foreign process (even one with a stray _SUCCESS)
    # is detected and rebuilt instead of silently under-counting.
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"{os.path.realpath(sf_dir)}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:12]
    stage = f"/tmp/hrfco_wire_stage_{key}"

    def _build(tmp: str) -> None:
        synthetic_wire(spark, sf_dir).select("value").coalesce(4).write.mode(
            "overwrite"
        ).text(tmp)

    # rename-first / verify-blocker / move-aside-retry protocol,
    # shared with the concurrency stress test (publish_stage)
    publish_stage(stage, _build)
    register(spark)
    df = spark.read.format("hrfco_wire").load(stage)
    return (
        df.groupBy("wlobscd")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("wl").isNotNull().cast("int")).alias("n_wl"),
            F.sum(F.col("fw").isNotNull().cast("int")).alias("n_fw"),
        )
        .orderBy("wlobscd")
    )


def wire_corrupt_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest health KPI: total / corrupt / parsed record counts and
    the corrupt fraction in one conditional aggregate over a single
    scan — the per-batch number the DLQ dashboard plots. Exact integer
    ratio."""
    p = parsed_wire(spark, sf_dir)
    return p.agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("_corrupt").isNotNull().cast("long")).alias("n_corrupt"),
        F.sum(F.col("_corrupt").isNull().cast("long")).alias("n_parsed"),
        F.round(
            F.sum(F.col("_corrupt").isNotNull().cast("long")).cast("double")
            / F.count("*"),
            6,
        ).alias("corrupt_rate"),
    )


def wire_impute_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value imputation report for the wire stream: per
    station, observation count, missing water-level count, and the
    per-station MEDIAN that a gap-fill step would impute (the
    group-median imputer every feature pipeline runs before
    modelling). Reuses the PERMISSIVE parse + Java-parity coercion;
    one station-keyed aggregate with an exact sort-based median over
    per-station groups."""
    from hrfco_data_pipeline_spark.functions.coercion import java_double

    p = parsed_wire(spark, sf_dir).filter(
        F.col("_corrupt").isNull() & F.col("wlobscd").isNotNull()
    )
    wl = java_double(F.col("wl"))
    return (
        p.select("wlobscd", wl.alias("wl_d"))
        .groupBy("wlobscd")
        .agg(
            F.count("*").alias("n_obs"),
            F.sum(F.col("wl_d").isNull().cast("long")).alias("n_missing"),
            F.round(F.median("wl_d"), 4).alias("impute_median"),
        )
    )


def wire_field_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract monitoring: per wire field, the non-null presence
    rate among well-formed records — the producer-side schema-drift
    alarm (a field's rate dropping means the upstream contract
    changed) that complements wire_corrupt_rate (envelope health) and
    wire_impute_report (downstream repair). One conditional aggregate
    over the parsed stream; the unpivot is a 4-literal stack, so the
    report is 4 rows at any scale."""
    ok = parsed_wire(spark, sf_dir).filter(F.col("_corrupt").isNull())
    agg = ok.agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.col(f).isNotNull().cast("long")).alias(f"p_{f}")
            for f in ("wlobscd", "ymdhm", "wl", "fw")
        ],
    )
    stacked = agg.selectExpr(
        "n",
        "stack(4, 'wlobscd', p_wlobscd, 'ymdhm', p_ymdhm, "
        "'wl', p_wl, 'fw', p_fw) AS (field, n_present)",
    )
    return stacked.select(
        "field",
        "n_present",
        F.col("n").alias("n_records"),
        F.round(
            F.col("n_present").cast("double") / F.col("n").cast("double"), 4
        ).alias("presence_rate"),
    )


def wire_csv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV wire-format ingestion — the delimiter-format face of the
    JSON wire path (legacy producers ship CSV lines over the same
    topics): derive the CSV encoding of each observation, parse it
    back with the native ``from_csv`` (its first use in the surface),
    and route short rows (the same every-53rd truncation as the JSON
    wire) to the DLQ rule. Returns the per-station parse scoreboard —
    rows parsed, rows corrupt, distinct stations seen — so the two
    wire formats are directly comparable.

    Corruption for CSV is column-count-based (a truncated line is
    still 'valid' CSV, unlike JSON): rows with < 4 fields fail the
    contract. One scan + one bounded-key aggregate; all counts exact."""
    obs = _synthetic_wire_csv(spark, sf_dir)
    n_fields = F.size(F.split(F.col("value"), ",", -1))
    parsed = obs.select(
        "obs_id",
        "value",
        (n_fields >= 4).alias("ok"),
        F.from_csv(
            F.col("value"),
            "wlobscd string, ymdhm string, wl string, fw string",
        ).alias("r"),
    )
    key = F.when(~F.col("ok"), F.lit("__corrupt__")).otherwise(
        F.coalesce(F.col("r.wlobscd"), F.lit("__null_station__"))
    )
    return (
        parsed.groupBy(key.alias("wlobscd"))
        .agg(
            F.sum(F.col("ok").cast("long")).alias("n_parsed"),
            F.sum((~F.col("ok")).cast("long")).alias("n_corrupt"),
            F.count("*").alias("n_rows"),
        )
    )


def _synthetic_wire_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV-encoded observation records (nulls as empty fields); every
    53rd truncated to 7 chars — the delimiter twin of synthetic_wire."""
    from hrfco_data_pipeline_spark.sources.synthetic import (
        synthetic_observations,
    )

    obs = synthetic_observations(spark, sf_dir)
    s = lambda c: F.coalesce(F.col(c), F.lit(""))  # noqa: E731
    line = F.concat_ws(",", s("wlobscd"), s("ymdhm"), s("wl"), s("fw"))
    return obs.select(
        "obs_id",
        F.when(F.col("obs_id") % 53 == 0, F.substring(line, 1, 7))
        .otherwise(line)
        .alias("value"),
    )


def wire_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift detection across ingest batches: bucket the wire
    into 1000-record batches (obs_id DIV 1000 — the producer's batch
    counter stand-in), compute each field's per-batch presence rate,
    and flag batches where a field drifts more than 2 points from the
    stream-wide rate — the alarm that catches an upstream contract
    change (field dropped, renamed, newly nullable) while it is still
    one batch deep. Extends wire_field_presence (stream-wide rates)
    with the time axis.

    Scale shape: ONE scan — the global rates re-aggregate the
    per-batch partials (batches partition the stream exactly), so the
    wire parse runs once; then a 4-literal stack and a
    broadcast-sized global-rates join; rows = 4 x n_batches."""
    ok = parsed_wire(spark, sf_dir).filter(F.col("_corrupt").isNull())
    fields = ("wlobscd", "ymdhm", "wl", "fw")
    per = ok.groupBy(F.expr("obs_id DIV 1000").alias("batch")).agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.col(f).isNotNull().cast("long")).alias(f"p_{f}")
            for f in fields
        ],
    )
    return drift_report(per)


def drift_report(per: DataFrame) -> DataFrame:
    """Drift report over per-batch presence-count partials (columns:
    batch, n, p_wlobscd, p_ymdhm, p_wl, p_fw). Shared by the batch
    face above and the streaming twin
    (streaming/curation.schema_drift_stream), which maintains the same
    partials incrementally — both faces emit identical rows for
    identical partials. Empty partials (n=0 — an empty or all-corrupt
    micro-batch on the stream face; the batch face's groupBy can never
    emit one) are dropped: they carry no presence evidence and would
    otherwise yield NULL presence_rate / NULL drifted rows."""
    per = per.filter(F.col("n") > 0)
    stacked = per.selectExpr(
        "batch",
        "n",
        "stack(4, 'wlobscd', p_wlobscd, 'ymdhm', p_ymdhm, "
        "'wl', p_wl, 'fw', p_fw) AS (field, n_present)",
    ).select(
        "batch",
        "field",
        F.col("n").alias("n_records"),
        "n_present",
        (F.col("n_present").cast("double") / F.col("n").cast("double")).alias(
            "presence_rate"
        ),
    )
    wf = Window.partitionBy("field")
    return stacked.select(
        "batch",
        "field",
        "n_records",
        "n_present",
        "presence_rate",
        (
            F.sum("n_present").over(wf).cast("double")
            / F.sum("n_records").over(wf).cast("double")
        ).alias("global_rate"),
    ).withColumn(
        "drifted",
        F.abs(F.col("presence_rate") - F.col("global_rate")) > 0.02,
    )


def redelivery_copies(key):
    """Deterministic redelivery fan-out count for wire_dedup_replay:
    2 copies when key % 11 == 0, else 1 — NULL-SAFE by two layers
    (ADVICE r13): CASE WHEN with a NULL condition already falls
    through to the ELSE branch, and the coalesce pins copies=1 even
    if the expression is ever restructured without an otherwise().
    A NULL copies would make sequence()/explode() emit NOTHING and
    silently DROP the row, splitting the driver hash from the
    UNION-ALL oracle, which keeps NULL-key rows in its base branch."""
    return F.coalesce(F.when(key % 11 == 0, 2).otherwise(1), F.lit(1))


def wire_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once redelivery collapse: the wire stream with every
    11th record delivered twice (the broker-retry fixture — the
    deterministic %-derivation convention of docs_snapshot_diff), then
    keyed first-wins dedup and a per-station report: delivered vs
    unique counts, the dup rate, and a payload-conflict certificate
    (redeliveries of one obs_id must carry byte-identical payloads —
    n_conflicting > 0 would mean the 'duplicate' was actually a
    different record under a reused key, the poison-redelivery case a
    real pipeline must dead-letter instead of dropping).

    Scale shape: ONE parse pass — redelivery fan-out is a per-row
    copies sequence exploded in place (a union of the base frame with
    its filtered self was tried first and re-embedded the source scan
    twice in the plan); then a (station, obs_id)-keyed partial
    aggregate (the dedup unit) and a |stations|-group rollup; the
    payload identity check rides the same aggregate via a distinct
    count over 16-byte hashes — no extra shuffle, no raw-payload
    comparison.
    """
    parsed = wire_parse(spark, sf_dir)
    copies = redelivery_copies(F.col("obs_id"))
    delivered = parsed.withColumn(
        "copy_no", F.explode(F.sequence(F.lit(1), copies))
    ).drop("copy_no")
    z = lambda c: F.coalesce(F.col(c), F.lit(""))  # noqa: E731
    payload = F.md5(
        F.concat_ws("|", z("wlobscd"), z("ymdhm"), z("wl"), z("fw"))
    )
    station = F.coalesce(F.col("wlobscd"), F.lit("__null_station__"))
    per_key = delivered.groupBy(
        station.alias("station"), F.col("obs_id")
    ).agg(
        F.count("*").alias("c"),
        F.count_distinct(payload).alias("pd"),
    )
    return per_key.groupBy("station").agg(
        F.sum("c").cast("long").alias("n_delivered"),
        F.count("*").cast("long").alias("n_unique"),
        F.sum(F.col("c") - 1).cast("long").alias("n_dups_dropped"),
        (
            F.sum(F.col("c") - 1).cast("double")
            / F.sum("c").cast("double")
        ).alias("dup_rate"),
        F.sum(F.when(F.col("pd") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_conflicting_payloads"),
    )
