"""Streaming twin of the hydrology pipeline.

The batch transforms (operators/classify.py) are pure
DataFrame→DataFrame functions, so binding them to ``readStream`` is the
whole job — write once, run both (SURVEY §7 design stance).

Topology (mirrors §3.1 of the survey):

    kafka/file JSON source
      → from_json (T3, corrupt-record capture)
      → batch clock: ``current_timestamp()``, pinned by Spark to the
        offset log's ``batchTimestampMs``
      → foreachBatch:  coalesce(1) → persist
        → process_observations (F1, F2, J1 stream-static broadcast
          join, C1-C4) → persist        [stateless → no watermark]
        → archive (W3) + fact (W4) + alerts (C5, W7) + DLQ (W8)
        → unpersist    [replaces the 3-thread storage executor, W6]

One partition, one cache, one batch clock per micro-batch. A micro-batch
is a few polling cycles of one record per station, so one task per stage
writes it: one file per sink and partition directory, instead of one per
scan split. The single partition relies on that bound, which both
bindings set: ``maxFilesPerTrigger=4`` on the file source and
``maxOffsetsPerTrigger=MAX_OFFSETS_PER_TRIGGER`` on the Kafka source, so
a stream that starts behind a backlog drains it in bounded batches.
Every timestamp the sinks stamp — fact ``created_at``, alert and DLQ
``timestamp``, the observation-time fallback — reads the batch clock, so
generated code repeats from batch to batch and a replayed batch rewrites
the same values.

Delivery: the file sinks are exactly-once per micro-batch id, while
the checkpoint and the output directory stay paired. A batch that fails
or crashes before the checkpoint commits is replayed in full under the
same id; each sink appends through ``sinks/writers.append_batch``,
which skips a batch its marker already holds and undoes a commit a
crash left midway, so the replay writes each sink's rows once. A fresh
checkpoint restarts the ids at 0 and needs a fresh output directory.
The batch clock makes a replay write the same rows as the first try.
A Kafka alert sink stays at-least-once. The DLQ carries parse failures
and, with ``breakers``, sink failures (the reference's DLQ contract,
SURVEY §4 note). Every micro-batch joins the stations dim's current
files: a file-backed dim frame has its file index re-listed on the
driver at the start of each batch (no Spark job), so a
``sinks/writers.merge_stations`` between batches is seen by the next
one. This subsumes the reference's threshold cache refresh (J1).

Kafka options mirror S4 (subscribe hrfco-waterlevel, startingOffsets
earliest); tests use the file source for hermeticity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hrfco_data_pipeline_spark.functions.hints import file_indexes
from hrfco_data_pipeline_spark.operators.classify import (
    build_alerts,
    process_observations,
)
from hrfco_data_pipeline_spark.sinks.reliability import batch_function
from hrfco_data_pipeline_spark.sinks.writers import (
    write_alerts,
    write_archive,
    write_dlq,
    write_fact,
)

BATCH_TS = "_batch_ts"  # the micro-batch clock column; no sink writes it
# records per Kafka micro-batch: a few polling cycles of one record per
# station, the Kafka twin of the file source's maxFilesPerTrigger=4
MAX_OFFSETS_PER_TRIGGER = 4000

OBS_WIRE_SCHEMA = (
    "wlobscd string, ymdhm string, wl string, fw string, _corrupt string"
)


def _parse_wire(raw: DataFrame, value: str | Column) -> DataFrame:
    """(value, wlobscd, ymdhm, wl, fw, _corrupt) from ``value``, the
    JSON text of a wire record, named ``value``; an unparseable line
    keeps its text in ``_corrupt`` (T3)."""
    rec = F.from_json(
        value,
        OBS_WIRE_SCHEMA,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    return raw.select(value, rec.alias("rec")).select(
        "value",
        F.col("rec.wlobscd").alias("wlobscd"),
        F.col("rec.ymdhm").alias("ymdhm"),
        F.col("rec.wl").alias("wl"),
        F.col("rec.fw").alias("fw"),
        F.col("rec._corrupt").alias("_corrupt"),
    )


def observations_file_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """JSON-lines file source (test stand-in for the Kafka source S4).

    Returns raw (value, parsed struct, _corrupt) — same shape the Kafka
    binding produces from the topic value bytes.
    """
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 4)
        .load(source_dir)
    )
    return _parse_wire(raw, "value")


def observations_kafka_stream(
    spark: SparkSession,
    bootstrap: str,
    topic: str = "hrfco-waterlevel",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka binding of the same wire parse (S4; untested here — no
    broker in this container, the file source above is the test twin)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", MAX_OFFSETS_PER_TRIGGER)
        .load()
    )
    return _parse_wire(raw, F.col("value").cast("string").alias("value"))


def run_stream(
    spark: SparkSession,
    stream: DataFrame,
    stations: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    dedup: bool = False,
    breakers: dict | None = None,
) -> StreamingQuery:
    """Bind the full pipeline to a streaming source.

    ``dedup=True`` adds the idiomatic-Spark upgrade the reference lacks:
    per-(station, minute) duplicate drop with a 1-hour watermark (off by
    default for parity — SURVEY §7 Phase 3).

    ``breakers`` (R2) optionally maps sink name ("archive" / "fact" /
    "alerts") to a ``sinks.reliability.SinkCircuitBreaker``. A guarded
    sink that fails — or whose breaker is open — no longer kills the
    trigger: the failure lands in the DLQ as a storage-failure envelope
    (W8's isPartialFailure path, WaterLevelProcessor.java:70-75) and the
    stream carries on, exactly the reference's degrade-and-continue
    contract. Without breakers, sink errors propagate and fail the
    query (fail-stop default).
    """

    # a frame's file index is fixed when the frame is made, and a station
    # merge swaps the files it lists away
    dim_files = file_indexes(stations)

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        for index in dim_files:
            index.refresh()
        batch = batch.coalesce(1).persist()
        try:
            good = batch.filter(F.col("_corrupt").isNull())
            dlq = batch.filter(F.col("_corrupt").isNotNull()).select(
                F.lit(None).cast("string").alias("original_key"),
                F.col("value").alias("original_value"),
                F.lit("Processing failed: JsonParseException").alias("error_reason"),
                BATCH_TS,
            )
            classified = process_observations(
                good.drop("value", "_corrupt"), stations
            ).persist()

            sinks = (
                (
                    "archive",
                    lambda: write_archive(classified.drop(BATCH_TS), f"{out_dir}/archive", batch_id),
                ),
                ("fact", lambda: write_fact(classified, f"{out_dir}/fact", batch_id, now=BATCH_TS)),
                (
                    "alerts",
                    lambda: write_alerts(
                        build_alerts(classified, extra_cols=(BATCH_TS,)),
                        f"{out_dir}/alerts",
                        batch_id,
                        now=BATCH_TS,
                    ),
                ),
            )
            # W6 fan-out: independent writes over one cached batch
            storage_failures: list[tuple[str, str]] = []
            for name, fn in sinks:
                breaker = (breakers or {}).get(name)
                if breaker is None:
                    fn()  # fail-stop: no breaker guards this sink
                    continue
                try:
                    breaker.call(fn)
                except Exception as exc:  # noqa: BLE001 — degrade, DLQ, continue
                    storage_failures.append((name, type(exc).__name__))

            if storage_failures:
                # the batch clock of an empty batch is not in any row;
                # its envelopes fall back to the write clock
                clock = batch.agg(
                    F.coalesce(F.max(BATCH_TS), F.current_timestamp()).alias(BATCH_TS)
                )
                env = spark.createDataFrame(
                    [
                        (None, f"batch {batch_id}", f"Storage failed: {n}: {e}")
                        for n, e in storage_failures
                    ],
                    "original_key string, original_value string, error_reason string",
                ).crossJoin(clock)
                dlq = dlq.unionByName(env).coalesce(1)
            write_dlq(dlq, f"{out_dir}/dlq", batch_id, now=BATCH_TS)
            classified.unpersist()
        finally:
            batch.unpersist()

    src = stream
    if dedup:
        # dropDuplicatesWithinWatermark, NOT dropDuplicates: with plain
        # dropDuplicates the dedup state only evicts when the watermark
        # column is itself part of the key subset — (wlobscd, ymdhm)
        # isn't, so state would grow without bound on a real stream.
        # The WithinWatermark variant expires keys once they fall behind
        # the watermark, bounding state to one hour of traffic.
        # ``_corrupt`` joins the key so that distinct unparseable lines,
        # whose station and minute are both null, each reach the DLQ.
        src = (
            src.withColumn(
                "event_ts",
                F.coalesce(
                    F.try_to_timestamp(F.col("ymdhm"), F.lit("yyyyMMddHHmm")),
                    F.current_timestamp(),
                ),
            )
            .withWatermark("event_ts", "1 hour")
            .dropDuplicatesWithinWatermark(["wlobscd", "ymdhm", "_corrupt"])
        )

    # the batch clock: Spark replaces current_timestamp() in a streaming
    # plan by the offset log's batchTimestampMs, the same on a replay
    writer = (
        src.withColumn(BATCH_TS, F.current_timestamp())
        .writeStream.foreachBatch(batch_function(process_batch))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
