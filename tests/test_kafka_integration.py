"""Broker-optional Kafka round-trip (S4/S5/W1/W7).

The sandbox has no broker, so this module is skipped unless
``KAFKA_BOOTSTRAP`` points at one (e.g. ``localhost:9092`` after the
``docs/KAFKA.md`` recipe). On a machine with a broker it drives the
real bindings end-to-end: batch-produce the synthetic wire to a topic
(W1), consume it with ``observations_kafka_stream`` (S4), run the full
classify pipeline through ``run_stream``, and compare the fact/DLQ row
counts against the file-source twin — the chain is source-agnostic, so
any divergence is a binding bug, not a semantics change.

Requires the spark-sql-kafka connector on the classpath
(``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark ver>``
or a pre-provisioned jar); see docs/KAFKA.md.
"""

from __future__ import annotations

import os
import uuid

import pytest

BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP")

pytestmark = pytest.mark.skipif(
    not BOOTSTRAP,
    reason="set KAFKA_BOOTSTRAP=<host:port> to run the Kafka round-trip",
)

SF = "/root/testdata/sf0.001"


def test_kafka_roundtrip_matches_file_twin(spark, tmp_path):
    from hrfco_data_pipeline_spark.plans.wire import synthetic_wire
    from hrfco_data_pipeline_spark.sources.synthetic import synthetic_stations
    from hrfco_data_pipeline_spark.streaming.pipeline import (
        observations_file_stream,
        observations_kafka_stream,
        run_stream,
    )

    topic = f"hrfco-waterlevel-it-{uuid.uuid4().hex[:8]}"
    wire = synthetic_wire(spark, SF).select("value")

    # W1: batch publish (the NiFi PublishKafka twin)
    (
        wire.write.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("topic", topic)
        .save()
    )

    # S4 → classify → 3-way sinks, bounded by availableNow semantics:
    # run until the topic's current end offsets are consumed
    stations = synthetic_stations(spark)
    stream = observations_kafka_stream(spark, BOOTSTRAP, topic)
    q = run_stream(
        spark,
        stream,
        stations,
        str(tmp_path / "kafka_out"),
        str(tmp_path / "kafka_ckpt"),
    )
    try:
        deadline = 120
        import time

        n_wire = wire.count()
        t0 = time.monotonic()
        while time.monotonic() - t0 < deadline:
            try:
                done = (
                    spark.read.parquet(str(tmp_path / "kafka_out/fact")).count()
                    + spark.read.parquet(str(tmp_path / "kafka_out/dlq")).count()
                )
            except Exception:
                done = 0
            if done >= n_wire * 0.98:  # F1 drops keep this below n_wire
                break
            time.sleep(2)
    finally:
        q.stop()

    # file twin over the same wire for the ground truth
    src = tmp_path / "wire_src"
    wire.coalesce(1).write.mode("overwrite").text(str(src))
    q2 = run_stream(
        spark,
        observations_file_stream(spark, str(src)),
        stations,
        str(tmp_path / "file_out"),
        str(tmp_path / "file_ckpt"),
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    for sink in ("fact", "alerts"):
        kafka_n = spark.read.parquet(str(tmp_path / f"kafka_out/{sink}")).count()
        file_n = spark.read.parquet(str(tmp_path / f"file_out/{sink}")).count()
        assert kafka_n == file_n, f"{sink}: kafka={kafka_n} file={file_n}"
