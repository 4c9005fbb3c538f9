"""Watermarked windowed aggregation + applyInPandasWithState operator."""

from __future__ import annotations

import pyspark.sql.functions as F

from hrfco_data_pipeline_spark.operators.classify import (
    parse_observations,
    process_observations,
)
from hrfco_data_pipeline_spark.plans.wire import synthetic_wire
from hrfco_data_pipeline_spark.sources.synthetic import synthetic_stations
from hrfco_data_pipeline_spark.streaming.analytics import (
    station_delta_stream,
    windowed_alert_counts,
)
from hrfco_data_pipeline_spark.streaming.pipeline import observations_file_stream

SF = "/root/testdata/sf0.001"


def _stage_wire(spark, tmp_path):
    src = str(tmp_path / "src")
    synthetic_wire(spark, SF).select("value").coalesce(2).write.mode(
        "overwrite"
    ).text(src)
    return src


def test_windowed_alert_counts_stream(spark, tmp_path):
    src = _stage_wire(spark, tmp_path)
    stream = observations_file_stream(spark, src).filter(
        F.col("_corrupt").isNull()
    ).drop("value", "_corrupt")
    classified = process_observations(stream, synthetic_stations(spark))
    q = (
        windowed_alert_counts(classified)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM win_counts").collect()
    # availableNow + watermark: all-but-the-last windows finalize
    assert len(rows) > 0
    assert all(r.window_end > r.window_start for r in rows)
    levels = {r.level for r in rows}
    assert "NORMAL" in levels

    # batch twin over the same data agrees on overlapping windows
    batch_cls = process_observations(
        parse_observations(
            spark.read.text(src).select(
                F.from_json(
                    "value", "wlobscd string, ymdhm string, wl string, fw string"
                ).alias("r")
            ).select("r.*")
        ).filter(F.col("wlobscd").isNotNull()),
        synthetic_stations(spark),
    )
    batch = {
        (r.window_start, r.level): r.n
        for r in windowed_alert_counts(batch_cls).collect()
    }
    for r in rows:
        assert batch.get((r.window_start, r.level)) == r.n


def test_station_delta_stateful(spark, tmp_path):
    src = _stage_wire(spark, tmp_path)
    stream = parse_observations(
        observations_file_stream(spark, src)
        .filter(F.col("_corrupt").isNull())
        .drop("value", "_corrupt")
    )
    q = (
        station_delta_stream(stream)
        .writeStream.format("memory")
        .queryName("deltas")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM deltas").collect()
    assert len(rows) > 0
    by_station = {}
    for r in sorted(rows, key=lambda r: (r.wlobscd, r.n_seen)):
        by_station.setdefault(r.wlobscd, []).append(r)
    some = next(v for v in by_station.values() if len(v) > 2)
    # n_seen is a per-station running count carried in state
    assert [r.n_seen for r in some] == list(range(1, len(some) + 1))
    # deltas match consecutive water levels when both present
    prev = None
    for r in some:
        if r.water_level is not None and prev is not None:
            assert r.delta is not None and abs(r.delta - (r.water_level - prev)) < 1e-9
        if r.water_level is not None:
            prev = r.water_level


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join: alerts enriched with same-station
    flow readings from the trailing 10 minutes; batch twin agrees."""
    from hrfco_data_pipeline_spark.streaming.analytics import (
        alerts_with_flow_context,
        with_event_time,
    )

    # single staged file -> one micro-batch -> no cross-batch watermark
    # drops, so the stream result must equal the batch twin exactly
    src = str(tmp_path / "src1")
    synthetic_wire(spark, SF).select("value").coalesce(1).write.mode(
        "overwrite"
    ).text(src)

    def classified_of(df):
        return process_observations(df, synthetic_stations(spark))

    def split_sides(cls):
        ts = with_event_time(cls).filter(F.col("event_ts").isNotNull())
        alerts = ts.filter(
            F.col("water_level").isNotNull()
            & (F.col("flood_warning_level") != "NORMAL")
        )
        flows = ts.filter(F.col("flow_rate").isNotNull())
        return alerts, flows

    stream = observations_file_stream(spark, src).filter(
        F.col("_corrupt").isNull()
    ).drop("value", "_corrupt")
    s_alerts, s_flows = split_sides(classified_of(stream))
    q = (
        alerts_with_flow_context(s_alerts, s_flows)
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = spark.sql("SELECT * FROM ssj").collect()
    assert len(got) > 0
    for r in got[:200]:
        assert r.flow_ts <= r.alert_ts
        assert (r.alert_ts - r.flow_ts).total_seconds() <= 600

    batch_raw = (
        spark.read.text(src)
        .select(
            F.from_json(
                "value", "wlobscd string, ymdhm string, wl string, fw string"
            ).alias("r")
        )
        .select("r.*")
        .filter(F.col("wlobscd").isNotNull())
    )
    b_alerts, b_flows = split_sides(classified_of(batch_raw))
    want = alerts_with_flow_context(b_alerts, b_flows).count()
    assert len(got) == want


def test_native_session_windows_stream_equals_batch(spark, tmp_path):
    from hrfco_data_pipeline_spark.streaming.analytics import (
        session_windowed_counts,
    )

    src = str(tmp_path / "src_sw")
    synthetic_wire(spark, SF).select("value").coalesce(1).write.mode(
        "overwrite"
    ).text(src)

    stream = observations_file_stream(spark, src).filter(
        F.col("_corrupt").isNull()
    ).drop("value", "_corrupt")
    s_cls = process_observations(stream, synthetic_stations(spark))
    q = (
        session_windowed_counts(s_cls)
        .writeStream.format("memory")
        .queryName("sw_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_sw"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r.session_start, r.session_end, r.wlobscd): r.n
        for r in spark.sql("SELECT * FROM sw_counts").collect()
    }
    assert len(got) > 0

    batch_raw = (
        spark.read.text(src)
        .select(
            F.from_json(
                "value", "wlobscd string, ymdhm string, wl string, fw string"
            ).alias("r")
        )
        .select("r.*")
        .filter(F.col("wlobscd").isNotNull())
    )
    b_cls = process_observations(batch_raw, synthetic_stations(spark))
    want = {
        (r.session_start, r.session_end, r.wlobscd): r.n
        for r in session_windowed_counts(b_cls).collect()
    }
    assert got == want


def test_silence_alarm_timers_fire_without_new_data(spark, tmp_path):
    """transformWithStateInPandas with processing-time timers: a
    station that stops reporting raises an ALARM in a later batch even
    though no new rows arrive for its key — the timer capability
    applyInPandasWithState lacks. Timers + state survive the restart
    (RocksDB state store, same checkpoint).

    The TWS worker protocol needs google.protobuf, which this container
    does not ship — skipped here, runnable on any standard install
    (same env-blocked status as the Kafka bindings, docs/KAFKA.md).
    """
    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState worker protocol needs protobuf (absent here)",
    )
    import json
    import os
    import time

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        from hrfco_data_pipeline_spark.streaming.analytics import silence_alarms

        src = str(tmp_path / "src_silence")
        os.makedirs(src)
        out = str(tmp_path / "out_silence")

        def land(name, codes):
            with open(os.path.join(src, name), "w") as f:
                for c in codes:
                    f.write(json.dumps({"wlobscd": c, "ymdhm": "202401011200",
                                        "wl": "1.0", "fw": "2.0"}) + "\n")

        def run_once():
            stream = observations_file_stream(spark, src).filter(
                F.col("_corrupt").isNull()
            ).drop("value", "_corrupt")
            q = (
                silence_alarms(stream, silence_ms=500)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", str(tmp_path / "ck_silence"))
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(300)

        land("a.txt", ["1", "2"])
        run_once()
        seen1 = spark.read.parquet(out).collect()
        assert {(r.wlobscd, r.kind) for r in seen1} == {("1", "SEEN"), ("2", "SEEN")}

        time.sleep(1.5)  # let both stations' 500 ms timers expire
        land("b.txt", ["2"])  # only station 2 reports again
        run_once()
        rows = spark.read.parquet(out).collect()
        kinds = {(r.wlobscd, r.kind) for r in rows}
        assert ("1", "ALARM") in kinds, kinds  # silent station alarmed via timer
        n2 = max(r.n_seen for r in rows if r.wlobscd == "2" and r.kind == "SEEN")
        assert n2 == 2  # station 2's state carried across the restart
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_windowed_counts_rocksdb_state_store(spark, tmp_path):
    """The production-scale state backend: the same windowed alert
    aggregation runs under the RocksDB state store provider (bounded
    JVM heap at 100 TB state; the default HDFS-backed store keeps all
    state on-heap) and must produce the identical finalized windows."""
    src = _stage_wire(spark, tmp_path)

    def run(provider: str, out_name: str):
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state." + provider,
        )
        try:
            stream = observations_file_stream(spark, src).filter(
                F.col("_corrupt").isNull()
            ).drop("value", "_corrupt")
            classified = process_observations(stream, synthetic_stations(spark))
            q = (
                windowed_alert_counts(classified)
                .writeStream.format("memory")
                .queryName(out_name)
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / (out_name + "-ck")))
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(300)
            return {
                tuple(str(v) for v in r)
                for r in spark.sql(f"SELECT * FROM {out_name}").collect()
            }
        finally:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    rocks = run("RocksDBStateStoreProvider", "rocks_counts")
    default = run("HDFSBackedStateStoreProvider", "hdfs_counts")
    assert rocks == default
    assert len(rocks) > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row older than the watermark horizon arriving in a LATER
    micro-batch is dropped from the aggregation, and the drop is
    visible in stateOperators metrics — the late-data contract the
    reference has no concept of (SURVEY §2: idiomatic upgrade)."""
    import json as _json
    import time as _time

    src = tmp_path / "src"
    src.mkdir()

    def rec(code, ymdhm, wl):
        return _json.dumps(
            {"wlobscd": code, "ymdhm": ymdhm, "wl": wl, "fw": "1.0"}
        )

    # batch 0: fresh observations at 12:00; batch 1: 12:30 — after it
    # commits, the watermark is 12:20 (progress reports the POST-batch
    # watermark, and the late filter uses the PREVIOUS batch's commit,
    # so the straggler must arrive in batch 2); batch 2: one row at
    # 09:00 — hours behind -> dropped
    (src / "a.json").write_text(
        "\n".join(rec("9001", "202401011200", "3.0") for _ in range(3))
    )
    _time.sleep(1.1)  # distinct mtimes keep the file order deterministic
    (src / "b.json").write_text(rec("9001", "202401011230", "3.1"))
    _time.sleep(1.1)
    (src / "c.json").write_text(rec("9001", "202401010900", "2.0"))

    stream = (
        spark.readStream.schema(
            "wlobscd string, ymdhm string, wl string, fw string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    from hrfco_data_pipeline_spark.operators.classify import (
        process_observations,
    )

    classified = process_observations(stream, synthetic_stations(spark))
    counts = windowed_alert_counts(classified, watermark="10 minutes")
    q = (
        counts.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    dropped = 0
    for p in q.recentProgress:
        for op in p["stateOperators"]:
            dropped += op.get("numRowsDroppedByWatermark", 0)
    assert dropped >= 1, "the 09:00 straggler was not dropped"
    # and no 09:00 window is ever finalized into the output
    rows = spark.sql("SELECT * FROM late_drop").collect()
    assert all(not str(r.window_start).endswith("09:00:00") for r in rows)


def test_rise_forecast_stream_matches_batch(spark, tmp_path):
    """The live forecast's final per-station emission (state spanning
    micro-batches) must agree with the batch rise_forecast over the
    same observations wherever both produce a row."""
    from hrfco_data_pipeline_spark.plans.hydro import rise_forecast
    from hrfco_data_pipeline_spark.streaming.analytics import (
        rise_forecast_stream,
    )

    src = _stage_wire(spark, tmp_path)
    stream = observations_file_stream(spark, src).filter(
        F.col("_corrupt").isNull()
    ).drop("value", "_corrupt")
    classified = process_observations(stream, synthetic_stations(spark))
    q = (
        rise_forecast_stream(classified)
        .writeStream.format("memory")
        .queryName("forecast_live")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "fc-ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    # last emission per station (multiple micro-batches may re-emit)
    live_rows = spark.sql("SELECT * FROM forecast_live").collect()
    live = {}
    for r in live_rows:
        live[r.wlobscd] = r  # availableNow emits in batch order
    batch = {
        r.wlobscd: r
        for r in rise_forecast(spark, SF).collect()
    }
    assert batch
    common = set(live) & set(batch)
    assert len(common) >= max(1, len(batch) // 2)
    for code in common:
        lb, bb = live[code], batch[code]
        assert lb.water_level == bb.water_level
        assert lb.rise_per_10min == bb.rise_per_10min
        assert lb.margin == bb.margin
        assert lb.est_minutes_to_next == bb.est_minutes_to_next


def test_feature_matrix_stream_equals_batch(spark, tmp_path):
    """Online/offline consistency: the streaming feature assembly over
    an availableNow replay of the events table must produce EXACTLY
    the batch events_feature_matrix rows — the property a feature
    store exists to provide."""
    from hrfco_data_pipeline_spark.plans.relational import (
        events_feature_matrix,
    )
    from hrfco_data_pipeline_spark.sources.tables import load_table
    from hrfco_data_pipeline_spark.streaming.analytics import (
        feature_matrix_stream,
    )

    batch_ev = load_table(spark, SF, "events")
    src = tmp_path / "ev_src"
    src.mkdir()
    batch_ev.write.mode("overwrite").parquet(str(src / "part"))
    stream = spark.readStream.schema(batch_ev.schema).parquet(
        str(src / "part")
    )
    q = (
        feature_matrix_stream(stream)
        .writeStream.format("memory")
        .queryName("feat_live")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "feat-ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    live = {
        r.event_id: (
            r.user_id,
            r.views_7d,
            r.last_error_value,
            r.days_since_signup,
            r.label,
        )
        for r in spark.sql("SELECT * FROM feat_live").collect()
    }
    want = {
        r.event_id: (
            r.user_id,
            r.views_7d,
            r.last_error_value,
            r.days_since_signup,
            r.label,
        )
        for r in events_feature_matrix(spark, SF).collect()
    }
    assert want
    assert live == want
