"""Streaming analytics: watermarked windows + custom stateful operators.

The reference's dashboard counts (A1) and activity deltas (A7) are
recomputed client-side per SSE event; Spark-natively they are streaming
aggregations:

- ``windowed_alert_counts``: event-time tumbling window + watermark —
  late observations beyond the watermark are dropped, closed windows
  emit finalized counts (append mode) — the scalable form of the
  dashboard's running tallies.
- ``station_delta_stream``: per-station stateful change detection via
  ``applyInPandasWithState`` — carries the last seen water level per
  station across micro-batches (the A7 lag pattern, but unbounded
  stream-safe with explicit state + timeout).

State scales by key cardinality (stations), not stream length; the
watermark bounds both state retention and out-of-order tolerance.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def with_event_time(parsed: DataFrame) -> DataFrame:
    """Attach the event-time column parsed from ymdhm (bad → null).

    Kept as TIMESTAMP (LTZ) — watermarks reject TIMESTAMP_NTZ — so
    window boundaries follow the session timezone; production configs
    pin ``spark.sql.session.timeZone=Asia/Seoul`` (SURVEY §7 risk #4).
    """
    return parsed.withColumn(
        "event_ts",
        F.try_to_timestamp(F.col("ymdhm"), F.lit("yyyyMMddHHmm")),
    )


def windowed_alert_counts(
    classified: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """A1 as an event-time window: counts per (hour window, warning
    level).

    Works over batch or stream; on a stream the watermark lets Spark
    finalize + evict window state.
    """
    with_ts = with_event_time(classified)
    stream_side = with_ts.filter(F.col("event_ts").isNotNull())
    if classified.isStreaming:
        stream_side = stream_side.withWatermark("event_ts", watermark)
    return (
        stream_side.groupBy(
            F.window("event_ts", "60 minutes").alias("win"),
            F.col("flood_warning_level").alias("level"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "level",
            "n",
        )
    )


DELTA_STATE_SCHEMA = StructType(
    [
        StructField("last_wl", DoubleType()),
        StructField("n_seen", LongType()),
    ]
)

DELTA_OUTPUT_SCHEMA = StructType(
    [
        StructField("wlobscd", StringType()),
        StructField("event_ts", TimestampType()),
        StructField("water_level", DoubleType()),
        StructField("delta", DoubleType()),
        StructField("n_seen", LongType()),
    ]
)


def _delta_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-station state: last water level + running count.

    Emits one row per observation with the delta vs the previous one
    (across micro-batch boundaries — the property a plain window lag
    cannot give on an unbounded stream).
    """
    (code,) = key
    last_wl, n_seen = state.get if state.exists else (None, 0)
    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["event_ts"], kind="stable")
        for row in pdf.itertuples(index=False):
            # arrow batches carry nulls as NaN — pd.notna, not `is None`
            wl = row.water_level if pd.notna(row.water_level) else None
            delta = (
                wl - last_wl if wl is not None and last_wl is not None else None
            )
            n_seen += 1
            out.append((code, row.event_ts, wl, delta, n_seen))
            if wl is not None:
                last_wl = wl
    state.update((last_wl, n_seen))
    yield pd.DataFrame(out, columns=[f.name for f in DELTA_OUTPUT_SCHEMA.fields])


def station_delta_stream(parsed_stream: DataFrame) -> DataFrame:
    """A7 as a custom stateful streaming operator.

    Input: the parsed observation stream (wlobscd, ymdhm, water_level).
    Groups by station; state = (last level, count), no timeout (station
    cardinality is small and bounded).
    """
    src = with_event_time(parsed_stream).select(
        "wlobscd", "event_ts", "water_level"
    )
    return src.groupBy("wlobscd").applyInPandasWithState(
        _delta_fn,
        outputStructType=DELTA_OUTPUT_SCHEMA,
        stateStructType=DELTA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def alerts_with_flow_context(
    alerts: DataFrame,
    flows: DataFrame,
) -> DataFrame:
    """Stream-stream interval join: enrich each water-level alert with
    flow-rate readings from the same station observed in the 10
    minutes before the alert (2-hour watermark on each streaming side).

    Both sides carry a watermark and the join condition bounds event
    time on both sides (equi-key + interval), which is exactly what
    Structured Streaming needs to evict join state: a buffered flow row
    can be dropped once the alert-side watermark passes
    ``flow_ts + lookback``. Without the interval bound the state would
    grow with the stream. State scales as (stations × lookback window),
    independent of stream length — the 100 TB/day-safe shape.

    ``alerts`` needs (wlobscd, event_ts, water_level, flood_warning_level);
    ``flows`` needs (wlobscd, event_ts, flow_rate). Works identically on
    batch frames (the batch twin the tests cross-check).
    """
    a = alerts.select(
        F.col("wlobscd").alias("a_station"),
        F.col("event_ts").alias("alert_ts"),
        "water_level",
        "flood_warning_level",
    )
    fl = flows.select(
        F.col("wlobscd").alias("f_station"),
        F.col("event_ts").alias("flow_ts"),
        "flow_rate",
    )
    if alerts.isStreaming:
        a = a.withWatermark("alert_ts", "2 hours")
    if flows.isStreaming:
        fl = fl.withWatermark("flow_ts", "2 hours")
    cond = (
        (F.col("a_station") == F.col("f_station"))
        & (F.col("flow_ts") >= F.col("alert_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("flow_ts") <= F.col("alert_ts"))
    )
    return a.join(fl, cond, "inner").select(
        F.col("a_station").alias("wlobscd"),
        "alert_ts",
        "water_level",
        "flood_warning_level",
        "flow_ts",
        "flow_rate",
    )


def session_windowed_counts(classified: DataFrame) -> DataFrame:
    """Native session windows (``F.session_window``): per-station event
    bursts separated by >= 30 minutes of inactivity — the engine-managed
    form of plans/relational.events_sessionize's manual lag+cumsum
    sessionization. On a stream the 2-hour watermark closes sessions
    whose gap has definitively elapsed (state per open session, not per
    event);
    identical semantics on batch frames (the tests' cross-check).
    """
    with_ts = with_event_time(classified).filter(F.col("event_ts").isNotNull())
    if classified.isStreaming:
        with_ts = with_ts.withWatermark("event_ts", "2 hours")
    return (
        with_ts.groupBy(
            F.session_window("event_ts", "30 minutes").alias("sw"), F.col("wlobscd")
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "wlobscd",
            "n",
        )
    )


SILENCE_OUTPUT_SCHEMA = (
    "wlobscd string, kind string, last_epoch_ms bigint, n_seen bigint"
)


from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
)


class SilenceAlarmProcessor(StatefulProcessor):
    """``transformWithStateInPandas`` stateful processor (Spark 4
    arbitrary-state API): per-station sensor-silence alarm via
    processing-time TIMERS — the capability the older
    ``applyInPandasWithState`` lacks (it only sees a key again when new
    data arrives; a timer fires for a key precisely when data does
    NOT arrive). Every batch of readings refreshes the station's
    ``last_seen`` state and re-arms a timer ``silence_ms`` out; if the
    timer expires before new readings, an ``ALARM`` row is emitted for
    that station. State is one tuple + one timer per station —
    station-cardinality-bounded, stream-length-independent.
    """

    def __init__(self, silence_ms: int = 1000):
        self.silence_ms = silence_ms

    def init(self, handle) -> None:
        self.handle = handle
        self.last_seen = handle.getValueState(
            "last_seen", "last_epoch_ms long, n_seen long"
        )

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        n_new = 0
        for pdf in rows:
            n_new += len(pdf)
        prev = self.last_seen.get()
        n_total = (prev[1] if prev else 0) + n_new
        now_ms = timerValues.getCurrentProcessingTimeInMs()
        self.last_seen.update((now_ms, n_total))
        # re-arm: drop any previous timer, schedule the next silence
        # check (materialize before deleting — the iterator pages
        # through the state API and must not see concurrent mutation)
        for t in list(self.handle.listTimers()):
            self.handle.deleteTimer(t)
        self.handle.registerTimer(now_ms + self.silence_ms)
        yield pd.DataFrame(
            {
                "wlobscd": [key[0]],
                "kind": ["SEEN"],
                "last_epoch_ms": [now_ms],
                "n_seen": [n_total],
            }
        )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        import pandas as pd

        prev = self.last_seen.get()
        yield pd.DataFrame(
            {
                "wlobscd": [key[0]],
                "kind": ["ALARM"],
                "last_epoch_ms": [prev[0] if prev else None],
                "n_seen": [prev[1] if prev else 0],
            }
        )

    def close(self) -> None:
        pass


def silence_alarms(parsed_stream: DataFrame, silence_ms: int = 1000) -> DataFrame:
    """Bind SilenceAlarmProcessor to a parsed observation stream."""
    return (
        parsed_stream.select("wlobscd")
        .groupBy("wlobscd")
        .transformWithStateInPandas(
            statefulProcessor=SilenceAlarmProcessor(silence_ms),
            outputStructType=SILENCE_OUTPUT_SCHEMA,
            outputMode="Append",
            timeMode="ProcessingTime",
        )
    )


FORECAST_STATE_SCHEMA = StructType(
    [
        StructField("t0_us", LongType()),
        StructField("wl0", DoubleType()),
        StructField("t1_us", LongType()),
        StructField("wl1", DoubleType()),
        StructField("attwl", DoubleType()),
        StructField("wrnwl", DoubleType()),
        StructField("almwl", DoubleType()),
        StructField("srswl", DoubleType()),
    ]
)

FORECAST_OUTPUT_SCHEMA = StructType(
    [
        StructField("wlobscd", StringType()),
        StructField("water_level", DoubleType()),
        StructField("rise_per_10min", DoubleType()),
        StructField("margin", DoubleType()),
        StructField("est_minutes_to_next", DoubleType()),
    ]
)


def _forecast_row(t0, wl0, t1, wl1, thresholds):
    """Shared forecast arithmetic: 10-minute rise rate from the last
    two points plus margin/ETA to the least strictly-higher tier —
    the same fixed-order double ops as plans/hydro.rise_forecast."""
    if t0 is None or t1 is None or t1 <= t0:
        return None
    mins = (t1 - t0) / 60_000_000.0
    dwl = wl1 - wl0
    rate10 = dwl * 10.0 / mins
    above = [t for t in thresholds if t is not None and t > wl1]
    margin = round(min(above) - wl1, 4) if above else None
    eta = (
        round(margin * mins / dwl, 2)
        if dwl > 0 and margin is not None
        else None
    )
    return (round(rate10, 4), margin, eta)


def _forecast_fn(key, pdfs, state):
    """Per-station state: the last two valid observations plus the
    station's thresholds (carried in-state so late micro-batches keep
    forecasting even when a batch holds no dim join rows). Emits one
    refreshed forecast per station per micro-batch."""
    (code,) = key
    if state.exists:
        t0, wl0, t1, wl1, att, wrn, alm, srs = state.get
    else:
        t0 = wl0 = t1 = wl1 = att = wrn = alm = srs = None
    for pdf in pdfs:
        pdf = pdf.sort_values(["t_us", "ymdhm"], kind="stable")
        for row in pdf.itertuples(index=False):
            if pd.notna(row.attwl):
                att = float(row.attwl)
            if pd.notna(row.wrnwl):
                wrn = float(row.wrnwl)
            if pd.notna(row.almwl):
                alm = float(row.almwl)
            if pd.notna(row.srswl):
                srs = float(row.srswl)
            if pd.notna(row.water_level) and pd.notna(row.t_us):
                t0, wl0 = t1, wl1
                t1, wl1 = int(row.t_us), float(row.water_level)
    state.update((t0, wl0, t1, wl1, att, wrn, alm, srs))
    fc = _forecast_row(t0, wl0, t1, wl1, (att, wrn, alm, srs))
    if fc is None:
        yield pd.DataFrame(
            [], columns=[f.name for f in FORECAST_OUTPUT_SCHEMA.fields]
        )
    else:
        rate10, margin, eta = fc
        yield pd.DataFrame(
            [(code, wl1, rate10, margin, eta)],
            columns=[f.name for f in FORECAST_OUTPUT_SCHEMA.fields],
        )


def rise_forecast_stream(classified_stream: DataFrame) -> DataFrame:
    """plans/hydro.rise_forecast as a LIVE stateful operator: per
    station, keep the last two valid observations (and thresholds)
    across micro-batches and emit the refreshed rise-rate / headroom /
    minutes-to-next-tier estimate every trigger — the continuous form
    of the batch early-warning query. State is a fixed 8-field row per
    station (bounded by dim cardinality, no timeout needed)."""
    ts = F.try_to_timestamp(
        F.col("obs_time_str"), F.lit("yyyy-MM-dd HH:mm")
    )
    src = classified_stream.filter(F.col("water_level").isNotNull()).select(
        "wlobscd",
        "ymdhm",
        F.unix_micros(F.to_utc_timestamp(ts, "UTC")).alias("t_us"),
        "water_level",
        "attwl",
        "wrnwl",
        "almwl",
        "srswl",
    )
    return src.groupBy("wlobscd").applyInPandasWithState(
        _forecast_fn,
        outputStructType=FORECAST_OUTPUT_SCHEMA,
        stateStructType=FORECAST_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def histogram_rollup_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming face of the mergeable histogram quantile rollup
    (plans/relational.events_histogram_quantiles): maintain the
    per (event_type, day, bucket) integer bin counts as a watermarked
    event-time aggregation. Closed windows emit finalized partials
    (append mode) — exactly the stored-rollup rows the batch face
    merges and interpolates, so the stream keeps the rollup current
    and batch answers quantiles without rescanning raw events. State
    is bounded by types × open-days × 512 bins, evicted at the 1-day
    watermark.

    Watermarks require an LTZ event time, so eviction runs on the
    session-tz cast of the NTZ wall clock — but the DAY label is
    derived from the NTZ wall clock itself, matching the batch face's
    ``to_date(ts)`` in ANY session timezone. In a non-UTC session a
    wall-clock day can straddle two eviction windows, so a
    (type, day, bucket) cell may emit up to two partial rows; partials
    are mergeable by construction (integer adds), and the batch face
    sums them, so consumers are unaffected (see
    tests/test_histogram_stream.py)."""
    bucket = F.least(F.floor("value").cast("int"), F.lit(511))
    return (
        events_stream.filter(
            F.col("value").isNotNull() & (F.col("value") >= 0)
        )
        .withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_ltz", "1 day")
        .groupBy(
            "event_type",
            F.window("ts_ltz", "1 day").alias("w"),
            F.to_date("ts").alias("day"),
            bucket.alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
        .select("event_type", "day", "bucket", "n")
    )


# ---------------------------------------------------------------------------
# Online feature-store assembly (streaming face of
# plans/relational.events_feature_matrix)
# ---------------------------------------------------------------------------

FEATURE_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("views_7d", LongType()),
        StructField("last_error_value", DoubleType()),
        StructField("days_since_signup", LongType()),
        StructField("label", DoubleType()),
    ]
)

FEATURE_STATE_SCHEMA = StructType(
    [
        StructField("view_ts", ArrayType(LongType())),
        StructField("last_error", DoubleType()),
        StructField("signup_us", LongType()),
    ]
)

_SEVEN_DAYS_US = 7 * 86_400 * 1_000_000


def _feature_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user online features: a pruned buffer of trailing-7-day view
    timestamps, the most recent error value, and the first signup
    timestamp. Purchases emit a feature row at arrival time.

    Event-time order within the batch is (us, event_id) — identical to
    the batch face's window frames. Equal-timestamp groups mirror the
    batch RANGE frame exactly: every view in the same microsecond
    counts toward a purchase's views_7d regardless of event_id, while
    error/signup updates stay (us, event_id)-sequential (the batch
    rows frame). State is bounded: the view buffer holds one
    timestamp per view inside the 7-day horizon, pruned on every
    group."""
    if state.exists:
        view_ts, last_error, signup_us = state.get
        view_ts = list(view_ts)
        last_error = None if pd.isna(last_error) else last_error
        signup_us = None if pd.isna(signup_us) else signup_us
    else:
        view_ts, last_error, signup_us = [], None, None
    (user_id,) = key
    out = []
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["us", "event_id"], kind="stable")
    for us, grp in batch.groupby("us", sort=True):
        us = int(us)
        view_ts = [t for t in view_ts if t >= us - _SEVEN_DAYS_US]
        n_group_views = int((grp["event_type"] == "view").sum())
        for row in grp.itertuples(index=False):
            if row.event_type == "purchase":
                days = (
                    (us - signup_us) // 86_400_000_000
                    if signup_us is not None
                    else None
                )
                out.append(
                    (
                        int(row.event_id),
                        int(user_id),
                        len(view_ts) + n_group_views,
                        last_error,
                        days,
                        None if pd.isna(row.value) else float(row.value),
                    )
                )
            elif row.event_type == "error" and pd.notna(row.value):
                last_error = float(row.value)
            elif row.event_type == "signup":
                signup_us = us if signup_us is None else min(signup_us, us)
        view_ts.extend([us] * n_group_views)
    state.update((view_ts, last_error, signup_us))
    yield pd.DataFrame(
        out, columns=[f.name for f in FEATURE_OUTPUT_SCHEMA.fields]
    )


def feature_matrix_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming twin of the point-in-time feature join: the same
    labeled rows the batch face computes, produced online as purchases
    arrive — the online/offline consistency property a feature store
    exists to provide (training rows from the batch face, serving rows
    from this one, same values).

    Groups by user; state bounded by the 7-day view horizon. Within a
    micro-batch, event-time order is exact; across batches, late
    events are handled best-effort like station_delta_stream (a plain
    window cannot give cross-batch frames on an unbounded stream).
    Batch-equivalence on an availableNow replay is pinned in
    tests/test_streaming_analytics.py."""
    us = F.unix_micros(F.to_utc_timestamp("ts", "UTC"))
    src = events_stream.select(
        "event_id", "user_id", "event_type", "value", us.alias("us")
    )
    return src.groupBy("user_id").applyInPandasWithState(
        _feature_fn,
        outputStructType=FEATURE_OUTPUT_SCHEMA,
        stateStructType=FEATURE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
