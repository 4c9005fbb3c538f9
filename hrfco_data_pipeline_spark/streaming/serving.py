"""W9/A8 — the serving-plane alert broadcast, Spark-natively.

Reference: the monitoring server's ``AlertService.java`` keeps an
SseEmitter registry keyed by station — an "all" key plus per-station
sets (AlertService.java:17,25-47) — fans published alerts out to the
"all" set and the alert's own station set with dead-emitter pruning
(AlertService.java:70-95), and exposes the total subscriber gauge
(AlertService.java:99-102). Subscribing sends an initial "connected"
event (AlertService.java:52-56).

Spark mapping — alerts are a *streaming DataFrame* (the
``operators/classify.build_alerts`` plane), so the engine-side
broadcast surface is a sink, in two idiomatic forms:

- **push** (the SSE twin): :func:`attach_broadcast` binds a
  ``foreachBatch`` that fans each micro-batch out to registered
  subscriber callbacks via :class:`AlertBroadcaster` — the
  ``emitter.send`` loop with the same remove-on-failure contract.
  The fan-out runs driver-side over the *alert* plane only, which is
  K2-bounded (alerts are the tiny retained tail, never the
  observation firehose), so the per-batch row pull is not a
  collect-on-unbounded-data anti-pattern.
- **poll**: :func:`serve_memory` registers the Structured Streaming
  memory sink — the queryable in-memory table a dashboard polls with
  ``spark.sql``. This is the idiomatic Spark answer to "broadcast the
  latest state to clients"; an HTTP/SSE layer in front of it is a
  serving concern outside the engine.

A8: :meth:`AlertBroadcaster.subscriber_count` sums the keyed sets
exactly as ``getSubscriberCount`` does; :func:`active_stream_count`
is the engine-level sibling gauge (live streaming queries on the
session).
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from hrfco_data_pipeline_spark.sinks.reliability import batch_function

ALL_STATIONS = "all"

Subscriber = Callable[[dict], None]


class AlertBroadcaster:
    """Keyed subscriber registry with send-failure pruning.

    Thread-safe: ``foreachBatch`` publishes from the streaming thread
    while subscribe/unsubscribe arrive from serving threads — the
    reference uses ``ConcurrentHashMap`` + ``CopyOnWriteArraySet``
    (AlertService.java:17) for the same reason; here one lock guards
    the registry and sends happen outside it on a snapshot.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._subs: dict[str, dict[int, Subscriber]] = {}
        self._next_id = 0

    def subscribe(self, send: Subscriber, station: str | None = None) -> int:
        """Register a callback for one station (or all); returns the
        subscriber id. Sends the initial connected event, and prunes
        immediately if that first send fails (AlertService.java:52-56).
        """
        key = station or ALL_STATIONS
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            self._subs.setdefault(key, {})[sid] = send
        try:
            send({"event": "connected", "station": key})
        except Exception:
            self.unsubscribe(sid)
        return sid

    def unsubscribe(self, sid: int) -> None:
        with self._lock:
            for subs in self._subs.values():
                subs.pop(sid, None)

    def subscriber_count(self) -> int:
        """A8: total subscribers across keys (AlertService.java:99-102)."""
        with self._lock:
            return sum(len(s) for s in self._subs.values())

    def publish(self, alert: dict) -> None:
        """Fan one alert out to the "all" set plus the alert's own
        station set; a subscriber whose send raises is removed
        (AlertService.java:70-95)."""
        station = alert.get("observation_code")
        keys = [ALL_STATIONS] if station is None else [ALL_STATIONS, station]
        for key in keys:
            with self._lock:
                targets = list(self._subs.get(key, {}).items())
            for sid, send in targets:
                try:
                    send({"event": "alert", "data": alert})
                except Exception:
                    self.unsubscribe(sid)

    def publish_batch(self, batch: DataFrame) -> None:
        """Deliver one micro-batch. ``toLocalIterator`` keeps driver
        memory at one-partition granularity; the alert plane is
        K2-bounded so this is a few hundred rows at most."""
        for row in batch.toLocalIterator():
            self.publish(row.asDict())


def attach_broadcast(
    alerts_stream: DataFrame,
    broadcaster: AlertBroadcaster,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
) -> StreamingQuery:
    """Bind the push fan-out: every alert micro-batch is delivered to
    the broadcaster's subscribers (the SSE ``sendToSubscribers`` loop,
    AlertService.java:78-95, as a ``foreachBatch`` sink)."""
    writer = (
        alerts_stream.writeStream.foreachBatch(
            batch_function(lambda batch, _id: broadcaster.publish_batch(batch))
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def serve_memory(
    alerts_stream: DataFrame, name: str, *, available_now: bool = True
) -> StreamingQuery:
    """Poll form: append the alert stream into the in-memory table
    ``name`` for ``spark.sql(f"SELECT ... FROM {name}")`` dashboards."""
    writer = (
        alerts_stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def active_stream_count(spark: SparkSession) -> int:
    """Engine-level subscriber gauge: live streaming queries attached
    to this session (the ``StreamingQueryManager`` registry)."""
    return len(spark.streams.active)
