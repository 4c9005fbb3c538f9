"""R1 retry + R2 circuit breaker semantics, unit + streaming integration."""

from __future__ import annotations

import pytest

from hrfco_data_pipeline_spark.sinks.reliability import (
    CircuitOpenError,
    SinkCircuitBreaker,
    retry_call,
)


class FakeClock:
    def __init__(self) -> None:
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def _boom() -> None:
    raise IOError("sink down")


def test_breaker_trips_at_failure_rate_and_min_calls():
    clock = FakeClock()
    br = SinkCircuitBreaker(min_calls=5, open_seconds=30.0, clock=clock)
    # 4 failures: below min_calls, still closed
    for _ in range(4):
        with pytest.raises(IOError):
            br.call(_boom)
    assert br.state == br.CLOSED
    # 5th call reaches min_calls at 100% failure rate → open
    with pytest.raises(IOError):
        br.call(_boom)
    assert br.state == br.OPEN
    with pytest.raises(CircuitOpenError):
        br.call(lambda: None)  # not even invoked while open


def test_breaker_half_open_recovery_and_reopen():
    clock = FakeClock()
    br = SinkCircuitBreaker(min_calls=2, open_seconds=30.0, clock=clock)
    for _ in range(2):
        with pytest.raises(IOError):
            br.call(_boom)
    assert br.state == br.OPEN
    clock.t = 31.0
    # half-open trial fails → open again, clock restarts
    with pytest.raises(IOError):
        br.call(_boom)
    assert br.state == br.OPEN
    with pytest.raises(CircuitOpenError):
        br.call(lambda: None)
    clock.t = 62.0
    br.call(lambda: None)  # half-open trial succeeds
    assert br.state == br.CLOSED


def test_breaker_mixed_rate_below_threshold_stays_closed():
    br = SinkCircuitBreaker(min_calls=5, sliding_window=10)
    for i in range(10):  # 30% failures < 50% threshold
        if i % 3 == 0:
            with pytest.raises(IOError):
                br.call(_boom)
        else:
            br.call(lambda: None)
    assert br.state == br.CLOSED


def test_retry_call_backoff_and_exhaustion():
    sleeps: list[float] = []
    calls = {"n": 0}

    def flaky() -> None:
        calls["n"] += 1
        if calls["n"] < 3:
            raise IOError("transient")

    retry_call(flaky, sleep=sleeps.append)
    assert calls["n"] == 3
    assert sleeps == [0.5, 1.0]

    with pytest.raises(IOError):
        retry_call(_boom, sleep=sleeps.append)
    assert sleeps == [0.5, 1.0, 0.5, 1.0]


def test_stream_degrades_to_dlq_when_sink_breaker_fails(spark, tmp_path, monkeypatch):
    """A failing guarded sink must not kill the stream: other sinks keep
    writing and the failure lands in the DLQ (W8 partial-failure)."""
    import hrfco_data_pipeline_spark.streaming.pipeline as pl
    from hrfco_data_pipeline_spark.sources.synthetic import synthetic_stations

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "batch.json").write_text(
        '{"wlobscd":"0","ymdhm":"202501011230","wl":"9.99","fw":"1.0"}\n'
        '{"wlobscd":"1","ymdhm":"202501011230","wl":"1.00","fw":"1.0"}\n'
    )

    def broken_archive(*a, **k):
        raise IOError("object store down")

    monkeypatch.setattr(pl, "write_archive", broken_archive)
    stream = pl.observations_file_stream(spark, str(src_dir))
    q = pl.run_stream(
        spark,
        stream,
        synthetic_stations(spark),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        breakers={"archive": SinkCircuitBreaker(name="archive")},
    )
    q.awaitTermination(120)

    fact = spark.read.parquet(str(tmp_path / "out" / "fact"))
    assert fact.count() == 2  # fact sink unaffected (partial failure)
    dlq = spark.read.parquet(str(tmp_path / "out" / "dlq"))
    reasons = [r.error_reason for r in dlq.collect()]
    assert any("Storage failed: archive" in r for r in reasons)
