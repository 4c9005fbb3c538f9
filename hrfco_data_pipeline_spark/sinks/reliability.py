"""R1/R2: per-sink retry + circuit breaker for foreachBatch writers.

The reference guards each storage backend with resilience4j — failure
rate 50% over a sliding window of 10 calls, minimum 5 calls before the
breaker can trip, open for 30 s, then a half-open trial
(StorageCircuitBreakerRegistry.java:30-57) — plus retry with
exponential backoff (RetryUtil.java:22-70: 3 attempts, 500 ms initial,
×2). In Spark these are NOT data-plane operators: task retries and
checkpoint replay already cover transient executor failures. What they
still buy is *sink-level* protection inside ``foreachBatch``: a dead
external store (object store endpoint, JDBC target) should fail fast
after a few micro-batches instead of stalling every trigger on
timeouts, and the skipped batch should land in the DLQ — the same
at-least-once + DLQ contract the reference runs.

State machine: CLOSED → (failure rate ≥ threshold over ≥ min calls)
→ OPEN → (open_seconds elapsed) → HALF_OPEN → one trial call →
CLOSED on success / OPEN again on failure. Clock injectable for tests.
"""

from __future__ import annotations

import functools
import time
from collections import deque
from collections.abc import Callable


class CircuitOpenError(RuntimeError):
    """Raised instead of calling the sink while the breaker is open."""


class SinkCircuitBreaker:
    """resilience4j-style count-based sliding-window breaker."""

    CLOSED, OPEN, HALF_OPEN = "CLOSED", "OPEN", "HALF_OPEN"

    def __init__(
        self,
        name: str = "sink",
        failure_rate_threshold: float = 0.5,
        sliding_window: int = 10,
        min_calls: int = 5,
        open_seconds: float = 30.0,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.name = name
        self.failure_rate_threshold = failure_rate_threshold
        self.window: deque[bool] = deque(maxlen=sliding_window)
        self.min_calls = min_calls
        self.open_seconds = open_seconds
        self._clock = clock
        self.state = self.CLOSED
        self._opened_at = 0.0

    def _failure_rate(self) -> float:
        if not self.window:
            return 0.0
        return sum(1 for ok in self.window if not ok) / len(self.window)

    def _record(self, ok: bool) -> None:
        self.window.append(ok)
        if (
            self.state == self.CLOSED
            and len(self.window) >= self.min_calls
            and self._failure_rate() >= self.failure_rate_threshold
        ):
            self.state = self.OPEN
            self._opened_at = self._clock()

    def call(self, fn: Callable[[], None]) -> None:
        """Run ``fn`` under the breaker; raises CircuitOpenError when open."""
        if self.state == self.OPEN:
            if self._clock() - self._opened_at < self.open_seconds:
                raise CircuitOpenError(
                    f"circuit '{self.name}' open "
                    f"(failure rate {self._failure_rate():.0%})"
                )
            self.state = self.HALF_OPEN
        try:
            fn()
        except Exception:
            if self.state == self.HALF_OPEN:
                self.state = self.OPEN
                self._opened_at = self._clock()
            else:
                self._record(False)
            raise
        else:
            if self.state == self.HALF_OPEN:
                self.state = self.CLOSED
                self.window.clear()
            else:
                self._record(True)


def retry_call(
    fn: Callable[[], None],
    sleep: Callable[[float], None] = time.sleep,
) -> None:
    """RetryUtil.java:22-70 semantics: 3 attempts, exponential backoff
    from 0.5 s, x2 per retry, re-raises the last failure. Use for sink
    I/O inside foreachBatch only — Spark task retries cover everything
    inside the plan."""
    delay = 0.5
    for attempt in range(3):
        try:
            fn()
            return
        except Exception:
            if attempt == 2:
                raise
            sleep(delay)
            delay *= 2


def batch_function(fn: Callable) -> Callable:
    """``fn(batch, batch_id)`` as a ``foreachBatch`` function that fails
    its micro-batch on ANY exception.

    pyspark's callback catches only ``Exception``. A ``BaseException``
    that is not one (``KeyboardInterrupt``, ``SystemExit``, a kill)
    raised inside ``fn`` kills the py4j callback connection instead,
    and the query neither fails nor advances. Re-raised here as a
    ``RuntimeError``, it fails the batch: the query ends with a
    ``StreamingQueryException``, and a restart on the same checkpoint
    replays the batch."""

    @functools.wraps(fn)
    def run(batch, batch_id: int) -> None:
        try:
            fn(batch, batch_id)
        except Exception:
            raise
        except BaseException as exc:
            raise RuntimeError(
                f"micro-batch {batch_id} stopped by {type(exc).__name__}"
            ) from exc

    return run
