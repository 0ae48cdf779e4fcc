"""The size-OR-time re-batcher — the engine's one genuinely custom
component (SURVEY §4.3).

Reproduces the reference's observable micro-batching semantics
(/root/reference/nibbler.go:98-173) as a deterministic, clock-injectable
unit: buffer items; flush with BATCH_FULL the instant the buffer reaches
``size`` (nibbler.go:160-165, inline on arrival — a BATCH_FULL batch is
exactly ``size`` items); flush with TICKER when the ticker period elapses
with a non-empty buffer (nibbler.go:154-158; empty ⇒ no flush, R16); the
ticker phase is never reset by a size flush (no ticker.Reset in the
reference — R17 note); convert raises to errors (nibbler.go:81-96), route
them to ``processor_err`` with the live batch (nibbler.go:168-170), then
either drop the batch and resume (nibbler.go:142-148, at-most-once) or
stop fatally (nibbler.go:131-135).

This class owns every stop. ``stopped`` and ``fatal_error`` are the one
fatal state: the embedded ``Nibbler`` and the ``NibblerStream`` transport
read them and keep no copy. A failed batch is always dropped. An error
callback that raises is a fatal stop in both resume modes, and its error
is the one recorded. Every fatal stop raises :class:`NibblerFatalError`
from the call that flushed; any call after it raises
:class:`NibblerStoppedError`.

Spark integration: Structured Streaming's trigger is time-only, so the
transport (``nibbler_spark.streaming.transport``) runs a short
processing-time trigger and feeds each micro-batch's rows through
:meth:`push`, with a driver-side poller thread driving :meth:`poll` for
ticker flushes. All entry points are lock-protected — the lock replaces
the reference's single listener goroutine (nibbler.go:125-150) as the
serialization mechanism; batches never overlap.
"""

from __future__ import annotations

import math
import threading
import time
from collections.abc import Callable

from nibbler_spark.config import Config, Trigger
from nibbler_spark.errors import (
    BatchPanicError,
    NibblerFatalError,
    NibblerStoppedError,
    Panic,
)


class FakeClock:
    """Deterministic manual clock for tests and goldens."""

    def __init__(self, start: float = 0.0):
        self._now = start

    def monotonic(self) -> float:
        return self._now

    def advance(self, seconds: float) -> None:
        self._now += seconds


class ReBatcher:
    """Size-OR-time micro-batcher core. Thread-safe; clock-injectable."""

    def __init__(
        self,
        config: Config,
        clock: Callable[[], float] = time.monotonic,
    ):
        self.cfg = config.sanitize_validate()
        self._clock = clock
        self._lock = threading.RLock()
        self._batch: list = []
        # Fixed-phase ticker, established at construction (reference:
        # ticker created when Listen starts, nibbler.go:127).
        self._next_tick = clock() + self.cfg.ticker_s
        self._stopped = False
        self._fatal_error: BaseException | None = None

    # -- introspection -----------------------------------------------------

    @property
    def stopped(self) -> bool:
        return self._stopped

    @property
    def fatal_error(self) -> BaseException | None:
        return self._fatal_error

    @property
    def buffered(self) -> int:
        """Items currently waiting in the buffer."""
        with self._lock:
            return len(self._batch)

    def seconds_until_tick(self) -> float:
        with self._lock:
            return max(0.0, self._next_tick - self._clock())

    # -- entry points -------------------------------------------------------

    def push(self, item) -> None:
        """Append one item; flush inline with BATCH_FULL when the buffer
        reaches ``size`` (nibbler.go:160-165)."""
        with self._lock:
            self._check_stopped()
            self._batch.append(item)
            if len(self._batch) >= self.cfg.size:
                self._flush(Trigger.BATCH_FULL)

    def push_many(self, items) -> None:
        """Feed a micro-batch of items (the Spark transport's path)."""
        for item in items:
            self.push(item)

    def poll(self) -> None:
        """Fire the ticker if its period has elapsed. At most one TICKER
        flush per poll; missed periods are dropped, phase stays fixed
        (Go tickers drop ticks when the receiver is slow)."""
        with self._lock:
            self._check_stopped()
            now = self._clock()
            if now >= self._next_tick:
                periods = (
                    math.floor((now - self._next_tick) / self.cfg.ticker_s)
                    + 1
                )
                self._next_tick += periods * self.cfg.ticker_s
                if self._batch:  # R16: no empty flushes, ever
                    self._flush(Trigger.TICKER)

    def flush(self, trigger: Trigger = Trigger.TICKER) -> None:
        """Force a flush of a non-empty buffer (used at graceful close —
        an extension; the reference never flushes a partial batch except
        via the ticker)."""
        with self._lock:
            self._check_stopped()
            if self._batch:
                self._flush(trigger)

    # -- internals ----------------------------------------------------------

    def _check_stopped(self) -> None:
        if self._stopped:
            raise NibblerStoppedError(
                f"nibbler has stopped after a fatal error: {self._fatal_error!r}"
            )

    def _flush(self, trigger: Trigger) -> None:
        # Take the batch: success clears the buffer (R10) and a failed
        # batch is dropped, never retried (R8, at-most-once).
        batch, self._batch = self._batch, []
        # Cooperative deadline (nibbler.go:103-104): the processor MAY
        # honor it; the engine never preempts (R5).
        deadline = self._clock() + self.cfg.processing_timeout_s
        try:
            self.cfg.processor(deadline, trigger, batch)
        except BaseException as exc:  # noqa: BLE001 — panic conversion (R6)
            if isinstance(exc, Panic):
                err: BaseException = (
                    exc.value
                    if isinstance(exc.value, BaseException)
                    else BatchPanicError(exc.value)
                )
            else:
                err = exc
            if not self.cfg.resume_after_err:
                # Mark stopped before the error callback so a producer that
                # observes processor_err is guaranteed to see the closed
                # state (reference closes the queue just after, :131-135).
                self._stopped = True
            if self.cfg.processor_err is not None:
                try:
                    # R7: the callback sees the live batch, not a clone.
                    self.cfg.processor_err(batch, err)
                except Exception as cb_err:  # noqa: BLE001
                    # A callback that raises is a fatal stop in both
                    # resume modes; its error is the one recorded.
                    self._stopped = True
                    err = cb_err
            if self._stopped:
                self._fatal_error = err
                raise NibblerFatalError(err) from err


def bench_rebatcher_throughput(n_items: int = 20000, size: int = 100) -> float:
    """Items/s through the core with a no-op processor (BENCH-S1)."""
    sink = 0

    def processor(deadline, trigger, batch):
        nonlocal sink
        sink += len(batch)

    rb = ReBatcher(Config(processor=processor, size=size, ticker_s=3600.0))
    t0 = time.monotonic()
    for i in range(n_items):
        rb.push(i)
    elapsed = time.monotonic() - t0
    return n_items / elapsed if elapsed > 0 else float("inf")
