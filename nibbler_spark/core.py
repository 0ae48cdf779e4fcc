"""Embedded micro-batcher — the reference's library-feeling API in Python.

Maps the reference surface 1:1 (/root/reference/nibbler.go):

- ``Nibbler(config)``  ≡ ``New``   (nibbler.go:175-186, R13)
- ``start(config)``    ≡ ``Start`` (nibbler.go:188-197, R14): construct +
  background listen; returns immediately.
- ``nib.receiver()``   ≡ ``Receiver()`` (nibbler.go:120-122, R15): a push
  endpoint whose ``send`` blocks when ``size`` items are queued (bounded
  queue backpressure, nibbler.go:184, R3) and raises
  :class:`NibblerStoppedError` after a fatal stop (the reference closes
  the channel so sends panic — nibbler_test.go:96-97).
- ``nib.listen()``     ≡ ``Listen`` (nibbler.go:125-150, R17): a single
  consumer thread selecting over ticker vs queue; batches are strictly
  sequential and FIFO order is preserved.

The size-OR-time flush semantics themselves live in
:class:`~nibbler_spark.streaming.rebatcher.ReBatcher`; this module adds
the channel, the listener thread, and lifecycle. The rebatcher also owns
every stop: ``fatal_error`` and the send-after-stop check read its state,
and the listener exits on the first :class:`NibblerError` it raises.

``close()`` (an extension: the reference never stops) queues a close
sentinel behind everything already sent and joins the listener for at
most ``timeout`` seconds. The listener thread pushes every item sent
before ``close()``, flushes the partial batch when ``flush=True``, and
exits; ``close()`` itself never calls into the rebatcher. If the
listener is still busy when the timeout runs out, ``close()`` returns
and the listener finishes that work in the background. Only if the
queue stays full for the whole timeout is the listener told to stop
after its current item, dropping what is still queued.

For the distributed path, see ``nibbler_spark.streaming.transport``
(Structured Streaming).
"""

from __future__ import annotations

import queue as _queue
import threading
import time
from collections.abc import Callable

from nibbler_spark.config import Config
from nibbler_spark.errors import NibblerError, NibblerStoppedError
from nibbler_spark.streaming.rebatcher import ReBatcher

# Sentinel waking the listener for graceful close (extension: the
# reference has no stop API — its goroutine runs for the process life).
_CLOSE = object()


class Receiver:
    """Write-only push endpoint (reference: ``chan<- T``)."""

    def __init__(self, nib: "Nibbler"):
        self._nib = nib

    def send(self, item, timeout: float | None = None) -> None:
        self._nib._send(item, timeout=timeout)

    def send_many(self, items, timeout: float | None = None) -> None:
        for item in items:
            self._nib._send(item, timeout=timeout)


class Nibbler:
    """In-application micro-batch processor (reference: Nibbler[T])."""

    def __init__(self, config: Config, clock: Callable[[], float] = time.monotonic):
        # sanitize+validate happen in ReBatcher construction (≡ New,
        # nibbler.go:176-179 — errors surface before any thread starts).
        self._rb = ReBatcher(config, clock=clock)
        # Bounded ingestion queue: producers block when `size` items are
        # queued and the listener is busy (nibbler.go:184, R3).
        self._queue: _queue.Queue = _queue.Queue(maxsize=self._rb.cfg.size)
        self._thread: threading.Thread | None = None
        self._flush_on_close = True
        # Fallback stop, for when close() cannot queue its sentinel.
        self._closing = False

    # -- producer side -------------------------------------------------------

    def receiver(self) -> Receiver:
        return Receiver(self)

    def _send(self, item, timeout: float | None = None) -> None:
        rb = self._rb
        if rb.stopped:
            raise NibblerStoppedError(f"send after fatal stop: {rb.fatal_error!r}")
        self._queue.put(item, timeout=timeout)

    # -- consumer side -------------------------------------------------------

    def listen(self) -> None:
        """Start the single consumer thread (≡ ``go bat.Listen()``)."""
        if self._thread is not None:
            return
        self._thread = threading.Thread(
            target=self._listen_loop, name="nibbler-listener", daemon=True
        )
        self._thread.start()

    def _listen_loop(self) -> None:
        rb = self._rb
        try:
            while not self._closing:
                # select { ticker | receive } — wait for an item at most
                # until the next ticker deadline (nibbler.go:152-166).
                wait = min(rb.seconds_until_tick(), 1.0)
                try:
                    item = self._queue.get(timeout=wait if wait > 0 else 0.001)
                except _queue.Empty:
                    item = None
                if item is _CLOSE:
                    if self._flush_on_close:
                        rb.flush()
                    return
                if item is not None:
                    rb.push(item)
                rb.poll()
        except NibblerError:
            # ≡ break + deferred close(queue) (nibbler.go:131-135,
            # 142-144): the rebatcher has stopped and holds the error.
            return

    # -- lifecycle (extension) ------------------------------------------------

    @property
    def fatal_error(self) -> BaseException | None:
        return self._rb.fatal_error

    def close(self, flush: bool = True, timeout: float = 10.0) -> None:
        """Graceful stop (extension — the reference never stops). The
        listener delivers everything sent before this call, flushes the
        partial batch if ``flush``, and exits; this call waits for it at
        most ``timeout`` seconds."""
        if self._thread is None or not self._thread.is_alive():
            return
        deadline = time.monotonic() + timeout
        self._flush_on_close = flush
        try:
            self._queue.put(_CLOSE, timeout=timeout)
        except _queue.Full:
            self._closing = True
        self._thread.join(timeout=max(0.0, deadline - time.monotonic()))


def start(config: Config, clock: Callable[[], float] = time.monotonic) -> Nibbler:
    """≡ reference ``Start``: construct + background listen (nibbler.go:188-197)."""
    nib = Nibbler(config, clock=clock)
    nib.listen()
    return nib
