"""Ports of the reference test suite (/root/reference/nibbler_test.go) to
the Python embedded API, plus deterministic fake-clock goldens and
property tests for the re-batcher invariants (SURVEY §5.1/§5.2)."""

from __future__ import annotations

import threading
import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nibbler_spark.config import Config, Trigger
from nibbler_spark.core import Nibbler, start
from nibbler_spark.errors import (
    BatchPanicError,
    NibblerFatalError,
    NibblerStoppedError,
    NibblerValidationError,
    Panic,
)
from nibbler_spark.streaming.rebatcher import FakeClock, ReBatcher

# ---------------------------------------------------------------------------
# Golden batching — deterministic fake-clock version of TestNibbler
# (nibbler_test.go:15-83): 18 items, size 6, 1 s ticker, pauses before
# items 0, 7, 14 ⇒ batches [6,1,6,1,4].
# ---------------------------------------------------------------------------

GOLDEN_EXPECTED = [
    (["i:0", "i:1", "i:2", "i:3", "i:4", "i:5"], Trigger.BATCH_FULL),
    (["i:6"], Trigger.TICKER),
    (["i:7", "i:8", "i:9", "i:10", "i:11", "i:12"], Trigger.BATCH_FULL),
    (["i:13"], Trigger.TICKER),
    (["i:14", "i:15", "i:16", "i:17"], Trigger.TICKER),
]


def run_golden_rebatcher():
    """The reference scenario on a fake clock — fully deterministic."""
    got: list[tuple[list, Trigger]] = []
    clock = FakeClock()
    rb = ReBatcher(
        Config(
            processor=lambda _dl, trig, batch: got.append((list(batch), trig)),
            size=6,
            ticker_s=1.0,
            processing_timeout_s=0.001,
        ),
        clock=clock.monotonic,
    )
    for i in range(18):
        if i % 7 == 0:  # nibbler_test.go:56-59 — sleep(batchFreq + 100ms)
            clock.advance(1.1)
            rb.poll()
        rb.push(f"i:{i}")
    clock.advance(1.1)
    rb.poll()
    return got


def test_golden_batching_deterministic():
    assert run_golden_rebatcher() == GOLDEN_EXPECTED


def test_golden_batching_threaded_real_clock():
    """The same scenario end-to-end through the threaded embedded API with
    a real 1 s ticker — the faithful port of TestNibbler."""
    got: list[list] = []
    done = threading.Event()

    def processor(_dl, _trig, batch):
        got.append(list(batch))
        if batch[-1] == "i:17":
            done.set()

    nib = start(
        Config(processor=processor, size=6, ticker_s=1.0,
               processing_timeout_s=0.001)
    )
    receiver = nib.receiver()
    for i in range(18):
        if i % 7 == 0:
            time.sleep(1.1)
        receiver.send(f"i:{i}")
    assert done.wait(timeout=5.0)
    assert got == [exp for exp, _ in GOLDEN_EXPECTED]
    nib.close()


# ---------------------------------------------------------------------------
# Error machinery — TestProcessorErr (nibbler_test.go:85-213)
# ---------------------------------------------------------------------------


class _ErrScenario:
    def __init__(self, raiser, resume: bool):
        self.received_err = threading.Event()
        self.failed_batch = None
        self.err = None
        self.raiser = raiser
        self.config = Config(
            processor=self._processor,
            ticker_s=1.0,
            resume_after_err=resume,
            processor_err=self._processor_err,
        )

    def _processor(self, _dl, _trig, batch):
        self.raiser()

    def _processor_err(self, failed_batch, err):
        self.failed_batch = list(failed_batch)
        self.err = err
        self.received_err.set()


def _drive(scenario: _ErrScenario) -> Nibbler:
    nib = start(scenario.config)
    nib.receiver().send("hello")
    assert scenario.received_err.wait(timeout=5.0)
    assert scenario.failed_batch == ["hello"]
    return nib


def test_err_processor_without_resume():
    """Error ⇒ processor_err(failed_batch, err); subsequent send raises
    (reference: send on closed channel panics, nibbler_test.go:89-117)."""
    boom = RuntimeError("failed processing")
    sc = _ErrScenario(lambda: (_ for _ in ()).throw(boom), resume=False)
    nib = _drive(sc)
    assert sc.err is boom
    # the listener thread exits after the fatal flush; wait for the flag
    for _ in range(100):
        if nib.fatal_error is not None:
            break
        time.sleep(0.05)
    with pytest.raises(NibblerStoppedError):
        nib.receiver().send("again")


def test_err_processor_with_resume():
    """With resume: failed batch dropped, next send succeeds and fails
    independently (nibbler_test.go:119-148)."""
    boom = RuntimeError("failed processing")
    sc = _ErrScenario(lambda: (_ for _ in ()).throw(boom), resume=True)
    nib = _drive(sc)
    assert sc.err is boom
    sc.received_err.clear()
    nib.receiver().send("again")  # must NOT raise
    assert sc.received_err.wait(timeout=5.0)
    assert sc.failed_batch == ["again"]
    nib.close(flush=False)


@pytest.mark.parametrize("resume", [False, True])
def test_err_callback_raising_is_a_fatal_stop(resume):
    """An error callback that raises stops the listener fatally: the
    error is surfaced as fatal_error and later sends raise instead of
    queueing into a dead listener until queue.Full."""
    callback_err = ValueError("callback failed")
    called = threading.Event()

    def processor(_dl, _trig, _batch):
        raise RuntimeError("failed processing")

    def processor_err(_batch, _err):
        called.set()
        raise callback_err

    nib = start(
        Config(
            processor=processor,
            size=1,
            resume_after_err=resume,
            processor_err=processor_err,
        )
    )
    nib.receiver().send("hello")
    assert called.wait(timeout=5.0)
    deadline = time.monotonic() + 5.0
    while nib.fatal_error is None and time.monotonic() < deadline:
        time.sleep(0.01)
    assert nib.fatal_error is callback_err
    with pytest.raises(NibblerStoppedError):
        nib.receiver().send("again", timeout=1.0)
    nib.close(flush=False)


def test_panic_recovery_without_resume():
    """panic(error) ⇒ converted to that error, callback fires, fatal stop
    (nibbler_test.go:150-179)."""
    boom = RuntimeError("failed processing")
    sc = _ErrScenario(lambda: (_ for _ in ()).throw(Panic(boom)), resume=False)
    nib = _drive(sc)
    assert sc.err is boom
    for _ in range(100):
        if nib.fatal_error is not None:
            break
        time.sleep(0.05)
    with pytest.raises(NibblerStoppedError):
        nib.receiver().send("again")


def test_panic_recovery_with_resume_non_error_value():
    """panic(non-error) wrapped (reference: fmt.Errorf("%+v"), nibbler.go:90-93);
    resume keeps the stream alive (nibbler_test.go:181-212)."""
    sc = _ErrScenario(
        lambda: (_ for _ in ()).throw(Panic("processor panic")), resume=True
    )
    nib = _drive(sc)
    assert isinstance(sc.err, BatchPanicError)
    assert "processor panic" in str(sc.err)
    sc.received_err.clear()
    nib.receiver().send("again")  # must NOT raise
    assert sc.received_err.wait(timeout=5.0)
    assert sc.failed_batch == ["again"]
    nib.close(flush=False)


# ---------------------------------------------------------------------------
# Config sanitize/validate — TestSanitizeValidate (nibbler_test.go:215-267)
# ---------------------------------------------------------------------------


def test_sanitize_all_valid_untouched():
    cfg = Config(
        processor=lambda *_: None,
        size=10,
        ticker_s=1.0,
        processing_timeout_s=60.0,
        resume_after_err=False,
        processor_err=lambda *_: None,
    )
    Nibbler(cfg)
    assert cfg.processing_timeout_s == 60.0
    assert cfg.ticker_s == 1.0
    assert cfg.size == 10
    assert cfg.resume_after_err is False


def test_sanitize_defaults():
    """Defaults: timeout 1 s, ticker 60 s (code wins over the stale doc
    comment — nibbler.go:54 vs :30), size 100."""
    cfg = Config(
        processor=lambda *_: None,
        size=0,
        ticker_s=1e-9,
        processing_timeout_s=1e-9,
    )
    Nibbler(cfg)
    assert cfg.processing_timeout_s == 1.0
    assert cfg.ticker_s == 60.0
    assert cfg.size == 100
    assert cfg.processor_err is None


def test_validate_missing_processor():
    with pytest.raises(NibblerValidationError):
        start(Config(processor=None))


# ---------------------------------------------------------------------------
# Property tests — re-batcher invariants under random arrival/timing
# (SURVEY §5.2.6)
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(
    size=st.integers(min_value=1, max_value=10),
    steps=st.lists(
        st.one_of(
            st.integers(min_value=1, max_value=15),  # push N items
            st.floats(min_value=0.1, max_value=5.0),  # advance clock
        ),
        max_size=30,
    ),
)
def test_rebatcher_invariants(size, steps):
    flushed: list[tuple[list, Trigger]] = []
    clock = FakeClock()
    rb = ReBatcher(
        Config(
            processor=lambda _dl, t, b: flushed.append((list(b), t)),
            size=size,
            ticker_s=1.0,
        ),
        clock=clock.monotonic,
    )
    pushed = []
    counter = 0
    for step in steps:
        if isinstance(step, int):
            for _ in range(step):
                item = counter
                counter += 1
                pushed.append(item)
                rb.push(item)
        else:
            clock.advance(step)
            rb.poll()
    # Invariants (R1/R16/R17/§2.2.3):
    for batch, trig in flushed:
        assert 0 < len(batch) <= size  # no empty flushes; bounded
        if trig is Trigger.BATCH_FULL:
            assert len(batch) == size  # full flushes are exactly size
    flat = [x for batch, _ in flushed for x in batch]
    assert flat == pushed[: len(flat)]  # FIFO order, no loss before tail


@settings(max_examples=1000, deadline=None)
@given(
    size=st.integers(min_value=1, max_value=12),
    ticker_q=st.integers(min_value=1, max_value=16),  # ticker = q * 0.25 s
    steps=st.lists(
        st.one_of(
            st.integers(min_value=1, max_value=20),  # push N items
            st.integers(min_value=-20, max_value=-1),  # advance clock N*0.25s
        ),
        max_size=40,
    ),
)
def test_rebatcher_random_schedules_exhaustive(size, ticker_q, steps):
    """SURVEY §5.2.6 hardened (VERDICT r1 item 8): ≥1000 random
    arrival/timing schedules asserting, after a final drain —
    (1) every flush non-empty and ≤ size, BATCH_FULL flushes exactly
        size (a full batch flushes inline on the arriving item);
    (2) concatenation of all flushed batches == the full input sequence
        (nothing lost, nothing duplicated, FIFO preserved);
    (3) the ticker phase is FIXED at construction: the next-tick time
        always sits on construction_phase + k·ticker, regardless of how
        many BATCH_FULL flushes intervened (the reference never resets
        its ticker, nibbler.go:127 + §2.1 R17)."""
    ticker_s = ticker_q * 0.25
    flushed: list[tuple[list, Trigger]] = []
    clock = FakeClock()
    rb = ReBatcher(
        Config(
            processor=lambda _dl, t, b: flushed.append((list(b), t)),
            size=size,
            ticker_s=ticker_s,
        ),
        clock=clock.monotonic,
    )
    phase0 = rb._next_tick
    pushed = []
    counter = 0
    for step in steps:
        if step > 0:
            for _ in range(step):
                pushed.append(counter)
                rb.push(counter)
                counter += 1
        else:
            clock.advance(-step * 0.25)
            rb.poll()
        # (3) fixed phase after every step
        k = round((rb._next_tick - phase0) / ticker_s)
        assert abs(rb._next_tick - (phase0 + k * ticker_s)) < 1e-9
    if rb.buffered:
        rb.flush()  # drain the tail
    for batch, trig in flushed:
        assert 0 < len(batch) <= size
        if trig is Trigger.BATCH_FULL:
            assert len(batch) == size
    flat = [x for batch, _ in flushed for x in batch]
    assert flat == pushed  # (2) exact concatenation after drain


@settings(max_examples=1000, deadline=None)
@given(
    size=st.integers(min_value=1, max_value=8),
    resume=st.booleans(),
    steps=st.lists(
        st.one_of(
            st.integers(min_value=1, max_value=15),  # push N items
            st.integers(min_value=-8, max_value=-1),  # advance clock N*0.25s
        ),
        max_size=30,
    ),
    # per flush: processor succeeds, raises, or raises and so does the
    # error callback
    faults=st.lists(st.sampled_from(["ok", "fail", "callback"]), max_size=20),
)
def test_rebatcher_random_schedules_with_failures(size, resume, steps, faults):
    """Random schedules with processor failures and raising error
    callbacks at random flushes, resuming or not. Every batch reaches the
    processor once and in FIFO order (a failed batch is dropped, never
    sent again), BATCH_FULL batches are exactly ``size``, and the first
    fatal flush raises NibblerFatalError, leaves the rebatcher stopped
    with that flush's error recorded, and makes every later call raise
    NibblerStoppedError."""
    delivered: list[tuple[list, Trigger]] = []
    errors: list[BaseException] = []  # the error each failed flush ends with

    def fault(i: int) -> str:
        return faults[i] if i < len(faults) else "ok"

    def processor(_dl, trig, batch):
        delivered.append((list(batch), trig))
        if fault(len(delivered) - 1) != "ok":
            errors.append(RuntimeError(f"processor {len(delivered)}"))
            raise errors[-1]

    def processor_err(batch, err):
        assert err is errors[-1]
        assert batch == delivered[-1][0]
        if fault(len(delivered) - 1) == "callback":
            errors[-1] = ValueError(f"callback {len(delivered)}")
            raise errors[-1]

    clock = FakeClock()
    rb = ReBatcher(
        Config(
            processor=processor,
            size=size,
            ticker_s=0.5,
            resume_after_err=resume,
            processor_err=processor_err,
        ),
        clock=clock.monotonic,
    )
    pushed = []
    fatal = None
    try:
        for step in steps:
            if step > 0:
                for _ in range(step):
                    pushed.append(len(pushed))
                    rb.push(pushed[-1])
            else:
                clock.advance(-step * 0.25)
                rb.poll()
        rb.flush()
    except NibblerFatalError as exc:
        fatal = exc

    flat = [x for batch, _ in delivered for x in batch]
    assert flat == pushed[: len(flat)]  # FIFO, nothing delivered twice
    for batch, trig in delivered:
        assert 0 < len(batch) <= size
        if trig is Trigger.BATCH_FULL:
            assert len(batch) == size
    fatal_at = [
        i
        for i in range(len(delivered))
        if fault(i) == "callback" or (fault(i) == "fail" and not resume)
    ]
    if not fatal_at:
        assert fatal is None and not rb.stopped and rb.fatal_error is None
        assert flat == pushed  # nothing left behind after the final flush
        return
    # the first fatal flush is the last one: nothing is delivered after it
    assert fatal_at[0] == len(delivered) - 1
    assert fatal is not None and fatal.error is errors[-1]
    assert rb.stopped and rb.fatal_error is errors[-1]
    for call in (lambda: rb.push("late"), rb.poll, rb.flush):
        with pytest.raises(NibblerStoppedError):
            call()


@pytest.mark.parametrize("flush", [True, False])
def test_close_returns_within_its_timeout_and_the_listener_flushes(flush):
    """close(timeout=t) with a processor slower than t returns within t
    (plus scheduling slack) and never calls the processor itself: the
    listener thread delivers every item sent before close() exactly once,
    the partial batch only when flush=True, then exits."""
    delivered: list[list] = []
    threads: set[str] = set()

    def processor(_dl, _trig, batch):
        time.sleep(1.0)
        delivered.append(list(batch))
        threads.add(threading.current_thread().name)

    nib = start(Config(processor=processor, size=3, ticker_s=60.0))
    nib.receiver().send_many(range(4))  # one full batch and one partial
    t0 = time.monotonic()
    nib.close(flush=flush, timeout=0.3)
    elapsed = time.monotonic() - t0
    assert elapsed < 0.3 + 0.2
    nib._thread.join(timeout=10.0)
    assert not nib._thread.is_alive()
    assert delivered == ([[0, 1, 2], [3]] if flush else [[0, 1, 2]])
    assert threads == {"nibbler-listener"}
    assert nib.fatal_error is None


def test_close_under_concurrent_sends_delivers_each_item_once():
    """Eight producer threads (more than the cores) send while the
    listener flushes, with a short switch interval; close() after they
    finish delivers every item exactly once, each producer's items in
    send order, and BATCH_FULL batches of exactly ``size``."""
    import sys

    batches: list[tuple[list, Trigger]] = []

    def processor(_dl, trig, batch):
        batches.append((list(batch), trig))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        nib = start(Config(processor=processor, size=7, ticker_s=0.01))
        producers = [
            threading.Thread(
                target=nib.receiver().send_many,
                args=([(p, i) for i in range(500)],),
                kwargs={"timeout": 10.0},
            )
            for p in range(8)
        ]
        for t in producers:
            t.start()
        for t in producers:
            t.join(timeout=30.0)
        assert not any(t.is_alive() for t in producers)
        nib.close(timeout=10.0)
        assert not nib._thread.is_alive()
    finally:
        sys.setswitchinterval(interval)
    items = [x for batch, _ in batches for x in batch]
    assert sorted(items) == [(p, i) for p in range(8) for i in range(500)]
    for p in range(8):
        assert [i for q, i in items if q == p] == list(range(500))
    assert all(len(b) == 7 for b, trig in batches if trig is Trigger.BATCH_FULL)
    assert nib.fatal_error is None


def test_at_most_once_under_task_retry():
    """R8 at-most-once delivery survives Spark TASK retries (r4 verdict
    #2): with master local[4,2] every executor task gets two attempts,
    and an injected UDF fails every FIRST attempt
    (TaskContext.attemptNumber() == 0).  Task retries happen below the
    foreachBatch collect() boundary, so the driver-side re-batcher must
    see each micro-batch exactly once — the processor side-effect log
    equals the no-failure golden with zero duplicated or partial
    batches.  Runs in a subprocess because local-mode task-retry count
    is baked into the master string (the shared test session is
    local[4] = single attempt).  The marker census proves the failures
    and retries genuinely happened."""
    import json
    import os
    import subprocess
    import sys
    import tempfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    marker_dir = tempfile.mkdtemp(prefix="nibbler-retry-markers-")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tests", "retry_golden_harness.py"),
            marker_dir,
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=repo,
    )
    line = next(
        (
            ln
            for ln in proc.stdout.splitlines()
            if ln.startswith("RESULT:")
        ),
        None,
    )
    assert line is not None, (
        f"harness produced no RESULT line\nstdout:\n{proc.stdout[-2000:]}"
        f"\nstderr:\n{proc.stderr[-2000:]}"
    )
    res = json.loads(line[len("RESULT:"):])
    # exactly-once at the re-batcher layer: the no-failure golden
    assert res["batches"] == [
        ["x:0", "x:1", "x:2", "x:3"],
        ["x:4", "x:5", "x:6", "x:7"],
        ["x:8", "x:9"],
    ]
    # and the retries were real: first attempts failed, seconds ran
    assert res["attempt0_markers"] >= 1
    assert res["attempt1_markers"] >= 1
