"""Workload ``embedded``: one producer thread feeding ``nibbler_spark.core``.

No JVM. Three phases, all with ``Config(size=100, ticker_s=0.05)``:

1. saturation, closed loop: the producer sends as fast as ``send`` returns
   (the bounded queue blocks it when the listener falls behind); items per
   second and CPU time per item;
2. ladder, open loop: seeded Poisson arrivals at fixed rates, from a
   ticker-bound rate (TICKER flushes) past capacity (BATCH_FULL flushes,
   growing backlog), then a few bisection steps between the highest rate
   that held the latency limit and the first that did not. Latency is
   timed from each item's due time to the processor call; the named
   size-bound rate runs five times and its figures are medians over them;
3. errors: a seeded tenth of processor calls raise under
   ``resume_after_err=True``; the engine drops those batches.

Every phase is checked item by item outside its timed region.
"""

from __future__ import annotations

import queue
import subprocess
import sys
import time
from statistics import median

from nibbler_spark.config import Config, Trigger
from nibbler_spark.core import Nibbler
from nibbler_spark.errors import NibblerStoppedError
from nibbler_spark.streaming.rebatcher import bench_rebatcher_throughput

from common import (
    Batch,
    Step,
    Tracer,
    TracedReBatcher,
    backlog_growing,
    check_items,
    payload_sizes,
    poisson_schedule,
    rng_for,
    sustainable_rate,
    tail_percentile,
)

SIZE = 100
TICKER_S = 0.05
LIMIT_MS = 100.0  # p99 latency limit for a sustainable rate
SIZE_BOUND_RATE = 20_000  # the named rate for core_latency_p50/p99_ms
LADDER = (200, 1_000, SIZE_BOUND_RATE, 50_000, 100_000, 200_000, 400_000)
REFINE_STEPS = 4
# The named step runs this many times and each latency figure is the median
# over them: a scheduling stall on a shared machine sets the p99 of the
# repetition it falls in, but not the median of five.
NAMED_REPEATS = 5
ERR_RATE = 20_000
ERR_SHARE = 0.1
SEND_TIMEOUT_S = 5.0
DRAIN_TIMEOUT_S = 5.0
ABORT_LATE_S = 0.5  # an overloaded step stops offering once this late
SETUP_REPEATS = 9


class _Injected(RuntimeError):
    """The failure the error phase injects into the processor."""


class _Phase:
    """One Nibbler plus the benchmark's processor; lives for one phase."""

    def __init__(self, tracer: Tracer, err_rng=None):
        self.tracer = tracer
        self.err_rng = err_rng
        self.batches: list[tuple[float, Trigger, list, bool]] = []
        self.processed = 0
        self.busy_s = 0.0
        self.t_last_return = 0.0
        cfg = Config(
            processor=self._process,
            size=SIZE,
            ticker_s=TICKER_S,
            resume_after_err=err_rng is not None,
            processor_err=self._dropped if err_rng is not None else None,
        )
        # No tick is scheduled before this instant (ticker lateness base).
        self.t_start = time.monotonic()
        with tracer.span("core.start"):
            # core.start() is Nibbler(config) + listen(); expanded so a
            # traced run can wrap the rebatcher before the listener reads it.
            self.nib = Nibbler(cfg)
            if tracer.enabled:
                self.nib._rb = TracedReBatcher(self.nib._rb, tracer)
            self.nib.listen()
        self.send = self.nib.receiver().send

    def _process(self, deadline, trigger, batch) -> None:
        t = time.monotonic()
        try:
            with self.tracer.span("processor"):
                acc = 0
                for _seq, payload in batch:
                    acc += len(payload)
                self.batches.append((t, trigger, batch, False))
                if self.err_rng is not None and self.err_rng.random() < ERR_SHARE:
                    raise _Injected(acc)
        finally:
            self.processed += len(batch)
            self.t_last_return = time.monotonic()
            self.busy_s += self.t_last_return - t

    def _dropped(self, batch, err) -> None:
        t, trig, b, _ = self.batches[-1]
        self.batches[-1] = (t, trig, b, True)

    def wait_drained(self, sent: int) -> None:
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        while self.processed < sent and time.monotonic() < deadline:
            time.sleep(0.001)

    def close(self) -> None:
        self.t_close = time.monotonic()
        with self.tracer.span("core.close"):
            self.nib.close(timeout=DRAIN_TIMEOUT_S)

    def check(self, sent: int):
        return check_items(
            [Batch(t, trig.value, [s for s, _ in b], dropped) for t, trig, b, dropped in self.batches],
            sent,
            SIZE,
        )


class _Run:
    """State of one measuring pass."""

    def __init__(self, seed: int, seconds: float, tracer: Tracer):
        self.seed = seed
        self.tracer = tracer
        self.step_s = max(0.2, seconds * 0.05)
        self.sat_items = max(10_000, int(seconds * 15_000))
        self.err_s = max(0.3, seconds * 0.1)
        rng = rng_for(seed, "payloads")
        self.pool = [rng.randbytes(n) for n in payload_sizes(rng, 1024)]
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.phases: list[_Phase] = []
        self.sends: list[float] = []  # traced: send durations (s)
        self.named_reps: list[dict] = []

    def items(self, stream: str, n: int) -> list[tuple[int, bytes]]:
        rng = rng_for(self.seed, stream)
        pool = self.pool
        return [(i, pool[rng.randrange(len(pool))]) for i in range(n)]

    def _finish(self, phase: _Phase, sent: int, send_failed: int, keep: bool = False) -> None:
        rep = phase.check(sent)
        self.attempted += sent + send_failed
        self.failed += rep.failed + send_failed
        self.problems.extend(rep.problems)
        if not keep:
            # The batches' item lists are most of the run's memory; kept,
            # peak RSS would grow with how far the ladder climbs.
            phase.batches = [(t, trig, None, d) for t, trig, _b, d in phase.batches]
        self.phases.append(phase)

    def _send_all(self, phase: _Phase, items, dues) -> tuple[int, int, list, list]:
        """Send ``items`` (at ``dues`` when given). Returns (sent, failed
        sends, backlog samples, per-item send-return times when traced)."""
        send, tr, traced = phase.send, self.tracer, self.tracer.enabled
        backlog: list[tuple[float, int]] = []
        returned: list[float] = []
        sent = 0
        try:
            for i, item in enumerate(items):
                if dues is not None:
                    now = time.monotonic()
                    due = dues[i]
                    if now < due:
                        time.sleep(due - now)
                    elif now - due > ABORT_LATE_S:
                        break
                if traced:
                    a = time.monotonic()
                    send(item, timeout=SEND_TIMEOUT_S)
                    b = time.monotonic()
                    tr.record("core.send", a, b, item=i)
                    self.sends.append(b - a)
                    returned.append(b)
                else:
                    send(item, timeout=SEND_TIMEOUT_S)
                sent += 1
                if not i & 255:
                    backlog.append((time.monotonic(), sent - phase.processed))
        except (queue.Full, NibblerStoppedError) as exc:
            self.problems.append(f"send failed: {exc!r}")
            return sent, 1, backlog, returned
        return sent, 0, backlog, returned

    # -- phases ----------------------------------------------------------

    def saturation(self, trials: int = 3) -> tuple[float, float]:
        """Median items/s and median CPU milliseconds per item (all
        threads: producer, listener, ticker) over ``trials``."""
        rates, cpu_ms = [], []
        for k in range(trials):
            items = self.items(f"saturation:{k}", self.sat_items)
            phase = _Phase(self.tracer)
            try:
                cpu0 = time.process_time()
                t0 = time.monotonic()
                sent, bad, _, _ = self._send_all(phase, items, None)
            finally:
                # close() drains the queue and flushes the partial batch at
                # once, so the trial does not end on a ticker wait
                phase.close()
            cpu_ms.append((time.process_time() - cpu0) / max(1, sent) * 1e3)
            rates.append(sent / (phase.t_last_return - t0))
            self._finish(phase, sent, bad)
        return median(rates), median(cpu_ms)

    def step(self, rate: float, duration_s: float, rep: int = 0) -> Step:
        tag = f"{rate:.3f}" + (f"#{rep}" if rep else "")
        rng = rng_for(self.seed, f"ladder:{tag}")
        offsets = poisson_schedule(rng, rate, duration_s)
        items = self.items(f"ladder-items:{tag}", len(offsets))
        phase = _Phase(self.tracer)
        try:
            t0 = time.monotonic() + 0.002
            dues = [t0 + o for o in offsets]
            sent, bad, backlog, returned = self._send_all(phase, items, dues)
            phase.wait_drained(sent)
        finally:
            phase.close()
        lat = [
            (t - dues[s]) * 1e3
            for t, _, b, dropped in phase.batches
            if not dropped
            for s, _ in b
        ]
        before = self.failed
        self._finish(phase, sent, bad, keep=rate == SIZE_BOUND_RATE)
        p99 = tail_percentile(lat).value if lat else float("inf")
        growing = sent < len(items) or backlog_growing(backlog, tolerance=max(2 * SIZE, 0.05 * sent))
        st = Step(rate, p99, growing, self.failed - before)
        if rate == SIZE_BOUND_RATE:
            self.named_reps.append({"phase": phase, "dues": dues, "returned": returned, "lat": lat, "p99": p99})
        return st

    def named_step(self) -> Step:
        """The named rate, NAMED_REPEATS times; judged on the median p99.
        Each repetition is longer than a ladder step so one stall moves
        well under 1% of its items."""
        sts = [self.step(SIZE_BOUND_RATE, 3 * self.step_s, rep=k) for k in range(NAMED_REPEATS)]
        p99 = median(st.p99_ms for st in sts)
        return Step(SIZE_BOUND_RATE, p99, any(st.growing for st in sts), sum(st.failed for st in sts))

    def ladder(self) -> float:
        steps: list[Step] = []
        hi = None
        for rate in LADDER:
            st = self.named_step() if rate == SIZE_BOUND_RATE else self.step(rate, self.step_s)
            steps.append(st)
            if not st.passes(LIMIT_MS):
                hi = rate
                break
        if not self.named_reps:
            self.named_step()
        passed = [s.rate for s in steps if s.passes(LIMIT_MS)]
        if hi is not None and passed:
            lo = max(passed)
            for _ in range(REFINE_STEPS):
                mid = (lo * hi) ** 0.5
                # longer steps near capacity let a backlog show itself
                st = self.step(mid, 1.5 * self.step_s)
                steps.append(st)
                if st.passes(LIMIT_MS):
                    lo = mid
                else:
                    hi = mid
        self.steps = steps
        return sustainable_rate(steps, LIMIT_MS)

    def errors(self) -> None:
        rng = rng_for(self.seed, "errors:schedule")
        offsets = poisson_schedule(rng, ERR_RATE, self.err_s)
        items = self.items("errors:items", len(offsets))
        phase = _Phase(self.tracer, err_rng=rng_for(self.seed, "errors:inject"))
        try:
            t0 = time.monotonic() + 0.002
            sent, bad, _, _ = self._send_all(phase, items, [t0 + o for o in offsets])
            phase.wait_drained(sent)
        finally:
            phase.close()
        self._finish(phase, sent, bad, keep=True)
        self.err_phase = phase


def setup(ctx, state: dict) -> None:
    """Fresh-interpreter set-up, repeated: spawn, import the core, start a
    Nibbler, report ready. The median is ``setup_s``."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "from nibbler_spark.config import Config;"
        "from nibbler_spark.core import start;"
        "nib = start(Config(processor=lambda d, t, b: None));"
        "print('ready', flush=True); nib.close()"
    )
    times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.monotonic()
        with subprocess.Popen(
            [sys.executable, "-c", code, ctx.root], stdout=subprocess.PIPE, text=True
        ) as proc:
            line = proc.stdout.readline()
            times.append(time.monotonic() - t0)
            proc.wait(timeout=30)
        if line.strip() != "ready":
            raise RuntimeError("set-up child did not start a Nibbler")
    state["setup_s"] = median(times)


def measure(ctx, state: dict, tracer: Tracer) -> dict:
    run = _Run(ctx.seed, ctx.seconds, tracer)
    t0 = time.monotonic()
    items_per_s, cpu_ms_per_item = run.saturation()
    sustainable = run.ladder()
    run.errors()
    wall = time.monotonic() - t0
    tails = [tail_percentile(r["lat"]) for r in run.named_reps]
    e2e = {
        "core_items_per_s": items_per_s,
        "cpu_ms_per_op": cpu_ms_per_item,
        "core_sustainable_items_per_s": sustainable,
        "core_latency_p50_ms": median(median(r["lat"]) for r in run.named_reps),
        "core_latency_p99_ms": median(t.value for t in tails),
    }
    pass_name = "traced" if tracer.enabled else "untraced"
    out = {
        "e2e": e2e,
        "attempted": run.attempted,
        "failed": run.failed,
        "problems": run.problems,
        "detail": {
            f"{pass_name}.core_latency_tails": [
                {"pct": t.pct, "n": t.n, "value": round(t.value, 3), "rate": SIZE_BOUND_RATE} for t in tails
            ],
            f"{pass_name}.ladder": [(round(s.rate), round(s.p99_ms, 2), s.growing) for s in run.steps],
        },
    }
    if tracer.enabled:
        out["layers"] = _layers(run, tracer, wall)
    return out


def _layers(run: _Run, tracer: Tracer, wall: float) -> dict:
    full = ticker = 0
    late = []
    for ph in run.phases:
        for t, trig, _b, _d in ph.batches:
            if trig is Trigger.BATCH_FULL:
                full += 1
            else:
                ticker += 1
                if t < getattr(ph, "t_close", float("inf")):
                    since = t - ph.t_start
                    late.append((since - (since // TICKER_S) * TICKER_S) * 1e3)
    err = run.err_phase
    dropped = [b for _t, _trig, b, d in err.batches if d]
    # the repetition of the named step with the median p99
    named = sorted(run.named_reps, key=lambda r: r["p99"])[len(run.named_reps) // 2]
    handoff = []
    gen_late = []
    if named.get("returned"):
        ret = named["returned"]
        for t, _trig, b, d in named["phase"].batches:
            if not d:
                handoff.extend((t - ret[s]) * 1e3 for s, _ in b if s < len(ret))
        dues = named["dues"]
        gen_late = [(r - dues[i]) * 1e3 for i, r in enumerate(ret)]
    sends_us = [d * 1e6 for d in run.sends]
    base = median(sends_us) if sends_us else 0.0
    self_s = tracer.self_times()
    busy = sum(ph.busy_s for ph in run.phases)
    return {
        "rebatcher.push_items_per_s": median(bench_rebatcher_throughput(200_000, SIZE) for _ in range(3)),
        "rebatcher.flushes_batch_full": full,
        "rebatcher.flushes_ticker": ticker,
        "rebatcher.ticker_late_ms_p99": tail_percentile(late).value if late else 0.0,
        "rebatcher.err_batches": len(dropped),
        "rebatcher.err_items_dropped": sum(len(b) for b in dropped),
        "rebatcher.self_s": self_s.get("rebatcher", 0.0),
        "core.send_us_p50": base,
        "core.send_us_p99": tail_percentile(sends_us).value if sends_us else 0.0,
        "core.send_wait_s": sum(max(0.0, d - base) for d in sends_us) / 1e6,
        "core.handoff_ms_p50": median(handoff) if handoff else 0.0,
        "core.handoff_ms_p99": tail_percentile(handoff).value if handoff else 0.0,
        "core.generator_late_ms_p99": tail_percentile(gen_late).value if gen_late else 0.0,
        "core.self_s": self_s.get("core", 0.0),
        "processor.busy_share": busy / wall,
        "processor.self_s": self_s.get("processor", 0.0),
    }


def teardown(ctx, state: dict) -> None:
    pass
