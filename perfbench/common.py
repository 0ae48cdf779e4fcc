"""Shared pieces of the benchmark: seeded schedules, percentiles, the
sustainable-rate rule, the item checker, the span tracer, canaries and
process-tree memory.

Nothing here imports ``nibbler_spark`` or pyspark, so the logic tests run
without a JVM.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field

# -- seeded inputs -----------------------------------------------------------


def rng_for(seed: int, stream: str) -> random.Random:
    """Independent, reproducible random stream per (seed, purpose)."""
    return random.Random(f"{seed}:{stream}")


def poisson_schedule(rng: random.Random, rate: float, duration_s: float) -> list[float]:
    """Arrival offsets (seconds from step start) of a Poisson process."""
    out: list[float] = []
    t = rng.expovariate(rate)
    while t < duration_s:
        out.append(t)
        t += rng.expovariate(rate)
    return out


def payload_sizes(rng: random.Random, n: int, lo: int = 16, hi: int = 1024) -> list[int]:
    """Log-uniform payload sizes in bytes: many small items, a few large."""
    log_lo, log_hi = math.log(lo), math.log(hi)
    return [int(math.exp(rng.uniform(log_lo, log_hi))) for _ in range(n)]


# -- statistics --------------------------------------------------------------


@dataclass(frozen=True)
class Tail:
    """A tail percentile as reported: which percentile, its value, and how
    many samples it rests on."""

    pct: float
    value: float
    n: int


def tail_percentile(samples: list[float], want: float = 99.0, beyond: int = 10) -> Tail:
    """The ``want`` percentile, lowered to the highest percentile that still
    has at least ``beyond`` samples above it; ``pct`` says which one it is.

    With fewer than ``beyond + 1`` samples no percentile qualifies and the
    median is returned (pct 50) so the caller still sees the sample count.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    s = sorted(samples)
    if n <= beyond:
        return Tail(50.0, statistics.median(s), n)
    pct = min(want, 100.0 * (n - beyond) / n)
    # nearest-rank: the k-th smallest with k = ceil(pct/100 * n)
    k = max(1, math.ceil(pct / 100.0 * n))
    return Tail(pct, s[k - 1], n)


def backlog_growing(points: list[tuple[float, int]], tolerance: float) -> bool:
    """True when the backlog (items sent but not yet processed) trends up.

    ``points`` are (time, backlog) samples over one ladder step. The
    least-squares slope over the second half of the step, times that
    half's length, is the growth; it must stay within ``tolerance`` items.
    """
    if len(points) < 4:
        return False
    half = points[len(points) // 2:]
    ts = [p[0] for p in half]
    bs = [p[1] for p in half]
    t_mean = sum(ts) / len(ts)
    b_mean = sum(bs) / len(bs)
    var = sum((t - t_mean) ** 2 for t in ts)
    if var == 0:
        return False
    slope = sum((t - t_mean) * (b - b_mean) for t, b in zip(ts, bs)) / var
    return slope * (ts[-1] - ts[0]) > tolerance


@dataclass
class Step:
    """One ladder step's verdict inputs."""

    rate: float  # offered items per second
    p99_ms: float
    growing: bool
    failed: int

    def passes(self, limit_ms: float) -> bool:
        return self.p99_ms <= limit_ms and not self.growing and not self.failed


def sustainable_rate(steps: list[Step], limit_ms: float) -> float:
    """Highest offered rate that meets the latency limit with no growing
    backlog and no failed item; 0 if the lowest step fails.

    Steps are judged in rate order up to the first that fails, so a lucky
    pass above a failure does not count. Between the last passing step
    and that first failure the rate is interpolated, in log rate, at the
    point where the tail latency crosses the limit. A first failure that
    is not a latency failure (a failed item, or a growing backlog while the
    tail still met the limit) ends the search at the last passing rate.
    """
    lo = None
    for st in sorted(steps, key=lambda s: s.rate):
        if st.passes(limit_ms):
            lo = st
            continue
        if lo is None:
            return 0.0
        if st.failed or not math.isfinite(st.p99_ms) or st.p99_ms <= limit_ms:
            return lo.rate
        frac = (limit_ms - lo.p99_ms) / (st.p99_ms - lo.p99_ms)
        return lo.rate * (st.rate / lo.rate) ** frac
    return lo.rate if lo is not None else 0.0


# -- item checker -------------------------------------------------------------


@dataclass
class Batch:
    """One processor call as the benchmark saw it."""

    t_call: float
    trigger: str  # "BATCH_FULL" | "TICKER"
    seqs: list[int]
    dropped: bool = False  # the processor raised; the engine dropped it


@dataclass
class CheckReport:
    sent: int
    delivered: int
    dropped: int
    failed: int
    problems: list[str] = field(default_factory=list)


def check_items(batches: list[Batch], sent: int, size: int, max_problems: int = 5) -> CheckReport:
    """Exactly-once, FIFO and batch-shape check over one phase.

    Items are numbered 0..sent-1 in send order. Every batch, dropped or
    not, must continue the sequence where the previous one stopped; a
    BATCH_FULL batch holds exactly ``size`` items, a TICKER batch 1 to
    ``size - 1``; no batch is empty; delivered plus dropped equals sent.
    An item that breaks a rule is a failed item; items never seen, items
    seen beyond the ``sent`` ones and each empty batch are failed too.
    """
    problems: list[str] = []

    def note(msg: str) -> None:
        if len(problems) < max_problems:
            problems.append(msg)

    failed = 0
    expected = 0
    seen = 0
    delivered = dropped = 0
    for b in batches:
        n = len(b.seqs)
        if n == 0:
            note("empty batch")
            failed += 1
            continue
        if b.trigger == "BATCH_FULL" and n != size:
            note(f"BATCH_FULL batch of {n} items (size {size})")
            failed += n
        elif b.trigger == "TICKER" and not 1 <= n <= size - 1:
            note(f"TICKER batch of {n} items (size {size})")
            failed += n
        for s in b.seqs:
            if s == expected:
                expected += 1
            elif s < expected:
                note(f"item {s} duplicated or reordered (expected {expected})")
                failed += 1
                continue
            else:
                note(f"items {expected}..{s - 1} missing before {s}")
                failed += s - expected
                expected = s + 1
            seen += 1
        if b.dropped:
            dropped += n
        else:
            delivered += n
    if expected < sent:
        note(f"{sent - expected} items never delivered")
        failed += sent - expected
    if seen > sent:
        note(f"{seen - sent} items beyond the {sent} sent")
        failed += seen - sent
    return CheckReport(sent, delivered, dropped, failed, problems)


# -- tracing -----------------------------------------------------------------


class Tracer:
    """In-memory span recorder. Disabled, ``span`` is a shared no-op.

    A span is (id, name, start, end, parent id, item or row id); the
    layer is the name's prefix before the first dot.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._ids = iter(range(1, 1 << 62))
        self._local = threading.local()
        self._lock = threading.Lock()

    def span(self, name: str, item=None):
        return _Span(self, name, item) if self.enabled else _NOOP

    def record(self, name: str, start: float, end: float, item=None, parent=None) -> None:
        """Add a span timed by the caller (cheaper than ``span`` per item)."""
        if self.enabled:
            with self._lock:
                self.spans.append((next(self._ids), name, start, end, parent, item))

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the part covered
        by its direct children."""
        children: dict[int, list[tuple]] = {}
        for sp in self.spans:
            if sp[4] is not None:
                children.setdefault(sp[4], []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            covered = _covered(sp[2], sp[3], children.get(sp[0], ()))
            layer = sp[1].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (sp[3] - sp[2]) - covered
        return out

    def write(self, path: str, per_name: int = 20_000) -> None:
        """Write the spans as JSON lines, at most ``per_name`` of each name
        (the first ones); the last line counts what was left out."""
        import json

        kept: dict[str, int] = {}
        left_out: dict[str, int] = {}
        with open(path, "w") as fh:
            for sp in self.spans:
                n = kept.get(sp[1], 0)
                if n >= per_name:
                    left_out[sp[1]] = left_out.get(sp[1], 0) + 1
                    continue
                kept[sp[1]] = n + 1
                fh.write(json.dumps(dict(zip(("id", "name", "start", "end", "parent", "item"), sp))) + "\n")
            fh.write(json.dumps({"left_out": left_out}) + "\n")


class TracedReBatcher:
    """Wraps a ReBatcher so each call into it becomes a ``rebatcher.*`` span.

    The core's listener and the stream's callbacks look their rebatcher up
    on an attribute, so a traced run swaps this in without touching them.
    """

    def __init__(self, rb, tracer: Tracer):
        self._rb, self._tr = rb, tracer

    def __getattr__(self, name):
        return getattr(self._rb, name)

    def push(self, item) -> None:
        with self._tr.span("rebatcher.push"):
            self._rb.push(item)

    def push_many(self, items) -> None:
        with self._tr.span("rebatcher.push_many"):
            self._rb.push_many(items)

    def poll(self) -> None:
        with self._tr.span("rebatcher.poll"):
            self._rb.poll()

    def flush(self, *args) -> None:
        with self._tr.span("rebatcher.flush"):
            self._rb.flush(*args)


def _covered(start: float, end: float, kids) -> float:
    ivs = sorted((max(start, k[2]), min(end, k[3])) for k in kids)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class _Span:
    __slots__ = ("tr", "name", "item", "id", "parent", "start")

    def __init__(self, tr: Tracer, name: str, item):
        self.tr, self.name, self.item = tr, name, item

    def __enter__(self):
        stack = self.tr._local.__dict__.setdefault("stack", [])
        self.parent = stack[-1] if stack else None
        with self.tr._lock:
            self.id = next(self.tr._ids)
        stack.append(self.id)
        self.start = time.monotonic()
        return self

    def __exit__(self, *exc):
        end = time.monotonic()
        self.tr._local.stack.pop()
        with self.tr._lock:
            self.tr.spans.append((self.id, self.name, self.start, end, self.parent, self.item))
        return False


class _NoopSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NOOP = _NoopSpan()


# -- machine context ---------------------------------------------------------


def canary_cpu_s(repeats: int = 3) -> float:
    """Median time of a fixed pure-Python integer kernel."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + (i ^ (i >> 3))) % 1_000_003
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def canary_io_s(directory: str, repeats: int = 3, mib: int = 8) -> float:
    """Median time to write, fsync and read back ``mib`` MiB in ``directory``."""
    block = os.urandom(1 << 20)
    path = os.path.join(directory, "canary-io.bin")
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        with open(path, "wb") as fh:
            for _ in range(mib):
                fh.write(block)
            fh.flush()
            os.fsync(fh.fileno())
        with open(path, "rb") as fh:
            while fh.read(1 << 20):
                pass
        times.append(time.perf_counter() - t0)
    os.unlink(path)
    return statistics.median(times)


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root`` (from /proc ppid links)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
                parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and its live
    descendants, the JVM included."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])  # utime, stime
        except (OSError, ValueError, IndexError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    """Sum of peak resident sizes (VmHWM) of this process and its live
    descendants, the JVM included, in MiB."""
    pids = [os.getpid(), *descendants(os.getpid())]
    return sum(_status_kb(p, "VmHWM:") for p in pids) / 1024.0
