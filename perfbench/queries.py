"""Workload ``queries``: registry rows over seeded fixtures, each checked
against the DuckDB oracle.

Fixtures are written by ``tools/gen_scale_data.write_sf`` from the run's
seed before anything is timed and cached per seed. Two groups of rows run
in blocks, each block in a seed-permuted order:

- eager: streaming drains and iterative jobs that run while the query
  function builds its DataFrame (``spec.spark(...)`` is construction,
  ``df.collect()`` the action);
- sql: the TPC-H-shaped rows, JVM-only with one lazy action.

Nothing is cleaned between rows, so debris shows up as cost; what is left
at the end (``nibbler-*`` temp entries, ``mem_*`` views, persistent RDDs)
is counted. A short warm-up over one row of each kind runs before the
timed pass and counts toward ``setup_s``. A traced run makes one pass in
which every row runs untraced and traced back to back (``measure_paired``).
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import sparkenv
from common import Tracer, rng_for, tree_cpu_s
from metrics import EAGER_ROWS, SQL_ROWS, STREAMING_ROWS

SF = 0.01
# The first streaming query in a JVM pays several seconds of class loading
# and JIT; the warm-up takes that, and the first SQL plans, out of the
# timed pass. tq05 is a join-heavy row outside the timed set.
WARMUP_ROWS = ("i01_tumbling_window_parity", "q1_pricing_summary", "tq05_regional_revenue")
ROW_TIMEOUT_S = 60.0
# Peak RSS hangs on when the collector chose to expand the heap; with a
# cap the rows come near, it has less room to choose. At 2g the peak RSS
# of this workload spread a quarter between runs, at 1g an eighth (IQR
# over median, five seeds on a 4-vCPU VM).
DRIVER_MEMORY = "1g"


def fixtures(ctx) -> str:
    """The seed's fixture dir, generated once and reused by later runs."""
    final = os.path.join(ctx.root, ".perfbench", "fixtures", f"seed{ctx.seed}", f"sf{SF:g}")
    if not os.path.isdir(final):
        from tools.gen_scale_data import write_sf

        tmp = f"{final}.tmp-{os.getpid()}"
        write_sf(SF, tmp, seed=ctx.seed)
        try:
            os.rename(tmp, final)
        except OSError:  # another run made it first
            shutil.rmtree(tmp, ignore_errors=True)
    return final


def row_order(seed: int) -> list[str]:
    """The eager block then the sql block, each in a seed-permuted order."""
    rng = rng_for(seed, "queries:order")
    eager, sql = list(EAGER_ROWS), list(SQL_ROWS)
    rng.shuffle(eager)
    rng.shuffle(sql)
    return eager + sql


class _Collected:
    """The collected result of a DataFrame, shaped for ``oracle.compare``
    so the check does not run the query a second time."""

    def __init__(self, df, rows):
        self.schema, self.columns, self._rows = df.schema, df.columns, rows

    def collect(self):
        return self._rows


class _Listener:
    """Counts streaming query starts and micro-batches per row (by run id);
    runs made while ``row`` is None (untraced ones) are not counted."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.row = None
        self.starts: dict[str, int] = {}
        self.epochs: dict[str, set] = {}
        self.by_run: dict[str, str] = {}
        self._lock = threading.Lock()

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._lock:
                    run = str(event.runId)
                    outer.by_run[run] = outer.row
                    outer.starts[outer.row] = outer.starts.get(outer.row, 0) + 1

            def onQueryProgress(self, event):
                p = event.progress
                with outer._lock:
                    row = outer.by_run.get(str(p.runId), outer.row)
                    if row is not None and p.numInputRows > 0:
                        outer.epochs.setdefault(row, set()).add((str(p.runId), p.batchId))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.impl = L()


def _hang_guard(spark, row: str, timeout: float):
    """After ``timeout`` s cancel the row's jobs and stop its streams; the
    row then raises and counts as failed."""

    def fire():
        spark.sparkContext.cancelAllJobs()
        for q in spark.streams.active:
            try:
                q.stop()
            except Exception:  # noqa: BLE001 — best effort; the row already failed
                pass

    t = threading.Timer(timeout, fire)
    t.daemon = True
    t.start()
    return t


def _group_stage_bytes(spark, groups: list[str]) -> tuple[int, int]:
    """Shuffle-write and spill bytes of the stages of the jobs in
    ``groups``, from one snapshot of the status store. A snapshot per row
    (``measure_stages``) costs about a second once a session holds
    hundreds of stages, as many as an sql row takes to run."""
    from nibbler_spark.stage_metrics import _stage_rows

    st = spark.sparkContext.statusTracker()
    ids = set()
    for g in groups:
        for job in st.getJobIdsForGroup(g):
            info = st.getJobInfo(job)
            if info is not None:
                ids.update(info.stageIds)
    shuffle = spill = 0
    for (stage, _attempt), m in _stage_rows(spark).items():
        if stage in ids:
            shuffle += m["shuffle_write_bytes"]
            spill += m["memory_spill_bytes"] + m["disk_spill_bytes"]
    return shuffle, spill


def setup(ctx, state: dict) -> None:
    from nibbler_spark.oracle import make_duckdb
    from nibbler_spark.queries import load_all

    # Fixture generation runs only when a seed's fixtures are not cached
    # yet; its time is left out of setup_s so every run of a seed reports
    # the same set-up work.
    t = time.monotonic()
    sf_dir = fixtures(ctx)
    fixtures_s = time.monotonic() - t
    state.update(sf_dir=sf_dir, specs=load_all(), con=make_duckdb(sf_dir))
    specs = state["specs"]
    tracer = Tracer(False)
    t = time.monotonic()
    spark = sparkenv.start(ctx, tracer, "perfbench-queries", DRIVER_MEMORY)
    state["spark"] = spark
    get_spark_s = time.monotonic() - t
    t = time.monotonic()
    for name in WARMUP_ROWS:
        specs[name].spark(spark, sf_dir).collect()
    state["layers"] = {"session.get_spark_s": get_spark_s, "session.warmup_s": time.monotonic() - t}
    state["setup_s"] = time.monotonic() - ctx.t0 - fixtures_s


class _Side:
    """What one tracer's runs of the rows add up to within a pass."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.layers: dict[str, float] = {}
        self.times: dict[str, tuple[float, float]] = {}
        self.sql_cpu_s = 0.0
        self.failed_rows: list[str] = []
        self.problems: list[str] = []
        self.jobs_sql = 0
        self.sql_bytes = (0, 0)  # shuffle write, spill

    def result(self, order: list[str], listener) -> dict:
        times = self.times
        eager = [sum(times[n]) for n in EAGER_ROWS if n in times]
        sql = [sum(times[n]) for n in SQL_ROWS if n in times]
        out = {
            "e2e": {
                "query_eager_wall_s": sum(eager) if len(eager) == len(EAGER_ROWS) else float("nan"),
                "query_sql_wall_s": sum(sql) if len(sql) == len(SQL_ROWS) else float("nan"),
                "cpu_ms_per_op": self.sql_cpu_s / len(SQL_ROWS) * 1e3 if len(sql) == len(SQL_ROWS) else float("nan"),
            },
            "attempted": len(order),
            "failed": len(set(self.failed_rows)),
            "problems": self.problems,
            "detail": {
                ("traced" if self.tracer.enabled else "untraced") + ".rows_s": {
                    n: [round(times[n][0], 3), round(times[n][1], 3)] for n in order if n in times
                },
            },
        }
        if self.tracer.enabled:
            layers = self.layers
            for n in SQL_ROWS:
                if n in times:
                    layers[f"queries.{n}.wall_s"] = sum(times[n])
            layers["queries.sql.construct_s"] = sum(times[n][0] for n in SQL_ROWS if n in times)
            layers["queries.sql.action_s"] = sum(times[n][1] for n in SQL_ROWS if n in times)
            layers["queries.sql.jobs"] = self.jobs_sql
            layers["queries.sql.shuffle_bytes"], layers["queries.sql.spill_bytes"] = self.sql_bytes
            for n in STREAMING_ROWS:
                layers[f"queries.{n}.epochs"] = len(listener.epochs.get(n, ()))
                layers[f"queries.{n}.query_starts"] = listener.starts.get(n, 0)
            layers["queries.self_s"] = self.tracer.self_times().get("queries", 0.0)
            out["layers"] = layers
        return out


def measure(ctx, state: dict, tracer: Tracer) -> dict:
    """One pass over the rows with ``tracer``."""
    return _measure(ctx, state, [tracer])[0]


def measure_paired(ctx, state: dict, tracer: Tracer) -> tuple[dict, dict]:
    """One pass in which each row runs untraced and traced back to back,
    the untraced run first on every other row, so neither side is the
    warmer one on the whole. Returns the (untraced, traced) results; it
    costs two passes where untraced-traced-untraced would cost three."""
    return tuple(_measure(ctx, state, [Tracer(False), tracer]))


def _measure(ctx, state: dict, tracers: list[Tracer]) -> list[dict]:
    from nibbler_spark.oracle import compare
    from nibbler_spark.stage_metrics import measure_stages

    spark, specs, sf_dir = state["spark"], state["specs"], state["sf_dir"]
    sc = spark.sparkContext
    order = row_order(ctx.seed)
    sides = [_Side(tr) for tr in tracers]
    listener = None
    if any(tr.enabled for tr in tracers):
        listener = _Listener()
        spark.streams.addListener(listener.impl)

    def phase(side: _Side, row: str, part: str, fn):
        """Run ``fn`` as one phase of ``row``; traced, under its own job
        group, and for eager rows with the bytes of the stages it ran
        (their streaming jobs run outside the group)."""
        tracer = side.tracer
        if not tracer.enabled:
            t = time.monotonic()
            out = fn()
            return out, time.monotonic() - t, 0, None
        group = f"perfbench-{row}-{part}"
        sc.setJobGroup(group, group)
        try:
            with tracer.span(f"queries.{part}", item=row):
                t = time.monotonic()
                if row in EAGER_ROWS:
                    out, bytes_ = measure_stages(spark, fn)
                else:
                    out, bytes_ = fn(), None
                dt = time.monotonic() - t
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, dt, len(sc.statusTracker().getJobIdsForGroup(group)), bytes_

    def run_row(side: _Side, name: str) -> None:
        spec = specs[name]
        if listener is not None:
            listener.row = name if side.tracer.enabled else None
        guard = _hang_guard(spark, name, ROW_TIMEOUT_S)
        cpu = tree_cpu_s()
        try:
            df, c_s, c_jobs, c_b = phase(side, name, "construct", lambda: spec.spark(spark, sf_dir))
            rows, a_s, a_jobs, a_b = phase(side, name, "action", df.collect)
            if name in SQL_ROWS:
                side.sql_cpu_s += tree_cpu_s() - cpu
        except Exception as exc:  # noqa: BLE001 — a failing row is a failed operation
            side.failed_rows.append(name)
            side.problems.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            return
        finally:
            guard.cancel()
        side.times[name] = (c_s, a_s)
        if side.tracer.enabled:
            if name in EAGER_ROWS:
                p = f"queries.{name}"
                side.layers.update({
                    f"{p}.construct_s": c_s,
                    f"{p}.action_s": a_s,
                    f"{p}.jobs_construct": c_jobs,
                    f"{p}.jobs_action": a_jobs,
                    f"{p}.shuffle_bytes": c_b["shuffle_write_bytes"] + a_b["shuffle_write_bytes"],
                    f"{p}.spill_bytes": sum(b["memory_spill_bytes"] + b["disk_spill_bytes"] for b in (c_b, a_b)),
                })
            else:
                side.jobs_sql += c_jobs + a_jobs
        # Oracle check, outside the timed phases.
        rep = compare(name, _Collected(df, rows), state["con"], spec.oracle)
        if not rep.ok:
            side.failed_rows.append(name)
            side.problems.append(str(rep)[:400])

    try:
        for i, name in enumerate(order):
            for side in sides if i % 2 == 0 else sides[::-1]:
                run_row(side, name)
    finally:
        if listener is not None:
            time.sleep(0.5)  # let the listener bus deliver the last events
            spark.streams.removeListener(listener.impl)
    for side in sides:
        if side.tracer.enabled:
            groups = [f"perfbench-{n}-{part}" for n in SQL_ROWS for part in ("construct", "action")]
            side.sql_bytes = _group_stage_bytes(spark, groups)
    return [side.result(order, listener) for side in sides]


def teardown(ctx, state: dict) -> None:
    spark = state.pop("spark", None)
    con = state.pop("con", None)
    if con is not None:
        con.close()
    if spark is None:
        return
    try:
        layers = state.setdefault("layers", {})
        layers["queries.tmp_entries_left"] = sum(1 for e in os.listdir(ctx.tmp) if e.startswith("nibbler-"))
        layers["queries.mem_views_left"] = sum(1 for t in spark.catalog.listTables() if t.name.startswith("mem_"))
        layers["queries.pinned_rdds_left"] = spark.sparkContext._jsc.getPersistentRDDs().size()
    finally:
        sparkenv.stop(spark)
