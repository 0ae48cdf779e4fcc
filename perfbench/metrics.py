"""The benchmark's metric catalog: every metric's unit, direction, the
workloads that report it and, for per-layer metrics, the end-to-end metric
it should move.

``BENCHMARK.json`` repeats the names, units, directions and bounds; the
logic tests check that the two agree.
"""

from __future__ import annotations

from dataclasses import dataclass

EMBEDDED, TRANSPORT, QUERIES = "embedded", "transport", "queries"
ALL = (EMBEDDED, TRANSPORT, QUERIES)

# Rows of the queries workload, cut so that a run stays under a minute on a
# busy 4-vCPU VM (sets of 70 runs must fit an hour). The eager row runs a
# streaming drain while the query function builds its DataFrame; k05
# (iterative jobs, 10 s of a run), i42, i55, ext_stream_cdc_apply and
# ext_kcore_decomposition are left out as the costliest. The sql rows are
# every fourth TPC-H-shaped row in query order, TPC-H Q1 (registered as
# q1_pricing_summary) and tq03..tq19; the registry has tq02..tq22.
EAGER_ROWS = ("i01_tumbling_window_parity",)
STREAMING_ROWS = EAGER_ROWS[:1]
SQL_ROWS = (
    "q1_pricing_summary",
    "tq03_shipping_priority",
    "tq07_nation_volume",
    "tq11_important_stock",
    "tq15_top_supplier",
    "tq19_disjunctive_revenue",
)


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str  # "higher" | "lower"
    workloads: tuple[str, ...]
    bound: float | None = None  # end-to-end only
    moves: tuple[str, ...] = ()  # per-layer only: end-to-end metrics it should move


# Every workload reports every end-to-end metric, and only metrics whose
# run-to-run spread stayed inside a bound are end to end. On a shared
# 4-vCPU VM host load moved throughput and the JVM figures by up to a half
# between runs minutes apart (with 10-15% of CPU time stolen by the host);
# the throughputs, sustainable rates, latencies and the query wall times
# are therefore per-layer metrics below. CPU time per operation, which
# stolen time does not inflate, stands in for them (all threads; with
# Spark, the process tree, JVM included). The operation is the unit of
# each workload's work: for ``embedded`` an item of the closed-loop phase,
# for ``transport`` a file of the ladder (one send, one micro-batch: the
# stream's CPU goes to micro-batches, an idle stream uses under a fifth of
# a core), for ``queries`` an sql row.
END_TO_END = (
    Metric("setup_s", "s", "lower", ALL, 0.25),
    Metric("peak_rss_mb", "MiB", "lower", ALL, 0.25),
    Metric("cpu_ms_per_op", "ms", "lower", ALL, 0.25),
)

# End-to-end in meaning, too unsteady here for a bound (see END_TO_END):
# reported with the per-layer metrics, from the untraced pass.
UNBOUNDED = (
    Metric("core_items_per_s", "items/s", "higher", (EMBEDDED,)),
    Metric("core_sustainable_items_per_s", "items/s", "higher", (EMBEDDED,)),
    Metric("core_latency_p50_ms", "ms", "lower", (EMBEDDED,)),
    Metric("core_latency_p99_ms", "ms", "lower", (EMBEDDED,)),
    Metric("stream_latency_p50_ms", "ms", "lower", (TRANSPORT,)),
    Metric("stream_latency_p99_ms", "ms", "lower", (TRANSPORT,)),
    Metric("stream_sustainable_items_per_s", "items/s", "higher", (TRANSPORT,)),
    Metric("query_eager_wall_s", "s", "lower", (QUERIES,)),
    Metric("query_sql_wall_s", "s", "lower", (QUERIES,)),
)
HEADLINE = {m.name for m in END_TO_END + UNBOUNDED}

# Metrics measured inside the timed region, so a traced run can time them
# again with tracing on and report the difference.
TIMED = tuple(m for m in END_TO_END + UNBOUNDED if m.name not in ("setup_s", "peak_rss_mb"))


def _pl(name, unit, better, workloads, *moves) -> Metric:
    return Metric(name, unit, better, tuple(workloads), None, tuple(moves))


_CORE_LAT = ("core_latency_p50_ms", "core_latency_p99_ms")
_STREAM_LAT = ("stream_latency_p50_ms", "stream_latency_p99_ms")
_BOTH = (EMBEDDED, TRANSPORT)
_SQL = ("query_sql_wall_s", "cpu_ms_per_op")

PER_LAYER = (
    *UNBOUNDED,
    # rebatcher
    _pl("rebatcher.push_items_per_s", "items/s", "higher", (EMBEDDED,), "core_items_per_s", "cpu_ms_per_op"),
    _pl("rebatcher.flushes_batch_full", "count", "higher", _BOTH, *_CORE_LAT, *_STREAM_LAT),
    _pl("rebatcher.flushes_ticker", "count", "lower", _BOTH, *_CORE_LAT, *_STREAM_LAT),
    _pl("rebatcher.ticker_late_ms_p99", "ms", "lower", _BOTH, "core_latency_p99_ms", "stream_latency_p99_ms"),
    _pl("rebatcher.err_batches", "count", "lower", (EMBEDDED,), "core_latency_p99_ms"),
    _pl("rebatcher.err_items_dropped", "count", "lower", (EMBEDDED,), "core_latency_p99_ms"),
    _pl("rebatcher.self_s", "s", "lower", _BOTH, "cpu_ms_per_op", "stream_sustainable_items_per_s"),
    # core
    _pl("core.send_us_p50", "us", "lower", (EMBEDDED,), *_CORE_LAT, "core_sustainable_items_per_s"),
    _pl("core.send_us_p99", "us", "lower", (EMBEDDED,), *_CORE_LAT, "core_sustainable_items_per_s"),
    _pl("core.send_wait_s", "s", "lower", (EMBEDDED,), "core_items_per_s", "core_sustainable_items_per_s"),
    _pl("core.handoff_ms_p50", "ms", "lower", (EMBEDDED,), "core_latency_p50_ms"),
    _pl("core.handoff_ms_p99", "ms", "lower", (EMBEDDED,), "core_latency_p99_ms"),
    _pl("core.generator_late_ms_p99", "ms", "lower", (EMBEDDED,), "core_latency_p99_ms", "core_sustainable_items_per_s"),
    _pl("core.self_s", "s", "lower", (EMBEDDED,), "core_items_per_s", "cpu_ms_per_op"),
    # transport
    _pl("transport.send_ms_p50", "ms", "lower", (TRANSPORT,), "stream_sustainable_items_per_s"),
    _pl("transport.send_ms_p99", "ms", "lower", (TRANSPORT,), "stream_sustainable_items_per_s"),
    _pl("transport.start_s", "s", "lower", (TRANSPORT,), "setup_s"),
    _pl("transport.stop_s", "s", "lower", (TRANSPORT,), "stream_sustainable_items_per_s"),
    _pl("transport.epochs", "count", "lower", (TRANSPORT,), "stream_sustainable_items_per_s"),
    _pl("transport.rows_per_epoch_mean", "rows", "higher", (TRANSPORT,), "stream_sustainable_items_per_s"),
    _pl("transport.backlog_files_max", "files", "lower", (TRANSPORT,), "stream_sustainable_items_per_s"),
    _pl("transport.generator_late_ms_p99", "ms", "lower", (TRANSPORT,), "stream_sustainable_items_per_s"),
    _pl("transport.trigger_ms_p50", "ms", "lower", (TRANSPORT,), *_STREAM_LAT),
    _pl("transport.trigger_ms_p99", "ms", "lower", (TRANSPORT,), *_STREAM_LAT),
    _pl("transport.addbatch_ms_p50", "ms", "lower", (TRANSPORT,), *_STREAM_LAT),
    _pl("transport.getbatch_ms_p50", "ms", "lower", (TRANSPORT,), *_STREAM_LAT),
    _pl("transport.latest_offset_ms_p50", "ms", "lower", (TRANSPORT,), *_STREAM_LAT),
    _pl("transport.planning_ms_p50", "ms", "lower", (TRANSPORT,), *_STREAM_LAT),
    _pl("transport.commit_ms_p50", "ms", "lower", (TRANSPORT,), *_STREAM_LAT),
    _pl("transport.self_s", "s", "lower", (TRANSPORT,), "stream_sustainable_items_per_s"),
    # processor (the benchmark's own callback)
    _pl("processor.busy_share", "ratio", "lower", _BOTH),
    _pl("processor.self_s", "s", "lower", _BOTH),
    # queries: eager rows
    *(
        _pl(f"queries.{r}.{part}", unit, "lower", (QUERIES,), "query_eager_wall_s")
        for r in EAGER_ROWS
        for part, unit in (
            ("construct_s", "s"),
            ("action_s", "s"),
            ("jobs_construct", "count"),
            ("jobs_action", "count"),
            ("shuffle_bytes", "B"),
            ("spill_bytes", "B"),
        )
    ),
    *(
        _pl(f"queries.{r}.{part}", "count", "lower", (QUERIES,), "query_eager_wall_s")
        for r in STREAMING_ROWS
        for part in ("epochs", "query_starts")
    ),
    # queries: sql group
    _pl("queries.sql.construct_s", "s", "lower", (QUERIES,), *_SQL),
    _pl("queries.sql.action_s", "s", "lower", (QUERIES,), *_SQL),
    _pl("queries.sql.jobs", "count", "lower", (QUERIES,), *_SQL),
    _pl("queries.sql.shuffle_bytes", "B", "lower", (QUERIES,), *_SQL),
    _pl("queries.sql.spill_bytes", "B", "lower", (QUERIES,), *_SQL),
    *(_pl(f"queries.{r}.wall_s", "s", "lower", (QUERIES,), *_SQL) for r in SQL_ROWS),
    # queries: debris left in the session and the temp dir
    _pl("queries.tmp_entries_left", "count", "lower", (QUERIES,), "query_eager_wall_s", "peak_rss_mb"),
    _pl("queries.mem_views_left", "count", "lower", (QUERIES,), "query_eager_wall_s", "peak_rss_mb"),
    _pl("queries.pinned_rdds_left", "count", "lower", (QUERIES,), "query_eager_wall_s", "peak_rss_mb"),
    _pl("queries.self_s", "s", "lower", (QUERIES,), "query_eager_wall_s", *_SQL),
    # session
    _pl("session.get_spark_s", "s", "lower", (TRANSPORT, QUERIES), "setup_s"),
    _pl("session.warmup_s", "s", "lower", (TRANSPORT, QUERIES), "setup_s"),
    # machine state, never gated
    _pl("context.canary_cpu_s", "s", "lower", ALL),
    _pl("context.canary_io_s", "s", "lower", ALL),
    # tracing overhead: traced value of each timed metric minus the mean
    # of the untraced passes before and after it (queries: minus the
    # untraced runs paired with the traced ones row by row)
    *(
        Metric(f"overhead.{m.name}", m.unit, "lower", m.workloads, None, (m.name,))
        for m in TIMED
    ),
)


def declared(traced: bool) -> tuple[Metric, ...]:
    """What a run prints: every end-to-end metric untraced, every per-layer
    metric traced, whatever the workload."""
    return PER_LAYER if traced else END_TO_END


def benchmark_entries() -> tuple[list[dict], list[dict]]:
    """The ``end_to_end`` and ``per_layer`` lists of BENCHMARK.json."""
    e2e = [{"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound} for m in END_TO_END]
    pl = [{"name": m.name, "unit": m.unit, "better": m.better} for m in PER_LAYER]
    return e2e, pl


if __name__ == "__main__":
    # Rewrite the metric lists of BENCHMARK.json from this catalog:
    #   python3 perfbench/metrics.py
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    with open(path) as fh:
        doc = json.load(fh)
    doc["end_to_end"], doc["per_layer"] = benchmark_entries()
    with open(path, "w") as fh:
        fh.write(json.dumps(doc, indent=2) + "\n")
