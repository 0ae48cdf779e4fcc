"""Declared query registry — the t2 correctness contract (SURVEY.md §2.3).

Every implemented operator registers here as a named query: a PySpark
callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the
equivalent DuckDB oracle SQL over the pre-registered views
``region nation customer supplier part orders lineitem events documents
embeddings``. ``__spark_entry__.py`` re-exports :func:`queries` and
:func:`oracle_sql` for the driver harness.

Conventions (FIXTURES.md §4):
- Column names identical between Spark output and oracle output (alias
  everything computed on BOTH sides).
- Hash-mode queries are constructed so both engines compute *identical*
  values: exact decimal arithmetic for large-group sums over doubles,
  identical double expressions otherwise; ``round(x, 4)`` only where the
  two engines legitimately accumulate in different orders (builtin stats,
  percentiles).
- Bounded-mode ops (sketches, LSH, sampling) return the *assertion result*
  (boolean bound check) so they hash-compare against a constant oracle.
- Temp dirs come from :func:`scratch_dir` and local checkpoints from
  :func:`pin`; each registered call's :func:`call_scope` owns both, so a
  query leaves nothing for its caller to clean up.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import importlib
import os
import shutil
import tempfile
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    survey_id: str  # e.g. "D1", "K6" — row in SURVEY.md §2 inventory
    category: str  # e.g. "aggregation", "join", "llm"
    spark: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver rows-only check
    mode: str = "hash"  # hash | bounded | parity | golden (bounded/golden
    # queries still hash-compare when they emit assertion results /
    # pinned VALUES — the mode records the SURVEY semantics)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}

# The closed set of registry categories; ``register`` rejects any other,
# so a singular/plural near-miss cannot split a family in two.
CATEGORIES = frozenset({
    "aggregation", "composite", "event-analytics", "filter", "flagship",
    "join", "lakehouse", "llm-dedup", "llm-retrieval", "llm-text",
    "llm-training-prep", "llm-vector", "ml-exact", "multimodal",
    "nibbler-core", "projection", "relational", "scalar", "scale-pattern",
    "setop", "sketch", "sort", "source-sink", "sql-surface", "streaming",
    "tpch", "udf", "window",
})

# Submodules that register queries on import.
_QUERY_MODULES = [
    "nibbler_spark.queries.relational",
    "nibbler_spark.queries.tpch_suite",
    "nibbler_spark.queries.sql_surface",
    "nibbler_spark.queries.aggregates",
    "nibbler_spark.queries.joins",
    "nibbler_spark.queries.windows",
    "nibbler_spark.queries.sort_limit",
    "nibbler_spark.queries.setops",
    "nibbler_spark.queries.scalar_functions",
    "nibbler_spark.queries.sources_sinks",
    "nibbler_spark.queries.udfs",
    "nibbler_spark.queries.llm_text",
    "nibbler_spark.queries.retrieval",
    "nibbler_spark.queries.llm_dedup",
    "nibbler_spark.queries.training_prep",
    "nibbler_spark.queries.llm_vectors",
    "nibbler_spark.queries.multimodal",
    "nibbler_spark.queries.scale_patterns",
    "nibbler_spark.queries.sketches",
    "nibbler_spark.queries.ml_exact",
    "nibbler_spark.queries.event_analytics",
    "nibbler_spark.queries.streaming_q",
    "nibbler_spark.queries.nibbler_core_q",
]

_loaded = False


def load_all() -> dict[str, QuerySpec]:
    global _loaded
    if not _loaded:
        for mod in _QUERY_MODULES:
            importlib.import_module(mod)
        _loaded = True
    return REGISTRY


class _CallScope(threading.local):
    """One thread's scratch dirs, pinned RDDs and its depth of nested
    registered calls."""

    def __init__(self) -> None:
        self.depth = 0
        self.dirs: list[str] = []
        self.pins: list[tuple[SparkContext, int]] = []


_scope = _CallScope()
_live: set[str] = set()  # scratch dirs not yet removed, on any thread
_live_lock = threading.Lock()
_owner_pid = os.getpid()


def scratch_dir(name: str) -> str:
    """A fresh ``nibbler-<name>-*`` temp dir owned by the calling
    thread's current registered call.

    The dir lives until that thread starts its next outermost registered
    call, so the DataFrame the query returns can still read it lazily;
    whatever is left at interpreter exit is removed then."""
    d = tempfile.mkdtemp(prefix=f"nibbler-{name}-")
    _scope.dirs.append(d)
    with _live_lock:
        _live.add(d)
    return d


def pin(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()``, its blocks owned like a
    :func:`scratch_dir` dir: by the calling thread's current registered
    call, until that thread starts its next outermost one.

    Only the checkpointed RDD's id is kept, so Spark's ContextCleaner can
    still free the blocks earlier once the DataFrame is gone."""
    cp = df.localCheckpoint()
    rdd_id = cp._jdf.queryExecution().analyzed().rdd().id()
    _scope.pins.append((cp.sparkSession.sparkContext, rdd_id))
    return cp


def _release(dirs) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    with _live_lock:
        _live.difference_update(dirs)


def _unpin(pins) -> None:
    live = {}
    for sc, rdd_id in pins:
        if sc._jsc is None:  # stopped: the blocks went with it
            continue
        if sc not in live:
            live[sc] = sc._jsc.getPersistentRDDs()
        rdd = live[sc].get(rdd_id)
        if rdd is not None:
            rdd.unpersist(False)


@atexit.register
def _release_all() -> None:
    if os.getpid() == _owner_pid:  # not in a forked child
        _release(list(_live))


@contextlib.contextmanager
def call_scope():
    """One registered call on this thread. An outermost call first
    releases what the thread's previous outermost call left (its
    :func:`scratch_dir` dirs and :func:`pin` blocks); a call inside
    another joins the outer call's scope."""
    if _scope.depth == 0:
        _release(_scope.dirs)
        _scope.dirs = []
        if _scope.pins:
            _unpin(_scope.pins)
            _scope.pins = []
    _scope.depth += 1
    try:
        yield
    finally:
        _scope.depth -= 1


def register(
    name: str,
    survey_id: str,
    category: str,
    oracle: str | None = None,
    mode: str = "hash",
    doc: str = "",
) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a declared query.

    Wraps the callable to pin runtime session conf the oracle contract
    depends on (UTC timezone, AQE) regardless of how the caller built
    the SparkSession. ANSI mode stays at the engine default (on in
    Spark 4) — the whole declared suite is validated under it.

    The wrapper runs the query in a :func:`call_scope`, which owns the
    call's :func:`scratch_dir` dirs and :func:`pin` blocks: they live
    until the thread's next outermost registered call, so the DataFrame
    the query returns can still read them.
    """
    if category not in CATEGORIES:
        raise ValueError(f"unknown category {category!r} for query {name!r}")

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from nibbler_spark.session import ship_package

            spark.conf.set("spark.sql.session.timeZone", "UTC")
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            ship_package(spark)  # workers must import our Python operators
            with call_scope():
                return fn(spark, sf_dir)

        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name,
            survey_id=survey_id,
            category=category,
            spark=wrapped,
            oracle=oracle,
            mode=mode,
            doc=doc or (fn.__doc__ or "").strip(),
        )
        return wrapped

    return deco


def queries() -> dict[str, QueryFn]:
    """Driver contract: name -> (spark, sf_dir) -> DataFrame."""
    return {name: spec.spark for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """Driver contract: name -> DuckDB SQL (only SQL-expressible ops)."""
    return {
        name: spec.oracle
        for name, spec in load_all().items()
        if spec.oracle is not None
    }
