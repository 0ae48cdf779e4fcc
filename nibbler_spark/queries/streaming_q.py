"""Streaming queries (SURVEY §2.3 I1–I13, C12/C13, A5/A6/A10).

Parity pattern (SURVEY §5.2.3): materialize the events table into a
file-drop dir, drain it with an ``availableNow`` trigger, and compare
the final streaming result to the equivalent batch query — which the
DuckDB oracle then checks. Batch-boundary-sensitive behaviors (watermark
late-drop, within-watermark dedup, checkpoint restart) run scripted
two-phase scenarios against literal rows with PINNED expected outputs as
VALUES oracles.

Every ``availableNow`` pass goes through ``_drain``. It owns the
checkpoint it makes (removed once the query terminates) and the
state-partition count (``spark.sql.shuffle.partitions`` held through
termination under ``session.scoped_conf``, then restored or unset).
``_drain_to_memory`` drops its memory-sink view before returning.
A stream driven through several epochs goes through ``_drive_epochs``:
per epoch a staging step, then a ``_drain`` pass restarted from one
checkpoint that it owns and removes after the last pass.
``_fold_slices`` (an ``applyInPandasWithState`` fold over the
``slice{q}`` dirs ``_write_slices`` makes) is its main user and removes
its ingest copy. The few passes that restart outside it (i54's join,
a24, i17's kill-restart, the incremental rollup) hand ``_drain`` a
checkpoint of their own. The base dirs of a query's source and sink files come
from ``scratch_dir`` and its local checkpoints from ``pin``: the registry
wrapper keeps them while the returned DataFrame may read them lazily and
releases them when the thread's next outermost registered call starts
(dirs also at interpreter exit). A ``foreachBatch`` body runs on a py4j
callback thread, outside that scope, so it releases what it persists.

Scale notes: all stateful ops are keyed (user_id / window / event_id) so
state partitions horizontally; watermarks bound state size; the memory
sink is test-only (production sinks: parquet/Kafka/foreachBatch)."""

from __future__ import annotations

import datetime
import functools
import operator
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nibbler_spark.queries import pin, register, scratch_dir
from nibbler_spark.queries._helpers import dsum, sql_dsum
from nibbler_spark.queries.llm_dedup import _PMH_ORACLE
from nibbler_spark.session import scoped_conf
from nibbler_spark.sources import load_table
from nibbler_spark.sources.tables import cached_dir

_EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _stage_slice(src: str, ingest: str, q: int) -> None:
    """Copy one cached epoch slice into the watched ingest dir,
    KEEPING each part file's name distinct (``slice{q}-{part}``).  The
    previous single-destination-name scheme silently overwrote all but
    the last part of a multi-part slice, so correctness depended on the
    cache builders' ``coalesce(1)``.  Multi-part epochs still reach the
    fold as ONE micro-batch per drain — ``availableNow`` with no
    ``maxFilesPerTrigger`` reads every new file in a single batch — so
    the one-emission-per-epoch ``max_by(value, emitted_epoch)``
    read-out contract holds for any part count (property-pinned by
    tests/test_streaming_sketches.py)."""
    parts = [f for f in sorted(os.listdir(src)) if f.endswith(".parquet")]
    assert parts, f"empty slice dir {src}"
    for f in parts:
        shutil.copy(
            os.path.join(src, f), os.path.join(ingest, f"slice{q}-{f}")
        )


def _events_dir(spark: SparkSession, sf_dir: str, copies: int = 1) -> str:
    """Materialize events as a parquet file-drop dir (cached per
    sf/copies, crash-safe via build-then-rename)."""

    def build(tmp: str) -> None:
        e = load_table(spark, sf_dir, "events")
        for _ in range(copies):
            e.coalesce(1).write.mode("append").parquet(tmp)

    return cached_dir(sf_dir, "events", f"stream-x{copies}", build)


def _read_stream(spark: SparkSession, d: str) -> DataFrame:
    return spark.readStream.schema(_EVENT_SCHEMA).parquet(d)


def _local_rows_df(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """``createDataFrame`` over literal rows through the pandas/Arrow
    path.  The plain-list path parallelizes the rows into
    defaultParallelism pickled slices, and the golden writers'
    ``coalesce(1)`` task then pays one sequential Python-worker
    round-trip per (mostly EMPTY) parent slice — measured 5-6 s per
    tiny golden write at local[32] vs ~0.2 s via Arrow (r11 bisect;
    the scripted streaming goldens write 2-4 such files each).  Arrow
    converts driver-side, so the executed plan never touches a Python
    worker.  Rows must be None-free tuples, which every literal-row
    writer here satisfies."""
    import pandas as pd

    cols = [f.strip().split()[0] for f in ddl.split(",")]
    return spark.createDataFrame(
        pd.DataFrame(list(rows), columns=cols), schema=ddl
    )


def _drain(
    writer,
    *,
    checkpoint: str | None = None,
    shuffle_partitions: int | None = None,
):
    """Run ``writer`` (a configured ``DataStreamWriter``) as one
    ``availableNow`` pass and return the terminated query.

    The one place a registry stream is drained. It owns:

    - the checkpoint, when ``checkpoint`` is None: a fresh
      ``nibbler-ck-*`` ``scratch_dir``, removed as soon as the query has
      terminated rather than at the end of the registered call. A
      caller passes its own dir only when another pass restarts from
      it; ``_drive_epochs`` does, and removes it after its last pass.
    - the state-partition count: ``shuffle_partitions``, when given, is
      held on the session through ``awaitTermination()`` and then the
      prior value (or unset) comes back. A stateful query fixes its
      state-store partition count from this conf at its first
      micro-batch, for the life of its checkpoint; batch jobs run inside
      ``foreachBatch`` read it at execution time.

    ``recentProgress`` of the returned query stays readable."""
    spark = writer._spark
    owned = checkpoint is None
    if owned:
        checkpoint = scratch_dir("ck")
    overrides = (
        {}
        if shuffle_partitions is None
        else {"spark.sql.shuffle.partitions": str(shuffle_partitions)}
    )
    try:
        with scoped_conf(spark, overrides):
            q = (
                writer.option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        if owned:
            shutil.rmtree(checkpoint, ignore_errors=True)
    return q


def _drain_to_memory(
    df_writer_source: DataFrame,
    mode: str,
    shuffle_partitions: int = 8,
) -> DataFrame:
    """Drain ``df_writer_source`` into a memory sink; return its final
    table.

    ``shuffle_partitions`` sizes the STATE STORE for this query: at the
    cluster-scale session default every epoch pays one state-store task
    constant per partition regardless of data volume (under the
    external driver's plain session the default is 200; r11 A/B: the
    i04 golden ran 2.2x slower at 200 than at 4). The drained fixtures
    hold ~1.5 k keyed groups, so 8 is drain scale. The sink's view is
    dropped before returning: the returned DataFrame's plan holds the
    sink's rows itself, so it still reads them after the view and the
    checkpoint are gone."""
    spark = df_writer_source.sparkSession
    name = "mem_" + uuid.uuid4().hex[:12]
    _drain(
        df_writer_source.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode),
        shuffle_partitions=shuffle_partitions,
    )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def _drive_epochs(writer, stages, *, shuffle_partitions: int | None = None):
    """Drive ``writer`` (a configured ``DataStreamWriter`` over watched
    dirs) through one epoch per entry of ``stages``: run the staging
    step, which adds that epoch's input, then one ``_drain`` pass
    restarted from the same checkpoint. Return the terminated queries,
    one per pass.

    The one owner of a multi-epoch drive's checkpoint: a fresh
    ``nibbler-ck-*`` ``scratch_dir``, removed after the last pass (or
    the first failure). Each pass sees exactly the files staged since
    the previous one, on top of the state and watermark the checkpoint
    carries, so epoch order is the order of ``stages``."""
    ckpt = scratch_dir("ck")
    done = []
    try:
        for stage in stages:
            stage()
            done.append(
                _drain(
                    writer,
                    checkpoint=ckpt,
                    shuffle_partitions=shuffle_partitions,
                )
            )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return done


def _write_slices(df: DataFrame, dest: str, epochs: int, parts: int = 1) -> None:
    """Write the rows of ``df`` whose ``epoch`` column is q to
    ``dest/slice{q}``, for q in ``range(epochs)``, as ``parts`` part
    files each (``coalesce(1)`` keeps a one-part slice in scan order)."""
    for q in range(epochs):
        rows = df.where(F.col("epoch") == q)
        rows = rows.coalesce(1) if parts == 1 else rows.repartition(parts)
        rows.write.parquet(os.path.join(dest, f"slice{q}"))


def _slice_dirs(cache: str) -> list[str]:
    """The ``slice{q}`` dirs under ``cache``, in epoch order."""
    n = sum(1 for f in os.listdir(cache) if re.fullmatch(r"slice\d+", f))
    return [os.path.join(cache, f"slice{q}") for q in range(n)]


def _fold_slices(
    spark: SparkSession,
    cache: str,
    schema: str,
    key: str,
    fn,
    out_schema: str,
    state_schema: str,
    prep=None,
) -> str:
    """Fold the epoch slices of ``cache`` (``slice0``, ``slice1``, …)
    through one ``applyInPandasWithState(fn)`` keyed on ``key``, one
    slice per epoch, and return the dir of the emitted rows.

    ``_drive_epochs`` stages slice q into a watched ingest dir and
    drains it from the checkpoint of slices < q, so epoch q sees
    exactly slice q and the state of the slices before it. Emissions
    append to parquet per micro-batch (``foreachBatch``). ``prep`` maps
    the ingest stream before the grouping. The state store runs at 8
    partitions. The ingest copy is removed on return; the emitted rows
    live in a ``nibbler-fold-*`` ``scratch_dir`` until the registered
    call's scope ends, so the caller can still read them lazily."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    base = scratch_dir("fold")
    ingest = os.path.join(base, "ingest")
    out = os.path.join(base, "out")
    os.makedirs(ingest)
    src = spark.readStream.schema(schema).parquet(ingest)
    if prep is not None:
        src = prep(src)
    folded = src.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    try:
        _drive_epochs(
            folded.writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(out)
            ).outputMode("update"),
            [
                functools.partial(_stage_slice, d, ingest, q)
                for q, d in enumerate(_slice_dirs(cache))
            ],
            shuffle_partitions=8,
        )
    finally:
        shutil.rmtree(ingest, ignore_errors=True)
    return out


def _running_fold(op: str):
    """An ``applyInPandasWithState`` fold over ``(epoch, k, v)`` rows
    that carries one running ``op`` of ``v`` per key (``count`` of
    rows, or ``sum`` / ``max`` / ``min``) and emits ``(k, epoch,
    running)`` once per key per micro-batch, ``epoch`` being the
    batch's latest."""
    import pandas as pd

    combine = {"max": max, "min": min}.get(op, operator.add)

    def fold(key, pdfs, state):
        rows = pd.concat(list(pdfs))
        running = len(rows) if op == "count" else int(getattr(rows["v"], op)())
        if state.exists:
            running = combine(state.get[0], running)
        state.update((running,))
        yield pd.DataFrame(
            {"k": [key[0]], "epoch": [int(rows["epoch"].max())], "running": [running]}
        )

    return fold


def _running_prefixes(spark: SparkSession, outdir: str, epochs: int) -> DataFrame:
    """Per-epoch read-out of a ``_running_fold`` emission log: for every
    key and every epoch e, the running value of the key's latest
    emission at an epoch <= e (keys first emitted after e have no row)."""
    em = spark.read.schema("k long, epoch long, running long").parquet(outdir)
    grid = em.select("k").distinct().crossJoin(
        F.broadcast(
            spark.range(epochs).select(F.col("id").cast("long").alias("epoch"))
        )
    )
    return (
        grid.join(
            em.select(
                F.col("k").alias("ek"), F.col("epoch").alias("eep"), "running"
            ),
            (grid["k"] == F.col("ek")) & (F.col("eep") <= grid["epoch"]),
            "inner",
        )
        .groupBy("k", "epoch")
        .agg(F.max_by("running", "eep").alias("running"))
        .orderBy("epoch", "k")
    )


@register(
    "i01_tumbling_window_parity",
    survey_id="I1",
    category="streaming",
    mode="parity",
    oracle=f"""
SELECT TIME_BUCKET(INTERVAL '10 minutes', ts) AS bucket_start,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events GROUP BY 1 ORDER BY 1
""",
)
def i01_tumbling_window_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute window aggregation, drained with availableNow in
    complete mode — the final state equals the batch time_bucket query."""
    src = _read_stream(spark, _events_dir(spark, sf_dir))
    agg = src.groupBy(F.window("ts", "10 minutes").alias("w")).agg(
        F.count("*").alias("n_events"), dsum("value").alias("total_value")
    )
    out = _drain_to_memory(agg, "complete")
    return out.select(
        F.col("w.start").alias("bucket_start"), "n_events", "total_value"
    ).orderBy("bucket_start")


@register(
    "i02_sliding_window_parity",
    survey_id="I2",
    category="streaming",
    mode="parity",
    oracle="""
WITH starts AS (
  SELECT UNNEST([TIME_BUCKET(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes',
                 TIME_BUCKET(INTERVAL '5 minutes', ts)]) AS ws,
         event_id
  FROM events
)
SELECT ws AS window_start, COUNT(*) AS n_events
FROM starts GROUP BY ws ORDER BY ws
""",
)
def i02_sliding_window_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10 min length, 5 min slide): each event lands in
    exactly 2 windows — the oracle unnests both candidate starts."""
    src = _read_stream(spark, _events_dir(spark, sf_dir))
    agg = src.groupBy(
        F.window("ts", "10 minutes", "5 minutes").alias("w")
    ).agg(F.count("*").alias("n_events"))
    out = _drain_to_memory(agg, "complete")
    return out.select(
        F.col("w.start").alias("window_start"), "n_events"
    ).orderBy("window_start")


@register(
    "i03_session_window_parity",
    survey_id="I3",
    category="streaming",
    mode="parity",
    oracle="""
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL '5 minutes'
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM o
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM s GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
)
def i03_session_window_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5 min gap) per user vs the gaps-and-islands batch
    rewrite. Append mode only emits sessions the watermark has closed, so
    a far-future sentinel event per user flushes the tail sessions (and
    is filtered back out of the result)."""
    d = _events_dir(spark, sf_dir)
    tag = os.path.basename(d)
    sentinel_dir = d + "-sessions"
    marker = os.path.join(sentinel_dir, "_READY")
    if not os.path.exists(marker):
        e = load_table(spark, sf_dir, "events")
        e.coalesce(1).write.mode("append").parquet(sentinel_dir)
        # Sentinel must be past the GLOBAL max (a per-user max + 2 days can
        # still precede another user's last event, leaking a sentinel
        # session below the cutoff filter).
        gmax = e.agg(F.max("ts")).head()[0]
        sentinels = e.select("user_id").distinct().select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.lit(gmax) + F.expr("INTERVAL 2 DAYS")).alias("ts"),
            "user_id",
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        sentinels.coalesce(1).write.mode("append").parquet(sentinel_dir)
        open(marker, "w").close()
    src = _read_stream(spark, sentinel_dir).withWatermark("ts", "0 seconds")
    agg = src.groupBy(
        F.session_window("ts", "5 minutes").alias("w"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    out = _drain_to_memory(agg, "append")
    cutoff = load_table(spark, sf_dir, "events").agg(F.max("ts")).head()[0]
    return (
        out.select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
        .where(F.col("session_start") <= F.lit(cutoff))
        .orderBy("user_id", "session_start")
    )


@register(
    "i05_update_mode_final_state",
    survey_id="I5",
    category="streaming",
    mode="parity",
    oracle="""
SELECT user_id, COUNT(*) AS n_events FROM events
GROUP BY user_id ORDER BY user_id
""",
)
def i05_update_mode_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update output mode: the memory sink accumulates one row per key per
    changed batch; counts are monotone so max(n) per key is the final
    state — which must equal the batch aggregate."""
    src = _read_stream(spark, _events_dir(spark, sf_dir))
    agg = src.groupBy("user_id").agg(F.count("*").alias("n"))
    out = _drain_to_memory(agg, "update")
    return (
        out.groupBy("user_id")
        .agg(F.max("n").alias("n_events"))
        .orderBy("user_id")
    )


@register(
    "i06_streaming_dedup",
    survey_id="I6",
    category="streaming",
    mode="parity",
    oracle="""
SELECT event_id, event_type, value FROM events ORDER BY event_id
""",
)
def i06_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on event_id over a doubled stream (every
    event delivered twice) — each event must be emitted exactly once."""
    src = _read_stream(spark, _events_dir(spark, sf_dir, copies=2))
    dedup = src.dropDuplicates(["event_id"]).select(
        "event_id", "event_type", "value"
    )
    out = _drain_to_memory(dedup, "append")
    return out.orderBy("event_id")


@register(
    "i08_stateful_running_agg",
    survey_id="I8",
    category="streaming",
    mode="parity",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY user_id ORDER BY user_id
""",
)
def i08_stateful_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful per-key processing (applyInPandasWithState):
    running (count, integer-cents sum) per user, emitted every batch; the
    final emission per user equals the batch aggregate (J7/I8)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _read_stream(spark, _events_dir(spark, sf_dir))

    def running(key, pdfs, state: GroupState):
        (user_id,) = key
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["value"].map(lambda v: int(v * 100 // 1)).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "value_cents": [cents]}
        )

    out_schema = "user_id long, n_events long, value_cents long"
    state_schema = "n long, cents long"
    result = src.groupBy("user_id").applyInPandasWithState(
        running,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    out = _drain_to_memory(result, "update")
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("value_cents").alias("value_cents"),
        )
        .orderBy("user_id")
    )


@register(
    "c12_stream_static_join",
    survey_id="C12",
    category="streaming",
    mode="parity",
    oracle="""
SELECT event_id, c_custkey, c_name, c_mktsegment
FROM events JOIN customer ON user_id = c_custkey
ORDER BY event_id
""",
)
def c12_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static join: streaming events against the (broadcast)
    customer dimension."""
    src = _read_stream(spark, _events_dir(spark, sf_dir))
    c = load_table(spark, sf_dir, "customer")
    joined = src.join(
        F.broadcast(c), src.user_id == c.c_custkey, "inner"
    ).select("event_id", "c_custkey", "c_name", "c_mktsegment")
    out = _drain_to_memory(joined, "append")
    return out.orderBy("event_id")


@register(
    "c13_stream_stream_join",
    survey_id="C13",
    category="streaming",
    mode="parity",
    oracle="""
SELECT a.event_id AS eid_a, b.event_id AS eid_b, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id <> b.event_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '2 minutes'
ORDER BY eid_a, eid_b
""",
)
def c13_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream inner join with event-time bounds and watermarks on
    both sides: pairs of same-user events within a 2-minute forward
    window."""
    d = _events_dir(spark, sf_dir)
    a = _read_stream(spark, d).withWatermark("ts", "10 minutes").alias("a")
    b = (
        _read_stream(spark, d)
        .withColumnRenamed("ts", "ts_b")
        .withColumnRenamed("event_id", "event_id_b")
        .withColumnRenamed("user_id", "user_id_b")
        .withWatermark("ts_b", "10 minutes")
        .alias("b")
    )
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id_b"))
        & (F.col("a.event_id") != F.col("b.event_id_b"))
        & (F.col("b.ts_b") >= F.col("a.ts"))
        & (F.col("b.ts_b") <= F.col("a.ts") + F.expr("INTERVAL 2 MINUTES")),
        "inner",
    ).select(
        F.col("a.event_id").alias("eid_a"),
        F.col("b.event_id_b").alias("eid_b"),
        F.col("a.user_id").alias("user_id"),
    )
    out = _drain_to_memory(joined, "append")
    return out.orderBy("eid_a", "eid_b")


@register(
    "i10_available_now_drain",
    survey_id="I10",
    category="streaming",
    mode="parity",
    oracle="SELECT COUNT(*) AS n_rows FROM events",
)
def i10_available_now_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow trigger drains the source completely: the streaming
    global count equals the batch count (A5/A10/I10 in one check)."""
    src = _read_stream(spark, _events_dir(spark, sf_dir))
    agg = src.agg(F.count("*").alias("n_rows"))
    out = _drain_to_memory(agg, "complete")
    return out


@register(
    "a06_rate_source",
    survey_id="A6",
    category="streaming",
    mode="bounded",
    oracle="SELECT TRUE AS produced_rows",
)
def a06_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate source smoke: a short processing-time run produces > 0 rows
    with the declared (timestamp, value) schema."""
    import time as _time

    name = "mem_rate_" + uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    deadline = _time.monotonic() + 15
    n = 0
    while _time.monotonic() < deadline:
        n = spark.table(name).count()
        if n > 0:
            break
        _time.sleep(0.2)
    q.stop()
    cols = spark.table(name).columns
    spark.catalog.dropTempView(name)
    ok = n > 0 and cols == ["timestamp", "value"]
    return spark.createDataFrame([(bool(ok),)], "produced_rows boolean")


@register(
    "a10_memory_sink_parity",
    survey_id="A10",
    category="streaming",
    mode="parity",
    oracle=f"""
SELECT event_type,
       2 * COUNT(*) AS n_events,
       2 * {sql_dsum('value')} AS total_value
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def a10_memory_sink_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedicated memory-sink check (closes the last §2 hole, r2 verdict
    next-round #2): two file-drop copies drained one file per trigger, so
    the complete-mode memory sink rewrites its table across >= 2
    micro-batches — the final table must equal the batch aggregate over
    both copies (the 2x in the oracle). Exercises the sink's
    replace-on-complete semantics, not just 'produced rows'."""
    d = _events_dir(spark, sf_dir, copies=2)
    src = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = src.groupBy("event_type").agg(
        F.count("*").alias("n_events"), dsum("value").alias("total_value")
    )
    out = _drain_to_memory(agg, "complete")
    return out.orderBy("event_type")


# ---------------------------------------------------------------------------
# Scripted two-phase goldens (I4 / I7 / I13)
# ---------------------------------------------------------------------------

_GOLDEN_ROWS_A = [
    (1, "2024-01-01 10:00:00", 1),
    (2, "2024-01-01 10:05:00", 1),
    (3, "2024-01-01 10:12:00", 1),
    (4, "2024-01-01 10:31:00", 1),
]
_GOLDEN_ROWS_B = [
    (5, "2024-01-01 10:03:00", 1),  # LATE: behind the checkpointed watermark
    (6, "2024-01-01 10:52:00", 1),  # advances watermark past 10:40, closing
    # the 10:30 window; its own 10:50 window never finalizes
]


def _write_golden_file(spark: SparkSession, d: str, rows, name: str) -> None:
    df = _local_rows_df(
        spark,
        [(i, ts, u) for i, ts, u in rows],
        "event_id long, ts_s string, user_id long",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id")
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, name))


def _drive_golden_windows(spark: SparkSession, base: str):
    """The i04 scenario: ``_GOLDEN_ROWS_A`` then ``_GOLDEN_ROWS_B``, one
    epoch each, through a watermarked 10-minute tumbling count in append
    mode. Return the parquet sink's dir and the two terminated
    queries."""
    src_dir = os.path.join(base, "src")
    out_dir = os.path.join(base, "out")
    os.makedirs(src_dir)
    passes = _drive_epochs(
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/*/")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        [
            lambda: _write_golden_file(spark, src_dir, _GOLDEN_ROWS_A, "step-a"),
            lambda: _write_golden_file(spark, src_dir, _GOLDEN_ROWS_B, "step-b"),
        ],
        shuffle_partitions=4,
    )
    return out_dir, passes


@register(
    "i04_watermark_late_drop_golden",
    survey_id="I4",
    category="streaming",
    mode="golden",
    oracle="""
SELECT * FROM (VALUES
  (TIMESTAMP '2024-01-01 10:00:00', 2),
  (TIMESTAMP '2024-01-01 10:10:00', 1),
  (TIMESTAMP '2024-01-01 10:30:00', 1)
) AS t(window_start, n) ORDER BY window_start
""",
)
def i04_watermark_late_drop_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + append-mode late-data drop, scripted: run 1 processes
    events through 10:31 (watermark 10:21 → windows 10:00 and 10:10
    finalize); run 2 delivers a 10:03 row — behind the checkpointed
    watermark, DROPPED — plus 10:52 (closing the 10:30 window). The
    pinned output has exactly 3 windows; the 10:40 window never
    finalizes and the late row never appears."""
    out_dir = _drive_golden_windows(spark, scratch_dir("i04"))[0]
    return spark.read.parquet(out_dir).orderBy("window_start")


@register(
    "i07_dedup_within_watermark_golden",
    survey_id="I7",
    category="streaming",
    mode="golden",
    oracle="""
SELECT * FROM (VALUES
  (1, TIMESTAMP '2024-01-01 10:00:00'),
  (2, TIMESTAMP '2024-01-01 10:30:00'),
  (1, TIMESTAMP '2024-01-01 10:40:00')
) AS t(dedup_key, ts) ORDER BY ts, dedup_key
""",
)
def i07_dedup_within_watermark_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark: a duplicate key arriving within the
    10-minute window is dropped; after the watermark evicts its state the
    key is emitted again (run 2's 10:40 re-emission of key 1)."""
    base = scratch_dir("i07")
    src_dir = os.path.join(base, "src")
    out_dir = os.path.join(base, "out")
    os.makedirs(src_dir)
    rows_a = [
        (1, "2024-01-01 10:00:00", 1),
        (1, "2024-01-01 10:02:00", 1),  # dup within watermark → dropped
        (2, "2024-01-01 10:30:00", 1),
    ]
    rows_b = [
        (1, "2024-01-01 10:40:00", 1),  # state evicted → re-emitted
        (2, "2024-01-01 10:31:00", 1),  # dup within watermark → dropped
    ]
    _drive_epochs(
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/*/")
        .withWatermark("ts", "10 minutes")
        .select(F.col("event_id").alias("dedup_key"), "ts", "user_id")
        .dropDuplicatesWithinWatermark(["dedup_key"])
        .select("dedup_key", "ts")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        [
            lambda: _write_golden_file(spark, src_dir, rows_a, "step-a"),
            lambda: _write_golden_file(spark, src_dir, rows_b, "step-b"),
        ],
        shuffle_partitions=4,
    )
    return spark.read.parquet(out_dir).orderBy("ts", "dedup_key")


@register(
    "i13_checkpoint_restart",
    survey_id="I13",
    category="streaming",
    mode="parity",
    oracle="""
SELECT event_id, value FROM events ORDER BY event_id
""",
)
def i13_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed restart (Spark-native extension beyond the reference's
    at-most-once — SURVEY §2.2.1): half the files, stop, rest of the
    files, restart with the same checkpoint — the file sink shows every
    event exactly once."""
    base = scratch_dir("i13")
    src_dir = os.path.join(base, "src")
    out_dir = os.path.join(base, "out")
    os.makedirs(src_dir)
    e = load_table(spark, sf_dir, "events").select("event_id", "value")
    mid = e.agg(F.expr("percentile(event_id, 0.5)")).head()[0]

    def half(cond, name: str) -> None:
        e.where(cond).coalesce(1).write.parquet(os.path.join(src_dir, name))

    _drive_epochs(
        spark.readStream.schema("event_id long, value double")
        .parquet(src_dir + "/*/")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        [
            lambda: half(F.col("event_id") <= mid, "half1"),
            lambda: half(F.col("event_id") > mid, "half2"),
        ],
    )
    return spark.read.parquet(out_dir).orderBy("event_id")


@register(
    "a07_kafka_loopback_roundtrip",
    survey_id="A7",
    category="streaming",
    mode="parity",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events ORDER BY event_id
""",
)
def a07_kafka_loopback_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kafka pipeline minus the broker (r2 verdict next-round #6): the
    producer serde JSON-encodes events into the exact
    (key, value, topic, partition, offset, timestamp, timestampType)
    record schema, hash-partitioned on the key with per-partition
    contiguous offsets; the loopback transport streams those records
    from a file-drop dir with the same columns/types format("kafka")
    would serve; the subscriber serde (verbatim production code —
    decode_kafka_json) parses them back. The drained result must equal
    the original events table, proving encode→transport→decode is
    lossless. Narrows the A7 gap to broker TRANSPORT only; where the
    package+broker exist, kafka_source/kafka_sink swap in unchanged."""
    from nibbler_spark.sources.streams import (
        decode_kafka_json,
        kafka_loopback_stream,
        to_kafka_records,
    )

    def build(tmp: str) -> None:
        e = load_table(spark, sf_dir, "events")
        to_kafka_records(
            e, topic="events-loop", key_col="event_id", ts_col="ts"
        ).repartition(4).write.mode("append").parquet(tmp)

    d = cached_dir(sf_dir, "events", "kafka-loop", build)
    records = kafka_loopback_stream(spark, d, max_files_per_trigger=2)
    decoded = decode_kafka_json(
        records,
        "event_id long, user_id long, event_type string, "
        "value double, props string",
    ).select("event_id", "user_id", "event_type", "value")
    out = _drain_to_memory(decoded, "append")
    return out.orderBy("event_id")


@register(
    "a20_avro_stream_source",
    survey_id="A20",
    category="streaming",
    mode="parity",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY user_id
""",
)
def a20_avro_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming over the engine's own Avro DataSource: the
    simpleStreamReader tracks a sorted-file offset (each micro-batch
    decodes exactly the newly-arrived containers, with
    readBetweenOffsets replay on checkpoint recovery), and the drained
    keyed aggregate must equal the batch query over the same rows.
    Completes the `nibbler_avro` surface: batch read, batch write,
    AND readStream."""
    from nibbler_spark.sources.avro_datasource import register_avro_source

    register_avro_source(spark)

    def build(tmp: str) -> None:
        register_avro_source(spark)
        (
            load_table(spark, sf_dir, "events")
            .where(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "value")
            .repartition(4)
            .write.format("nibbler_avro")
            .mode("append")
            .option("path", tmp)
            .save()
        )

    d = cached_dir(sf_dir, "events", "avro-stream", build)
    src = spark.readStream.format("nibbler_avro").option("path", d).load()
    agg = src.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
    )
    out = _drain_to_memory(agg, "complete")
    return out.orderBy("user_id")


@register(
    "i17_stateful_kill_restart",
    survey_id="I17",
    category="streaming",
    mode="parity",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY user_id ORDER BY user_id
""",
)
def i17_stateful_kill_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kill-mid-epoch restart of a STATEFUL query (r2 verdict next-round
    #7, extending i13's stateless restart): the i08 running
    (count, cents) per-user applyInPandasWithState pipeline is started
    over one-file-per-trigger epochs, STOPPED as soon as at least one
    epoch has committed — q.stop() lands wherever it lands, possibly
    with an epoch in flight between state commit and sink commit — then
    restarted on the SAME checkpoint with more source files. Exactly-
    once state recovery means the final per-user state equals the batch
    aggregate: a lost epoch would leave it short, a double-applied one
    (state restored from the wrong epoch) would overshoot. The
    foreachBatch parquet sink may legitimately contain replayed
    EMISSIONS of an uncommitted epoch; the per-user max collapses those
    because the recovered state transition is deterministic — max is
    the right fold for monotone running aggregates, and it converts
    sink-side at-least-once into an end-to-end exactly-once check."""
    import time as _time

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    base = scratch_dir("i17")
    src_dir = os.path.join(base, "src")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src_dir, exist_ok=True)
    e = load_table(spark, sf_dir, "events")

    def running(key, pdfs, state: GroupState):
        (user_id,) = key
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["value"].map(lambda v: int(v * 100 // 1)).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "value_cents": [cents]}
        )

    def stateful(src):
        return src.groupBy("user_id").applyInPandasWithState(
            running,
            "user_id long, n_events long, value_cents long",
            "n long, cents long",
            "update",
            GroupStateTimeout.NoTimeout,
        )

    def sink(batch_df, epoch_id):
        batch_df.write.mode("append").parquet(out_dir)

    def reader():
        return (
            spark.readStream.schema(_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir + "/*/")
        )

    # Phase 1: two source files, one epoch each; kill after >= 1 commit.
    for part in range(2):
        e.where(F.col("event_id") % 4 == part).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src_dir, f"part{part}"))
    q = (
        stateful(reader())
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    deadline = _time.monotonic() + 60
    while _time.monotonic() < deadline:
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        _time.sleep(0.2)
    q.stop()  # mid-epoch wherever execution happens to be
    q.awaitTermination()

    # Phase 2: rest of the data, same checkpoint, drain to completion.
    for part in range(2, 4):
        e.where(F.col("event_id") % 4 == part).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src_dir, f"part{part}"))
    _drain(
        stateful(reader()).writeStream.foreachBatch(sink).outputMode("update"),
        checkpoint=ckpt,
    )
    return (
        spark.read.parquet(out_dir)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("value_cents").alias("value_cents"),
        )
        .orderBy("user_id")
    )


@register(
    "a05_file_stream_source",
    survey_id="A5",
    category="streaming",
    mode="parity",
    oracle="""
SELECT event_id, event_type, value FROM events
WHERE event_type = 'purchase' ORDER BY event_id
""",
)
def a05_file_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema'd streaming file source with a stateless transformation in
    append mode — the drained output equals the batch filter."""
    src = _read_stream(spark, _events_dir(spark, sf_dir))
    sel = src.where(F.col("event_type") == "purchase").select(
        "event_id", "event_type", "value"
    )
    out = _drain_to_memory(sel, "append")
    return out.orderBy("event_id")


@register(
    "a08_foreachbatch_sink",
    survey_id="A8",
    category="streaming",
    mode="parity",
    oracle="""
SELECT user_id, COUNT(*) AS n FROM events
WHERE value > 150 GROUP BY user_id ORDER BY user_id
""",
)
def a08_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink (the Processor seam, R4/A8): per-epoch rows are
    collected by the callback; their union equals the batch query.
    Per-batch collection is bounded — each epoch carries only the rows of
    that trigger's files."""
    src = _read_stream(spark, _events_dir(spark, sf_dir))
    sel = src.where(F.col("value") > 150).select("user_id")
    collected: list = []

    def sink(df: DataFrame, epoch_id: int) -> None:
        collected.extend((r["user_id"],) for r in df.collect())

    _drain(sel.writeStream.foreachBatch(sink))
    rows = spark.createDataFrame(collected, "user_id long")
    return (
        rows.groupBy("user_id").agg(F.count("*").alias("n")).orderBy("user_id")
    )


@register(
    "k13_stream_enrich",
    survey_id="K13",
    category="streaming",
    mode="parity",
    oracle="""
SELECT e.event_id, e.user_id, em.label AS profile_label
FROM events e JOIN embeddings em ON e.user_id = em.vec_id
ORDER BY e.event_id
""",
)
def k13_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming enrichment against a static similarity-index side
    (K13): events joined to the (broadcast) embedding profile table —
    the stream-side pattern for attaching nearest-cluster labels at
    ingest time."""
    src = _read_stream(spark, _events_dir(spark, sf_dir))
    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").alias("profile_label")
    )
    joined = src.join(
        F.broadcast(em), src.user_id == em.vec_id, "inner"
    ).select("event_id", "user_id", "profile_label")
    out = _drain_to_memory(joined, "append")
    return out.orderBy("event_id")


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API (works for
    local, HDFS, and object-store paths alike) — an explicit check
    instead of a try/except around ``read.parquet``, so a missing store
    never surfaces a PATH_NOT_FOUND analysis error into the session's
    listener bus."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _incremental_rollup_drain(
    spark: SparkSession,
    sf_dir: str,
    touched_log: list | None = None,
    base: str | None = None,
) -> DataFrame:
    """Drain the incremental hourly rollup and return the final store
    contents.  ``touched_log``, when given, receives one sorted list of
    touched day_key partition values per epoch — the layout test pins
    that each epoch's merge stays O(days-in-batch), not O(store).

    Store layout (the r5 judge finding): the store is partitioned at
    DAY grain with hour-level rows inside each day file — 30 partition
    directories for a month of data instead of 720 tiny hour dirs (the
    small-files anti-pattern a compactor would otherwise have to undo).
    The source is sliced into TIME-CONTIGUOUS quarters of the event
    timeline, so each micro-batch's merge reads + rewrites only its own
    ~(days/4 + 1 boundary) day partitions; dynamic partition overwrite
    leaves the rest of the store untouched.  ``repartition(day_key)``
    before the write yields exactly one file per touched day."""
    base = base or scratch_dir("rollup")
    src_dir = os.path.join(base, "src")
    store = os.path.join(base, "store")
    os.makedirs(src_dir, exist_ok=True)
    e = load_table(spark, sf_dir, "events")
    # Time-contiguous epoch slices: quarter the [first_day, last_day]
    # span so arrival order mirrors time order (the realistic ingest
    # shape, and the one under which the O(days-in-batch) merge claim
    # is measurable).  Slices overlap only at quarter-boundary days.
    lo, hi = e.select(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    ).first()
    n_days = (hi - lo).days + 1
    cuts = [lo + datetime.timedelta(days=(n_days * i) // 4) for i in range(5)]
    # One scan writes all four slice files (slice = timeline quarter).
    slice_no = F.least(
        F.lit(3),
        F.floor(F.datediff(F.to_date("ts"), F.lit(lo)) * 4 / n_days),
    ).cast("int")
    e.withColumn("slice", slice_no).repartition(4, "slice").write.mode(
        "overwrite"
    ).partitionBy("slice").parquet(src_dir)
    _rollup_drain_pass(
        spark, src_dir, store, os.path.join(base, "ckpt"), touched_log
    )
    return (
        spark.read.schema(_ROLLUP_STORE_SCHEMA)
        .parquet(store)
        .select("hour_key", "n", "value_cents")
        .orderBy("hour_key")
    )


_ROLLUP_STORE_SCHEMA = (
    "hour_key string, n long, value_cents long, day_key string"
)


def _rollup_drain_pass(
    spark: SparkSession,
    src_dir: str,
    store: str,
    ckpt: str,
    touched_log: list | None = None,
) -> None:
    """One availableNow pass of the incremental rollup over whatever
    source files exist and are not yet in the checkpoint's file log.
    Calling this again after MORE slice files land resumes from the
    same checkpoint and merges only the new epochs into the store —
    the restart/catch-up path a continuous aggregate lives by (golden:
    tests/test_r6_additions.py two-phase restart equals batch)."""
    store_schema = _ROLLUP_STORE_SCHEMA

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        part = (
            batch_df.groupBy(
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                    "day_key"
                ),
                F.date_format(
                    F.date_trunc("hour", "ts"), "yyyy-MM-dd-HH"
                ).alias("hour_key"),
            )
            .agg(
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
                    "value_cents"
                ),
            )
        )
        sess = batch_df.sparkSession
        days = sorted(
            r["day_key"] for r in part.select("day_key").distinct().collect()
        )
        if touched_log is not None:
            touched_log.append(days)
        if _hadoop_path_exists(sess, store):
            # Explicit schema keeps day_key a STRING (partition-type
            # inference would read it back as DATE and the isin pruning
            # filter below would no longer match the string literals).
            existing = sess.read.schema(store_schema).parquet(store).where(
                F.col("day_key").isin(days)
            )
        else:
            existing = sess.createDataFrame([], store_schema)
        merged = (
            existing.unionByName(part)
            .groupBy("day_key", "hour_key")
            .agg(
                F.sum("n").alias("n"),
                F.sum("value_cents").alias("value_cents"),
            )
        )
        # Dynamic overwrite touches ONLY the day partitions present in
        # `merged`; one shuffle task (=> one file) per touched day.
        merged.repartition(len(days), "day_key").write.mode(
            "overwrite"
        ).partitionBy("day_key").parquet(store)

    # partitionOverwriteMode=dynamic only for the drain, so the shared
    # session's behavior doesn't leak into later queries. Drain-scale
    # shuffle width for the per-epoch merge jobs: each epoch's agg/merge
    # moves ≤ days_in_batch × 24 hourly rows — cluster-width shuffles
    # would be pure task-launch overhead.
    with scoped_conf(
        spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        _drain(
            spark.readStream.schema(_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir + "/*/")
            .writeStream.foreachBatch(upsert),
            checkpoint=ckpt,
            shuffle_partitions=8,
        )


@register(
    "ext_incremental_rollup",
    survey_id="EXT-ROLLUP",
    category="streaming",
    mode="parity",
    oracle="""
SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d-%H') AS hour_key,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1 ORDER BY 1
""",
)
def ext_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: foreachBatch maintains a
    DAY-partitioned rollup store of hourly rows, merging each
    micro-batch's partial aggregates into only the affected day
    partitions (dynamic partition overwrite).  After draining a
    multi-batch stream the store equals the batch rollup.  At 100 TB
    this is the materialized-view pattern: per epoch the merge reads
    and rewrites O(days-in-batch) partitions, never the whole store,
    and the day grain keeps file counts compactor-free (hour grain was
    the r5 small-files finding).  Integer-cents sums keep the merge
    exact."""
    return _incremental_rollup_drain(spark, sf_dir)


_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _documents_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize documents as a multi-file drop dir (cached per sf,
    crash-safe via build-then-rename)."""

    def build(tmp: str) -> None:
        load_table(spark, sf_dir, "documents").repartition(4).write.mode(
            "append"
        ).parquet(tmp)

    return cached_dir(sf_dir, "documents", "docstream", build)


@register(
    "k15_streaming_curation",
    survey_id="EXT-CURATE-S",
    category="streaming",
    mode="parity",
    oracle="""
WITH norm AS (
  SELECT doc_id, lang, n_chars,
         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm_text
  FROM documents
),
quality AS (
  SELECT *, len(string_split(norm_text, ' ')) AS n_tokens
  FROM norm
  WHERE n_chars >= 100 AND len(string_split(norm_text, ' ')) BETWEEN 15 AND 90
),
dedup AS (
  SELECT md5(norm_text) AS content_key,
         ARG_MIN(doc_id, doc_id) AS keeper_doc_id,
         ARG_MIN(lang, doc_id) AS lang,
         COUNT(*) AS n_members
  FROM quality GROUP BY md5(norm_text)
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_members) AS BIGINT) AS n_raw_docs
FROM dedup GROUP BY lang ORDER BY lang
""",
)
def k15_streaming_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline at ingest time: a documents stream is
    normalized, quality-filtered, and exact-deduped by a keyed streaming
    aggregate (min_by keeps the lowest doc_id, matching the batch
    ARG_MIN), then rolled up per language after the drain. Complete mode
    is the test harness; at scale the same keyed state runs in update
    mode behind a foreachBatch upsert, partitioned by content_key."""
    src = spark.readStream.schema(_DOC_SCHEMA).parquet(
        _documents_dir(spark, sf_dir)
    )
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    staged = src.select("doc_id", "lang", "n_chars", norm.alias("norm_text"))
    quality = staged.select(
        "*", F.size(F.split("norm_text", " ")).alias("n_tokens")
    ).where((F.col("n_chars") >= 100) & F.col("n_tokens").between(15, 90))
    dedup = quality.groupBy(F.md5("norm_text").alias("content_key")).agg(
        F.min_by("doc_id", "doc_id").alias("keeper_doc_id"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.count("*").alias("n_members"),
    )
    out = _drain_to_memory(dedup, "complete")
    return (
        out.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_members").cast("bigint").alias("n_raw_docs"),
        )
        .orderBy("lang")
    )


def _drive_click_purchase_join(
    spark: SparkSession, base: str, how: str, cols, clicks, purchases
) -> str:
    """The i14/i17 scaffold: a stream-stream ``how`` join of clicks to
    purchases of the same user within [click_ts, click_ts + 10m], both
    sides watermarked at 10 minutes, selecting ``cols`` into a parquet
    sink in append mode. Epoch 1 drops the literal ``(user_id, ts)``
    rows of ``clicks`` and ``purchases``; epoch 2 drops a far-future
    user-99 sentinel on BOTH sides, so the watermark sweeps past all
    real state and flushes the null-extended rows. Return the sink's
    dir (the sentinel rows included)."""
    l_dir = os.path.join(base, "left")
    r_dir = os.path.join(base, "right")
    out_dir = os.path.join(base, "out")

    def side(d: str, col: str):
        return (
            spark.readStream.schema(f"user_id long, {col} timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(d + "/*/")
            .withWatermark(col, "10 minutes")
        )

    def drop(l_rows, r_rows, name: str) -> None:
        for d, rows, col in (
            (l_dir, l_rows, "click_ts"), (r_dir, r_rows, "purchase_ts")
        ):
            _local_rows_df(spark, rows, "user_id long, ts_s string").select(
                "user_id", F.col("ts_s").cast("timestamp").alias(col)
            ).coalesce(1).write.parquet(os.path.join(d, name))

    sentinel = [(99, "2024-01-01 12:00:00")]
    joined = side(l_dir, "click_ts").alias("c").join(
        side(r_dir, "purchase_ts").alias("p"),
        F.expr(
            "c.user_id = p.user_id AND "
            "p.purchase_ts BETWEEN c.click_ts AND "
            "c.click_ts + INTERVAL 10 MINUTES"
        ),
        how,
    ).select(*cols)
    _drive_epochs(
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        [
            lambda: drop(clicks, purchases, "step-a"),
            lambda: drop(sentinel, sentinel, "step-b"),
        ],
        shuffle_partitions=4,
    )
    return out_dir


@register(
    "i14_stream_stream_left_outer_golden",
    survey_id="I14",
    category="streaming",
    mode="golden",
    oracle="""
SELECT * FROM (VALUES
  (1, TIMESTAMP '2024-01-01 10:00:00', TIMESTAMP '2024-01-01 10:04:00'),
  (2, TIMESTAMP '2024-01-01 10:05:00', CAST(NULL AS TIMESTAMP)),
  (3, TIMESTAMP '2024-01-01 10:10:00', TIMESTAMP '2024-01-01 10:15:00')
) AS t(user_id, click_ts, purchase_ts) ORDER BY user_id
""",
)
def i14_stream_stream_left_outer_golden(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermarks + time bound:
    clicks left-joined to purchases within [click_ts, click_ts+10m] per
    user. Outer (null-extended) rows emit only when the right watermark
    proves no match can still arrive, so pass 2 drops a far-future
    sentinel row on both sides to advance the watermark past all real
    state — the scripted equivalent of a stream that keeps flowing. The
    pinned golden has the matched pairs AND user 2's null-extended row;
    state is bounded by the watermark on both sides (SCALE.md §streaming).
    """
    out_dir = _drive_click_purchase_join(
        spark,
        scratch_dir("i14"),
        "leftOuter",
        ["c.user_id", "c.click_ts", "p.purchase_ts"],
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:05:00"),
         (3, "2024-01-01 10:10:00")],
        [(1, "2024-01-01 10:04:00"), (3, "2024-01-01 10:15:00")],
    )
    return (
        spark.read.parquet(out_dir)
        .where(F.col("user_id") != 99)
        .orderBy("user_id")
    )


@register(
    "a16_foreachbatch_multi_sink",
    survey_id="A16",
    category="streaming",
    mode="parity",
    oracle="""
SELECT event_type, COUNT(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def a16_foreachbatch_multi_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch fan-out to TWO sinks from one stream: each
    micro-batch is persisted once, written raw to an archive sink AND
    aggregated into a counts sink — the standard pattern when one
    ingest feeds both a lake archive and a metrics table (persist
    prevents recomputing the batch per sink; epoch-tagged paths make
    retries idempotent). Parity: the counts sink, summed across
    epochs, must equal the batch aggregate; the archive must hold
    every row."""
    d = _events_dir(spark, sf_dir)
    base = scratch_dir("a16")
    archive = os.path.join(base, "archive")
    counts = os.path.join(base, "counts")

    def fan_out(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        batch_df.write.mode("append").parquet(
            os.path.join(archive, f"epoch={epoch_id}")
        )
        (
            batch_df.groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .write.mode("append")
            .parquet(os.path.join(counts, f"epoch={epoch_id}"))
        )
        batch_df.unpersist()

    # Pin through termination: the per-epoch counts aggregation runs as
    # a BATCH job inside foreachBatch, reading the conf at execution
    # time (not at stream start), and shuffles a handful of event_type
    # groups per epoch.
    _drain(
        _read_stream(spark, d).writeStream.foreachBatch(fan_out),
        shuffle_partitions=8,
    )
    archived = spark.read.parquet(archive + "/epoch=*").count()
    expected = spark.read.parquet(d).count()
    assert archived == expected, f"archive {archived} != source {expected}"
    return (
        spark.read.parquet(counts + "/epoch=*")
        .groupBy("event_type")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .orderBy("event_type")
    )


@register(
    "k16_incremental_dedup_store",
    survey_id="EXT-DEDUP-STORE",
    category="streaming",
    mode="parity",
    oracle="""
WITH even_keys AS (
  SELECT md5(text) AS k, MIN(doc_id) AS keeper
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
),
odd_new AS (
  SELECT md5(text) AS k, MIN(doc_id) AS keeper
  FROM documents
  WHERE doc_id % 2 = 1
    AND md5(text) NOT IN (SELECT k FROM even_keys)
  GROUP BY 1
)
SELECT k AS content_key, keeper AS keeper_doc_id FROM even_keys
UNION ALL
SELECT k AS content_key, keeper AS keeper_doc_id FROM odd_new
ORDER BY content_key
""",
)
def k16_incremental_dedup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against HISTORY: each arriving batch is
    anti-joined on content hash against a persistent dedup store, then
    deduped within itself, and only first-seen keys append to the store
    — the cross-restart production shape (dropDuplicates state dies with
    the query; a store survives). Scripted: pass 1 ingests the even
    docs (seeding the store), pass 2 ingests the full corpus — every
    even doc and every odd duplicate of a seen key is dropped.
    First-writer-wins is the declared semantic. At 100 TB the store is
    a bucketed table on content_key so the anti-join is exchange-free
    on the store side."""
    base = scratch_dir("k16")
    src = os.path.join(base, "src")
    store = os.path.join(base, "store")
    os.makedirs(src)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    schema = "content_key string, keeper_doc_id long"
    spark.createDataFrame([], schema).write.mode("overwrite").parquet(store)

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        seen = batch_df.sparkSession.read.parquet(store)
        fresh = (
            batch_df.select(
                F.md5("text").alias("content_key"), "doc_id"
            )
            .join(seen, "content_key", "left_anti")
            .groupBy("content_key")
            .agg(F.min("doc_id").alias("keeper_doc_id"))
        )
        fresh.write.mode("append").parquet(store)

    _drive_epochs(
        spark.readStream.schema("doc_id long, text string")
        .parquet(src + "/*/")
        .writeStream.foreachBatch(ingest),
        [
            lambda: d.where(F.col("doc_id") % 2 == 0)
            .coalesce(1)
            .write.parquet(os.path.join(src, "step-a")),
            lambda: d.coalesce(1).write.parquet(os.path.join(src, "step-b")),
        ],
    )
    return spark.read.parquet(store).orderBy("content_key")


@register(
    "i15_complete_mode_topk",
    survey_id="I15",
    category="streaming",
    mode="parity",
    oracle=f"""
SELECT user_id, {sql_dsum('value')} AS total_value
FROM events GROUP BY user_id
ORDER BY total_value DESC, user_id LIMIT 5
""",
)
def i15_complete_mode_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: complete output mode re-emits the full aggregate
    each trigger, which is what makes sorting+limit legal in a stream
    (append mode cannot retract a previously-emitted rank). The memory
    sink holds the final standings after the availableNow drain. State
    is per-user totals — k does not bound state, the user-key domain
    does; at 100 TB you'd pre-aggregate per partition before the global
    top-k."""
    d = _events_dir(spark, sf_dir)
    agg = (
        _read_stream(spark, d)
        .groupBy("user_id")
        .agg(dsum("value").alias("total_value"))
        .orderBy(F.col("total_value").desc(), "user_id")
        .limit(5)
    )
    return _drain_to_memory(agg, "complete")


@register(
    "i16_stateful_session_timeout_golden",
    survey_id="I16",
    category="streaming",
    mode="golden",
    oracle="""
SELECT * FROM (VALUES
  (1, TIMESTAMP '2024-01-01 10:00:00', 3),
  (2, TIMESTAMP '2024-01-01 10:00:00', 1),
  (2, TIMESTAMP '2024-01-01 11:00:00', 1)
) AS t(user_id, session_start, n_events)
ORDER BY user_id, session_start
""",
)
def i16_stateful_session_timeout_golden(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME TIMEOUTS
    (applyInPandasWithState + GroupStateTimeout.EventTimeTimeout): open
    sessions live in keyed state and close either by an intra-batch gap
    or when the watermark passes last_event + 30 min — the state-expiry
    mechanism that bounds memory for keys that simply stop arriving
    (dropDuplicates/session_window get this for free; custom state must
    set timeouts). Scripted three-pass drain: real events, then two
    far-future sentinels so the advancing watermark fires the timeouts
    deterministically. Pinned golden: one 3-event session for user 1,
    two 1-event sessions for user 2 (split by a 60-min gap)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    base = scratch_dir("i16")
    src = os.path.join(base, "src")
    out_dir = os.path.join(base, "out")
    os.makedirs(src)

    def sessionize(key, pdfs, state):
        if state.hasTimedOut:
            start, last, cnt = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.to_datetime(start, unit="s")],
                    "n_events": [cnt],
                }
            )
            return
        ts_list = []
        for pdf in pdfs:
            ts_list.extend(
                int(t.timestamp()) for t in pdf["ts"].tolist()
            )
        ts_list.sort()
        cur = list(state.get) if state.exists else None
        closed = []
        for t in ts_list:
            if cur is None:
                cur = [t, t, 1]
            elif t - cur[1] > 1800:
                closed.append(cur)
                cur = [t, t, 1]
            else:
                cur[1] = t
                cur[2] += 1
        if cur is not None:
            state.update(tuple(cur))
            state.setTimeoutTimestamp((cur[1] + 1800) * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "session_start": [
                        pd.to_datetime(c[0], unit="s") for c in closed
                    ],
                    "n_events": [c[2] for c in closed],
                }
            )

    def drop(rows, name):
        _local_rows_df(spark, rows, "user_id long, ts_s string").select(
            "user_id", F.col("ts_s").cast("timestamp").alias("ts")
        ).coalesce(1).write.parquet(os.path.join(src, name))

    _drive_epochs(
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*/")
        .withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            "user_id long, session_start timestamp, n_events long",
            "start long, last long, cnt long",
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        [
            lambda: drop(
                [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:05:00"),
                 (1, "2024-01-01 10:10:00"), (2, "2024-01-01 10:00:00"),
                 (2, "2024-01-01 11:00:00")],
                "step-a",
            ),
            lambda: drop([(99, "2024-01-01 12:00:00")], "step-b"),
            lambda: drop([(99, "2024-01-01 13:00:00")], "step-c"),
        ],
        shuffle_partitions=4,
    )
    return (
        spark.read.parquet(out_dir)
        .where(F.col("user_id") != 99)
        .orderBy("user_id", "session_start")
    )


@register(
    "i17_stream_stream_full_outer_golden",
    survey_id="I17",
    category="streaming",
    mode="golden",
    oracle="""
SELECT * FROM (VALUES
  (1, TIMESTAMP '2024-01-01 10:00:00', TIMESTAMP '2024-01-01 10:04:00'),
  (2, TIMESTAMP '2024-01-01 10:05:00', CAST(NULL AS TIMESTAMP)),
  (4, CAST(NULL AS TIMESTAMP), TIMESTAMP '2024-01-01 10:20:00')
) AS t(user_id, click_ts, purchase_ts)
ORDER BY user_id
""",
)
def i17_stream_stream_full_outer_golden(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER join: completes the i14 scaffold with
    unmatched rows surviving from BOTH sides — user 2's click never
    purchased AND user 4's purchase with no click both emit
    null-extended once the watermark clears their join windows.
    Same sentinel-advance discipline as i14."""
    out_dir = _drive_click_purchase_join(
        spark,
        scratch_dir("i17"),
        "fullOuter",
        [
            F.coalesce(F.col("c.user_id"), F.col("p.user_id")).alias("user_id"),
            "c.click_ts",
            "p.purchase_ts",
        ],
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:05:00")],
        [(1, "2024-01-01 10:04:00"), (4, "2024-01-01 10:20:00")],
    )
    return (
        spark.read.parquet(out_dir)
        .where(F.col("user_id") != 99)
        .orderBy("user_id")
    )


@register(
    "ext_streaming_cms",
    survey_id="EXT-CMS-S",
    category="streaming",
    mode="parity",
    oracle="""
WITH seeds AS (SELECT UNNEST(generate_series(0, 3)) AS seed),
cells AS (
  SELECT s.seed,
         CAST(((strpos('0123456789abcdef', substr(md5(CONCAT(CAST(s.seed AS VARCHAR), ':', CAST(e.user_id AS VARCHAR))), 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(md5(CONCAT(CAST(s.seed AS VARCHAR), ':', CAST(e.user_id AS VARCHAR))), 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5(CONCAT(CAST(s.seed AS VARCHAR), ':', CAST(e.user_id AS VARCHAR))), 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(CONCAT(CAST(s.seed AS VARCHAR), ':', CAST(e.user_id AS VARCHAR))), 4, 1)) - 1)) % 64
           AS INT) AS bucket,
         COUNT(*) * 2 AS cell
  FROM events e CROSS JOIN seeds s
  GROUP BY 1, 2
)
SELECT seed, bucket, CAST(cell AS BIGINT) AS cell
FROM cells ORDER BY seed, bucket
""",
)
def ext_streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained ACROSS micro-batches: each
    foreachBatch epoch reduces its slice of the stream to d×w = 256
    counter cells and merges them (cellwise add) into a running store —
    sketch mergeability is the whole reason CMS works in a distributed
    pipeline, and this query proves it end-to-end: the stream is the
    events table twice (two files, maxFilesPerTrigger=1 forces two
    epochs), and the merged sketch must equal the batch sketch over the
    doubled stream bit-for-bit (portable md5-nibble hash, integer
    cells).

    Per epoch only the 256-cell aggregate crosses to the store — the
    driver-side dict stands in for any mergeable-state sink (parquet
    upsert, Redis, an accumulator service); epoch traffic is O(sketch),
    never O(stream).
    """
    from nibbler_spark.queries.sketches import _CMS_D, _CMS_W, _nib_hash

    d = _events_dir(spark, sf_dir, copies=2)
    seeds = spark.range(_CMS_D).select(
        F.col("id").cast("int").alias("seed")
    )
    store: dict[tuple[int, int], int] = {}

    def merge_epoch(batch_df, epoch_id):
        cells = (
            batch_df.crossJoin(F.broadcast(seeds))
            .select(
                "seed",
                _nib_hash(
                    F.concat_ws(":", F.col("seed"), F.col("user_id")),
                    _CMS_W,
                ).alias("bucket"),
            )
            .groupBy("seed", "bucket")
            .agg(F.count("*").alias("cell"))
            .collect()
        )
        for r in cells:
            key = (r["seed"], r["bucket"])
            store[key] = store.get(key, 0) + r["cell"]

    _drain(
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .writeStream.foreachBatch(merge_epoch),
    )
    rows = [
        (seed, bucket, int(cell))
        for (seed, bucket), cell in sorted(store.items())
    ]
    return spark.createDataFrame(
        rows, "seed int, bucket int, cell bigint"
    ).orderBy("seed", "bucket")


from nibbler_spark.queries.training_prep import DECONTAM_ORACLE  # noqa: E402


@register(
    "ext_stream_decontaminate",
    survey_id="EXT-DECONTAM-S",
    category="streaming",
    mode="parity",
    oracle=DECONTAM_ORACLE,  # the streamed result must match the batch operator verbatim
)
def ext_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time decontamination: the batch eval-split n-gram check
    (EXT-DECONTAM) applied to documents AS THEY ARRIVE. The eval gram
    set is computed once batch-side (static, benchmark-sized) and rides
    a stream-static broadcast hash join as ONE row holding the gram
    array; every incoming document shingle-izes row-locally and counts
    matches with a stateless array_intersect — no streaming state, no
    watermark, so the operator composes with any ingest topology.
    After an availableNow drain the result must equal the batch
    operator exactly (same oracle).

    Row-local intersect is the right shape HERE even though the batch
    path prefers the exploded hash probe: a stream map stage cannot
    re-aggregate per doc without state, and per-row set probes are the
    price of statelessness at ingest (bounded by eval-set size).
    """
    from nibbler_spark.queries.training_prep import (
        _NGRAM_N,
        _token_ngrams,
    )

    d_static = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    is_eval = F.col("doc_id") % 97 == 0
    eval_arr = (
        d_static.where(is_eval)
        .select(
            F.explode(
                F.array_distinct(_token_ngrams(toks, _NGRAM_N))
            ).alias("g")
        )
        .distinct()
        .agg(F.array_sort(F.collect_list("g")).alias("earr"))
        .withColumn("k", F.lit(1))
    )
    src = spark.readStream.schema(_DOC_SCHEMA).parquet(
        _documents_dir(spark, sf_dir)
    )
    stream = (
        src.where(~is_eval)
        .select(
            "doc_id",
            F.array_distinct(_token_ngrams(toks, _NGRAM_N)).alias("gs"),
        )
        .withColumn("k", F.lit(1))
        .join(F.broadcast(eval_arr), "k")
        .select(
            "doc_id",
            F.size(F.array_intersect("gs", "earr")).alias("n_matched"),
            F.size("gs").alias("n_grams"),
        )
        .where(F.col("n_matched") >= 1)
        .select(
            "doc_id",
            "n_matched",
            "n_grams",
            (F.col("n_matched").cast("double") / F.col("n_grams")).alias(
                "contamination"
            ),
        )
    )
    out = _drain_to_memory(stream, "append")
    return out.orderBy("doc_id")



@register(
    "ext_stream_progress_listener",
    survey_id="EXT-OBS-STREAM",
    category="streaming",
    mode="parity",
    oracle="""
SELECT CAST(COUNT(*) * 3 AS BIGINT) AS total_input_rows,
       TRUE AS epochs_ge_3, TRUE AS watermark_advanced,
       TRUE AS terminated_seen
FROM events
""",
)
def ext_stream_progress_listener(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming OBSERVABILITY: a StreamingQueryListener (the lifecycle
    hook a production pipeline feeds its metrics system from) attached
    for the duration of a watermarked windowed aggregation over a
    3-file drop directory paced to one file per micro-batch. The
    listener accumulates per-epoch progress — numInputRows and the
    event-time watermark — plus the termination event; the query
    returns (a) the SUM of numInputRows across epochs, hash-checked
    against 3x the events rowcount (every input row is accounted for
    exactly once by the telemetry), (b) that at least 3 epochs
    reported, (c) that the watermark ADVANCED past the 1970 epoch as
    batches flowed (watermark lag is the #1 streaming health metric),
    and (d) that the terminated event arrived. Listener delivery is
    async on the listener bus, so the drain waits for the termination
    event with a bounded poll, then detaches the listener."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    class _Collect(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[tuple[int, str | None]] = []
            self.terminated = False

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            wm = None
            try:
                wm = p.eventTime.get("watermark")
            except Exception:  # noqa: BLE001 - eventTime shape varies
                wm = None
            self.progress.append((p.numInputRows, wm))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated = True

    listener = _Collect()
    spark.streams.addListener(listener)
    try:
        d = _events_dir(spark, sf_dir, copies=3)
        src = (
            spark.readStream.schema(_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        agg = (
            src.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"))
        )
        _drain_to_memory(agg, "append")
        # listener bus is async: wait (bounded) for the terminate event
        deadline = time.monotonic() + 30
        while not listener.terminated and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)

    total = sum(n for n, _ in listener.progress)
    data_epochs = sum(1 for n, _ in listener.progress if n > 0)
    advanced = any(
        wm is not None and not wm.startswith("1970-")
        for _, wm in listener.progress
    )
    return spark.createDataFrame(
        [
            (
                total,
                bool(data_epochs >= 3),
                bool(advanced),
                bool(listener.terminated),
            )
        ],
        "total_input_rows bigint, epochs_ge_3 boolean, "
        "watermark_advanced boolean, terminated_seen boolean",
    )


@register(
    "ext_stream_snapshot_sink",
    survey_id="EXT-SNAP-SINK",
    category="streaming",
    mode="parity",
    oracle="""
SELECT CAST(COUNT(*) * 3 AS BIGINT) AS n_rows,
       CAST(SUM(event_id) * 3 AS BIGINT) AS sum_event_id,
       TRUE AS replay_was_noop
FROM events
""",
)
def ext_stream_snapshot_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming sink into the snapshot table format:
    foreachBatch appends each micro-batch via ``idempotent_append``
    keyed on the epoch id (the Delta ``txn appId/version`` pattern).
    The stream is paced to one file per trigger over a 3-copy drop
    dir, so three epochs commit three snapshots; afterwards the query
    REPLAYS the last epoch's append with the same txn id — the crash
    window every foreachBatch sink has is 'commit landed, checkpoint
    didn't' — and proves the replay was a no-op. The final table then
    hash-matches 3x the events rowcount and event_id sum: exactly
    once, not at-least-once. Scale: commits are O(files) manifest
    metadata; the txn scan is O(snapshots) driver-side."""
    from nibbler_spark.operators.snapshots import (
        idempotent_append,
        read_snapshot,
    )

    table = scratch_dir("snapsink")
    d = _events_dir(spark, sf_dir, copies=3)
    src = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .select("event_id", "user_id", "value")
    )
    seen_epochs: list[int] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        idempotent_append(
            batch_df.sparkSession, table, batch_df, f"evsink-{batch_id}"
        )
        seen_epochs.append(batch_id)

    _drain(src.writeStream.foreachBatch(sink))
    # simulate the epoch-replay crash window: re-append the final
    # epoch's data under its already-committed txn id
    last_epoch = max(seen_epochs)
    replay_df = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    _, committed = idempotent_append(
        spark, table, replay_df, f"evsink-{last_epoch}"
    )
    return read_snapshot(spark, table).agg(
        F.count("*").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("sum_event_id"),
    ).select(
        "n_rows",
        "sum_event_id",
        F.lit(bool(not committed)).alias("replay_was_noop"),
    )


@register(
    "a22_avro_stream_sink",
    survey_id="A22",
    category="streaming",
    mode="parity",
    oracle="""
SELECT event_id, user_id, value FROM (
  SELECT event_id, user_id, value FROM events
  UNION ALL SELECT event_id, user_id, value FROM events
  UNION ALL SELECT event_id, user_id, value FROM events
) ORDER BY event_id, user_id
""",
)
def a22_avro_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WRITE through the registered Avro DataSource — the
    last quadrant of the `nibbler_avro` surface (batch read/write and
    stream read shipped in r3/r4a): `writeStream.format("nibbler_avro")`
    drives the Python DataSourceStreamWriter, whose per-epoch commit
    renames task temp files under an `epoch-{batchId}-` prefix only if
    that epoch hasn't committed before — so an epoch replayed after a
    crash between sink commit and checkpoint advance drops its
    duplicate files instead of double-publishing (file-level
    idempotence; the snapshot-format sink EXT-SNAP-SINK carries the
    manifest-grade version of the same contract). Three paced epochs
    write a 3-copy corpus; reading the directory back through the
    batch reader must reproduce it exactly."""
    from nibbler_spark.sources.avro_datasource import register_avro_source

    register_avro_source(spark)
    out = scratch_dir("avrosink")
    d = _events_dir(spark, sf_dir, copies=3)
    src = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .select("event_id", "user_id", "value")
    )
    _drain(
        src.writeStream.format("nibbler_avro")
        .option("path", out),
    )
    return (
        spark.read.format("nibbler_avro")
        .option("path", out)
        .load()
        .orderBy("event_id", "user_id")
    )


@register(
    "ext_rocksdb_state_store",
    survey_id="EXT-ROCKSDB",
    category="streaming",
    mode="parity",
    oracle="""
SELECT TIME_BUCKET(INTERVAL '10 minutes', ts) AS bucket_start,
       COUNT(*) AS n_events
FROM events GROUP BY 1 ORDER BY 1
""",
)
def ext_rocksdb_state_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RocksDB state store provider — THE 100 TB streaming knob:
    the default HDFS-backed store keeps every key in executor heap, so
    state size is bounded by memory; RocksDB spills to local SSD and
    scales state to billions of keys with changelog checkpointing.
    Runs the I1 tumbling-window aggregation with the provider switched
    to RocksDBStateStoreProvider and requires the IDENTICAL result —
    the provider is a physical swap with zero semantic drift, which is
    exactly what makes it safe to flip in production. The conf is
    restored afterwards so sibling queries keep the default."""
    with scoped_conf(
        spark,
        {
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            )
        },
    ):
        src = _read_stream(spark, _events_dir(spark, sf_dir))
        agg = src.groupBy(F.window("ts", "10 minutes").alias("w")).agg(
            F.count("*").alias("n_events")
        )
        out = _drain_to_memory(agg, "complete")
    return out.select(
        F.col("w.start").alias("bucket_start"), "n_events"
    ).orderBy("bucket_start")


@register(
    "i19_chained_window_rollup",
    survey_id="EXT-CHAINED-WIN",
    category="streaming",
    mode="parity",
    oracle="""
WITH b AS (
  SELECT TIME_BUCKET(INTERVAL '15 minutes', ts) AS bucket_start,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
  FROM events GROUP BY 1
)
SELECT bucket_start, n_events, total_value
FROM b
WHERE bucket_start + INTERVAL '15 minutes' <= (SELECT MAX(ts) FROM events)
ORDER BY bucket_start
""",
)
def i19_chained_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED streaming window aggregations (Spark ≥3.4 multiple
    stateful operators): a 5-minute pre-aggregate feeds a second
    window aggregation over its own window column, rolling up into
    15-minute buckets — the streaming form of the classic two-tier
    rollup (fine-grain state small and early, coarse grain derived
    from it, shuffle volume divided by the pre-aggregation factor).
    Chained stateful ops require append mode + a watermark; the final
    flush batch closes every window whose end the terminal watermark
    passed, so windows ending ≤ max(ts) are complete and parity-
    comparable (the trailing partial window is excluded on BOTH
    sides). The inner sum stays DECIMAL between the two stages —
    casting to double early would make the outer re-sum order-
    dependent."""
    src = _read_stream(spark, _events_dir(spark, sf_dir))
    m1 = (
        src.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "5 minutes").alias("w1"))
        .agg(
            F.count("*").alias("n1"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("v1"),
        )
    )
    m2 = m1.groupBy(F.window("w1", "15 minutes").alias("w2")).agg(
        F.sum("n1").alias("n_events"),
        F.sum("v1").cast("double").alias("total_value"),
    )
    out = _drain_to_memory(m2, "append")
    max_ts = (
        spark.read.parquet(_events_dir(spark, sf_dir))
        .agg(F.max("ts"))
        .first()[0]
    )
    return (
        out.where(F.col("w2.end") <= F.lit(max_ts))
        .select(
            F.col("w2.start").alias("bucket_start"),
            "n_events",
            "total_value",
        )
        .orderBy("bucket_start")
    )


@register(
    "a24_snapshot_stream_source",
    survey_id="EXT-SNAP-STREAM-SRC",
    category="streaming",
    mode="parity",
    oracle="""
SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 IN (0, 1))
         AS n_run1,
       (SELECT COUNT(*) FROM orders) AS n_total,
       (SELECT CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) FROM orders) AS total_cents,
       TRUE AS incremental
""",
)
def a24_snapshot_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot table as a STREAMING SOURCE (the Delta streaming-
    source analogue): `format("nibbler_snapshot")` serves each
    commit's ADDED files exactly once, offset = last snapshot id —
    the immutable-manifest set difference, no listing heuristics.
    Proven incrementally: two append commits land, an availableNow
    drain into a parquet sink consumes them; a THIRD commit lands and
    a second drain FROM THE SAME CHECKPOINT consumes only it — the
    sink then holds every order exactly once (n_run1 < n_total pins
    that run 2 started from the checkpointed offset instead of
    replaying). This is the bridge that turns the lakehouse format
    into a live feed for downstream streaming pipelines."""
    from nibbler_spark.operators.snapshots import (
        snapshot_files,
        write_snapshot,
    )
    from nibbler_spark.sources.snapshot_stream import (
        register_snapshot_stream_source,
    )

    register_snapshot_stream_source(spark)
    table = scratch_dir("snapsrc")
    sink = scratch_dir("snapsink")
    ck = scratch_dir("snapck")

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )

    def drain() -> None:
        _drain(
            spark.readStream.format("nibbler_snapshot")
            .option("path", table)
            .load()
            .writeStream.format("parquet")
            .option("path", sink),
            checkpoint=ck,
        )

    s0 = write_snapshot(o.where(F.col("o_orderkey") % 3 == 0), table)
    write_snapshot(
        o.where(F.col("o_orderkey") % 3 == 1),
        table,
        carry_over=snapshot_files(table, s0),
    )
    drain()
    sink_schema = "o_orderkey BIGINT, o_totalprice DOUBLE"
    n_run1 = spark.read.schema(sink_schema).parquet(sink).count()

    write_snapshot(
        o.where(F.col("o_orderkey") % 3 == 2),
        table,
        carry_over=snapshot_files(table, 1),
    )
    drain()
    final = spark.read.schema(sink_schema).parquet(sink)
    agg = final.agg(
        F.count("*").alias("n_total"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    ).first()
    return spark.createDataFrame(
        [
            (
                n_run1,
                agg["n_total"],
                agg["total_cents"],
                bool(0 < n_run1 < agg["n_total"]),
            )
        ],
        "n_run1 BIGINT, n_total BIGINT, total_cents BIGINT, "
        "incremental BOOLEAN",
    )


@register(
    "i20_stream_ohlc_bars",
    survey_id="EXT-STREAM-OHLC",
    category="streaming",
    mode="parity",
    oracle="""
WITH t AS (
  SELECT event_type, date_trunc('hour', ts) AS bar_start, ts, event_id,
         CAST(FLOOR(value * 100) AS BIGINT) AS cents
  FROM events
),
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY event_type, bar_start
                       ORDER BY ts, event_id) AS rk_a,
    row_number() OVER (PARTITION BY event_type, bar_start
                       ORDER BY ts DESC, event_id DESC) AS rk_d
  FROM t
)
SELECT event_type, bar_start,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       CAST(MIN(CASE WHEN rk_a = 1 THEN cents END) AS BIGINT)
         AS open_cents,
       CAST(MAX(cents) AS BIGINT) AS high_cents,
       CAST(MIN(cents) AS BIGINT) AS low_cents,
       CAST(MIN(CASE WHEN rk_d = 1 THEN cents END) AS BIGINT)
         AS close_cents
FROM r GROUP BY event_type, bar_start
ORDER BY event_type, bar_start
""",
)
def i20_stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING OHLC candlesticks: the ext_ohlc_bars rollup run as a
    continuous query — min_by/max_by on the (ts, event_id) key are
    order-free aggregates, so they fold INCREMENTALLY in streaming
    state exactly as they partial-combine in batch (each epoch merges
    its candidates into the bar's running open/close picks; no
    sort-within-bar is ever needed, which is precisely why the min_by
    formulation and not a window rank is the streaming-safe spelling).
    AvailableNow drain in complete mode; the final bars equal the
    batch oracle tick-for-tick."""
    src = _read_stream(spark, _events_dir(spark, sf_dir))
    cents = F.floor(F.col("value") * 100).cast("bigint")
    tsk = F.struct("ts", "event_id")
    agg = src.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bar_start")
    ).agg(
        F.count("*").cast("bigint").alias("n_ticks"),
        F.min_by(cents, tsk).alias("open_cents"),
        F.max(cents).cast("bigint").alias("high_cents"),
        F.min(cents).cast("bigint").alias("low_cents"),
        F.max_by(cents, tsk).alias("close_cents"),
    )
    out = _drain_to_memory(agg, "complete")
    return out.orderBy("event_type", "bar_start")


@register(
    "i21_stream_topk_state",
    survey_id="EXT-STREAM-TOPK",
    category="streaming",
    mode="parity",
    oracle="""
SELECT event_type, rk AS rank, event_id, value_cents FROM (
  SELECT event_type,
         CAST(FLOOR(value * 100) AS BIGINT) AS value_cents, event_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY CAST(FLOOR(value * 100) AS BIGINT) DESC, event_id
         ) AS rk
  FROM events
) WHERE rk <= 5
ORDER BY event_type, rank
""",
)
def i21_stream_topk_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-key top-k (applyInPandasWithState): each
    event_type's state is its running top-5 (value_cents desc,
    event_id asc) — a bounded, mergeable summary, the streaming
    analogue of F4's batch top-k-per-group. Every micro-batch merges
    its rows into the 5-element state and re-emits the current top-5
    tagged with a monotone seen-count; the final emission per key (max
    seen-count) must equal the batch window top-5 — the parity check.
    Cents are integer so ordering is exact; (cents, event_id) is a
    total order. Scale: state is O(k) per key regardless of stream
    length (the property that makes streaming top-k viable at all);
    the batch-side recovery of the final emission partitions by
    event_type only."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _read_stream(spark, _events_dir(spark, sf_dir))

    def topk(key, pdfs, state: GroupState):
        (event_type,) = key
        if state.exists:
            vals, ids, n_seen = state.get
            pairs = list(zip(list(vals), list(ids)))
        else:
            pairs, n_seen = [], 0
        for pdf in pdfs:
            n_seen += len(pdf)
            for v, eid in zip(pdf["value"], pdf["event_id"]):
                pairs.append((int(v * 100 // 1), int(eid)))
        pairs.sort(key=lambda p: (-p[0], p[1]))
        pairs = pairs[:5]
        state.update(([p[0] for p in pairs], [p[1] for p in pairs], n_seen))
        yield pd.DataFrame(
            {
                "event_type": [event_type] * len(pairs),
                "rank": list(range(1, len(pairs) + 1)),
                "event_id": [p[1] for p in pairs],
                "value_cents": [p[0] for p in pairs],
                "n_seen": [n_seen] * len(pairs),
            }
        )

    result = src.groupBy("event_type").applyInPandasWithState(
        topk,
        "event_type string, rank long, event_id long, "
        "value_cents long, n_seen long",
        "vals array<long>, ids array<long>, n long",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    out = _drain_to_memory(result, "update")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    return (
        out.withColumn("max_seen", F.max("n_seen").over(w))
        .where(F.col("n_seen") == F.col("max_seen"))
        .select("event_type", "rank", "event_id", "value_cents")
        .orderBy("event_type", "rank")
    )


@register(
    "i22_stream_union_watermarks",
    survey_id="EXT-STREAM-UNION",
    category="streaming",
    mode="parity",
    oracle="""
SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS win_start,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM (SELECT ts FROM events UNION ALL SELECT ts FROM events)
GROUP BY 1
HAVING time_bucket(INTERVAL 5 MINUTE, MIN(ts)) + INTERVAL 5 MINUTE
         <= (SELECT MAX(ts) - INTERVAL 10 MINUTE FROM events)
ORDER BY 1
""",
)
def i22_stream_union_watermarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of two independently-watermarked streams: each input
    carries its own 10-minute watermark BEFORE the union, so the
    engine's global watermark is the MIN across inputs (the
    multi-input policy that governs when windows close once one source
    lags). The unioned stream feeds a 5-minute tumbling count in
    append mode; after the availableNow drain the emitted windows must
    equal the batch double-counted bucketing — the parity check that
    the min-watermark still released every window. Scale: per-window
    state only, bounded by the watermark horizon as usual; union adds
    no shuffle (it is a bag concat of sources)."""
    d = _events_dir(spark, sf_dir)
    a = _read_stream(spark, d).withWatermark("ts", "10 minutes")
    b = _read_stream(spark, d).withWatermark("ts", "10 minutes")
    u = a.unionByName(b)
    agg = (
        u.groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "n_events")
    )
    out = _drain_to_memory(agg, "append")
    # trailing windows past the final watermark (max ts - 10 min) never
    # close during the drain — exclude them on both sides (NOTES.md
    # round-4 rule); the bound comes from the batch table, broadcast.
    bound = load_table(spark, sf_dir, "events").agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("bound")
    )
    return (
        out.crossJoin(F.broadcast(bound))
        .where(
            F.col("win_start") + F.expr("INTERVAL 5 MINUTES")
            <= F.col("bound")
        )
        .select("win_start", "n_events")
        .orderBy("win_start")
    )


@register(
    "i23_stream_dynamic_gap_state",
    survey_id="EXT-STREAM-DYNGAP",
    category="streaming",
    mode="parity",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t,
         CASE WHEN event_type = 'purchase'
              THEN 1800000000 ELSE 600000000 END AS gap_us
  FROM events
),
m AS (
  SELECT *, MAX(t + gap_us) OVER (
    PARTITION BY user_id ORDER BY t
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  ) AS prev_end
  FROM e
),
flg AS (
  SELECT *, CASE WHEN prev_end IS NULL OR t >= prev_end
                 THEN 1 ELSE 0 END AS brk
  FROM m
),
sid AS (
  SELECT *, SUM(brk) OVER (
    PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING
  ) AS s
  FROM flg
),
sess AS (
  SELECT user_id, s, CAST(MIN(t) AS BIGINT) AS start_us,
         CAST(MAX(t + gap_us) AS BIGINT) AS end_us,
         COUNT(*) AS n_events,
         MAX(s) OVER (PARTITION BY user_id) AS last_s
  FROM sid GROUP BY user_id, s
)
SELECT user_id, start_us, end_us, n_events
FROM sess WHERE s < last_s
ORDER BY user_id, start_us
""",
)
def i23_stream_dynamic_gap_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dynamic-gap sessionization as a CUSTOM stateful
    operator (applyInPandasWithState) — the streaming dual of
    ext_session_dynamic_gap, with the same per-event gap rule
    (purchase holds 30 min, else 10) and the same integer-microsecond
    boundary semantics. Per user the state is the single OPEN session
    (start, end, count); each micro-batch sorts its rows by event
    time, merges them into the carried session, EMITS every session
    that closes (a later event starts at or after the open end), and
    carries the still-open tail forward. The session left open when
    the drain ends never closes — so the parity oracle excludes each
    user's final session, which is exactly the at-rest vs in-flight
    split a production pipeline reconciles. Scale: state is O(1) per
    user (one open session), emissions are append-only — unbounded
    streams never grow state."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _read_stream(spark, _events_dir(spark, sf_dir))

    def sessions(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            cur_start, cur_end, cur_n = state.get
        else:
            cur_start = None
        rows = []
        for pdf in pdfs:
            t_us = pdf["ts"].astype("int64") // 1000  # ns -> us
            gaps = pd.Series(
                [
                    1800000000 if et == "purchase" else 600000000
                    for et in pdf["event_type"]
                ],
                index=pdf.index,
            )
            rows.extend(zip(t_us, gaps))
        rows.sort(key=lambda r: r[0])
        closed = []
        for t, gap in rows:
            t = int(t)
            end = t + int(gap)
            if cur_start is None:
                cur_start, cur_end, cur_n = t, end, 1
            elif t >= cur_end:
                closed.append((cur_start, cur_end, cur_n))
                cur_start, cur_end, cur_n = t, end, 1
            else:
                cur_end = max(cur_end, end)
                cur_n += 1
        if cur_start is not None:
            state.update((cur_start, cur_end, cur_n))
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed),
                "start_us": [c[0] for c in closed],
                "end_us": [c[1] for c in closed],
                "n_events": [c[2] for c in closed],
            }
        )

    result = src.groupBy("user_id").applyInPandasWithState(
        sessions,
        "user_id long, start_us long, end_us long, n_events long",
        "s long, e long, n long",
        "append",
        GroupStateTimeout.NoTimeout,
    )
    out = _drain_to_memory(result, "append")
    return out.orderBy("user_id", "start_us")


@register(
    "ext_stream_dropped_rows_metric",
    survey_id="EXT-STREAM-DROPMETRIC",
    category="streaming",
    mode="golden",
    oracle="""
SELECT CAST(1 AS BIGINT) AS n_dropped_metric,
       TRUE AS metric_matches_golden
""",
)
def ext_stream_dropped_rows_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-drop OBSERVABILITY: the engine's own
    `stateOperators[].numRowsDroppedByWatermark` progress metric must
    account for exactly the rows the i04 scenario drops (one 10:03
    straggler arriving behind the checkpointed 10:42 watermark). The
    monitoring story for late data — a pipeline that silently discards
    stragglers is only operable if the drop count is observable — and
    a golden cross-check that the metric agrees with the scripted
    ground truth. Scale: progress metrics are O(1) driver-side
    bookkeeping per epoch."""
    d1, d2 = (
        sum(
            op["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
        for q in _drive_golden_windows(spark, scratch_dir("dropm"))[1]
    )
    total = d1 + d2
    return spark.createDataFrame(
        [(total, total == 1 and d1 == 0)],
        "n_dropped_metric bigint, metric_matches_golden boolean",
    )


@register(
    "i24_rate_micro_batch",
    survey_id="EXT-RATE-MB",
    category="streaming",
    mode="parity",
    oracle="""
SELECT CAST(150 AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS min_value,
       CAST(149 AS BIGINT) AS max_value,
       CAST(11175 AS BIGINT) AS value_sum
""",
)
def i24_rate_micro_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `rate-micro-batch` source — the DETERMINISTIC cousin of a06's
    rate source: every micro-batch carries exactly rowsPerBatch rows
    with consecutive values and fixed timestamps derived from
    startTimestamp (wall-clock independent), which makes it the
    reproducible load generator for streaming tests and benchmarks.
    The query runs under a continuous processingTime trigger and stops
    after at least three 50-row batches; the value < 150 bound makes
    the aggregate exactly values 0..149 regardless of how many extra
    batches fire before the stop — counts, extremes, and sum pinned. Scale: the
    source synthesizes rows executor-side with numPartitions
    parallelism; no external system, no driver bytes."""
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 50)
        .option("numPartitions", 2)
        .option("startTimestamp", 0)
        .load()
    )
    bounded = src.where(F.col("value") < 150)
    agg = bounded.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("value").cast("bigint").alias("min_value"),
        F.max("value").cast("bigint").alias("max_value"),
        F.sum("value").cast("bigint").alias("value_sum"),
    )
    name = "mem_" + uuid.uuid4().hex[:12]
    ckpt = scratch_dir("ck")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time as _time

    # drain exactly 3 micro-batches (150 rows), then stop
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if any(
            p["numInputRows"] and p["batchId"] >= 2
            for p in q.recentProgress
        ):
            break
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    rows = spark.table(name).where(F.col("n_rows") >= 150).collect()
    spark.catalog.dropTempView(name)
    # the last complete-mode emission with all 150 rows
    last = rows[-1] if rows else None
    return spark.createDataFrame(
        [tuple(last)] if last else [],
        "n_rows bigint, min_value bigint, max_value bigint, value_sum bigint",
    )


@register(
    "i25_stream_stream_left_outer",
    survey_id="EXT-STREAM-LOUTER",
    category="streaming",
    mode="parity",
    oracle="""
WITH p AS (
  SELECT event_id AS eid_b, user_id, ts AS ts_b FROM events
  WHERE event_type = 'purchase'
),
bound AS (SELECT MAX(ts) - INTERVAL 13 MINUTE AS b FROM events
           WHERE event_type = 'purchase')
SELECT a.event_id AS eid_a, p.eid_b, a.user_id
FROM events a
LEFT JOIN p ON a.user_id = p.user_id
           AND p.ts_b >= a.ts
           AND p.ts_b <= a.ts + INTERVAL 2 MINUTE
CROSS JOIN bound
WHERE a.ts <= bound.b
ORDER BY eid_a, eid_b
""",
)
def i25_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermarks on both sides —
    the subtle half of the c13 surface: matched pairs emit as they
    join, but a NULL-extended row may only emit once the watermark
    proves no match can still arrive (state eviction), which is what
    makes outer streaming joins correct rather than eventually-wrong.
    Every event left-joins the purchases of the same user in its
    2-minute forward window; the availableNow drain's final flush
    evicts and emits the unmatched rows. Rows within the trailing
    horizon of the GLOBAL watermark are excluded on BOTH sides — and
    because the global watermark is the min across inputs, the horizon
    anchors on the purchase side's last event (the lagging input), the
    exact multi-input semantics i22 pins for union. Their outer verdict
    is legitimately still pending at stream end. Scale: state is
    bounded by the watermark horizon on both inputs; the join shuffles
    on user_id."""
    d = _events_dir(spark, sf_dir)
    a = _read_stream(spark, d).withWatermark("ts", "10 minutes").alias("a")
    b = (
        _read_stream(spark, d)
        .where(F.col("event_type") == "purchase")
        .withColumnRenamed("ts", "ts_b")
        .withColumnRenamed("event_id", "event_id_b")
        .withColumnRenamed("user_id", "user_id_b")
        .withWatermark("ts_b", "10 minutes")
        .alias("b")
    )
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id_b"))
        & (F.col("b.ts_b") >= F.col("a.ts"))
        & (F.col("b.ts_b") <= F.col("a.ts") + F.expr("INTERVAL 2 MINUTES")),
        "left_outer",
    ).select(
        F.col("a.event_id").alias("eid_a"),
        F.col("b.event_id_b").alias("eid_b"),
        F.col("a.user_id").alias("user_id"),
        F.col("a.ts").alias("ts_a"),
    )
    out = _drain_to_memory(joined, "append")
    # The global watermark is the MIN across inputs, and the b side only
    # sees purchases — so the horizon anchors on the LAST PURCHASE, not
    # the last event: 13 min = delay (10) + join window (2) + 1 min
    # slack for the ms-truncated, strictly-compared state watermark.
    bound = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .agg((F.max("ts") - F.expr("INTERVAL 13 MINUTES")).alias("b"))
    )
    return (
        out.crossJoin(F.broadcast(bound))
        .where(F.col("ts_a") <= F.col("b"))
        .select("eid_a", "eid_b", "user_id")
        .orderBy("eid_a", "eid_b")
    )


@register(
    "a29_stream_partitioned_sink",
    survey_id="EXT-STREAM-PARTSINK",
    category="streaming",
    mode="parity",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def a29_stream_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming file sink with PARTITIONED layout
    (writeStream.partitionBy): each micro-batch lands its rows under
    hive-style event_type= directories, so downstream batch readers
    get partition pruning on day one — the standard streaming→lake
    handoff layout. The drain must produce (a) a real hive dir per
    event type (asserted) and (b) per-type aggregates identical to
    the batch table. Scale: partitionBy on a low-cardinality column
    only — a high-cardinality partition key fragments the sink into
    millions of tiny files (the a-family compaction row exists for
    exactly that accident)."""
    out_dir = scratch_dir("psink")
    src = _read_stream(spark, _events_dir(spark, sf_dir))
    _drain(
        src.writeStream.format("parquet")
        .partitionBy("event_type")
        .option("path", out_dir)
        .outputMode("append"),
    )
    dirs = sorted(
        d for d in os.listdir(out_dir) if d.startswith("event_type=")
    )
    assert len(dirs) == 5, dirs
    back = spark.read.parquet(out_dir)
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "ext_stream_cdc_apply",
    survey_id="EXT-CDC-APPLY",
    category="streaming",
    mode="parity",
    oracle="""
SELECT k AS c_custkey, cents, seg FROM (
  SELECT c_custkey AS k,
         CASE WHEN c_custkey % 3 = 0 THEN c_custkey * 150
              ELSE CAST(FLOOR(c_acctbal * 100) AS BIGINT) END AS cents,
         CASE WHEN c_custkey % 3 = 0 THEN 'UPD'
              ELSE c_mktsegment END AS seg
  FROM customer
  WHERE NOT (c_custkey % 7 = 0 AND c_custkey % 3 <> 0)
  UNION ALL
  SELECT c_custkey + 1000000, c_custkey * 25, 'NEW'
  FROM customer WHERE c_custkey % 11 = 0
)
ORDER BY c_custkey
""",
)
def ext_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: a change-data-capture log streams into a
    snapshot table through foreachBatch + MERGE — the composition that
    turns the lakehouse format into a continuously-upserted mirror of
    an upstream OLTP table (the Delta `MERGE in foreachBatch` CDC
    recipe). The base table is customer committed as four bucket
    files; the CDC drop dir carries three change files (updates for
    keys ≡0 mod 3 — shipped as TWO versions per key with a seq column,
    so the sink must dedupe latest-per-key inside the batch before
    merging; deletes for keys ≡0 mod 7 not already updated; inserts of
    fresh +1M keys), paced one file per micro-batch. Each epoch runs
    `merge_into_snapshot`: stats-prune by key envelope, rewrite only
    touched bucket files, carry the rest by reference. The change
    design is IDEMPOTENT (absolute-value updates, disjoint key sets
    across files) so a crash-replayed epoch re-merges to the same
    state — at-least-once merge delivery composes to exactly-once
    table state; within-batch ordering is still exercised by the seq
    dedup. Final table contents hash-match a DuckDB formulation of the
    applied log. Scale: merge cost is O(touched files + change set)
    per epoch, never O(table); the manifest answers file pruning
    driver-side."""
    import shutil

    from nibbler_spark.operators.snapshots import (
        merge_into_snapshot,
        read_snapshot,
        write_snapshot,
    )

    table = scratch_dir("cdcsnap")
    # r9 constant-factor pass (r8 verdict #5 — the decomposition showed
    # ~1.4 s of the sf0.1 wall was SETUP, not merging): the base is
    # localCheckpointed once (it feeds 4 derivations), the four bucket
    # files land in ONE range-partitioned commit (one job + one
    # manifest write instead of four sequential commit chains — same
    # four-file layout, same stats, same pruning behavior), and the
    # three log files are written concurrently.  The remaining wall is
    # the per-epoch merge floor, documented in BASELINE.md.
    base = pin(
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("k"),
            F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
            F.col("c_mktsegment").alias("seg"),
        )
    )
    write_snapshot(
        base.repartitionByRange(4, (F.col("k") % 4).asc()), table
    )

    # stage the CDC log: three change files in one drop dir
    drop = scratch_dir("cdclog")
    k = F.col("k")
    upd_v1 = base.where(k % 3 == 0).select(
        "k", F.lit("U").alias("op"), (k * 100).cast("bigint").alias("cents"),
        F.lit("STALE").alias("seg"), F.lit(1).cast("bigint").alias("seq"),
    )
    upd_v2 = base.where(k % 3 == 0).select(
        "k", F.lit("U").alias("op"), (k * 150).cast("bigint").alias("cents"),
        F.lit("UPD").alias("seg"), F.lit(2).cast("bigint").alias("seq"),
    )
    dels = base.where((k % 7 == 0) & (k % 3 != 0)).select(
        "k", F.lit("D").alias("op"),
        F.lit(None).cast("bigint").alias("cents"),
        F.lit(None).cast("string").alias("seg"),
        F.lit(1).cast("bigint").alias("seq"),
    )
    ins = base.where(k % 11 == 0).select(
        (k + 1_000_000).alias("k"), F.lit("I").alias("op"),
        (k * 25).cast("bigint").alias("cents"), F.lit("NEW").alias("seg"),
        F.lit(1).cast("bigint").alias("seq"),
    )
    from concurrent.futures import ThreadPoolExecutor

    # Concurrent writers cannot share one output dir (the Hadoop
    # committer's _temporary staging collides) — each file lands in its
    # own dir and the part file is moved into the drop dir driver-side.
    log_dfs = [upd_v1.unionByName(upd_v2), dels, ins]

    def write_one(i_df):
        i, df = i_df
        d = os.path.join(drop, f"_stage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(d)
        part = next(
            f for f in os.listdir(d) if f.endswith(".parquet")
        )
        os.rename(
            os.path.join(d, part),
            os.path.join(drop, f"log-{i}-{part}"),
        )
        shutil.rmtree(d)

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(write_one, enumerate(log_dfs)))

    src = (
        spark.readStream.schema(
            "k bigint, op string, cents bigint, seg string, seq bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        latest = (
            batch_df.groupBy("k")
            .agg(
                F.max_by(
                    F.struct("op", "cents", "seg"), F.col("seq")
                ).alias("s")
            )
            .select("k", "s.op", "s.cents", "s.seg")
        )
        merge_into_snapshot(
            batch_df.sparkSession,
            table,
            latest,
            key="k",
            value_cols=["cents", "seg"],
        )

    _drain(src.writeStream.foreachBatch(sink))
    return (
        read_snapshot(spark, table)
        .select(F.col("k").alias("c_custkey"), "cents", "seg")
        .orderBy("c_custkey")
    )


@register(
    "i26_stream_msgpack_decode",
    survey_id="I26",
    category="streaming",
    mode="parity",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) * 2 AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) * 2 AS BIGINT)
         AS total_cents
FROM events GROUP BY user_id ORDER BY user_id
""",
)
def i26_stream_msgpack_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deserialization of a MessagePack event bus — the shape
    a real `format("kafka")` consumer has (value bytes → decode →
    relational columns), with the wire format handled by the from-spec
    codec (`operators/msgpack_codec.py`). Events are packed into one
    msgpack map blob per record and staged as a 2-copy parquet drop
    dir; the stream paces one file per micro-batch, a partition-local
    mapInPandas stage unpacks every blob back into typed columns
    WHILE STREAMING (Arrow batches inside micro-batches — the decode
    is stateless, so it rides append mode), and a file sink persists
    the decoded stream. Reading the sink back must aggregate to
    exactly 2x the source events per user — serde through the
    streaming engine is lossless and exactly-once. Scale: decode
    parallelism = source partitions; no state, no shuffle before the
    final check aggregate."""
    import pandas as _pd

    from nibbler_spark.operators.msgpack_codec import pack, unpack

    def build(tmp: str) -> None:
        e = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        )

        def enc(batches):
            for pdf in batches:
                yield _pd.DataFrame(
                    {
                        "blob": [
                            pack(
                                {
                                    "e": int(e_),
                                    "u": int(u),
                                    "v": float(v),
                                }
                            )
                            for e_, u, v in zip(
                                pdf["event_id"], pdf["user_id"], pdf["value"]
                            )
                        ]
                    }
                )

        packed = e.mapInPandas(enc, "blob binary")
        for _ in range(2):
            packed.coalesce(1).write.mode("append").parquet(tmp)

    d = cached_dir(sf_dir, "events", "msgpack-x2", build)
    src = (
        spark.readStream.schema("blob binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )

    def dec(batches):
        for pdf in batches:
            rows = [unpack(bytes(b)) for b in pdf["blob"]]
            yield _pd.DataFrame(
                {
                    "event_id": [r["e"] for r in rows],
                    "user_id": [r["u"] for r in rows],
                    "value": [r["v"] for r in rows],
                }
            )

    decoded = src.mapInPandas(
        dec, "event_id long, user_id long, value double"
    )
    out = scratch_dir("msgpack-sink")
    _drain(
        decoded.writeStream.format("parquet")
        .option("path", out)
        .outputMode("append"),
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
        .orderBy("user_id")
    )


@register(
    "i27_stream_kmv_union",
    survey_id="I27",
    category="streaming",
    mode="parity",
    oracle="""
WITH h AS (
  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))
                       AS BIGINT) AS hv
  FROM events
),
sk AS (SELECT hv FROM h ORDER BY hv LIMIT 256),
s AS (SELECT COUNT(*) AS n, MAX(hv) AS kth,
             CAST(SUM(hv) AS BIGINT) AS chk FROM sk),
tru AS (SELECT COUNT(DISTINCT event_id) AS t FROM events)
SELECT CAST(256 AS BIGINT) AS k,
       s.kth AS kth_min, s.chk AS sketch_checksum,
       CAST(CASE WHEN s.n < 256 THEN s.n
                 ELSE (255 * 281474976710656) // s.kth END AS BIGINT) AS est,
       CAST(tru.t AS BIGINT) AS true_n,
       TRUE AS merged_equals_batch,
       ABS(CAST(CASE WHEN s.n < 256 THEN s.n
                     ELSE (255 * 281474976710656) // s.kth END AS DOUBLE)
           / CAST(tru.t AS DOUBLE) - 1e0) < 0.2e0 AS within_bound
FROM s, tru
""",
)
def i27_stream_kmv_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count via KMV sketch UNION — the mergeability
    that makes theta sketches the production answer to streaming
    COUNT(DISTINCT): each micro-batch (three disjoint event slices
    paced one file per trigger) computes its own k=256 KMV sketch
    DISTRIBUTED (distinct md5-48 hashes → TakeOrderedAndProject), and
    foreachBatch merges O(k) integers into the running union sketch —
    driver state is 256 bigints regardless of stream volume, the
    exact contract a production listener keeps in a state store. The
    final check is the strongest mergeability proof available: the
    union-of-epoch-sketches must equal the batch sketch of the whole
    table REGISTER FOR REGISTER (k-th min + checksum hash-matched via
    the oracle), not merely estimate-close; the distinct estimate
    additionally lands within the declared 20% of truth. Scale: per
    epoch one distinct + top-k; merge cost O(k log k)."""

    def build(tmp: str) -> None:
        e = load_table(spark, sf_dir, "events").select("event_id")
        for s in range(3):
            e.where(F.col("event_id") % 3 == s).coalesce(1).write.mode(
                "append"
            ).parquet(tmp)

    d = cached_dir(sf_dir, "events", "kmv-slices-x3", build)
    src = (
        spark.readStream.schema("event_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    merged: list[int] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        hv = F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 12),
            16,
            10,
        ).cast("bigint")
        sk = (
            batch_df.select(hv.alias("hv"))
            .distinct()
            .orderBy("hv")
            .limit(256)
            .collect()
        )
        nonlocal_merged = set(merged) | {r["hv"] for r in sk}
        merged[:] = sorted(nonlocal_merged)[:256]

    _drain(src.writeStream.foreachBatch(sink))

    # batch-global sketch over the full table — must equal the merge
    e = load_table(spark, sf_dir, "events").select("event_id")
    hv = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 12), 16, 10
    ).cast("bigint")
    batch_sk = sorted(
        r["hv"]
        for r in e.select(hv.alias("hv"))
        .distinct()
        .orderBy("hv")
        .limit(256)
        .collect()
    )
    true_n = e.distinct().count()
    n_reg = len(merged)
    kth = merged[-1]
    est = n_reg if n_reg < 256 else (255 * (1 << 48)) // kth
    return spark.createDataFrame(
        [
            (
                256,
                kth,
                sum(merged),
                est,
                true_n,
                bool(merged == batch_sk),
                bool(abs(est / true_n - 1.0) < 0.2),
            )
        ],
        "k bigint, kth_min bigint, sketch_checksum bigint, est bigint, "
        "true_n bigint, merged_equals_batch boolean, within_bound boolean",
    )


@register(
    "i28_stream_catalog_txn",
    survey_id="I28",
    category="streaming",
    mode="parity",
    oracle="""
WITH fin AS (
  SELECT CASE WHEN c_custkey % 3 = 0 THEN 'UPD' ELSE c_mktsegment END
           AS seg,
         CASE WHEN c_custkey % 3 = 0 THEN c_custkey * 150
              ELSE CAST(FLOOR(c_acctbal * 100) AS BIGINT) END AS cents
  FROM customer
  WHERE NOT (c_custkey % 7 = 0 AND c_custkey % 3 <> 0)
  UNION ALL
  SELECT 'NEW', c_custkey * 25 FROM customer WHERE c_custkey % 11 = 0
)
SELECT seg,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       TRUE AS all_versions_consistent
FROM fin GROUP BY seg ORDER BY seg
""",
)
def i28_stream_catalog_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MULTI-TABLE transactions — every micro-batch upserts
    the CDC log into the fact snapshot table AND refreshes its
    materialized rollup AND publishes both under one atomic catalog
    version (stage-then-publish, operators/snapshots.py:
    catalog_commit): the medallion pattern with cross-table
    consistency, where a dashboard reading (fact, mv) through the
    catalog can NEVER see a fact update whose rollup hasn't landed.
    Same idempotent CDC design as EXT-CDC-APPLY (disjoint key sets,
    absolute updates, within-batch seq dedup). After the drain the
    query REPLAYS EVERY catalog version and verifies the pinned MV
    equals the rollup recomputed from the pinned fact — consistency
    at every observable point in history, not just the end. Scale:
    per epoch one merge (O(touched files)), one rollup over the fact
    (swap in the incremental-MV maintenance of EXT-MV-INC to make it
    O(changed files)), one O(tables) catalog pointer."""
    from nibbler_spark.operators.snapshots import (
        catalog_commit,
        catalog_latest,
        catalog_read,
        merge_into_snapshot,
        read_snapshot,
        snapshot_files,
        write_snapshot,
    )

    root = scratch_dir("strcat")
    fact_dir = os.path.join(root, "fact")
    mv_dir = os.path.join(root, "mv")
    cat = os.path.join(root, "_catalog")
    os.makedirs(fact_dir)
    os.makedirs(mv_dir)

    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
        F.col("c_mktsegment").alias("seg"),
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("seg").agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )

    carry: list[str] = []
    for b in range(4):
        sid = write_snapshot(
            base.where(F.col("k") % 4 == b).coalesce(1),
            fact_dir,
            carry_over=carry,
        )
        carry = snapshot_files(fact_dir, sid)
    m0 = write_snapshot(rollup(base), mv_dir)
    catalog_commit(
        cat,
        {
            "fact": {"dir": fact_dir, "snapshot_id": sid},
            "mv": {"dir": mv_dir, "snapshot_id": m0},
        },
    )

    drop = scratch_dir("strcat-log")
    k = F.col("k")
    upd_v1 = base.where(k % 3 == 0).select(
        "k", F.lit("U").alias("op"), (k * 100).cast("bigint").alias("cents"),
        F.lit("STALE").alias("seg"), F.lit(1).cast("bigint").alias("seq"),
    )
    upd_v2 = base.where(k % 3 == 0).select(
        "k", F.lit("U").alias("op"), (k * 150).cast("bigint").alias("cents"),
        F.lit("UPD").alias("seg"), F.lit(2).cast("bigint").alias("seq"),
    )
    dels = base.where((k % 7 == 0) & (k % 3 != 0)).select(
        "k", F.lit("D").alias("op"),
        F.lit(None).cast("bigint").alias("cents"),
        F.lit(None).cast("string").alias("seg"),
        F.lit(1).cast("bigint").alias("seq"),
    )
    ins = base.where(k % 11 == 0).select(
        (k + 1_000_000).alias("k"), F.lit("I").alias("op"),
        (k * 25).cast("bigint").alias("cents"), F.lit("NEW").alias("seg"),
        F.lit(1).cast("bigint").alias("seq"),
    )
    upd_v1.unionByName(upd_v2).coalesce(1).write.mode("append").parquet(drop)
    dels.coalesce(1).write.mode("append").parquet(drop)
    ins.coalesce(1).write.mode("append").parquet(drop)

    src = (
        spark.readStream.schema(
            "k bigint, op string, cents bigint, seg string, seq bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ss = batch_df.sparkSession
        latest = (
            batch_df.groupBy("k")
            .agg(
                F.max_by(
                    F.struct("op", "cents", "seg"), F.col("seq")
                ).alias("s")
            )
            .select("k", "s.op", "s.cents", "s.seg")
        )
        fsid = merge_into_snapshot(
            ss, fact_dir, latest, key="k", value_cols=["cents", "seg"]
        )
        msid = write_snapshot(
            rollup(read_snapshot(ss, fact_dir, fsid)), mv_dir
        )
        catalog_commit(
            cat,
            {
                "fact": {"dir": fact_dir, "snapshot_id": fsid},
                "mv": {"dir": mv_dir, "snapshot_id": msid},
            },
        )

    _drain(src.writeStream.foreachBatch(sink))

    # history audit: every published catalog version must be internally
    # consistent — the MV it pins equals the rollup of the fact it pins
    consistent = True
    for ver in range(catalog_latest(cat) + 1):
        pins = catalog_read(cat, ver)
        f = read_snapshot(spark, fact_dir, pins["fact"]["snapshot_id"])
        m = read_snapshot(spark, mv_dir, pins["mv"]["snapshot_id"]).select(
            "seg", "n_rows", "total_cents"
        )
        r = rollup(f)
        if not (r.exceptAll(m).isEmpty() and m.exceptAll(r).isEmpty()):
            consistent = False
    pins = catalog_read(cat)
    return (
        read_snapshot(spark, mv_dir, pins["mv"]["snapshot_id"])
        .select(
            "seg",
            "n_rows",
            "total_cents",
            F.lit(bool(consistent)).alias("all_versions_consistent"),
        )
        .orderBy("seg")
    )


@register(
    "i29_stream_psi_drift",
    survey_id="I29",
    category="streaming",
    mode="parity",
    oracle="""
WITH t AS (
  SELECT LEAST(CAST(FLOOR(value / 50e0) AS BIGINT), 9) AS bucket,
         CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 1 ELSE 0 END AS in_a
  FROM events
),
n AS (SELECT CAST(SUM(in_a) AS BIGINT) AS n1,
             CAST(SUM(1 - in_a) AS BIGINT) AS n2 FROM t),
spine AS (SELECT UNNEST(range(10)) AS bucket),
b AS (
  SELECT s.bucket,
         COALESCE(CAST(SUM(t.in_a) AS BIGINT), 0) + 1 AS a1,
         COALESCE(CAST(SUM(1 - t.in_a) AS BIGINT), 0) + 1 AS a2
  FROM spine s LEFT JOIN t ON t.bucket = s.bucket
  GROUP BY s.bucket
),
terms AS (
  SELECT b.bucket, b.a2 - 1 AS n2_b,
         CAST(FLOOR(
           (CAST(b.a2 AS DOUBLE) / CAST(n.n2 + 10 AS DOUBLE)
            - CAST(b.a1 AS DOUBLE) / CAST(n.n1 + 10 AS DOUBLE))
           * ln((CAST(b.a2 AS DOUBLE) * CAST(n.n1 + 10 AS DOUBLE))
                / (CAST(b.a1 AS DOUBLE) * CAST(n.n2 + 10 AS DOUBLE)))
           * 1e9) AS BIGINT) AS term_q
  FROM b, n
)
SELECT CAST(SUM(term_q) AS BIGINT) AS psi_q,
       CAST(SUM(term_q) AS DOUBLE) / 1e9 AS psi_total,
       (SELECT n2 FROM n) AS n_stream,
       CAST(SUM(n2_b * (bucket + 1)) AS BIGINT) AS counts_checksum,
       TRUE AS matches_batch,
       CAST(SUM(term_q) AS BIGINT) > 100000000 AS drift_detected
FROM terms
""",
)
def i29_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift monitoring — PSI maintained while data arrives:
    the first half of the month is the batch-computed reference
    histogram; the second half streams in two paced micro-batches
    whose per-epoch bucket counts fold into O(buckets) driver state
    (10 integers — the same bounded-state discipline as the KMV
    union, and exactly what a production StreamingQueryListener would
    persist). After the drain, PSI computed from the ACCUMULATED
    stream histogram must equal the batch formulation bit-for-bit
    (same Laplace smoothing, same 1e-9 gridded-ln terms as EXT-PSI —
    asserted via matches_batch AND the hash oracle), proving the
    incremental fold loses nothing relative to recomputation. Scale:
    per epoch one 10-cell aggregate; the monitor's state never grows
    with stream volume."""
    import math

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value"
    )
    ref = {
        r["bucket"]: r["n"]
        for r in ev.where(F.dayofmonth("ts") <= 15)
        .select(
            F.least(
                F.floor(F.col("value") / F.lit(50.0)).cast("bigint"),
                F.lit(9),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
        .collect()
    }

    def build(tmp: str) -> None:
        half2 = ev.where(F.dayofmonth("ts") > 15)
        for s in range(2):
            half2.where(F.col("event_id") % 2 == s).coalesce(1).write.mode(
                "append"
            ).parquet(tmp)

    d = cached_dir(sf_dir, "events", "psi-half2-x2", build)
    src = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    stream_counts: dict[int, int] = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            batch_df.select(
                F.least(
                    F.floor(F.col("value") / F.lit(50.0)).cast("bigint"),
                    F.lit(9),
                ).alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count("*").cast("bigint").alias("n"))
            .collect()
        )
        for r in rows:
            stream_counts[r["bucket"]] = (
                stream_counts.get(r["bucket"], 0) + r["n"]
            )

    _drain(src.writeStream.foreachBatch(sink))

    # batch recomputation of the second-half histogram — the fold must
    # equal it exactly
    batch_counts = {
        r["bucket"]: r["n"]
        for r in ev.where(F.dayofmonth("ts") > 15)
        .select(
            F.least(
                F.floor(F.col("value") / F.lit(50.0)).cast("bigint"),
                F.lit(9),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
        .collect()
    }
    matches = stream_counts == batch_counts
    n1 = sum(ref.values())
    n2 = sum(stream_counts.values())
    psi_q = 0
    checksum = 0
    for bucket in range(10):
        a1 = ref.get(bucket, 0) + 1
        a2 = stream_counts.get(bucket, 0) + 1
        term = (
            a2 / (n2 + 10) - a1 / (n1 + 10)
        ) * math.log((a2 * (n1 + 10)) / (a1 * (n2 + 10)))
        psi_q += math.floor(term * 1e9)
        checksum += (a2 - 1) * (bucket + 1)
    return spark.createDataFrame(
        [
            (
                psi_q,
                psi_q / 1e9,
                n2,
                checksum,
                bool(matches),
                psi_q > 100_000_000,
            )
        ],
        "psi_q bigint, psi_total double, n_stream bigint, "
        "counts_checksum bigint, matches_batch boolean, "
        "drift_detected boolean",
    )


@register(
    "i30_stream_dead_letter",
    survey_id="EXT-STREAM-DLQ",
    category="streaming",
    mode="parity",
    oracle="""
WITH src AS (
  SELECT doc_id, doc_id % 13 AS r FROM documents
  WHERE doc_id % 13 IN (0, 1)
)
SELECT CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
       CAST(SUM(CASE WHEN r = 0 THEN doc_id % 97 ELSE 0 END) AS BIGINT)
         AS sum_v,
       CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dlq,
       CAST(SUM(CASE WHEN r = 1 THEN doc_id ELSE 0 END) AS BIGINT)
         AS dlq_id_sum
FROM src
""",
)
def i30_stream_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DEAD-LETTER QUEUE — the ingest-robustness pattern a23
    covers for batch, applied to a live stream: a text stream of JSON
    lines (one malformed line per 13-id stripe, truncated mid-object)
    is parsed with from_json (PERMISSIVE + columnNameOfCorruptRecord —
    Spark 4 never nulls the struct itself, so corruption is detected
    via the populated corrupt column); each micro-batch routes parsed
    rows to the main table and UNPARSEABLE RAW LINES — payload preserved
    byte-for-byte for replay — to a DLQ sink, from one persisted
    foreachBatch pass (two sinks, one evaluation; epoch-tagged paths
    keep retries idempotent). Nothing is dropped silently: good-count,
    value-sum, DLQ-count, and a DLQ payload checksum (ids re-extracted
    from the RAW quarantined lines) must all match the closed-form
    oracle. Two source files + maxFilesPerTrigger=1 force >= 2 epochs,
    so the sinks accumulate across micro-batches. At 100 TB: parse and
    route are stateless row-local ops; the DLQ write is append-only
    parquet."""
    d = load_table(spark, sf_dir, "documents").select("doc_id").where(
        (F.col("doc_id") % 13).isin(0, 1)
    )
    base = scratch_dir("i30")
    src = os.path.join(base, "src")
    main = os.path.join(base, "main")
    dlq = os.path.join(base, "dlq")
    os.makedirs(src, exist_ok=True)
    lines = d.select(
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit('{"id": '),
                F.col("doc_id"),
                F.lit(', "v": '),
                F.col("doc_id") % 97,
                F.lit("}"),
            ),
        )
        .otherwise(
            # truncated mid-object: unparseable, id still greppable
            F.concat(F.lit('{"id": '), F.col("doc_id"), F.lit(","))
        )
        .alias("value"),
        (F.col("doc_id") % 2).alias("half"),
    )
    for half in (0, 1):
        lines.where(F.col("half") == half).select("value").coalesce(
            1
        ).write.mode("overwrite").text(os.path.join(src, f"half={half}"))

    stream = spark.readStream.text(src + "/half=*/")
    parsed = stream.select(
        "value",
        F.from_json(
            "value",
            "id long, v long, _corrupt string",
            {"columnNameOfCorruptRecord": "_corrupt"},
        ).alias("j"),
    )

    def route(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        batch_df.where(F.col("j._corrupt").isNull()).select(
            F.col("j.id").alias("id"), F.col("j.v").alias("v")
        ).write.mode("append").parquet(os.path.join(main, f"epoch={epoch_id}"))
        batch_df.where(F.col("j._corrupt").isNotNull()).select("value").write.mode(
            "append"
        ).parquet(os.path.join(dlq, f"epoch={epoch_id}"))
        batch_df.unpersist()

    _drain(
        parsed.writeStream.foreachBatch(route)
        .option("maxFilesPerTrigger", 1),
    )
    good = spark.read.parquet(main + "/epoch=*").agg(
        F.count("*").cast("bigint").alias("n_good"),
        F.sum("v").cast("bigint").alias("sum_v"),
    )
    bad = spark.read.parquet(dlq + "/epoch=*").agg(
        F.count("*").cast("bigint").alias("n_dlq"),
        F.sum(
            F.regexp_extract("value", r'\{"id": (\d+),', 1).cast("bigint")
        )
        .cast("bigint")
        .alias("dlq_id_sum"),
    )
    return good.crossJoin(F.broadcast(bad))


@register(
    "i31_stream_backfill_seam",
    survey_id="EXT-STREAM-BACKFILL",
    category="streaming",
    mode="parity",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def i31_stream_backfill_seam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BACKFILL-THEN-GO-LIVE with an overlapping seam — the production
    cutover every streaming pipeline runs once: a batch backfill
    covers days 1–20, the live stream starts from day 15 (overlap
    15–20, because starting exactly at the backfill boundary risks
    losing in-flight data), and the seam must not double-count. Each
    live micro-batch anti-joins on event_id against the backfill's
    key range BEFORE appending — idempotent by construction, so the
    at-least-once overlap becomes exactly-once output. Parity: backfill
    ∪ deduped live must equal the one-shot batch aggregate over ALL
    events — the lambda-architecture consistency contract. At 100 TB
    the anti-join probes only the overlap window's keys (broadcast or
    bucketed store), not the full history."""
    base = scratch_dir("i31")
    hist_dir = os.path.join(base, "hist")
    live_src = os.path.join(base, "live_src")
    live_out = os.path.join(base, "live_out")
    os.makedirs(live_src, exist_ok=True)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    day = F.dayofmonth("ts")
    e.where(day <= 20).write.mode("overwrite").parquet(hist_dir)
    live = e.where(day >= 15)
    for half in (0, 1):
        live.where(F.col("event_id") % 2 == half).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(live_src, f"half={half}"))

    hist_keys = spark.read.parquet(hist_dir).select("event_id")

    def seam(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.join(hist_keys, "event_id", "left_anti").write.mode(
            "append"
        ).parquet(os.path.join(live_out, f"epoch={epoch_id}"))

    _drain(
        spark.readStream.schema(live.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(live_src + "/half=*/")
        .writeStream.foreachBatch(seam),
    )
    merged = spark.read.parquet(hist_dir).unionByName(
        spark.read.parquet(live_out + "/epoch=*")
    )
    return (
        merged.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "i32_kappa_reprocess",
    survey_id="EXT-KAPPA",
    category="streaming",
    mode="parity",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events
WHERE event_type IN ('purchase', 'click')
GROUP BY event_type ORDER BY event_type
""",
)
def i32_kappa_reprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPPA-architecture reprocessing — the logic-change drill every
    streaming platform must support: pipeline v1 streams the source
    into metrics table A (all event types — the 'bug'); the fix (v2:
    only purchase/click) REPLAYS the full retained source from offset
    zero into a SEPARATE table B with a fresh checkpoint, while A
    keeps serving; the cutover is one atomic catalog-pointer commit
    from A to B. Readers resolving through the catalog see v1 until
    the instant of the commit and v2 after — never a mix — and A
    remains intact for rollback (asserted). Parity: the post-cutover
    resolved table equals the v2 batch aggregate. At 100 TB this is
    why the source must be a replayable log and the metrics tables
    cheap to rebuild: reprocessing is a second streaming job plus one
    metadata commit, not an in-place migration."""
    from nibbler_spark.operators.snapshots import (
        catalog_commit,
        catalog_read,
        idempotent_append,
        latest_snapshot,
        read_snapshot,
    )

    base = scratch_dir("i32")
    src = os.path.join(base, "src")
    tbl_a = os.path.join(base, "metrics_a")
    tbl_b = os.path.join(base, "metrics_b")
    catalog = os.path.join(base, "catalog")
    os.makedirs(src, exist_ok=True)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    for half in (0, 1):
        e.where(F.col("event_id") % 2 == half).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"half={half}"))

    def run_pipeline(out_table: str, version: str, transform) -> None:
        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            rows = transform(batch_df)
            idempotent_append(
                batch_df.sparkSession,
                out_table,
                rows,
                txn_id=f"{version}-{epoch_id}",
            )

        _drain(
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/half=*/")
            .writeStream.foreachBatch(sink),
        )

    cents = F.floor(F.col("value") * 100).cast("bigint")
    # v1 (the bug): counts every event type
    run_pipeline(
        tbl_a, "v1", lambda df: df.select("event_type", cents.alias("c"))
    )
    catalog_commit(
        catalog,
        {"metrics": {"dir": tbl_a, "snapshot_id": latest_snapshot(tbl_a)}},
    )
    a_rows_before = read_snapshot(spark, tbl_a).count()
    # v2 (the fix): replay the FULL source with corrected logic into B
    run_pipeline(
        tbl_b,
        "v2",
        lambda df: df.where(
            F.col("event_type").isin("purchase", "click")
        ).select("event_type", cents.alias("c")),
    )
    # atomic cutover: one catalog commit flips every reader to v2
    catalog_commit(
        catalog,
        {"metrics": {"dir": tbl_b, "snapshot_id": latest_snapshot(tbl_b)}},
    )
    # v1 stays intact for rollback
    assert read_snapshot(spark, tbl_a).count() == a_rows_before
    current = catalog_read(catalog)["metrics"]
    resolved = read_snapshot(spark, current["dir"], current["snapshot_id"])
    return (
        resolved.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "ext_stream_ddsketch",
    survey_id="EXT-DDSKETCH-S",
    category="streaming",
    mode="parity",
    oracle="""
WITH c AS (
  SELECT CAST(FLOOR(value * 100) AS BIGINT) AS v FROM events
),
ix AS (
  SELECT CASE WHEN v < 32 THEN v
              ELSE 32 + (length(bin(v)) - 6) * 16
                   + v // CAST(pow(2e0, length(bin(v)) - 5) AS BIGINT) - 16
         END AS i
  FROM c
)
SELECT i, CAST(COUNT(*) * 2 AS BIGINT) AS n
FROM ix GROUP BY i ORDER BY i
""",
)
def ext_stream_ddsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch registers maintained ACROSS micro-batches — the
    streaming half of ext_ddsketch_quantile: each foreachBatch epoch
    reduces its slice to the tiny (bucket, count) register table via
    the same exact integer bit-length indexing, and merges it into a
    running store by plain addition (log-bucket sketches are mergeable
    by construction — the register map is a counter vector). The
    stream is the events table twice (maxFilesPerTrigger=1 forces two
    epochs); the merged store must equal the batch sketch over the
    doubled stream REGISTER-FOR-REGISTER, proving the per-epoch
    fold == the global fold with no error accumulation (the quantile
    walk of ext_ddsketch_quantile then applies unchanged to the merged
    registers, so a streaming pipeline gets the same 1/32
    relative-error quantiles as batch). Per epoch only the O(350)-cell
    register table crosses to the store — O(sketch), never O(stream)."""
    d = _events_dir(spark, sf_dir, copies=2)
    store: dict[int, int] = {}

    def merge_epoch(batch_df, epoch_id):
        regs = (
            batch_df.select(
                F.floor(F.col("value") * 100).cast("bigint").alias("v")
            )
            .select(
                F.when(F.col("v") < 32, F.col("v"))
                .otherwise(
                    F.lit(32)
                    + (F.length(F.bin(F.col("v"))) - 6) * 16
                    + F.expr(
                        "v div cast(pow(2.0, length(bin(v)) - 5) as bigint)"
                    )
                    - 16
                )
                .alias("i")
            )
            .groupBy("i")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        for r in regs:
            store[r["i"]] = store.get(r["i"], 0) + r["n"]

    _drain(
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .writeStream.foreachBatch(merge_epoch),
    )
    rows = [(i, int(n)) for i, n in sorted(store.items())]
    return spark.createDataFrame(rows, "i bigint, n bigint").orderBy("i")


@register(
    "i33_stream_replace_where",
    survey_id="I33",
    category="streaming",
    mode="parity",
    oracle="""
SELECT epoch_us(ts) // 86400000000 AS day,
       epoch_us(ts) // 86400000000 % 6 AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY 1, 2 ORDER BY day
""",
)
def i33_stream_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming BACKFILL via replaceWhere — the idempotent-recompute
    topology (Kappa-style partition refresh): a daily-rollup snapshot
    table is seeded with deliberately WRONG placeholder rows (zeros),
    then the event stream drains in micro-batches and each epoch
    RECOMPUTES the day-groups it carries and swaps them in with
    ``replace_where_snapshot`` — an atomic partial overwrite per
    group, so (a) re-delivering a group's data is harmless (the
    replace is idempotent for identical recomputes — re-proven by
    re-running one group's replace after the drain and hashing the
    same table) and (b) readers never see a half-replaced group. The
    final table must equal the batch rollup — which also proves every
    placeholder was actually replaced (seed != truth everywhere).
    foreachBatch + maxFilesPerTrigger paces 3 epochs of 2 file-groups
    each; per-epoch IO is O(changed groups), the carried files move
    by reference."""
    from nibbler_spark.operators.snapshots import (
        replace_where_snapshot,
        read_snapshot,
        write_snapshot,
    )
    from nibbler_spark.sources.tables import cached_dir

    day = F.expr("unix_micros(ts) div 86400000000")

    def build(tmp: str) -> None:
        e = load_table(spark, sf_dir, "events").withColumn("grp", day % 6)
        for g in range(6):
            e.where(F.col("grp") == g).drop("grp").coalesce(1).write.mode(
                "append"
            ).parquet(tmp)

    d = cached_dir(sf_dir, "events", "stream-bygrp6", build)
    table = os.path.join(scratch_dir("srw"), "table")
    # seed: one placeholder row per (day, grp) with zeroed measures —
    # wrong on purpose; the stream must replace every group
    seed = (
        load_table(spark, sf_dir, "events")
        .select(day.alias("day"))
        .distinct()
        .select(
            "day",
            (F.col("day") % 6).alias("grp"),
            F.lit(0).cast("bigint").alias("n_events"),
            F.lit(0).cast("bigint").alias("cents"),
        )
    )
    write_snapshot(seed.coalesce(1), table)

    def backfill(batch_df, epoch_id):
        rollup = (
            batch_df.select(
                F.expr("unix_micros(ts) div 86400000000").alias("day"),
                F.floor(F.col("value") * 100).cast("bigint").alias("c"),
            )
            .groupBy("day", (F.col("day") % 6).alias("grp"))
            .agg(
                F.count("*").cast("bigint").alias("n_events"),
                F.sum("c").cast("bigint").alias("cents"),
            )
            .persist()
        )
        # A foreachBatch body runs on a py4j callback thread, outside the
        # registry call's scope, so it releases what it persisted itself.
        try:
            for g in [
                r["grp"] for r in rollup.select("grp").distinct().collect()
            ]:
                replace_where_snapshot(
                    spark,
                    table,
                    "grp",
                    "=",
                    int(g),
                    rollup.where(F.col("grp") == g),
                )
        finally:
            rollup.unpersist()

    # Pin through termination: backfill's rollup aggregate runs as a
    # BATCH job per epoch inside foreachBatch (conf read at execution).
    _drain(
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(d)
        .writeStream.foreachBatch(backfill),
        shuffle_partitions=8,
    )
    # idempotence re-proof: replaying one group's recompute changes nothing
    e_all = load_table(spark, sf_dir, "events")
    g0 = (
        e_all.select(
            day.alias("day"),
            F.floor(F.col("value") * 100).cast("bigint").alias("c"),
        )
        .groupBy("day", (F.col("day") % 6).alias("grp"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("c").cast("bigint").alias("cents"),
        )
        .where(F.col("grp") == 0)
    )
    replace_where_snapshot(spark, table, "grp", "=", 0, g0)
    return (
        read_snapshot(spark, table)
        .select("day", "grp", "n_events", "cents")
        .orderBy("day")
    )


@register(
    "i34_stream_dynamic_gap_session",
    survey_id="I34",
    category="streaming",
    mode="parity",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t,
         CASE WHEN event_type = 'purchase'
              THEN 1800000000 ELSE 600000000 END AS gap_us
  FROM events
),
m AS (
  SELECT *, MAX(t + gap_us) OVER (
    PARTITION BY user_id ORDER BY t
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  ) AS prev_end
  FROM e
),
flg AS (
  SELECT *, CASE WHEN prev_end IS NULL OR t >= prev_end
                 THEN 1 ELSE 0 END AS brk
  FROM m
),
sid AS (
  SELECT *, SUM(brk) OVER (
    PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING
  ) AS s
  FROM flg
)
SELECT user_id, make_timestamp(MIN(t)) AS s_start,
       make_timestamp(MAX(t + gap_us)) AS s_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sid GROUP BY user_id, s
ORDER BY user_id, s_start
""",
)
def i34_stream_dynamic_gap_session(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING session windows with a per-event DYNAMIC gap —
    `session_window(ts, expr)` where purchases hold the session open
    30 minutes and everything else 10 (the batch semantics of
    EXT-SESS-DYNGAP, now maintained incrementally in streaming state):
    Spark merges each event's [ts, ts+gap) interval into the keyed
    session state as epochs arrive, append mode emits a session once
    the watermark passes its end, and the far-future sentinel trick
    (I3) flushes the tails. The drained result must equal the batch
    gaps-and-islands oracle over running interval-end maxima — the
    same integer-microsecond boundary logic, proving the incremental
    merge implements the declared dynamic-gap semantics exactly.
    Scale: session state is per-user and watermark-bounded; the gap
    expression evaluates row-locally at ingest."""
    d = _events_dir(spark, sf_dir)
    sentinel_dir = d + "-dynsessions"
    marker = os.path.join(sentinel_dir, "_READY")
    if not os.path.exists(marker):
        e = load_table(spark, sf_dir, "events")
        e.coalesce(1).write.mode("append").parquet(sentinel_dir)
        gmax = e.agg(F.max("ts")).head()[0]
        sentinels = e.select("user_id").distinct().select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.lit(gmax) + F.expr("INTERVAL 2 DAYS")).alias("ts"),
            "user_id",
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        sentinels.coalesce(1).write.mode("append").parquet(sentinel_dir)
        open(marker, "w").close()
    src = _read_stream(spark, sentinel_dir).withWatermark("ts", "0 seconds")
    gap = F.when(
        F.col("event_type") == "purchase", "30 minutes"
    ).otherwise("10 minutes")
    agg = src.groupBy(
        F.session_window("ts", gap).alias("w"), "user_id"
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    out = _drain_to_memory(agg, "append")
    cutoff = load_table(spark, sf_dir, "events").agg(F.max("ts")).head()[0]
    return (
        out.select(
            "user_id",
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "n_events",
        )
        .where(F.col("s_start") <= F.lit(cutoff))
        .orderBy("user_id", "s_start")
    )


@register(
    "i35_stream_incremental_profile",
    survey_id="I35",
    category="streaming",
    mode="parity",
    oracle="""
WITH h AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
              AS BIGINT) AS hv
  FROM events
),
hw AS (SELECT hv % 256 AS idx, hv // 256 AS w FROM h),
regs AS (
  SELECT idx,
         MAX(CASE WHEN w = 0 THEN 41 ELSE 41 - length(bin(w)) END) AS m
  FROM hw GROUP BY idx
),
base AS (
  SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_rows,
         CAST(2 * SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
           AS cents,
         CAST(MIN(user_id) AS BIGINT) AS min_user,
         CAST(MAX(user_id) AS BIGINT) AS max_user
  FROM events
),
rsum AS (
  SELECT CAST(SUM(m) AS BIGINT) AS reg_sum,
         CAST(SUM(m * (idx + 1)) AS BIGINT) AS reg_weighted
  FROM regs
)
SELECT * FROM (
  SELECT 'cents' AS metric, cents AS value FROM base
  UNION ALL SELECT 'max_user', max_user FROM base
  UNION ALL SELECT 'min_user', min_user FROM base
  UNION ALL SELECT 'n_rows', n_rows FROM base
  UNION ALL SELECT 'reg_sum', reg_sum FROM rsum
  UNION ALL SELECT 'reg_weighted', reg_weighted FROM rsum
) ORDER BY metric
""",
)
def i35_stream_incremental_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Table statistics maintained ACROSS micro-batches — the streaming
    dual of ext_table_profile_onepass: each epoch reduces its slice to
    a constant-size statistics bundle (row/cents totals, min/max, and
    256 portable-HLL registers for user NDV — every piece MERGEABLE:
    counts add, extrema take extrema, registers take elementwise max),
    and the driver store folds them. The stream is events twice
    (2 epochs); totals must be exactly 2x the batch table, extrema and
    the HLL REGISTERS must be bit-identical to the single-copy batch
    sketch (duplicated values cannot move a register — the
    idempotence that makes sketch-based NDV safe under at-least-once
    delivery). Per epoch only O(stats) crosses to the store; this is
    how a streaming catalog keeps ANALYZE-fresh statistics without
    rescans."""
    d = _events_dir(spark, sf_dir, copies=2)
    store = {
        "n_rows": 0,
        "cents": 0,
        "min_user": None,
        "max_user": None,
        "regs": [0] * 256,
    }

    def fold(batch_df, epoch_id):
        hv = F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 12),
            16,
            10,
        ).cast("bigint")
        rho = F.when(F.expr("hv div 256") == 0, F.lit(41)).otherwise(
            F.lit(41) - F.length(F.bin(F.expr("hv div 256")))
        )
        stats = batch_df.select(
            hv.alias("hv"),
            F.floor(F.col("value") * 100).cast("bigint").alias("c"),
            "user_id",
        )
        agg = stats.agg(
            F.count("*").alias("n"),
            F.sum("c").alias("cents"),
            F.min("user_id").alias("mn"),
            F.max("user_id").alias("mx"),
        ).collect()[0]
        regs = (
            stats.select((F.col("hv") % 256).alias("idx"), "hv")
            .select("idx", rho.alias("m"))
            .groupBy("idx")
            .agg(F.max("m").alias("m"))
            .collect()
        )
        store["n_rows"] += agg["n"]
        store["cents"] += agg["cents"]
        store["min_user"] = (
            agg["mn"]
            if store["min_user"] is None
            else min(store["min_user"], agg["mn"])
        )
        store["max_user"] = (
            agg["mx"]
            if store["max_user"] is None
            else max(store["max_user"], agg["mx"])
        )
        for r in regs:
            i = r["idx"]
            store["regs"][i] = max(store["regs"][i], r["m"])

    _drain(
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .writeStream.foreachBatch(fold),
    )
    rows = [
        ("cents", store["cents"]),
        ("max_user", store["max_user"]),
        ("min_user", store["min_user"]),
        ("n_rows", store["n_rows"]),
        ("reg_sum", sum(store["regs"])),
        (
            "reg_weighted",
            sum(m * (i + 1) for i, m in enumerate(store["regs"])),
        ),
    ]
    return spark.createDataFrame(
        rows, "metric string, value bigint"
    ).orderBy("metric")


@register(
    "i36_tumbling_append_watermark",
    survey_id="I1",
    category="streaming",
    mode="parity",
    oracle=f"""
SELECT TIME_BUCKET(INTERVAL '10 minutes', ts) AS bucket_start,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events
WHERE ts >= (SELECT MIN(ts) + INTERVAL '1 day' FROM events)
GROUP BY 1 ORDER BY 1
""",
)
def i36_tumbling_append_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """APPEND-mode + watermark complement of i01 (r4 verdict #5): the
    tumbling-window parity family previously drained in complete mode,
    whose state is unbounded at true stream scale.  This is the 100 TB
    formulation — watermarked append, every window's state EVICTED once
    the watermark passes it — proven equal to the batch aggregate minus
    the late rows, across a 3-pass checkpointed run:

    pass 1  all events of day 2+ (on-time set).  Checkpointed watermark
            ends at max(ts) − 10 min.
    pass 2  the day-1 rows arrive LATE — every one of their windows
            closed long before the checkpointed watermark, so append
            mode must drop them all (the 'minus late rows' half).
    pass 3  one far-future sentinel row advances the watermark past
            every real window, flushing the tail state (the i03
            sentinel trick); the sentinel's own window can never close
            and is filtered by the gmax guard.

    The epoch-union in the parquet sink then equals the batch tumbling
    aggregate over on-time events exactly (count + exact-decimal sum
    per window).  Scale: state is O(open windows) only — eviction is
    the point — and each pass's shuffle is the ordinary partial/final
    window agg.  The oracle derives the same on-time set relationally
    (ts >= min + 1 day), so parity is engine-checked end to end."""
    base = scratch_dir("i36")
    src_dir = os.path.join(base, "src")
    out_dir = os.path.join(base, "out")
    os.makedirs(src_dir)

    e = load_table(spark, sf_dir, "events")
    gmin, gmax = e.agg(
        F.min("ts").alias("a"), F.max("ts").alias("b")
    ).head()
    cut = gmin + datetime.timedelta(days=1)

    sentinel = _local_rows_df(
        spark,
        [(-1, gmax + datetime.timedelta(days=2), 0, "sentinel", 0.0, "{}")],
        _EVENT_SCHEMA,
    )
    _drive_epochs(
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/*/")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "n_events",
            "total_value",
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        [
            functools.partial(
                step.coalesce(1).write.parquet, os.path.join(src_dir, name)
            )
            for step, name in (
                (e.where(F.col("ts") >= F.lit(cut)), "step-a"),
                (e.where(F.col("ts") < F.lit(cut)), "step-b"),
                (sentinel, "step-c"),
            )
        ],
        shuffle_partitions=8,
    )
    return (
        spark.read.parquet(out_dir)
        .where(F.col("bucket_start") <= F.lit(gmax))
        .orderBy("bucket_start")
    )


def tws_available() -> bool:
    """True when the Spark 4 transformWithStateInPandas path can run:
    the Python API ships with pyspark, but its state serialization needs
    google.protobuf, which this environment lacks (ImportError verified
    r2–r5).  Mirrors the Kafka/Avro availability-check pattern."""
    try:
        import google.protobuf  # noqa: F401
        from pyspark.sql.streaming import StatefulProcessor  # noqa: F401

        return True
    except ImportError:
        return False


def select_stateful_api() -> str:
    """Which per-key arbitrary-state API i37 will use in this
    environment: 'tws' (transformWithStateInPandas, Spark 4) when its
    protobuf dependency resolves, else 'apply'
    (applyInPandasWithState)."""
    return "tws" if tws_available() else "apply"


def _i37_tws_result(src: DataFrame) -> DataFrame:
    """The transformWithStateInPandas formulation of the i08 running
    aggregate — StatefulProcessor with a (n, cents) ValueState per
    user.  Only constructed when tws_available(); parity with the
    applyInPandasWithState path is enforced by the shared oracle the
    moment an environment supplies protobuf."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    class RunningAgg(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState(
                "agg", "n long, cents long"
            )

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            n, cents = (
                self._state.get() if self._state.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    pdf["value"].map(lambda v: int(v * 100 // 1)).sum()
                )
            self._state.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "value_cents": [cents],
                }
            )

        def close(self) -> None:
            pass

    return src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningAgg(),
        outputStructType="user_id long, n_events long, value_cents long",
        outputMode="Update",
        timeMode="None",
    )


def _i37_apply_result(src: DataFrame) -> DataFrame:
    """applyInPandasWithState fallback — the same running aggregate
    through the Spark 3 arbitrary-state API (i08's machinery)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def running(key, pdfs, state: GroupState):
        (user_id,) = key
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["value"].map(lambda v: int(v * 100 // 1)).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "value_cents": [cents]}
        )

    return src.groupBy("user_id").applyInPandasWithState(
        running,
        "user_id long, n_events long, value_cents long",
        "n long, cents long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


@register(
    "i37_transform_with_state_auto",
    survey_id="I8",
    category="streaming",
    mode="parity",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY user_id ORDER BY user_id
""",
)
def i37_transform_with_state_auto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arbitrary per-key state via the BEST AVAILABLE API (r4 verdict
    #6): transformWithStateInPandas (Spark 4 StatefulProcessor +
    ValueState — the forward-looking surface, with timers/TTL/schema
    evolution) when its google.protobuf dependency resolves, else
    applyInPandasWithState.  Both formulations compute the identical
    running (count, integer-cents sum) per user and share i08's batch
    oracle, so whichever path the environment selects is
    oracle-checked — and an environment WITH protobuf automatically
    exercises the TWS path with zero code change (the Kafka-builder
    availability-check discipline).  This env: protobuf absent
    (ImportError, documented in COVERAGE.md gaps), so the sweep runs
    the fallback while tests pin the probe's decision."""
    src = _read_stream(spark, _events_dir(spark, sf_dir))
    result = (
        _i37_tws_result(src)
        if tws_available()
        else _i37_apply_result(src)
    )
    out = _drain_to_memory(result, "update")
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("value_cents").alias("value_cents"),
        )
        .orderBy("user_id")
    )


def _outer_join_sentinel_dir(
    spark: SparkSession, sf_dir: str, sentinel_type: str = "purchase"
) -> str:
    """events + one far-future sentinel row (user_id -1) — outer
    stream-stream joins only emit their unmatched rows once the
    watermark passes the join window's end, so the sentinel advances
    both sides' watermarks beyond every real event (the i03/i36
    sentinel trick; the sentinel never joins anything — no real row has
    user_id -1, and event_id inequality blocks sentinel-sentinel — and
    is filtered from the result).  The sentinel's event_type MUST
    equal the right side's filtered type: Catalyst pushes the right
    side's deterministic type filter BELOW the EventTimeWatermark node,
    so a sentinel that doesn't survive the filter never reaches the
    right watermark and the joint watermark stalls at
    last-right-event − delay (observed: a 43-minute unmatched-row hole
    at sf0.01 with a non-purchase sentinel; re-found by the r6 fuzzer's
    randomized right_type cases the first time they ran)."""

    def build(tmp: str) -> None:
        e = load_table(spark, sf_dir, "events")
        e.coalesce(1).write.mode("append").parquet(tmp)
        gmax = e.agg(F.max("ts")).head()[0]
        spark.createDataFrame(
            [
                (
                    -1,
                    gmax + datetime.timedelta(days=2),
                    -1,
                    sentinel_type,
                    0.0,
                    "{}",
                )
            ],
            _EVENT_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(tmp)

    return cached_dir(
        sf_dir, "events", f"stream-outer-sentinel3-{sentinel_type}", build
    )


def _stream_purchase_pairs(
    spark: SparkSession,
    sf_dir: str,
    how: str,
    interval_min: int = 2,
    right_type: str = "purchase",
) -> DataFrame:
    """Shared builder for the outer stream-stream joins (i38/i39) and
    the differential fuzzer's randomized stream-join cases
    (tools/fuzz_differential.py — join type × window length × right
    event type): every event (left) against same-user ``right_type``
    events within an ``interval_min``-minute forward window (right),
    both sides watermarked 10 minutes.  Outer
    emission semantics are the subtle part — an unmatched row may only
    emit after the watermark proves no partner can still arrive, which
    is why correctness needs the checkpointed-watermark machinery and
    not just the join condition.  State is bounded by the watermark +
    interval on BOTH sides (Spark evicts rows older than
    watermark − 2 min); at 100 TB the state store holds minutes of
    data, never history."""
    d = _outer_join_sentinel_dir(spark, sf_dir, sentinel_type=right_type)
    a = _read_stream(spark, d).withWatermark("ts", "10 minutes").alias("a")
    # watermark BEFORE the purchase filter: the sentinel is not a
    # purchase, so filtering first would strand the right-side
    # watermark at the last real purchase and the joint watermark
    # (min of both sides) could never finalize the tail's unmatched
    # verdicts.
    b = (
        _read_stream(spark, d)
        .withColumnRenamed("ts", "ts_b")
        .withColumnRenamed("event_id", "event_id_b")
        .withColumnRenamed("user_id", "user_id_b")
        .withWatermark("ts_b", "10 minutes")
        .where(F.col("event_type") == right_type)
        .alias("b")
    )
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id_b"))
        & (F.col("b.ts_b") >= F.col("a.ts"))
        & (
            F.col("b.ts_b")
            <= F.col("a.ts") + F.expr(f"INTERVAL {int(interval_min)} MINUTES")
        )
        & (F.col("a.event_id") != F.col("b.event_id_b")),
        how,
    ).select(
        F.col("a.event_id").alias("eid_a"),
        F.col("b.event_id_b").alias("eid_b"),
        F.coalesce(F.col("a.user_id"), F.col("b.user_id_b")).alias(
            "user_id"
        ),
    )
    out = _drain_to_memory(joined, "append")
    # the sentinel (user_id -1) never matches; drop its unmatched row
    return out.where(F.col("user_id") >= 0).orderBy(
        "eid_a", "eid_b", "user_id"
    )


@register(
    "i38_stream_stream_left_outer",
    survey_id="C13",
    category="streaming",
    mode="parity",
    oracle="""
SELECT a.event_id AS eid_a, b.event_id AS eid_b, a.user_id AS user_id
FROM events a LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '2 minutes'
 AND a.event_id <> b.event_id
ORDER BY eid_a, eid_b, user_id
""",
)
def i38_stream_stream_left_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT OUTER stream-stream join with event-time bounds (the outer
    sibling of c13's inner join): events with no same-user purchase in
    their 2-minute forward window must still emit — with null right
    columns — and may do so only after the watermark proves no partner
    can arrive.  Drained availableNow with a far-future sentinel so
    every real row's verdict is final; parity against the batch LEFT
    JOIN is exact."""
    return _stream_purchase_pairs(spark, sf_dir, "leftOuter")


@register(
    "i39_stream_stream_full_outer",
    survey_id="C13",
    category="streaming",
    mode="parity",
    oracle="""
SELECT a.event_id AS eid_a, b.event_id AS eid_b,
       COALESCE(a.user_id, b.user_id) AS user_id
FROM events a FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '2 minutes'
 AND a.event_id <> b.event_id
ORDER BY eid_a, eid_b, user_id
""",
)
def i39_stream_stream_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL OUTER stream-stream join: both unmatched sides emit after
    watermark eviction — left events with no purchase partner AND
    purchases no event preceded within 2 minutes (impossible for
    non-self rows here only when the purchase is the user's first
    event of a quiet window, so both null-directions genuinely occur).
    Parity against the batch FULL JOIN."""
    return _stream_purchase_pairs(spark, sf_dir, "fullOuter")


@register(
    "i40_stream_stream_left_semi",
    survey_id="C13",
    category="streaming",
    mode="parity",
    oracle="""
SELECT a.event_id AS eid_a, a.user_id AS user_id
FROM events a
WHERE EXISTS (
  SELECT 1 FROM events b
  WHERE b.event_type = 'purchase'
    AND a.user_id = b.user_id
    AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '2 minutes'
    AND a.event_id <> b.event_id
)
ORDER BY eid_a
""",
)
def i40_stream_stream_left_semi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT SEMI stream-stream join — completes the streaming join-type
    family (inner c13, left/full outer i38/i39): events that DO have a
    same-user purchase in their 2-minute forward window, emitted once
    (no right columns, no duplication however many purchases match —
    the EXISTS contract).  Semi joins emit as soon as a match arrives
    but each left row at most once, with state evicted by the same
    watermark bound as the outer variants; parity against the batch
    EXISTS rewrite."""
    d = _outer_join_sentinel_dir(spark, sf_dir)
    a = _read_stream(spark, d).withWatermark("ts", "10 minutes").alias("a")
    b = (
        _read_stream(spark, d)
        .withColumnRenamed("ts", "ts_b")
        .withColumnRenamed("event_id", "event_id_b")
        .withColumnRenamed("user_id", "user_id_b")
        .withWatermark("ts_b", "10 minutes")
        .where(F.col("event_type") == "purchase")
        .alias("b")
    )
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id_b"))
        & (F.col("b.ts_b") >= F.col("a.ts"))
        & (F.col("b.ts_b") <= F.col("a.ts") + F.expr("INTERVAL 2 MINUTES"))
        & (F.col("a.event_id") != F.col("b.event_id_b")),
        "leftSemi",
    ).select(
        F.col("event_id").alias("eid_a"),
        F.col("user_id").alias("user_id"),
    )
    out = _drain_to_memory(joined, "append")
    return out.where(F.col("user_id") >= 0).orderBy("eid_a")


@register(
    "i41_stream_stream_right_outer",
    survey_id="C13",
    category="streaming",
    mode="parity",
    oracle="""
SELECT a.event_id AS eid_a, b.event_id AS eid_b,
       COALESCE(a.user_id, b.user_id) AS user_id
FROM events a RIGHT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '2 minutes'
 AND a.event_id <> b.event_id
ORDER BY eid_a, eid_b, user_id
""",
)
def i41_stream_stream_right_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RIGHT OUTER stream-stream join — the last member of the
    streaming join-type family (inner c13, left i38, full i39, semi
    i40): every purchase emits, with null left columns when no
    same-user event preceded it within 2 minutes.  The unmatched-right
    verdicts finalize only once the LEFT side's watermark passes the
    purchase's backward window, exercising the opposite eviction
    direction from i38; state on both sides stays
    watermark-bounded.  Parity against the batch RIGHT JOIN."""
    return _stream_purchase_pairs(spark, sf_dir, "rightOuter")


def _stream_minhash_pair_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the documents stream through the banded-minhash stateful
    dedup index and return the raw emitted pair log (doc_a, doc_b,
    xbatch) — xbatch marks pairs whose two docs arrived in DIFFERENT
    micro-batches (the state-carry path; tests pin that it fires).

    Each arriving doc computes its 6 (band_id, v1, v2) keys row-locally
    (pmh_band_structs — no shuffle before the keyed state), then
    applyInPandasWithState keyed on the band value emits new-vs-seen
    pairs and appends the doc to the bucket's id list.  This is online
    dedup-index ingestion: state per bucket is exactly the LSH
    inverted list, so memory is the index size and every doc is probed
    against candidates only — never all-pairs."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from nibbler_spark.queries.llm_dedup import (
        pmh_band_structs,
        pmh_shingles,
    )

    # 16-file drop dir, 8 files per trigger: still a 2-epoch drain (the
    # state-carry / cross-batch pair path fires — tests pin it), but
    # each epoch's banding map stage now runs 8-wide instead of 2-wide.
    # r5 shipped 4 files / 2 per trigger, which serialized the shingle
    # computation for half the corpus onto 2 cores per epoch — the map
    # stage, not the state store, was the measured bottleneck.
    def build(tmp: str) -> None:
        load_table(spark, sf_dir, "documents").repartition(16).write.mode(
            "append"
        ).parquet(tmp)

    src = (
        spark.readStream.schema(_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(cached_dir(sf_dir, "documents", "docstream-x16", build))
    )
    ts = pmh_shingles(F.col("text"))
    banded = (
        src.select("doc_id", ts.alias("ts"))
        .where(F.size("ts") >= 1)
        .select("doc_id", F.explode(pmh_band_structs(F.col("ts"))).alias("b"))
        .select(
            "doc_id",
            F.col("b.band_id").alias("band_id"),
            F.col("b.v1").alias("v1"),
            F.col("b.v2").alias("v2"),
        )
    )

    def emit(key, pdfs, state: GroupState):
        seen = list(state.get[0]) if state.exists else []
        fresh = sorted(
            {int(x) for pdf in pdfs for x in pdf["doc_id"].tolist()}
        )
        a, b, xb = [], [], []
        for i, dn in enumerate(fresh):
            for do in seen:
                lo, hi = (do, dn) if do < dn else (dn, do)
                a.append(lo), b.append(hi), xb.append(True)
            for dm in fresh[:i]:
                a.append(dm), b.append(dn), xb.append(False)
        state.update((seen + fresh,))
        if a:
            yield pd.DataFrame({"doc_a": a, "doc_b": b, "xbatch": xb})

    pairs = banded.groupBy("band_id", "v1", "v2").applyInPandasWithState(
        emit,
        "doc_a long, doc_b long, xbatch boolean",
        "ids array<long>",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    # Drain-sized state store (16 partitions): a stateful query pays one
    # state-store task per partition per epoch regardless of volume, so
    # the store should be sized to the drain's real parallelism (16
    # source files here), not inherited from the cluster-scale session
    # default.  On a real cluster this knob is sized to executor count —
    # the band-bucket key space (6 bands × 2^20 buckets) hashes evenly
    # across any count.
    return _drain_to_memory(pairs, "update", shuffle_partitions=16)


@register(
    "i42_stream_minhash_neardup",
    survey_id="EXT-MINHASH-PORT",
    category="streaming",
    oracle=_PMH_ORACLE,
)
def i42_stream_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE near-duplicate detection: the portable MinHash-LSH
    pipeline (EXT-MINHASH-PORT) run as streaming ingest — documents
    arrive over multiple micro-batches (maxFilesPerTrigger=2), each doc
    banded row-locally and probed against a stateful per-bucket
    inverted list; candidate pairs stream out as they are discovered
    and are exact-Jaccard-verified afterwards.  The union of emitted
    pairs is independent of the epoch split, so the result HASH-MATCHES
    the identical batch SQL oracle — online dedup equals offline dedup,
    which is the property that lets an ingest pipeline dedup
    incrementally instead of re-running corpus-wide jobs.

    Scale: state is the LSH index itself (one id list per occupied
    band-bucket, watermark-free because dedup state is the product, not
    a window); per-doc work is candidate-bound exactly as in the batch
    formulation; the verify join touches only emitted pairs."""
    from nibbler_spark.queries.llm_dedup import pmh_shingles

    cand = (
        _stream_minhash_pair_log(spark, sf_dir)
        .select("doc_a", "doc_b")
        .distinct()
    )
    # repartition(16) before the checkpoint: documents ships as one
    # parquet file, and a 1-partition localCheckpoint serializes the
    # whole corpus's shingle computation onto one core (measured 3.5 s
    # of the r5 13.1 s row — the verify side, not the stream, was the
    # single-threaded stage).
    t = pin(
        load_table(spark, sf_dir, "documents")
        .repartition(16)
        .select("doc_id", pmh_shingles(F.col("text")).alias("ts"))
    )
    n_common = F.size(F.array_intersect(F.col("ta.ts"), F.col("tb.ts")))
    n_union = F.size(F.col("ta.ts")) + F.size(F.col("tb.ts")) - n_common
    return (
        cand.join(t.alias("ta"), F.col("doc_a") == F.col("ta.doc_id"))
        .join(t.alias("tb"), F.col("doc_b") == F.col("tb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (n_common.cast("double") / n_union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.6)
        .orderBy("doc_a", "doc_b")
    )


def _docs_packing_dir(spark: SparkSession, sf_dir: str) -> str:
    """Cache the documents table as four doc_id-range slices of
    (doc_id, lang, n_tokens) — the pre-tokenized ingest feed for the
    online packer.  Token counts are computed once at build time so the
    stream moves three narrow columns, not document text."""

    def build(tmp: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        hi = d.agg(F.max("doc_id")).first()[0]
        # slice q holds doc_id in [(hi+1)*q DIV 4, (hi+1)*(q+1) DIV 4)
        d = d.select(
            F.expr(f"CAST((doc_id * 4 + 3) DIV {hi + 1} AS INT)").alias("epoch"),
            "doc_id",
            "lang",
            F.size(F.split("text", " ")).cast("int").alias("n_tokens"),
        )
        _write_slices(d, tmp, 4)

    return cached_dir(sf_dir, "documents", "pack-slices-x4", build)


@register(
    "i43_stream_grouped_packing",
    survey_id="EXT-STREAM-PACK",
    category="streaming",
    mode="parity",
    oracle="""
WITH sized AS (
  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
cum AS (
  SELECT lang, doc_id, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id) AS cum_tokens
  FROM sized
)
SELECT lang, doc_id, n_tokens,
       CAST((cum_tokens - n_tokens) // 256 AS BIGINT) AS first_seq,
       CAST((cum_tokens - 1) // 256 AS BIGINT) AS last_seq
FROM cum
WHERE doc_id % 10 = 0
ORDER BY lang, doc_id
""",
)
def i43_stream_grouped_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE sequence packing at ingest — the streaming dual of
    ext_grouped_packing, and the shape a 100 TB training pipeline
    actually wants: documents assigned to fixed-width training
    sequences AS THEY ARRIVE, not by corpus-wide prefix sums after the
    fact.  State per language is a single token-count carry (O(1) —
    the entire packer state for a 1000-language corpus is a thousand
    longs), so unlike windowed aggregations it never grows with the
    stream.

    Arrival order is part of the operator's contract (packing is
    order-defined), so the harness drives it the way the rollup
    restart-catchup does: four doc_id-range slices land one at a time,
    each followed by an availableNow pass against the SAME checkpoint —
    the explicit restart/catch-up path, with epoch order guaranteed by
    construction rather than by file-listing accident.  Within a batch
    the pandas fn sorts its rows by doc_id; across batches the carry
    makes the concatenation order equal the batch window's global
    doc_id order per language, so the union of the four epochs'
    emissions must equal ext_grouped_packing's window query exactly —
    the parity check.  Emissions append to a parquet sink per epoch
    (foreachBatch) and are read back distributed; nothing corpus-sized
    touches the driver."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    cache = _docs_packing_dir(spark, sf_dir)

    def pack(key, pdfs, state: GroupState):
        (lang,) = key
        cum = state.get[0] if state.exists else 0
        rows = pd.concat(list(pdfs)).sort_values("doc_id")
        firsts, lasts = [], []
        for n in rows["n_tokens"]:
            firsts.append(cum // 256)
            cum += int(n)
            lasts.append((cum - 1) // 256)
        state.update((cum,))
        yield pd.DataFrame(
            {
                "lang": [lang] * len(rows),
                "doc_id": rows["doc_id"].to_numpy("int64"),
                "n_tokens": rows["n_tokens"].to_numpy("int64"),
                "first_seq": pd.array(firsts, dtype="int64"),
                "last_seq": pd.array(lasts, dtype="int64"),
            }
        )

    outdir = _fold_slices(
        spark,
        cache,
        "doc_id long, lang string, n_tokens int",
        "lang",
        pack,
        "lang string, doc_id long, n_tokens long, "
        "first_seq long, last_seq long",
        "cum long",
    )
    return (
        spark.read.schema(
            "lang string, doc_id long, n_tokens long, "
            "first_seq long, last_seq long"
        )
        .parquet(outdir)
        .where(F.col("doc_id") % 10 == 0)
        .orderBy("lang", "doc_id")
    )


from nibbler_spark.queries.training_prep import DSIR_ORACLE  # noqa: E402


@register(
    "i44_stream_dsir_filter",
    survey_id="EXT-DSIR-S",
    category="streaming",
    mode="parity",
    oracle=DSIR_ORACLE,  # streamed scores must match the batch operator verbatim
)
def i44_stream_dsir_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time DSIR scoring: the batch importance-weight model
    (EXT-DSIR) applied to documents AS THEY ARRIVE — the way a quality
    filter actually deploys: the model trains offline, ships to the
    ingest nodes, and scores statelessly.  Here the whole model IS one
    broadcast row — a 1024-entry bucket->gridded-ln-diff MAP plus the
    two grand totals — and scoring is a row-local F.aggregate fold
    over the document's tokens (hash -> map lookup -> integer sum).
    No streaming state, no watermark, no shuffle in the stream: the
    operator composes with any ingest topology and its cost per doc is
    O(tokens), independent of corpus size.  After an availableNow
    drain the emitted scores must equal the batch operator exactly
    (same oracle).
    """
    from nibbler_spark.queries.training_prep import (
        _dsir_stats,
        _dsir_token_bucket,
    )

    _, stats, nn = _dsir_stats(spark, sf_dir)

    model = (
        stats.agg(
            F.map_from_arrays(
                F.collect_list("b"),
                F.collect_list(F.col("g_t") - F.col("g_r")),
            ).alias("bmap")
        )
        .crossJoin(nn)
        .withColumn("k", F.lit(1))
    )
    src = spark.readStream.schema(_DOC_SCHEMA).parquet(
        _documents_dir(spark, sf_dir)
    )
    toks = F.split("text", " ")
    scored = (
        src.where(F.col("doc_id") % 7 == 0)
        .select("doc_id", "lang", toks.alias("tk"))
        .withColumn("k", F.lit(1))
        .join(F.broadcast(model), "k")
        .select(
            "doc_id",
            F.size("tk").cast("bigint").alias("n_tokens"),
            (
                F.aggregate(
                    F.col("tk"),
                    F.lit(0).cast("bigint"),
                    lambda acc, t: acc
                    + F.element_at(F.col("bmap"), _dsir_token_bucket(t)),
                )
                + F.size("tk") * (F.col("g_nr") - F.col("g_nt"))
            )
            .cast("bigint")
            .alias("logw_grid"),
            (F.col("lang") == "en").cast("bigint").alias("in_target"),
        )
    )
    out = _drain_to_memory(scored, "append")
    return out.orderBy("doc_id")


def _docs_token_slices_dir(spark: SparkSession, sf_dir: str) -> str:
    """Cache the documents table as four doc_id-quartile slices of
    exploded (epoch, token) rows — the ingest feed for the online
    vocabulary monitor.  Tokenization happens once at build time; the
    stream moves two narrow columns."""

    def build(tmp: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        hi = d.agg(F.max("doc_id")).first()[0]
        tok = d.select(
            F.least(
                F.lit(3), (F.col("doc_id") * 4 / (hi + 1)).cast("int")
            ).alias("epoch"),
            F.explode(F.split("text", " ")).alias("token"),
        )
        _write_slices(tok, tmp, 4)

    return cached_dir(sf_dir, "documents", "vocab-slices-x4", build)


@register(
    "i45_stream_vocab_growth",
    survey_id="EXT-STREAM-VOCAB",
    category="streaming",
    mode="parity",
    oracle="""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
tok AS (
  SELECT LEAST(3, CAST(doc_id * 4 // (mx.m + 1) AS INT)) AS epoch,
         UNNEST(string_split(text, ' ')) AS token
  FROM documents CROSS JOIN mx
),
per AS (
  SELECT epoch, CAST(COUNT(*) AS BIGINT) AS total_tokens,
         CAST(COUNT(DISTINCT token) AS BIGINT) AS distinct_types
  FROM tok GROUP BY epoch
),
firsts AS (SELECT token, MIN(epoch) AS epoch FROM tok GROUP BY token),
nov AS (
  SELECT epoch, CAST(COUNT(*) AS BIGINT) AS novel_types
  FROM firsts GROUP BY epoch
)
SELECT p.epoch, p.total_tokens, p.distinct_types,
       COALESCE(n.novel_types, 0) AS novel_types,
       CAST(COALESCE(n.novel_types, 0) * 1000000 // p.distinct_types
            AS BIGINT) AS novelty_micro
FROM per p LEFT JOIN nov n USING (epoch)
ORDER BY p.epoch
""",
)
def i45_stream_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE vocabulary-growth monitoring — the streaming dual of
    ext_ngram_novelty_decay and the ingest-side companion of
    ext_good_turing_smoothing: as each corpus slice lands, report how
    many token types the crawl has never seen before.  A collapsing
    novelty curve tells the data team mid-INGEST (not after a batch
    re-scan) that a source has saturated.

    State is the seen-vocabulary index itself, keyed PER TOKEN
    (applyInPandasWithState; value = one long), the i42 design rule:
    state size equals the product being maintained, never a window of
    the stream, and per-token keys let the state store partition
    horizontally at 100 TB.  Four doc_id-quartile slices land one at
    a time, each an availableNow catch-up pass against the same
    checkpoint (epoch order by construction); each batch emits one row
    per (token-in-batch) with its batch count and a novel flag, sunk
    per epoch via foreachBatch to parquet; the final read aggregates
    per epoch DISTRIBUTED — the per-token emission stream never
    touches the driver.

    Parity: the union of per-epoch emissions must reproduce the batch
    derivation exactly — novel_types(e) = #tokens whose FIRST epoch
    is e (min-epoch groupBy in the oracle), total/distinct per epoch
    straight counts — so the online index provably equals the offline
    scan at every epoch boundary."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    cache = _docs_token_slices_dir(spark, sf_dir)

    def probe(key, pdfs, state: GroupState):
        (token,) = key
        rows = pd.concat(list(pdfs))
        novel = not state.exists
        state.update((1,))
        yield pd.DataFrame(
            {
                "token": [token],
                "epoch": [int(rows["epoch"].max())],
                "cnt": [len(rows)],
                "novel": [novel],
            }
        )

    outdir = _fold_slices(
        spark,
        cache,
        "epoch int, token string",
        "token",
        probe,
        "token string, epoch long, cnt long, novel boolean",
        "seen long",
    )
    emitted = spark.read.schema(
        "token string, epoch long, cnt long, novel boolean"
    ).parquet(outdir)
    return (
        emitted.groupBy("epoch")
        .agg(
            F.sum("cnt").cast("bigint").alias("total_tokens"),
            F.count("*").cast("bigint").alias("distinct_types"),
            F.sum(F.col("novel").cast("bigint"))
            .cast("bigint")
            .alias("novel_types"),
        )
        .select(
            "epoch",
            "total_tokens",
            "distinct_types",
            "novel_types",
            F.expr("novel_types * 1000000 DIV distinct_types")
            .cast("bigint")
            .alias("novelty_micro"),
        )
        .orderBy("epoch")
    )


@register(
    "i46_stream_kl_drift",
    survey_id="EXT-STREAM-DRIFT",
    category="streaming",
    mode="parity",
    oracle="""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
tok AS (
  SELECT LEAST(3, CAST(doc_id * 4 // (mx.m + 1) AS INT)) AS epoch,
         CAST(CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 1024
              AS BIGINT) AS b
  FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) CROSS JOIN mx
),
present AS (
  SELECT epoch, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2
),
prior AS (
  SELECT p.epoch, p.b, p.cnt,
         CAST(COALESCE((
           SELECT SUM(q.cnt) FROM present q
           WHERE q.b = p.b AND q.epoch < p.epoch), 0) AS BIGINT) AS prior
  FROM present p
),
totals AS (
  SELECT epoch, CAST(SUM(cnt) AS BIGINT) AS batch_tokens,
         CAST(SUM(prior) AS BIGINT) AS prior_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_buckets
  FROM prior GROUP BY epoch
),
terms AS (
  SELECT pr.epoch,
         (pr.cnt + 1) * CAST(FLOOR(ln(
           (CAST(pr.cnt + 1 AS DOUBLE) * CAST(t.prior_tokens + 1024 AS DOUBLE))
           / (CAST(pr.prior + 1 AS DOUBLE)
              * CAST(t.batch_tokens + 1024 AS DOUBLE)))
           * 1000000e0) AS BIGINT) AS contrib
  FROM prior pr JOIN totals t USING (epoch)
)
SELECT t.epoch, t.n_buckets, t.batch_tokens, t.prior_tokens,
       CAST(SUM(x.contrib) AS BIGINT) AS kl_num_micro,
       CAST(CAST(SUM(x.contrib) AS DOUBLE)
            / CAST(t.batch_tokens + 1024 AS DOUBLE) / 1000000e0
            AS DOUBLE) AS kl_nats
FROM terms x JOIN totals t USING (epoch)
GROUP BY t.epoch, t.n_buckets, t.batch_tokens, t.prior_tokens
ORDER BY t.epoch
""",
)
def i46_stream_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE distribution-drift monitoring — per ingest epoch, the
    add-one-smoothed KL divergence of the arriving batch's token-
    bucket distribution from everything ingested BEFORE it, the
    PSI-style alarm a 100 TB pipeline runs at the front door (a crawl
    source that flips template or language spikes this long before
    quality classifiers notice).  Tokens hash into the DSIR-style 1024
    md5 buckets row-locally, so the keyed state is a FIXED 1024-key
    table of running counts regardless of corpus size; each
    availableNow epoch emits (bucket, batch count, prior count) and
    folds the batch into the state.

    The divergence itself is computed DISTRIBUTED from the emission
    log: per epoch, contribution (c_b+1) * lnGrid over present
    buckets with per-epoch totals joined back — exact BIGINT
    numerators, identical-double division only in the final nats.
    Parity: the batch oracle rebuilds prior counts as the sum of
    earlier epochs per bucket — the online state must equal the
    offline prefix sums at every epoch boundary, which the hash
    comparison enforces bucket-for-bucket through the per-epoch sums."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    cache = _docs_token_slices_dir(spark, sf_dir)

    def fold(key, pdfs, state: GroupState):
        (b,) = key
        rows = pd.concat(list(pdfs))
        prior = state.get[0] if state.exists else 0
        cnt = len(rows)
        state.update((prior + cnt,))
        yield pd.DataFrame(
            {
                "b": [b],
                "epoch": [int(rows["epoch"].max())],
                "cnt": [cnt],
                "prior": [prior],
            }
        )

    outdir = _fold_slices(
        spark,
        cache,
        "epoch int, token string",
        "b",
        fold,
        "b long, epoch long, cnt long, prior long",
        "run long",
        prep=lambda src: (
            src.select(
                "epoch",
                (
                    F.conv(
                        F.substring(F.md5("token"), 1, 12), 16, 10
                    ).cast("bigint")
                    % 1024
                ).alias("b"),
            )
        ),
    )
    em = spark.read.schema(
        "b long, epoch long, cnt long, prior long"
    ).parquet(outdir)
    totals = em.groupBy("epoch").agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum("cnt").cast("bigint").alias("batch_tokens"),
        F.sum("prior").cast("bigint").alias("prior_tokens"),
    )
    terms = em.join(F.broadcast(totals), "epoch").select(
        "epoch",
        (
            (F.col("cnt") + 1)
            * F.floor(
                F.log(
                    (
                        (F.col("cnt") + 1).cast("double")
                        * (F.col("prior_tokens") + 1024).cast("double")
                    )
                    / (
                        (F.col("prior") + 1).cast("double")
                        * (F.col("batch_tokens") + 1024).cast("double")
                    )
                )
                * 1e6
            ).cast("bigint")
        ).alias("contrib"),
    )
    return (
        terms.groupBy("epoch")
        .agg(F.sum("contrib").cast("bigint").alias("kl_num_micro"))
        .join(F.broadcast(totals), "epoch")
        .select(
            "epoch",
            "n_buckets",
            "batch_tokens",
            "prior_tokens",
            "kl_num_micro",
            (
                F.col("kl_num_micro").cast("double")
                / (F.col("batch_tokens") + 1024).cast("double")
                / F.lit(1e6)
            ).alias("kl_nats"),
        )
        .orderBy("epoch")
    )


def _cms_sql_nib(expr: str, mod: int) -> str:
    """DuckDB md5-nibble hash (sketches._sql_nib_hash inlined to keep
    the streaming module import-light)."""
    hexd = "0123456789abcdef"
    return (
        f"CAST(((strpos('{hexd}', substr(md5({expr}), 1, 1)) - 1) * 4096"
        f" + (strpos('{hexd}', substr(md5({expr}), 2, 1)) - 1) * 256"
        f" + (strpos('{hexd}', substr(md5({expr}), 3, 1)) - 1) * 16"
        f" + (strpos('{hexd}', substr(md5({expr}), 4, 1)) - 1)) % {mod}"
        f" AS INT)"
    )


@register(
    "i47_stream_countmin",
    survey_id="EXT-STREAM-CMS",
    category="streaming",
    mode="parity",
    oracle=f"""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
tok AS (
  SELECT LEAST(3, CAST(doc_id * 4 // (mx.m + 1) AS INT)) AS epoch,
         t AS token
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
        FROM documents) CROSS JOIN mx
),
top10 AS (
  SELECT token FROM (
    SELECT token, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rk
    FROM tok GROUP BY token
  ) WHERE rk <= 10
),
seeds AS (SELECT UNNEST(generate_series(0, 3)) AS seed),
epochs AS (SELECT UNNEST(generate_series(0, 3)) AS e),
cells AS (
  SELECT s.seed,
         {_cms_sql_nib("CONCAT(CAST(s.seed AS VARCHAR), ':', tok.token)", 64)}
           AS bucket,
         tok.epoch, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM tok CROSS JOIN seeds s GROUP BY 1, 2, 3
),
probe AS (
  SELECT t.token, s.seed, e.e AS epoch,
         {_cms_sql_nib("CONCAT(CAST(s.seed AS VARCHAR), ':', t.token)", 64)}
           AS bucket
  FROM top10 t CROSS JOIN seeds s CROSS JOIN epochs e
),
runs AS (
  SELECT p.token, p.epoch, p.seed,
         CAST(COALESCE((SELECT SUM(c.cnt) FROM cells c
            WHERE c.seed = p.seed AND c.bucket = p.bucket
              AND c.epoch <= p.epoch), 0) AS BIGINT) AS running
  FROM probe p
),
est AS (
  SELECT token, epoch, CAST(MIN(running) AS BIGINT) AS est_cum
  FROM runs GROUP BY token, epoch
),
truec AS (
  SELECT t.token, e.e AS epoch,
         CAST(COALESCE((SELECT COUNT(*) FROM tok
            WHERE tok.token = t.token AND tok.epoch <= e.e), 0)
              AS BIGINT) AS true_cum
  FROM top10 t CROSS JOIN epochs e
)
SELECT CAST(t.epoch AS BIGINT) AS epoch, t.token, t.true_cum, e.est_cum,
       CAST(e.est_cum - t.true_cum AS BIGINT) AS overcount,
       e.est_cum >= t.true_cum AS never_undercounts
FROM truec t JOIN est e USING (token, epoch)
ORDER BY epoch, token
""",
)
def i47_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE count-min sketch maintenance — the streaming counterpart
    of ext_countmin_heavy_hitters: the d=4 x w=64 counter grid lives
    as KEYED STREAM STATE (one running count per (seed, bucket) cell —
    at most 256 state keys regardless of corpus size, the whole point
    of sketching at 100 TB ingest), folded per availableNow epoch over
    four doc_id-quartile token slices. Every epoch the touched cells
    emit (cell, batch count, running) — so the emission log IS the
    state trajectory.

    Parity: for the corpus's top-10 tokens the per-epoch online
    estimate (min over the 4 seed rows of the cell's running count at
    that epoch boundary, reconstructed from the emissions with a
    max_by over epochs <= e) must equal the offline sketch the batch
    oracle rebuilds from scratch per epoch prefix — and the one-sided
    CMS guarantee (never undercounts) rides along as an output column
    at every boundary. md5-nibble hashing keeps the sketch
    bit-identical across engines; every value is an exact BIGINT."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    from nibbler_spark.queries.sketches import _nib_hash

    cache = _docs_token_slices_dir(spark, sf_dir)

    def fold(key, pdfs, state: GroupState):
        (k,) = key
        rows = pd.concat(list(pdfs))
        prior = state.get[0] if state.exists else 0
        cnt = len(rows)
        state.update((prior + cnt,))
        yield pd.DataFrame(
            {
                "k": [k],
                "epoch": [int(rows["epoch"].max())],
                "cnt": [cnt],
                "running": [prior + cnt],
            }
        )

    outdir = _fold_slices(
        spark,
        cache,
        "epoch int, token string",
        "k",
        fold,
        "k long, epoch long, cnt long, running long",
        "run long",
        prep=lambda src: (
            src.select(
                "epoch",
                F.explode(
                    F.array(*[F.lit(i) for i in range(4)])
                ).alias("seed"),
                "token",
            )
            .select(
                "epoch",
                (
                    F.col("seed").cast("bigint") * 64
                    + _nib_hash(
                        F.concat_ws(":", F.col("seed"), F.col("token")),
                        64,
                    ).cast("bigint")
                ).alias("k"),
            )
        ),
    )

    em = spark.read.schema(
        "k long, epoch long, cnt long, running long"
    ).parquet(outdir)
    d = load_table(spark, sf_dir, "documents")
    hi = d.agg(F.max("doc_id")).first()[0]
    tok = d.select(
        F.least(
            F.lit(3), (F.col("doc_id") * 4 / (hi + 1)).cast("int")
        )
        .cast("bigint")
        .alias("tep"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    top10 = (
        tok.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(10)
        .select("token")
    )
    seeds = spark.range(4).select(F.col("id").cast("int").alias("seed"))
    epochs = spark.range(4).select(F.col("id").cast("bigint").alias("epoch"))
    probe = (
        top10.crossJoin(F.broadcast(seeds))
        .crossJoin(F.broadcast(epochs))
        .select(
            "token",
            "epoch",
            (
                F.col("seed").cast("bigint") * 64
                + _nib_hash(
                    F.concat_ws(":", F.col("seed"), F.col("token")), 64
                ).cast("bigint")
            ).alias("k"),
        )
    )
    runs = (
        probe.join(
            em.select(
                F.col("k").alias("ek"),
                F.col("epoch").alias("eep"),
                "running",
            ),
            (F.col("k") == F.col("ek")) & (F.col("eep") <= F.col("epoch")),
            "left",
        )
        .groupBy("token", "epoch", "k")
        .agg(
            F.coalesce(
                F.max_by("running", F.col("eep")), F.lit(0).cast("bigint")
            ).alias("running")
        )
    )
    est = runs.groupBy("token", "epoch").agg(
        F.min("running").cast("bigint").alias("est_cum")
    )
    grid = top10.crossJoin(F.broadcast(epochs))
    percnt = tok.join(F.broadcast(top10), "token").groupBy(
        "token", "tep"
    ).agg(F.count("*").cast("bigint").alias("c"))
    truec = (
        grid.join(
            percnt,
            (grid["token"] == percnt["token"])
            & (F.col("tep") <= F.col("epoch")),
            "left",
        )
        .groupBy(grid["token"].alias("token"), "epoch")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("true_cum"))
    )
    return (
        truec.join(est, ["token", "epoch"])
        .select(
            "epoch",
            "token",
            "true_cum",
            "est_cum",
            (F.col("est_cum") - F.col("true_cum"))
            .cast("bigint")
            .alias("overcount"),
            (F.col("est_cum") >= F.col("true_cum")).alias(
                "never_undercounts"
            ),
        )
        .orderBy("epoch", "token")
    )


@register(
    "i48_stream_bottomk_kmv",
    survey_id="EXT-STREAM-KMV",
    category="streaming",
    mode="parity",
    oracle="""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
tok AS (
  SELECT LEAST(3, CAST(doc_id * 4 // (mx.m + 1) AS INT)) AS epoch,
         t AS token,
         CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT) AS h
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
        FROM documents) CROSS JOIN mx
),
epochs AS (SELECT UNNEST(generate_series(0, 3)) AS e),
dist AS (
  SELECT e.e AS epoch, tok.h % 8 AS band, tok.token, tok.h
  FROM tok CROSS JOIN epochs e
  WHERE tok.epoch <= e.e
  GROUP BY 1, 2, 3, 4
),
ranked AS (
  SELECT epoch, band, token, h,
         ROW_NUMBER() OVER (PARTITION BY epoch, band
                            ORDER BY h, token) AS rk
  FROM dist
)
SELECT CAST(epoch AS BIGINT) AS epoch, CAST(band AS BIGINT) AS band,
       CAST(rk AS BIGINT) AS rank, h, token
FROM ranked WHERE rk <= 4
ORDER BY epoch, band, rank
""",
)
def i48_stream_bottomk_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE bottom-k (KMV) distinct sketch — k minimum md5 values
    per hash band, maintained as keyed stream state (8 bands x 4
    values = at most 32 state entries at ANY corpus size; the k-th
    minimum per band is the classic KMV distinct-count estimator,
    Bar-Yossef et al. 2002, and the bottom-k set doubles as a uniform
    sample of the distinct tokens). Bottom-k MERGES (bottom-k of a
    union = bottom-k of per-part bottom-k), which is exactly why the
    per-band fold commutes with any batch slicing — the property the
    parity oracle pins: after every availableNow epoch, the online
    per-band bottom-4 must equal the offline bottom-4 over the epoch
    PREFIX, value-for-value with (h, token) tie-breaks.

    Emissions carry the full current bottom-4 per touched band per
    epoch; untouched bands carry forward via a max_by over emitted
    epochs at read-out. Every value is an exact BIGINT (48-bit md5
    prefix) or a token string."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    cache = _docs_token_slices_dir(spark, sf_dir)

    def fold(key, pdfs, state: GroupState):
        (band,) = key
        rows = pd.concat(list(pdfs))
        cur = (
            list(zip(state.get[0], state.get[1]))
            if state.exists
            else []
        )
        batch = set(zip(rows["h"].tolist(), rows["token"].tolist()))
        merged = sorted(set(cur) | batch)[:4]
        state.update((
            [h for h, _ in merged],
            [t for _, t in merged],
        ))
        yield pd.DataFrame(
            {
                "band": [band] * len(merged),
                "epoch": [int(rows["epoch"].max())] * len(merged),
                "rank": list(range(1, len(merged) + 1)),
                "h": [h for h, _ in merged],
                "token": [t for _, t in merged],
            }
        )

    outdir = _fold_slices(
        spark,
        cache,
        "epoch int, token string",
        "band",
        fold,
        "band long, epoch long, rank long, h long,"
        " token string",
        "hs array<long>, toks array<string>",
        prep=lambda src: (
            src.select(
                "epoch",
                "token",
                F.conv(F.substring(F.md5("token"), 1, 12), 16, 10)
                .cast("bigint")
                .alias("h"),
            )
            .withColumn("band", F.col("h") % 8)
        ),
    )

    em = spark.read.schema(
        "band long, epoch long, rank long, h long, token string"
    ).parquet(outdir)
    bands = spark.range(8).select(F.col("id").cast("bigint").alias("band"))
    epochs = spark.range(4).select(
        F.col("id").cast("bigint").alias("epoch")
    )
    grid = bands.crossJoin(epochs)
    return (
        grid.join(
            em.select(
                F.col("band").alias("eb"),
                F.col("epoch").alias("eep"),
                "rank",
                "h",
                "token",
            ),
            (F.col("band") == F.col("eb"))
            & (F.col("eep") <= F.col("epoch")),
        )
        .groupBy("band", "epoch", "rank")
        .agg(
            F.max_by(F.struct("h", "token"), F.col("eep")).alias("bt")
        )
        .select(
            "epoch",
            "band",
            "rank",
            F.col("bt.h").alias("h"),
            F.col("bt.token").alias("token"),
        )
        .orderBy("epoch", "band", "rank")
    )


_FUNNEL_W_US = 21_600_000_000  # 6 h chain window (ext_window_funnel)


def _events_funnel_slices_dir(spark: SparkSession, sf_dir: str) -> str:
    """Cache the funnel-relevant events as four TS-RANGE quartile
    slices of (epoch, user_id, event_type, t) — time-ordered epochs,
    so the online chain walk sees events in global time order across
    drains (equal timestamps stay in one slice by construction)."""

    def build(tmp: str) -> None:
        e = load_table(spark, sf_dir, "events").where(
            F.col("event_type").isin("view", "click", "purchase")
        )
        b = e.agg(
            F.min(F.unix_micros("ts")).alias("mn"),
            F.max(F.unix_micros("ts")).alias("mx"),
        )
        t = (
            e.crossJoin(F.broadcast(b))
            .select(
                F.least(
                    F.lit(3),
                    F.expr(
                        "(unix_micros(ts) - mn) * 4 DIV (mx - mn + 1)"
                    ).cast("int"),
                ).alias("epoch"),
                "user_id",
                "event_type",
                F.unix_micros("ts").alias("t"),
            )
        )
        _write_slices(t, tmp, 4)

    return cached_dir(sf_dir, "events", "funnel-slices-x4", build)


@register(
    "i49_stream_window_funnel",
    survey_id="EXT-STREAM-FUNNEL",
    category="streaming",
    mode="parity",
    oracle=f"""
WITH b AS (SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
           FROM events),
e AS (
  SELECT user_id, event_type, epoch_us(ts) AS t,
         LEAST(3, CAST((epoch_us(ts) - b.mn) * 4 // (b.mx - b.mn + 1)
                       AS INT)) AS ep
  FROM events, b
  WHERE event_type IN ('view', 'click', 'purchase')
),
u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS total FROM e),
epochs AS (SELECT UNNEST(generate_series(0, 3)) AS ee),
lv AS (
  SELECT epp.ee AS epoch, 1 AS level,
    CAST((SELECT COUNT(DISTINCT user_id) FROM e
          WHERE event_type = 'view' AND e.ep <= epp.ee) AS BIGINT) AS n
  FROM epochs epp
  UNION ALL
  SELECT epp.ee, 2,
    CAST((SELECT COUNT(DISTINCT v.user_id)
          FROM e v JOIN e c ON v.user_id = c.user_id
          WHERE v.event_type = 'view' AND c.event_type = 'click'
            AND v.ep <= epp.ee AND c.ep <= epp.ee
            AND v.t < c.t AND c.t - v.t <= {_FUNNEL_W_US}) AS BIGINT)
  FROM epochs epp
  UNION ALL
  SELECT epp.ee, 3,
    CAST((SELECT COUNT(DISTINCT v.user_id)
          FROM e v
          JOIN e c ON v.user_id = c.user_id AND c.event_type = 'click'
                  AND v.t < c.t AND c.t - v.t <= {_FUNNEL_W_US}
                  AND c.ep <= epp.ee
          JOIN e p ON p.user_id = v.user_id
                  AND p.event_type = 'purchase' AND c.t < p.t
                  AND p.t - v.t <= {_FUNNEL_W_US} AND p.ep <= epp.ee
          WHERE v.event_type = 'view' AND v.ep <= epp.ee) AS BIGINT)
  FROM epochs epp
)
SELECT CAST(lv.epoch AS BIGINT) AS epoch, CAST(lv.level AS BIGINT) AS level,
       lv.n AS n_users, u.total AS total_users,
       CAST(lv.n * 1000000 // u.total AS BIGINT) AS conv_micro
FROM lv CROSS JOIN u ORDER BY epoch, level
""",
)
def i49_stream_window_funnel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ONLINE window funnel — ext_window_funnel's chain detection as
    keyed stream state, the real-time product-analytics shape: per
    user THREE longs (latest view time, the latest view that already
    has a later click = the level-3 anchor, best level reached), so
    state is O(users) with constant width no matter how many events
    arrive. The greedy anchors are exact, not heuristic: the latest
    view strictly before a click is the optimal level-2 witness, and
    the max over click-confirmed views is the optimal level-3 anchor
    for every FUTURE purchase — the same argument the batch fold
    uses, now incremental.

    Strictness discipline: each micro-batch walks its events in time
    order, evaluating click/purchase steps against state from STRICTLY
    earlier timestamps before applying same-timestamp view updates
    (ties never form chains, matching the batch operator). Epochs are
    ts-range quartiles, so cross-batch time order holds by
    construction.

    Parity: after every availableNow epoch, per-level user counts
    (carry-forward via max_by over emitted epochs) must equal the
    batch EXISTS-join levels over the epoch prefix."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    cache = _events_funnel_slices_dir(spark, sf_dir)

    W = _FUNNEL_W_US

    def fold(key, pdfs, state: GroupState):
        (uid,) = key
        rows = pd.concat(list(pdfs))
        lv, a2, best = state.get if state.exists else (-1, -1, 0)
        for t, grp in rows.sort_values("t").groupby("t", sort=True):
            types = set(grp["event_type"])
            # chain steps see only STRICTLY earlier state: purchase is
            # checked BEFORE the click branch touches the anchor, so a
            # same-timestamp click can never confirm a level-3 anchor
            # for a purchase at that same instant (batch requires
            # strict c.t < p.t), and the view update runs last so a
            # same-timestamp view never witnesses its own click
            if "purchase" in types and a2 >= 0 and t - a2 <= W:
                best = max(best, 3)
            if "click" in types and lv >= 0:
                if t - lv <= W:
                    best = max(best, 2)
                a2 = max(a2, lv)
            if "view" in types:
                lv = max(lv, int(t))
                best = max(best, 1)
        state.update((int(lv), int(a2), int(best)))
        yield pd.DataFrame(
            {
                "user_id": [uid],
                "epoch": [int(rows["epoch"].max())],
                "best": [int(best)],
            }
        )

    outdir = _fold_slices(
        spark,
        cache,
        "epoch int, user_id long, event_type string, t long",
        "user_id",
        fold,
        "user_id long, epoch long, best long",
        "lv long, a2 long, best long",
    )

    em = spark.read.schema("user_id long, epoch long, best long").parquet(
        outdir
    )
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click", "purchase")
    )
    users = e.select("user_id").distinct()
    total = users.agg(F.count("*").cast("bigint").alias("total_users"))
    epochs = spark.range(4).select(
        F.col("id").cast("bigint").alias("epoch")
    )
    cur = (
        users.crossJoin(F.broadcast(epochs))
        .join(
            em.select(
                F.col("user_id").alias("eu"),
                F.col("epoch").alias("eep"),
                "best",
            ),
            (F.col("user_id") == F.col("eu"))
            & (F.col("eep") <= F.col("epoch")),
            "left",
        )
        .groupBy("user_id", "epoch")
        .agg(
            F.coalesce(
                F.max_by("best", F.col("eep")), F.lit(0).cast("bigint")
            ).alias("best")
        )
    )
    levels = spark.createDataFrame([(1,), (2,), (3,)], "level long")
    return (
        cur.crossJoin(F.broadcast(levels))
        .groupBy("epoch", "level")
        .agg(
            F.sum(
                (F.col("best") >= F.col("level")).cast("int")
            )
            .cast("bigint")
            .alias("n_users")
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "conv_micro",
            F.expr("n_users * 1000000 DIV total_users").cast("bigint"),
        )
        .orderBy("epoch", "level")
    )


def _docs_lang_len_slices_dir(spark: SparkSession, sf_dir: str) -> str:
    """Four doc_id-quartile slices of (epoch, lang, n_chars) — the
    ingest feed for the online moments monitor."""

    def build(tmp: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        hi = d.agg(F.max("doc_id")).first()[0]
        t = d.select(
            F.least(
                F.lit(3), (F.col("doc_id") * 4 / (hi + 1)).cast("int")
            ).alias("epoch"),
            "lang",
            F.col("n_chars").cast("long").alias("x"),
        )
        _write_slices(t, tmp, 4)

    return cached_dir(sf_dir, "documents", "moments-slices-x4", build)


@register(
    "i50_stream_length_moments",
    survey_id="EXT-STREAM-MOMENTS",
    category="streaming",
    mode="parity",
    oracle="""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
d AS (
  SELECT LEAST(3, CAST(doc_id * 4 // (mx.m + 1) AS INT)) AS ep,
         lang, CAST(n_chars AS BIGINT) AS x
  FROM documents CROSS JOIN mx
),
epochs AS (SELECT UNNEST(generate_series(0, 3)) AS e),
cum AS (
  SELECT l.lang, ep0.e AS epoch,
         CAST(COUNT(d.x) AS BIGINT) AS n,
         CAST(COALESCE(SUM(d.x), 0) AS BIGINT) AS sm,
         CAST(COALESCE(SUM(d.x * d.x), 0) AS BIGINT) AS sq
  FROM (SELECT DISTINCT lang FROM d) l
  CROSS JOIN epochs ep0
  LEFT JOIN d ON d.lang = l.lang AND d.ep <= ep0.e
  GROUP BY l.lang, ep0.e
)
SELECT CAST(epoch AS BIGINT) AS epoch, lang, n, sm, sq,
       CAST(sm * 1000 // n AS BIGINT) AS mean_milli,
       CAST((n * sq - sm * sm) * 1000000 // (n * n) AS BIGINT)
         AS var_micro
FROM cum WHERE n > 0
ORDER BY epoch, lang
""",
)
def i50_stream_length_moments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ONLINE length-distribution moments per language — the ingest
    monitor that catches a source flipping document shape (truncation
    bugs, template floods) as a MEAN/VARIANCE shift at the epoch it
    happens: keyed stream state is THREE BIGINTs per language
    (count, sum, sum of squares — the exact-integer form of Welford's
    update, trivially mergeable because the sums commute), so state
    is O(languages) at any corpus size.

    Every availableNow epoch emits the running triple; the mean and
    population variance derive EXACTLY from the integer identity
    (n*sumsq - sum^2) / n^2 as micro floor-divisions. Parity: the
    per-epoch online triples must equal the batch prefix sums over
    doc_id-quartile epochs, value-for-value."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    cache = _docs_lang_len_slices_dir(spark, sf_dir)

    def fold(key, pdfs, state: GroupState):
        (lang,) = key
        rows = pd.concat(list(pdfs))
        n0, s0, q0 = state.get if state.exists else (0, 0, 0)
        xs = rows["x"].tolist()
        n = n0 + len(xs)
        sm = s0 + int(sum(xs))
        sq = q0 + int(sum(v * v for v in xs))
        state.update((n, sm, sq))
        yield pd.DataFrame(
            {
                "lang": [lang],
                "epoch": [int(rows["epoch"].max())],
                "n": [n],
                "sm": [sm],
                "sq": [sq],
            }
        )

    outdir = _fold_slices(
        spark,
        cache,
        "epoch int, lang string, x long",
        "lang",
        fold,
        "lang string, epoch long, n long, sm long, sq long",
        "n long, sm long, sq long",
    )

    em = spark.read.schema(
        "lang string, epoch long, n long, sm long, sq long"
    ).parquet(outdir)
    langs = em.select("lang").distinct()
    epochs = spark.range(4).select(
        F.col("id").cast("bigint").alias("epoch")
    )
    cur = (
        langs.crossJoin(F.broadcast(epochs))
        .join(
            em.select(
                F.col("lang").alias("el"),
                F.col("epoch").alias("eep"),
                "n",
                "sm",
                "sq",
            ),
            (F.col("lang") == F.col("el"))
            & (F.col("eep") <= F.col("epoch")),
        )
        .groupBy("lang", "epoch")
        .agg(
            F.max_by(
                F.struct("n", "sm", "sq"), F.col("eep")
            ).alias("t")
        )
        .select(
            "epoch",
            "lang",
            F.col("t.n").alias("n"),
            F.col("t.sm").alias("sm"),
            F.col("t.sq").alias("sq"),
        )
    )
    return (
        cur.where(F.col("n") > 0)
        .select(
            "epoch",
            "lang",
            "n",
            "sm",
            "sq",
            F.expr("sm * 1000 DIV n").cast("bigint").alias("mean_milli"),
            F.expr("(n * sq - sm * sm) * 1000000 DIV (n * n)")
            .cast("bigint")
            .alias("var_micro"),
        )
        .orderBy("epoch", "lang")
    )


_SS_K = 3  # SpaceSaving summary capacity per shard
_SS_SHARDS = 4


def _spacesaving_oracle() -> str:
    """Code-generated unrolled oracle for i51_stream_spacesaving: the
    per-shard SpaceSaving fold replayed epoch-by-epoch as SQL CTEs —
    state_e = top-{k} of (state_{e-1} counts + epoch-e exact counts,
    with entering tokens charged the shard's error floor), floor_e =
    max(floor_{e-1}, the (k+1)-th combined count).  Four epochs x
    (counts, combine, rank, state, floor) stages, then the emission
    union joined against exact prefix counts for the guarantee
    columns."""
    from nibbler_spark.queries.sketches import _sql_nib_hash

    k, ns = _SS_K, _SS_SHARDS
    parts = [
        f"""mx AS (SELECT MAX(doc_id) AS m FROM documents),
tok AS (
  SELECT LEAST(3, CAST(doc_id * 4 // (mx.m + 1) AS INT)) AS tep,
         {_sql_nib_hash('t', ns)} AS shard, t AS token
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
        FROM documents) CROSS JOIN mx
),
shards AS (SELECT UNNEST(generate_series(0, {ns - 1})) AS shard),
fl_init AS (SELECT shard, CAST(0 AS BIGINT) AS fl FROM shards),
st_init AS (SELECT CAST(NULL AS INT) AS shard, CAST(NULL AS VARCHAR)
              AS token, CAST(NULL AS BIGINT) AS cnt WHERE 1 = 0)"""
    ]
    prev_st, prev_fl = "st_init", "fl_init"
    emits = []
    for e in range(4):
        parts.append(
            f"""ec{e} AS (
  SELECT shard, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok WHERE tep = {e} GROUP BY shard, token
),
comb{e} AS (
  SELECT COALESCE(st.shard, ec.shard) AS shard,
         COALESCE(st.token, ec.token) AS token,
         COALESCE(st.cnt, fl.fl) + COALESCE(ec.c, 0) AS cnt
  FROM {prev_st} st
  FULL JOIN ec{e} ec ON st.shard = ec.shard AND st.token = ec.token
  JOIN {prev_fl} fl ON fl.shard = COALESCE(st.shard, ec.shard)
),
rk{e} AS (
  SELECT shard, token, cnt, ROW_NUMBER() OVER (
    PARTITION BY shard ORDER BY cnt DESC, token) AS rk
  FROM comb{e}
),
st{e} AS (SELECT shard, token, cnt FROM rk{e} WHERE rk <= {k}),
fl{e} AS (
  SELECT fl.shard,
         GREATEST(fl.fl, COALESCE(MAX(CASE WHEN rk = {k + 1}
                                      THEN cnt END), fl.fl)) AS fl
  FROM {prev_fl} fl LEFT JOIN rk{e} ON rk{e}.shard = fl.shard
  GROUP BY fl.shard, fl.fl
)"""
        )
        emits.append(
            f"SELECT CAST({e} AS BIGINT) AS epoch,"
            f" CAST(r.shard AS BIGINT) AS shard,"
            f" CAST(r.rk AS BIGINT) AS rank, r.token,"
            f" r.cnt AS est, f.fl AS floor"
            f" FROM rk{e} r JOIN fl{e} f ON f.shard = r.shard"
            f" WHERE r.rk <= {k}"
        )
        prev_st, prev_fl = f"st{e}", f"fl{e}"
    union = " UNION ALL ".join(emits)
    parts.append(
        f"""em AS ({union}),
epochs AS (SELECT UNNEST(generate_series(0, 3)) AS e),
truec AS (
  SELECT e.e AS epoch, t.token, CAST(COUNT(*) AS BIGINT) AS tc
  FROM tok t CROSS JOIN epochs e
  WHERE t.tep <= e.e GROUP BY e.e, t.token
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT em.epoch, em.shard, em.rank, em.token, em.est, em.floor,
       tc.tc AS true_cum,
       em.est >= tc.tc AS never_undercounts,
       em.est <= tc.tc + em.floor AS within_floor
FROM em JOIN truec tc ON tc.epoch = em.epoch AND tc.token = em.token
ORDER BY em.epoch, em.shard, em.rank
"""
    )


@register(
    "i51_stream_spacesaving",
    survey_id="EXT-STREAM-SPACESAVE",
    category="streaming",
    mode="parity",
    oracle=_spacesaving_oracle(),
)
def i51_stream_spacesaving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE SpaceSaving heavy hitters (Metwally et al. 2005) as
    SHARDED keyed stream state — the deterministic mergeable-summary
    form (Agarwal et al. 2012): tokens hash into {shards} shards, each
    shard's state is a capacity-{k} summary (token, count) plus one
    error floor, so TOTAL state is {shards} x ({k}+1) values at ANY
    corpus size. Per availableNow epoch the fold combines the shard's
    exact in-batch counts with the stored summary — entering tokens
    are charged the floor (their maximum possible undercount) — keeps
    the top {k} by (count DESC, token), and raises the floor to the
    (k+1)-th combined count, which makes the whole trajectory
    order-free and engine-replayable (the oracle unrolls the exact
    fold as SQL CTEs; classic per-arrival SpaceSaving is
    arrival-order dependent and could never hash-match).

    The SpaceSaving guarantee rides along as output columns checked at
    EVERY epoch boundary for EVERY reported hitter: est >= true
    (never undercounts) and est <= true + floor (the error bound).
    Emissions carry each touched shard's full summary per epoch;
    untouched shards carry forward via the max_by(emitted_epoch)
    read-out (grid x emissions, the i47/i48 pattern).

    Scale: state is O(shards x k) regardless of corpus; the per-epoch
    work is one map-side hash + the keyed stateful shuffle; sharding
    both parallelizes the fold and caps any one task's summary —
    global top-k at read-out is the k-way merge of shard summaries,
    the mergeable-summaries property."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    from nibbler_spark.queries.sketches import _nib_hash

    k, ns = _SS_K, _SS_SHARDS
    cache = _docs_token_slices_dir(spark, sf_dir)

    def fold(key, pdfs, state: GroupState):
        (shard,) = key
        rows = pd.concat(list(pdfs))
        if state.exists:
            toks, cnts, fl = state.get
            cur = dict(zip(toks, cnts))
        else:
            cur, fl = {}, 0
        ec = rows["token"].value_counts()
        comb = {
            t: cur.get(t, fl) + int(ec.get(t, 0))
            for t in set(cur) | set(ec.index)
        }
        ranked = sorted(comb.items(), key=lambda kv: (-kv[1], kv[0]))
        top = ranked[:k]
        if len(ranked) > k:
            fl = max(fl, ranked[k][1])
        state.update((
            [t for t, _ in top],
            [c for _, c in top],
            fl,
        ))
        ep = int(rows["epoch"].max())
        yield pd.DataFrame(
            {
                "shard": [int(shard)] * len(top),
                "epoch": [ep] * len(top),
                "rank": list(range(1, len(top) + 1)),
                "token": [t for t, _ in top],
                "est": [c for _, c in top],
                "floor": [fl] * len(top),
            }
        )

    outdir = _fold_slices(
        spark,
        cache,
        "epoch int, token string",
        "shard",
        fold,
        "shard long, epoch long, rank long, token string,"
        " est long, floor long",
        "toks array<string>, cnts array<long>, fl long",
        prep=lambda src: (
            src.select(
                "epoch",
                "token",
                _nib_hash(F.col("token"), ns)
                .cast("long")
                .alias("shard"),
            )
        ),
    )

    em = spark.read.schema(
        "shard long, epoch long, rank long, token string, est long,"
        " floor long"
    ).parquet(outdir)
    shards = spark.range(ns).select(
        F.col("id").cast("bigint").alias("shard")
    )
    epochs = spark.range(4).select(
        F.col("id").cast("bigint").alias("epoch")
    )
    grid = shards.crossJoin(epochs)
    cur = (
        grid.join(
            em.select(
                F.col("shard").alias("es"),
                F.col("epoch").alias("eep"),
                "rank",
                "token",
                "est",
                "floor",
            ),
            (F.col("shard") == F.col("es"))
            & (F.col("eep") <= F.col("epoch")),
        )
        .groupBy("shard", "epoch", "rank")
        .agg(
            F.max_by(
                F.struct("token", "est", "floor"), F.col("eep")
            ).alias("s")
        )
        .select(
            "epoch",
            "shard",
            "rank",
            F.col("s.token").alias("token"),
            F.col("s.est").alias("est"),
            F.col("s.floor").alias("floor"),
        )
    )
    d = load_table(spark, sf_dir, "documents")
    hi = d.agg(F.max("doc_id")).first()[0]
    tok = d.select(
        F.least(F.lit(3), (F.col("doc_id") * 4 / (hi + 1)).cast("int"))
        .cast("bigint")
        .alias("tep"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    need = cur.select("token").distinct()
    percnt = tok.join(F.broadcast(need), "token").groupBy(
        "token", "tep"
    ).agg(F.count("*").cast("bigint").alias("c"))
    truec = (
        need.crossJoin(F.broadcast(epochs))
        .join(
            percnt.withColumnRenamed("token", "ptoken"),
            (F.col("token") == F.col("ptoken"))
            & (F.col("tep") <= F.col("epoch")),
            "left",
        )
        .groupBy("token", "epoch")
        .agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("true_cum")
        )
    )
    return (
        cur.join(truec, ["token", "epoch"])
        .select(
            "epoch",
            "shard",
            "rank",
            "token",
            "est",
            "floor",
            "true_cum",
            (F.col("est") >= F.col("true_cum")).alias("never_undercounts"),
            (F.col("est") <= F.col("true_cum") + F.col("floor")).alias(
                "within_floor"
            ),
        )
        .orderBy("epoch", "shard", "rank")
    )


def _decayed_counts_oracle() -> str:
    """Code-generated unrolled oracle for i52_stream_decayed_counts:
    the per-cell half-life recursion v_e = v_{e-1} // 2 + c_e replayed
    as four SQL CTE stages over exact per-epoch cell counts (integer
    floor halving does NOT commute with summation, so the trajectory
    must be replayed, not closed-formed)."""
    from nibbler_spark.queries.sketches import _sql_nib_hash

    parts = [
        f"""mx AS (SELECT MAX(doc_id) AS m FROM documents),
tok AS (
  SELECT LEAST(3, CAST(doc_id * 4 // (mx.m + 1) AS INT)) AS tep,
         {_sql_nib_hash('t', 64)} AS cell
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
        FROM documents) CROSS JOIN mx
),
cells AS (SELECT DISTINCT cell FROM tok),
v_init AS (SELECT cell, CAST(0 AS BIGINT) AS v FROM cells)"""
    ]
    prev = "v_init"
    rows = []
    for e in range(4):
        parts.append(
            f"""c{e} AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok WHERE tep = {e} GROUP BY cell
),
v{e} AS (
  SELECT p.cell, p.v // 2 + COALESCE(c{e}.c, 0) AS v
  FROM {prev} p LEFT JOIN c{e} ON c{e}.cell = p.cell
)"""
        )
        rows.append(
            f"SELECT CAST({e} AS BIGINT) AS epoch,"
            f" CAST(cell AS BIGINT) AS cell, v AS decayed FROM v{e}"
        )
        prev = f"v{e}"
    union = " UNION ALL ".join(rows)
    parts.append(
        f"""em AS ({union}),
epochs AS (SELECT UNNEST(generate_series(0, 3)) AS e),
cum AS (
  SELECT e.e AS epoch, t.cell, CAST(COUNT(*) AS BIGINT) AS raw_cum
  FROM tok t CROSS JOIN epochs e
  WHERE t.tep <= e.e GROUP BY e.e, t.cell
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT em.epoch, em.cell, em.decayed, cum.raw_cum,
       CAST(em.decayed * 1000 // GREATEST(cum.raw_cum, 1) AS BIGINT)
         AS heat_milli
FROM em JOIN cum ON cum.epoch = em.epoch AND cum.cell = em.cell
ORDER BY em.epoch, em.cell
"""
    )


@register(
    "i52_stream_decayed_counts",
    survey_id="EXT-STREAM-DECAY",
    category="streaming",
    mode="parity",
    oracle=_decayed_counts_oracle(),
)
def i52_stream_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE half-life-decayed counters — the trend/forgetting state
    family the repo's other sketches lack: every epoch each of 64
    hash cells halves (integer floor) and adds its exact in-epoch
    count, v_e = v_{e-1} // 2 + c_e, so old mass fades geometrically
    and `heat_milli` (decayed / cumulative, x1000) separates
    still-trending cells from historically-heavy ones — the
    production shape behind trending-topics and cache-admission
    monitors.

    LAZY DECAY, done exactly: the keyed fold only fires for cells
    touched in an epoch (state stores the post-epoch value), and the
    read-out applies the pending halvings row-locally —
    stored >> (epoch - emitted_epoch) — which equals eager per-epoch
    halving because untouched epochs add zero (floor-halving a value
    d times is one shift). The oracle replays the eager recursion as
    four unrolled CTE stages: integer floor halving does not commute
    with addition, so the trajectory is replayed, never closed-formed
    — matching hashes prove the lazy and eager forms identical.

    Scale: state is one BIGINT per cell (64 cells total, corpus-
    independent); per-epoch work is a map-side hash + the keyed
    stateful shuffle; the read-out grid is 64 x 4."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    from nibbler_spark.queries.sketches import _nib_hash

    cache = _docs_token_slices_dir(spark, sf_dir)

    def fold(key, pdfs, state: GroupState):
        (cell,) = key
        rows = pd.concat(list(pdfs))
        ep = int(rows["epoch"].max())
        if state.exists:
            v, last = state.get
            # catch up the halvings of fully-skipped epochs; the
            # current epoch's own halving is applied below
            v = v >> min(max(ep - last - 1, 0), 63)
        else:
            v = 0
        v = (v >> 1) + len(rows)
        state.update((v, ep))
        yield pd.DataFrame(
            {"cell": [int(cell)], "epoch": [ep], "decayed": [v]}
        )

    outdir = _fold_slices(
        spark,
        cache,
        "epoch int, token string",
        "cell",
        fold,
        "cell long, epoch long, decayed long",
        "v long, last long",
        prep=lambda src: (
            src.select(
                "epoch",
                _nib_hash(F.col("token"), 64)
                .cast("long")
                .alias("cell"),
            )
        ),
    )

    em = spark.read.schema("cell long, epoch long, decayed long").parquet(
        outdir
    )
    epochs = spark.range(4).select(
        F.col("id").cast("bigint").alias("epoch")
    )
    grid = em.select("cell").distinct().crossJoin(F.broadcast(epochs))
    cur = (
        grid.join(
            em.select(
                F.col("cell").alias("ec"),
                F.col("epoch").alias("eep"),
                F.col("decayed").alias("ev"),
            ),
            (F.col("cell") == F.col("ec"))
            & (F.col("eep") <= F.col("epoch")),
        )
        .groupBy("cell", "epoch")
        .agg(F.max_by(F.struct("ev", "eep"), F.col("eep")).alias("s"))
        .select(
            "epoch",
            "cell",
            F.expr("shiftright(s.ev, CAST(epoch - s.eep AS INT))")
            .cast("bigint")
            .alias("decayed"),
        )
    )
    d = load_table(spark, sf_dir, "documents")
    hi = d.agg(F.max("doc_id")).first()[0]
    tok = d.select(
        F.least(F.lit(3), (F.col("doc_id") * 4 / (hi + 1)).cast("int"))
        .cast("bigint")
        .alias("tep"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    percell = tok.select(
        "tep", _nib_hash(F.col("token"), 64).cast("bigint").alias("cell")
    ).groupBy("cell", "tep").agg(F.count("*").cast("bigint").alias("c"))
    cum = (
        em.select("cell")
        .distinct()
        .crossJoin(F.broadcast(epochs))
        .join(
            percell.withColumnRenamed("cell", "pc"),
            (F.col("cell") == F.col("pc"))
            & (F.col("tep") <= F.col("epoch")),
            "left",
        )
        .groupBy("cell", "epoch")
        .agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("raw_cum")
        )
    )
    return (
        cur.join(cum, ["cell", "epoch"])
        .select(
            "epoch",
            "cell",
            "decayed",
            "raw_cum",
            F.expr("CAST(decayed * 1000 DIV GREATEST(raw_cum, 1) AS BIGINT)")
            .alias("heat_milli"),
        )
        .orderBy("epoch", "cell")
    )

def _hll_stream_oracle() -> str:
    """Per-epoch-prefix HLL register replay (m=64): the registers are
    max-folds of the SAME md5-derived (idx, rho) pairs the stream
    folds, so every epoch's register table — and therefore the exact
    integer checksums — must match the online trajectory bit-for-bit
    (register max is associative + commutative: online == offline with
    no tolerance)."""
    return """
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
tok AS MATERIALIZED (
  SELECT LEAST(3, CAST(doc_id * 4 // (mx.m + 1) AS INT)) AS tep,
         UNNEST(string_split(text, ' ')) AS token
  FROM documents CROSS JOIN mx
),
h AS MATERIALIZED (
  SELECT tep,
         CAST(('0x' || substr(md5(token), 1, 12)) AS BIGINT) AS hv
  FROM tok
),
hw AS MATERIALIZED (
  SELECT tep, hv % 64 AS idx, hv // 64 AS w FROM h
),
epochs AS (SELECT UNNEST(generate_series(0, 3)) AS e),
regs0 AS MATERIALIZED (
  SELECT e.e AS epoch, hw.idx,
         MAX(CASE WHEN w = 0 THEN 43 ELSE 43 - length(bin(w)) END) AS m
  FROM hw JOIN epochs e ON hw.tep <= e.e
  GROUP BY e.e, hw.idx
),
spine AS (
  SELECT e.e AS epoch, s.i AS idx
  FROM epochs e, (SELECT UNNEST(range(64)) AS i) s
),
regs AS MATERIALIZED (
  SELECT sp.epoch, sp.idx, COALESCE(r.m, 0) AS m
  FROM spine sp LEFT JOIN regs0 r
    ON r.epoch = sp.epoch AND r.idx = sp.idx
),
z AS MATERIALIZED (
  SELECT epoch,
         CAST(SUM(CAST(FLOOR(pow(2.0e0, -m) * 1e10) AS DECIMAL(20,0)))
              AS DOUBLE) / 1e10 AS zz,
         CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v,
         CAST(SUM(m) AS BIGINT) AS reg_sum,
         CAST(SUM(m * (idx + 1)) AS BIGINT) AS reg_chk
  FROM regs GROUP BY epoch
),
tru AS MATERIALIZED (
  SELECT e.e AS epoch, CAST(COUNT(DISTINCT token) AS BIGINT) AS t
  FROM tok JOIN epochs e ON tok.tep <= e.e GROUP BY e.e
),
est AS (
  SELECT epoch, reg_sum, reg_chk, v,
         CASE WHEN (0.709e0 * 64e0 * 64e0) / zz <= 2.5e0 * 64e0 AND v > 0
              THEN 64e0 * ln(64e0 / v)
              ELSE (0.709e0 * 64e0 * 64e0) / zz
         END AS e
  FROM z
)
SELECT est.epoch, est.reg_sum, est.reg_chk, est.v AS n_zero,
       CAST(FLOOR(est.e) AS BIGINT) AS est_floor,
       tru.t AS true_distinct,
       ABS(est.e / tru.t - 1e0) < 0.35e0 AS est_ok
FROM est JOIN tru ON tru.epoch = est.epoch
ORDER BY est.epoch"""


@register(
    "i53_stream_hll_union",
    survey_id="EXT-STREAM-HLL",
    category="streaming",
    mode="parity",
    oracle=_hll_stream_oracle(),
)
def i53_stream_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE HYPERLOGLOG — the streaming rung under ext_hll_portable:
    the distinct-token cardinality monitor every ingestion pipeline
    runs, maintained as 64 keyed REGISTER states (key = md5-derived
    register index, state = running max leading-zero rank) folded
    through applyInPandasWithState across 4 availableNow epochs of the
    token stream.  Register max is associative AND commutative, so the
    online trajectory is EXACTLY the offline prefix sketch — the
    oracle replays each epoch prefix's registers and the integer
    checksums (register sum, position-weighted checksum, zero count)
    match with no tolerance; the harmonic-mean estimate is then
    checked against the true prefix cardinality (35% band at m=64,
    ~2.7 sigma).  This is the union-property proof for sharded
    deployment: at 100 TB each executor folds its own 64 registers
    and a max-merge reconciles them — this query IS that merge,
    arriving epoch-slice by epoch-slice.

    Scale: state is 64 BIGINTs TOTAL, corpus-independent; per-epoch
    work is one map-side hash + the 64-key stateful shuffle; the
    read-out grid is 64 x 4."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    cache = _docs_token_slices_dir(spark, sf_dir)

    def fold(key, pdfs, state: GroupState):
        (idx,) = key
        rows = pd.concat(list(pdfs))
        ep = int(rows["epoch"].max())
        batch_m = int(rows["rho"].max())
        if state.exists:
            m = max(state.get[0], batch_m)
        else:
            m = batch_m
        state.update((m,))
        yield pd.DataFrame(
            {"idx": [int(idx)], "epoch": [ep], "m": [m]}
        )

    hv = F.conv(F.substring(F.md5("token"), 1, 12), 16, 10).cast("bigint")
    outdir = _fold_slices(
        spark,
        cache,
        "epoch int, token string",
        "idx",
        fold,
        "idx long, epoch long, m long",
        "m long",
        prep=lambda src: (
            src.select("epoch", hv.alias("hv"))
            .select(
                "epoch",
                (F.col("hv") % 64).alias("idx"),
                F.expr("hv DIV 64").alias("w"),
            )
            .select(
                "epoch",
                "idx",
                F.when(F.col("w") == 0, F.lit(43))
                .otherwise(F.lit(43) - F.length(F.bin("w")))
                .cast("long")
                .alias("rho"),
            )
        ),
    )

    em = spark.read.schema("idx long, epoch long, m long").parquet(outdir)
    epochs = spark.range(4).select(F.col("id").cast("bigint").alias("epoch"))
    spine = spark.range(64).select(F.col("id").cast("bigint").alias("idx"))
    grid = spine.crossJoin(F.broadcast(epochs))
    regs = (
        grid.join(
            em.select(
                F.col("idx").alias("ei"),
                F.col("epoch").alias("eep"),
                F.col("m").alias("ev"),
            ),
            (F.col("idx") == F.col("ei")) & (F.col("eep") <= F.col("epoch")),
            "left",
        )
        .groupBy("idx", "epoch")
        .agg(
            F.coalesce(F.max_by("ev", "eep"), F.lit(0))
            .cast("bigint")
            .alias("m")
        )
    )
    z = regs.groupBy("epoch").agg(
        (
            F.sum(
                F.floor(F.pow(F.lit(2.0), -F.col("m")) * 1e10).cast(
                    "decimal(20,0)"
                )
            ).cast("double")
            / F.lit(1e10)
        ).alias("zz"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
        F.sum("m").cast("bigint").alias("reg_sum"),
        F.sum(F.col("m") * (F.col("idx") + 1))
        .cast("bigint")
        .alias("reg_chk"),
    )
    raw = (F.lit(0.709) * F.lit(64.0) * F.lit(64.0)) / F.col("zz")
    est = F.when(
        (raw <= F.lit(2.5) * F.lit(64.0)) & (F.col("n_zero") > 0),
        F.lit(64.0) * F.log(F.lit(64.0) / F.col("n_zero")),
    ).otherwise(raw)
    d = load_table(spark, sf_dir, "documents")
    hi = d.agg(F.max("doc_id")).first()[0]
    tok = d.select(
        F.least(F.lit(3), (F.col("doc_id") * 4 / (hi + 1)).cast("int"))
        .cast("bigint")
        .alias("tep"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    tru = (
        tok.crossJoin(F.broadcast(epochs.withColumnRenamed("epoch", "e")))
        .where(F.col("tep") <= F.col("e"))
        .groupBy("e")
        .agg(F.countDistinct("token").cast("bigint").alias("true_distinct"))
    )
    return (
        z.select(
            "epoch", "reg_sum", "reg_chk", "n_zero",
            F.floor(est).cast("bigint").alias("est_floor"),
            est.alias("_e"),
        )
        .join(tru, F.col("e") == F.col("epoch"))
        .select(
            "epoch", "reg_sum", "reg_chk", "n_zero", "est_floor",
            "true_distinct",
            (
                F.abs(F.col("_e") / F.col("true_distinct") - F.lit(1.0))
                < F.lit(0.35)
            ).alias("est_ok"),
        )
        .orderBy("epoch")
    )


def stream_join_then_fold(
    spark: SparkSession,
    sf_dir: str,
    E: int,
    W: int,
    m: int,
    rt: str,
    slice_mode: str,
    op: str,
    afilter: float | None,
) -> DataFrame:
    """COMPOSED stream-stream interval join -> keyed fold, driven
    epoch-by-epoch through TWO checkpointed streaming queries: the
    join's state carries A-rows across epochs to match B-rows arriving
    later (inner matches emit in the LATER side's epoch); the matched
    pairs land in a pair log that feeds an applyInPandasWithState fold
    whose per-key state carries across the same epochs.  Watermark
    delay exceeds the event span, so no eviction clouds the trajectory
    (eviction-at-watermark is the single-drain join family's job).
    The fold is ``_drive_epochs``-driven; its staging step for epoch q
    stages slice q and runs the join's pass, so the fold's epoch q reads
    exactly the pairs slice q completes. Both checkpoints, the ingest
    copy and the pair log are removed on return.
    Shared by the i54 declared query and the fuzzer's
    stream_join_then_fold family (tools/fuzz_differential.py)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = load_table(spark, sf_dir, "events")
    hi = ev.agg(F.max("event_id")).first()[0]
    if slice_mode == "mod":
        ep = (F.col("event_id") % E).cast("int")
    else:
        ep = F.expr(f"CAST(event_id * {E} DIV {hi + 1} AS INT)")
    base = scratch_dir("jf")
    ingest = os.path.join(base, "ingest")
    pairdir = os.path.join(base, "pairs")
    outdir = os.path.join(base, "out")
    ckpt_j = os.path.join(base, "ckpt_join")
    os.makedirs(ingest)
    os.makedirs(pairdir)
    _write_slices(
        ev.select(
            ep.alias("epoch"), "event_id", "user_id", "ts", "event_type", "value"
        ),
        base,
        E,
    )

    schema = (
        "epoch int, event_id bigint, user_id bigint, ts timestamp, "
        "event_type string, value double"
    )
    a = spark.readStream.schema(schema).parquet(ingest)
    if afilter is not None:
        a = a.where(F.col("value") >= afilter)
    a = a.withWatermark("ts", "100000 minutes").alias("a")
    b = (
        spark.readStream.schema(schema).parquet(ingest)
        .where(F.col("event_type") == rt)
        .withColumnRenamed("ts", "ts_b")
        .withColumnRenamed("event_id", "event_id_b")
        .withColumnRenamed("user_id", "user_id_b")
        .withColumnRenamed("epoch", "ep_b")
        .withWatermark("ts_b", "100000 minutes")
        .alias("b")
    )
    if op == "count":
        vexpr = F.lit(1).cast("long")
    else:
        vexpr = (
            F.col("a.event_id") % 97 + F.col("b.event_id_b") % 89
        ).cast("long")
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id_b"))
        & (F.col("b.ts_b") >= F.col("a.ts"))
        & (F.col("b.ts_b") <= F.col("a.ts") + F.expr(f"INTERVAL {m} MINUTES"))
        & (F.col("a.event_id") != F.col("b.event_id_b")),
        "inner",
    ).select(
        F.greatest(F.col("a.epoch"), F.col("b.ep_b")).cast("long").alias("epoch"),
        (F.col("a.user_id") % W).cast("long").alias("k"),
        vexpr.alias("v"),
    )
    join_pass = joined.writeStream.foreachBatch(
        lambda df, _eid: df.write.mode("append").parquet(pairdir)
    ).outputMode("append")

    def stage(q: int, d: str) -> None:
        # Epoch q of the fold is the pairs the join emits for slice q.
        _stage_slice(d, ingest, q)
        _drain(join_pass, checkpoint=ckpt_j, shuffle_partitions=8)

    keyed = (
        spark.readStream.schema("epoch long, k long, v long")
        .parquet(pairdir)
        .groupBy("k")
        .applyInPandasWithState(
            _running_fold(op),
            "k long, epoch long, running long",
            "run long",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    try:
        _drive_epochs(
            keyed.writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(outdir)
            ).outputMode("update"),
            [
                functools.partial(stage, q, d)
                for q, d in enumerate(_slice_dirs(base))
            ],
            shuffle_partitions=8,
        )
    finally:
        for d in (ingest, pairdir, ckpt_j):
            shutil.rmtree(d, ignore_errors=True)
    return _running_prefixes(spark, outdir, E)


def stream_join_then_fold_oracle(
    E: int, W: int, m: int, rt: str, slice_mode: str, op: str,
    afilter: float | None,
) -> str:
    payload = (
        "1" if op == "count" else "a.event_id % 97 + b.event_id % 89"
    )
    agg = {
        "count": "COUNT(*)",
        "sum": "SUM(v)",
        "max": "MAX(v)",
        "min": "MIN(v)",
    }[op]
    if slice_mode == "mod":
        epoch_expr = f"event_id % {E}"
    else:
        epoch_expr = f"CAST(event_id * {E} // (mx.m + 1) AS INT)"
    aw = f"WHERE value >= {afilter}" if afilter is not None else ""
    return f"""
WITH mx AS (SELECT MAX(event_id) AS m FROM events),
ea AS (
  SELECT event_id, user_id, ts, {epoch_expr} AS ep
  FROM events CROSS JOIN mx {aw}
),
eb AS (
  SELECT event_id, user_id, ts, {epoch_expr} AS ep
  FROM events CROSS JOIN mx WHERE event_type = '{rt}'
),
pairs AS (
  SELECT GREATEST(a.ep, b.ep) AS pep,
         CAST(a.user_id % {W} AS BIGINT) AS k,
         CAST({payload} AS BIGINT) AS v
  FROM ea a JOIN eb b
    ON a.user_id = b.user_id
   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '{m} minutes'
   AND a.event_id <> b.event_id
),
epochs AS (SELECT UNNEST(generate_series(0, {E - 1})) AS e)
SELECT k, CAST(e.e AS BIGINT) AS epoch, CAST({agg} AS BIGINT) AS running
FROM pairs CROSS JOIN epochs e
WHERE pairs.pep <= e.e
GROUP BY 1, 2
ORDER BY epoch, k
"""


@register(
    "i54_stream_join_fold_compose",
    survey_id="EXT-STREAM-JOINFOLD",
    category="streaming",
    mode="parity",
    oracle=stream_join_then_fold_oracle(
        3, 16, 2, "purchase", "mod", "sum", None
    ),
)
def i54_stream_join_fold_compose(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHAINED STATEFUL OPERATORS — the watermark+state interaction
    the single-operator streaming rows cannot reach: an event-time
    interval self-join (every event vs purchases within 2 minutes on
    the same user) whose MATCHED PAIRS feed a per-user-bucket running
    SUM, both stateful stages driven through real checkpoints across 3
    epoch drains.  A-rows wait in join state for purchases that arrive
    epochs later; each pair emits in the later side's epoch and folds
    into its bucket's carried state — so the per-epoch read-out is an
    online trajectory whose every prefix must equal DuckDB rebuilding
    the batch join + prefix aggregate from scratch.  This is the
    declared-fixed-parameter instance of the fuzzer's randomized
    stream_join_then_fold family (300-seed pass, zero divergences)."""
    return stream_join_then_fold(
        spark, sf_dir, 3, 16, 2, "purchase", "mod", "sum", None
    )


# --- r10: streaming DDSketch union ------------------------------------


def _ddsketch_stream_oracle() -> str:
    """Per-epoch-prefix replay of the gridded-log bucket sketch: the
    bucket counts are SUM-folds of the same md5-derived values the
    stream folds (sum is associative + commutative: online == offline
    with no tolerance), and the quantile-bucket identity
    gridln(true_q) // 25e6 == sketch bucket is checked exactly."""
    return """
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
tok AS MATERIALIZED (
  SELECT LEAST(3, CAST(doc_id * 4 // (mx.m + 1) AS INT)) AS tep,
         UNNEST(string_split(text, ' ')) AS token
  FROM documents CROSS JOIN mx
),
vals AS MATERIALIZED (
  SELECT tep,
         1 + (CAST(('0x' || substr(md5(token), 1, 12)) AS BIGINT) // 64)
             % 1000000 AS v
  FROM tok
),
bk AS MATERIALIZED (
  SELECT tep, v,
         CAST(FLOOR(ln(v) * 1e9) AS BIGINT) // 25000000 AS idx
  FROM vals
),
epochs AS (SELECT UNNEST(generate_series(0, 3)) AS e),
cum AS MATERIALIZED (
  SELECT e.e AS epoch, bk.idx, CAST(COUNT(*) AS BIGINT) AS c
  FROM bk JOIN epochs e ON bk.tep <= e.e
  GROUP BY e.e, bk.idx
),
stats AS MATERIALIZED (
  SELECT epoch,
         CAST(SUM(c) AS BIGINT) AS n_values,
         CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(SUM(idx * c) AS BIGINT) AS bucket_chk
  FROM cum GROUP BY epoch
),
qs AS (SELECT UNNEST([50, 95, 99]) AS q),
ranks AS (
  SELECT s.epoch, qs.q, (qs.q * s.n_values + 99) // 100 AS r
  FROM stats s CROSS JOIN qs
),
cumsum AS MATERIALIZED (
  SELECT epoch, idx, c,
         SUM(c) OVER (PARTITION BY epoch ORDER BY idx) AS cc
  FROM cum
),
skq AS MATERIALIZED (
  SELECT r.epoch, r.q, MIN(cs.idx) AS bucket
  FROM ranks r JOIN cumsum cs
    ON cs.epoch = r.epoch AND cs.cc >= r.r
  GROUP BY r.epoch, r.q
),
vcnt AS MATERIALIZED (
  SELECT e.e AS epoch, v, CAST(COUNT(*) AS BIGINT) AS c
  FROM vals JOIN epochs e ON vals.tep <= e.e
  GROUP BY e.e, v
),
vcum AS MATERIALIZED (
  SELECT epoch, v,
         SUM(c) OVER (PARTITION BY epoch ORDER BY v) AS cc
  FROM vcnt
),
tq AS MATERIALIZED (
  SELECT r.epoch, r.q, MIN(vc.v) AS true_v
  FROM ranks r JOIN vcum vc ON vc.epoch = r.epoch AND vc.cc >= r.r
  GROUP BY r.epoch, r.q
),
wide AS (
  SELECT s.epoch, s.n_values, s.n_buckets, s.bucket_chk,
         MAX(CASE WHEN k.q = 50 THEN k.bucket END) AS p50_bucket,
         MAX(CASE WHEN k.q = 50 THEN t.true_v END) AS true_p50,
         MAX(CASE WHEN k.q = 95 THEN k.bucket END) AS p95_bucket,
         MAX(CASE WHEN k.q = 95 THEN t.true_v END) AS true_p95,
         MAX(CASE WHEN k.q = 99 THEN k.bucket END) AS p99_bucket,
         MAX(CASE WHEN k.q = 99 THEN t.true_v END) AS true_p99
  FROM stats s
  JOIN skq k ON k.epoch = s.epoch
  JOIN tq t ON t.epoch = s.epoch AND t.q = k.q
  GROUP BY s.epoch, s.n_values, s.n_buckets, s.bucket_chk
)
SELECT epoch, n_values, n_buckets, bucket_chk,
       p50_bucket, true_p50,
       CAST(FLOOR(ln(true_p50) * 1e9) AS BIGINT) // 25000000
         = p50_bucket AS p50_ok,
       p95_bucket, true_p95,
       CAST(FLOOR(ln(true_p95) * 1e9) AS BIGINT) // 25000000
         = p95_bucket AS p95_ok,
       p99_bucket, true_p99,
       CAST(FLOOR(ln(true_p99) * 1e9) AS BIGINT) // 25000000
         = p99_bucket AS p99_ok
FROM wide ORDER BY epoch"""


@register(
    "i55_stream_ddsketch_union",
    survey_id="EXT-STREAM-DDSKETCH",
    category="streaming",
    mode="parity",
    oracle=_ddsketch_stream_oracle(),
)
def i55_stream_ddsketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE MERGEABLE QUANTILE SKETCH — the streaming rung under
    ext_ddsketch_quantile (the DDSketch recipe, Masson et al. 2019,
    arXiv:1908.10693): values land in GEOMETRIC buckets idx =
    gridln(v) // 25e6 (gamma = e^0.025, ~1.25% relative error), and
    the sketch is just per-bucket COUNTS — sum-mergeable, so keyed
    count state folded through applyInPandasWithState across 4
    availableNow epochs is EXACTLY the offline prefix sketch (no
    tolerance), the same union property i53 proves for HLL registers.
    Per epoch the read-out answers p50/p95/p99 as the first bucket
    whose cumulative count reaches ceil(q*n/100), and the output PINS
    the DDSketch accuracy contract as an identity: the true rank-r
    value's own bucket equals the sketch's answer bucket —
    gridln(true_q) // 25e6 == bucket — checked as a boolean column.

    The value stream is md5-derived (1 + (hv//64) % 1e6 per token), so
    both engines fold identical integers; the true quantile side is an
    exact distinct-value cumulative count (bounded by the 1e6 value
    grid), not a global row sort.

    Scale: state is one BIGINT per occupied bucket, bounded by the
    ~560-bucket log grid — corpus-independent, the property that makes
    DDSketch the production latency-quantile sketch; per-epoch work is
    one map-side bucket hash + the bounded stateful shuffle."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.streaming.state import GroupState

    cache = _docs_token_slices_dir(spark, sf_dir)

    def fold(key, pdfs, state: GroupState):
        (idx,) = key
        rows = pd.concat(list(pdfs))
        ep = int(rows["epoch"].max())
        c = (state.get[0] if state.exists else 0) + len(rows)
        state.update((c,))
        yield pd.DataFrame(
            {"idx": [int(idx)], "epoch": [ep], "c": [c]}
        )

    hv = F.conv(F.substring(F.md5("token"), 1, 12), 16, 10).cast("bigint")
    v = F.lit(1) + F.expr(
        "CAST(conv(substring(md5(token), 1, 12), 16, 10) AS BIGINT)"
        " DIV 64"
    ) % 1_000_000
    outdir = _fold_slices(
        spark,
        cache,
        "epoch int, token string",
        "idx",
        fold,
        "idx long, epoch long, c long",
        "c long",
        prep=lambda src: (
            src.select("epoch", v.alias("v"))
            .select(
                "epoch",
                F.expr(
                    "CAST(FLOOR(ln(v) * 1e9) AS BIGINT) DIV 25000000"
                ).alias("idx"),
            )
        ),
    )

    em = spark.read.schema("idx long, epoch long, c long").parquet(outdir)
    epochs = spark.range(4).select(F.col("id").cast("bigint").alias("epoch"))
    # cumulative bucket counts at each epoch = the latest state emission
    # at or before it (counts are cumulative in state)
    cum = pin(
        em.select(
            F.col("idx").alias("ei"),
            F.col("epoch").alias("eep"),
            F.col("c").alias("ev"),
        )
        .crossJoin(F.broadcast(epochs))
        .where(F.col("eep") <= F.col("epoch"))
        .groupBy(F.col("ei").alias("idx"), "epoch")
        .agg(F.max_by("ev", "eep").cast("bigint").alias("c"))
    )
    stats = cum.groupBy("epoch").agg(
        F.sum("c").cast("bigint").alias("n_values"),
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum(F.col("idx") * F.col("c")).cast("bigint").alias("bucket_chk"),
    )
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(50), F.lit(95), F.lit(99))).alias("q")
    )
    ranks = stats.crossJoin(F.broadcast(qs)).select(
        "epoch",
        "q",
        F.expr("(q * n_values + 99) DIV 100").alias("r"),
    )
    w_cum = Window.partitionBy("epoch").orderBy("idx")
    cumsum = cum.withColumn("cc", F.sum("c").over(w_cum))
    skq = (
        ranks.alias("r")
        .join(
            cumsum.alias("cs"),
            (F.col("cs.epoch") == F.col("r.epoch"))
            & (F.col("cs.cc") >= F.col("r.r")),
        )
        .groupBy(F.col("r.epoch").alias("epoch"), F.col("r.q").alias("q"))
        .agg(F.min("cs.idx").alias("bucket"))
    )
    # exact true quantiles from the prefix value distribution
    d = load_table(spark, sf_dir, "documents")
    hi = d.agg(F.max("doc_id")).first()[0]
    vals = d.select(
        F.least(F.lit(3), (F.col("doc_id") * 4 / (hi + 1)).cast("int"))
        .cast("bigint")
        .alias("tep"),
        F.explode(F.split("text", " ")).alias("token"),
    ).select("tep", v.alias("v"))
    vcnt = (
        vals.crossJoin(F.broadcast(epochs.withColumnRenamed("epoch", "e")))
        .where(F.col("tep") <= F.col("e"))
        .groupBy(F.col("e").alias("vep"), "v")
        .agg(F.count("*").alias("vc"))
    )
    w_v = Window.partitionBy("vep").orderBy("v")
    vcum = vcnt.withColumn("vcc", F.sum("vc").over(w_v))
    tq = (
        ranks.alias("r")
        .join(
            vcum.alias("vv"),
            (F.col("vv.vep") == F.col("r.epoch"))
            & (F.col("vv.vcc") >= F.col("r.r")),
        )
        .groupBy(F.col("r.epoch").alias("tep_"), F.col("r.q").alias("tq_"))
        .agg(F.min("vv.v").alias("true_v"))
    )
    both = skq.join(
        tq,
        (F.col("tep_") == F.col("epoch")) & (F.col("tq_") == F.col("q")),
    ).select("epoch", "q", "bucket", "true_v")
    wide = (
        stats.join(both, "epoch")
        .groupBy("epoch", "n_values", "n_buckets", "bucket_chk")
        .agg(
            F.max(F.when(F.col("q") == 50, F.col("bucket"))).alias(
                "p50_bucket"
            ),
            F.max(F.when(F.col("q") == 50, F.col("true_v"))).alias(
                "true_p50"
            ),
            F.max(F.when(F.col("q") == 95, F.col("bucket"))).alias(
                "p95_bucket"
            ),
            F.max(F.when(F.col("q") == 95, F.col("true_v"))).alias(
                "true_p95"
            ),
            F.max(F.when(F.col("q") == 99, F.col("bucket"))).alias(
                "p99_bucket"
            ),
            F.max(F.when(F.col("q") == 99, F.col("true_v"))).alias(
                "true_p99"
            ),
        )
    )

    def bchk(val, bkt):
        return (
            F.expr(f"CAST(FLOOR(ln({val}) * 1e9) AS BIGINT) DIV 25000000")
            == F.col(bkt)
        )

    return wide.select(
        "epoch",
        "n_values",
        "n_buckets",
        "bucket_chk",
        "p50_bucket",
        "true_p50",
        bchk("true_p50", "p50_bucket").alias("p50_ok"),
        "p95_bucket",
        "true_p95",
        bchk("true_p95", "p95_bucket").alias("p95_ok"),
        "p99_bucket",
        "true_p99",
        bchk("true_p99", "p99_bucket").alias("p99_ok"),
    ).orderBy("epoch")


_QGATE_QUOTA = 4000


def _docs_gate_slices_dir(spark: SparkSession, sf_dir: str) -> str:
    """Cache the documents table as four doc_id-quartile slices of
    (epoch, doc_id, source, n_chars) rows — the ingest feed for the
    per-source budget gate."""

    def build(tmp: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        hi = d.agg(F.max("doc_id")).first()[0]
        rows = d.select(
            F.least(
                F.lit(3), (F.col("doc_id") * 4 / (hi + 1)).cast("int")
            ).alias("epoch"),
            "doc_id",
            "source",
            "n_chars",
        )
        _write_slices(rows, tmp, 4)

    return cached_dir(sf_dir, "documents", "gate-slices-x4", build)


@register(
    "i56_stream_quality_gate",
    survey_id="EXT-STREAM-QGATE",
    category="streaming",
    mode="parity",
    oracle=f"""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
d AS (
  SELECT source, doc_id, n_chars,
         LEAST(3, CAST(doc_id * 4 // (mx.m + 1) AS INT)) AS tep
  FROM documents CROSS JOIN mx
),
cum AS (
  SELECT source, doc_id, n_chars, tep,
         SUM(n_chars) OVER (
           PARTITION BY source ORDER BY tep, doc_id
           ROWS UNBOUNDED PRECEDING) <= {_QGATE_QUOTA} AS kept
  FROM d
),
pres AS (SELECT DISTINCT source, tep FROM d)
SELECT p.source, CAST(p.tep AS BIGINT) AS epoch,
       CAST(SUM(CASE WHEN c.kept THEN 1 ELSE 0 END) AS BIGINT)
         AS kept_n,
       CAST(SUM(CASE WHEN c.kept THEN c.n_chars ELSE 0 END) AS BIGINT)
         AS kept_bytes,
       CAST(SUM(CASE WHEN c.kept THEN 0 ELSE 1 END) AS BIGINT)
         AS dropped_n
FROM pres p JOIN cum c ON c.source = p.source AND c.tep <= p.tep
GROUP BY p.source, p.tep
ORDER BY p.source, p.tep
""",
)
def i56_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE PER-SOURCE INGEST BUDGET GATE — the crawl-politeness /
    source-quota step of a streaming curation pipeline: documents
    arrive in 4 doc_id-quartile epochs; each SOURCE carries a keyed
    byte budget ({_QGATE_QUOTA} B), and a document is admitted iff the
    source's cumulative ARRIVED bytes (admission order = doc_id within
    the stream) has not yet crossed the budget — once a source talks
    past its quota, everything further from it drops. State per source
    is three integers (seen bytes, kept count/bytes, dropped count);
    each epoch's drain emits that source's CUMULATIVE gate card.

    Parity: the arrived-bytes gate is a prefix predicate, so the
    online trajectory equals the offline window cumsum (<= quota) over
    (epoch, doc_id) order — the oracle replays every epoch prefix and
    the whole grid hash-matches (exact integers, no tolerance).

    Scale: state is O(#sources), corpus-independent; per-epoch work is
    one keyed stateful shuffle on source; at 100 TB the gate runs in
    the ingest stream exactly like this, sharded by source key."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    cache = _docs_gate_slices_dir(spark, sf_dir)

    def gate(key, pdfs, state: GroupState):
        (source,) = key
        rows = pd.concat(list(pdfs)).sort_values("doc_id")
        ep = int(rows["epoch"].max())
        if state.exists:
            seen, kn, kb, dn = state.get
        else:
            seen, kn, kb, dn = 0, 0, 0, 0
        for n in rows["n_chars"]:
            seen += int(n)
            if seen <= _QGATE_QUOTA:
                kn += 1
                kb += int(n)
            else:
                dn += 1
        state.update((seen, kn, kb, dn))
        yield pd.DataFrame(
            {
                "source": [source],
                "epoch": [ep],
                "kept_n": [kn],
                "kept_bytes": [kb],
                "dropped_n": [dn],
            }
        )

    outdir = _fold_slices(
        spark,
        cache,
        "epoch int, doc_id long, source string, n_chars long",
        "source",
        gate,
        "source string, epoch long, kept_n long, "
        "kept_bytes long, dropped_n long",
        "seen long, kn long, kb long, dn long",
    )

    return (
        spark.read.schema(
            "source string, epoch long, kept_n long, kept_bytes long, "
            "dropped_n long"
        )
        .parquet(outdir)
        .orderBy("source", "epoch")
    )
