"""Structured Streaming transport for the micro-batcher core.

The distributed equivalent of the reference's channel + listener
goroutine (SURVEY §3.2): a streaming source (file-drop dir, Kafka, rate)
feeds micro-batches through ``foreachBatch`` into the driver-side
:class:`~nibbler_spark.streaming.rebatcher.ReBatcher`, which enforces the
size-OR-time flush contract (the part Spark's time-only triggers can't
express). Admission control (``maxFilesPerTrigger`` /
``maxOffsetsPerTrigger``) plays the bounded queue's backpressure role
(reference: nibbler.go:184; Spark is pull-based so "producer blocks"
becomes "source admits ≤ size per trigger" — documented divergence R3).

Driver-side collection inside ``foreachBatch`` is bounded by ``size`` by
construction, so this is safe at any cluster scale — the heavy lifting
(reading/filtering 100 TB) stays on executors; only the admitted rows of
each micro-batch cross to the driver, exactly like the reference's
in-memory batch. Each non-empty micro-batch is one Spark job (one stage)
that collects the rows as the source produced them; FIFO order is then
restored on the driver, by the order column, before the re-batcher sees
them. Two Spark-side orders were measured and rejected: a global
``orderBy`` range-partitions the rows (3 jobs per micro-batch: a sampling
job that reads the source a second time, then a shuffle), and
``coalesce(1).sortWithinPartitions`` is one job but its sorter takes a
full execution-memory page per task (``spark.buffer.pageSize``, 32 MiB at
both the 2g and the 4g driver heap measured) for the ~100 rows a
micro-batch holds.

At-most-once fidelity (SURVEY §2.2.1): the reference drops failed batches
and never retries. We therefore run WITHOUT checkpoint-replay semantics
by default: the stream's own checkpoint is a fresh local dir, never
replayed, and removed at ``stop()``. Checkpoint-based recovery is an
explicit extension knob (``checkpoint_dir=``), which keeps Spark's
default checkpoint handling and leaves the dir on disk.

The re-batcher owns every stop. ``NibblerStream.fatal_error`` reads it
(the attribute ``rebatcher`` is looked up on every call, so it can be
swapped), and the stream keeps no fatal state of its own. When a
micro-batch or a poller TICKER flush raises a :class:`NibblerError`, the
stream stops its query; ``await_termination()`` then re-raises the
fatal error. ``stop()`` stops the poller and the query, removes an owned
checkpoint, and flushes the partial batch from the caller's thread when
``flush=True`` and the re-batcher has not stopped.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading
import time
import uuid

from pyspark.sql import DataFrame, Row, SparkSession

from nibbler_spark.config import Config
from nibbler_spark.errors import (
    NibblerError,
    NibblerFatalError,
    NibblerStoppedError,
    NibblerValidationError,
)
from nibbler_spark.session import scoped_conf
from nibbler_spark.streaming.rebatcher import ReBatcher

# Checkpoint file manager for a checkpoint the stream owns. Spark's default
# (FileContext-based) forks `readlink`/`chmod` on every offsets/commits log
# write on a local FS: 68 process forks per one-file micro-batch, against
# 43 with the FileSystem-based manager (4-vCPU VM). The latter is safe for
# a fresh, never-replayed local dir, where POSIX rename is atomic. With the
# one-job collect in _foreach_batch, process-tree CPU per admitted file
# fell from 795 to 608 ms (medians of 10 runs each, same VM).
_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
# Serializes the set/start/restore of the session-wide key, so a concurrent
# start() can neither pick up nor leave behind another stream's override.
_START_LOCK = threading.Lock()


def _restore_fifo(rows: list[Row], order_column: str) -> list[Row]:
    """``rows`` sorted on ``order_column``, rebuilt as Rows without it.

    The file scan packs a micro-batch's files into partitions largest
    first, so the collected order is not the admission order. Each file
    arrives as one ascending run, which timsort merges in linear time per
    run. Nulls sort first, as in Spark's ascending sort: a malformed JSON
    line reads as a row of nulls and must not fail the micro-batch.
    """
    fields = rows[0].__fields__
    pos = fields.index(order_column)
    make = Row(*fields[:pos], *fields[pos + 1 :])
    rows.sort(key=lambda r: (r[pos] is not None, r[pos]))
    return [make(*r[:pos], *r[pos + 1 :]) for r in rows]


class FileDropReceiver:
    """Push endpoint backed by a watched directory (R15/A11).

    ``send`` spools items as JSON-lines files written atomically
    (tmp + rename) into the directory a streaming query watches. The
    production equivalent is a Kafka topic; this adapter exists so the
    embedded-library workflow (and tests) can push items with no broker.
    """

    def __init__(self, directory: str, stream: "NibblerStream | None" = None):
        self.directory = directory
        os.makedirs(directory, exist_ok=True)
        self._stream = stream
        self._seq = 0
        # Spark's file source admits files oldest-modification-time first,
        # at millisecond resolution — rapid sends collide and arrive out of
        # order. Stamp strictly increasing mtimes to keep admission FIFO.
        self._mtime_ns = time.time_ns()

    def send(self, item) -> None:
        self.send_many([item])

    def send_many(self, items) -> None:
        if self._stream is not None and self._stream.fatal_error is not None:
            raise NibblerStoppedError(
                f"send after fatal stop: {self._stream.fatal_error!r}"
            )
        lines = []
        for it in items:
            self._seq += 1
            record = dict(it) if isinstance(it, dict) else {"value": it}
            # Global sequence number: restores FIFO within a micro-batch
            # (NibblerStream's driver-side sort is the cross-row order
            # authority; file mtime only orders admission across
            # micro-batches).
            record["__seq"] = self._seq
            lines.append(json.dumps(record))
        name = f"{time.time_ns():020d}-{self._seq:09d}-{uuid.uuid4().hex[:8]}.json"
        tmp = os.path.join(self.directory, f".{name}.tmp")
        dst = os.path.join(self.directory, name)
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        self._mtime_ns = max(self._mtime_ns + 1_000_000, time.time_ns())
        os.utime(tmp, ns=(self._mtime_ns, self._mtime_ns))
        os.rename(tmp, dst)  # atomic: the source never sees partial files


class NibblerStream:
    """Micro-batcher running on a Structured Streaming source (R14).

    ``source`` is any streaming DataFrame (``spark.readStream...``); rows
    arrive at the re-batcher in micro-batch order. ``start()`` returns
    immediately with the running query (≡ ``go bat.Listen()``).
    """

    def __init__(
        self,
        spark: SparkSession,
        config: Config,
        source: DataFrame,
        *,
        checkpoint_dir: str | None = None,
        order_column: str | None = None,
    ):
        # When set, each micro-batch is sorted on this column on the
        # driver and the column is stripped before rows reach the
        # processor (the file receiver's __seq). Sources with inherent
        # order (Kafka per partition) leave it None. Checked once here,
        # not per micro-batch.
        if order_column is not None and order_column not in source.columns:
            raise NibblerValidationError(
                f"validation: order_column {order_column!r} is not a column "
                f"of the source {source.columns}"
            )
        self.spark = spark
        self.rebatcher = ReBatcher(config)
        self.cfg = self.rebatcher.cfg
        self._source = source
        # The stream owns (and removes at stop()) a checkpoint it made.
        self._owns_checkpoint = checkpoint_dir is None
        self._checkpoint = checkpoint_dir or tempfile.mkdtemp(
            prefix="nibbler-ckpt-"
        )
        # Trigger/poll cadence: a fraction of the ticker so TICKER flushes
        # land close to their deadline (SURVEY §4.3 step 1).
        self._cadence = max(0.1, min(1.0, self.cfg.ticker_s / 10))
        self._order_column = order_column
        self.query = None
        self._poller: threading.Thread | None = None
        self._stop_poller = threading.Event()

    @property
    def fatal_error(self) -> BaseException | None:
        return self.rebatcher.fatal_error

    def _fail(self) -> None:
        # The rebatcher has stopped: stop consuming, like the reference
        # closes the queue (R9); await_termination() re-raises its error.
        try:
            if self.query is not None:
                self.query.stop()
        except Exception:
            pass

    def _foreach_batch(self, df: DataFrame, epoch_id: int) -> None:
        if self.fatal_error is not None:
            raise NibblerFatalError(self.fatal_error)
        # Bounded by source admission control ≈ size rows per trigger, so
        # a driver-side collect here mirrors the reference's in-memory
        # batch (SURVEY §2.3 design rule exception). For the same reason
        # the FIFO order is restored on the driver, after the one-job
        # collect. Rejected: a global orderBy range-partitions the rows
        # (3 jobs, 4 stages per micro-batch); coalesce(1) plus
        # sortWithinPartitions is one job, but its sorter allocates a
        # 32 MiB execution-memory page per micro-batch (stage
        # peakExecutionMemory 33,619,952 B, against 0 here).
        rows = df.collect()
        if self._order_column is not None and rows:
            rows = _restore_fifo(rows, self._order_column)
        try:
            self.rebatcher.push_many(rows)
        except NibblerError:
            self._fail()
            raise

    def _poll_loop(self) -> None:
        while not self._stop_poller.wait(self._cadence):
            try:
                self.rebatcher.poll()
            except NibblerError:
                self._fail()
                return

    def start(self) -> "NibblerStream":
        writer = (
            self._source.writeStream.foreachBatch(self._foreach_batch)
            .option("checkpointLocation", self._checkpoint)
            .trigger(processingTime=f"{int(self._cadence * 1000)} milliseconds")
        )
        # The offsets and commits logs pick their file manager up while
        # writer.start() builds the query, so the override is scoped to
        # that call. The file source's sources/0 log is made later, on the
        # stream thread, and keeps Spark's default. Leaving the key set
        # session-wide also covers that log (20 forks per micro-batch) but
        # read no lower CPU per file (503 against 497 ms, medians of 3
        # runs), and it would change every other stream in the session.
        overrides = (
            {_CKPT_MANAGER_KEY: _CKPT_MANAGER} if self._owns_checkpoint else {}
        )
        with _START_LOCK, scoped_conf(self.spark, overrides):
            self.query = writer.start()
        self._poller = threading.Thread(
            target=self._poll_loop, name="nibbler-ticker", daemon=True
        )
        self._poller.start()
        return self

    def stop(self, flush: bool = True) -> None:
        self._stop_poller.set()
        if self.query is not None:
            # Let in-flight micro-batches land before stopping.
            try:
                while self.query.isActive and self.query.status[
                    "isTriggerActive"
                ]:
                    time.sleep(0.05)
            except Exception:
                pass
            self.query.stop()
        if self._poller is not None:
            self._poller.join(timeout=5)
        if self._owns_checkpoint:
            shutil.rmtree(self._checkpoint, ignore_errors=True)
        if flush:
            try:
                self.rebatcher.flush()
            except NibblerError:
                pass  # stopped: the rebatcher holds the fatal error

    def await_termination(self, timeout: float | None = None) -> None:
        """Block until the query ends; re-raise a fatal processor error
        (≡ awaitTermination surfacing StreamingQueryException, R9)."""
        if self.query is not None:
            self.query.awaitTermination(timeout)
        if self.fatal_error is not None:
            raise NibblerFatalError(self.fatal_error)


def start_file_stream(
    spark: SparkSession,
    config: Config,
    directory: str,
    value_schema: str = "value string",
    max_files_per_trigger: int = 1,
) -> tuple[NibblerStream, FileDropReceiver]:
    """Convenience: NibblerStream over a JSON file-drop dir + its receiver.

    ``max_files_per_trigger`` is the admission-control knob (R3): each
    spooled file is one producer send, so one file per trigger keeps
    arrival order deterministic in tests. It must be a positive ``int``:
    Spark would only reject it on the stream thread, after ``start()``
    returned, leaving a dead query that sends still spool into.
    """
    if (
        isinstance(max_files_per_trigger, bool)
        or not isinstance(max_files_per_trigger, int)
        or max_files_per_trigger < 1
    ):
        raise NibblerValidationError(
            "validation: max_files_per_trigger must be a positive int, "
            f"got {max_files_per_trigger!r}"
        )
    os.makedirs(directory, exist_ok=True)
    source = (
        spark.readStream.schema(f"__seq long, {value_schema}")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(directory)
    )
    stream = NibblerStream(spark, config, source, order_column="__seq")
    receiver = FileDropReceiver(directory, stream=stream)
    return stream.start(), receiver
