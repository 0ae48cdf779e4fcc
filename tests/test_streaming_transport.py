"""Structured Streaming transport smoke tests (SURVEY §4.3 / I11-I12):
the re-batcher semantics riding a real file-drop streaming source."""

from __future__ import annotations

import glob
import os
import tempfile
import threading
import time

import pytest
from pyspark.sql import Row

from nibbler_spark.config import Config, Trigger
from nibbler_spark.errors import NibblerStoppedError, NibblerValidationError
from nibbler_spark.streaming.transport import (
    FileDropReceiver,
    NibblerStream,
    _restore_fifo,
    start_file_stream,
)

_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _wait_delivered(stream, got, lock, n, timeout=90.0):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        with lock:
            flushed = sum(len(b) for b, _ in got)
        if flushed + stream.rebatcher.buffered >= n:
            return
        time.sleep(0.1)


def _file_manager(query, log: str) -> str:
    """Class name of the checkpoint file manager behind a query's log."""
    jlog = getattr(query._jsq.streamingQuery(), log)()
    return jlog.fileManager().getClass().getSimpleName()


def _stream_jobs(spark, query) -> list[list[int]]:
    """Stage ids of each Spark job the query ran, from the status store
    (stream jobs carry the query's runId as their job group)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
    run_id = str(query.runId)
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = job.jobGroup()
        if group.isDefined() and group.get() == run_id:
            ids = job.stageIds()
            out.append([ids.apply(k) for k in range(ids.size())])
    return out


def _peak_execution_memory(spark, stage_ids) -> dict[int, int]:
    """peakExecutionMemory of the given stages, read from the status store
    with the Scala defaults of stageList made explicit (as in
    nibbler_spark.stage_metrics._stage_rows)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(),  # all statuses
        False,  # details
        False,  # withSummaries
        sc._gateway.new_array(jvm.double, 0),  # unsortedQuantiles
        jvm.java.util.ArrayList(),  # taskStatus
    )
    wanted = set(stage_ids)
    out = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() in wanted:
            out[s.stageId()] = s.peakExecutionMemory()
    return out


def test_file_stream_batches_and_order(spark):
    got: list[tuple[list, Trigger]] = []
    lock = threading.Lock()

    def processor(_dl, trig, batch):
        with lock:
            got.append(([r["value"] for r in batch], trig))

    # Ticker far in the future so flush boundaries are purely size-driven
    # (file-drop delivery is slow relative to realistic tickers).
    stream, receiver = start_file_stream(
        spark,
        Config(processor=processor, size=4, ticker_s=300.0),
        tempfile.mkdtemp(prefix="nibbler-src-"),
    )
    try:
        for i in range(10):
            receiver.send(f"x:{i}")
        _wait_delivered(stream, got, lock, 10)
    finally:
        stream.stop(flush=True)  # drains the 2 leftover items

    assert got == [
        (["x:0", "x:1", "x:2", "x:3"], Trigger.BATCH_FULL),
        (["x:4", "x:5", "x:6", "x:7"], Trigger.BATCH_FULL),
        (["x:8", "x:9"], Trigger.TICKER),
    ]


def test_file_stream_fatal_stop_blocks_sends(spark):
    """R9 through the transport: processor error without resume ⇒ query
    stops, receiver raises NibblerStoppedError (≡ send on closed channel)."""
    failed = threading.Event()

    def processor(_dl, _trig, _batch):
        raise RuntimeError("boom")

    def processor_err(batch, err):
        failed.set()

    stream, receiver = start_file_stream(
        spark,
        Config(
            processor=processor,
            size=2,
            ticker_s=0.5,
            processor_err=processor_err,
        ),
        tempfile.mkdtemp(prefix="nibbler-src-"),
    )
    try:
        receiver.send("hello")
        assert failed.wait(timeout=60.0)
        deadline = time.monotonic() + 30
        while stream.fatal_error is None and time.monotonic() < deadline:
            time.sleep(0.1)
        assert stream.fatal_error is not None
        with pytest.raises(NibblerStoppedError):
            receiver.send("again")
    finally:
        stream.stop(flush=False)


@pytest.mark.parametrize("items", [["hello"], ["a", "b"]], ids=["ticker", "micro_batch"])
def test_file_stream_err_callback_raising_is_a_fatal_stop(spark, items):
    """An error callback that raises, from the poller's TICKER flush or
    from a micro-batch's BATCH_FULL flush, is surfaced as a fatal stop
    rather than a query that dies while sends still succeed."""
    callback_err = ValueError("callback failed")

    def processor(_dl, _trig, _batch):
        raise RuntimeError("boom")

    def processor_err(_batch, _err):
        raise callback_err

    stream, receiver = start_file_stream(
        spark,
        Config(processor=processor, size=2, ticker_s=0.5, processor_err=processor_err),
        tempfile.mkdtemp(prefix="nibbler-src-"),
    )
    try:
        receiver.send_many(items)
        deadline = time.monotonic() + 60
        while stream.fatal_error is None and time.monotonic() < deadline:
            time.sleep(0.1)
        assert stream.fatal_error is callback_err
        with pytest.raises(NibblerStoppedError):
            receiver.send("again")
    finally:
        stream.stop(flush=False)


def test_order_column_checked_at_construction(spark, tmp_path):
    source = spark.readStream.schema("value string").json(str(tmp_path))
    with pytest.raises(NibblerValidationError, match="__seq"):
        NibblerStream(spark, Config(processor=print), source, order_column="__seq")


def test_multi_file_micro_batches_keep_fifo(spark, tmp_path):
    """Admission of 4 files per trigger: micro-batches span several files.
    File f holds f + 1 items, and the file scan packs a micro-batch's
    files into partitions largest first, so the rows are collected newest
    file first; the driver-side sort on __seq is what restores FIFO, and
    __seq never reaches the processor. A caller-supplied checkpoint keeps
    Spark's default file manager and stays on disk."""
    got: list[tuple[list, Trigger]] = []
    fields: set[tuple] = set()
    lock = threading.Lock()

    def processor(_dl, trig, batch):
        with lock:
            got.append(([r["value"] for r in batch], trig))
            fields.update(tuple(r.asDict()) for r in batch)

    directory = str(tmp_path / "src")
    checkpoint = str(tmp_path / "ckpt")
    # Spool every file before the stream starts, so the first triggers
    # each admit a full 4 files.
    receiver = FileDropReceiver(directory)
    files = 20
    n = files * (files + 1) // 2
    sent = 0
    for f in range(files):
        receiver.send_many([f"x:{sent + k}" for k in range(f + 1)])
        sent += f + 1
    source = (
        spark.readStream.schema("__seq long, value string")
        .option("maxFilesPerTrigger", 4)
        .json(directory)
    )
    stream = NibblerStream(
        spark,
        Config(processor=processor, size=5, ticker_s=300.0),
        source,
        checkpoint_dir=checkpoint,
        order_column="__seq",
    ).start()
    try:
        _wait_delivered(stream, got, lock, n)
        manager = _file_manager(stream.query, "offsetLog")
    finally:
        stream.stop(flush=True)  # lets the last trigger report its progress

    rows = [p["numInputRows"] for p in stream.query.recentProgress]
    assert [v for b, _ in got for v in b] == [f"x:{i}" for i in range(n)]
    assert [len(b) for b, _ in got] == [5] * (n // 5)
    assert fields == {("value",)}
    assert max(rows) > files  # some micro-batch spans several files
    # the source is read once per micro-batch (a global sort's sampling
    # job read it twice, doubling numInputRows)
    assert sum(rows) == n
    assert manager == "FileContextBasedCheckpointFileManager"
    assert os.path.isdir(checkpoint)


def test_micro_batch_is_one_job_and_owned_checkpoint_is_removed(
    spark, tmp_path, monkeypatch
):
    """Each non-empty micro-batch is one Spark job, and none of its stages
    takes execution memory (no sorter page); the checkpoint file manager
    override is scoped to start() and leaves the session conf as it was;
    the stream's own checkpoint dir is gone after stop()."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    got: list[tuple[list, Trigger]] = []
    lock = threading.Lock()

    def processor(_dl, trig, batch):
        with lock:
            got.append(([r["value"] for r in batch], trig))

    before = spark.conf.get(_CKPT_MANAGER_KEY, None)
    stream, receiver = start_file_stream(
        spark,
        Config(processor=processor, size=4, ticker_s=300.0),
        str(tmp_path / "src"),
    )
    try:
        assert spark.conf.get(_CKPT_MANAGER_KEY, None) == before
        assert glob.glob(str(tmp_path / "nibbler-ckpt-*"))
        for i in range(6):
            receiver.send_many([f"x:{2 * i}", f"x:{2 * i + 1}"])
        _wait_delivered(stream, got, lock, 12)
        managers = {_file_manager(stream.query, log) for log in ("offsetLog", "commitLog")}
    finally:
        stream.stop(flush=True)  # lets the last trigger report its progress

    batches = sum(p["numInputRows"] > 0 for p in stream.query.recentProgress)
    jobs = _stream_jobs(spark, stream.query)
    stage_ids = [i for ids in jobs for i in ids]
    peaks = _peak_execution_memory(spark, stage_ids)
    assert batches == 6
    assert len(jobs) == batches
    assert sorted(peaks) == sorted(stage_ids)
    assert set(peaks.values()) == {0}
    assert managers == {"FileSystemBasedCheckpointFileManager"}
    assert [v for b, _ in got for v in b] == [f"x:{i}" for i in range(12)]
    assert glob.glob(str(tmp_path / "nibbler-ckpt-*")) == []


@pytest.mark.parametrize("bad", [0, -1, True, 1.5], ids=["zero", "negative", "bool", "float"])
def test_bad_admission_limit_rejected_before_start(spark, tmp_path, bad):
    """A limit Spark would reject on the stream thread is refused up front:
    no query starts and no source dir is made."""
    directory = tmp_path / "src"
    active = len(spark.streams.active)
    with pytest.raises(NibblerValidationError, match="max_files_per_trigger"):
        start_file_stream(
            spark, Config(processor=print), str(directory), max_files_per_trigger=bad
        )
    assert len(spark.streams.active) == active
    assert not directory.exists()


def test_restore_fifo_sorts_nulls_first_and_drops_the_column():
    rows = [
        Row(a=3, __seq=3, b="c"),
        Row(a=None, __seq=None, b=None),
        Row(a=1, __seq=1, b="a"),
        Row(a=2, __seq=2, b="b"),
    ]
    out = _restore_fifo(rows, "__seq")
    assert [r.asDict() for r in out] == [
        {"a": None, "b": None},
        {"a": 1, "b": "a"},
        {"a": 2, "b": "b"},
        {"a": 3, "b": "c"},
    ]
    assert out[1]["b"] == "a" and out[1].b == "a"
