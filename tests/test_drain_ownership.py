"""Ownership of a streaming drain's temporary resources.

Every ``availableNow`` pass in the package and its tools goes through
``streaming_q._drain``, which owns its checkpoint and its
state-partition conf; ``_drive_epochs`` owns the one checkpoint a
multi-epoch drive restarts from; ``_drain_to_memory`` drops its
memory-sink view and ``_fold_slices`` removes its ingest copy.
Session-conf overrides anywhere in the package
go through ``session.scoped_conf``. These tests pin that a query leaves
none of those behind, and that the session conf reads the same after a
query as before it.
"""

from __future__ import annotations

import glob
import inspect
import re
import tempfile
from pathlib import Path

import pytest

from nibbler_spark.oracle import compare
from nibbler_spark.queries import load_all
from nibbler_spark.session import scoped_conf

_KEY = "spark.nibbler.test.scoped"


def test_scoped_conf_restores_a_set_key(spark):
    spark.conf.set(_KEY, "before")
    try:
        with scoped_conf(spark, {_KEY: "inside"}):
            assert spark.conf.get(_KEY) == "inside"
        assert spark.conf.get(_KEY) == "before"
    finally:
        spark.conf.unset(_KEY)


def test_scoped_conf_unsets_an_unset_key(spark):
    assert spark.conf.get(_KEY, None) is None
    with scoped_conf(spark, {_KEY: "inside"}):
        assert spark.conf.get(_KEY) == "inside"
    assert spark.conf.get(_KEY, None) is None


def test_scoped_conf_restores_both_when_the_body_raises(spark):
    other = _KEY + ".other"
    spark.conf.set(_KEY, "before")
    try:
        with pytest.raises(RuntimeError, match="body"):
            with scoped_conf(spark, {_KEY: "inside", other: "inside"}):
                raise RuntimeError("body")
        assert spark.conf.get(_KEY) == "before"
        assert spark.conf.get(other, None) is None
    finally:
        spark.conf.unset(_KEY)


_BLOOM = "spark.sql.optimizer.runtime.bloomFilter"


@pytest.mark.parametrize(
    "name,keys",
    [
        (
            "ext_runtime_bloom_filter_join",
            [
                f"{_BLOOM}.enabled",
                f"{_BLOOM}.creationSideThreshold",
                f"{_BLOOM}.applicationSideScanSizeThreshold",
                "spark.sql.autoBroadcastJoinThreshold",
            ],
        ),
        ("ext_bucketed_join", ["spark.sql.autoBroadcastJoinThreshold"]),
        (
            "ext_parquet_agg_pushdown",
            [
                "spark.sql.parquet.aggregatePushdown",
                "spark.sql.sources.useV1SourceList",
            ],
        ),
        ("ext_join_strategy_hints", ["spark.sql.autoBroadcastJoinThreshold"]),
        ("j16_arrow_python_udf", ["spark.sql.execution.pythonUDF.arrow.enabled"]),
        (
            "ext_rocksdb_state_store",
            ["spark.sql.streaming.stateStore.providerClass"],
        ),
        (
            "ext_incremental_rollup",
            [
                "spark.sql.sources.partitionOverwriteMode",
                "spark.sql.shuffle.partitions",
            ],
        ),
    ],
)
def test_conf_override_queries_leave_session_conf_unchanged(
    name, keys, spark, sf_dir
):
    before = {k: spark.conf.get(k, None) for k in keys}
    load_all()[name].spark(spark, sf_dir).collect()
    assert {k: spark.conf.get(k, None) for k in keys} == before


@pytest.mark.parametrize(
    "name",
    [
        "i01_tumbling_window_parity",  # memory drain
        "i04_watermark_late_drop_golden",  # restarts from its own checkpoint
        "i45_stream_vocab_growth",  # fold over staged slices
        "i54_stream_join_fold_compose",  # join pass staging a fold's epochs
    ],
)
def test_streaming_query_leaves_no_drain_debris(
    name, spark, duck, sf_dir, tmp_path, monkeypatch
):
    # A private temp root, so only this query's entries are seen.
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    spec = load_all()[name]
    views_before = {t.name for t in spark.catalog.listTables()}
    shuffle_before = spark.conf.get("spark.sql.shuffle.partitions", None)
    report = compare(name, spec.spark(spark, sf_dir), duck, spec.oracle)
    assert report.ok, str(report)
    assert glob.glob(str(tmp_path / "nibbler-ck-*")) == []
    assert glob.glob(str(tmp_path / "nibbler-*" / "ckpt*")) == []
    assert glob.glob(str(tmp_path / "nibbler-*" / "ingest")) == []
    new_views = {t.name for t in spark.catalog.listTables()} - views_before
    assert [v for v in new_views if v.startswith("mem_")] == []
    assert spark.conf.get("spark.sql.shuffle.partitions", None) == shuffle_before


def test_streaming_q_has_one_drain():
    """Source guard: one ``availableNow`` trigger across
    ``nibbler_spark/`` and ``tools/`` (in ``_drain``), no hand-set
    state-partition conf and no env knob for it."""
    import nibbler_spark.queries.streaming_q as sq

    repo = Path(sq.__file__).resolve().parents[2]
    found = [
        f"{path.relative_to(repo)}: {n}"
        for top in ("nibbler_spark", "tools")
        for path in sorted((repo / top).rglob("*.py"))
        if (n := path.read_text().count("trigger(availableNow=True)"))
    ]
    assert found == ["nibbler_spark/queries/streaming_q.py: 1"]
    assert "trigger(availableNow=True)" in inspect.getsource(sq._drain)
    src = Path(sq.__file__).read_text()
    assert not re.search(
        r"conf\.set\(\s*[\"']spark\.sql\.shuffle\.partitions", src
    )
    assert "NIBBLER_STREAM_STATE_PARTITIONS" not in src

