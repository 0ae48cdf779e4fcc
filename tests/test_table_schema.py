"""``load_table`` reads each table file's schema once per file version and
inference confs (``sources/tables.py``): a repeated load runs no Spark
job, plans match an uncached read, and a rewritten file or a flipped
inference conf is read again. Also guards the one way to name a fixture
file inside the registry (``table_path``)."""

from __future__ import annotations

import ast
import os
import re
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nibbler_spark.queries import load_all
from nibbler_spark.session import scoped_conf
from nibbler_spark.sources import tables
from nibbler_spark.sources.tables import TABLES, load_table, table_path

QUERIES_DIR = Path(tables.__file__).resolve().parent.parent / "queries"


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran, from the status store."""
    sc = spark.sparkContext
    group = f"test-table-schema-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _formatted(df) -> str:
    """The formatted plan with expression and exchange ids removed."""
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    text = qe.explainString(mode.fromString("formatted"))
    return re.sub(r"#\d+L?|\[plan_id=\d+\]", "", text)


def _write(path: Path, table: pa.Table) -> None:
    """Write through a temp file and a rename, as a regenerated fixture is."""
    tmp = path.with_name(path.name + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


@pytest.mark.parametrize("name", ["lineitem", "events"])
def test_second_load_runs_no_spark_job(spark, sf_dir, name):
    load_table(spark, sf_dir, name)
    df, jobs = _jobs(spark, lambda: load_table(spark, sf_dir, name))
    assert jobs == 0
    assert df.columns


@pytest.mark.parametrize("row", ["q1_pricing_summary", "ext_resample_ffill"])
def test_schema_and_plan_match_an_uncached_read(spark, sf_dir, row, monkeypatch):
    spec = load_all()[row]
    cached = spec.spark(spark, sf_dir)
    with monkeypatch.context() as m:
        m.setattr(tables, "_read_parquet", lambda s, path: s.read.parquet(path))
        plain = spec.spark(spark, sf_dir)
    assert cached.schema == plain.schema
    got, want = _formatted(cached), _formatted(plain)
    assert "ReadSchema" in want and "PushedFilters" in want
    assert got == want


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_table_is_read_again(spark, sf_dir, tmp_path, layout):
    path = Path(table_path(str(tmp_path), "region"))
    if layout == "directory":
        path.mkdir()
        path = path / "part-0.parquet"
    shutil.copyfile(table_path(sf_dir, "region"), path)
    before = load_table(spark, str(tmp_path), "region")
    assert "r_extra" not in before.columns
    original = pq.read_table(path)
    _write(path, original.append_column("r_extra", pa.array([7] * original.num_rows)))
    after = load_table(spark, str(tmp_path), "region")
    assert after.columns == before.columns + ["r_extra"]
    assert {r.r_extra for r in after.select("r_extra").collect()} == {7}


def test_inference_conf_flip_is_read_again(spark, tmp_path):
    _write(
        Path(table_path(str(tmp_path), "region")),
        pa.table({"r_regionkey": [0, 1], "r_name": pa.array([b"a", b"b"], pa.binary())}),
    )
    key = "spark.sql.parquet.binaryAsString"
    with scoped_conf(spark, {key: "false"}):
        as_binary = load_table(spark, str(tmp_path), "region")
    with scoped_conf(spark, {key: "true"}):
        as_string = load_table(spark, str(tmp_path), "region")
        rows = as_string.orderBy("r_regionkey").collect()
    assert as_binary.schema["r_name"].dataType.typeName() == "binary"
    assert as_string.schema["r_name"].dataType.typeName() == "string"
    assert [r.r_name for r in rows] == ["a", "b"]


_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def test_loading_microsecond_events_leaves_the_nanos_conf_alone(spark, sf_dir):
    spark.conf.unset(_NANOS)
    load_table(spark, sf_dir, "events")
    assert spark.conf.get(_NANOS, None) is None


def test_second_pass_over_all_tables_runs_no_job(spark, sf_dir, monkeypatch):
    """A conf flipped by one table's read must not change the schema key
    of the tables read before it."""
    monkeypatch.setattr(tables, "_schemas", {})
    spark.conf.unset(_NANOS)
    for name in TABLES:
        load_table(spark, sf_dir, name)
    _, jobs = _jobs(spark, lambda: [load_table(spark, sf_dir, n) for n in TABLES])
    assert jobs == 0


def test_nanosecond_events_load_as_floored_microseconds(spark, tmp_path, monkeypatch):
    ns = [1704067200_123456789, 1704067201_999999999]
    pq.write_table(
        pa.table(
            {
                "event_id": [1, 2],
                "ts": pa.array(ns, pa.timestamp("ns")),
                "user_id": [7, 8],
                "event_type": ["view", "click"],
                "value": [0.5, 1.5],
                "props": ["{}", "{}"],
            }
        ),
        table_path(str(tmp_path), "events"),
    )
    spark.conf.unset(_NANOS)
    df = load_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    micros = df.orderBy("event_id").select(F.unix_micros("ts").alias("us"))
    assert [r.us for r in micros.collect()] == [n // 1000 for n in ns]
    assert spark.conf.get(_NANOS, None) is None
    # A cached call reads no footer.
    monkeypatch.setattr(tables, "_stores_nanos", None)
    assert load_table(spark, str(tmp_path), "events").schema == df.schema


def test_no_query_spells_a_fixture_path_as_an_fstring():
    """Fixture files are named by ``table_path`` only; an f-string such as
    ``f"{sf_dir}/lineitem.parquet"`` is a second spelling of the layout."""
    fixture = re.compile(r"(^|/)(%s)\.parquet\b" % "|".join(TABLES))
    found = []
    for path in sorted(QUERIES_DIR.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.JoinedStr):
                continue
            text = "".join(
                v.value if isinstance(v, ast.Constant) else "{}" for v in node.values
            )
            if fixture.search(text):
                found.append(f"{path.name}:{node.lineno}: {text}")
    assert not found, "use table_path(sf_dir, name):\n" + "\n".join(found)
