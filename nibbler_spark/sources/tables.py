"""Batch table sources over the driver-generated parquet testdata.

Tables and schemas per FIXTURES.md §1 (TPC-H-ish star schema + events /
documents / embeddings). At 100 TB these would be partitioned/bucketed
tables in a metastore; the loader stays a thin seam so the path→catalog
swap is one function.

What a catalog would keep, the loader keeps itself: each table file's
Spark schema. Reading a parquet path without a schema makes Spark run a
schema-inference job (``mergeSchemasInParallel``) over a footer that has
not changed, on every call. ``_read_parquet`` infers it once per version
of the file and per set of inference confs (see ``_SCHEMA_CONFS``) and
builds every scan with ``spark.read.schema(...)``, which runs no job.
Only the schema is kept, one entry per path: no rows, no files, and a
rewritten file or a flipped conf infers again.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from nibbler_spark.session import scoped_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that are always broadcast-joinable. At 100 TB the
# fact tables (lineitem/orders/events/documents/embeddings) scale with the
# data; these stay dimension-sized.
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# The session confs that change the schema Spark infers from a parquet
# footer; their values are part of the cache key.
_SCHEMA_CONFS = (
    _NANOS_AS_LONG,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)

# real path -> ((file version, conf values), inferred schema). One map for
# the process: a schema depends only on the file and the confs in its key,
# not on the session. Two threads that miss at once both infer, and the
# map keeps one of their equal results.
_schemas: dict[str, tuple[tuple, StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _version(path: str) -> tuple:
    """``(st_ino, st_size, st_mtime_ns)`` of a file, or of every entry
    under it, with its name, if the table is a directory."""
    if os.path.isdir(path):
        return tuple(
            (e, _version(os.path.join(path, e))) for e in sorted(os.listdir(path))
        )
    st = os.stat(path)
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _stores_nanos(path: str) -> bool:
    """Whether the footer of ``path`` (of its first part file, if the
    table is a directory) has a TIMESTAMP(NANOS) column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if not parts:
            return False
        path = os.path.join(path, parts[0])
    return any(
        pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        for f in pq.read_schema(path)
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` through a schema inferred once per
    file version and inference confs, so the scan runs no Spark job.

    Spark 4 rejects a TIMESTAMP(NANOS) column when it infers a schema,
    so on a miss a file that has one is inferred with the legacy
    nanos-as-long conf held for the inference only; the column reads as
    int64 nanos, and a scan built from that schema needs no conf."""
    real = os.path.realpath(path)
    key = (_version(real), tuple(spark.conf.get(c) for c in _SCHEMA_CONFS))
    hit = _schemas.get(real)
    if hit is None or hit[0] != key:
        nanos = {_NANOS_AS_LONG: "true"} if _stores_nanos(real) else {}
        with scoped_conf(spark, nanos):
            schema = spark.read.parquet(path).schema
        hit = _schemas[real] = (key, schema)
    return spark.read.schema(hit[1]).parquet(path)


def cached_dir(sf_dir: str, table: str, kind: str, build) -> str:
    """Crash-safe cached materialization of a derived on-disk layout
    (file-drop streaming dirs, persisted index cells).

    The r2 advisory flagged the old ``_READY``-marker pattern: a crash
    between the parquet write and the marker left a partial dir that a
    rerun APPENDED a second full copy into, and regenerated testdata
    under the same basename silently served stale caches. Here ``build``
    writes into a private temp dir that is atomically ``os.rename``d
    into place (same tmpfs ⇒ atomic; a lost race discards the loser's
    tmp), and the cache key includes the source table's mtime+size so
    new testdata can never alias an old cache."""
    import shutil
    import tempfile
    import uuid

    try:
        st = os.stat(table_path(sf_dir, table))
        stamp = f"{int(st.st_mtime)}-{st.st_size}"
    except OSError:
        stamp = "nosrc"
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    final = os.path.join(
        tempfile.gettempdir(), f"nibbler-{kind}-{tag}-{stamp}"
    )
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp.{uuid.uuid4().hex[:8]}"
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:
        # Lost a concurrent race — the winner's dir is complete.
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet batch scan (SURVEY §2.3 A1). Declarative read — Catalyst
    handles predicate pushdown / column pruning into the scan.

    ``events.ts`` has shipped both as TIMESTAMP(NANOS) (which Spark 4
    rejects outright — ``_read_parquet`` reads it as int64 nanos, here
    floor-truncated to microseconds, matching DuckDB's truncation) and
    as a native µs timestamp; the shim keys off the actual column type so
    either vintage of the testdata loads to the same µs-timestamp schema.

    Both branches read through ``_read_parquet``: the file's schema is
    inferred on the first call (one Spark job) and kept for that file
    version and those inference confs, so later calls build the scan
    from it without a job. Plans are the same as an uncached read's.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        df = _read_parquet(spark, table_path(sf_dir, name))
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # Newer testdata writes µs TIMESTAMP_NTZ; everything downstream
        # (window ranges, unix_timestamp, session windows) expects plain
        # TIMESTAMP. Session tz is UTC, so the cast is numerically a no-op.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    return _read_parquet(spark, table_path(sf_dir, name))


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
