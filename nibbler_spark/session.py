"""SparkSession factory with the engine's canonical configuration.

Design for scale: AQE on (runtime join re-plan, skew split, partition
coalescing), UTC session timezone (oracle convention, FIXTURES.md §4),
Arrow-accelerated Python interop. Shuffle partitioning defaults to the
local core count but is meant to be sized to the cluster (on a real
1000-executor cluster you'd set spark.sql.shuffle.partitions to a few x
total cores, or rely on AQE coalescing from a higher initial number).
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, overrides: dict) -> Iterator[None]:
    """Set ``overrides`` on the session for the ``with`` body only.

    On exit, even when the body raises, each key goes back to the value
    it had before; a key that was unset (``conf.get(key, None)`` is
    ``None``) is unset again rather than pinned to a guessed default.
    """
    conf = spark.conf
    prior = {key: conf.get(key, None) for key in overrides}
    try:
        for key, value in overrides.items():
            conf.set(key, value)
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                conf.unset(key)
            else:
                conf.set(key, value)


def apply_session_conf(spark: SparkSession) -> SparkSession:
    """Runtime-settable conf the engine relies on, applied to an existing
    session (the driver harness owns its own SparkSession; these are the
    settings that are safe to set post-startup)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Ship ``nibbler_spark`` to executors via ``addPyFile``.

    Python-side operators (mapInPandas/pandas UDF closures) reference
    module-level helpers, so every Python *worker* must be able to import
    the package. On a real cluster that means shipping the code with the
    job; in local mode it covers a driver process whose cwd is outside
    the repo (the external harness). Zipped once per SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_nibbler_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    fd, zpath = tempfile.mkstemp(suffix=".zip", prefix="nibbler_spark_pkg_")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    # The worker that plans a Python streaming data source is sent no
    # py-file includes, only the SparkFiles dir, so it cannot import the
    # package from the zip. Every Python function carries
    # ``sc.environment`` as its workers' env, and the worker factory
    # merges its PYTHONPATH, so naming the zip there reaches that worker.
    paths = [zpath, sc.environment.get("PYTHONPATH")]
    sc.environment["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    # Local-mode executors re-fetch from the original path on dependency
    # updates, so the zip must outlive the SparkContext — clean it up at
    # interpreter exit rather than leaking it on disk.
    import atexit

    atexit.register(lambda p=zpath: os.path.exists(p) and os.unlink(p))
    sc._nibbler_pkg_shipped = True


def get_spark(
    app_name: str = "nibbler-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a local SparkSession with engine defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("NIBBLER_SHUFFLE_PARTITIONS", cpus)
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory or os.environ.get("NIBBLER_DRIVER_MEMORY", "8g"))
        # Write legacy-free parquet timestamps (µs) — matches DuckDB reads.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_session_conf(spark)
