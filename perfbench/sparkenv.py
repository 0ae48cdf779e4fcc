"""The benchmark's Spark session: built with ``nibbler_spark.session.get_spark``,
with every directory Spark writes pointed into the run's own directory, and
stopped together with its JVM."""

from __future__ import annotations

import os
import time

from common import Tracer, descendants


def cpus() -> int:
    """local[N] with N half the machine's cores (at most 8), leaving the
    other half to the Python process, its workers and the JIT compiler.
    At local[nproc] on 4 cores the query figures spread twice as wide."""
    return max(1, min(8, (os.cpu_count() or 2) // 2))


def start(ctx, tracer: Tracer, app: str, driver_memory: str):
    from nibbler_spark.session import get_spark

    local = os.path.join(ctx.run_dir, "spark-local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    with tracer.span("session.get_spark"):
        spark = get_spark(app_name=app, cpus=cpus(), driver_memory=driver_memory, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        _reap()


def _reap(timeout: float = 10.0) -> None:
    """Wait for any remaining child processes (Python workers) to end."""
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
