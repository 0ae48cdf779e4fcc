#!/usr/bin/env python3
"""Diagnostic bench — reproduces bench.py's headline loop (same order,
same timed action) while probing session state
BETWEEN rows, to attribute the 32-core mid-bench slowdown cluster
(positions 17-21: kcore / cdc / a41 / i42, r11 VERDICT item #1).

Per row it records, to a JSONL file:
  - per-run wall times (not just the median, so bimodality is visible)
  - JVM GC time/count delta across the row (ManagementFactory beans)
  - JVM heap used after the row
  - live Python worker process count (pyspark.daemon / worker children)
  - spark local-dir (blockmgr) bytes + file count
  - nibbler-* entry count under the temp root (fixture/scratch debris)

``pos`` is the row's position in bench.py's headline list, also when
``--rows`` picks a subset; the GC deltas cover the timed samples only.

Usage: SPARK_GRAFT_CPUS=32 python tools/bench_diag.py [--runs N]
       [--rows name1,name2,...] [--out FILE]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from bench import HEADLINE, RUNS, SF_DIR  # noqa: E402


def _py_worker_count() -> int:
    try:
        out = subprocess.run(
            ["ps", "-eo", "cmd"], capture_output=True, text=True, timeout=10
        ).stdout
    except Exception:
        return -1
    return sum(
        1
        for line in out.splitlines()
        if "pyspark.daemon" in line or "pyspark.worker" in line
    )


def _local_dir_stats(spark) -> tuple[int, int]:
    """(bytes, files) across the context's blockmgr/spark local dirs."""
    try:
        root = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get() \
            .blockManager().diskBlockManager().localDirs()
        dirs = [str(root[i].getAbsolutePath()) for i in range(len(root))]
    except Exception:
        dirs = glob.glob("/tmp/blockmgr-*")
    total = 0
    files = 0
    for d in dirs:
        for dirpath, _, names in os.walk(d):
            for f in names:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                    files += 1
                except OSError:
                    pass
    return total, files


def _gc_stats(spark) -> tuple[float, int]:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    t = 0.0
    c = 0
    for i in range(beans.size()):
        b = beans.get(i)
        # -1 marks a collector that does not report the value
        t += max(b.getCollectionTime(), 0) / 1000.0
        c += max(b.getCollectionCount(), 0)
    return t, c


def _heap_used(spark) -> int:
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=RUNS)
    ap.add_argument("--rows", type=str, default="")
    ap.add_argument("--out", type=str, default="/tmp/bench_diag.jsonl")
    args = ap.parse_args()

    from nibbler_spark.queries import load_all
    from nibbler_spark.session import get_spark
    from nibbler_spark.sources import load_table

    rows = (
        [n.strip() for n in args.rows.split(",") if n.strip()]
        if args.rows
        else HEADLINE
    )
    specs = load_all()
    unknown = [n for n in rows if n not in specs]
    if unknown:
        sys.exit(f"unknown row(s): {', '.join(unknown)}")
    spark = get_spark(app_name="nibbler-spark-bench-diag")
    load_table(spark, SF_DIR, "lineitem").count()

    out = open(args.out, "w")
    for i, name in enumerate(rows):
        spec = specs[name]
        pre_workers = _py_worker_count()
        pre_bytes, pre_files = _local_dir_stats(spark)
        spec.spark(spark, SF_DIR).collect()  # warm-up (untimed)
        samples = []
        gc_t0, gc_c0 = _gc_stats(spark)
        for _ in range(args.runs):
            t0 = time.monotonic()
            spec.spark(spark, SF_DIR).collect()
            samples.append(round(time.monotonic() - t0, 4))
        gc_t1, gc_c1 = _gc_stats(spark)
        rec = {
            "pos": HEADLINE.index(name) if name in HEADLINE else i,
            "name": name,
            "median": round(statistics.median(samples), 4),
            "samples": samples,
            "gc_time_delta_s": round(gc_t1 - gc_t0, 3),
            "gc_count_delta": gc_c1 - gc_c0,
            "heap_used_mb": _heap_used(spark) // (1024 * 1024),
            "py_workers_pre": pre_workers,
            "py_workers_post": _py_worker_count(),
            "blockmgr_mb_pre": pre_bytes // (1024 * 1024),
            "blockmgr_files_pre": pre_files,
            "tmp_nibbler_dirs": len(
                glob.glob(os.path.join(tempfile.gettempdir(), "nibbler-*"))
            ),
        }
        out.write(json.dumps(rec) + "\n")
        out.flush()
        print(json.dumps(rec), flush=True)
    out.close()


if __name__ == "__main__":
    main()
