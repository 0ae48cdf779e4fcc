"""Simulate the external driver: plain SparkSession (no UTC/AQE pinning),
__spark_entry__ contract, full oracle sweep at sf0.01.

Usage:
    python tools/drive_contract.py                 # full sweep
    python tools/drive_contract.py name1 name2     # subset by name
    python tools/drive_contract.py --sample 50 --seed 7 \
        [--record CORRECTNESS_SELF_r7.json]        # rotating sample

--sample N --seed R (r6 verdict #8): deterministically sample N query
names (md5-keyed by seed, so different seeds rotate through the whole
surface) and optionally --record the results in the external driver's
exact CORRECTNESS_r*.json format — per-query rows_match / schema_match /
hash_match / spark_rows / oracle_rows / err.

Like the external driver, the sweep runs with its working directory
outside the repository (a fresh temp dir, removed at exit), so a Python
worker can import the package only through what ``ship_package``
shipped, not through the repository being the cwd. The script itself
can be started from any directory; ``--record`` is resolved against the
directory it was started from.
"""

import argparse
import hashlib
import json
import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import SparkSession

SF = os.environ.get("NIBBLER_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_ap = argparse.ArgumentParser()
_ap.add_argument("names", nargs="*")
_ap.add_argument("--sample", type=int, default=None)
_ap.add_argument("--seed", type=int, default=0)
_ap.add_argument("--record", default=None)
_ap.add_argument(
    "--prefer-unsampled",
    action="store_true",
    help="rank never-driver-format-sampled names first (cumulative "
    "union over CORRECTNESS_*.json — the r8 verdict #1 coverage ramp)",
)
_args = _ap.parse_args()

only = _args.names or None
record_path = os.path.abspath(_args.record) if _args.record else None
_cwd = tempfile.TemporaryDirectory(prefix="drive-contract-cwd-")
os.chdir(_cwd.name)  # before the JVM starts: its cwd is the workers' cwd

# Parallelism knobs, overridable for partition-independence sweeps:
# the hash oracle must produce identical values at ANY partition count
# (the exact-arithmetic discipline's core claim). Defaults match the
# external driver's plain session.
_CPUS = os.environ.get("NIBBLER_DRIVE_CPUS", "8")
_SHUF = os.environ.get("NIBBLER_DRIVE_SHUFFLE", "8")
spark = (
    SparkSession.builder.master(f"local[{_CPUS}]")
    .config("spark.sql.shuffle.partitions", _SHUF)
    # no progress bar: its \r-ended "[Stage N:...]" line would prefix each
    # "name: ok" status line, hiding it from a line-anchored grep
    .config("spark.ui.showConsoleProgress", "false")
    .appName("drive-driver-contract")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E

df = E.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={[f.name for f in df.schema]}")
assert len(rows) > 0

import duckdb

from nibbler_spark.oracle import compare

con = duckdb.connect()
for t in TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
    )

qs = E.queries()
oracles = E.oracle_sql()

names = sorted(qs)
if only:
    names = [n for n in names if n in only]
elif _args.sample:
    # deterministic rotating sample: rank every name by
    # md5(seed:name), take the first N — different seeds cycle
    # through the whole declared surface over successive rounds.
    # With --prefer-unsampled, names absent from the cumulative
    # driver-format union (every CORRECTNESS_*.json) sort FIRST, so
    # each round's samples close the never-sampled gap before
    # re-checking already-sampled names.
    sampled: set[str] = set()
    if _args.prefer_unsampled:
        import glob

        for f in glob.glob(str(REPO / "CORRECTNESS_*.json")):
            try:
                sampled.update(json.load(open(f)))
            except (json.JSONDecodeError, TypeError):
                pass
    names = sorted(
        names,
        key=lambda n: (
            n in sampled,
            hashlib.md5(f"{_args.seed}:{n}".encode()).hexdigest(),
        ),
    )[: _args.sample]
    names.sort()

record: dict[str, dict] = {}
mismatches = []
t0 = time.monotonic()
for name in names:
    t1 = time.monotonic()
    entry = {
        "rows_match": False,
        "schema_match": False,
        "hash_match": False,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
    }
    try:
        df = qs[name](spark, SF)
        if name in oracles:
            rep = compare(name, df, con, oracles[name])
            ok = rep.ok
            detail = "" if ok else str(rep)
            entry.update(
                rows_match=rep.spark_rows == rep.oracle_rows,
                schema_match=rep.columns_match,
                hash_match=rep.ok,
                spark_rows=rep.spark_rows,
                oracle_rows=rep.oracle_rows,
            )
        else:
            n = len(df.collect())
            ok, detail = True, f"rows-only n={n}"
            entry.update(
                rows_match=True,
                schema_match=True,
                hash_match=True,
                spark_rows=n,
                oracle_rows=None,
            )
    except Exception as exc:  # noqa: BLE001
        ok, detail = False, f"EXC {type(exc).__name__}: {exc}"
        entry["err"] = f"{type(exc).__name__}: {exc}"[:300]
    dt = time.monotonic() - t1
    record[name] = entry
    status = "ok" if ok else "MISMATCH"
    print(f"{name}: {status} ({dt:.1f}s) {detail[:300]}")
    if not ok:
        mismatches.append(name)

if record_path:
    with open(record_path, "w") as fh:
        json.dump(record, fh, indent=0)
    print(f"recorded {len(record)} entries -> {record_path}")

print(f"TOTAL: {time.monotonic() - t0:.0f}s  MISMATCHES: {len(mismatches)} {mismatches}")
