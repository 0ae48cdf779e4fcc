"""Registry queries run from a host process whose working directory is
not the repository and whose ``PYTHONPATH`` is unset, as an embedding
application runs them. Spark's Python workers then import the package
only through the zip ``session.ship_package`` adds. The worker that
plans a Python streaming data source is sent no py-file includes, so
``a20`` and ``a24`` (the two queries over such a source) are the ones
that need the zip named on the workers' ``PYTHONPATH``."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
_QUERIES = ("a20_avro_stream_source", "a24_snapshot_stream_source")


def test_python_stream_sources_match_the_oracle_from_another_cwd(sf_dir, tmp_path):
    host = tmp_path / "host"
    tmp = tmp_path / "tmp"
    host.mkdir()
    tmp.mkdir()
    code = f"""
import json, sys
sys.path.insert(0, {_REPO!r})
from pyspark.sql import SparkSession
from nibbler_spark.oracle import compare, make_duckdb
from nibbler_spark.queries import load_all

spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
con = make_duckdb({sf_dir!r})
out = {{}}
for name in {_QUERIES!r}:
    spec = load_all()[name]
    try:
        rep = compare(name, spec.spark(spark, {sf_dir!r}), con, spec.oracle)
        out[name] = "ok" if rep.ok else str(rep)[:500]
    except Exception as exc:
        out[name] = f"{{type(exc).__name__}}: {{str(exc)[:500]}}"
spark.stop()
print("RESULT:" + json.dumps(out))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp)
    proc = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        cwd=host,
        capture_output=True,
        text=True,
        timeout=600,
    )
    line = next(
        (ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT:")), None
    )
    assert line is not None, proc.stderr[-2000:]
    assert json.loads(line[len("RESULT:") :]) == {name: "ok" for name in _QUERIES}
