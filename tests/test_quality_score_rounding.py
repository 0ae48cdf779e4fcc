"""``ext_quality_score`` rounds its score the way its DuckDB oracle does.

DuckDB's ``ROUND(x, 4)`` rounds the scaled double; Spark's
``round(x, 4)`` rounds the double's decimal string half-up. The two land
on opposite sides for the two sf0.1 documents below, which are copied
here as one-row-each fixtures.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from nibbler_spark.oracle import compare
from nibbler_spark.queries import load_all

_DOCS = [
    (
        720,
        "fast stream spark big filter spark filter batch vector batch small "
        "key stream big column sort data merge filter line customer big scan "
        "customer row customer scan batch join fast the hash the slow merge "
        "key table a batch value fast scan table column group part query scan "
        "order agg fast data hash window order data stream query customer "
        "line filter part filter query",
        "src0",
    ),
    (
        1747,
        "stream customer agg fast filter slow data query scan order window "
        "column value order part filter stream table spark spark order stream "
        "the scan agg agg table order row stream a stream",
        "src7",
    ),
]


def test_quality_score_rounds_like_duckdb(spark, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    path = sf / "documents.parquet"
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d for d, _, _ in _DOCS], pa.int64()),
            "text": [t for _, t, _ in _DOCS],
            "lang": ["en"] * len(_DOCS),
            "source": [s for _, _, s in _DOCS],
            "n_chars": pa.array([len(t) for _, t, _ in _DOCS], pa.int64()),
        }),
        path,
    )
    spec = load_all()["ext_quality_score"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )
    try:
        report = compare(spec.name, spec.spark(spark, str(sf)), con, spec.oracle)
    finally:
        con.close()
    assert report.ok, str(report)
