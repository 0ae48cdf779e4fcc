"""Property pins for the r7 online-sketch read-out assumptions and the
r7 advisory's funnel tie-ordering finding.

1. Multi-part epochs: the i47–i50 read-out (grid x emissions left join
   + max_by(value, emitted_epoch)) was only ever exercised with
   coalesce(1) slice caches — one file per epoch.  `_stage_slice` now
   preserves distinct part-file names, and an availableNow drain with
   no maxFilesPerTrigger reads every new file in ONE micro-batch, so a
   multi-part epoch must produce identical parity.  Pinned here by
   pre-building a REPARTITIONED (multi-part) slice cache for
   i50_stream_length_moments and hash-comparing against its DuckDB
   oracle.  (Under the pre-r8 staging, all but one part per epoch were
   silently dropped — this test fails on that code.)

2. Timestamp ties in the online funnel: a click and purchase at the
   SAME timestamp must not chain (batch semantics require strict
   c.t < p.t).  The r7 advisory found the online fold evaluated the
   purchase AFTER the same-group click had updated the level-3 anchor,
   reaching level 3 on ties.  Pinned with a crafted fixture where the
   tie is the only thing separating level 2 from level 3.
"""

from __future__ import annotations

import os
import tempfile

import duckdb
from pyspark.sql import functions as F

from nibbler_spark.oracle import compare
from nibbler_spark.queries import load_all

SPECS = load_all()


def test_multi_part_epoch_parity(spark, sf_dir):
    """i50 with a 2-part-per-epoch slice cache still hash-matches its
    batch oracle — the one-emission-per-epoch read-out contract does
    not depend on coalesce(1) staging."""
    import shutil

    from nibbler_spark.queries.streaming_q import _write_slices
    from nibbler_spark.sources import load_table
    from nibbler_spark.sources.tables import cached_dir, table_path

    base = tempfile.mkdtemp(prefix="nibbler-multipart-")
    tmp_sf = os.path.join(base, "sf")
    os.makedirs(tmp_sf)
    # a private sf_dir copy gives the slice cache a fresh mtime+size
    # key, so the multi-part build below cannot collide with (or be
    # shadowed by) the normal single-part cache of the shared sf_dir
    shutil.copy(
        table_path(sf_dir, "documents"),
        os.path.join(tmp_sf, "documents.parquet"),
    )

    def build_multipart(tmp: str) -> None:
        d = load_table(spark, tmp_sf, "documents")
        hi = d.agg(F.max("doc_id")).first()[0]
        t = d.select(
            F.least(
                F.lit(3), (F.col("doc_id") * 4 / (hi + 1)).cast("int")
            ).alias("epoch"),
            "lang",
            F.col("n_chars").cast("long").alias("x"),
        )
        _write_slices(t, tmp, 4, parts=2)

    cache = cached_dir(tmp_sf, "documents", "moments-slices-x4", build_multipart)
    for q in range(4):
        parts = [
            f
            for f in os.listdir(os.path.join(cache, f"slice{q}"))
            if f.endswith(".parquet")
        ]
        assert len(parts) >= 2, (
            f"slice{q} is single-part ({parts}) — the multi-part premise "
            "of this test did not materialize"
        )

    spec = SPECS["i50_stream_length_moments"]
    df = spec.spark(spark, tmp_sf)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(tmp_sf, 'documents.parquet')}')"
    )
    report = compare("i50_multipart", df, con, spec.oracle)
    con.close()
    assert report.ok, str(report)


def test_funnel_tie_click_purchase_does_not_chain(spark):
    """A user whose click and purchase share one timestamp stops at
    level 2 in BOTH the online fold and the batch oracle; a user with
    a strictly increasing chain reaches 3; a view-time click stays at
    level 1.  Run end-to-end through the registered i49 query on a
    crafted events fixture and hash-compare against its oracle."""
    base = tempfile.mkdtemp(prefix="nibbler-funneltie-")
    tmp_sf = os.path.join(base, "sf")
    os.makedirs(tmp_sf)
    t0 = "2024-01-01 00:00:00"
    rows = [
        # u1: click & purchase TIED at +10m -> level 2 (the bug gave 3)
        (1, 101, "view", t0),
        (2, 101, "click", "2024-01-01 00:10:00"),
        (3, 101, "purchase", "2024-01-01 00:10:00"),
        # u2: strict chain -> level 3
        (4, 102, "view", t0),
        (5, 102, "click", "2024-01-01 00:10:00"),
        (6, 102, "purchase", "2024-01-01 00:20:00"),
        # u3: click tied with its only view -> level 1
        (7, 103, "view", "2024-01-01 00:05:00"),
        (8, 103, "click", "2024-01-01 00:05:00"),
        # u4: view only -> level 1
        (9, 104, "view", "2024-01-01 00:15:00"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_s string"
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.parquet(os.path.join(base, "stage"))
    import shutil

    part = [
        f
        for f in os.listdir(os.path.join(base, "stage"))
        if f.endswith(".parquet")
    ][0]
    shutil.copy(
        os.path.join(base, "stage", part),
        os.path.join(tmp_sf, "events.parquet"),
    )

    spec = SPECS["i49_stream_window_funnel"]
    out = spec.spark(spark, tmp_sf)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{os.path.join(tmp_sf, 'events.parquet')}')"
    )
    report = compare("i49_tie", out, con, spec.oracle)
    con.close()
    assert report.ok, str(report)

    # and the specific tie semantics, pinned directly: at the final
    # epoch exactly one user (u2) reached level 3, two reached level 2
    final = {
        r["level"]: r["n_users"]
        for r in out.collect()
        if r["epoch"] == 3
    }
    assert final == {1: 4, 2: 2, 3: 1}, final
